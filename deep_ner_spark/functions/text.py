"""Column expressions + Arrow/pandas UDFs for the text path.

Design rule (BASELINE.json input_hint): *no per-row Python*.  Everything
here is either a JVM-side built-in column expression (preferred — stays in
whole-stage codegen) or an Arrow-batched ``pandas_udf``.  Order-dependent
work (tokenize + char bounds) lives inside one UDF call per turn, so it is
embarrassingly parallel across turns and never crosses rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from deep_ner_spark import textfns

# --- normalization: pure built-ins (JVM, codegen'd) --------------------------

_DASHES_TO = "-" * len(textfns.DASH_VARIANTS)

# Java regex classes equal to Python's ``re`` classes on str.  Java's
# ``(?U)\w`` also takes combining marks, connector punctuation and ZWJ/ZWNJ
# and leaves out No digits such as '²'; Python's ``\w`` is exactly
# letters, numbers and '_'.  Java's ``(?U)\s`` is Unicode White_Space,
# which lacks the \x1c-\x1f separators that Python's ``\s`` includes.
# tests/test_spark_text.py pins both over every assigned BMP code point.
_W = r"\p{L}\p{N}_"
_S = r"\s\x1c-\x1f"
JVM_SPACE = rf"(?U)[{_S}]"
# textfns._TOKEN_RE, ``\w+|[^\w\s]``, with the classes above
JVM_TOKEN = rf"(?U)[{_W}]+|[^{_W}{_S}]"


def normalize_text_col(col: Column) -> Column:
    """JVM-side equivalent of textfns.normalize_text (utils.py:1174-1182).

    Equality with the Python function is pinned by tests/test_spark_text.py.
    Length-preserving (1 char -> 1 char), so downstream char offsets hold.
    """
    return F.regexp_replace(
        F.translate(col, textfns.DASH_VARIANTS, _DASHES_TO), JVM_SPACE, " "
    )


def word_token_count_col(col: Column) -> Column:
    """JVM-side ``len(textfns.tokenize(normalize_text(text)))``.

    Normalization never changes the count (dashes stay punctuation,
    whitespace stays whitespace), so it runs on the raw text.
    """
    return F.regexp_count(col, F.lit(JVM_TOKEN))


def shape_col_sql(col: Column) -> Column:
    """Built-in-only token shape for ASCII-ish tokens.

    A JVM-side fallback of textfns.shape_of_string restricted to the Latin-1
    range (classify via translate chains, collapse runs via regexp).  The
    pandas UDF below is the full-Unicode authority; tests assert the two
    agree on the common subset.
    """
    upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    lower = upper.lower()
    digits = "0123456789"
    punct = ".,:;+!?#@$&=^`~*/\\()[]{}|<>" + "'" + '"' + "-"
    # NB: reference classifies ASCII '-' and quotes as P (elmo_ner.py:1078-1080)
    classified = F.translate(
        col,
        upper + lower + digits + punct,
        "A" * 26 + "a" * 26 + "D" * 10 + "P" * len(punct),
    )
    return F.regexp_replace(classified, r"(.)\1+", "$1")


# --- tokenizer UDF: one call per turn, struct of aligned arrays --------------

TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("starts", T.ArrayType(T.IntegerType())),
        T.StructField("ends", T.ArrayType(T.IntegerType())),
        T.StructField("shapes", T.ArrayType(T.StringType())),
        T.StructField("pos", T.ArrayType(T.StringType())),
        T.StructField("dep", T.ArrayType(T.StringType())),
    ]
)


@pandas_udf(TOKENS_SCHEMA)
def tokenize_struct_udf(texts: pd.Series) -> pd.DataFrame:
    """normalized text -> aligned token arrays (token, bounds, shape, pos, dep).

    Mirrors the per-text section of tokenize_all (elmo_ner.py:398-437) with
    the pinned tokenizer; bounds come from the same scan so the forward
    substring search of calculate_bounds_of_tokens (elmo_ner.py:952-963) is
    reproduced by construction.
    """
    tokens_out, starts_out, ends_out = [], [], []
    shapes_out, pos_out, dep_out = [], [], []
    for text in texts:
        if text is None:
            text = ""
        triples = textfns.tokenize_with_bounds(text)
        toks = [t for t, _, _ in triples]
        tags = [textfns.heuristic_pos_dep(t, i) for i, t in enumerate(toks)]
        tokens_out.append(toks)
        starts_out.append([s for _, s, _ in triples])
        ends_out.append([e for _, _, e in triples])
        shapes_out.append([textfns.shape_of_string(t) for t in toks])
        pos_out.append([p for p, _ in tags])
        dep_out.append([d for _, d in tags])
    return pd.DataFrame(
        {
            "tokens": tokens_out,
            "starts": starts_out,
            "ends": ends_out,
            "shapes": shapes_out,
            "pos": pos_out,
            "dep": dep_out,
        }
    )


_TAGGED_SCHEMA = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("pos", T.ArrayType(T.StringType())),
        T.StructField("dep", T.ArrayType(T.StringType())),
    ]
)


def udpipe_tagger_udf(lang: str | None = None, strict: bool = False):
    """Arrow-batched ``text -> struct(tokens, pos, dep)`` UDF factory.

    The documented adapter over the §2.10 tagger seam
    (:func:`textfns.make_text_tagger`): real UDPipe tags when ``lang`` is
    given AND spacy-udpipe is importable on the executors (pipeline loaded
    lazily once per Python worker, inside the first batch), else the
    pinned deterministic heuristic.  ``strict=True`` makes a missing
    spacy-udpipe an executor-side ImportError instead of a silent
    heuristic fallback.  Token alignment follows the reference
    (elmo_ner.py:402-415): with UDPipe the TOKENS THEMSELVES come from the
    UDPipe tokenization, not the in-repo tokenizer.
    """

    @pandas_udf(_TAGGED_SCHEMA)
    def tag(texts: pd.Series) -> pd.DataFrame:
        tagger = textfns.make_text_tagger(lang, strict=strict)
        tokens_out, pos_out, dep_out = [], [], []
        for text in texts:
            toks, pos, dep = tagger("" if text is None else text)
            tokens_out.append(toks)
            pos_out.append(pos)
            dep_out.append(dep)
        return pd.DataFrame(
            {"tokens": tokens_out, "pos": pos_out, "dep": dep_out}
        )

    return tag


@pandas_udf(T.StringType())
def shape_udf(tokens: pd.Series) -> pd.Series:
    """token -> shape string (full reference semantics, lru-cached)."""
    return tokens.map(lambda t: textfns.shape_of_string(t) if t is not None else None)

