"""Column expressions + Arrow/pandas UDFs for the text path.

Design rule (BASELINE.json input_hint): *no per-row Python*.  Everything
here is either a JVM-side built-in column expression (preferred — stays in
whole-stage codegen) or an Arrow-batched ``pandas_udf``.  Tokenize + char
bounds is not here: it runs in the ``mapInArrow`` chunk tokenizer of
``operators/features.py`` (``tokenize_chunk``), one regex split per chunk
of turns, shared by ``tokenize_turns`` and the featurize kernel.
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


def tokens_col(text: Column | str) -> Column:
    r"""Whitespace tokens: split on runs of Java ``\s`` (``[ \t\n\x0B\f\r]``),
    empty tokens dropped; a null text gives a null array.

    This is the reference's ``str.split()`` (elmo_ner.py:408-415) on ASCII
    whitespace: edge or doubled whitespace never yields a token.  The
    DuckDB twins spell the same list once, as ``_WS_TOKENS`` in
    ``__spark_entry__.py``.
    """
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def word_token_count_col(col: Column) -> Column:
    """JVM-side ``len(textfns.tokenize(normalize_text(text)))``.

    Normalization never changes the count (dashes stay punctuation,
    whitespace stays whitespace), so it runs on the raw text.
    """
    return F.regexp_count(col, F.lit(JVM_TOKEN))


@pandas_udf(T.StringType())
def shape_udf(tokens: pd.Series) -> pd.Series:
    """token -> shape string (full reference semantics, lru-cached)."""
    return tokens.map(lambda t: textfns.shape_of_string(t) if t is not None else None)

