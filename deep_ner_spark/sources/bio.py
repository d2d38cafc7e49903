"""BIO/CoNLL source + sink (SURVEY S9/S10: utils.py:875-970, 1007-1061).

Input: token-per-line files ``token [pos [chunk]] BIO-label`` with blank
lines between sentences and optional paragraph-separator tokens
(``-DOCSTART-``).  The loader rebuilds each unit's text with the
reference's punctuation-aware detokenizer (closing punctuation attaches
without a space, ``%`` attaches after a digit, ``'`` doubles up) and
derives entity char spans from the B-/I- runs.

Spark shape: ``spark.read.text`` -> gap-based unit grouping (a global
running sum of the boundary flag over line numbers, the W4 pattern at char
scale) -> per-unit ``applyInPandas`` detokenization (W7 is
order-dependent *within* a unit — it stays inside one group call, units
parallelize freely).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Set, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deep_ner_spark.obs import named
from deep_ner_spark.operators.windows import number_units, running_sum

_CLOSING = {")", "}", "]", ">", ".", ",", "?", ":", ";"}


def append_token(text: str, token: str) -> str:
    """Punctuation-aware detokenizer step (utils.py:928-945)."""
    if token.isalnum():
        return token if not text else text + " " + token
    if token in _CLOSING:
        return text + token
    if token == "%" and text and text[-1].isdigit():
        return text + token
    if token == "'" and text.endswith("'"):
        return text + token
    return token if not text else text + " " + token


def assemble_bio_unit(
    tokens: List[str], labels: List[str]
) -> Tuple[str, List[Tuple[str, int, int]]]:
    """(text, [(ne_type, start, end)]) for one sentence/paragraph unit.

    Entity closes before the incoming O/B token is appended (its end is the
    text length so far); B sets start at rfind of the just-appended token
    (utils.py:946-948).
    """
    text = ""
    spans: List[Tuple[str, int, int]] = []
    start, typ = -1, ""
    for token, label in zip(tokens, labels):
        if start >= 0 and (label == "O" or label.startswith("B-")):
            spans.append((typ, start, len(text)))
            start, typ = -1, ""
        text = append_token(text, token)
        if label.startswith("B-"):
            start, typ = text.rfind(token), label[2:]
    if start >= 0:
        spans.append((typ, start, len(text)))
    return text, spans


_UNIT_SCHEMA = T.StructType(
    [
        T.StructField("unit_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ne_type", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
    ]
)


@named("bio.load")
def load_bio_dataset(
    spark: SparkSession,
    path: str,
    paragraph_separators: Optional[Set[str]] = None,
    stopwords: Optional[Set[str]] = None,
) -> Tuple[DataFrame, DataFrame]:
    """Returns (units, spans).

    units: (sample_id long, text string); spans: (sample_id, ne_type,
    start, end).  Unit boundaries: blank lines when no separators are
    given, else separator-token lines (blank lines pass through then),
    matching utils.py:901-916/950-962; empty units are dropped.
    Invalid label lines raise, like the reference (via a validation count).
    """
    seps = paragraph_separators or set()
    stops = stopwords or set()

    lines = spark.read.text(path).withColumn(
        "line_no", F.monotonically_increasing_id()
    )
    parsed = lines.select(
        "line_no",
        F.trim(F.col("value")).alias("line"),
    ).withColumn(
        "token", F.split("line", r"\s+").getItem(0)
    ).withColumn(
        "label", F.element_at(F.split("line", r"\s+"), -1)
    )

    # validation (utils.py:889-900): non-blank lines need >=2 fields and a
    # legal label — label.isupper() (no lowercase; digits/underscores fine,
    # so 'B-LOC1' and 'B-ORG_X' are legal), 'O' or a B-/I- prefix, and
    # len >= 3 for non-O.  (isupper's >=1-cased-char clause is implied by
    # the O/B/I prefix.)
    label_ok = (F.col("label") == F.upper("label")) & (
        (F.col("label") == "O")
        | (
            (F.col("label").startswith("B-") | F.col("label").startswith("I-"))
            & (F.length("label") >= 3)
        )
    )
    bad = parsed.where(
        (F.length("line") > 0)
        & ((F.size(F.split("line", r"\s+")) < 2) | ~label_ok)
    )
    n_bad = bad.count()
    if n_bad:
        example = bad.select("line").first()["line"]
        raise ValueError(f"{n_bad} invalid BIO line(s), e.g. {example!r}")

    if seps:
        boundary = F.col("token").isin(list(seps))
    else:
        boundary = F.length("line") == 0
    grouped = running_sum(
        parsed, ["line_no"], boundary.cast("int"), "unit_id"
    ).where((F.length("line") > 0) & ~F.col("token").isin(list(seps | stops)))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("line_no")
        text, spans = assemble_bio_unit(list(pdf["token"]), list(pdf["label"]))
        if not text:
            return pd.DataFrame(columns=[f.name for f in _UNIT_SCHEMA.fields])
        rows = [
            {"unit_id": int(pdf["unit_id"].iloc[0]), "text": text,
             "ne_type": t, "start": s, "end": e}
            for t, s, e in spans
        ] or [
            {"unit_id": int(pdf["unit_id"].iloc[0]), "text": text,
             "ne_type": None, "start": None, "end": None}
        ]
        return pd.DataFrame(rows)

    per_unit = grouped.groupBy("unit_id").applyInPandas(run, schema=_UNIT_SCHEMA)
    units, spans = number_units(
        per_unit.select("unit_id", "text").distinct(),
        per_unit.where(F.col("ne_type").isNotNull()),
        ["unit_id"],
    )
    return units.select("sample_id", "text"), spans


@named("bio.save")
def save_bio_predictions(
    spark: SparkSession,
    source_path: str,
    units: DataFrame,
    spans: DataFrame,
    out_path: str,
    stopwords: Optional[Set[str]] = None,
) -> None:
    """BIO sink (S10): re-read the source file, align each source token to
    the predicted texts by forward substring search, append the predicted
    BIO label (char-overlap rule of utils.py:973-1004), write.

    Alignment is order-dependent across the whole file (token stream walks
    the unit texts in order), so the walk happens once on the driver over
    collected units — the sink is an output-boundary operator; unit counts
    are the corpus's, small by definition of the format.
    """
    from deep_ner_spark import textfns

    stops = stopwords or set()
    X = [r["text"] for r in units.orderBy("sample_id").collect()]
    y: List[Dict[str, List[Tuple[int, int]]]] = [dict() for _ in X]
    for r in spans.collect():
        y[r["sample_id"]].setdefault(r["ne_type"], []).append((r["start"], r["end"]))

    out_lines: List[str] = []
    sample_idx, char_idx = 0, 0
    is_new_line, text_ended = True, False
    with open(source_path, encoding="utf-8", errors="ignore") as fp:
        for raw in fp:
            line = raw.strip()
            if not line:
                if not is_new_line:
                    out_lines.append("")
                is_new_line, text_ended = True, False
                continue
            is_new_line = False
            parts = line.split()
            token = parts[0]
            if token in stops or text_ended:
                out_lines.append(" ".join(parts + ["O"]))
                continue
            found = X[sample_idx].find(token, char_idx)
            if found < 0:
                if sample_idx < len(X) - 1:
                    nxt = X[sample_idx + 1].find(token)
                    if nxt < 0:
                        text_ended = True  # label computed at stale offset,
                        # exactly like utils.py:1036-1040
                    else:
                        sample_idx += 1
                        char_idx = nxt
                else:
                    raise ValueError(
                        f"Token {token!r} cannot be found in the text "
                        f"{X[sample_idx]!r}"
                    )
            else:
                char_idx = found
            label = textfns.bio_label_of_token(
                X[sample_idx], (char_idx, char_idx + len(token)), y[sample_idx]
            )
            out_lines.append(" ".join(parts + [label]))
            char_idx += len(token)
    with open(out_path, "w", encoding="utf-8") as fp:
        fp.write("\n".join(out_lines) + "\n")
