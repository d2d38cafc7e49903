"""Sentence division with entity-straddle merge (SURVEY W4 text variant;
utils.py:1064-1171 divide_dataset_by_sentences).

Semantics: tokenize each unit into sentences (pluggable function, pinned
regex default — the reference takes nltk's sent_tokenize as an injectable
parameter, §2.10); locate each sentence by forward substring search; an
entity overlapping several sentences MERGES them into one unit; entities
re-base to their sentence's start, clipping to the sentence bounds when
the entity starts before / ends after (the reference's exact branch
ladder).  Entities per (sentence, type) are sorted.

Spark shape: the per-unit algorithm is order-dependent within one unit ->
cogrouped ``applyInPandas`` over (unit x its spans); units parallelize.
"""

from __future__ import annotations

import re
from typing import Callable, Dict, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deep_ner_spark.obs import named
from deep_ner_spark.operators.windows import number_units

_SENT_RE = re.compile(r"[^.!?…]*[.!?…]+(?:\s+|$)|[^.!?…]+$")


def default_sent_tokenize(text: str) -> List[str]:
    """Pinned deterministic sentence splitter (nltk stand-in)."""
    return [m.group(0).strip() for m in _SENT_RE.finditer(text) if m.group(0).strip()]


def divide_unit_by_sentences(
    text: str,
    entities: Dict[str, List[Tuple[int, int]]],
    sent_tokenize_func: Callable[[str], List[str]] = default_sent_tokenize,
) -> List[Tuple[str, Dict[str, List[Tuple[int, int]]]]]:
    """Pure per-unit core -> [(sentence_text, rebased entities)]."""
    sentences = sent_tokenize_func(text)
    bounds: List[Tuple[int, int]] = []
    pos = 0
    for sent in sentences:
        found = text.find(sent, pos)
        if found < 0:
            raise ValueError(f"The text {text!r} cannot be tokenized by sentences!")
        bounds.append((found, found + len(sent)))
        pos = found + len(sent)

    def owning_sentence(ent_start: int) -> int:
        best, best_d = -1, None
        for i, (s0, s1) in enumerate(bounds):
            if s0 <= ent_start < s1:
                return i
            if ent_start < s0:
                d = s0 - ent_start
                if best_d is None or d < best_d:
                    best_d, best = d, i
        return best

    # pass 1: merge sentences an entity straddles
    for ne_type in sorted(entities):
        for es, ee in entities[ne_type]:
            first = owning_sentence(es)
            if first < 0:
                raise ValueError(
                    f"The `{ne_type}` entity with bounds {(es, ee)} cannot be "
                    "found in the sentence list!"
                )
            last = first + 1
            while last < len(bounds) and bounds[last][0] < ee:
                last += 1
            merged = (bounds[first][0], bounds[last - 1][1])
            del bounds[first + 1:last]
            bounds[first] = merged

    # pass 2: assign + clip + rebase
    out_ents: List[Dict[str, List[Tuple[int, int]]]] = [dict() for _ in bounds]
    for ne_type in sorted(entities):
        for es, ee in entities[ne_type]:
            i = owning_sentence(es)
            if i < 0:
                raise ValueError(
                    f"The `{ne_type}` entity with bounds {(es, ee)} cannot be "
                    "found in the sentence list!"
                )
            s0, s1 = bounds[i]
            ns, ne = max(es, s0), min(ee, s1)
            out_ents[i].setdefault(ne_type, []).append((ns - s0, ne - s0))
    for d in out_ents:
        for k in d:
            d[k].sort()
    return [
        (text[s0:s1], out_ents[i]) for i, (s0, s1) in enumerate(bounds)
    ]


_OUT_SCHEMA = T.StructType(
    [
        T.StructField("unit_id", T.LongType()),
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ne_type", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
    ]
)


@named("segment.divide")
def divide_units_by_sentences(
    units: DataFrame,
    spans: DataFrame,
    sent_tokenize_func: Callable[[str], List[str]] = default_sent_tokenize,
) -> Tuple[DataFrame, DataFrame]:
    """(units, spans) -> sentence-level (units, spans); new sample ids are
    dense in (old sample, sentence) order."""
    def run(key, unit_pdf: pd.DataFrame, span_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(unit_pdf):
            return pd.DataFrame(columns=[f.name for f in _OUT_SCHEMA.fields])
        sample_id = int(key[0])
        text = unit_pdf["text"].iloc[0]
        ents: Dict[str, List[Tuple[int, int]]] = {}
        for _, r in span_pdf.iterrows():
            ents.setdefault(r["ne_type"], []).append((int(r["start"]), int(r["end"])))
        rows = []
        for si, (stext, sents) in enumerate(
            divide_unit_by_sentences(text, ents, sent_tokenize_func)
        ):
            flat = [(t, a, b) for t in sents for a, b in sents[t]]
            if not flat:
                rows.append((sample_id, si, stext, None, None, None))
            for t, a, b in flat:
                rows.append((sample_id, si, stext, t, a, b))
        return pd.DataFrame(rows, columns=[f.name for f in _OUT_SCHEMA.fields])

    per_sent = (
        units.select("sample_id", "text")
        .groupBy("sample_id")
        .cogroup(spans.groupBy("sample_id"))
        .applyInPandas(run, schema=_OUT_SCHEMA)
    )
    new_units, new_spans = number_units(
        per_sent.select("unit_id", "sent_idx", "text").distinct(),
        per_sent.where(F.col("ne_type").isNotNull()),
        ["unit_id", "sent_idx"],
    )
    return new_units.select("sample_id", "text"), new_spans
