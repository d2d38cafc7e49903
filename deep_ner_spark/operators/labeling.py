"""Entity labeling: tokens of a turn get the BIO labels of the entity
spans that overlap them (SURVEY J1), with the exact char-paint/majority/BIO
semantics of the reference.

:func:`label_tokens_colocated` colocates the entities and tokens of one
turn (a single groupBy on the turn key) and runs the reference semantics
(char paint -> per-token majority -> BIO ints; elmo_ner.py:1026-1064)
vectorized in NumPy inside one Arrow pass.  One shuffle (group spans to
turns); no interval join at table scope.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deep_ner_spark import textfns

_LABELS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("labels", T.ArrayType(T.IntegerType())),
    ]
)


def label_tokens_colocated(
    tokenized_turns: DataFrame,
    entity_spans: DataFrame,
    classes_list: Sequence[str],
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Per-turn BIO integer labels with exact reference semantics.

    ``tokenized_turns``: output of tokenize_turns (needs starts/ends arrays +
    norm_text).  ``entity_spans``: long-form (key..., ne_type, start, end).
    Returns (key..., labels: array<int>) — one label per token, reference
    codec (B=2k / I=2k-1 / O=0).
    """
    if tuple(key_cols) != ("conv_id", "turn_idx"):
        raise ValueError("label_tokens_colocated currently keys on (conv_id, turn_idx)")
    classes = tuple(classes_list)
    spans_grouped = entity_spans.groupBy(*key_cols).agg(
        F.collect_list(F.struct("ne_type", "start", "end")).alias("spans")
    )
    joined = tokenized_turns.select(
        *key_cols, "norm_text", "starts", "ends"
    ).join(spans_grouped, on=list(key_cols), how="left")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out_labels = []
        # column zip, not iterrows: avoids per-row Series construction
        for starts, ends, spans, norm_text in zip(
            pdf["starts"], pdf["ends"], pdf["spans"], pdf["norm_text"]
        ):
            bounds = list(zip(starts, ends))
            if spans is None or (isinstance(spans, float) and pd.isna(spans)):
                out_labels.append([0] * len(bounds))
                continue
            ner: dict = {}
            for s in spans:
                ner.setdefault(s["ne_type"], []).append((int(s["start"]), int(s["end"])))
            text_len = len(norm_text)
            paint, inst_to_class = textfns.paint_entity_chars(text_len, classes, ner)
            labels = textfns.token_labels(bounds, paint, inst_to_class, len(bounds))
            out_labels.append([int(x) for x in labels])
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"],
                "turn_idx": pdf["turn_idx"],
                "labels": out_labels,
            }
        )

    # mapInPandas-style group map: one turn per row already, so this is a
    # narrow Arrow pass — applyInPandas is unnecessary; groupBy happened
    # upstream in spans_grouped only.
    return joined.mapInPandas(
        lambda it: (run(pdf) for pdf in it), schema=_LABELS_SCHEMA
    )

