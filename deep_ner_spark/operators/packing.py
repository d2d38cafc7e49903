"""Sequence packing: assign documents to fixed-token-budget training
sequences (next-fit bin packing), the standard pre-training step that turns
a ragged corpus into dense max_len sequences.

Semantics (deterministic at any parallelism):

* documents are sharded by ``doc_id % n_shards`` and packed independently
  per shard in ``doc_id`` order — the global layout is a pure function of
  the input, so reruns, resumed backfills, and different cluster sizes
  produce byte-identical packings;
* next-fit: a document goes into the current bin if it fits entirely,
  otherwise it opens a new bin; a document longer than ``max_len`` owns a
  bin by itself (the downstream chunker's problem, flagged by its size).

Scale notes: packing is a sequential recurrence (each bin boundary depends
on the running fill), so it cannot be a window/cumsum — the parallel unit
is the shard.  One hash exchange on ``shard`` (uniform by construction for
dense ids), then a linear Arrow-batched scan per shard via applyInPandas;
``n_shards`` is the parallelism/memory knob (a shard must fit in an
executor's Arrow batch memory — size it so corpus_size / n_shards does).
Only the (id, token-count) pair enters the exchange, never text.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deep_ner_spark.operators.textstats import token_count_col

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shard", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("bin_in_shard", T.LongType()),
        T.StructField("offset_in_bin", T.LongType()),
    ]
)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_len: int,
    n_shards: int = 64,
) -> DataFrame:
    """(doc_id, shard, n_tokens, bin_in_shard, offset_in_bin) packing plan.

    ``offset_in_bin`` is the token offset where the document starts inside
    its bin, so a downstream writer can materialize the packed sequences
    with one ordered gather per (shard, bin).
    """
    if max_len <= 0:
        raise ValueError(f"max_len must be positive, got {max_len}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")

    slim = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        (F.col(id_col).cast("long") % n_shards).alias("shard"),
        # a null text packs as 0 tokens, the count featurize gives it
        F.coalesce(token_count_col(F.col(text_col)), F.lit(0))
        .cast("long").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        # Spark does not guarantee intra-group order — sort by id so the
        # packing is a pure function of the input
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, offs = [], []
        bin_idx, fill = 0, 0
        first = True
        for t in pdf["n_tokens"]:
            t = int(t)
            if first:
                first = False
            elif fill + t > max_len:
                bin_idx += 1
                fill = 0
            offs.append(fill)
            bins.append(bin_idx)
            fill += t
        pdf["bin_in_shard"] = pd.Series(bins, dtype="int64")
        pdf["offset_in_bin"] = pd.Series(offs, dtype="int64")
        return pdf[["doc_id", "shard", "n_tokens", "bin_in_shard", "offset_in_bin"]]

    return slim.groupBy("shard").applyInPandas(pack, _OUT_SCHEMA)


def packing_stats(packed: DataFrame, max_len: int) -> DataFrame:
    """One-row packing efficiency summary: bins, docs, fill ratio.

    ``fill_ratio`` counts oversize single-doc bins at their true token
    length, so a corpus with many > max_len docs shows ratio > 1 — the
    signal to chunk before packing.
    """
    per_bin = packed.groupBy("shard", "bin_in_shard").agg(
        F.sum("n_tokens").alias("fill"), F.count("*").alias("n_docs")
    )
    return per_bin.agg(
        F.count("*").alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        (F.sum("fill") / (F.count("*") * F.lit(max_len))).alias("fill_ratio"),
        F.max("fill").alias("max_fill"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int,
    overlap: int = 0,
) -> DataFrame:
    """Split long documents into max_tokens-sized chunks with ``overlap``
    shared tokens between consecutive chunks — the pre-packing chunker for
    docs longer than the training sequence (see :func:`pack_sequences`).

    (doc_id, chunk_idx, n_tokens, chunk_text) per chunk; chunk_text is the
    space-join of the chunk's whitespace tokens (whitespace normalized).
    Empty documents produce no chunks.  A chunk is emitted only if it
    carries at least one token NOT covered by the previous chunk (starts
    are capped at ``n - 1 - overlap``): without the cap, a final start
    landing inside the overlap region would emit a tail chunk fully
    contained in its predecessor, duplicating training text.  Every token
    is still covered — the last kept start is always >= n - max_tokens.

    Scale: one codegen'd projection per doc (HOF transform over the chunk
    starts) + explode — no shuffle at all; output partitioning follows the
    scan.  explode_outer + null filter on the OUTPUT attribute avoids the
    InferFiltersFromGenerate triple-eval of the HOF chain.
    """
    from deep_ner_spark.functions.text import tokens_col

    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(f"overlap must be in [0, max_tokens), got {overlap}")
    step = max_tokens - overlap

    base = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__t")
    ).select(id_col, "__t", F.size("__t").alias("__n"))
    # cap the last start at n - 1 - overlap: a start beyond it adds no new
    # token (its whole chunk lies inside the previous one); greatest(.., 0)
    # keeps the single chunk of docs with n <= overlap
    starts = F.when(
        F.col("__n") >= 1,
        F.sequence(
            F.lit(0),
            F.greatest(F.col("__n") - 1 - F.lit(overlap), F.lit(0)),
            F.lit(step),
        ),
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / step).cast("long").alias("chunk_idx"),  # s is a multiple of step
            F.least(F.lit(max_tokens), F.col("__n") - s).cast("long").alias(
                "n_tokens"
            ),
            F.concat_ws(" ", F.slice("__t", s + 1, max_tokens)).alias(
                "chunk_text"
            ),
        ),
    )
    out = base.select(id_col, F.explode_outer(chunks).alias("__c"))
    return out.where(F.col("__c").isNotNull()).select(
        id_col,
        F.col("__c.chunk_idx").alias("chunk_idx"),
        F.col("__c.n_tokens").alias("n_tokens"),
        F.col("__c.chunk_text").alias("chunk_text"),
    )
