"""Per-partition lineage + resumable backfill (SURVEY S12/A10, north_star).

The reference's resumability surface is a pickle round-trip
(elmo_ner.py:612-681).  At 10^12-turn scale the equivalent is a
*checkpoint table*: every completed work unit (a partition of the backfill
key space) appends a lineage record — snapshot id, watermark, row count,
feature checksum — and a restarted run skips units already recorded.
Writes are idempotent at partition grain (dynamic partition overwrite), so
a crash between data-write and checkpoint-append re-does at most one unit.

Batch-with-checkpoints, not Structured Streaming, per SURVEY §2.9: the
watermark column plays the role of a streaming watermark, driver-managed.
"""

from __future__ import annotations

import time
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deep_ner_spark.obs import named

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("unit", T.StringType()),
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("watermark_us", T.LongType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("feature_checksum", T.LongType()),
        T.StructField("wall_sec", T.DoubleType()),
        T.StructField("completed_at_us", T.LongType()),
    ]
)


@named("checkpoint.lineage")
def lineage_metrics(df: DataFrame, checksum_cols: Sequence[str], ts_col: str | None):
    """One-row aggregate: row count, crc32-sum checksum, max watermark.

    The checksum is order- and partitioning-invariant (a sum of per-row
    crc32s), so two runs at different parallelism produce the same value —
    the determinism invariant the scaling gate needs.
    """
    chk = F.lit(0).cast("long")
    for c in checksum_cols:
        chk = chk + F.crc32(F.col(c).cast("string"))
    aggs = [
        F.count("*").alias("row_count"),
        F.sum(chk).alias("feature_checksum"),
    ]
    if ts_col:
        aggs.append(
            F.unix_micros(F.max(F.col(ts_col).cast("timestamp"))).alias("watermark_us")
        )
    else:
        aggs.append(F.lit(None).cast("long").alias("watermark_us"))
    return df.agg(*aggs).collect()[0]


class CheckpointTable:
    """Parquet-backed checkpoint table (Iceberg-append stand-in).

    On a cluster this is an Iceberg table (atomic appends, snapshot ids from
    the catalog); the sandbox uses per-record parquet appends which are
    atomic at file grain — same contract.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        try:
            return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)
        except Exception:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)

    @named("checkpoint.completed_units")
    def completed_units(self, run_id: str) -> set:
        try:
            rows = (
                self.read()
                .where(F.col("run_id") == run_id)
                .select("unit")
                .distinct()
                .collect()
            )
            return {r["unit"] for r in rows}
        except Exception:
            return set()

    def append(self, record: dict) -> None:
        df = self.spark.createDataFrame([record], LINEAGE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path)


@named("checkpoint.backfill")
def resumable_backfill(
    spark: SparkSession,
    units: Sequence[str],
    run_unit: Callable[[str], DataFrame],
    out_dir: str,
    checkpoint: CheckpointTable,
    run_id: str,
    checksum_cols: Sequence[str],
    ts_col: str | None = "ts",
    snapshot_id: str = "",
    unit_col: str = "__unit",
) -> list[str]:
    """Run a partitioned backfill, skipping units already checkpointed.

    ``units`` is the work list (e.g. day partitions or conv_id bucket ids);
    ``run_unit(unit)`` returns that unit's output DataFrame.  Each unit:
    (1) writes its output under out_dir/<unit> with dynamic partition
    overwrite (idempotent re-run), (2) appends one lineage record.  Returns
    the list of units executed (not skipped) — a mid-run crash resumes by
    calling this again with the same run_id.
    """
    done = checkpoint.completed_units(run_id)
    executed: list[str] = []
    for unit in units:
        if unit in done:
            continue
        t0 = time.time()
        out = run_unit(unit)
        out.write.mode("overwrite").parquet(f"{out_dir}/{unit_col}={unit}")
        m = lineage_metrics(spark.read.parquet(f"{out_dir}/{unit_col}={unit}"),
                            checksum_cols, ts_col)
        checkpoint.append(
            {
                "run_id": run_id,
                "unit": unit,
                "snapshot_id": snapshot_id,
                "watermark_us": m["watermark_us"],
                "row_count": m["row_count"],
                "feature_checksum": m["feature_checksum"],
                "wall_sec": round(time.time() - t0, 3),
                "completed_at_us": int(time.time() * 1e6),
            }
        )
        executed.append(unit)
    return executed
