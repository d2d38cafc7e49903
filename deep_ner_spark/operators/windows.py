"""Windowed / ordered operators (SURVEY §2.5 W1-W8, §2.4 A4).

All pure Window specs — no UDFs, fully codegen'd JVM execution.  Each
per-key operator shuffles once (the window's hash partition on its key); a
chain over the same (key, order) reuses one exchange because Catalyst
collapses compatible window specs.  Global order: :func:`running_sum`.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deep_ner_spark.compat import local_checkpoint


def _w(part: Sequence[str], order: Sequence[str | Column]):
    return Window.partitionBy(*part).orderBy(*order)


def sessionize(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    gap_seconds: float = 1800.0,
    order_cols: Sequence[str] = (),
    out_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionize (W4): new session when ts - lag(ts) > gap.

    Generalizes the reference's blank-line sentence grouping
    (utils.py:163-175) and paragraph splitting (utils.py:752-867) from char
    positions to timestamps, per north_rule.  Session ids are 0-based per key
    in (ts, order) order.
    """
    w = _w(key_cols, [ts_col, *order_cols])
    # cast through TIMESTAMP so TIMESTAMP_NTZ parquet columns work too
    ts_sec = F.col(ts_col).cast("timestamp").cast("double")
    gap = ts_sec - F.lag(ts_sec).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    cum = Window.partitionBy(*key_cols).orderBy(ts_col, *order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out_col, (F.sum(is_new).over(cum) - 1).cast("long"))


def lag_lead(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    cols: Sequence[str],
    offsets: Sequence[int] = (1,),
) -> DataFrame:
    """lag/lead over turn order (W8): prior/next turn context features."""
    w = _w(key_cols, list(order_cols))
    out = df
    for c in cols:
        for k in offsets:
            out = out.withColumn(f"{c}_lag{k}", F.lag(c, k).over(w))
            out = out.withColumn(f"{c}_lead{k}", F.lead(c, k).over(w))
    return out


def forward_fill(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    cols: Sequence[str],
    suffix: str = "_ffill",
) -> DataFrame:
    """Forward-fill sparse columns (W3 generalized).

    The reference's exact instance is subword label propagation
    (bert_ner.py:1189-1206: '##' continuations inherit the last word-start
    label); here applied to sparse tool/role features per north_rule.
    """
    w = _w(key_cols, list(order_cols)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = df
    for c in cols:
        out = out.withColumn(c + suffix, F.last(c, ignorenulls=True).over(w))
    return out


def backward_fill(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    cols: Sequence[str],
    suffix: str = "_bfill",
) -> DataFrame:
    w = _w(key_cols, list(order_cols)).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    out = df
    for c in cols:
        out = out.withColumn(c + suffix, F.first(c, ignorenulls=True).over(w))
    return out


def merge_intervals(
    df: DataFrame,
    key_cols: Sequence[str],
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """Coalesce overlapping/adjacent intervals per key (A4, gaps-and-islands).

    Semantics of the reference's span merge (utils.py:510-526: sort by
    (start, end); merge when prev_end >= next_start).  Emits one row per
    island with min(start) / max(end).
    """
    run_max_end = F.max(end_col).over(
        _w(key_cols, [start_col, end_col]).rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = F.when(run_max_end.isNull() | (run_max_end < F.col(start_col)), 1).otherwise(0)
    cum = _w(key_cols, [start_col, end_col]).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_island = df.withColumn("__island", F.sum(is_new).over(cum))
    return (
        with_island.groupBy(*key_cols, "__island")
        .agg(F.min(start_col).alias(start_col), F.max(end_col).alias(end_col))
        .drop("__island")
    )


def with_row_index(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    out_col: str = "row_idx",
) -> DataFrame:
    """0-based stable position index per key (W5: token_idx / turn ordering)."""
    return df.withColumn(
        out_col, F.row_number().over(_w(key_cols, list(order_cols))) - 1
    )


def running_sum(
    df: DataFrame, order_cols: Sequence[str], value: str | Column, out_col: str
) -> DataFrame:
    """Running sum of ``value`` in global ``order_cols`` order without a
    single-partition exchange (``RDD.zipWithIndex``'s scheme): range-
    partition, collect one total per partition, prefix-sum the totals on
    the driver, add each partition's offset to its own running sum.  The
    checkpoint makes the totals and the sums read the same rows.  Exact
    when the order columns are unique."""
    tagged = local_checkpoint(
        df.repartitionByRange(*order_cols).withColumn("__pid", F.spark_partition_id())
    )
    totals = dict(tagged.groupBy("__pid").agg(F.sum(value)).collect())
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets += [F.lit(pid), F.lit(acc)]
        acc += totals[pid]
    offset = F.create_map(*offsets)[F.col("__pid")] if offsets else F.lit(0)
    w = _w(["__pid"], list(order_cols)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return tagged.withColumn(out_col, F.sum(value).over(w) + offset).drop("__pid")


def number_units(
    units: DataFrame, spans: DataFrame, key_cols: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """(units + dense 0-based ``sample_id`` in key order, spans
    ``(sample_id, ne_type, start, end)``) from ``(keys..., text)`` units and
    ``(keys..., ne_type, start, end)`` spans: the reference loaders' list
    positions."""
    numbered = running_sum(units, key_cols, F.lit(1), "sample_id").withColumn(
        "sample_id", F.col("sample_id") - 1
    )
    rekeyed = spans.join(numbered.select(*key_cols, "sample_id"), list(key_cols))
    return numbered, rekeyed.select("sample_id", "ne_type", "start", "end")


def bio_encode_window(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    instance_col: str = "instance_id",
    class_col: str = "class_id",
    out_col: str = "bio_label",
) -> DataFrame:
    """Relational BIO-int encode (W1): B=2k when instance changes, I=2k-1.

    Long-form equivalent of elmo_ner.py:1054-1063 over a token table with a
    per-entity-instance id column and a 1-based class id column.
    """
    w = _w(key_cols, list(order_cols))
    prev_inst = F.lag(instance_col).over(w)
    same = F.col(instance_col) == F.coalesce(prev_inst, F.lit(-1))
    return df.withColumn(
        out_col,
        F.when(F.col(instance_col) <= 0, F.lit(0))
        .when(same, 2 * F.col(class_col) - 1)
        .otherwise(2 * F.col(class_col))
        .cast("int"),
    )


def bio_decode_window(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    label_col: str = "bio_label",
    n_classes_col: str | Column | int = 3,
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """Relational BIO-int decode (W2): label runs -> entity char spans.

    Gaps-and-islands form of elmo_ner.py:966-1023: a new island opens on any
    even (B) code, on a class change, or on re-entry after O; islands
    aggregate to (min start, max end, class_id).  Output: one row per
    entity span (key..., class_id, start, end).
    """
    n_classes = F.lit(n_classes_col) if isinstance(n_classes_col, int) else F.col(n_classes_col)
    w = _w(key_cols, list(order_cols))
    lbl = F.col(label_col)
    class_id = ((lbl - 1) / 2).cast("int") + 1  # 1-based class
    valid = (lbl > 0) & (((lbl - 1) / 2).cast("int") < n_classes)
    df2 = df.withColumn("__valid", valid).withColumn(
        "__class", F.when(valid, class_id).otherwise(F.lit(0))
    )
    prev_valid = F.lag("__valid").over(w)
    prev_class = F.lag("__class").over(w)
    is_b = (lbl % 2) == 0
    opens = F.col("__valid") & (
        prev_valid.isNull()
        | ~F.coalesce(prev_valid, F.lit(False))
        | is_b
        | (F.coalesce(prev_class, F.lit(-1)) != F.col("__class"))
    )
    cum = _w(key_cols, list(order_cols)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_island = df2.withColumn(
        "__island", F.sum(opens.cast("int")).over(cum)
    ).where(F.col("__valid"))
    return (
        with_island.groupBy(*key_cols, "__island")
        .agg(
            F.first("__class").alias("class_id"),
            F.min(start_col).alias(start_col),
            F.max(end_col).alias(end_col),
        )
        .drop("__island")
    )


def cumulative_offset_shift(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    removed_col: str,
    offset_cols: Sequence[str],
    suffix: str = "_shifted",
) -> DataFrame:
    """Prefix-sum offset shift (W6, soft-hyphen removal utils.py:737-751).

    ``removed_col`` counts chars removed at/before each row; every offset
    column is decreased by the running total of removals strictly before it.
    """
    w = _w(key_cols, list(order_cols)).rowsBetween(Window.unboundedPreceding, -1)
    shift = F.coalesce(F.sum(removed_col).over(w), F.lit(0))
    out = df
    for c in offset_cols:
        out = out.withColumn(c + suffix, F.col(c) - shift)
    return out
