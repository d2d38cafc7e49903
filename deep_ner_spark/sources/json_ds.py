"""JSON dataset source (SURVEY S7: utils.py:508-655).

Input: a JSON array of ``{"text": str, "named_entities": {TYPE: [[s,e],..]},
"paragraph_bounds"?: [[s,e],..], "base_name"?: str}``.  Output: two
DataFrames — text units and long-form entity spans — after the reference's
document-explode:

* with ``paragraph_bounds``: one unit per paragraph, entities assigned to
  the paragraph containing them (start in [p0,p1), end <= p1;
  utils.py:498-505), offsets re-based to paragraph start;
* entity spans per (unit, type) are merged with the reference's *previous-
  original-end* rule (utils.py:510-526): after sorting, a span merges into
  the previous one iff prev_span.end >= cur.start, and the merged end
  becomes the CURRENT span's end (so a contained span shrinks the merged
  interval) — deliberately reproduced, it differs from classic islands.

Spark shape: schema-first ``spark.read.json`` (MapType for named_entities)
+ ``posexplode`` of paragraphs + an offset-arithmetic projection + a
window-based merge.  Validation failures raise, like the reference loaders.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from deep_ner_spark.obs import named
from deep_ner_spark.operators.windows import number_units

JSON_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField(
            "named_entities",
            T.MapType(T.StringType(), T.ArrayType(T.ArrayType(T.LongType()))),
        ),
        T.StructField("paragraph_bounds", T.ArrayType(T.ArrayType(T.LongType()))),
        T.StructField("base_name", T.StringType()),
    ]
)


@named("json.load")
def load_json_dataset(
    spark: SparkSession, path: str
) -> Tuple[DataFrame, DataFrame]:
    """Returns (units, spans).

    units: (sample_id long, text string)           — one row per text unit
    spans: (sample_id, ne_type, start, end)        — merged entity spans

    sample_id enumerates units in file order (document order, then
    paragraph order), matching the reference's X list indices.

    Validation (SURVEY SO4, utils.py:550-566): the reference loader raises
    on documents carrying keys outside the known set, so a schema-first
    read that silently drops extras would load malformed datasets the
    reference rejects.  A schema-INFERRED pre-pass over the same file
    (fixture-scale source; one extra tiny scan) surfaces unknown top-level
    keys and fails the load like the reference's negative tests.
    """
    allowed = {f.name for f in JSON_SCHEMA.fields}
    inferred = spark.read.option("multiLine", "true").json(path)
    extra = sorted(set(inferred.schema.fieldNames()) - allowed - {"_corrupt_record"})
    if extra:
        raise ValueError(
            f"unknown key(s) {extra} in JSON dataset {path!r}; "
            f"allowed: {sorted(allowed)}"
        )
    raw = (
        spark.read.schema(JSON_SCHEMA)
        .option("multiLine", "true")
        .json(path)
        .withColumn("doc_id", F.monotonically_increasing_id())
    )

    flat = F.col("paragraph_bounds").isNull()
    ents = raw.select(
        "doc_id", flat.alias("flat"), F.explode("named_entities").alias("ne_type", "bounds")
    ).select("doc_id", "flat", "ne_type", F.explode("bounds").alias("b")).select(
        "doc_id",
        "flat",
        "ne_type",
        F.col("b").getItem(0).alias("start"),
        F.col("b").getItem(1).alias("end"),
    )

    # --- documents without paragraph bounds: unit == document
    units_flat = raw.where(flat).select(
        "doc_id", F.lit(0).alias("para_idx"), F.col("text").alias("unit_text")
    )
    spans_flat = ents.where("flat").select(
        "doc_id", F.lit(0).alias("para_idx"), "ne_type", "start", "end"
    )

    # --- documents with paragraph bounds: explode + rebase
    paras = raw.where(~flat).select(
        "doc_id",
        "text",
        F.posexplode("paragraph_bounds").alias("para_idx", "pb"),
    ).select(
        "doc_id",
        "para_idx",
        F.col("pb").getItem(0).alias("p0"),
        F.col("pb").getItem(1).alias("p1"),
        F.substring(
            "text", (F.col("pb").getItem(0) + 1).cast("int"),
            (F.col("pb").getItem(1) - F.col("pb").getItem(0)).cast("int"),
        ).alias("unit_text"),
    )
    # paragraph-membership predicate (utils.py:498-505): start in [p0,p1),
    # end <= p1; first matching paragraph (paragraphs are disjoint/sorted in
    # valid data, so the join is unique)
    assigned = ents.where(~F.col("flat")).join(
        paras.select("doc_id", "para_idx", "p0", "p1"), "doc_id"
    ).where(
        (F.col("start") >= F.col("p0"))
        & (F.col("start") < F.col("p1"))
        & (F.col("end") > F.col("start"))
        & (F.col("end") <= F.col("p1"))
    )
    spans_paras = assigned.select(
        "doc_id",
        "para_idx",
        "ne_type",
        (F.col("start") - F.col("p0")).alias("start"),
        (F.col("end") - F.col("p0")).alias("end"),
    )

    units_paras = paras.select("doc_id", "para_idx", "unit_text")
    units = units_flat.unionByName(units_paras)
    spans = spans_flat.unionByName(spans_paras)

    # dense sample ids in (doc, paragraph) order
    units, spans = number_units(units, spans, ["doc_id", "para_idx"])
    merged = merge_spans_reference(spans)
    return (
        units.select("sample_id", F.col("unit_text").alias("text")),
        merged.select("sample_id", "ne_type", "start", "end"),
    )


def merge_spans_reference(spans: DataFrame) -> DataFrame:
    """The reference's span merge (utils.py:510-526), relationally.

    Sort within (sample, type); a span joins the previous *island* iff the
    immediately preceding span's ORIGINAL end >= its start; the island's end
    is the LAST member's end (not the max).
    """
    w = Window.partitionBy("sample_id", "ne_type").orderBy("start", "end")
    prev_end = F.lag("end").over(w)
    opens = F.when(prev_end.isNull() | (prev_end < F.col("start")), 1).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_island = spans.withColumn("__island", F.sum(opens).over(cum))
    return (
        with_island.groupBy("sample_id", "ne_type", "__island")
        .agg(
            F.min("start").alias("start"),
            F.max_by("end", F.struct("start", "end")).alias("end"),
        )
        .drop("__island")
    )
