"""FactRuEval-2016 source chain (SURVEY S1-S5: utils.py:18-421).

Format: per document ``<base>.txt`` (paragraph per line), ``<base>.tokens``
(``token_id start len text``, blank line between sentences), ``<base>.spans``
(``span_id type start len token_id count # token_ids... texts...``),
``<base>.objects`` (``obj_id Type span_ids... # texts...``).

Spark shape:

* token lines parse relationally (split + casts + validation predicates);
  the reconstructed source text (tokens at their offsets, space-padded
  gaps) and paragraph alignment are order-dependent within one document ->
  per-document ``applyInPandas`` (documents parallelize; SURVEY J4 note);
* spans and objects parse relationally and resolve their FK lists through
  **validating joins** (SURVEY J2): a left join whose unmatched count must
  be zero, the relational form of the reference's existence checks;
* each parsed frame's checks are ONE aggregate of conditional counts (one
  Spark action), raised in the reference's order;
* the S5 ETL composes them: object -> union of member tokens -> (min start,
  max end) per object (SURVEY A5/SO2) -> per-document entity map.

File discovery uses one ``spark.read.text`` per extension over the whole
directory with ``input_file_name()`` — at scale this is a single listing,
no per-file driver loop.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from deep_ner_spark.obs import named

_BASE = F.regexp_extract(F.input_file_name(), r"([^/]+)\.(tokens|spans|objects|txt)$", 1)


def _read_lines(spark: SparkSession, pattern: str) -> DataFrame:
    return (
        spark.read.text(pattern)
        .withColumn("base_name", _BASE)
        .withColumn("line_no", F.monotonically_increasing_id())
        .withColumn("line", F.trim("value"))
        .drop("value")
    )


@named("factrueval.tokens")
def load_tokens(spark: SparkSession, src_dir: str) -> DataFrame:
    """Token table: (base_name, token_id, start, end, token, sentence_idx).

    Validations of utils.py:38-66: 4 fields, non-negative ids/offsets,
    length match, monotone offsets, unique ids.  sentence_idx groups by
    blank-line separators (S2's sessionize).
    """
    lines = _read_lines(spark, f"{src_dir}/*.tokens")
    w = Window.partitionBy("base_name").orderBy("line_no")
    blank = F.length("line") == 0
    with_sent = lines.withColumn(
        "sentence_idx",
        F.sum(blank.cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).where(~blank)
    parts = F.split("line", r"\s+")
    toks = with_sent.select(
        "base_name",
        "line_no",
        "sentence_idx",
        parts.getItem(0).try_cast("long").alias("token_id"),
        parts.getItem(1).try_cast("long").alias("start"),
        parts.getItem(2).try_cast("long").alias("len"),
        parts.getItem(3).alias("token"),
        F.size(parts).alias("n_fields"),
    )
    bad = (
        (F.col("n_fields") != 4)
        | F.col("token_id").isNull()
        | (F.col("token_id") < 0)
        | F.col("start").isNull()
        | (F.col("start") < 0)
        | F.col("len").isNull()
        | (F.col("len") < 0)
        | (F.length("token") != F.col("len"))
    )
    n_bad, n_dup = toks.agg(
        F.count_if(bad), F.count("*") - F.count_distinct("base_name", "token_id")
    ).first()
    if n_bad:
        row = toks.where(bad).first()
        raise ValueError(f"Invalid .tokens line for {row['base_name']}: id={row['token_id']}")
    if n_dup:
        raise ValueError("Duplicate token ids in .tokens input")
    return toks.select(
        "base_name",
        "sentence_idx",
        "token_id",
        "start",
        (F.col("start") + F.col("len")).alias("end"),
        "token",
    )


def sentence_bounds(tokens: DataFrame) -> DataFrame:
    """S2: (base_name, sentence_idx, start, end) from blank-line groups."""
    return tokens.groupBy("base_name", "sentence_idx").agg(
        F.min("start").alias("start"), F.max("end").alias("end")
    )


def reconstructed_text(tokens: DataFrame) -> DataFrame:
    """(base_name, text): tokens at their offsets, gaps filled with spaces.

    Matches the reference's incremental reconstruction (utils.py:68-71):
    pure relational form — per token emit pad+token, then ordered string
    aggregation per document.
    """
    w = Window.partitionBy("base_name").orderBy("start", "token_id")
    gap = (F.col("start") - F.coalesce(F.lag("end").over(w), F.lit(0))).cast("int")
    pieces = tokens.withColumn("piece", F.concat(F.repeat(F.lit(" "), gap), F.col("token")))
    return pieces.groupBy("base_name").agg(
        F.concat_ws(
            "", F.transform(F.array_sort(F.collect_list(F.struct("start", "token_id", "piece"))),
                            lambda s: s["piece"])
        ).alias("text")
    )


def paragraph_bounds(spark: SparkSession, src_dir: str, tokens: DataFrame) -> DataFrame:
    """S1: (base_name, para_idx, start, end) by aligning tokens to the
    lowercase .txt paragraph lines (order-dependent scan per document ->
    applyInPandas; reproduces utils.py:33-113 incl. final strip adjust)."""
    import pandas as pd

    txt_lines = (
        _read_lines(spark, f"{src_dir}/*.txt")
        .where(F.length("line") > 0)
        .select("base_name", "line_no", F.lower("line").alias("para_text"))
    )
    toks = tokens.select("base_name", "token_id", "start", "end", "token")
    joined = toks.groupBy("base_name").agg(
        F.array_sort(F.collect_list(F.struct("start", "token_id", "end", "token"))).alias("toks")
    ).join(
        txt_lines.groupBy("base_name").agg(
            F.array_sort(F.collect_list(F.struct("line_no", "para_text"))).alias("paras")
        ),
        "base_name",
    )

    schema = T.StructType(
        [
            T.StructField("base_name", T.StringType()),
            T.StructField("para_idx", T.IntegerType()),
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            paras = [p["para_text"] for p in row["paras"]]
            bounds = []
            para_idx, para_pos, start_pos = 0, 0, 0
            text_len = 0
            for t in row["toks"]:
                tok = t["token"].lower()
                if text_len < t["start"]:
                    text_len = t["start"]
                text_len = t["end"]
                found = paras[para_idx].find(tok, para_pos) if para_idx < len(paras) else -1
                if found < 0:
                    para_idx += 1
                    para_pos = 0
                    while para_idx < len(paras):
                        prev_end = bounds[-1][1] if bounds else 0
                        bounds.append((prev_end if bounds else 0, start_pos))
                        found = paras[para_idx].find(tok)
                        if found >= 0:
                            break
                        para_idx += 1
                    if para_idx >= len(paras):
                        raise ValueError(f"token {tok!r} not alignable in {row['base_name']}")
                    para_pos = found + len(tok)
                else:
                    para_pos = found + len(tok)
                start_pos = text_len
            if paras:
                bounds.append((bounds[-1][1] if bounds else 0, start_pos))
            # strip-adjust (utils.py:100-113) against the reconstructed text
            text = ""
            for t in row["toks"]:
                if len(text) < t["start"]:
                    text += " " * (t["start"] - len(text))
                text += t["token"]
            for i, (s, e) in enumerate(bounds):
                if s < e:
                    seg = text[s:e]
                    stripped = seg.strip()
                    off = seg.find(stripped)
                    s2 = s + off if off > 0 else s
                    out.append({"base_name": row["base_name"], "para_idx": i,
                                "start": s2, "end": s2 + len(stripped)})
                else:
                    out.append({"base_name": row["base_name"], "para_idx": i,
                                "start": s, "end": e})
        return pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return joined.mapInPandas(lambda it: (run(p) for p in it), schema=schema)


@named("factrueval.spans")
def load_spans(spark: SparkSession, src_dir: str, tokens: DataFrame) -> DataFrame:
    """S3: (base_name, span_id, token_id) long form, FK-validated.

    Line format: ``span_id type start len token_id n # id1..idn text1..``;
    first occurrence of a span_id wins (utils.py:199).  The reference's
    per-id existence check becomes a validating join: no id may miss the
    token table.
    """
    lines = _read_lines(spark, f"{src_dir}/*.spans").where(F.length("line") > 0)
    parts = F.split("line", r"\s+")
    hash_idx = F.array_position(parts, "#")  # 1-based; 0 if absent
    parsed = lines.select(
        "base_name",
        "line_no",
        parts.getItem(0).try_cast("long").alias("span_id"),
        parts.alias("parts"),
        hash_idx.alias("hash_idx"),
        F.size(parts).alias("n_fields"),
    )
    bad = (
        (F.col("n_fields") < 9)
        | F.col("span_id").isNull()
        | (F.col("span_id") < 0)
        | (F.col("hash_idx") == 0)
        | (((F.col("n_fields") - F.col("hash_idx")) % 2) != 0)
        | ((F.col("n_fields") - F.col("hash_idx")) < 2)
    )
    if parsed.agg(F.count_if(bad)).first()[0]:
        raise ValueError(f"Invalid .spans line: {parsed.where(bad).first()['base_name']}")
    # first occurrence per span_id wins
    w = Window.partitionBy("base_name", "span_id").orderBy("line_no")
    first = parsed.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    n_ids = ((F.col("n_fields") - F.col("hash_idx")) / 2).cast("int")
    ids = first.select(
        "base_name",
        "span_id",
        F.explode(
            F.slice(F.col("parts"), F.col("hash_idx") + 1, n_ids)
        ).alias("token_id_str"),
    ).withColumn("token_id", F.col("token_id_str").try_cast("long"))
    # validating join (J2): every referenced token must exist.  Token ids
    # are unique (load_tokens), so the left join keeps ids one for one.
    checked = ids.join(
        tokens.select("base_name", "token_id", F.lit(True).alias("known")),
        ["base_name", "token_id"],
        "left",
    )
    n_bad, n_unknown, n_dup = checked.agg(
        F.count_if(F.col("token_id").isNull() | (F.col("token_id") < 0)),
        F.count_if(F.col("known").isNull()),
        F.count("*") - F.count_distinct("base_name", "span_id", "token_id"),
    ).first()
    if n_bad:
        raise ValueError("Non-numeric token id in .spans")
    if n_unknown:
        r = checked.where(F.col("known").isNull()).first()
        raise ValueError(f"Span references unknown token {r['token_id']} in {r['base_name']}")
    if n_dup:
        raise ValueError("Duplicate token id inside one span")
    return ids.select("base_name", "span_id", "token_id")


@named("factrueval.objects")
def load_objects(spark: SparkSession, src_dir: str, spans: DataFrame) -> DataFrame:
    """S4: (base_name, object_id, ne_type, span_id) long form.

    Types outside {PERSON, LOCATION, ORG, LOCORG} are skipped (not errors);
    LOCORG remaps to LOCATION (utils.py:257-258).  Span FKs validate via
    left join, duplicate object ids raise.
    """
    lines = _read_lines(spark, f"{src_dir}/*.objects").where(F.length("line") > 0)
    parts = F.split("line", r"\s+")
    parsed = lines.select(
        "base_name",
        "line_no",
        parts.getItem(0).try_cast("long").alias("object_id"),
        F.upper(parts.getItem(1)).alias("raw_type"),
        parts.alias("parts"),
        F.array_position(parts, "#").alias("hash_idx"),
        F.size(parts).alias("n_fields"),
    )
    known_type = F.col("raw_type").isin("PERSON", "LOCATION", "ORG", "LOCORG")
    n_bad, n_dup, n_early = parsed.agg(
        F.count_if(
            (F.col("n_fields") < 5) | F.col("object_id").isNull() | (F.col("object_id") < 0)
        ),
        F.count("*") - F.count_distinct("base_name", "object_id"),
        F.count_if(known_type & (F.col("hash_idx") < 3)),
    ).first()
    if n_bad:
        raise ValueError("Invalid .objects line")
    if n_dup:
        raise ValueError("Duplicate object id in .objects")
    if n_early:
        raise ValueError("Invalid .objects line: '#' too early")
    known = parsed.where(known_type).withColumn(
        "ne_type",
        F.when(F.col("raw_type") == "LOCORG", "LOCATION").otherwise(F.col("raw_type")),
    )
    span_ids = known.select(
        "base_name",
        "object_id",
        "ne_type",
        F.explode(F.slice(F.col("parts"), 3, (F.col("hash_idx") - 3).cast("int"))).alias("span_id_str"),
    ).withColumn("span_id", F.col("span_id_str").try_cast("long"))
    known_spans = spans.select("base_name", "span_id", F.lit(True).alias("known")).distinct()
    n_bad, n_unknown = span_ids.join(known_spans, ["base_name", "span_id"], "left").agg(
        F.count_if(F.col("span_id").isNull() | (F.col("span_id") < 0)),
        F.count_if(F.col("known").isNull()),
    ).first()
    if n_bad:
        raise ValueError("Non-numeric span id in .objects")
    if n_unknown:
        raise ValueError("Object references unknown span")
    return span_ids.select("base_name", "object_id", "ne_type", "span_id")


def factrueval_to_dataset(
    spark: SparkSession, src_dir: str, split_by_paragraphs: bool = True
) -> Tuple[DataFrame, DataFrame, DataFrame]:
    """S5 ETL: returns (docs, entities, unit_bounds).

    docs: (base_name, text) — reconstructed source text;
    entities: (base_name, ne_type, start, end) — per object, min start /
    max end over the union of member tokens (A5/SO2);
    unit_bounds: (base_name, para_idx|sentence_idx, start, end).
    """
    tokens = load_tokens(spark, src_dir)
    spans = load_spans(spark, src_dir, tokens)
    objects = load_objects(spark, src_dir, spans)
    docs = reconstructed_text(tokens)
    ents = (
        objects.join(spans, ["base_name", "span_id"])
        .join(tokens.select("base_name", "token_id", "start", "end"), ["base_name", "token_id"])
        .groupBy("base_name", "object_id", "ne_type")
        .agg(F.min("start").alias("start"), F.max("end").alias("end"))
        .select("base_name", "ne_type", "start", "end")
    )
    if split_by_paragraphs:
        bounds = paragraph_bounds(spark, src_dir, tokens).withColumnRenamed(
            "para_idx", "unit_idx"
        )
    else:
        bounds = sentence_bounds(tokens).withColumnRenamed("sentence_idx", "unit_idx")
    return docs, ents, bounds


@named("factrueval.task1_predictions")
def load_task1_predictions(spark: SparkSession, recognized_dir: str) -> DataFrame:
    """S6 (utils.py:424-495): parse ``.task1`` prediction files.

    Lines ``per|loc|org start len`` -> (base_name, ne_type, start, end)
    with PER->PERSON / LOC->LOCATION remap; malformed lines raise.
    """
    base = F.regexp_extract(F.input_file_name(), r"([^/]+)\.task1$", 1)
    lines = (
        spark.read.text(f"{recognized_dir}/*.task1")
        .select(base.alias("base_name"), F.trim("value").alias("line"))
        .where(F.length("line") > 0)
    )
    parts = F.split("line", r"\s+")
    parsed = lines.select(
        "base_name",
        F.upper(parts.getItem(0)).alias("t"),
        parts.getItem(1).try_cast("long").alias("start"),
        parts.getItem(2).try_cast("long").alias("len"),
        F.size(parts).alias("n_fields"),
    )
    bad = (
        (F.col("n_fields") != 3)
        | ~F.col("t").isin("PER", "LOC", "ORG")
        | F.col("start").isNull()
        | (F.col("start") < 0)
        | F.col("len").isNull()
        | (F.col("len") < 0)
    )
    if parsed.agg(F.count_if(bad)).first()[0]:
        r = parsed.where(bad).first()
        raise ValueError(f"Invalid .task1 line in {r['base_name']}")
    return parsed.select(
        "base_name",
        F.when(F.col("t") == "PER", "PERSON")
        .when(F.col("t") == "LOC", "LOCATION")
        .otherwise("ORG")
        .alias("ne_type"),
        "start",
        (F.col("start") + F.col("len")).alias("end"),
    )


@named("factrueval.write_task1")
def write_task1(
    predictions: DataFrame, out_dir: str
) -> None:
    """S11 sink: per base_name a ``.task1`` file of ``type start len`` rows
    sorted by (start, len, type) — demo_elmo_factrueval2016.py:150-177."""
    import os

    rows = (
        predictions.select(
            "base_name",
            F.when(F.col("ne_type") == "PERSON", "per")
            .when(F.col("ne_type") == "LOCATION", "loc")
            .otherwise("org")
            .alias("t"),
            "start",
            (F.col("end") - F.col("start")).alias("len"),
        )
        .orderBy("base_name", "start", "len", "t")
        .collect()
    )
    os.makedirs(out_dir, exist_ok=True)
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["base_name"], []).append(f"{r['t']} {r['start']} {r['len']}")
    for base, lines in by_doc.items():
        with open(os.path.join(out_dir, base + ".task1"), "w", encoding="utf-8") as fp:
            fp.write("\n".join(lines) + "\n")
