"""Seeded inputs of the four workloads, cached as parquet.

The same (workload, seed, sizes) always gives the same tables.  Transcripts
and entity state come from the library's own generator
(``datagen.spark_gen_table``); the near-duplicate corpus is drawn here with
NumPy in the shape of ``tools/gen_syn_corpus.py`` (31-word vocabulary,
~54 words a document, planted near-copies), but from the seed.  Tables are
cached under ``perfbench/.cache/<workload>-s<seed>-<sizes hash>/``; the
program under test only ever sees the tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
CACHE = HERE / ".cache"

# 5 years: tiles of one conversation never overlap in time
TILE_PERIOD_S = 5 * 365 * 86400
TILE_STRIDE = 1_000_000  # turn_idx / state_seq offset of each tile

DOC_VOCAB = (
    "batch part spark line column order small sort fast value scan query agg "
    "table hash vector join shuffle cache disk memory core task stage plan "
    "row group filter merge read write"
).split()


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def cache_dir(workload: str, seed: int, sizes: dict) -> Path:
    tag = hashlib.md5(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]
    return CACHE / f"{workload}-s{seed}-{tag}"


def ensure(spark, workload: str, seed: int, sizes: dict, fresh: bool = False) -> Path:
    """The cached input directory, generated first if missing.  ``fresh``
    generates even on a hit (to time the generator) and keeps the cache."""
    out = cache_dir(workload, seed, sizes)
    if not fresh and (out / "meta.json").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    generate(spark, workload, seed, sizes, tmp)
    if (out / "meta.json").exists():
        shutil.rmtree(tmp)
    else:
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def generate(spark, workload: str, seed: int, sizes: dict, out: Path) -> None:
    out.mkdir(parents=True)
    meta = {"workload": workload, "seed": seed, "sizes": sizes}
    if workload == "near_dup":
        meta.update(_write_docs(spark, seed, sizes["n_docs"], out))
    else:
        _write_transcripts(spark, seed, sizes, out)
    (out / "meta.json").write_text(json.dumps(meta))


def _write_transcripts(spark, seed: int, sizes: dict, out: Path) -> None:
    from pyspark.sql import functions as F

    from deep_ner_spark.datagen import spark_gen_table

    n_convs, mean_turns = sizes["n_convs"], sizes["mean_turns"]
    n_tasks = nproc()  # one generator task per core; more only adds overhead
    turns = spark_gen_table(spark, "transcripts", n_convs, mean_turns, seed, n_tasks)
    state = spark_gen_table(spark, "entity_state", n_convs, mean_turns, seed, n_tasks)
    lexicon = sizes.get("lexicon_per_turn", 0)
    if lexicon:
        # seeded long-tail words appended after the text (entity offsets
        # stay valid): word rank floor(K^u), u uniform, so P(rank) ~ 1/rank
        word = (
            f"concat('q', conv(cast(floor(pow({sizes['lexicon_size']}, "
            f"(xxhash64({seed}, conv_id, turn_idx, i) & 16777215) / 16777216.0))"
            " AS STRING), 10, 36))"
        )
        turns = turns.withColumn(
            "text",
            F.concat_ws(
                " ", "text",
                F.expr(f"concat_ws(' ', transform(sequence(1, {lexicon}), i -> {word}))"),
            ),
        )
    tiles = sizes.get("tiles", 1)
    if tiles > 1:
        # repeat each conversation along time: row count x tiles, and the
        # hottest conversation keeps its share of turns
        r = F.explode(F.sequence(F.lit(0), F.lit(tiles - 1)))

        def shifted(ts):
            return F.timestamp_micros(
                F.unix_micros(ts) + F.col("__tile") * (TILE_PERIOD_S * 1_000_000)
            )

        turns = turns.select("*", r.alias("__tile")).select(
            "conv_id",
            (F.col("turn_idx") + F.col("__tile") * TILE_STRIDE).alias("turn_idx"),
            "role", "text", "tool",
            shifted("ts").alias("ts"),
        )
        state = state.select("*", r.alias("__tile")).select(
            "entity_id",
            shifted("ts").alias("ts"),
            (F.col("state_seq") + F.col("__tile") * TILE_STRIDE).alias("state_seq"),
            "state",
        )
    turns.write.parquet(str(out / "transcripts"))
    state.write.parquet(str(out / "entity_state"))


def draw_docs(seed: int, n_docs: int, plant_p: float = 0.026):
    """(texts, planted copies): gen_syn_corpus-shaped, seeded."""
    rng = np.random.default_rng([seed, 17])
    texts, planted = [], 0
    while len(texts) < n_docs:
        n = max(10, int(rng.normal(54, 12)))
        idx = np.minimum(rng.exponential(1 / 0.12, n).astype(np.int64), 30)
        words = [DOC_VOCAB[i] for i in idx]
        texts.append(" ".join(words))
        if rng.random() < plant_p and len(texts) < n_docs:
            for _ in range(max(1, n // 12)):
                words[int(rng.integers(n))] = DOC_VOCAB[int(rng.integers(31))]
            texts.append(" ".join(words))
            planted += 1
    return texts, planted


def _write_docs(spark, seed: int, n_docs: int, out: Path) -> dict:
    import pandas as pd

    texts, planted = draw_docs(seed, n_docs)
    pdf = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})
    spark.createDataFrame(pdf, "doc_id long, text string").repartition(
        nproc()
    ).write.parquet(str(out / "documents"))
    return {"planted": planted}


def load(spark, in_dir: Path) -> dict:
    """Spark frames of every table in the input directory."""
    return {
        p.name: spark.read.parquet(str(p))
        for p in sorted(in_dir.iterdir())
        if p.is_dir()
    }


def load_pandas(in_dir: Path) -> dict:
    import pandas as pd

    return {
        p.name: pd.read_parquet(p) for p in sorted(in_dir.iterdir()) if p.is_dir()
    }


def properties(tables: dict, meta: dict) -> dict:
    """Input properties a later performance claim may depend on."""
    if "documents" in tables:
        text = tables["documents"]["text"]
        props = {"rows": len(text), "planted_dup_share": meta["planted"] / len(text)}
    else:
        turns, state = tables["transcripts"], tables["entity_state"]
        text = turns["text"]
        props = {
            "rows": len(turns),
            "largest_conv_share": float(turns["conv_id"].value_counts().iloc[0] / len(turns)),
            "state_rows_per_turn": len(state) / len(turns),
        }
    words = text.str.split().explode()
    props["distinct_token_share"] = float(words.nunique() / len(words))
    return props
