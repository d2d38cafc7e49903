"""Deterministic synthetic data: transcripts / entity_spans / entity_state.

Shapes per BASELINE.json input_hint and FIXTURES.md: the transcript table is
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``; entity spans are char offsets into the *normalized* text
(normalization is 1:1 on length, so offsets are generated once and stay
valid); entity_state is the as-of right side with tie / between-turn /
after-last-turn (leakage-test) updates.

Determinism: every conversation derives its own rng stream from
``(seed, conv_idx)``, so the sequential pandas path and the Spark-parallel
path (mapInPandas over conversation ids) produce byte-identical tables at
any parallelism — the property the scaling gate checksums.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from typing import List, Tuple

import numpy as np
import pandas as pd

ENTITY_PHRASES = {
    "PERSON": ["Anna Karenina", "John Smith", "Marie Curie", "Alan Turing", "Grace Hopper"],
    "LOCATION": ["New York", "San Francisco", "Lake Baikal", "Mount Elbrus"],
    "ORG": ["Acme Corp", "United Nations", "Apache Spark Foundation"],
}

_FILLERS = (
    "the quick brown fox jumps over lazy dog while 42 engineers debug "
    "spark jobs at 3:15 apparently some—strange unicode–dashes and "
    "a soft­hyphen plus CamelCase WORDS and punctuation marks ! ? ... "
    "version v2.7.1 costs $1,234 or 56% more"
).split(" ")

_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["search", "browser", "python", "calculator"]

_EPOCH = datetime(2024, 1, 1)
_FLAT_TYPES = [(t, p) for t, ps in sorted(ENTITY_PHRASES.items()) for p in ps]


def _zipf_weight(ci: int, n_convs: int) -> float:
    # Zipfian conversation sizes (hot conversations for skew tests),
    # normalized by the closed-form mean of x^-0.7 over [1, n] so the mean
    # weight stays ~1 at any corpus size (deterministic, no data pass).
    mean_w = (n_convs ** 0.3 - 1.0) / (0.3 * n_convs) if n_convs > 1 else 1.0
    return (1.0 / (ci + 1) ** 0.7) / max(mean_w, 1e-9)


def _gen_conv(
    ci: int,
    n_convs: int,
    mean_turns: int,
    seed: int,
    entity_prob: float = 0.55,
    state_dim: int = 4,
) -> Tuple[List, List, List]:
    """One conversation's (turn_rows, span_rows, state_rows)."""
    rng = np.random.default_rng([seed, ci])
    conv_id = f"conv{ci:07d}"
    n_turns = max(2, int(rng.poisson(mean_turns * min(_zipf_weight(ci, n_convs), 40.0))))
    ts = _EPOCH + timedelta(seconds=float(rng.integers(0, 86400 * 30)))
    t_rows, s_rows, st_rows = [], [], []
    turn_times = []
    for ti in range(n_turns):
        gap = float(rng.choice([rng.uniform(1, 120), rng.uniform(2000, 7200)], p=[0.8, 0.2]))
        ts = ts + timedelta(seconds=gap)
        turn_times.append(ts)
        words, spans, pos = [], [], 0
        n_frag = int(rng.integers(3, 9))
        for _ in range(n_frag):
            if rng.random() < entity_prob / n_frag * 3:
                ne_type, phrase = _FLAT_TYPES[int(rng.integers(0, len(_FLAT_TYPES)))]
                words.append(phrase)
                spans.append((ne_type, pos, pos + len(phrase)))
                pos += len(phrase) + 1
            else:
                w = " ".join(
                    _FILLERS[int(rng.integers(0, len(_FILLERS)))]
                    for _ in range(int(rng.integers(1, 4)))
                )
                words.append(w)
                pos += len(w) + 1
        text = " ".join(words)
        role = _ROLES[ti % 3] if rng.random() > 0.15 else None
        tool = _TOOLS[int(rng.integers(0, len(_TOOLS)))] if rng.random() < 0.2 else None
        t_rows.append((conv_id, ti, role, text, tool, ts))
        for ne_type, s, e in spans:
            s_rows.append((conv_id, ti, ne_type, s, e))

    # state timeline: before-first, between-turns, exactly-at-a-turn
    # (tie-break test), after-last (leakage test)
    n_state = max(2, n_turns // 3)
    first, last = turn_times[0], turn_times[-1]
    span_sec = max(1.0, (last - first).total_seconds())
    for si in range(n_state):
        mode = rng.random()
        if mode < 0.1:
            sts = first - timedelta(seconds=float(rng.uniform(10, 1000)))
        elif mode < 0.2:
            sts = turn_times[int(rng.integers(0, n_turns))]  # exact tie
        elif mode < 0.3:
            sts = last + timedelta(seconds=float(rng.uniform(10, 1000)))  # leakage probe
        else:
            sts = first + timedelta(seconds=float(rng.uniform(0, span_sec)))
        vec = rng.standard_normal(state_dim).astype(np.float32)
        st_rows.append((conv_id, sts, si, [float(x) for x in vec]))
    return t_rows, s_rows, st_rows


_T_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
_S_COLS = ["conv_id", "turn_idx", "ne_type", "start", "end"]
_ST_COLS = ["entity_id", "ts", "state_seq", "state"]


def _typed(transcripts, entity_spans, entity_state):
    transcripts["turn_idx"] = transcripts["turn_idx"].astype("int32")
    entity_spans["turn_idx"] = entity_spans["turn_idx"].astype("int32")
    entity_spans["start"] = entity_spans["start"].astype("int32")
    entity_spans["end"] = entity_spans["end"].astype("int32")
    entity_state["state_seq"] = entity_state["state_seq"].astype("int32")
    return transcripts, entity_spans, entity_state


def gen_transcripts(
    n_convs: int = 20,
    mean_turns: int = 10,
    seed: int = 42,
    entity_prob: float = 0.55,
    state_dim: int = 4,
):
    """Sequential (pandas) generation — tests and small inputs."""
    t_all, s_all, st_all = [], [], []
    for ci in range(n_convs):
        t, s, st = _gen_conv(ci, n_convs, mean_turns, seed, entity_prob, state_dim)
        t_all += t
        s_all += s
        st_all += st
    return _typed(
        pd.DataFrame(t_all, columns=_T_COLS),
        pd.DataFrame(s_all, columns=_S_COLS),
        pd.DataFrame(st_all, columns=_ST_COLS),
    )


def spark_gen_table(spark, which: str, n_convs: int, mean_turns: int, seed: int,
                    n_tasks: int = 64):
    """Cluster-parallel generation of one of the three tables.

    Conversation ids shard across ``n_tasks`` mapInPandas tasks; per-conv
    rng streams make the output independent of the sharding.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schemas = {
        "transcripts": T.StructType([
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("tool", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]),
        "entity_spans": T.StructType([
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("ne_type", T.StringType()),
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
        ]),
        "entity_state": T.StructType([
            T.StructField("entity_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("state_seq", T.IntegerType()),
            T.StructField("state", T.ArrayType(T.FloatType())),
        ]),
    }
    idx = {"transcripts": 0, "entity_spans": 1, "entity_state": 2}[which]
    cols = {"transcripts": _T_COLS, "entity_spans": _S_COLS, "entity_state": _ST_COLS}[which]
    ids = spark.range(n_convs).repartition(n_tasks)

    def gen(it):
        for pdf in it:
            rows = []
            for ci in pdf["id"]:
                rows.extend(_gen_conv(int(ci), n_convs, mean_turns, seed)[idx])
            yield pd.DataFrame(rows, columns=cols)

    return ids.mapInPandas(gen, schema=schemas[which])


def write_parquet_tables(
    spark, out_dir: str, n_convs: int, mean_turns: int = 12, seed: int = 42,
    n_files: int = 64,
):
    """Materialize to parquet (bench input), partition layout bucketed by conv.

    At cluster scale this would be an Iceberg table partitioned by days(ts)
    and bucketed by conv_id; parquet is the sandbox stand-in with the same
    layout intent (hash-bucketed by conv_id, sorted within files by
    (conv_id, turn_idx)).  ``n_files`` sets scan parallelism: parquet splits
    at row-group grain, so fewer files than cores caps every downstream
    narrow stage — the single-node analog of "size your input splits".
    """
    tdf = spark_gen_table(spark, "transcripts", n_convs, mean_turns, seed)
    sdf = spark_gen_table(spark, "entity_spans", n_convs, mean_turns, seed)
    stdf = spark_gen_table(spark, "entity_state", n_convs, mean_turns, seed)
    tdf.repartition(n_files, "conv_id").sortWithinPartitions(
        "conv_id", "turn_idx"
    ).write.mode("overwrite").parquet(f"{out_dir}/transcripts.parquet")
    sdf.repartition(max(8, n_files // 8), "conv_id").write.mode("overwrite").parquet(
        f"{out_dir}/entity_spans.parquet"
    )
    stdf.repartition(max(8, n_files // 8), "entity_id").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/entity_state.parquet")
