"""Window operators vs. straightforward Python oracles."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from deep_ner_spark import datagen, textfns
from deep_ner_spark.operators.windows import (
    backward_fill,
    bio_decode_window,
    bio_encode_window,
    cumulative_offset_shift,
    forward_fill,
    lag_lead,
    merge_intervals,
    running_sum,
    sessionize,
    with_row_index,
)


@pytest.fixture(scope="module")
def tdf(spark):
    t, _, _ = datagen.gen_transcripts(n_convs=10, mean_turns=12, seed=3)
    return spark.createDataFrame(t), t


def test_sessionize_matches_oracle(tdf, spark):
    df, t = tdf
    got = {
        (r["conv_id"], r["turn_idx"]): r["session_id"]
        for r in sessionize(df, ["conv_id"], "ts", 1800.0, ["turn_idx"]).collect()
    }
    for conv, grp in t.groupby("conv_id"):
        grp = grp.sort_values(["ts", "turn_idx"])
        sid = -1
        prev = None
        for _, row in grp.iterrows():
            if prev is None or (row.ts - prev).total_seconds() > 1800.0:
                sid += 1
            prev = row.ts
            assert got[(conv, row.turn_idx)] == sid


def test_forward_backward_fill(tdf, spark):
    df, t = tdf
    got = forward_fill(df, ["conv_id"], ["turn_idx"], ["role", "tool"])
    got = backward_fill(got, ["conv_id"], ["turn_idx"], ["role"])
    rows = {(r["conv_id"], r["turn_idx"]): r for r in got.collect()}
    for conv, grp in t.groupby("conv_id"):
        grp = grp.sort_values("turn_idx")
        last_role = None
        for _, row in grp.iterrows():
            if row.role is not None:
                last_role = row.role
            assert rows[(conv, row.turn_idx)]["role_ffill"] == last_role
        next_role = None
        for _, row in grp[::-1].iterrows():
            if row.role is not None:
                next_role = row.role
            assert rows[(conv, row.turn_idx)]["role_bfill"] == next_role


def test_lag_lead(tdf, spark):
    df, t = tdf
    got = {
        (r["conv_id"], r["turn_idx"]): (r["turn_idx_lag1"], r["turn_idx_lead1"])
        for r in lag_lead(df, ["conv_id"], ["turn_idx"], ["turn_idx"]).collect()
    }
    for conv, grp in t.groupby("conv_id"):
        n = len(grp)
        for i in range(n):
            lag, lead = got[(conv, i)]
            assert lag == (i - 1 if i > 0 else None)
            assert lead == (i + 1 if i < n - 1 else None)


def test_merge_intervals(spark):
    # reference semantics utils.py:510-526: merge when prev_end >= next_start
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a"] * 5 + ["b"] * 2,
                "start": [0, 3, 10, 12, 30, 0, 100],
                "end": [5, 8, 12, 20, 35, 1, 101],
            }
        )
    )
    got = {
        (r["k"], r["start"], r["end"])
        for r in merge_intervals(df, ["k"]).collect()
    }
    assert got == {("a", 0, 8), ("a", 10, 20), ("a", 30, 35), ("b", 0, 1), ("b", 100, 101)}


def test_with_row_index(tdf, spark):
    df, t = tdf
    got = with_row_index(df, ["conv_id"], ["turn_idx"], "ridx")
    assert got.where(F.col("ridx") != F.col("turn_idx")).count() == 0


@pytest.fixture
def eight_partitions(spark):
    """8 shuffle partitions that AQE does not merge back into one."""
    conf = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def keyed_frame(spark, a):
    """Rows with unique (a, b) keys in scrambled order and a 0/1 flag."""
    import numpy as np

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {"a": a, "b": rng.permutation(len(a)), "flag": rng.integers(0, 2, len(a))}
    )
    return spark.createDataFrame(pdf).repartition(3)


def global_running_sums(df):
    """(a, b) -> (row_number - 1, running sum of flag) from Spark's own
    single-partition global window."""
    from pyspark.sql.window import Window

    w = Window.orderBy("a", "b")
    return {
        (r["a"], r["b"]): (r["idx"], r["cum"])
        for r in df.select(
            "a", "b",
            (F.row_number().over(w) - 1).alias("idx"),
            F.sum("flag").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        ).collect()
    }


@pytest.mark.parametrize(
    "a",
    [
        [i % 30 for i in range(8980)],
        # 90% of rows share the first order column's value
        [0] * 4500 + list(range(1, 501)),
    ],
    ids=["spread", "skewed"],
)
def test_running_sum_equals_global_window(spark, eight_partitions, a):
    df = keyed_frame(spark, a)
    assert df.repartitionByRange("a", "b").select(F.spark_partition_id()).distinct().count() > 1
    idx = running_sum(df, ["a", "b"], F.lit(1), "idx")
    cum = running_sum(df, ["a", "b"], "flag", "cum")
    got_idx = {(r["a"], r["b"]): r["idx"] - 1 for r in idx.collect()}
    got_cum = {(r["a"], r["b"]): r["cum"] for r in cum.collect()}
    want = global_running_sums(df)
    assert len(got_idx) == len(got_cum) == len(a)
    assert got_idx == {k: v[0] for k, v in want.items()}
    assert got_cum == {k: v[1] for k, v in want.items()}


def test_running_sum_empty_input(spark, eight_partitions):
    empty = spark.createDataFrame([], "a long, b long, flag int")
    out = running_sum(empty, ["a", "b"], "flag", "cum")
    assert out.columns == ["a", "b", "flag", "cum"] and out.collect() == []


def test_bio_encode_decode_window_roundtrip(spark):
    # token stream with instance/class ids; B=2k/I=2k-1 codec
    rows = pd.DataFrame(
        {
            "conv_id": ["c"] * 8,
            "turn_idx": [0] * 8,
            "token_idx": list(range(8)),
            "start": [0, 4, 8, 12, 16, 20, 24, 28],
            "end": [3, 7, 11, 15, 19, 23, 27, 31],
            # instances: e1(class1) x2 tokens, O, e2(class2) x1, e3(class2) x2, O, e4(class1)
            "instance_id": [1, 1, 0, 2, 3, 3, 0, 4],
            "class_id": [1, 1, 0, 2, 2, 2, 0, 1],
        }
    )
    df = spark.createDataFrame(rows)
    enc = bio_encode_window(df, ["conv_id", "turn_idx"], ["token_idx"])
    got = [r["bio_label"] for r in enc.orderBy("token_idx").collect()]
    # oracle via textfns
    import numpy as np

    want = textfns.bio_encode_instances(
        np.array(rows["instance_id"]), {1: 1, 2: 2, 3: 2, 4: 1}
    ).tolist()
    assert got == want
    dec = bio_decode_window(enc, ["conv_id", "turn_idx"], ["token_idx"], "bio_label", 2)
    spans = {(r["class_id"], r["start"], r["end"]) for r in dec.collect()}
    assert spans == {(1, 0, 7), (2, 12, 15), (2, 16, 23), (1, 28, 31)}


def test_cumulative_offset_shift(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a"] * 4,
                "pos": [0, 1, 2, 3],
                "removed": [0, 1, 0, 2],
                "start": [10, 20, 30, 40],
            }
        )
    )
    got = {
        r["pos"]: r["start_shifted"]
        for r in cumulative_offset_shift(df, ["k"], ["pos"], "removed", ["start"]).collect()
    }
    assert got == {0: 10, 1: 20, 2: 29, 3: 39}
