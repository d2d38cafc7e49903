"""Stratified dataset splitting / sampling (SURVEY E2 step 2, SO1;
dataset_splitting.py:8-115).

Semantics: shuffle sample indices with a seeded rng; accept a split when
the train- and test-side entity-class sets are EQUAL (a set-equality check,
SURVEY SO1); retry up to ``n_restarts`` shuffles, remembering the best
candidate (test classes a subset of train classes); warn and take the last
shuffle when nothing satisfies.

Spark shape: the class-set per sample is a tiny aggregate
(``collect_set(ne_type) group by sample``); the shuffle/retry loop runs on
the driver over (sample_id, class_set) pairs only — never over the data —
and the result is a broadcast-joinable assignment table, so splitting a
10^12-row corpus moves one small column, not the corpus.
"""

from __future__ import annotations

import warnings
from typing import Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deep_ner_spark.obs import named

# most sample ids split_assignment / sample_assignment hold on the driver
# (~hundreds of MB of heap at 10M)
MAX_DRIVER_SAMPLES = 10_000_000


def _driver_ids(units: DataFrame, sample_col: str) -> list:
    """Every sample id in ascending order, from one job that collects at
    most ``MAX_DRIVER_SAMPLES + 1`` ids; raises past the ceiling."""
    # limit BEFORE the sort: under the ceiling that is still every id, and
    # the plan stays a plain limit + sort (orderBy().limit() plans a top-k
    # whose per-task queue is preallocated at the limit, 10M slots)
    rows = (
        units.select(sample_col)
        .limit(MAX_DRIVER_SAMPLES + 1)
        .orderBy(sample_col)
        .collect()
    )
    if len(rows) > MAX_DRIVER_SAMPLES:
        raise ValueError(
            f"more than {MAX_DRIVER_SAMPLES} samples exceed the driver-side "
            "ceiling; use split_assignment_hashed or stratified_sample_bottomk "
            "for corpus-scale inputs."
        )
    return [r[sample_col] for r in rows]


def _class_sets(spans: DataFrame, sample_col: str, class_col: str):
    rows = (
        spans.groupBy(sample_col)
        .agg(F.collect_set(class_col).alias("classes"))
        .collect()
    )
    return {r[sample_col]: frozenset(r["classes"]) for r in rows}


@named("splitting.split")
def split_assignment(
    units: DataFrame,
    spans: DataFrame,
    test_part: float,
    seed: int = 42,
    n_restarts: int = 10,
    sample_col: str = "sample_id",
    class_col: str = "ne_type",
) -> DataFrame:
    """Returns (sample_id, is_test boolean) assignment table.

    Mirrors split_dataset (dataset_splitting.py:8-73) with a seeded rng in
    place of global np.random state.

    Scale ceiling: the shuffle/retry loop needs the full (sample_id,
    class_set) list on the driver — exact parity with the reference's
    whole-permutation semantics requires it.  Above ``MAX_DRIVER_SAMPLES``
    ids this raises and points to :func:`split_assignment_hashed`, the
    fully distributed restart search for corpus-scale inputs.
    """
    if n_restarts < 2:
        raise ValueError(f"{n_restarts} is too small value of restarts number.")
    ids = _driver_ids(units, sample_col)
    n_samples = len(ids)
    if n_samples < 2:
        raise ValueError("There are too few samples in the data set!")
    n_test = int(round(test_part * n_samples))
    n_train = n_samples - n_test
    if n_test < 1:
        raise ValueError(f"{test_part} is too small value of the test part!")
    if n_train < 1:
        raise ValueError(f"{test_part} is too large value of the test part!")
    class_sets = _class_sets(spans, sample_col, class_col)

    rng = np.random.default_rng(seed)
    indices = np.arange(n_samples)

    def sets_of(split_idx):
        tr = frozenset().union(*(class_sets.get(ids[i], frozenset()) for i in split_idx[:n_train])) if n_train else frozenset()
        te = frozenset().union(*(class_sets.get(ids[i], frozenset()) for i in split_idx[n_train:])) if n_test else frozenset()
        return tr, te

    best = None
    for _ in range(n_restarts):
        rng.shuffle(indices)
        tr, te = sets_of(indices)
        if tr == te:
            best = indices.copy()
            break
        if te < tr:
            # every subset-qualifying shuffle OVERWRITES best (the reference
            # keeps the LAST such shuffle, dataset_splitting.py:50-51)
            best = indices.copy()
    if best is None:
        warnings.warn("Data set cannot be splitted by stratified folds.")
        best = indices
    else:
        tr, te = sets_of(best)
        if tr != te:
            warnings.warn("Data set cannot be splitted by stratified folds.")

    test_ids = {ids[i] for i in best[n_train:]}
    spark = units.sparkSession
    return spark.createDataFrame(
        [(i, i in test_ids) for i in ids], [sample_col, "is_test"]
    )


def md5_threshold_hex(test_part: float) -> str:
    """Fixed-width lowercase-hex threshold T with P(md5_hex < T) == test_part.

    md5 hex digests are uniform over 16^32; a lexicographic comparison on
    fixed-width lowercase hex equals the numeric comparison, and md5 is
    bit-identical across Spark and DuckDB — the engine-portable hash trick
    the dedup family already relies on.  12 hex digits of precision.
    """
    return format(int(test_part * 16**12), "012x") + "0" * 20


@named("splitting.split_hashed")
def split_assignment_hashed(
    units: DataFrame,
    spans: DataFrame,
    test_part: float,
    seed: int = 42,
    n_restarts: int = 10,
    sample_col: str = "sample_id",
    class_col: str = "ne_type",
) -> DataFrame:
    """Corpus-scale stratified split: a fully distributed restart search.

    Same acceptance rule as :func:`split_assignment` (accept when train/test
    class sets are EQUAL; remember the LAST restart whose test classes are a
    proper subset; warn and take the last restart otherwise), but each
    restart assigns is_test = md5(sample_id:seed+r) < threshold instead
    of permuting all ids on the driver — nothing corpus-sized ever leaves
    the executors.  Per restart the only driver traffic is two class sets
    (one tiny 2-row aggregate over the spans).  md5 (not xxhash64) keeps the
    assignment reproducible by any SQL engine.  Trade-off vs the exact
    mirror: the test fraction is test_part in expectation, not exactly
    round(test_part * n) — the standard large-N relaxation.
    """
    if n_restarts < 2:
        raise ValueError(f"{n_restarts} is too small value of restarts number.")
    threshold = md5_threshold_hex(test_part)

    def assign_for(r: int) -> DataFrame:
        return units.select(
            sample_col,
            (
                F.md5(
                    F.concat(
                        F.col(sample_col).cast("string"), F.lit(f":{seed + r}")
                    )
                )
                < F.lit(threshold)
            ).alias("is_test"),
        )

    def class_sets_of(assign: DataFrame):
        rows = (
            spans.join(assign, sample_col)
            .groupBy("is_test")
            .agg(F.collect_set(class_col).alias("classes"))
            .collect()
        )
        by_side = {bool(r["is_test"]): frozenset(r["classes"]) for r in rows}
        return by_side.get(False, frozenset()), by_side.get(True, frozenset())

    best_r = None
    last_r = 0
    for r in range(n_restarts):
        last_r = r
        tr, te = class_sets_of(assign_for(r))
        if tr == te:
            best_r = r
            break
        if te < tr:
            best_r = r  # last subset-qualifying restart wins (reference rule)
    if best_r is None:
        warnings.warn("Data set cannot be splitted by stratified folds.")
        best_r = last_r
    else:
        tr, te = class_sets_of(assign_for(best_r))
        if tr != te:
            warnings.warn("Data set cannot be splitted by stratified folds.")
    return assign_for(best_r)


def split_dataset_df(
    units: DataFrame,
    spans: DataFrame,
    test_part: float,
    seed: int = 42,
    n_restarts: int = 10,
) -> Tuple[DataFrame, DataFrame]:
    """(train_units, test_units) via a broadcast join on the assignment."""
    assign = F.broadcast(split_assignment(units, spans, test_part, seed, n_restarts))
    joined = units.join(assign, "sample_id")
    return (
        joined.where(~F.col("is_test")).drop("is_test"),
        joined.where(F.col("is_test")).drop("is_test"),
    )


@named("splitting.sample")
def sample_assignment(
    units: DataFrame,
    spans: DataFrame,
    n: int,
    seed: int = 42,
    n_restarts: int = 10,
    sample_col: str = "sample_id",
    class_col: str = "ne_type",
) -> DataFrame:
    """Stratified subsample keeping all classes when possible
    (sample_from_dataset, dataset_splitting.py:76-115).  Returns the
    selected (sample_id) rows.  Same driver-side ceiling as
    :func:`split_assignment`."""
    if n < 1:
        raise ValueError(f"{n} is wrong size of sampled dataset.")
    if n_restarts < 2:
        raise ValueError(f"{n_restarts} is too small value of restarts number.")
    ids = _driver_ids(units, sample_col)
    n_samples = len(ids)
    if n_samples < 2:
        raise ValueError("There are too few samples in the data set!")
    spark = units.sparkSession
    if n >= n_samples:
        return spark.createDataFrame([(i,) for i in ids], [sample_col])
    class_sets = _class_sets(spans, sample_col, class_col)
    total = frozenset().union(*class_sets.values()) if class_sets else frozenset()
    rng = np.random.default_rng(seed)
    indices = np.arange(n_samples)
    best = None
    for _ in range(n_restarts):
        rng.shuffle(indices)
        sub = frozenset().union(
            *(class_sets.get(ids[i], frozenset()) for i in indices[:n])
        ) if n else frozenset()
        if sub == total:
            best = indices.copy()
            break
    if best is None:
        warnings.warn("Data set cannot be splitted by stratified folds.")
        best = indices
    chosen = sorted(ids[i] for i in best[:n])
    return spark.createDataFrame([(i,) for i in chosen], [sample_col])


def stratified_sample_bottomk(
    df: DataFrame,
    strata_col: str,
    k: int,
    id_col: str,
    seed: int = 42,
    n_salts: int = 16,
) -> DataFrame:
    """Deterministic per-stratum bottom-k sample: the k rows with the
    smallest md5(seed:id) per stratum, with a 1-based ``sample_rank``
    column appended (training-pipeline dataset balancing; no reference
    analog).

    Hash-rank sampling instead of rand(): the draw is a pure function of
    (seed, id), so it is identical across engines (the DuckDB oracle
    re-ranks the same md5 hex strings), across cluster sizes, and across
    reruns/backfills — appending rows to a stratum can only displace
    survivors from rank k downward, never reshuffle the whole sample.

    Exact two-phase top-k: phase 1 keeps the per-(stratum, salt) bottom-k
    — the global per-stratum bottom-k is distributed among salts, so the
    union of per-salt bottom-k is a superset of it BY CONSTRUCTION (no
    probabilistic safety factor) — meaning the wide input sorts at
    (stratum x n_salts) key granularity and one hot stratum cannot pin a
    single reducer; phase 2 ranks the <= k*n_salts survivors per stratum
    exactly.  ``n_salts <= 1`` skips phase 1 (single-window semantics,
    used by the equality test).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql.window import Window

    h = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    out = df.withColumn("__h", h)
    if n_salts and n_salts > 1:
        salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_salts))
        w1 = Window.partitionBy(F.col(strata_col), salt).orderBy("__h", id_col)
        out = (
            out.withColumn("__r1", F.row_number().over(w1))
            .where(F.col("__r1") <= k)
            .drop("__r1")
        )
    w2 = Window.partitionBy(strata_col).orderBy("__h", id_col)
    return (
        out.withColumn("sample_rank", F.row_number().over(w2))
        .where(F.col("sample_rank") <= k)
        .drop("__h")
    )
