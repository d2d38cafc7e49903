"""Point-in-time (as-of) join — the engine's flagship operator (SURVEY §2.3 J5).

Generalizes the reference's fitted-state attachment (elmo_ner.py:103,274:
state computed at fit time is attached to every later predict row) into a
temporal as-of join: for each left row (a turn), attach the latest right row
(a state update) with ``state.ts <= turn.ts`` per key — *strictly* ``<=`` so
there is zero temporal leakage.

Physical strategy (scale notes)
-------------------------------
Implemented as **union-tag + running last_value**, not as a join:

1. tag state rows 1 / turn rows 0, union by name;
2. one total ordering per key: ``(ts ASC, is_state DESC, seq ASC)`` — a state
   update that lands exactly on a turn's ts sorts *before* the turn, so ties
   attach (<= semantics) deterministically;
3. ``last(state_col, ignorenulls=True)`` over
   ``rowsBetween(unboundedPreceding, currentRow)``;
4. keep only turn rows.

This costs exactly ONE shuffle (the window's hash partition by key) and one
per-partition sort — the same work a sort-merge join would do for its left
side alone, with no join build side and no row multiplication.  AQE cannot
split a skewed *window* partition, so hot keys are handled explicitly by
:func:`asof_join_salted`: replicate state k ways, salt turns by a hash of the
turn, run the same window on (key, salt).  Replication factor k only
multiplies the (small) state side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_TAG = "__is_state"


def _prepare(
    turns: DataFrame,
    state: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    state_cols: Sequence[str],
    state_seq_col: str | None,
):
    carried = list(state_cols) + ([state_seq_col] if state_seq_col else [])
    turn_cols = [c for c in turns.columns if c not in carried]
    left = turns.select(
        *turn_cols,
        *[F.lit(None).cast(state.schema[c].dataType).alias(c) for c in carried],
        F.lit(0).alias(_TAG),
    )
    right = state.select(
        *[F.col(c) for c in list(key_cols) + [ts_col] + carried],
        *[
            F.lit(None).cast(turns.schema[c].dataType).alias(c)
            for c in turn_cols
            if c not in key_cols and c != ts_col
        ],
        F.lit(1).alias(_TAG),
    ).select(*left.columns)
    return left, right


def asof_join(
    turns: DataFrame,
    state: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    state_cols: Sequence[str] = ("state",),
    seq_col: str | None = None,
    state_seq_col: str | None = None,
) -> DataFrame:
    """Attach the latest state row with ``state.ts <= turn.ts`` per key.

    ``seq_col`` (turns side, e.g. ``turn_idx``) makes intra-ts ordering of
    turns deterministic; ``state_seq_col`` (state side) breaks ties among
    state rows sharing one (key, ts) — the highest sequence wins.
    """
    left, right = _prepare(turns, state, key_cols, ts_col, state_cols, state_seq_col)
    unioned = left.unionByName(right)
    order = [F.col(ts_col).asc(), F.col(_TAG).desc()]
    if state_seq_col:
        order.append(F.col(state_seq_col).asc_nulls_first())
    if seq_col:
        order.append(F.col(seq_col).asc_nulls_first())
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    drop = set(state_cols) | {_TAG} | ({state_seq_col} if state_seq_col else set())
    filled = unioned.select(
        *[c for c in unioned.columns if c not in drop],
        F.col(_TAG).alias(_TAG),
        *[
            F.last(F.when(F.col(_TAG) == 1, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(c)
            for c in state_cols
        ],
    )
    return filled.where(F.col(_TAG) == 0).drop(_TAG)


def asof_join_salted(
    turns: DataFrame,
    state: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    state_cols: Sequence[str] = ("state",),
    seq_col: str | None = None,
    state_seq_col: str | None = None,
    n_salts: int = 8,
    hot_key_threshold: int = 1_000_000,
) -> DataFrame:
    """Skew-hardened as-of join: salt only detected heavy keys.

    Conversations are Zipfian; salting every key doubles shuffle volume for
    the long tail for no benefit, so we salt only keys whose turn count
    exceeds ``hot_key_threshold``.  Hot-key state rows are replicated
    ``n_salts`` ways; hot turns are salted by a deterministic hash of their
    seq/ts so one hot key's window splits into ``n_salts`` independent
    sorted partitions.
    """
    hot_keys = (
        turns.groupBy(*key_cols)
        .count()
        .where(F.col("count") > hot_key_threshold)
        .select(*key_cols)
    )
    hot = F.broadcast(hot_keys.withColumn("__hot", F.lit(1)))

    salt_src = (
        F.col(seq_col)
        if seq_col
        else F.col(ts_col).cast("timestamp").cast("long")  # NTZ-tolerant
    )
    turns_s = turns.join(hot, on=list(key_cols), how="left").withColumn(
        "__salt",
        F.when(F.col("__hot").isNotNull(), F.pmod(F.xxhash64(salt_src), F.lit(n_salts)))
        .otherwise(F.lit(0))
        .cast("int"),
    ).drop("__hot")

    state_s = (
        state.join(hot, on=list(key_cols), how="left")
        .withColumn(
            "__salts",
            F.when(
                F.col("__hot").isNotNull(),
                F.sequence(F.lit(0), F.lit(n_salts - 1)),
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("__salt", F.explode("__salts"))
        .drop("__salts", "__hot")
    )
    out = asof_join(
        turns_s,
        state_s,
        key_cols=list(key_cols) + ["__salt"],
        ts_col=ts_col,
        state_cols=state_cols,
        seq_col=seq_col,
        state_seq_col=state_seq_col,
    )
    return out.drop("__salt")
