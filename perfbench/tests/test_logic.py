"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import itertools

import pandas as pd
import pytest

import oracle
import summary


def test_tail_picks_highest_percentile_with_ten_beyond():
    assert summary.tail([1.0] * 19) is None  # even p50 has only 9 above it
    p, _, n = summary.tail(list(range(20)))
    assert (p, n) == (50.0, 10)
    p, v, n = summary.tail([float(i) for i in range(1, 101)])
    assert (p, v, n) == (90.0, 90.0, 10)
    p, _, n = summary.tail(list(range(1000)))
    assert (p, n) == (99.0, 10)


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert summary.percentile(xs, 50) == 3.0
    assert summary.percentile(xs, 100) == 5.0
    assert summary.percentile(xs, 1) == 1.0
    assert summary.beyond(5, 50) == 2


def test_failed_frac_counts_against_attempted():
    assert summary.failed_frac(8, 2) == 0.25
    assert summary.failed_frac(1, 0) == 0.0
    with pytest.raises(ValueError):
        summary.failed_frac(0, 0)
    with pytest.raises(ValueError):
        summary.failed_frac(3, 4)


def fake_clock(step=1.0):
    ticks = itertools.count()
    return lambda: next(ticks) * step


def test_closed_loop_counts_mismatches_and_errors_as_failed():
    outcomes = {0: (10, True), 1: (10, False), 3: (30, True)}

    def job(i):
        if i == 2:
            raise RuntimeError("boom")
        return outcomes[i]

    res = summary.closed_loop(job, seconds=7.0, clock=fake_clock())
    # every job spans two ticks; the fourth ends at t=8 >= 7
    assert (res.attempted, res.failed) == (4, 2)
    assert res.times == [1.0, 1.0]
    assert res.rates == [10.0, 30.0]
    assert res.rows_per_s == 20.0  # the median of the passed jobs' rates
    assert res.errors == ["RuntimeError: boom"]
    assert summary.failed_frac(res.attempted, res.failed) == 0.5


def test_closed_loop_always_attempts_one_job():
    res = summary.closed_loop(lambda i: (3, True), seconds=0.0, clock=fake_clock())
    assert (res.attempted, res.failed, res.rates) == (1, 0, [3.0])


def test_closed_loop_runs_at_least_min_jobs():
    res = summary.closed_loop(lambda i: (1, i != 1), seconds=0.0, clock=fake_clock(), min_jobs=3)
    assert (res.attempted, res.failed, res.times) == (3, 1, [1.0, 1.0])
    # past min_jobs, time decides: job ends at clock 2, 4, 6, ...
    res = summary.closed_loop(lambda i: (1, True), seconds=7.0, clock=fake_clock(), min_jobs=2)
    assert res.attempted == 4


def sample_output():
    return pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c2"],
            "turn_idx": [0, 1, 0],
            "role_ffill": ["user", None, "tool"],
            "lag1": pd.array([None, 3, None], dtype="Int64"),
        }
    )


def test_digest_is_order_invariant():
    df = sample_output()
    cols = list(df.columns)
    assert oracle.digest_frame(df, cols) == oracle.digest_frame(df.iloc[::-1], cols)


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda d: d.assign(lag1=pd.array([None, 4, None], dtype="Int64")),
        lambda d: d.assign(role_ffill=["tool", None, "tool"]),
        lambda d: d.iloc[:2],
        lambda d: pd.concat([d, d.iloc[:1]]),
        lambda d: d.assign(turn_idx=[0, 0, 1]),
    ],
)
def test_corrupted_output_digest_is_a_failed_job(corrupt):
    cols = list(sample_output().columns)
    want = oracle.digest_frame(sample_output(), cols)

    def job(i):
        got = oracle.digest_frame(corrupt(sample_output()), cols)
        return got["rows"], got == want

    res = summary.closed_loop(job, seconds=0.0, clock=fake_clock())
    assert (res.attempted, res.failed, res.times) == (1, 1, [])


def test_null_and_empty_string_share_a_key():
    # the Spark side writes NULL as "" too; the digest must agree with it
    assert oracle.digest_rows([("a", None)]) == oracle.digest_rows([("a", "")])


def test_slim_reference_tie_rules():
    ts = pd.to_datetime(
        ["2024-01-01 00:00:00", "2024-01-01 00:10:00", "2024-01-01 01:00:00"]
    )
    turns = pd.DataFrame(
        {
            "conv_id": ["c"] * 3,
            "turn_idx": [0, 1, 2],
            "role": ["user", None, None],
            "tool": [None, "search", None],
            "ts": ts,
        }
    )
    state = pd.DataFrame(
        {
            "entity_id": ["c"] * 4,
            # one at turn 1's ts exactly (attaches), two tied at turn 2's
            # ts (highest seq wins), one after every turn (never attaches)
            "ts": pd.to_datetime(
                ["2024-01-01 00:10:00", "2024-01-01 01:00:00",
                 "2024-01-01 01:00:00", "2024-01-02 00:00:00"]
            ),
            "state_seq": [0, 2, 1, 3],
            "state": [[0.5], [0.25], [0.125], [0.75]],
        }
    )
    ref = oracle.slim_reference(turns, state, pd.Series([4, 5, 6]))
    assert ref["state_q"].isna().tolist() == [True, False, False]
    assert ref["state_q"].tolist()[1:] == [500000, 250000]
    # 10 min gap continues the session, 50 min gap > 30 min opens one
    assert ref["session_id"].tolist() == [0, 0, 1]
    assert ref["role_ffill"].tolist() == ["user", "user", "user"]
    assert ref["tool_ffill"].tolist()[1:] == ["search", "search"]
    assert ref["lag1"].tolist()[1:] == [4, 5]
    assert ref["lead1"].tolist()[:2] == [5, 6]
