"""Per-stage profile of driver-contract queries by the library's job names.

Each query runs through a ``noop`` sink: one warm-up run, then N timed
runs.  Prints the min wall time, the jobs of each run and the classes
each run compiled (a working set larger than the session's codegen cache
recompiles on every run), then for the fastest run the totals per job
name (busy: the union of its stage intervals; idle: the gaps inside
their span) and one row per stage (``deep_ner_spark.obs.stage_report``).
Unnamed jobs carry the query name.

Run: python tools/profile_queries.py QUERY [QUERY ...] [--sf DIR] [--reps N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SUMS = ("tasks", "cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
STAGE = ("job", "stage", "submit_s", "end_s") + SUMS + ("task_p50_s", "task_max_s")


def line(cells, tail="") -> str:
    return "  " + " ".join(
        f"{c:9.3f}" if isinstance(c, float) else f"{c!s:>9.9}" for c in cells
    ) + tail


def busy_s(rows) -> float:
    """Seconds covered by the union of the rows' [submit, end] intervals."""
    total, end = 0.0, float("-inf")
    for r in sorted(rows, key=lambda r: r["submit_s"]):
        total += max(0.0, r["end_s"] - max(r["submit_s"], end))
        end = max(end, r["end_s"])
    return total


def print_report(rows) -> None:
    print(line(("jobs", "stages", *SUMS, "busy_s", "idle_s", "task_max", "task_p50"), "  name"))
    by_name: dict = {}
    for r in rows:
        by_name.setdefault(r["name"], []).append(r)
    for name, rs in by_name.items():
        busy = busy_s(rs)
        span = max(r["end_s"] for r in rs) - min(r["submit_s"] for r in rs)
        longest = max(rs, key=lambda r: r["task_max_s"])
        sums = (sum(r[k] for r in rs) for k in SUMS)
        print(line((len({r["job"] for r in rs}), len(rs), *sums, busy, span - busy,
                    longest["task_max_s"], longest["task_p50_s"]), f"  {name}"))
    print(line((*STAGE[:-2], "task_p50", "task_max"), "  name: plan nodes"))
    for r in rows:
        print(line([r[k] for k in STAGE], f"  {r['name']}: {r['nodes']}"))


def main(argv=None) -> None:
    import __spark_entry__ as e
    from deep_ner_spark.obs import stage_report
    from deep_ner_spark.session import get_spark

    qs = e.queries()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", choices=qs, metavar="QUERY", help="queries() names")
    ap.add_argument("--sf", default=sf, required=not sf, help="default $SPARK_GRAFT_SF_DIR")
    ap.add_argument("--reps", type=int, default=3, help="timed runs per query")
    args = ap.parse_args(argv)
    spark = get_spark("profile", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(query):
        wall = []

        def action():
            t0 = time.perf_counter()
            qs[query](spark, args.sf).write.format("noop").mode("overwrite").save()
            wall.append(time.perf_counter() - t0)

        before = compiles.getCount()
        rows = stage_report(spark, action)
        return wall[0], rows, compiles.getCount() - before

    for query in args.queries:
        spark.sparkContext.setJobDescription(query)
        runs = [run(query) for _ in range(args.reps + 1)][1:]
        wall, rows, _ = min(runs, key=lambda r: r[0])
        jobs = " ".join(str(len({r["job"] for r in rs})) for _, rs, _ in runs)
        classes = " ".join(str(n) for _, _, n in runs)
        print(f"== {query} @ {args.sf} ({spark.sparkContext.master}): "
              f"min {wall:.3f} s over {args.reps} runs, jobs/run {jobs}, "
              f"classes compiled/run {classes}")
        print_report(rows)
    spark.stop()


if __name__ == "__main__":
    main()
