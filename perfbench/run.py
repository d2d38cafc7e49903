"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout.  It starts one Spark driver on
``local[<nproc>]`` and sets up three times (session start, input
generation or load, one-time fits, Python workers started) to report the
median set-up time.  It then runs full jobs untimed until JIT and caches
are warm (a minimum count and, for some workloads, a minimum time), and
one closed-loop client for ``--seconds``:
each job starts when the previous one ends, and every job's output is
checked against an independent reference computed outside set-up and the
timed phase.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
split: each layer's public call runs in its own span, tagged by a Spark
job group, and the span's stages are read back from the status store.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is a JSON
summary with the sample counts, ``job_s_tail``, ``failed_frac``, the
input properties and the host anchor.  Everything the run writes stays
under ``perfbench/`` (``.cache`` for inputs and references, ``.work`` for
Spark's scratch, ``.out`` for traces).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
OUT = HERE / ".out"
SETUP_REPS = 3
# driver heap, fixed at start (-Xms = -Xmx): a heap that grows on demand
# made peak RSS spread 10-20% between runs of one workload
HEAP = "3g"


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate() -> None:
    """Point every scratch location of the driver, JVM and workers into
    ``perfbench/.work`` (before anything creates a temp file)."""
    for d in ("tmp", "local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = HEAP  # read by get_spark


def start_session(n: int):
    from deep_ner_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData -Xms{HEAP}"
            ),
            "spark.local.dir": str(WORK / "local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def prime_workers(spark, n: int) -> None:
    """Start the session's Python workers, one per core, with the
    program's modules imported: every new session pays this once."""

    def import_program(batches):  # nested: pickled by value, not by module
        import deep_ner_spark.pipeline  # noqa: F401  numpy, pandas, pyarrow too

        yield from batches

    spark.range(n, numPartitions=n).mapInPandas(import_program, "id long").count()


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    import probes

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
    probes.stop_tree(os.getpid())


def run(args) -> tuple:
    import inputs
    import probes
    import summary
    import workloads

    wl = workloads.WORKLOADS[args.workload](args.seed)
    n = inputs.nproc()
    root = os.getpid()
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": f"local[{n}]",
        "host": {"loadavg": os.getloadavg(), "md5_burn_s": probes.md5_burn_s()},
    }
    spark, setups = None, []
    ticks = probes.cpu_ticks()
    try:
        for _ in range(1 if args.trace else SETUP_REPS):
            if spark is not None:
                spark.stop()
            marks = [time.perf_counter()]
            spark = start_session(n)
            marks.append(time.perf_counter())
            in_dir = inputs.ensure(spark, wl.name, args.seed, wl.sizes, fresh=bool(args.trace))
            marks.append(time.perf_counter())
            wl.bind(inputs.load(spark, in_dir))
            wl.fit()
            marks.append(time.perf_counter())
            prime_workers(spark, n)
            marks.append(time.perf_counter())
            phases = dict(zip(("start", "inputs", "fit", "workers"), map(float.__sub__, marks[1:], marks)))
            setups.append(marks[-1] - marks[0])
            info.setdefault("setup_phases_s", []).append(phases)
        start_s, gen_s = phases["start"], phases["inputs"]
        t0 = time.perf_counter()
        ref = workloads.load_reference(wl, in_dir)
        info["reference_s"] = time.perf_counter() - t0
        info["input"] = ref["input"]
        wl.expect(ref)
        # untimed full jobs first (see Workload.warm_jobs, warm_s)
        warm = summary.closed_loop(wl.job, wl.warm_s, min_jobs=wl.warm_jobs)
        info["warm_s"] = warm.times
        if args.trace:
            result = traced(wl, spark, root, args.seconds, start_s, gen_s, info)
        else:
            result = untraced(wl, root, args.seconds, setups, info)
        result["attempted"] += warm.attempted
        result["failed"] += warm.failed
        steal, total = map(int.__sub__, probes.cpu_ticks(), ticks)
        info["host"]["steal_frac"] = steal / max(total, 1)
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            shutdown(spark)
            info["shutdown_s"] = time.perf_counter() - t0
    return info, result


def end_to_end(loop, setups, peak_rss) -> dict:
    return {
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "rows_per_s": {"value": loop.rows_per_s, "unit": "rows/s"},
        "job_s_p50": {"value": loop.p50, "unit": "s"},
        "peak_rss_mb": {"value": peak_rss / 1e6, "unit": "MB"},
    }


def untraced(wl, root, seconds, setups, info) -> dict:
    import probes
    import summary

    with probes.PeakRss(root) as rss:
        loop = summary.closed_loop(wl.job, seconds)
    info["samples"] = {"setup_s": len(setups), "job_s": len(loop.times)}
    info["job_s_all"] = loop.times
    info["peak_rss_mb_parts"] = {k: v / 1e6 for k, v in rss.parts.items()}
    info["errors"] = loop.errors[:3]
    metrics = end_to_end(loop, setups, rss.peak) if loop.times else {}
    # all six end-to-end metrics; the result line carries the four that
    # BENCHMARK.json bounds (failed_frac reads 0 when nothing fails, and
    # job_s_tail needs 20 samples)
    tail = summary.tail(loop.times)
    info["end_to_end"] = dict(
        metrics,
        failed_frac={"value": summary.failed_frac(loop.attempted, loop.failed), "unit": "ratio"},
        job_s_tail=None if tail is None else {
            "value": tail[1], "unit": "s", "percentile": tail[0], "beyond": tail[2],
        },
    )
    return {"attempted": loop.attempted, "failed": loop.failed, "metrics": metrics}


def traced(wl, spark, root, seconds, start_s, gen_s, info) -> dict:
    """Untraced jobs, the same jobs inside spans, then the layer split;
    a third of ``seconds`` each (at least one job or layer pass each)."""
    import probes
    import summary
    import workloads

    tracer = probes.Tracer(spark, root)
    plain = summary.closed_loop(wl.job, seconds / 3)

    def traced_job(i):
        with tracer.span(wl.job_layer) as r:
            rows, ok = wl.job(i)
        r["rows_out"] = rows
        return rows, ok

    spanned = summary.closed_loop(traced_job, seconds / 3)
    t0, rep = time.perf_counter(), 0
    while rep == 0 or time.perf_counter() - t0 < seconds / 3:
        wl.layers(tracer, rep)
        rep += 1
    done = {r["layer"] for r in tracer.spans}
    n0 = len(tracer.spans)
    side = workloads.side_pass(spark, tracer, wl.seed, done)
    tracer.spans[n0:] = [dict(r, side=True) for r in tracer.spans[n0:] if r["layer"] not in done]
    metrics = {
        k: v for k, v in tracer.layer_medians(workloads.LAYERS).items()
        if not k.endswith(".pyworker_cpu_s") or k.rsplit(".", 1)[0] in workloads.PYTHON_LAYERS
    }
    metrics["session.start_s"] = start_s
    metrics["datagen.gen_s"] = gen_s
    job_spans = [r["wall_s"] for r in tracer.spans if r["layer"] == wl.job_layer]
    metrics["trace.overhead_frac"] = statistics.median(job_spans) / plain.p50 - 1.0 if plain.times else 0.0
    OUT.mkdir(exist_ok=True)
    (OUT / f"trace-{wl.name}-s{info['seed']}.json").write_text(
        json.dumps({"info": info, "spans": tracer.spans}, indent=1)
    )
    print_layer_table(tracer, workloads.LAYERS)
    attempted = plain.attempted + spanned.attempted + sum(w.checks[0] for w in [wl] + side)
    failed = plain.failed + spanned.failed + sum(w.checks[1] for w in [wl] + side)
    info["errors"] = (plain.errors + spanned.errors)[:3]
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }


UNITS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "exec_cpu_s": "s", "pyworker_cpu_s": "s", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "task_skew": "ratio", "rows_out": "rows",
    "start_s": "s", "gen_s": "s", "overhead_frac": "ratio",
}


def unit_of(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[1]]


def print_layer_table(tracer, layers) -> None:
    import probes

    cols = probes.SPAN_METRICS
    print("layer".ljust(20) + "".join(c.rjust(17) for c in ("spans",) + cols))
    for layer in layers:
        recs = [r for r in tracer.spans if r["layer"] == layer]
        if not recs:
            continue
        med = {m: statistics.median(float(r[m]) for r in recs) for m in cols}
        print(layer.ljust(20) + str(len(recs)).rjust(17) + "".join(f"{med[m]:17.4g}" for m in cols))


def main(argv=None) -> int:
    args = parse(argv)
    isolate()
    try:
        sys.path.insert(0, str(ROOT))
        try:
            import deep_ner_spark  # noqa: F401  the program under test
            import __spark_entry__  # noqa: F401  holds the DuckDB oracle SQL
        except ImportError as e:
            print(f"perfbench: program not found beside {HERE.name}/: {e}", file=sys.stderr)
            return 2
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        info, result = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
