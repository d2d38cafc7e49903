"""Outside-in probes: the process tree in /proc and Spark's status store.

Nothing here changes what the program does.  The process probes read
/proc for the benchmark's own process tree (driver, JVM, Python workers);
the span recorder tags the jobs a layer call runs with a job group and
reads their stage metrics back from the status store afterwards.
"""

from __future__ import annotations

import itertools
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")

# every metric a span reports, in table order
SPAN_METRICS = (
    "wall_s",
    "jobs",
    "stages",
    "tasks",
    "exec_cpu_s",
    "pyworker_cpu_s",
    "shuffle_write_mb",
    "spill_mb",
    "task_skew",
    "rows_out",
)


def _proc_table() -> dict:
    """pid -> (ppid, cpu ticks incl. reaped children, rss bytes, is pyworker)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            stat = Path(f"/proc/{name}/stat").read_text()
            cmd = Path(f"/proc/{name}/cmdline").read_bytes()
        except OSError:  # the process ended while we looked
            continue
        f = stat[stat.rfind(")") + 2:].split()
        # fields after the name: state ppid ... utime(11) stime cutime cstime
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        table[int(name)] = (int(f[1]), ticks, int(f[21]) * PAGE, b"pyspark.daemon" in cmd)
    return table


def descendants(root: int, table: dict | None = None) -> list:
    table = _proc_table() if table is None else table
    children: dict = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> dict:
    """RSS of the tree by part: the driver, the Python workers, the rest
    (the JVM)."""
    table = _proc_table()
    parts = {"driver": table[root][2], "pyworkers": 0, "jvm": 0}
    for p in descendants(root, table):
        parts["pyworkers" if table[p][3] else "jvm"] += table[p][2]
    return parts


def pyworker_cpu_s(root: int) -> float:
    """CPU seconds of the Python worker daemon and its workers.  A worker
    that exited was reaped by the daemon, so its time sits in the daemon's
    child counters: every tick is counted exactly once."""
    table = _proc_table()
    return sum(
        table[p][1] for p in descendants(root, table) if table[p][3]
    ) / CLK_TCK


class PeakRss:
    """Samples the tree's RSS from a thread while the block runs: the peak
    of the total, and each part's own peak.  A sample reads all of /proc
    (~4 ms on a 4-core VM), mostly holding the GIL the job's own driver
    calls need, so samples are 250 ms apart (~2% of a core)."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root, self.interval = root, interval
        self.peak = 0
        self.parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = tree_rss_bytes(self.root)
        self.peak = max(self.peak, sum(parts.values()))
        for k, v in parts.items():
            self.parts[k] = max(self.parts.get(k, 0), v)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def md5_burn_s(mb: int = 64) -> float:
    """Host anchor: seconds to md5 ``mb`` MiB in memory on one core."""
    import hashlib

    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(mb):
        h.update(buf)
    h.digest()
    return time.perf_counter() - t0


def cpu_ticks() -> tuple:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return f[7], sum(f[:8])  # user nice system idle iowait irq softirq steal


def stop_tree(root: int, timeout: float = 30.0) -> None:
    """Wait until every descendant of ``root`` has ended; kill stragglers."""
    deadline = time.monotonic() + timeout
    while True:
        left = descendants(root)
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def stage_metrics(sc, group: str) -> dict:
    """Totals over the stages of every job tagged ``group``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict(stages=0, tasks=0, exec_cpu_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
    longest, longest_run = None, -1
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if str(sd.status()) != "COMPLETE":  # skipped: reused shuffle output
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        out["spill_mb"] += sd.diskBytesSpilled() / 1e6
        if sd.executorRunTime() > longest_run:
            longest, longest_run = sd, sd.executorRunTime()
    out["jobs"] = len(jobs)
    out["task_skew"] = _task_skew(sc, store, longest) if longest is not None else 1.0
    return out


def _task_skew(sc, store, sd) -> float:
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = store.taskSummary(sd.stageId(), sd.attemptId(), q)
    if not summary.isDefined():
        return 1.0
    run = summary.get().executorRunTime()
    return run.apply(1) / max(run.apply(0), 1.0)


class Tracer:
    """Span recorder: one job group per span, spans kept in memory."""

    def __init__(self, spark, root_pid: int):
        self.sc = spark.sparkContext
        self.root = root_pid
        self.spans: list = []
        self._groups = itertools.count()

    @contextmanager
    def span(self, layer: str):
        group = f"perfbench-{next(self._groups)}"
        rec = {"layer": layer, "rows_out": 0}
        self.sc.setJobGroup(group, layer)
        cpu0 = pyworker_cpu_s(self.root)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["pyworker_cpu_s"] = pyworker_cpu_s(self.root) - cpu0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        rec.update(stage_metrics(self.sc, group))
        self.spans.append(rec)

    def layer_medians(self, layers) -> dict:
        """``<layer>.<metric>`` medians over each layer's spans."""
        out = {}
        for layer in layers:
            recs = [r for r in self.spans if r["layer"] == layer]
            for m in SPAN_METRICS:
                out[f"{layer}.{m}"] = statistics.median(float(r[m]) for r in recs)
        return out
