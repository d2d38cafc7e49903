"""Job names and per-stage reports, read from Spark's own status store.

Every library function that runs a Spark action itself is wrapped in
:func:`named`: its jobs carry the description ``operator.stage``
(``features.fit``, ``dedup.cc``, ...), the caller's description comes back
afterwards and the job group stays the caller's.  Lazy work is reported
under the action that runs it.  Under Spark Connect naming does nothing.
"""

from __future__ import annotations

import functools
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from deep_ner_spark.compat import CONNECT_ERRS

_DESC = "spark.job.description"
_GROUP = "spark.jobGroup.id"


@contextmanager
def _local_props(sc, props: dict):
    """Set SparkContext local properties for the block, then restore the
    caller's values (``None`` removes a property)."""
    saved = {k: sc.getLocalProperty(k) for k in props}
    for k, v in props.items():
        sc.setLocalProperty(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


def named(name: str):
    """Decorator: the Spark jobs the function starts run under job
    description ``name``."""

    def wrap(fn):
        @functools.wraps(fn)
        def run(*args, **kwargs):
            try:
                sc = SparkSession.active().sparkContext
            except CONNECT_ERRS:
                return fn(*args, **kwargs)
            with _local_props(sc, {_DESC: name}):
                return fn(*args, **kwargs)

        return run

    return wrap


def _opt(jopt):
    return jopt.get() if jopt.isDefined() else None


def stage_report(spark: SparkSession, action) -> list:
    """Run ``action()`` under a fresh job group (the caller's group and
    description are restored afterwards) and return one dict per stage
    that ran, in job and stage order.  Left out: skipped stages, whose
    shuffle output was reused, and stages the status store no longer holds
    (it keeps ``spark.ui.retainedStages``, evicting skipped ones first).

    Fields: ``job``, ``stage``, ``name`` (the job description it ran
    under), ``nodes`` (its plan nodes, e.g. ``Scan parquet,
    WholeStageCodegen (3), Exchange``), ``submit_s``/``end_s`` (since the
    call), ``tasks``, ``cpu_s`` (executor CPU), ``shuffle_read_mb``,
    ``shuffle_write_mb``, ``spill_mb`` (to disk) and
    ``task_p50_s``/``task_max_s`` (task run time).
    """
    sc = spark.sparkContext
    group = f"obs.stage_report-{uuid.uuid4().hex}"
    t0_ms = time.time() * 1e3
    # the description is listed so that it comes back even if the action sets one
    with _local_props(sc, {_GROUP: group, _DESC: sc.getLocalProperty(_DESC)}):
        action()
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    rows = []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(job)
        for sid in sorted(info.stageIds if info else ()):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted (spark.ui.retainedStages)
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            summary = _opt(store.taskSummary(sid, sd.attemptId(), quantiles))
            p50, mx = (0.0, 0.0) if summary is None else (
                summary.executorRunTime().apply(i) / 1e3 for i in (0, 1)
            )
            nodes = store.operationGraphForStage(sid).rootCluster().childClusters()
            rows.append(dict(
                job=job,
                stage=sid,
                name=_opt(sd.description()),
                nodes=", ".join(nodes.apply(i).name().strip() for i in range(nodes.size())),
                submit_s=(_opt(sd.submissionTime()).getTime() - t0_ms) / 1e3,
                end_s=(_opt(sd.completionTime()).getTime() - t0_ms) / 1e3,
                tasks=sd.numCompleteTasks(),
                cpu_s=sd.executorCpuTime() / 1e9,
                shuffle_read_mb=sd.shuffleReadBytes() / 1e6,
                shuffle_write_mb=sd.shuffleWriteBytes() / 1e6,
                spill_mb=sd.diskBytesSpilled() / 1e6,
                task_p50_s=p50,
                task_max_s=mx,
            ))
    return rows
