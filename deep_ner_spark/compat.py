"""Session-compat helpers.

``CONNECT_ERRS``: exactly the exception types a Spark Connect session
raises when code probes classic-only surfaces (``localCheckpoint``,
``sparkSession.sparkContext``, ``.rdd``).  Compat fallbacks catch THESE,
not bare ``Exception``, so a genuine failure (disk full, dead executors,
analysis error) surfaces instead of being silently downgraded to a
recompute-per-side path.
"""

from __future__ import annotations

from pyspark.errors import PySparkAttributeError, PySparkNotImplementedError
from pyspark.sql import DataFrame

CONNECT_ERRS = (
    AttributeError,
    NotImplementedError,
    PySparkAttributeError,
    PySparkNotImplementedError,
)


def local_checkpoint(frame: DataFrame) -> DataFrame:
    """Lazy ``localCheckpoint`` if the session supports it, else the frame
    as-is (a frame read twice, e.g. both sides of a self-join, then
    recomputes per read — slower, never wrong).

    The operators checkpoint a frame that feeds more than one consumer, so
    its upstream plan runs once.  Unlike ``.cache()`` the blocks are freed
    by the ContextCleaner when the frame is garbage-collected, so repeated
    calls do not accumulate storage; the trade-off is no lineage recompute
    on executor loss (re-run the query).  The checkpointed relation keeps
    the optimizer's size estimate of the plan it replaced.
    """
    try:
        return frame.localCheckpoint(eager=False)
    except CONNECT_ERRS:
        return frame


def spread_small_scan(frame: DataFrame) -> DataFrame:
    """``frame`` round-robin repartitioned to the session's default
    parallelism when it has fewer partitions than that, else as-is.

    For a scan with fewer splits than cores (one small file is one
    split), placed on the slim columns right before an expensive
    per-row projection so that projection runs on every core.  A
    many-split corpus-scale scan skips the branch.  Sessions without
    ``.rdd`` (Spark Connect) keep the frame as-is.
    """
    try:
        parallelism = frame.sparkSession.sparkContext.defaultParallelism
        if frame.rdd.getNumPartitions() < parallelism:
            return frame.repartition(parallelism)
    except CONNECT_ERRS:
        pass
    return frame
