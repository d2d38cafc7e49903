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
