"""SparkSession factory with scale-oriented defaults.

Tuned for the as-of-join + feature workload: AQE on (runtime shuffle
coalescing + skew-join splitting), Arrow for every pandas UDF boundary, and
shuffle partitioning sized for the sandbox (`local[N]`) while remaining
override-able for a real cluster via normal spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# compiled-class cache size: the library's working set (see get_spark)
CODEGEN_CACHE_ENTRIES = 1000


def package_zip() -> str:
    """Zip this package for --py-files-style shipping to executors.

    Local mode shares the driver's filesystem, but Python *workers* only
    inherit the driver's cwd — not its sys.path — so the package must ship
    explicitly, exactly as it would to a real cluster via
    ``spark-submit --py-files deep_ner_spark.zip``.
    """
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    tag = hashlib.md5(pkg_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"deep_ner_spark_{tag}.zip")
    with zipfile.ZipFile(out, "w") as zf:
        for dirpath, _, files in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return out


def _usable_cpus() -> int:
    """Cores this process may run on: every Python worker pays its import
    and per-task start-up, so more workers than cores only costs CPU."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS)
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "deep-ner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _usable_cpus())
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # one-ish partition per core locally; on a cluster this is overridden
        # by AQE coalescing from a larger initial number anyway.
        n = master[6:-1] if master.startswith("local[") else str(cpus)
        shuffle_partitions = 2 * cpus if n == "*" else max(2 * int(n), 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes coalesced partitions by the exchange's SLIM compressed
        # bytes, but the featurize pandas UDF downstream amplifies bytes
        # ~20x (feature blobs) — the default 1m floor merged the flagship's
        # exchange to ~6 partitions and serialized the expensive stage
        # (measured 4x wall-clock).  64k of slim bytes ≈ a safe ~1.3MB of
        # post-UDF output per task; at corpus scale partitions are far
        # above either floor, so this only stops harmful merging.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        # On, every PySpark Column/DataFrame call makes extra Py4J calls and
        # runs inspect.stack() to record its Python call site, on the
        # driver, for every frame built.  The cost of turning it off:
        # analysis errors lose that call-site context.  extra_conf wins.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Spark's cache of compiled generated classes holds 100 by
        # default, fewer than one near-dup job's ~150 distinct classes, so
        # every warm dup_clusters + SimHash job compiled ~145 classes again
        # (~40% of its time).  The 59 driver queries at sf0.01 use ~750
        # distinct classes; with room for 1000, a second pass over them
        # compiles 13 instead of 914 (local[4]).  A static conf: it takes
        # effect only when this call starts the JVM.  extra_conf wins.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master.startswith("local"):
        # Locally the driver JVM runs every task.  G1's adaptive young
        # generation grows eden collection by collection from its pause
        # predictions, and a touched heap page is never given back when
        # -Xms = -Xmx, so the RSS of a run depended on when collections
        # fell (±0.4 GB on perfbench `near_dup`, 3 GB heap, 4-core VM).  A
        # young generation fixed at half the heap touches the same pages
        # every run; a third of the heap did too, but its extra
        # collections cost `backfill` ~5% of its throughput.  Spark puts
        # these defaults before extraJavaOptions, so a caller's -Xmn or
        # NewRatio there still wins.
        b = b.config("spark.driver.defaultJavaOptions", "-XX:NewRatio=1")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.addPyFile(package_zip())
    return spark
