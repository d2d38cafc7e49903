"""Iceberg-or-Parquet table IO seam (SURVEY §7; north_rule input is an
Iceberg table of transcripts).

The engine's scale layout is an Iceberg table partitioned by ``days(ts)``
and bucketed by ``conv_id`` (bucket count ~2x executor cores), so the as-of
exchange co-locates with the storage layout and time-range queries prune
partitions at the snapshot level.  The sandbox has no Iceberg jar, so every
call degrades to a Parquet directory with the same logical layout; the
format decision is one seam (``_iceberg_available``) and the rest of the
engine is storage-agnostic (it only sees DataFrames).

``snapshot_id`` feeds the lineage records of ``plans/checkpoint.py`` —
Iceberg's catalog snapshot when available, else a deterministic fingerprint
of the file listing (path, size, content tail = the parquet footer), so a
byte-identical rewrite keeps its id and any data change almost surely
changes it (the footer carries row counts and column stats).
"""

from __future__ import annotations

import hashlib
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from deep_ner_spark.obs import named


def _is_catalog_table(location: str) -> bool:
    """Catalog table names have no path separators ('db.tbl'); paths do."""
    return "/" not in location and "\\" not in location


def _fs_path_exists(spark: SparkSession, location: str) -> bool:
    """Existence probe against the session's DEFAULT Hadoop filesystem, so
    the parquet-directory fallback resolves the same way the reader will
    (HDFS/S3 on a cluster, local FS in the sandbox)."""
    try:
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(location)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(fs.makeQualified(path)))
    except Exception:
        return os.path.exists(location)


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, location: str, fmt: str = "auto") -> DataFrame:
    """Read a transcript-shaped table from Iceberg when available, else
    Parquet.  ``location`` is a catalog table name or a directory path."""
    if fmt == "iceberg" or (fmt == "auto" and _is_catalog_table(location)):
        if not _iceberg_available(spark):
            if fmt == "iceberg":
                raise RuntimeError(
                    "Iceberg runtime jar not on the classpath; add "
                    "org.apache.iceberg:iceberg-spark-runtime or use fmt='parquet'"
                )
            # auto mode, no Iceberg runtime: a bare name like 'data' may be a
            # relative Parquet directory (write_table would have written one)
            # — read it back symmetrically instead of erroring.  The probe
            # goes through the JVM Hadoop FileSystem, not the driver's local
            # os.path: on a deployment whose default FS is remote (HDFS/S3)
            # a local check is wrong in both directions (remote dirs are
            # invisible locally; stray local dirs shadow catalog names).
            if _fs_path_exists(spark, location):
                return spark.read.parquet(location)
            raise ValueError(
                f"{location!r} looks like a catalog table but no Iceberg "
                "runtime is available in this sandbox"
            )
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def write_table(
    df: DataFrame,
    location: str,
    fmt: str = "auto",
    mode: str = "append",
    partition_by: Sequence[str] = (),
) -> None:
    """Write with the engine's scale layout.

    Iceberg appends are snapshot-atomic; the Parquet fallback keeps the
    identical directory layout (partition columns -> directories), so a
    later Iceberg migration is a metadata import, not a rewrite.
    """
    use_iceberg = fmt == "iceberg" or (
        fmt == "auto" and _is_catalog_table(location) and _iceberg_available(df.sparkSession)
    )
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if use_iceberg:
        w.format("iceberg").saveAsTable(location)
    else:
        w.parquet(location)


@named("table_io.snapshot_id")
def snapshot_id(spark: SparkSession, location: str) -> str:
    """Stable input-snapshot identifier for lineage records.

    Iceberg: the current snapshot id from the catalog metadata table.
    Parquet fallback: md5 over the sorted (relpath, size, tail-bytes md5)
    listing.  The tail of a parquet file is its footer (row counts, column
    stats), so a byte-identical rewrite or an mtime touch keeps the id,
    while any data change almost surely changes it.
    """
    if _is_catalog_table(location) and _iceberg_available(spark):
        row = (
            spark.read.format("iceberg")
            .load(f"{location}.snapshots")
            .orderBy("committed_at", ascending=False)
            .select("snapshot_id")
            .first()
        )
        return str(row["snapshot_id"]) if row else ""
    h = hashlib.md5()
    for root, _dirs, files in sorted(os.walk(location)):
        for name in sorted(files):
            if name.startswith("_") or name.startswith("."):
                continue  # commit markers / CRCs are not data
            p = os.path.join(root, name)
            st = os.stat(p)
            with open(p, "rb") as f:
                if st.st_size > 65536:
                    f.seek(-65536, os.SEEK_END)
                tail = hashlib.md5(f.read(65536)).hexdigest()
            h.update(
                f"{os.path.relpath(p, location)}:{st.st_size}:{tail}".encode()
            )
    return h.hexdigest()
