"""The zip-directory re-read skip (deep_ner_spark/_zipcache.py).

PySpark workers call ``importlib.invalidate_caches()`` on every task; on
CPython < 3.12 each ``zipimporter`` then re-read its whole archive
directory.  With the hook an unchanged archive is not read again, and a
rewritten one still is.
"""

import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

import deep_ner_spark  # noqa: F401  (installs the hook)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
needs_hook = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ re-reads lazily; no hook"
)


def _write_zip(path, src):
    tmp = path.with_name(path.name + ".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("zc_probe_mod.py", src)
    os.replace(tmp, path)


@pytest.fixture
def reads(monkeypatch):
    """Archives whose central directory is read, in order."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@needs_hook
def test_hook_installed_once():
    from deep_ner_spark import _zipcache

    patched = zipimport.zipimporter.invalidate_caches
    assert patched._skips_unchanged
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is patched


@needs_hook
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    z = tmp_path / "probe.zip"
    _write_zip(z, "X = 1\n")
    imp = zipimport.zipimporter(str(z))
    imp.invalidate_caches()  # no stamp yet: reads once
    n = len(reads)
    for _ in range(3):
        imp.invalidate_caches()
    assert len(reads) == n
    assert imp.get_source("zc_probe_mod") == "X = 1\n"


def test_rewritten_archive_is_reread(tmp_path, reads):
    z = tmp_path / "probe.zip"
    _write_zip(z, "X = 1\n")
    imp = zipimport.zipimporter(str(z))
    imp.invalidate_caches()
    assert imp.get_source("zc_probe_mod") == "X = 1\n"
    n = len(reads)
    _write_zip(z, "X = 22\n")  # new inode, new size
    imp.invalidate_caches()
    assert imp.get_source("zc_probe_mod") == "X = 22\n"
    assert len(reads) > n


_WORKER_PROBE = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {root!r})
    from deep_ner_spark import textfns
    from deep_ner_spark.session import get_spark

    def probe(batches):
        # a library reference in the closure imports deep_ner_spark in the
        # worker (installing the hook) before the first batch
        import os
        import zipimport
        import pyarrow as pa

        if not hasattr(zipimport, "_probe_reads"):
            zipimport._probe_reads = 0
            real = zipimport._read_directory

            def counting(archive):
                zipimport._probe_reads += 1
                return real(archive)

            zipimport._read_directory = counting
        textfns.normalize_text("x")
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([os.getpid()], pa.int64()),
                 pa.array([zipimport._probe_reads], pa.int64())],
                names=["pid", "reads"],
            )

    spark = get_spark("zipcache-probe", master="local[1]", shuffle_partitions=1,
                      extra_conf={{"spark.ui.showConsoleProgress": "false"}})
    df = spark.range(0, 1, numPartitions=1)
    out = [tuple(df.mapInArrow(probe, "pid long, reads long").collect()[0])
           for _ in range(4)]
    spark.stop()
    print(json.dumps(out))
    """
)


@needs_hook
def test_warm_worker_task_reads_no_zip_directory(tmp_path):
    """On a local[1] worker, once two tasks have run, a further task makes
    zero central-directory reads.  (Task 1 reads everything before the
    hook arrives with the closure; task 2 reads once per importer to take
    the stamps.)"""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE.format(root=ROOT)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    pids = {pid for pid, _ in out}
    assert len(pids) == 1  # one reused worker ran all four tasks
    reads = [r for _, r in out]
    assert reads[1] > 0  # task 2 stamped the importers (and the count works)
    assert reads[2] == reads[1] and reads[3] == reads[2], reads
