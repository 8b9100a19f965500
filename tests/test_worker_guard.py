"""The Python-worker import-cache guard (plans/worker.py) and the
session-free import of operators/compress.py.

The guard's contract is counted, not timed: ``invalidate_caches`` re-reads
a zip archive's directory (``zipimport._read_directory``) only when the
archive changed since this process last read it.
"""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from tsdownsample_spark.plans import worker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """A zip on sys.path holding a package and a module, both imported, with
    the guard installed; yields (archive path, list of archives re-read).
    Restores the original ``invalidate_caches`` and the import state."""
    archive = str(tmp_path / "guarded.zip")
    _write_zip(
        archive,
        {"zg_pkg/__init__.py": "", "zg_pkg/sub.py": "X = 1\n", "zg_a.py": "A = 1\n"},
    )
    monkeypatch.syspath_prepend(archive)
    import zg_a  # noqa: F401
    import zg_pkg.sub  # noqa: F401

    # two importers on one archive, as pyspark.zip has one per package
    assert sum(k.startswith(archive) for k in sys.path_importer_cache) == 2
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    worker.install()
    yield archive, reads
    for name in ("zg_a", "zg_b", "zg_pkg", "zg_pkg.sub"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)
    worker._stamps.pop(archive, None)


def test_unchanged_archive_is_not_reread(guarded_zip):
    archive, reads = guarded_zip
    # the first call after install has no stamp yet: one read records it
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1
    # both importers still see the archive's modules
    assert all(
        "zg_a.py" in imp._files
        for key, imp in sys.path_importer_cache.items()
        if key.startswith(archive)
    )


def test_changed_archive_is_reread_once(guarded_zip):
    archive, reads = guarded_zip
    importlib.invalidate_caches()
    del reads[:]
    _write_zip(
        archive,
        {
            "zg_pkg/__init__.py": "",
            "zg_pkg/sub.py": "X = 1\n",
            "zg_a.py": "A = 1\n",
            "zg_b.py": "B = 2\n",
        },
    )
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import zg_b

    assert zg_b.B == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_removed_archive_empties_the_importer(guarded_zip):
    archive, reads = guarded_zip
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[archive]._files == {}


def test_second_install_is_a_no_op(guarded_zip):
    archive, reads = guarded_zip
    importlib.invalidate_caches()
    worker.install()
    assert zipimport.zipimporter.invalidate_caches is worker._invalidate_caches
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def _run_python(code):
    r = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return r


def test_package_import_installs_guard_only_in_a_worker():
    out = _run_python(
        """
        import sys, zipimport
        import tsdownsample_spark.plans.worker as w
        print(zipimport.zipimporter.invalidate_caches is w._invalidate_caches)
        import pyspark.worker_util
        del sys.modules["tsdownsample_spark"]
        import tsdownsample_spark
        print(zipimport.zipimporter.invalidate_caches is w._invalidate_caches)
        """
    )
    assert out.stdout.split() == ["False", "True"]


def test_engine_worker_skips_unchanged_archives(spark):
    """In a Python worker an engine UDF has used, the per-task
    ``importlib.invalidate_caches()`` re-reads no archive."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from tsdownsample_spark.operators.downsample import downsample_tokens

    tok = spark.range(64).repartition(8).select(
        "id", F.sequence(F.lit(0), F.col("id") + 16).alias("tokens")
    )
    assert downsample_tokens(tok, 4).count() == 64

    def probe(batches):
        import importlib
        import sys
        import zipimport

        used = "tsdownsample_spark" in sys.modules
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"used": [used], "reads": [len(reads)]})

    rows = (
        spark.range(8)
        .repartition(8)
        .mapInArrow(probe, "used boolean, reads bigint")
        .collect()
    )
    used = [r.reads for r in rows if r.used]
    assert used, rows
    assert used == [0] * len(used), rows


def test_compress_import_needs_no_session_and_survives_restart():
    """compress.py imports without a SparkSession, and its token round trip
    stays bit-exact after spark.stop() and a new session, with no reload.
    A UDF still bound to the stopped session's accumulator makes the new
    session log "Failed to update accumulator"."""
    out = _run_python(
        """
        import numpy as np
        from tsdownsample_spark.operators import compress as C
        from tsdownsample_spark.plans.session import get_spark

        rng = np.random.default_rng(5)
        rows = [
            (f"d{i}", rng.integers(0, 50_257, int(rng.integers(1, 300)))
             .astype(np.int32).tolist())
            for i in range(20)
        ] + [("dnull", None), ("dempty", [])]
        for _ in range(2):
            spark = get_spark(master="local[2]", shuffle_partitions=2)
            spark.sparkContext.setLogLevel("ERROR")
            df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
            rt = C.decompress_tokens(C.compress_tokens(df))
            got = {r["doc_id"]: r["tokens"] for r in rt.collect()}
            assert got == dict(rows)
            spark.stop()
        print("ROUNDTRIPS OK")
        """
    )
    assert "ROUNDTRIPS OK" in out.stdout
    assert "Failed to update accumulator" not in out.stderr
