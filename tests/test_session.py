"""Session helpers keyed on the Spark context's identity, and the process-level
zip-cache default that importing the session module installs."""

import importlib
import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pytest

from duckdb_ml_spark import session


def test_ensure_shipped_once_per_application_id(monkeypatch):
    monkeypatch.setattr(session, "_SHIPPED_CONTEXTS", set())
    added = []
    sc = SimpleNamespace(applicationId="local-1", addPyFile=added.append)
    spark = SimpleNamespace(sparkContext=sc)
    session.ensure_shipped(spark)
    session.ensure_shipped(spark)
    assert len(added) == 1
    # same Python object, so the same id(), but a new context behind it
    sc.applicationId = "local-2"
    session.ensure_shipped(spark)
    assert len(added) == 2
    assert added[1].endswith("duckdb_ml_spark.zip")


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="installed before 3.12 only")
def test_invalidate_caches_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    archive = tmp_path / "lazyzip.zip"

    def write(*extra):
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("lazyzip_pkg/__init__.py", "")
            zf.writestr("lazyzip_pkg/sub/__init__.py", "X = 1\n")
            for name in extra:
                zf.writestr(f"lazyzip_pkg/sub/{name}.py", "Y = 2\n")

    write()
    monkeypatch.syspath_prepend(str(archive))
    try:
        import lazyzip_pkg.sub  # one importer for the archive, one for lazyzip_pkg/

        assert lazyzip_pkg.sub.X == 1
        # zipimporter.invalidate_caches looks the frozen module's
        # _read_directory up at call time, so a wrapper counts its reads
        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda path: reads.append(path) or real(path)
        )
        importlib.invalidate_caches()  # the first call reads and stamps each importer
        assert reads.count(str(archive)) >= 2
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        write("added")  # rewritten in place: new size and mtime
        importlib.invalidate_caches()
        assert reads.count(str(archive)) >= 2
        from lazyzip_pkg.sub import added

        assert added.Y == 2
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "lazyzip_pkg"]:
            del sys.modules[name]
        for path in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
            del sys.path_importer_cache[path]


def test_worker_tasks_stop_rereading_zips_once_the_engine_is_imported(spark):
    """PySpark's worker calls importlib.invalidate_caches() at every task start.
    Once a reused worker has imported the engine, that call re-reads no zip
    whose file is unchanged (pyspark.zip, py4j, the shipped engine zip)."""
    session.ensure_shipped(spark)

    def count_reads(batches):
        import importlib
        import os
        import zipimport

        import pandas as pd

        import duckdb_ml_spark  # noqa: F401  as unpickling an engine kernel does

        n = [0]
        real = zipimport._read_directory

        def counting(path):
            n[0] += 1
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [n[0]]})

    # One task per run. Idle workers are reused first in, first out, so in a
    # session that left several idle, the same worker may come back only
    # after a few runs: run until one does (the second run in a quiet one).
    df = spark.range(1, numPartitions=1).mapInPandas(count_reads, "pid long, reads long")
    runs = [tuple(df.collect()[0]) for _ in range(3)]
    while len({pid for pid, _ in runs}) == len(runs) and len(runs) < 12:
        runs.append(tuple(df.collect()[0]))
    reused = [reads for i, (pid, reads) in enumerate(runs) if pid in {p for p, _ in runs[:i]}]
    assert reused and reused == [0] * len(reused), runs
