"""The session's Python worker set-up: the daemon module that makes
zip-import cache invalidation lazy, and the worker PYTHONPATH that lets
workers import the package whatever the driver's working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_python(code: str, cwd: str, timeout: float) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout,
    )


def test_pydaemon_backport_invalidates_lazily(tmp_path):
    """In a fresh interpreter, so the test process stays unpatched:
    after install(), invalidate_caches() only drops the archive from the
    directory cache; a module added to the zip afterwards is importable
    (the addPyFile contract), and an unreadable archive reads as empty
    without being cached."""
    out = _run_python(
        f"""
        import importlib, os, sys, zipfile, zipimport
        sys.path.insert(0, {ROOT!r})
        from mysql_clickhouse_replication_spark import _pydaemon

        def write_zip(path, names):
            with zipfile.ZipFile(path, "w") as zf:
                for name in names:
                    zf.writestr(name + ".py", f"NAME = {{name!r}}\\n")

        archive = os.path.abspath("lib.zip")
        write_zip(archive, ["mod_a"])
        sys.path.insert(0, archive)
        import mod_a  # this importer exists before the patch
        assert mod_a.NAME == "mod_a"
        assert _pydaemon.install() is (sys.version_info < (3, 13))
        if sys.version_info < (3, 13):
            assert zipimport.zipimporter.invalidate_caches is _pydaemon._lazy_invalidate_caches
        importer = sys.path_importer_cache[archive]

        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache

        os.remove(archive)
        write_zip(archive, ["mod_a", "mod_b"])
        import mod_b
        assert mod_b.NAME == "mod_b"
        assert set(zipimport._zip_directory_cache[archive]) == {{"mod_a.py", "mod_b.py"}}

        importlib.invalidate_caches()
        os.remove(archive)
        assert importer._files == {{}}
        assert archive not in zipimport._zip_directory_cache

        # a new importer caches the directory it reads
        write_zip(archive, ["mod_c"])
        importlib.invalidate_caches()
        fresh = zipimport.zipimporter(archive)
        assert set(fresh._files) == {{"mod_c.py"}}
        assert zipimport._zip_directory_cache[archive] is fresh._files
        print("ok")
        """,
        cwd=str(tmp_path), timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_pydaemon_leaves_zipimport_alone_on_313(tmp_path):
    """From CPython 3.13 on, the interpreter's own invalidation is lazy
    and install() patches nothing."""
    out = _run_python(
        f"""
        import sys, zipimport
        sys.path.insert(0, {ROOT!r})
        from mysql_clickhouse_replication_spark import _pydaemon

        before = dict(vars(zipimport.zipimporter))
        sys.version_info = (3, 13, 0, "final", 0)
        assert _pydaemon.install() is False
        assert dict(vars(zipimport.zipimporter)) == before
        print("ok")
        """,
        cwd=str(tmp_path), timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_python_workers_run_under_the_engine_daemon(spark):
    """get_spark names the daemon module, and the workers forked from it
    invalidate zip-import caches lazily."""
    from mysql_clickhouse_replication_spark import _pydaemon

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == _pydaemon.__name__

    def report(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        inv = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {
                "fn": [f"{inv.__module__}.{inv.__qualname__}"],
                "lazy_by_default": [sys.version_info >= (3, 13)],
            }
        )

    (row,) = spark.range(8).coalesce(1).mapInArrow(
        report, "fn string, lazy_by_default boolean"
    ).collect()
    if row.lazy_by_default:
        assert row.fn == "zipimport.zipimporter.invalidate_caches"
    else:
        assert row.fn == f"{_pydaemon.__name__}._lazy_invalidate_caches"


def test_encode_batches_from_a_foreign_cwd(tmp_path):
    """A driver script run outside the checkout, with PYTHONPATH unset,
    still gets Python workers that import the package: the RowBinary
    payloads encoded on the executors decode to the input rows."""
    out = _run_python(
        f"""
        import os, sys
        sys.path.insert(0, {ROOT!r})
        os.environ.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
        from mysql_clickhouse_replication_spark.session import get_spark
        from mysql_clickhouse_replication_spark.sources import rowbinary as rb

        rows = [(1, "a", 1.5), (2, None, None), (None, "c", -0.25)]
        types = ["Nullable(Int64)", "Nullable(String)", "Nullable(Float64)"]
        spark = get_spark("foreign-cwd")
        try:
            df = spark.createDataFrame(rows, "pk long, v string, x double").coalesce(1)
            got = [
                row
                for p in rb.encode_batches(df, types).collect()
                for row in rb.decode_rows(types, bytes(p.payload))
            ]
        finally:
            spark.stop()
        assert got == rows, got
        print("ok")
        """,
        cwd=str(tmp_path), timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().splitlines()[-1] == "ok"
