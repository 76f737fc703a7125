"""Local sessions start their Python workers from ``worker_daemon``: a task's
``importlib.invalidate_caches()`` no longer re-reads the zip directories of
the archives on the daemon's launch ``PYTHONPATH``, every other archive is
still re-read, and the package stays importable in the workers wherever the
driver runs from."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from wod_ascii_to_parquet_spark_spark.session import _IMPORT_ROOT, _with_worker_confs

DAEMON_CONF = "spark.python.daemon.module"
PATH_CONF = "spark.executorEnv.PYTHONPATH"


def test_launch_archives_are_not_reread(spark):
    """Two tasks each count ``zipimport._read_directory`` calls per archive
    during ``importlib.invalidate_caches()``, with a zip the task wrote on
    ``sys.path``."""

    def reread_counts(_):
        import importlib
        import shutil
        import tempfile
        import zipfile
        import zipimport

        tmp = tempfile.mkdtemp()
        own = os.path.join(tmp, "probe.zip")
        with zipfile.ZipFile(own, "w") as zf:
            zf.writestr("wod_daemon_probe.py", "X = 1\n")
        sys.path.insert(0, own)
        importlib.import_module("wod_daemon_probe")
        cached = {
            os.path.abspath(f.archive)
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        reads: dict[str, int] = {}
        read_directory = zipimport._read_directory

        def counting(archive):
            archive = os.path.abspath(archive)
            reads[archive] = reads.get(archive, 0) + 1
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
            sys.path.remove(own)
            sys.modules.pop("wod_daemon_probe", None)
            sys.path_importer_cache.pop(own, None)
            shutil.rmtree(tmp)
        launch = [
            os.path.abspath(p)
            for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
            if p and os.path.isfile(p)
        ]
        yield {
            "version": tuple(sys.version_info[:2]),
            "own": reads.get(own, 0),
            "launch": {a: reads.get(a, 0) for a in launch if a in cached},
        }

    results = spark.sparkContext.parallelize(range(2), 2).mapPartitions(reread_counts).collect()
    assert len(results) == 2
    if results[0]["version"] >= (3, 12):
        pytest.skip("Python >= 3.12 invalidates zipimporter caches lazily: nothing is re-read")
    for r in results:
        assert any(a.endswith("pyspark.zip") for a in r["launch"]), r
        assert r["launch"] == dict.fromkeys(r["launch"], 0), r
        assert r["own"] >= 1, r


def test_worker_confs_only_for_local_masters():
    caller = {PATH_CONF: "/caller/lib", "spark.driver.memory": "1g"}
    for master in ("local", "local[4]", "local[*]"):
        confs = _with_worker_confs(master, caller)
        assert confs[DAEMON_CONF] == "wod_ascii_to_parquet_spark_spark.worker_daemon"
        assert confs[PATH_CONF] == os.pathsep.join(("/caller/lib", _IMPORT_ROOT))
        assert confs["spark.driver.memory"] == "1g"
    assert _with_worker_confs("local[2]", None)[PATH_CONF] == _IMPORT_ROOT
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert _with_worker_confs(master, caller) == caller
    assert caller == {PATH_CONF: "/caller/lib", "spark.driver.memory": "1g"}


def test_get_spark_from_outside_the_repo(tmp_path):
    """A driver that finds the package only through ``sys.path`` (another
    cwd, no ``PYTHONPATH``) still runs Python tasks: a plain lambda that
    imports a module from the caller's executor ``PYTHONPATH``, and a
    ``wod_scan`` whose workers import the package."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "caller_mod.py").write_text("OFFSET = 10\n")
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {_IMPORT_ROOT!r})
        from wod_ascii_to_parquet_spark_spark.sources.wod_encode import (
            make_casts,
            wod_text,
            write_wod_file,
        )
        from wod_ascii_to_parquet_spark_spark.session import get_spark
        from wod_ascii_to_parquet_spark_spark.sources.wod_ascii import wod_scan

        spark = get_spark(master="local[2]", extra_confs={{
            "spark.driver.memory": "1g", {PATH_CONF!r}: {str(extra)!r},
        }})
        try:
            def add(x):
                import caller_mod
                return x + caller_mod.OFFSET
            print("lambda", spark.sparkContext.parallelize([1, 2], 2).map(add).collect())
            path = write_wod_file(
                os.path.join({str(tmp_path)!r}, "CTD", "OBS", "CTDO1971.gz"),
                wod_text(make_casts(4, seed=3), {{1}}),
            )
            df = wod_scan(spark, [path])
            print("scan", df.filter("ok IS NOT NULL").count(), df.filter("err IS NOT NULL").count())
        finally:
            spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.splitlines()[-2:] == ["lambda [11, 12]", "scan 3 1"], proc.stdout


def test_forked_workers_start_with_convert_imported(tmp_path):
    """The daemon imports ``pyarrow.parquet`` and the convert plan before
    it forks: the first task of a fresh session, a function pickled by
    value that imports nothing before it looks, finds both loaded."""
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {_IMPORT_ROOT!r})
        from wod_ascii_to_parquet_spark_spark.session import get_spark

        MODULES = ("pyarrow.parquet", "wod_ascii_to_parquet_spark_spark.plans.convert")

        def loaded(_):
            yield sorted(m for m in MODULES if m in sys.modules)

        spark = get_spark(master="local[1]", extra_confs={{"spark.driver.memory": "1g"}})
        try:
            print("loaded", spark.sparkContext.parallelize([0], 1).mapPartitions(loaded).collect())
        finally:
            spark.stop()
    """))
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.splitlines()[-1] == (
        "loaded [['pyarrow.parquet', 'wod_ascii_to_parquet_spark_spark.plans.convert']]"
    ), proc.stdout
