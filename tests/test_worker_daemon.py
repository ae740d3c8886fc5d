"""The Python worker daemon that skips re-reading unchanged zip archives
(``big_data_project_spark/worker_daemon.py``): live on ``get_spark``'s local
sessions, transparent to late ``addPyFile`` files, exact on a rewritten
archive, and absent where the daemon could not import it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "big_data_project_spark.worker_daemon"


def test_get_spark_local_session_runs_the_daemon(spark):
    daemon = DAEMON

    def daemon_state(_):
        import sys
        import zipimport

        yield (
            daemon in sys.modules,
            zipimport.zipimporter.invalidate_caches.__name__,
        )

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON
    state = spark.sparkContext.parallelize([0], 1).mapPartitions(daemon_state)
    assert state.collect() == [(True, "_invalidate_if_changed")]


def test_get_spark_local_session_runs_the_drivers_interpreter(spark):
    """Python workers on a ``get_spark`` local session start as the
    driver's own interpreter, not as the ``python`` a ``PATH`` lookup
    finds: a version-manager shim there (pyenv's is a bash script) forks
    a dozen commands per worker start, and pyenv's also puts its bin dir
    in front of the worker's ``PATH``. A caller's value still wins."""
    from big_data_project_spark.session import _with_launched_here_conf

    sc = spark.sparkContext
    assert sc.pythonExec == sys.executable
    assert sc.getConf().get("spark.pyspark.python") == sys.executable

    def interpreter(_):
        import os
        import sys

        yield (sys.executable, os.environ.get("PATH"))

    got = sc.parallelize([0], 1).mapPartitions(interpreter).collect()
    assert got == [(sys.executable, os.environ.get("PATH"))]

    mine = {"spark.pyspark.python": "/usr/local/bin/python3"}
    assert _with_launched_here_conf(mine)["spark.pyspark.python"] == (
        "/usr/local/bin/python3"
    )


def test_late_addpyfile_imports_on_reused_workers(spark, tmp_path):
    """pyspark invalidates import caches per task so that a file added after
    a worker started is importable there; the daemon must keep that for a
    ``.py`` (FileFinder) and a ``.zip`` (a new archive, a new importer)."""
    sc = spark.sparkContext
    tag = f"{os.getpid()}_{tmp_path.name}".replace("-", "_")
    py_mod, zip_mod = f"bdps_late_py_{tag}", f"bdps_late_zip_{tag}"

    def probe(_):
        import importlib
        import os

        got = []
        for name in (py_mod, zip_mod):
            try:
                got.append(importlib.import_module(name).VALUE)
            except ModuleNotFoundError:
                got.append(None)
        yield (os.getpid(), *got)

    parts = 2 * sc.defaultParallelism
    first = sc.parallelize(range(parts), parts).mapPartitions(probe).collect()
    assert {r[1:] for r in first} == {(None, None)}

    (tmp_path / f"{py_mod}.py").write_text("VALUE = 'py'\n")
    with zipfile.ZipFile(tmp_path / f"{zip_mod}.zip", "w") as zf:
        zf.writestr(f"{zip_mod}.py", "VALUE = 'zip'\n")
    sc.addPyFile(str(tmp_path / f"{py_mod}.py"))
    sc.addPyFile(str(tmp_path / f"{zip_mod}.zip"))

    second = sc.parallelize(range(parts), parts).mapPartitions(probe).collect()
    assert {r[1:] for r in second} == {("py", "zip")}
    # the same worker processes served both jobs
    assert {r[0] for r in first} & {r[0] for r in second}


@pytest.fixture
def daemon_patch(monkeypatch):
    """The daemon's zipimporter patch inside this process, undone after."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    from big_data_project_spark import worker_daemon

    monkeypatch.setattr(
        cls, "invalidate_caches", worker_daemon._invalidate_if_changed
    )
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    return reads


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("bdps_zmod.py", f"VALUE = {value!r}\n")
        zf.writestr("bdps_zpkg/__init__.py", "")
        zf.writestr("bdps_zpkg/sub.py", f"VALUE = {value!r}\n")


def _fresh_values():
    for name in ("bdps_zmod", "bdps_zpkg.sub", "bdps_zpkg"):
        sys.modules.pop(name, None)
    return (
        importlib.import_module("bdps_zmod").VALUE,
        importlib.import_module("bdps_zpkg.sub").VALUE,
    )


def test_rewritten_zip_is_reread_and_unchanged_zip_is_not(
    daemon_patch, tmp_path, monkeypatch
):
    """Two importers share the archive (the root and the ``bdps_zpkg``
    prefix); each keeps its own stamp, so both see the rewrite."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    try:
        assert _fresh_values() == (1, 1)
        importlib.invalidate_caches()  # first call per importer: stock read
        daemon_patch.clear()

        importlib.invalidate_caches()
        assert archive not in daemon_patch

        _write_zip(archive, "rewritten with a different size")
        importlib.invalidate_caches()
        assert daemon_patch.count(archive) == 2
        assert _fresh_values() == ("rewritten with a different size",) * 2
    finally:
        for name in ("bdps_zmod", "bdps_zpkg.sub", "bdps_zpkg"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]


_PRESTARTED_JVM = """
import sys
from pyspark.sql import SparkSession, functions as F
from pyspark.sql import types as T

first = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
first.sparkContext.setLogLevel("ERROR")
sys.path.insert(0, {repo!r})
from big_data_project_spark.session import get_spark

plus_one = F.udf(lambda x: x + 1, T.LongType())


def check(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module", None) is None
    # and the stock local filesystem: the shim's jar is not on its classpath
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem.get(
        spark._jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    assert fs.getRaw().getClass().getName() == "org.apache.hadoop.fs.RawLocalFileSystem"
    assert conf.get("spark.hadoop.fs.file.impl", None) is None
    assert [r[0] for r in spark.range(3).select(plus_one("id")).collect()] == [1, 2, 3]


check(get_spark(cpus="2", shuffle_partitions=2))
# get_spark picks local[N] itself only when no master is configured; clear
# the running JVM's spark.master so it does, on the JVM launched above.
first.stop()
first._jvm.System.clearProperty("spark.master")
spark = get_spark(cpus="2", shuffle_partitions=2)
assert spark.sparkContext.master == "local[2]"
check(spark)
print("STOCK_DAEMON_OK")
spark.stop()
"""


def test_prestarted_jvm_keeps_the_stock_daemon(tmp_path):
    """A JVM launched before ``get_spark`` has no repo root on its daemon's
    PYTHONPATH, so the daemon module must stay unset there, also when
    ``get_spark`` picks the local master, or every Python task would fail
    at the daemon's ``-m`` import. The same holds for the fork-free local
    filesystem, whose jar is not on that JVM's classpath."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _PRESTARTED_JVM.format(repo=REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "STOCK_DAEMON_OK" in proc.stdout, proc.stderr[-3000:]
