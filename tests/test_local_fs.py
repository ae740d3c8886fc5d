"""The fork-free Hadoop local filesystem
(``big_data_project_spark/jvm/ForkFreeLocalFileSystem.java``): the same
modes, link statuses, rename and checksum behaviour as the stock
``LocalFileSystem`` run on sibling paths, no ``chmod``/``readlink`` fork on
a ``get_spark`` session, the stock filesystem on a plain-builder session,
and a committed jar that is the build tool's output."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from big_data_project_spark.session import LOCAL_FS_JAR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHIM = "bdps.hadoop.ForkFreeLocalFileSystem"


def _java_class(err: Py4JJavaError) -> str:
    return err.java_exception.getClass().getName()


def _filesystems(spark, umask: str):
    """(stock, shim) LocalFileSystem instances, uncached, on a copy of the
    session's Hadoop conf with ``umask``."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(
        spark._jsc.hadoopConfiguration()
    )
    conf.set("fs.permissions.umask-mode", umask)
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(uri, conf)
    shim = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
    assert shim.getClass().getName() == SHIM
    assert shim.getRaw().getClass().getName() == SHIM + "$Raw"
    return stock, shim


def _modes(root):
    return {
        os.path.relpath(os.path.join(d, n), root): stat.S_IMODE(
            os.lstat(os.path.join(d, n)).st_mode
        )
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    }


@pytest.mark.parametrize("umask", ["022", "077"])
def test_modes_match_the_stock_filesystem(spark, tmp_path, umask):
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    for fs, side in zip(_filesystems(spark, umask), ("stock", "shim")):
        root = tmp_path / side
        p = lambda *parts: Path(str(root.joinpath(*parts)))  # noqa: B023,E731
        assert fs.mkdirs(p("a", "b"))
        fs.create(p("a", "created")).close()
        assert fs.createNewFile(p("a", "new"))
        for mode in (0o600, 0o750, 0o777, 0o1777):
            assert fs.mkdirs(p("modes", f"dir_{mode:o}"))
            fs.create(p("modes", f"file_{mode:o}")).close()
            for name in (f"dir_{mode:o}", f"file_{mode:o}"):
                fs.setPermission(p("modes", name), FsPermission(mode))
        fs.close()
    stock, shim = _modes(tmp_path / "stock"), _modes(tmp_path / "shim")
    assert shim == stock
    # the cases are the ones meant: .crc files, the sticky-bit fallback
    assert stock["a/.created.crc"] and stock["modes/dir_1777"] == 0o1777


def test_file_link_status_matches_the_stock_filesystem(spark, tmp_path):
    (tmp_path / "f").write_text("data")
    (tmp_path / "d").mkdir()
    os.symlink(tmp_path / "f", tmp_path / "file_link")
    os.symlink(tmp_path / "d", tmp_path / "dir_link")
    os.symlink("f", tmp_path / "relative_link")
    os.symlink(tmp_path / "missing", tmp_path / "dangling_link")
    stock, shim = (fs.getRaw() for fs in _filesystems(spark, "022"))
    Path = spark._jvm.org.apache.hadoop.fs.Path

    def status(fs, path):
        try:
            return fs.getFileLinkStatus(Path(path)).toString()
        except Py4JJavaError as err:
            return _java_class(err)

    cases = 0
    for name in ("f", "file_link", "dir_link", "relative_link", "dangling_link"):
        local = str(tmp_path / name)
        for path in (local, "file:" + local):
            assert status(shim, path) == status(stock, path), path
            cases += 1
    assert cases == 10
    # a real link keeps its target; a qualified dangling link is not found
    assert "symlink=" in status(stock, str(tmp_path / "dangling_link"))
    assert status(stock, "file:" + str(tmp_path / "dangling_link")) == (
        "java.io.FileNotFoundException"
    )


def test_filecontext_rename_onto_an_existing_file_still_fails(spark, tmp_path):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jvm.java.net.URI("file:///"), conf
    )
    assert fc.getDefaultFileSystem().getClass().getName() == SHIM + "$Fs"
    (tmp_path / "src").write_text("src")
    (tmp_path / "dst").write_text("dst")
    Rename = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(Rename, 1)
    opts[0] = Rename.NONE
    Path = jvm.org.apache.hadoop.fs.Path
    with pytest.raises(Py4JJavaError) as err:
        fc.rename(
            Path("file:" + str(tmp_path / "src")),
            Path("file:" + str(tmp_path / "dst")),
            opts,
        )
    assert _java_class(err.value) == "org.apache.hadoop.fs.FileAlreadyExistsException"
    assert (tmp_path / "dst").read_text() == "dst"


def test_corrupted_crc_still_raises_checksum_exception(spark, tmp_path):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert fs.getClass().getName() == SHIM
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "data.bin"))
    out = fs.create(path)
    out.write(bytearray(range(256)) * 8)
    out.close()
    crc = tmp_path / ".data.bin.crc"
    body = bytearray(crc.read_bytes())
    body[-1] ^= 0xFF  # a checksum value, not the header
    crc.write_bytes(bytes(body))
    stream = fs.open(path)
    try:
        with pytest.raises(Py4JJavaError) as err:
            stream.readFully(0, spark.sparkContext._gateway.new_array(jvm.byte, 2048))
    finally:
        stream.close()
    assert _java_class(err.value) == "org.apache.hadoop.fs.ChecksumException"


_CENSUS = """
import os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
mode, tmp = sys.argv[1], sys.argv[2]
if mode == "engine":
    from big_data_project_spark.session import get_spark
    spark = get_spark(cpus="2", shuffle_partitions=2,
                      extra_conf={{"spark.driver.extraClassPath": tmp + "/cp"}})
else:
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false").getOrCreate())
from big_data_project_spark import streaming as st

jvm = spark._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
print("FS", fs.getClass().getName(), fs.getRaw().getClass().getName())
print("CALLER_CP", loader.getResource("bdps_probe.txt") is not None)
# the first task fetches the package zip added by get_spark, which Spark
# marks executable with a forked `chmod a+x`, once per session
spark.range(1).count()
open(tmp + "/census.log", "w").close()  # count from here on

spark.range(100).write.parquet(tmp + "/table")
print("READ", spark.read.parquet(tmp + "/table").count())
src = tmp + "/src"
os.makedirs(src)
q = st.versioned_upsert_sink(st.read_event_stream(spark, src), tmp + "/target",
                             tmp + "/ckpt", "user_id")
for i in range(2):
    batch = spark.createDataFrame(
        [(i, "2024-01-01 10:00:00", i, "click", 1.0, "{{}}")],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string").withColumn("ts", F.to_timestamp("ts"))
    batch.coalesce(1).write.parquet(tmp + f"/stage{{i}}")
    part = next(f for f in os.listdir(tmp + f"/stage{{i}}") if f.endswith(".parquet"))
    os.rename(tmp + f"/stage{{i}}/" + part, src + f"/b{{i}}.parquet")
    q.processAllAvailable()
q.stop()
print("VERSIONS", len([d for d in os.listdir(tmp + "/target") if d.startswith("v=")]))
spark.stop()
"""


def _census(tmp_path, mode):
    """Run the census script with logging ``chmod``/``readlink`` wrappers
    first on PATH; returns (stdout lines, commands the wrappers saw)."""
    bindir = tmp_path / "bin"
    bindir.mkdir()
    log = tmp_path / "census.log"
    for cmd in ("chmod", "readlink"):
        wrapper = bindir / cmd
        wrapper.write_text(
            f'#!/bin/sh\necho "{cmd} $*" >> {log}\nexec {shutil.which(cmd)} "$@"\n'
        )
        wrapper.chmod(0o755)
    (tmp_path / "cp").mkdir()
    (tmp_path / "cp" / "bdps_probe.txt").write_text("probe")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PATH"] = f"{bindir}{os.pathsep}{env['PATH']}"
    proc = subprocess.run(
        [sys.executable, "-c", _CENSUS.format(repo=REPO), mode, str(tmp_path)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "VERSIONS 2" in proc.stdout, proc.stderr[-3000:]
    return proc.stdout.splitlines(), log.read_text().splitlines()


def test_get_spark_session_forks_no_chmod_or_readlink(tmp_path):
    """Also: a caller's own ``spark.driver.extraClassPath`` is kept beside
    the shim's jar."""
    out, forked = _census(tmp_path, "engine")
    assert f"FS {SHIM} {SHIM}$Raw" in out
    assert "CALLER_CP True" in out
    assert "READ 100" in out
    assert forked == []


def test_plain_builder_session_keeps_the_stock_filesystem(tmp_path):
    """The stock ``file:`` class is whichever LocalFileSystem the service
    loader lists last (Hive's ``ProxyLocalFileSystem`` on some installs);
    its raw filesystem is Hadoop's own either way."""
    out, forked = _census(tmp_path, "plain")
    fs_line = next(line for line in out if line.startswith("FS "))
    assert fs_line.endswith(" org.apache.hadoop.fs.RawLocalFileSystem"), fs_line
    assert any(c.startswith("chmod ") for c in forked)
    assert any(c.startswith("readlink ") for c in forked)


def test_package_zip_ships_python_files_only():
    """Python workers import the package from this zip; the jar and the
    Java source stay on the driver."""
    from big_data_project_spark import bootstrap

    with zipfile.ZipFile(bootstrap.package_zip()) as zf:
        names = zf.namelist()
    assert "big_data_project_spark/session.py" in names
    assert [n for n in names if not n.endswith(".py")] == []


def test_committed_jar_is_the_build_output():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        import build_local_fs_jar as build
    finally:
        sys.path.remove(os.path.join(REPO, "tools"))
    if build.javac_release() != 17:
        pytest.skip("needs javac 17 on PATH")
    with zipfile.ZipFile(LOCAL_FS_JAR) as zf:
        committed = {n: zf.read(n) for n in zf.namelist()}
    fresh = build.compile_classes()
    assert sorted(fresh) == sorted(committed)
    for name, data in fresh.items():
        assert data == committed[name], f"{name} differs from the build"
