"""Build the fork-free local filesystem jar from its Java source.

    python tools/build_local_fs_jar.py                # rewrite the committed jar
    python tools/build_local_fs_jar.py --out DIR/x.jar

Compiles ``big_data_project_spark/jvm/ForkFreeLocalFileSystem.java`` with
``javac --release 17`` against the Spark install's ``hadoop-client-api``
jar and writes the classes into a jar with fixed zip timestamps and sorted
entries. javac 17 emits byte-identical classes run to run, so the committed
jar is this command's output (tests/test_local_fs.py recompiles and compares
each class). ``session.get_spark`` puts the jar on the driver classpath.
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from big_data_project_spark.session import LOCAL_FS_JAR  # noqa: E402

SOURCE = os.path.join(os.path.dirname(LOCAL_FS_JAR), "ForkFreeLocalFileSystem.java")


def javac_release() -> int | None:
    """Major version of the ``javac`` on PATH, or None without one."""
    try:
        out = subprocess.run(
            ["javac", "-version"], capture_output=True, text=True, check=True
        )
    except (OSError, subprocess.CalledProcessError):
        return None
    m = re.search(r"javac (\d+)", out.stdout + out.stderr)
    return int(m.group(1)) if m else None


def hadoop_api_jar() -> str:
    """The ``hadoop-client-api`` jar of the Spark install PySpark launches."""
    from pyspark.find_spark_home import _find_spark_home

    found = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    if len(found) != 1:
        raise FileNotFoundError(f"expected one hadoop-client-api jar, found {found}")
    return found[0]


def compile_classes() -> dict[str, bytes]:
    """Jar entry name -> class bytes, freshly compiled from SOURCE."""
    with tempfile.TemporaryDirectory(prefix="bdps_localfs_") as out:
        subprocess.run(
            ["javac", "--release", "17", "-cp", hadoop_api_jar(), "-d", out, SOURCE],
            check=True,
        )
        classes = {}
        for path in glob.glob(os.path.join(out, "**", "*.class"), recursive=True):
            with open(path, "rb") as fh:
                classes[os.path.relpath(path, out).replace(os.sep, "/")] = fh.read()
    return classes


def write_jar(classes: dict[str, bytes], path: str) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(classes):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            zf.writestr(info, classes[name])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=LOCAL_FS_JAR, help="jar to write")
    args = ap.parse_args()
    if javac_release() != 17:
        sys.exit("needs javac 17 on PATH (the committed classes are its output)")
    write_jar(compile_classes(), args.out)
    print(args.out)


if __name__ == "__main__":
    main()
