"""SparkSession factory with scale-aware defaults.

The reference configures its session at ai_powered_financial_analysis.py:36-44
(local[*], 4G driver, Kryo 1000M buffer). For a DataFrame-only engine the
Kryo tuning is unnecessary (Tungsten UnsafeRow handles shuffle encoding);
what matters at scale is AQE, Arrow for the Python boundary, a UTC session
timezone (oracle comparability), and shuffle partitioning sized to the
cluster rather than the 200 default.
"""

from __future__ import annotations

import os
import sys

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

from big_data_project_spark import bootstrap

#: the fork-free Hadoop local filesystem (``jvm/ForkFreeLocalFileSystem.java``,
#: built by ``tools/build_local_fs_jar.py``)
LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "fork-free-localfs.jar"
)
_LOCAL_FS = "bdps.hadoop.ForkFreeLocalFileSystem"


def _with_launched_here_conf(extra_conf: dict[str, str]) -> dict[str, str]:
    """``extra_conf`` plus the confs that hold only for a ``local[N]`` JVM
    this process launches: this interpreter as the workers' Python, the
    worker daemon module (importable from the ``PYTHONPATH`` that
    ``bootstrap.export_pythonpath`` set) and the fork-free local
    filesystem, whose jar goes on the driver classpath ahead of the
    caller's entries. Any other key the caller gives wins."""
    classpath = [LOCAL_FS_JAR, extra_conf.get("spark.driver.extraClassPath")]
    return {
        "spark.pyspark.python": sys.executable,
        "spark.python.daemon.module": "big_data_project_spark.worker_daemon",
        "spark.hadoop.fs.file.impl": _LOCAL_FS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": _LOCAL_FS + "$Fs",
        **extra_conf,
        "spark.driver.extraClassPath": os.pathsep.join(filter(None, classpath)),
    }


def get_spark(
    app_name: str = "big_data_project_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Defaults are read from the environment so the same code path serves
    pytest (small), bench (local[$SPARK_GRAFT_CPUS]) and a real cluster
    (master set externally via spark-submit — builder settings here are
    all master-agnostic).

    Python worker daemon: when this call picks the ``local[N]`` master
    itself AND launches the JVM (``SparkContext._gateway is None``), it sets
    ``spark.python.daemon.module=big_data_project_spark.worker_daemon``,
    which stops every Python task from re-reading unchanged zip archives
    (see ``worker_daemon``). Only there is the repo
    root sure to be on the daemon's ``PYTHONPATH``: ``export_pythonpath``
    below reaches a JVM launched after it, and local workers run on this
    host. A JVM started earlier, or a cluster master, keeps the stock
    daemon, since its ``python -m`` import of the module could fail and
    take every Python task with it. There is no switch for it.

    Worker interpreter: in the same branch, Python workers run
    ``sys.executable`` (``spark.pyspark.python``; a value in ``extra_conf``
    wins) instead of the ``$PYSPARK_PYTHON`` (default ``python3``) that a
    ``PATH`` lookup resolves, where a version-manager shim may sit: pyenv's
    is a bash script that forks 13 ``bash`` and 5 ``readlink`` per worker
    start. PySpark ships ``SparkContext.pythonExec`` with every Python
    function and, in a session it launches, never reads the conf, so the
    factory sets that attribute from it before any function is built.

    Local filesystem: in the same branch it puts ``jvm/fork-free-localfs.jar``
    first on ``spark.driver.extraClassPath`` (joined with any value in
    ``extra_conf``) and sets ``fs.file.impl`` and
    ``fs.AbstractFileSystem.file.impl`` to ``ForkFreeLocalFileSystem`` and
    its ``Fs``. Without libhadoop, Hadoop's ``RawLocalFileSystem`` forks
    ``chmod`` for every directory and file it writes and ``readlink`` for
    every ``FileContext`` rename (about 51 commands per streaming-sink
    trigger); the shim runs ``setPermission`` and ``getFileLinkStatus`` in
    the JVM through ``java.nio`` and keeps the ``.crc`` checksums. A
    classpath entry takes effect only when the JVM starts, so a JVM started
    earlier, or a cluster master, keeps the stock filesystem.
    """
    # cwd-independence: forward the repo root to python worker daemons so
    # cloudpickled Data-Source/UDTF classes re-import cleanly (bootstrap.py).
    bootstrap.export_pythonpath()

    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    extra_conf = extra_conf or {}
    python_exec = None
    builder = SparkSession.builder
    # Respect an externally-set master: only default to local[N] when none is
    # configured, so the same factory attaches to a real cluster unchanged.
    # spark-submit's --master can't be seen via SparkConf() before a
    # SparkContext exists (the Python-side conf ignores loadDefaults), so
    # check the submit env vars it DOES populate: PYSPARK_SUBMIT_ARGS carries
    # the full arg string, SPARK_SUBMIT_OPTS any -Dspark.master override.
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "") + " " + os.environ.get(
        "SPARK_SUBMIT_OPTS", ""
    )
    if not (
        os.environ.get("MASTER")
        or os.environ.get("SPARK_MASTER")
        or "--master" in submit_args
        or "spark.master" in submit_args
        or SparkConf().contains("spark.master")
    ):
        builder = builder.master(f"local[{cpus}]")
        if SparkContext._gateway is None:
            extra_conf = _with_launched_here_conf(extra_conf)
            python_exec = extra_conf["spark.pyspark.python"]
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if python_exec is not None:
        spark.sparkContext.pythonExec = python_exec
    spark.sparkContext.setLogLevel("WARN")
    # Belt 2 for sessions attached to an already-running JVM: ship the
    # package zip so workers can import it regardless of cwd/PYTHONPATH.
    bootstrap.ensure_worker_imports(spark)
    return spark
