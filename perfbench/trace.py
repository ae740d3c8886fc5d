"""Instrumentation for the traced run, plus the host-noise labels every run
record carries.

Spark is lazy, so each operation is split two ways:

- build time: spans around the benchmark's calls into the engine's public
  functions (installed by :meth:`Tracer.wrap`), each with the py4j round
  trips made inside it;
- execution cost: Spark's own job, stage and SQL metrics for the jobs the
  operation launched, read from the application status store after the
  operation's timed span has closed.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# host labels
# ---------------------------------------------------------------------------

class HostLabels:
    """Steal share, page-cache regime and loadavg over one timed section, by
    the definitions of the repository's bench harness (``bench.py``), so the
    two record the same labels."""

    def __init__(self):
        import bench

        self._bench = bench
        self.cpu = bench._cpu_jiffies()
        self.cached = bench._cached_gb()
        self.load = bench._loadavg()

    def finish(self) -> dict:
        b = self._bench
        return {
            "steal_share": b._steal_share(self.cpu),
            "regime": b._regime(self.cached),
            "cached_gb": {"start": self.cached, "end": b._cached_gb()},
            "loadavg": {"start": self.load, "end": b._loadavg()},
        }


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, 10 ms ticks) used so far by ``root`` and
    every process below it: here the client, the JVM it launched and the
    JVM's Python workers. Children already reaped count through their
    parent's ``cutime``/``cstime``."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def seconds_since_process_start() -> float:
    """Wall time since this process was exec'd, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Spark-side counters
# ---------------------------------------------------------------------------

class SparkCounters:
    """Reads job, stage and plan metrics out of the driver's status store.
    ``private[spark]`` members are public in bytecode, so the py4j calls work
    on any session with ``spark.ui.enabled=false``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return int(self.sc.dagScheduler().nextJobId())  # py4j unboxes the AtomicInteger

    def jobs_between(self, first: int, end: int) -> dict:
        """Sum job, stage and task metrics over job ids ``first``..``end-1``."""
        self.sc.listenerBus().waitUntilEmpty()
        store = self.sc.statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ns", "gc_ms",
             "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"),
            0,
        )
        seen: set[int] = set()
        for jid in range(first, end):
            out["jobs"] += 1
            job = store.job(jid)
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ns"] += st.executorCpuTime()
                out["gc_ms"] += st.jvmGcTime()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def catalyst_ms(df) -> float:
    """Sum of the analysis, optimization and planning phases that the
    DataFrame's own QueryExecution recorded."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    total = 0.0
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total


PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")


def python_metrics(df) -> dict:
    """Python-boundary SQL metrics of an executed collect: worker time and
    bytes each way, summed over the plan's Python nodes."""
    out = {"udf_ms": 0, "boot_ms": 0, "init_ms": 0, "bytes_to_worker": 0,
           "bytes_from_worker": 0}
    names = {"pythonTotalTime": "udf_ms", "pythonBootTime": "boot_ms",
             "pythonInitTime": "init_ms", "pythonDataSent": "bytes_to_worker",
             "pythonDataReceived": "bytes_from_worker"}

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if node.nodeName() in PYTHON_NODES:
            metrics = node.metrics()
            for key, slot in names.items():
                if metrics.contains(key):
                    out[slot] += metrics.apply(key).value()
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans with py4j round-trip counts. Spans nest; a span's self
    time and self calls exclude its children. ``active`` gates the wrappers,
    so an untraced operation in a traced run pays one attribute check."""

    def __init__(self, spark):
        self.active = False
        self.calls = 0
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counting_send(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.active:
            yield
            return
        rec = {"name": name, "op": op, "parent": self._stack[-1]["name"] if self._stack else None,
               "child_s": 0.0, "child_calls": 0}
        self._stack.append(rec)
        c0, t0 = self.calls, time.perf_counter()
        try:
            yield
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["py4j_calls"] = self.calls - c0
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child_s"] += rec["s"]
                self._stack[-1]["child_calls"] += rec["py4j_calls"]
            rec["self_s"] = rec["s"] - rec.pop("child_s")
            rec["self_calls"] = rec["py4j_calls"] - rec.pop("child_calls")
            if op is None and len(self._stack) > 0:
                rec["op"] = self._stack[0]["op"]
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. Module
        functions resolve their siblings through module globals, so nested
        engine calls are caught as child spans too."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def per_function(self) -> dict[str, dict]:
        """Median seconds and py4j calls per operation, per function."""
        by: dict[str, dict[int, list[float]]] = {}
        for s in self.spans:
            if s["op"] is None:
                continue
            acc = by.setdefault(s["name"], {}).setdefault(s["op"], [0.0, 0])
            acc[0] += s["s"]
            acc[1] += s["py4j_calls"]
        return {
            name: {
                "s": statistics.median(v[0] for v in ops.values()),
                "py4j_calls": statistics.median(v[1] for v in ops.values()),
            }
            for name, ops in by.items()
        }
