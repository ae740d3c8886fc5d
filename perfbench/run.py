#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It sets the engine up once, runs the
workload's closed loop for ``--seconds`` seconds, checks every output once
the window has closed, and prints one JSON line last: ``{"correct",
"attempted", "failed", "metrics"}``. With ``--trace 0`` the metrics are
BENCHMARK.json's ``end_to_end`` list, with ``--trace 1`` its ``per_layer``
list; a traced run also drives the
workload's companions after its window (``Workload.companions``) for the
layers no benchmark workload reaches. Everything it writes stays under
``.bench_build/`` in the checkout: the sf0.1-shaped base tables (made once),
one scratch directory per run (removed at exit) and ``runs.jsonl``, one
record per run with host-noise labels and, for traced runs, every span.

The end-to-end metrics are CPU seconds of the whole process tree (client,
JVM, Python workers): ``setup_s`` from process start until warm-up is done,
``op_cpu_s`` the median per operation of the window. On a shared host the
wall time of identical runs swings two- to threefold with the neighbours'
load, and CPU time leaves out the time the host gives to others. Wall
times (``setup_wall_s``, ``op_p50_s``) go to the stderr summary and
``runs.jsonl``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402 - needs ROOT on sys.path

BUILD = os.path.join(ROOT, ".bench_build")
#: operations per phase even when the window closes first
MIN_OPS = 2
#: seconds of closed loop a traced run gives each companion workload
COMPANION_S = 6
DRIVER_MEMORY = "2g"
#: traced functions that read or write files: their span is named ``<fn>_s``,
#: not ``<fn>.build_s``, because it times I/O rather than plan build
IO_LAYERS = ("io.", "operators.maintenance.")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return ap.parse_args(argv)


def isolate_scratch(run_dir: str) -> None:
    """Point every scratch location Spark and Python use into the checkout.
    Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp


def start_session():
    from big_data_project_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name="perfbench",
        cpus=len(os.sched_getaffinity(0)),
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def resolve(path: str, attr: str):
    owner = importlib.import_module(path)
    *parents, name = attr.split(".")
    for p in parents:
        owner = getattr(owner, p)
    return owner, name


def span_metrics(span: str) -> tuple[str, str]:
    """(time metric, py4j metric) names of a traced function's span."""
    t = f"{span}_s" if span.startswith(IO_LAYERS) else f"{span}.build_s"
    return t, f"{span}.py4j_calls"


def owned_metrics(cls) -> set[str]:
    """Per-layer metrics only this workload class produces."""
    names = set(cls.layer_metric_names)
    for _, _, span in cls.traced_functions:
        names.update(span_metrics(span))
    for comp in cls.companions:
        names |= owned_metrics(comp)
    return names


def run_phase(wl, phase, deadline, tracer, counters, traced_run, ops):
    """Closed loop until ``deadline``. In a traced run every second operation
    is traced, so the untraced ones beside it give the tracing overhead."""
    i = 0
    while i < MIN_OPS or time.perf_counter() < deadline:
        traced = traced_run and i % 2 == 1
        j0 = counters.next_job_id() if traced_run else None
        if tracer is not None:
            tracer.active = traced
        op_id = len(ops)
        c0 = trace.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        if traced:
            with tracer.span(phase.name, op=op_id):
                with tracer.span("build"):
                    built = phase.build(i)
                t1 = time.perf_counter()
                calls = tracer.calls
                j1 = counters.next_job_id()
                tracer.calls = calls  # the counter read is not the operation's
                result = phase.act(built)
        else:
            built = phase.build(i)
            t1 = time.perf_counter()
            result = phase.act(built)
        t2 = time.perf_counter()
        c2 = trace.tree_cpu_s(os.getpid())
        if tracer is not None:
            tracer.active = False
        rec = {"phase": phase.name, "index": i, "traced": traced, "wall_s": t2 - t0,
               "build_s": t1 - t0, "exec_s": t2 - t1, "cpu_s": c2 - c0}
        if traced_run:
            j2 = counters.next_job_id()
            rec["jobs"] = j2 - j0
            if traced:
                rec["build_jobs"] = j1 - j0
                rec["spark"] = counters.jobs_between(j0, j2)
                rec["py4j_calls"] = tracer.spans[-1]["py4j_calls"]  # the op's root span
                df = wl.result_frame(built)
                if df is not None:
                    rec["catalyst_ms"] = trace.catalyst_ms(df)
                    rec["python"] = trace.python_metrics(df)
        phase.keep(i, built, result, t2 - t0)
        ops.append(rec)
        i += 1


def run_companions(wl, spark, base, work_dir, seed, tracer, counters, ops, done):
    """Traced-only passes of the workload's companions (see
    ``Workload.companions``) after its own window, into the same ``ops``.
    Each companion is appended to ``done`` before it starts. Returns
    (attempted, failed, messages) of their checks."""
    attempted, failed, msgs = 0, 0, []
    for comp_cls in wl.companions:
        comp = comp_cls(spark, base, os.path.join(work_dir, comp_cls.name), seed, traced=True)
        done.append(comp)
        tracer.active = True
        with tracer.span("setup", op=-1):
            comp.prepare()
        tracer.active = False
        comp.warmup()
        for ph in comp.phases():
            run_phase(comp, ph, time.perf_counter() + COMPANION_S * ph.share, tracer, counters,
                      True, ops)
        a, f, m = comp.check()
        attempted, failed, msgs = attempted + a, failed + f, msgs + m
    return attempted, failed, msgs


def per_layer(wl, companions, ops, setup, tracer) -> dict[str, float]:
    """Per-operation layer numbers over the traced operations. Counts use
    the median; times kept by Spark in whole milliseconds use the mean, which
    keeps their digits. The generic layers describe the workload's first
    phase, the one op_cpu_s measures; per-function spans cover every phase."""
    primary = wl.phases()[0].name
    traced = [o for o in ops if o["traced"] and o["phase"] == primary]
    plain = [o for o in ops if not o["traced"] and o["phase"] == primary]
    med = lambda xs: statistics.median(list(xs))  # noqa: E731
    mean = lambda xs: statistics.fmean(list(xs))  # noqa: E731
    sp = lambda k: med(o["spark"][k] for o in traced)  # noqa: E731
    spt = lambda k: mean(o["spark"][k] for o in traced)  # noqa: E731
    py = lambda k: med(o.get("python", {}).get(k, 0) for o in traced)  # noqa: E731
    out = {
        "session.get_spark_s": setup["get_spark_s"],
        "driver.build_s": med(o["build_s"] for o in traced),
        "driver.py4j_calls": med(o["py4j_calls"] for o in traced),
        "spark.exec_s": med(o["exec_s"] for o in traced),
        "spark.jobs": sp("jobs"),
        "spark.stages": sp("stages"),
        "spark.tasks": sp("tasks"),
        "spark.executor_run_s": spt("executor_run_ms") / 1e3,
        "spark.executor_cpu_s": spt("executor_cpu_ns") / 1e9,
        "spark.gc_s": spt("gc_ms") / 1e3,
        "spark.input_bytes": sp("input_bytes"),
        "spark.shuffle_read_bytes": sp("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": sp("shuffle_write_bytes"),
        "spark.spill_bytes": sp("spill_bytes"),
        "python.udf_s": mean(o.get("python", {}).get("udf_ms", 0) for o in traced) / 1e3,
        "python.bytes_to_worker": py("bytes_to_worker"),
        "python.bytes_from_worker": py("bytes_from_worker"),
        "trace.overhead_share": med(o["wall_s"] for o in traced) / med(o["wall_s"] for o in plain) - 1,
        # 1 when a traced operation ran as many jobs as an untraced one
        "trace.jobs_match": float({o["jobs"] for o in traced} == {o["jobs"] for o in plain}),
    }
    if all("catalyst_ms" in o for o in traced):
        out["spark.catalyst_ms"] = mean(o["catalyst_ms"] for o in traced)
    phase_names = {p.name for w in (wl, *companions) for p in w.phases()}
    for name, v in tracer.per_function().items():
        if name in ("build", "setup") or name in phase_names:
            continue
        t_name, calls_name = span_metrics(name)
        out[t_name] = v["s"]
        out[calls_name] = v["py4j_calls"]
    out.update(wl.layer_metrics(traced, tracer))
    for comp in companions:
        names = {p.name for p in comp.phases()}
        out.update(comp.layer_metrics(
            [o for o in ops if o["traced"] and o["phase"] in names], tracer))
    return out


def main(argv=None) -> int:
    started = time.perf_counter()
    # interpreter start and imports, billed to set-up
    pre_main_s = trace.seconds_since_process_start() - (time.perf_counter() - started)
    args = parse_args(argv)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    try:
        importlib.import_module("big_data_project_spark")
        importlib.import_module("tools.gen_testdata")
    except ImportError as e:
        print(f"perfbench: run from a checkout of the engine ({e})", file=sys.stderr)
        return 2
    from perfbench import inputs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate_scratch(run_dir)
    spark = wl = None
    companions = []
    try:
        tracer = counters = None
        t0 = time.perf_counter()
        spark = start_session()
        t1 = time.perf_counter()
        c1 = trace.tree_cpu_s(os.getpid())
        # the one-time base-table build is the checkout's build step, not set-up
        base = inputs.materialize_base(spark, BUILD)
        base_s = time.perf_counter() - t1
        base_cpu_s = trace.tree_cpu_s(os.getpid()) - c1
        if args.trace:
            # installed before the workload starts, so that functions the
            # engine binds at stream start are the traced ones
            tracer = trace.Tracer(spark)
            counters = trace.SparkCounters(spark)
            for path, attr, name in {f for w in (cls, *cls.companions)
                                     for f in w.traced_functions}:
                tracer.wrap(*resolve(path, attr), name)
        t2 = time.perf_counter()
        wl = cls(spark, base, os.path.join(run_dir, "work"), args.seed, traced=bool(args.trace))
        if tracer is not None:
            tracer.active = True
            with tracer.span("setup", op=-1):
                wl.prepare()
            tracer.active = False
        else:
            wl.prepare()
        t3 = time.perf_counter()
        wl.warmup()
        t4 = time.perf_counter()
        # set-up runs from process start: interpreter, imports and the JVM
        # launch are set-up a user pays too. setup_s is its CPU time
        setup ={"setup_s": trace.tree_cpu_s(os.getpid()) - base_cpu_s,
                 "setup_wall_s": t4 - (started - pre_main_s) - base_s, "get_spark_s": t1 - t0,
                 "prepare_s": t3 - t2, "warmup_s": t4 - t3}

        labels = trace.HostLabels()
        ops: list[dict] = []
        phases = wl.phases()
        t_start = time.perf_counter()
        share = 0.0
        for ph in phases:
            share += ph.share
            run_phase(wl, ph, t_start + args.seconds * share, tracer, counters,
                      bool(args.trace), ops)
        window_s = time.perf_counter() - t_start
        host = labels.finish()

        t_check = time.perf_counter()
        attempted, failed, msgs = wl.check()
        check_s = time.perf_counter() - t_check
        if args.trace:
            a, f, more = run_companions(wl, spark, base, os.path.join(run_dir, "work"),
                                        args.seed, tracer, counters, ops, companions)
            attempted, failed, msgs = attempted + a, failed + f, msgs + more
        for m in msgs[:20]:
            print(f"perfbench: check failed: {m}", file=sys.stderr)

        if args.trace:
            values = per_layer(wl, companions, ops, setup, tracer)
        else:
            timed = [o for o in ops if o["phase"] == phases[0].name]
            values = {"setup_s": setup["setup_s"], "setup_wall_s": setup["setup_wall_s"],
                      "op_cpu_s": statistics.median(o["cpu_s"] for o in timed),
                      "op_p50_s": statistics.median(o["wall_s"] for o in timed)}
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        values["peak_rss_mb"] = trace.peak_rss_mb([os.getpid(), int(jvm_pid)])
        wanted = spec["per_layer" if args.trace else "end_to_end"]
        if args.trace:
            # layers only other workloads enter: this one spends nothing there
            others = set().union(*(owned_metrics(w) for w in WORKLOADS.values()))
            for name in others - owned_metrics(cls):
                values.setdefault(name, 0)
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            print(f"perfbench: no value for {missing}", file=sys.stderr)
            return 3
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "window_s": window_s, "check_s": check_s,
            "base_build_s": base_s,
            "setup": setup, "attempted": attempted, "failed": failed,
            "values": values, "host": host, "ops": ops,
            "spans": tracer.spans if tracer else [],
        }
        with open(os.path.join(BUILD, "runs.jsonl"), "a") as f:
            f.write(json.dumps(record, default=str) + "\n")
        # what the result line leaves out: host labels and, for a traced run,
        # the layer numbers only some workloads have (per-function build
        # times, streaming phases, dedup yield); runs.jsonl keeps all of it
        extra = {k: v for k, v in values.items() if k not in {m["name"] for m in wanted}}
        print(json.dumps({"host": host, "ops": len(ops), "window_s": round(window_s, 3),
                          "check_s": round(check_s, 3), "extra": extra}), file=sys.stderr)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        for w in (wl, *companions):
            if w is not None:
                w.close()
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
