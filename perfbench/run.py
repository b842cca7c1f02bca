"""Selector benchmark: discretize -> fit -> project on local[2].

    python3 perfbench/run.py --workload pipeline_mim|wide_ref|dense_deep \
        --seed N --seconds S --trace 0|1

Run from the repository root.  The run sets up three times and reports
the median as ``setup_s``: each set-up generates the seeded input (a
child process, overlapped with the session start), starts a Spark
session -- the first launches the JVM and SparkContext, the next two open
a new SparkSession on it -- and runs one untimed warm-up operation.  It
computes the NumPy reference once (in a child process, while
``WARM_OPS`` more untimed operations run), then repeats the workload's
operation for ``--seconds`` seconds, checking every result against it.

- ``--trace 0``: untraced operations -> end-to-end metrics
  (``op_cpu_s``, ``cells_per_cpu_s``, ``setup_s``, ``driver_rss_mb``);
  the wall-clock ``op_s`` and ``cells_per_s`` are in the context line.
- ``--trace 1``: one set-up, then traced and untraced operations
  alternate -> per-layer metrics from ``tracer.py`` (medians over the
  traced operations) and the tracing overhead.

The last stdout line is the result JSON; the line before it carries the
run's context (samples, input size, pack routes, error rate, host).
Exits 2 without a result when the program is not beside the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# local[2] on a 4-vCPU host: at local[4] the executor threads, their
# Python workers, the driver and the JVM's own threads oversubscribe the
# 4 vCPUs; pipeline_mim's operation read ~20% faster at local[2] in the
# same hour (2.4-2.8 s against 2.7-4.1 s)
CPUS = 2
N_SETUPS = 3
# untimed operations between set-up and timing: without one the first
# timed operation often spent ~5-25% more CPU than the later ones (the
# JVM was still compiling)
WARM_OPS = 1
MIN_OPS = 3
PACKAGE = "flink_infotheoretic_feature_selection_spark"


def calibration_kernel() -> float:
    """Seconds of constant single-threaded NumPy work — the kernel of
    ``bench.py::calibration_probe``; host contention inflates it the way
    it inflates the Spark operations."""
    import numpy as np

    a = np.arange(4_000_000, dtype=np.float64) * 1e-7 + 0.1
    t0 = time.perf_counter()
    s = 0.0
    for _ in range(48):
        a = np.sqrt(a * 1.0000001 + 0.25)
        s += float(a[::65536].sum())
    return time.perf_counter() - t0


def job_floor(sc) -> float:
    """Median seconds of a one-task Spark job (of three): the launch floor."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sc.parallelize([1], 1).count()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def configure_env(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``; must run
    before pyspark launches the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    # the JVM's Python workers and every child hash strings alike in
    # every run
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def start_session():
    from flink_infotheoretic_feature_selection_spark.session import get_spark

    return get_spark("perfbench", cpus=CPUS)


def shutdown() -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit; a
    no-op when no JVM is running."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant -- the JVM and its Python workers -- including the
    children each of them has reaped."""
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def timed_op(wl, spark, data, seed, tracer, expected, log):
    """Run one operation; return (wall seconds, CPU seconds, ok) and log
    its outcome."""
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    try:
        got = wl.op(spark, data, seed, tracer)
    except Exception as exc:  # a raising operation counts as failed
        traceback.print_exc()
        log.append({"error": repr(exc)[:200]})
        return time.perf_counter() - t0, tree_cpu_s() - c0, False
    dt = time.perf_counter() - t0
    cpu = tree_cpu_s() - c0
    ok = wl.check(got, expected)
    log.append({"s": round(dt, 4), "cpu_s": round(cpu, 2),
                "pack_route": got["pack_route"], "ok": ok})
    return dt, cpu, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    try:
        return run(wl, args, work)
    finally:
        if "pyspark" in sys.modules:
            shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass


def run(wl, args, work) -> int:
    import numpy as np
    import pyspark

    import tracer as tr
    from workloads import finish

    load_before = os.getloadavg()
    # in a child process: its arrays must not count in driver_rss_mb
    calibration = float(subprocess.run(
        [sys.executable, "-c", "import run; print(run.calibration_kernel())"],
        cwd=HERE, check=True, capture_output=True, text=True,
    ).stdout)

    # -- set-up, several times; the median is setup_s ---------------------
    setups, warm_log = [], []
    spark = None
    n_setups = 1 if args.trace else N_SETUPS
    for i in range(n_setups):
        # a fresh directory per set-up: nothing keyed on the input path
        # carries over from one set-up to the next
        data = os.path.join(work, f"setup{i}")
        t0 = time.perf_counter()
        gen = wl.generate(data, args.seed)  # runs while the session starts
        try:
            spark = start_session() if spark is None else spark.newSession()
        finally:
            finish(gen)
        warm_log.append(wl.op(spark, data, args.seed, tr.NullTracer()))
        setups.append(time.perf_counter() - t0)
    sc = spark.sparkContext
    # more untimed operations; the reference's child process runs
    # beside them
    pending = wl.start_reference(spark, data, args.seed)
    try:
        for _ in range(WARM_OPS):
            warm_log.append(wl.op(spark, data, args.seed, tr.NullTracer()))
    finally:
        expected = pending()
    warm_ok = all(wl.check(got, expected) for got in warm_log)
    floor = job_floor(sc)

    # -- measured operations ------------------------------------------------
    log: list[dict] = []
    times, cpus, failed, attempted = [], [], 0, 0
    traced_times, layer_rows, hygiene, span_rows = [], [], [], []
    tracer = tr.Tracer(sc)
    t_end = time.perf_counter() + args.seconds
    i = 0
    while True:
        traced = bool(args.trace) and i % 2 == 0
        i += 1
        # start an operation only if it should end within --seconds, but
        # measure at least MIN_OPS (a traced run: one of each kind)
        done = traced_times + times
        fits = time.perf_counter() + statistics.median(done or [0.0]) <= t_end
        short = (traced and not traced_times) or (
            not traced and len(times) < (1 if args.trace else MIN_OPS)
        )
        if not (fits or short):
            break
        if traced:
            first = len(tracer.spans)
            with tracer.installed():
                with tracer.operation() as root:
                    dt, _, ok = timed_op(wl, spark, data, args.seed, tracer, expected, log)
            spans = tracer.spans[first:]
            traced_times.append(dt)
            layer_rows.append(tr.op_metrics(spans, wl.k))
            span_rows.append(tr.span_counts(spans))
            hygiene.append(tr.check_spans(spans, root))
        else:
            dt, cpu, ok = timed_op(wl, spark, data, args.seed, tr.NullTracer(), expected, log)
            times.append(dt)
            cpus.append(cpu)
        attempted += 1
        failed += not ok

    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    java = sc._jvm.System.getProperty("java.version")
    shutdown()

    op_s = statistics.median(times)
    op_cpu_s = statistics.median(cpus)
    cells = wl.rows * (wl.features + 1)
    if args.trace:
        metrics = {
            name: {"value": statistics.median(row[name] for row in layer_rows),
                   "unit": tr.unit_of(name)}
            for name in layer_rows[0]
        }
        traced_s = statistics.median(traced_times)
        metrics["trace.traced_op_s"] = {"value": traced_s, "unit": "s"}
        metrics["trace.untraced_op_s"] = {"value": op_s, "unit": "s"}
        metrics["trace.overhead_s"] = {"value": traced_s - op_s, "unit": "s"}
    else:
        metrics = {
            "op_cpu_s": {"value": op_cpu_s, "unit": "s"},
            "cells_per_cpu_s": {"value": cells / op_cpu_s, "unit": "1/s"},
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "driver_rss_mb": {"value": rss_mb, "unit": "MB"},
        }
    context = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "input": {"rows": wl.rows, "features": wl.features, "cells": cells},
        "criterion": wl.criterion,
        "k": wl.k,
        "samples": len(times),
        "op_s": {"value": op_s, "unit": "s"},
        "cells_per_s": {"value": cells / op_s, "unit": "1/s"},
        "op_s_max": max(times),
        "op_cpu_s_max": max(cpus),
        "setup_s_all": [round(s, 4) for s in setups],
        "error_rate": {"value": failed / attempted, "unit": "ratio"},
        "warmup_correct": warm_ok,
        "ops": log,
        "host": {
            "calibration_s": round(calibration, 4),
            "job_floor_s": round(floor, 4),
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "nproc": os.cpu_count(),
            "pyspark": pyspark.__version__,
            "java": java,
            "numpy": np.__version__,
        },
    }
    if args.trace:
        context["trace_detail"] = {
            "traced_samples": len(traced_times),
            "span_sums_close": all(hygiene),
            "counts_repeat": all(
                all(r[c] == layer_rows[0][c] for c in tr.COUNTS) for r in layer_rows
            ),
            "span_counts": span_rows[0],
        }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": warm_ok and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
