#!/usr/bin/env python3
"""Seeded end-to-end benchmark of fastbloom_spark on ``local[4]``.

Run from the repository root::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

One closed-loop client (the next operation starts when the previous one
returns) sets up the workload, then runs whole passes over its operations
until ``--seconds`` have elapsed, checks every output, and prints as its
last stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. A failed check counts as a failed operation.

``--trace 0`` reports the end-to-end metrics ``setup_s`` (median of the
repeated session + input set-ups, plus filter/index builds and one warm
call of every operation; the checks' reference values are computed
outside it), ``driver_rss_mb`` (the driver's peak RSS from the warm calls
on) and ``rows_per_cpu_s``; the detail line before it holds the other
throughput figures (pass wall and CPU seconds, per-operation rates and
latency percentiles). ``--trace 1`` runs untraced passes for half of
``--seconds`` and traced passes for the other half in one session with
the Spark event log on, then times each library layer (layers.py), and
reports the per-layer metrics, among them the untraced passes'
throughput. Spans and full
reports go to ``.bench_build/perfbench/out/``; everything else the run
writes (Spark local dirs, event logs, index tables, the shipped package
zip) stays under ``.bench_build/perfbench/`` in the checkout and is
removed at exit.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import sys
import time
import traceback

import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: task slots and shuffle partitions: one per core of the 4-core host
CORES = 4
#: fits a 15 GB host next to the Python workers
DRIVER_MEM = "3g"
#: set-ups per untraced run; setup_s is their median
SETUP_REPS = 2
#: an operation reconciles when child spans and Spark stages cover all but
#: this share of its wall time
RECONCILE_TOLERANCE = 0.10
LIBC = ctypes.CDLL("libc.so.6")
#: mallopt parameter number of the C heap's mmap threshold
M_MMAP_THRESHOLD = -3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def make_session(work: str, event_log: str | None = None):
    from fastbloom_spark.deploy import ensure_shipped
    from fastbloom_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed set of JIT threads, so procstat can leave them out
        "spark.driver.extraJavaOptions":
            "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM process to exit
    (it takes the Python worker daemon down with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def pin_driver_heap() -> None:
    """Make the driver's RSS track its live memory, so its peak is the
    same from run to run: every C allocation of 128 KiB or more gets its
    own mapping, returned to the OS when freed (by default glibc raises
    that threshold as large blocks are freed and then keeps them in its
    heap), and Arrow allocates from the C heap instead of its own pool."""
    LIBC.mallopt(M_MMAP_THRESHOLD, 128 * 1024)
    pa.set_memory_pool(pa.system_memory_pool())


class Counter:
    """Attempted / failed operation tally with every op's latencies."""

    def __init__(self):
        from perfbench.procstat import CpuMeter

        self.attempted = self.failed = 0
        self.times: dict[str, list[float]] = {}
        self.errors: list[str] = []
        self.op_cpu: dict[str, list[float]] = {}
        self.pass_wall: list[float] = []
        self.cpu: list[float] = []
        self.steal: list[float] = []
        self.meter = CpuMeter()

    def run(self, op, tracer=None, record: bool = True) -> None:
        self.attempted += 1
        c0 = self.meter.read()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = op.call()
            else:
                with tracer.span(op.name, module=op.module, rows=op.rows,
                                 kind="op"):
                    out = op.call()
            dt, dc = time.perf_counter() - t0, self.meter.read() - c0
            op.check(out)
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            dt, dc = time.perf_counter() - t0, self.meter.read() - c0
            self.failed += 1
            self.errors.append(f"{op.name}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
        if record:
            self.times.setdefault(op.name, []).append(dt)
            self.op_cpu.setdefault(op.name, []).append(dc)


def measure(wl, seconds: float, counter: Counter, tracer=None) -> None:
    """Closed loop: whole passes over the workload's operations until
    ``seconds`` have elapsed."""
    from perfbench.procstat import steal_seconds

    t_end = time.perf_counter() + seconds
    while True:
        counter.meter.refresh()
        t0, c0, s0 = time.perf_counter(), counter.meter.read(), steal_seconds()
        if tracer is None:
            for op in wl.ops():
                counter.run(op)
        else:
            with tracer.span("pass", kind="pass"):
                for op in wl.ops():
                    counter.run(op, tracer)
        counter.pass_wall.append(time.perf_counter() - t0)
        counter.cpu.append(counter.meter.read() - c0)
        counter.steal.append(steal_seconds() - s0)
        if time.perf_counter() >= t_end:
            return


def set_up(cls, seed: int, work: str, counter: Counter, reps: int,
           event_log: str | None = None, tracer_on: bool = False):
    """``reps`` set-ups of session + seeded inputs (each but the last torn
    down again), then the one-time preparation, the checks' references
    (not timed), and a warm pass that calls each distinct operation once
    (its checks count, its times are not samples). The driver's peak RSS
    restarts before the warm pass.

    Returns (spark, workload, tracer, setup seconds): the median of the
    repeated part plus preparation and warm pass."""
    from perfbench.procstat import reset_peak_rss
    from perfbench.stats import median
    from perfbench.tracing import Tracer

    rep_times = []
    for rep in range(reps):
        t0 = time.perf_counter()
        spark = make_session(work, event_log)
        tracer = Tracer(spark.sparkContext, enabled=tracer_on)
        wl = cls(spark, seed, work)
        with tracer.span("setup", kind="setup"):
            wl.setup()
        rep_times.append(time.perf_counter() - t0)
        if rep + 1 < reps:
            wl.teardown()
            spark.stop()
    t0 = time.perf_counter()
    with tracer.span("prepare", kind="setup"):
        wl.prepare()
    once = time.perf_counter() - t0
    with tracer.span("references", kind="setup"):
        wl.references()
    gc.collect()
    reset_peak_rss()
    t0 = time.perf_counter()
    with tracer.span("warm", kind="setup"):
        warm = {}
        for op in wl.ops():
            warm.setdefault(op.name, op)
        for op in warm.values():
            counter.run(op, record=False)
    once += time.perf_counter() - t0
    return spark, wl, tracer, {"reps_s": rep_times, "once_s": once,
                               "setup_s": median(rep_times) + once}


def mean_cpu(counter: Counter, name: str) -> float:
    """Mean CPU seconds per call of op ``name``. A mean, not a median:
    CPU is read in 10 ms clock ticks, so a per-call median of a short call
    moves in whole ticks, while the mean resolves ticks / calls."""
    cpu = counter.op_cpu[name]
    return sum(cpu) / len(cpu)


def published(wl, counter: Counter) -> dict:
    """The workload's per-operation figures under their published names:
    rows per wall second and per CPU second (medians over calls, summed
    over the ops a name covers), and latency percentiles."""
    from perfbench.stats import median, percentile, supports_percentile

    rows = {op.name: op.rows for op in wl.ops()}
    out = {}
    for stem, (unit, names) in wl.published.items():
        n = sum(rows[k] for k in names)
        out[f"{stem}_{unit}_per_s"] = n / sum(
            median(counter.times[k]) for k in names)
        out[f"{stem}_{unit}_per_cpu_s"] = n / sum(
            mean_cpu(counter, k) for k in names)
    for name in wl.latency_ops:
        ms = [t * 1e3 for t in counter.times[name]]
        out.update({f"{name}_p50_ms": percentile(ms, 50),
                    f"{name}_p80_ms": percentile(ms, 80),
                    f"{name}_p90_ms": percentile(ms, 90),
                    f"{name}_cpu_mean_ms": 1e3 * mean_cpu(counter, name),
                    f"{name}_samples": len(ms),
                    f"{name}_p90_supported": supports_percentile(len(ms),
                                                                 90)})
    return out


def throughput(wl, counter: Counter) -> dict:
    """Pass wall and CPU seconds (medians) and ``rows_per_cpu_s``: the
    geometric mean over operations of rows per CPU-second of driver, JVM
    and Python workers (JIT compiler threads excluded; see procstat.py)."""
    from perfbench.stats import geomean, median

    rows = {op.name: op.rows for op in wl.ops()}
    return {"pass_wall_s": median(counter.pass_wall),
            "pass_cpu_s": median(counter.cpu),
            "rows_per_cpu_s": geomean(
                n / mean_cpu(counter, k) for k, n in rows.items())}


def end_to_end(wl, counter: Counter, setup: dict) -> tuple[dict, dict]:
    """End-to-end metrics ``{name: (value, unit)}`` and the run report.

    Throughput is gated as rows per CPU-second: on a shared 4-vCPU host
    the wall time of a pass moves with other tenants' load more than the
    CPU time it costs, so wall-clock rates go to the report."""
    from perfbench.procstat import peak_rss_mb
    from perfbench.stats import median

    rates = throughput(wl, counter)
    metrics = {"setup_s": (setup["setup_s"], "s"),
               "driver_rss_mb": (peak_rss_mb(), "MB"),
               "rows_per_cpu_s": (rates["rows_per_cpu_s"], "rows/s")}
    detail = {"passes": len(counter.pass_wall), "setup": setup, **rates,
              "pass_wall_all_s": counter.pass_wall,
              "pass_cpu_all_s": counter.cpu,
              "pass_steal_s": counter.steal,
              "error_rate": counter.failed / max(counter.attempted, 1),
              "op_wall_s": {k: median(v) for k, v in counter.times.items()},
              "op_cpu_s": {k: mean_cpu(counter, k) for k in counter.op_cpu},
              "op_samples": {k: len(v) for k, v in counter.times.items()},
              **published(wl, counter)}
    return metrics, detail


def run_untraced(cls, args, work: str, counter: Counter):
    spark, wl, _, setup = set_up(cls, args.seed, work, counter, SETUP_REPS)
    try:
        measure(wl, args.seconds, counter)
        for op in wl.once_ops():
            counter.run(op, record=False)
        metrics, detail = end_to_end(wl, counter, setup)
        detail["sizes"] = wl.sizes()
    finally:
        wl.teardown()
        spark.stop()
    return metrics, detail


def run_traced(cls, args, work: str, counter: Counter):
    """One session with the event log on: untraced passes for half the
    time, then traced passes (spans, one job group each), then the layer
    probes. The event log is parsed after the session stops."""
    from perfbench import layers
    from perfbench.tracing import parse_event_log

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark, wl, tracer, _ = set_up(cls, args.seed, work, counter, 1,
                                  event_log=log_dir, tracer_on=True)
    traced = Counter()
    try:
        measure(wl, args.seconds / 2, counter)
        measure(wl, args.seconds / 2, traced, tracer)
        probes = layers.probe(wl, tracer)
        plain, spanned = throughput(wl, counter), throughput(wl, traced)
    finally:
        wl.teardown()
        spark.stop()
    counter.attempted += traced.attempted + 1  # + the probes' own check
    counter.failed += traced.failed
    counter.errors += traced.errors
    checks = probes["report"]["layer_checks"]
    if not all(checks.values()):
        counter.failed += 1
        counter.errors.append(f"layer probe checks: {checks}")
    (log_file,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    metrics, report = layers.per_layer(
        tracer.spans, parse_event_log(log_file), probes,
        n_passes=len(traced.pass_wall), tolerance=RECONCILE_TOLERANCE,
        plain=plain, traced=spanned)
    report.update({"untraced": plain, "traced": spanned,
                   "reconcile_tolerance": RECONCILE_TOLERANCE})
    return metrics, report, tracer


def main(argv=None) -> int:
    args = parse_args(argv)
    pin_driver_heap()
    sys.path.insert(0, ROOT)
    try:
        import fastbloom_spark  # noqa: F401 — the program under test
    except ImportError as e:
        print(f"perfbench: cannot import fastbloom_spark from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS.get(args.workload)
    if cls is None:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # keep every temporary file of driver, JVMs (the spark-submit launcher
    # too) and workers in the checkout
    os.environ["TMPDIR"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={work} "
                                       "-XX:-UsePerfData")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = work
    counter = Counter()
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                        f"-trace{args.trace}")
    try:
        if args.trace:
            metrics, report, tracer = run_traced(cls, args, work, counter)
            tracer.write(stem + "-spans.json", {"report": report})
        else:
            metrics, report = run_untraced(cls, args, work, counter)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    report["errors"] = counter.errors
    with open(stem + "-report.json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    for name, (value, unit) in metrics.items():
        print(f"{args.workload:>7} {name:<40} {value:>16.6g} {unit}")
    print(json.dumps({"detail": report}, default=str))
    print(json.dumps({
        "correct": counter.failed == 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
