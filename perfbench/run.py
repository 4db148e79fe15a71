#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload hypercube_etl --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. One run generates
(or reuses) the seeded inputs of one workload, starts one Spark session
on ``local[nproc]``, runs ``WARMUP_ITERATIONS`` warm-up iterations (the
set-up), then a fixed number of measured iterations, checking every
output. It prints each metric with its unit and sample count, then, as
its last line, one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log for the session, alternates ``MIN_SAMPLES`` untraced
and traced iterations, reports the per-layer metrics and writes the
spans and Spark counters to ``.perfbench/traces/``. The exit code is 0
only when every output check passed.

Everything the run writes lives under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import gen
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Spark driver heap: well below the RAM of a small 4-core host, since
# the session default (48g) assumes a large machine.
DRIVER_MEMORY = "3g"
# Iterations before measuring, the first one cold; all count as set-up.
# The JVM is still compiling hot code through the third iteration.
WARMUP_ITERATIONS = 3
# A run measures a fixed number of iterations, --seconds over the
# workload's nominal iteration time on a 4-core host, but at least
# MIN_SAMPLES. A count fixed in advance puts every run, and every
# version of the program, at the same point of the JVM's warm-up curve;
# a deadline would let a faster program measure later, warmer
# iterations.
MIN_SAMPLES = 3
# Stop measuring early once the process has run this long: keeps a run
# under 180 s on a slow host.
STOP_MEASURING_AFTER_S = 130.0

# name -> unit. Order is the print order.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "recall": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "process.peak_rss_mb": "MB",
    "sources.csv.scan_s": "s",
    "sources.binary.scan_s": "s",
    "sources.binary.rows_per_s": "1/s",
    "operators.hypercube.self_s": "s",
    "operators.hypercube.groups_out": "count",
    "sources.sinks.self_s": "s",
    "sources.sinks.bytes_out": "bytes",
    "sources.parquet.scan_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.pairs_out": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.scheduler_delay_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def pin_environment(cpus: int) -> None:
    """Fix everything the program reads from the environment, so a run
    depends only on the checkout and the host's core count."""
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") or key in ("SPARK_UI", "SPARK_LOCAL_DIRS"):
            del os.environ[key]
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # the Python workers import the package by name
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # shuffle and spill files on disk in the checkout, not on tmpfs
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )


def tail_percentile(samples: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples above it."""
    n = len(samples)
    if n < 20:
        return None
    p = int(100 * (n - 10) / n)
    return p, statistics.quantiles(samples, n=100, method="inclusive")[p - 1]


class Run:
    """Counters and samples of one benchmark run."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        self.recall: list[float] = []
        self.problems: list[str] = []

    def iterate(self, spark, tracer=None):
        """One checked iteration; returns (seconds, traced extras) or
        None when the program raised."""
        try:
            t0 = time.monotonic()
            if tracer is None:
                out, extra = self.workload.run(spark), None
                wall = time.monotonic() - t0
            else:
                out, layers, work_spans, wall = self.workload.run_traced(spark, tracer)
                extra = (layers, work_spans)
        except Exception:  # the program failed: count it, report it, stop
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            self.problems.append("iteration raised")
            return None
        outcome = self.workload.check(out)
        self.attempted += outcome.ops
        self.failed += outcome.failed
        self.recall.append(outcome.recall)
        self.problems.extend(outcome.problems)
        return wall, extra

    def measure(self, spark, count: int, started: float, tracer=None):
        """Up to ``count`` untraced iterations, each followed by a traced
        one when ``tracer`` is given. Returns the (wall, extras) samples
        as (untraced, traced)."""
        plain, traced = [], []
        while len(plain) < count:
            if plain and time.monotonic() - started > STOP_MEASURING_AFTER_S:
                break
            result = self.iterate(spark)
            if result is None:
                break
            plain.append(result)
            if tracer is not None:
                result = self.iterate(spark, tracer)
                if result is None:
                    break
                traced.append(result)
        return plain, traced


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait until
    every process the session started has ended."""
    from pyspark import SparkContext

    spawned = tracing.process_tree(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    while any(_alive(p) for p in spawned) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in spawned:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def layer_samples(traced, walls, session_s, peak_mb, per_span) -> dict:
    """Per-layer metric name -> samples. Layers the workload does not
    run have no samples. Spark counters are summed over the spans that
    make up one real iteration, not over the measuring prefixes."""
    layers = {name: [] for name in PER_LAYER}
    for wall, (layer, work_spans) in traced:
        for name, value in layer.items():
            layers[name].append(value)
        for name, value in tracing.sum_counters(per_span, work_spans).items():
            layers[f"spark.{name}"].append(value)
        layers["trace.wall_s"].append(wall)
    layers["session.start_s"].append(session_s)
    layers["process.peak_rss_mb"].append(peak_mb)
    if traced and walls:
        overhead = statistics.median(layers["trace.wall_s"]) - statistics.median(walls)
        layers["trace.overhead_s"].append(overhead)
    return layers


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, workloads.PACKAGE)):
        print(f"no {workloads.PACKAGE}/ next to perfbench/: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    pin_environment(cpus)
    sys.path.insert(0, ROOT)

    cls = workloads.WORKLOADS[args.workload]
    data = gen.cached(
        os.path.join(WORK, "data"), cls.name, args.seed, cls.size, cls.generate
    )
    wl = cls(data, WORK, args.seed, cpus)
    wl.prepare()
    run = Run(wl)
    log_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
    extra_conf = None
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        extra_conf = tracing.eventlog_conf(log_dir)

    # --- set-up: import, session, warm-up iterations -------------------------
    t0 = time.monotonic()
    from implementation_of_an_etl_process_spark import get_spark

    spark = wl.session(get_spark, extra_conf=extra_conf)
    session_s = time.monotonic() - t0
    warm = all(run.iterate(spark) for _ in range(WARMUP_ITERATIONS))
    setup_s = time.monotonic() - t0

    # --- measurement ---------------------------------------------------------------
    if args.trace:
        tracer, count = tracing.Tracer(spark), MIN_SAMPLES
    else:
        tracer, count = None, max(MIN_SAMPLES, round(args.seconds / wl.nominal_s))
    cpu_before = tracing.cpu_times()
    plain, traced = run.measure(spark, count, started, tracer) if warm else ([], [])
    steal = tracing.steal_share(cpu_before, tracing.cpu_times())
    walls = [w for w, _ in plain]
    peaks = tracing.tree_peak_rss_mb()
    stop_spark(spark)

    correct = bool(walls) and run.failed == 0
    if args.trace:
        names = PER_LAYER
        per_span = tracing.span_counters(tracing.read_eventlog(log_dir))
        shutil.rmtree(log_dir)
        peak_mb = sum(mb for _, mb in peaks)
        layers = layer_samples(traced, walls, session_s, peak_mb, per_span)
        metrics = {n: statistics.median(v) if v else 0.0 for n, v in layers.items()}
        counts = {n: len(v) for n, v in layers.items()}
        trace_path = os.path.join(
            WORK, "traces", f"{wl.name}-seed{args.seed}-{os.getpid()}.json"
        )
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as fh:
            json.dump({"workload": wl.name, "seed": args.seed, "spans": tracer.spans,
                       "span_counters": per_span, "layers": layers}, fh, indent=1)
    else:
        names = END_TO_END
        metrics, counts = {}, {}
        if walls:
            metrics = {
                "setup_s": setup_s,
                "wall_s": statistics.median(walls),
                "rows_per_s": wl.rows / statistics.median(walls),
                "recall": min(run.recall),
            }
            counts = {"setup_s": 1, "wall_s": len(walls), "rows_per_s": len(walls),
                      "recall": len(run.recall)}

    print(f"{wl.name} seed={args.seed} trace={args.trace} cpus={cpus} "
          f"({time.monotonic() - started:.1f}s)")
    print("  iteration seconds: " + " ".join(f"{w:.3f}" for w in walls)
          + f"  (host CPU steal while measuring: {steal:.0%})")
    print("  peak RSS MB: " + " ".join(f"{n}={mb:.0f}" for n, mb in peaks))
    print(f"  failed_frac: {run.failed}/{run.attempted} operations")
    for name, unit in names.items():
        if name in metrics:
            tail = tail_percentile(walls) if name == "wall_s" else None
            extra = f"  p{tail[0]}={tail[1]:.6g}" if tail else ""
            print(f"  {name:32s} {metrics[name]:14.6g} {unit:6s} "
                  f"n={counts[name]}{extra}")
    if args.trace:
        print(f"  trace written to {os.path.relpath(trace_path, ROOT)}")
    for msg in run.problems:
        print(f"  CHECK FAILED: {msg}")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": metrics[name], "unit": unit}
            for name, unit in names.items() if name in metrics
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
