"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_ingest --seed 1 \\
        --seconds 10 --trace 0

Runs one workload against the program in the current directory (the
repository root) and prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` the per-layer ones (spans are written under
``.perfbench/``).  BENCHMARK.json is the one list of metric names and
units; ``targets.json`` says which end-to-end metric each per-layer one
should move.  Exits non-zero without a result line when the program
is missing; exits 1 after printing the result when an output check
fails.

The Spark run config is pinned here and nowhere else: local parallelism
is the host's CPU count, the Spark driver's heap stays below physical
memory and Spark's local directories live inside the checkout.  Every
other Spark setting is the program's own default.
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

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")


def _pin_config(work: str) -> None:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_gib = int(fh.readline().split()[1]) // (1024 * 1024)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, total_gib // 3))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)


def _steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies since boot: time the hypervisor gave
    this VM's CPUs to others shows as steal."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v)


class Run:
    """State shared by a workload: session, tracer, counters, metrics."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: int,
                 fault: str = ""):
        self.spark = spark
        self.fault = fault
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.mark = 0          # index of the first span of measure()

    def op(self, ok, what: str) -> None:
        """Count one operation (request, query, streaming query or output
        check); a failed one is recorded with its description."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-tests only: damage one output before the checks run
    ap.add_argument("--fault", choices=("", "archive_row", "panel_row"),
                    default="")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_config(work)      # before the program is imported: it reads them

    sys.path.insert(0, ROOT)
    try:
        import garmadon_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: program not found in {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads
    from spans import ExecutorWindow, Tracer, peak_rss_mb

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    from garmadon_spark.session import get_spark

    # a terminated run still stops Spark and its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(spark, tracer, work, args.seed, args.seconds, args.fault)
        wl = workloads.WORKLOADS[args.workload](run)
        t = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        window = ExecutorWindow(spark)
        if args.trace:
            window.start()
        run.mark = len(tracer.spans)
        t = time.perf_counter()
        steal0 = _steal_jiffies()
        samples = wl.measure()
        wall = time.perf_counter() - t
        steal = [b - a for a, b in zip(steal0, _steal_jiffies())]
        if args.trace:
            run.layer.update(window.read())
        t = time.perf_counter()
        wl.verify()
        verify_s = time.perf_counter() - t
        layer = dict(run.layer)
        rss = peak_rss_mb(spark)
    finally:
        t = time.perf_counter()
        gateway = spark.sparkContext._gateway
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()      # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    # diagnostics for tuning the benchmark; the result is the last stdout line
    print(f"perfbench: phases (s) session {session_s:.1f} inputs "
          f"{inputs_s:.1f} warm-up {warm_s:.1f} measure {wall:.1f} verify "
          f"{verify_s:.1f} stop {time.perf_counter() - t:.1f}; pass_s "
          f"{[round(x, 2) for x in samples['pass_s']]}; CPU steal while "
          f"measuring {steal[0] / max(1, steal[1]):.0%}", file=sys.stderr)

    if args.trace:
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}.jsonl"))
        layer.update({
            "session.start_ms": 1e3 * session_s,
            "setup.inputs_ms": 1e3 * inputs_s,
            "setup.warmup_ms": 1e3 * warm_s,
            "peak_rss_mb": rss,
            "trace.overhead_frac": tracer.bookkeeping_s / wall,
        })
        declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = set(layer) - set(declared)
        if unknown:
            raise SystemExit(f"perfbench: undeclared metrics {sorted(unknown)}")
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u in declared.items()}
    else:
        ops = samples["op_ms"]
        values = {
            "setup_s": session_s + inputs_s + warm_s,
            "pass_s": statistics.median(samples["pass_s"]),
            "op_p50_ms": statistics.median(ops),
            # p90, linear interpolation between the nearest samples
            "op_p90_ms": statistics.quantiles(
                ops, n=10, method="inclusive")[-1],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for e in run.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
