"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository.  Builds its inputs
from ``--seed`` under ``perfbench/.work`` (removed at exit), starts one
SparkSession through the program's own ``session.get_spark`` at
``local[<cpus>]``, runs one closed-loop client for ``--seconds`` of
whole rounds, checks every output against a computation made apart
from the program, and prints one JSON object as the last line of
standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics (and writes the spans to
``perfbench/.traces/``).  Exit code 2 means the program's package was
not found next to ``perfbench/``; no result line is printed then, nor
when a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("event_queries", "doc_admission", "keyed_upsert")
# Set-up is repeated this many times per run.  The first repetition
# also pays the JVM launch, so setup_s is the median of the others: a
# set-up in a running JVM.
SETUP_REPS = 3


def rss_peak_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, in MiB."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) CPU ticks of the machine, from /proc/stat.  Steal
    is time the host ran something else on this machine's CPUs; it
    inflates every wall-clock figure of a run."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7]


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


class Bench:
    """State shared by one run: arguments, paths, the Spark session and
    the tracer (None when untraced)."""

    def __init__(self, args):
        import numpy as np

        self.args = args
        self.seconds = args.seconds
        self.rng = np.random.default_rng(args.seed)
        self.work = os.path.join(HERE, ".work",
                                 f"{args.workload}-{os.getpid()}")
        self.spark = None
        self.tracer = None
        self.setup_times: list[float] = []
        self.marks: list[tuple[str, float]] = []
        self.ticks0 = cpu_ticks()
        if args.trace:
            from tracing import Tracer
            self.tracer = Tracer()

    def mark(self, label: str) -> None:
        """Note the time since process start under ``label`` (printed
        to stderr at exit, to see where a run's wall time goes)."""
        self.marks.append((label, round(time.perf_counter() - T0, 1)))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def env(self) -> None:
        """Point every scratch location of Python, Spark and the JVM
        inside the work directory, and size the session."""
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        import tempfile
        tempfile.tempdir = None
        cpus = str(len(os.sched_getaffinity(0)))
        os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # Python workers import the package from the checkout.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p])
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={self.path('warehouse')}",
            "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            "pyspark-shell"])

    def setup(self, fn):
        """Run the workload's set-up SETUP_REPS times, each on a fresh
        session from the program's ``get_spark`` (the previous one is
        stopped first), and keep the last.  ``fn(spark, rep)`` does the
        program's own set-up (stores, warm-up operations) and returns
        the workload state.  Records each repetition's wall time."""
        from data_ingestion_challenge_spark.session import get_spark

        state = None
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.args.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
            state = fn(self.spark, rep)
            self.setup_times.append(time.perf_counter() - t0)
        self.mark("setup")
        return state

    def start(self) -> float:
        """Begin the timed region (after set-up and warm-up, whose Spark
        jobs the tracer then leaves out); returns its start time."""
        self.mark("warmup")
        self.ticks0 = cpu_ticks()
        if self.tracer is not None:
            self.tracer.attach(self.spark)
        return time.perf_counter()

    def op(self, kind: str, **attrs):
        """Context for one timed operation (a traced span when tracing)."""
        if self.tracer is None:
            return _Timer()
        return self.tracer.op(kind, **attrs)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return _Timer()
        return self.tracer.span(name, **attrs)

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext
        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and gw.proc else None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


class _Timer:
    """Stand-in for a span when tracing is off: records nothing but
    offers the same ``rec`` dict."""

    def __enter__(self):
        self.rec = {}
        return self.rec

    def __exit__(self, *exc):
        return False


def result(bench: Bench, attempted: int, failed: int, checks_ran: bool,
           end_to_end: dict, per_layer: dict) -> dict:
    peak = rss_peak_mb([os.getpid(), bench.jvm_pid() or os.getpid()])
    if bench.tracer is None:
        metrics = {**end_to_end,
                   "setup_s": (p50(bench.setup_times[1:]), "s")}
    else:
        # Peak memory varies by up to a third between runs of one
        # workload (JVM heap growth is GC-timed), too wide for an
        # end-to-end bound; it is reported with the layers.
        metrics = {**per_layer, "peak_rss_mb": (peak, "MB")}
        # The same run's end-to-end figures, for the tracing overhead.
        print("perfbench: traced end-to-end " + json.dumps(
            {k: v for k, (v, _) in end_to_end.items()}), file=sys.stderr)
    return {
        "correct": bool(checks_ran and failed == 0),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(
            ROOT, "data_ingestion_challenge_spark", "__init__.py")):
        print(f"perfbench: no data_ingestion_challenge_spark package under "
              f"{ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    bench = Bench(args)
    shutil.rmtree(bench.work, ignore_errors=True)
    bench.env()
    try:
        import importlib
        mod = importlib.import_module("wl_" + args.workload)
        out = mod.run(bench)
        bench.mark("checked")
        if bench.tracer is not None:
            bench.tracer.write(os.path.join(
                HERE, ".traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        try:
            bench.shutdown()
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)
    bench.mark("exit")
    total, steal = (b - a for a, b in zip(bench.ticks0, cpu_ticks()))
    print(f"perfbench: host steal {100 * steal / max(1, total):.1f}% "
          f"since the timed region began", file=sys.stderr)
    print(f"perfbench: setup reps {[round(x, 3) for x in bench.setup_times]}"
          f" marks {bench.marks}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
