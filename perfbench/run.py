#!/usr/bin/env python3
"""Benchmark of the engine's public surface (DDFManager / DDF and the
module functions behind them), driven from one process.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 10 --trace 0

Workloads: ``interactive_sql`` (closed loop, one client) and
``stream_ingest`` (open-loop file generator with a rate ladder feeding a
streaming query; its traced runs add the curation batch job). Inputs are generated from ``--seed``;
every run checks its outputs against DuckDB replays of the same inputs.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is a
report with the deployment stamp, sample counts and the workload's own
metric names.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("interactive_sql", "stream_ingest")
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_environment(work: str) -> None:
    """Deployment: one Spark core per visible CPU, a driver heap that
    fits a small shared box, and every temp/local/warehouse directory
    inside this run's work area."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


class Context:
    """Per-run state handed to a workload: work area, seed, tracer,
    and the Spark session lifecycle."""

    def __init__(self, args: argparse.Namespace, work: str):
        from perfbench import harness

        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.tracer = harness.Tracer() if self.traced else harness.NullTracer()
        self.spark = None
        self.get_spark_s: list[float] = []
        self.rss = None

    def end_measurement(self) -> None:
        """Stop sampling memory: what follows (correctness checks) is the
        benchmark's own work."""
        self.rss.stop()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        """(Re)create the engine's SparkSession; a previous one is stopped."""
        from ddf_flink_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                **{
                    # heap pages become resident only when the engine
                    # touches them; a fixed young generation keeps the
                    # collector's adaptive sizing out of resident memory,
                    # so what varies is what the engine keeps alive. No
                    # perf-data file outside the work area.
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.tmp} -Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}"
                        " -XX:-UsePerfData",
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.get_spark_s.append(time.perf_counter() - t0)
        return self.spark

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # unwind through the cleanup below


def main(argv: list[str]) -> int:
    args = _parse(argv)
    signal.signal(signal.SIGTERM, _terminate)
    sys.path.insert(0, ROOT)
    try:
        import ddf_flink_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import harness, workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)
    os.chdir(work)
    ctx = Context(args, work)
    cpu_start = harness.cpu_times()
    try:
        with harness.RssSampler() as rss:
            ctx.rss = rss
            res = workloads.run(args.workload, ctx)
        deployment = harness.deployment_stamp(ctx.spark, cpu_start)
    finally:
        ctx.shutdown()
        tmp_left = _dir_bytes(ctx.tmp)  # what outlives the JVM's own cleanup
        os.chdir(ROOT)
        if ctx.traced:
            os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
            ctx.tracer.dump(os.path.join(
                ROOT, ".perfbench_work", "traces", f"{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    res.e2e["peak_rss_mb"] = rss.peak / 2**20
    res.layer["streaming.tmp_bytes_left"] = float(tmp_left)
    metrics = res.layer_metrics() if ctx.traced else res.e2e_metrics()
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "deployment": deployment,
        **res.report(),
    }
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
