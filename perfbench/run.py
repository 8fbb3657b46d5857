#!/usr/bin/env python3
"""Benchmark of the htsql_spark engine: one workload per run.

    python3 perfbench/run.py --workload serve|curate \\
        --seed N --seconds S --trace 0|1

Run it from the repository root.  The first run builds a deterministic
sf0.1-shaped fixture under ``$CARGO_TARGET_DIR`` (default
``.bench_build``); every file the benchmark writes stays under that
directory unless ``SPARK_LOCAL_DIRS`` points Spark's scratch space
elsewhere.  The session runs on ``local[<cores>]``.

Per run: start a Spark session, mount the engine, warm the workload's
code paths up (all of this is ``setup_s``), measure for
``--seconds`` (at least one operation), stop, then check every output
against DuckDB or the workload's own replay.  Human-readable lines
come first; the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs
with Spark's event log on (set at session start through
``SPARK_GRAFT_EXTRA_CONF``) and measures three windows: untraced,
traced with the layer spans of ``spans.py``, untraced again.  It
reports the per-layer metrics of the traced window, the tracing
overhead and the share of the traced latency no layer span covers.
See README.md for the workloads and the metric each layer should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

WORKLOADS = ("serve", "curate")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


class Ctx:
    """What a workload needs from the run: the session, the fixture,
    scratch space, the tracer, setup accounting and logging."""

    def __init__(self, args, work: str):
        import data
        from spans import Tracer

        self.seed, self.seconds = args.seed, args.seconds
        self.work = work
        self.data_dir = data.ensure(os.path.join(work, "data"))
        self.oracle_dir = os.path.join(work, "data", f"oracle-v{data.VERSION}")
        os.makedirs(self.oracle_dir, exist_ok=True)
        runs = os.path.join(work, "runs")
        os.makedirs(runs, exist_ok=True)
        for old in os.listdir(runs):  # left behind by killed runs
            if not os.path.exists(f"/proc/{old.rpartition('-')[2]}"):
                shutil.rmtree(os.path.join(runs, old), ignore_errors=True)
        self.run_dir = os.path.join(runs, f"{args.workload}-{os.getpid()}")
        os.makedirs(self.run_dir)
        self.event_dir = os.path.join(self.run_dir, "events")
        self.tracer = Tracer()
        self.setup_parts: dict[str, float] = {}
        self.check_s = 0.0
        self._duck = None
        self.spark = None

    def start(self, extra_conf: dict[str, str]) -> None:
        t0 = time.perf_counter()
        conf = [f"spark.sql.warehouse.dir={os.path.join(self.run_dir, 'warehouse')}"]
        conf += [f"{k}={v}" for k, v in extra_conf.items()]
        prior = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(filter(None, [prior, *conf]))
        from htsql_spark import get_spark

        self.spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup_parts["session_s"] = time.perf_counter() - t0

    def setup(self, mount_dir: str, warm):
        """Mount the engine, then run the workload's warm-up on it."""
        from htsql_spark import HTSQL

        t0 = time.perf_counter()
        db = HTSQL(self.spark, mount_dir)
        t1 = time.perf_counter()
        warm(db)
        self.setup_parts["mount_s"] = t1 - t0
        self.setup_parts["warmup_s"] = time.perf_counter() - t1
        return db

    def setup_s(self) -> float:
        return sum(self.setup_parts.values())

    def duck(self):
        if self._duck is None:
            from check import duck

            self._duck = duck(self.data_dir)
        return self._duck

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr)

    def peak_rss_mb(self) -> float:
        """Driver JVM plus this Python process, high-water marks."""
        with self.tracer.quiet():
            jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return _vm_hwm_mb(jvm) + _vm_hwm_mb("self")

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None
        if self._duck is not None:
            self._duck.close()
            self._duck = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:  # the engine under test must be importable from the checkout
        import __spark_entry__  # noqa: F401
        import htsql_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    # Spark's Python workers import htsql_spark (UDF kernels) — they
    # inherit PYTHONPATH from the JVM, which inherits it from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "spark-local"))
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp

    import report
    import spans
    from curate import Curate
    from serve import Serve

    ctx = Ctx(args, work)
    # keep the JVM's scratch files in the checkout too (-XX:-UsePerfData:
    # no hsperfdata directory under the system temp dir)
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if args.trace:
        conf |= spans.spark_conf(ctx.event_dir)
    try:
        try:
            ctx.start(conf)
            workload = {"serve": Serve, "curate": Curate}[args.workload](ctx)
            windows = [workload.measure("u")]
            if args.trace:  # untraced, traced, untraced: see report.per_layer
                ctx.tracer.install(ctx.spark)
                windows.append(workload.measure("t"))
                ctx.tracer.enabled = False
                windows.append(workload.measure("v"))
            peak = ctx.peak_rss_mb()
            t0 = time.perf_counter()
            bad = workload.check()
            ctx.check_s = time.perf_counter() - t0
        finally:
            ctx.stop()
        ops = [o for w in windows for o in w.get("steps", w["ops"])]
        failed = sum(1 for o in ops if not o["ok"] or o["op"] in bad)
        e2e = report.end_to_end(ctx, windows[0])
        for line in report.summary(args.workload, ctx, windows, e2e, peak, failed, len(ops)):
            print(line)
        if args.trace:
            metrics = report.per_layer(ctx, windows, spans.read_event_log(ctx.event_dir), peak)
        else:
            metrics = e2e
    finally:
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
