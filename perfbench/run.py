"""Benchmark of the A-share engine: two closed-loop workloads, each
reporting its end-to-end metrics, plus a traced mode for per-layer
numbers.

    python3 perfbench/run.py --workload iterative_jobs --seed 1 --seconds 5 --trace 0

Workloads (see workloads.py): ``iterative_jobs``, ``daily_publish``.
One client process drives ``local[<cores>]``, where cores is the
process's CPU affinity count.

A run: start the engine's SparkSession (``session.get_spark``), generate
and stage the seeded inputs, warm up (each query built, collected and
checked against its oracle once; for ``daily_publish`` the backfill and
the first cycles), then time ops in a closed loop: whole passes (every
query of the mix once, or four delta cycles) until ``--seconds`` have
elapsed. A pass takes 10-16 s, so with ``--seconds`` 5 a run times
exactly one; a window ending mid-way between passes would make the op
count, and with it the medians, bimodal.
``setup_s`` is session start + the median of three stagings + warm-up.

With ``--trace 1`` the run then restarts the SparkContext with Spark's
event log on, installs the layer wrappers and a StreamingQueryListener
(tracing.py), times the same loop again and reports per-layer metrics,
``trace_overhead`` (traced / untraced median op time) and per-query
numbers. Spans go to ``.perfbench_out/`` at the checkout root.
``seed_trace.json`` beside this file holds one traced run per workload
of the engine as it was when the benchmark was added: the per-layer
baseline.

Everything a run writes goes under ``.perfbench_run/<run>/`` at the
checkout root (TMPDIR, Spark local and warehouse dirs, event log, the
published CSVs) and is deleted at exit. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "a_share_data_pipeline_spark"

END_TO_END = {"setup_s": "s", "op_s.p50": "s", "ops_per_min": "1/min"}


class Session:
    """The one SparkSession of a run, and the JVM behind it."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None

    def start(self, event_log_dir: str | None = None):
        from a_share_data_pipeline_spark import session

        conf = {
            "spark.sql.warehouse.dir": "file://" + os.path.join(self.run_dir, "warehouse"),
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.environ["TMPDIR"],
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log_dir is not None:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.spark = session.get_spark("perfbench", extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        self.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- never leave the JVM behind
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    def peak_rss_mb(self) -> float:
        """JVM high-water RSS + this process's max RSS."""
        jvm = self.spark.sparkContext._jvm
        pid = jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def make_workload(name: str, seed: int, run_dir: str):
    import workloads as W

    if name == "iterative_jobs":
        return W.QueryMix(W.ITERATIVE, run_dir)
    if name == "daily_publish":
        return W.DailyPublish(seed, run_dir)
    raise SystemExit(f"unknown workload {name!r}")


def op_times(ops) -> list[float]:
    return [op.end - op.start for op in ops]


def measure(args, session: Session, run_dir: str, cores: int) -> dict:
    workload = make_workload(args.workload, args.seed, run_dir)
    t0 = time.perf_counter()
    spark = session.start()
    session_s = time.perf_counter() - t0
    staging_s = workload.stage()
    t0 = time.perf_counter()
    checks = workload.warm_up(spark)
    warm_s = time.perf_counter() - t0
    setup_s = session_s + staging_s + warm_s

    res = workload.run(spark, args.seed, args.seconds)
    attempted = len(res.ops) + len(checks) + res.checks
    failed = res.failed + sum(not ok for ok in checks.values())
    metrics = {
        "setup_s": setup_s,
        "op_s.p50": statistics.median(op_times(res.ops)),
        "ops_per_min": 60.0 * len(res.ops) / res.wall,
    }
    # per-layer only: G1's heap sizing moves it 12-23 % between runs
    peak_rss_mb = session.peak_rss_mb()
    print(
        f"perfbench: {args.workload} seed={args.seed} ops={len(res.ops)} "
        f"window={res.wall:.1f}s session={session_s:.1f}s staging={staging_s:.1f}s "
        f"warm_up={warm_s:.1f}s checks={checks} "
        f"op_s={[round(t, 2) for t in op_times(res.ops)]}",
        file=sys.stderr,
    )
    if args.trace:
        traced, extra = trace_run(args, session, workload, res, run_dir, cores)
        attempted += len(traced.ops) + traced.checks
        failed += traced.failed
        metrics = extra | {"session.start_s": session_s, "session.peak_rss_mb": peak_rss_mb}
    units = END_TO_END if not args.trace else per_layer_units()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def trace_run(args, session: Session, workload, untraced, run_dir: str, cores: int):
    """Re-run the loop with tracing on; per-layer metrics."""
    import tracing
    import workloads as W

    session.stop()
    tracer = tracing.Tracer()
    tracer.install()
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir)
    tracer.listen(session.start(event_log_dir=log_dir))
    res = workload.run(session.spark, args.seed, args.seconds, tracer)
    session.stop()  # flushes the event log
    counts = tracing.read_event_log(log_dir)
    metrics = tracing.layer_metrics(res.ops, tracer, counts, cores)
    metrics["trace_overhead"] = statistics.median(op_times(res.ops)) / statistics.median(
        op_times(untraced.ops)
    )
    metrics["flows.backfill_s"] = workload.backfill_s
    jobs = collections.Counter(op.id for op in tracing.job_ops(res.ops, counts).values())
    for name in W.ITERATIVE:
        times = [op.end - op.start for op in untraced.ops if op.name == name]
        metrics[f"q.{name}.s"] = statistics.median(times) if times else 0.0
        n = [jobs[op.id] for op in res.ops if op.name == name]
        metrics[f"q.{name}.jobs"] = statistics.mean(n) if n else 0.0
    tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
    return res, metrics


def per_layer_units() -> dict[str, str]:
    import tracing
    import workloads as W

    units = dict(tracing.LAYER_UNITS)
    units |= {
        "session.start_s": "s",
        "session.peak_rss_mb": "MB",
        "flows.backfill_s": "s",
        "trace_overhead": "ratio",
    }
    for name in W.ITERATIVE:
        units[f"q.{name}.s"] = "s"
        units[f"q.{name}.jobs"] = "count"
    return units


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ |= {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    }
    tempfile.tempdir = None  # re-read TMPDIR
    session = Session(run_dir)
    try:
        result = measure(args, session, run_dir, cores)
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(run_dir))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
