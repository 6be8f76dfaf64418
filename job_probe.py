"""Per-job breakdown of one catalog query or of one publish cycle,
read from Spark's event log.

Runs one registered query ``--reps`` times in a fresh Spark session
with the event log on (each rep builds the frame and collects it),
then prints every job of the last rep with its description and stage
count, and appends one JSON summary line to ``--out``.

``delta_flow`` in place of a query probes one publish cycle instead:
perfbench's generated market (``perfbench/datagen.py``, seeded by
``--seed``) is staged as parquet, backfilled, and ``--reps`` merge
cycles of ``flows.delta_flow`` run on it as the ``daily_publish``
workload runs them; each cycle is a rep. The summary adds the sha256
of the published file's sorted lines and the workload's pandas check.

A job belongs to the rep whose wall-clock window holds its submission
time, so jobs that a stream's ``foreachBatch`` thread submits count
toward the query that started the stream, whatever job group they ran
under. Jobs a stream runs for one micro-batch carry Spark's
``streaming.sql.batchId`` local property; the summary counts them per
batch id. A job's description is ``spark.job.description`` (a
``session.pin`` names its caller there), else its first stage's name.

Usage::

    python job_probe.py stream_incremental_dedup /path/to/sf0.01 \
        --reps 3 --out JOBS.jsonl --label change
    python job_probe.py delta_flow --reps 7 --seed 3

The event-log parsing is ``perfbench/tracing.read_event_log``; this
script adds only the per-job properties that parser does not keep.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
BATCH_KEY = "streaming.sql.batchId"
DELTA_FLOW = "delta_flow"


def job_properties(log_dir: str) -> dict[int, dict]:
    """Job id -> {"desc", "batch"} from the JobStart events."""
    out = {}
    for fname in os.listdir(log_dir):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                if ev["Event"] != "SparkListenerJobStart":
                    continue
                props = ev.get("Properties") or {}
                stage_names = [s["Stage Name"] for s in ev.get("Stage Infos", [])]
                desc = props.get("spark.job.description") or (stage_names or [""])[0]
                out[ev["Job ID"]] = {
                    "desc": " ".join(desc.split()),
                    "batch": props.get(BATCH_KEY),
                }
    return out


def query_reps(spark, query: str, sf_dir: str, reps: int) -> tuple[list, dict]:
    """Build and collect a catalog query ``reps`` times: the reps' time
    windows, and summary fields."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    fn = registry()[query].fn
    windows, rows = [], 0
    for _ in range(reps):
        t0 = time.time()
        rows = len(fn(spark, sf_dir).collect())
        windows.append((t0, time.time()))
    return windows, {"sf": os.path.basename(os.path.normpath(sf_dir)), "rows": rows}


def delta_cycles(spark, work: str, reps: int, seed: int) -> tuple[list, dict]:
    """Backfill perfbench's generated market, then ``reps`` merge
    cycles as the ``daily_publish`` workload runs them: the cycles'
    time windows, and summary fields."""
    import datagen
    import workloads as W
    from pyspark.sql import functions as F

    from a_share_data_pipeline_spark import flows
    from a_share_data_pipeline_spark.sources.readers import load_table
    from a_share_data_pipeline_spark.sources.sinks import LocalDirPublisher
    from a_share_data_pipeline_spark.streaming.incremental import WatermarkStore

    wl = W.DailyPublish(seed, work)  # the workload's layout and its pandas check
    wl.market = datagen.ashare_market(seed, W.N_STOCKS, wl.days)
    datagen.stage(wl.market, wl.market_dir)
    daily, stk_limit, daily_basic, stock_basic = (
        load_table(spark, wl.market_dir, t)
        for t in ("daily", "stk_limit", "daily_basic", "stock_basic")
    )
    hub = LocalDirPublisher(os.path.dirname(wl.published))
    wm = WatermarkStore(os.path.join(wl.out, flows.WATERMARK_FILE))
    day = lambda s: datetime.strptime(s, "%Y%m%d").date()  # noqa: E731
    until = lambda df: df.filter(F.col("trade_date") <= wl.hist[-1])  # noqa: E731
    flows.backfill_flow(
        spark, until(daily), until(stk_limit), until(daily_basic), stock_basic,
        os.path.join(wl.out, "backfill", flows.PRICES_FILE), hub, wm, day(wl.hist[-1]),
    )
    staging = os.path.join(wl.out, "staging", "delta.csv")
    windows = []
    for end in wl.days[W.HISTORY_DAYS :][:reps]:
        W.isolate(spark)
        t0 = time.time()
        flows.delta_flow(
            spark, daily, stk_limit, daily_basic, stock_basic, staging, hub, wm,
            day(end), mode="merge", slack_days=W.SLACK_DAYS,
        )
        windows.append((t0, time.time()))
        wl.cycle_ends.append(end)
    with open(wl.published, "rb") as f:
        lines = sorted(f.read().splitlines())
    return windows, {
        "seed": seed,
        "stocks": W.N_STOCKS,
        "published_lines": len(lines),
        "published_sha256": hashlib.sha256(b"\n".join(lines)).hexdigest(),
        "correct": wl.check(),
    }


def probe(query: str, sf_dir: str | None, reps: int, seed: int) -> dict:
    from a_share_data_pipeline_spark.session import get_spark
    from tracing import read_event_log

    log_dir, work = tempfile.mkdtemp(prefix="job_probe_"), tempfile.mkdtemp(prefix="job_probe_")
    try:
        spark = get_spark(
            "job_probe",
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
        )
        if query == DELTA_FLOW:
            windows, fields = delta_cycles(spark, work, reps, seed)
        else:
            windows, fields = query_reps(spark, query, sf_dir, reps)
        spark.stop()
        counts = read_event_log(log_dir)
        props = job_properties(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    stages_of: dict[int, int] = {}
    for job in counts.stages.values():
        stages_of[job] = stages_of.get(job, 0) + 1
    lo, hi = windows[-1]
    last = sorted(j for j, t in counts.jobs.items() if lo <= t <= hi)
    per_batch: dict[str, int] = {}
    for j in last:
        print(f"{j:6d}  stages={stages_of.get(j, 0):2d}  batch={props[j]['batch'] or '-':>3}  {props[j]['desc']}")
        if props[j]["batch"] is not None:
            per_batch[props[j]["batch"]] = per_batch.get(props[j]["batch"], 0) + 1
    return {
        "query": query,
        **fields,
        "reps": reps,
        "last_rep_s": round(hi - lo, 3),
        "rep_s": [round(b - a, 3) for a, b in windows],
        "jobs": len(last),
        "stages": sum(stages_of.get(j, 0) for j in last),
        "tasks": sum(1 for t in counts.tasks if counts.stages.get(t["stage"]) in last),
        "jobs_per_batch": dict(sorted(per_batch.items(), key=lambda kv: int(kv[0]))),
        "jobs_per_batch_median": statistics.median(per_batch.values()) if per_batch else None,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("query", help=f"a catalog query, or {DELTA_FLOW} for one publish cycle")
    ap.add_argument("sf_dir", nargs="?", help="the tables' directory (catalog queries)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1, help=f"the generated market's seed ({DELTA_FLOW})")
    ap.add_argument("--out", help="append the JSON summary line to this file")
    ap.add_argument("--label", help="free-text tag stored in the summary (e.g. a commit)")
    args = ap.parse_args()
    if args.query != DELTA_FLOW and args.sf_dir is None:
        ap.error("a catalog query needs sf_dir")
    sys.path[:0] = [HERE, os.path.join(HERE, "perfbench")]
    rec = probe(args.query, args.sf_dir, args.reps, args.seed)
    if args.label:
        rec = {"label": args.label, **rec}
    line = json.dumps(rec)
    print(line)
    if args.out:
        with open(args.out, "a") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
