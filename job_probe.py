"""Per-job breakdown of one catalog query, read from Spark's event log.

Runs one registered query ``--reps`` times in a fresh Spark session
with the event log on (each rep builds the frame and collects it),
then prints every job of the last rep with its description and stage
count, and appends one JSON summary line to ``--out``.

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

The event-log parsing is ``perfbench/tracing.read_event_log``; this
script adds only the per-job properties that parser does not keep.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BATCH_KEY = "streaming.sql.batchId"


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


def probe(query: str, sf_dir: str, reps: int) -> dict:
    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.session import get_spark
    from tracing import read_event_log

    log_dir = tempfile.mkdtemp(prefix="job_probe_")
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
        fn = registry()[query].fn
        windows, rows = [], 0
        for _ in range(reps):
            t0 = time.time()
            rows = len(fn(spark, sf_dir).collect())
            windows.append((t0, time.time()))
        spark.stop()
        counts = read_event_log(log_dir)
        props = job_properties(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

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
        "sf": os.path.basename(os.path.normpath(sf_dir)),
        "reps": reps,
        "rows": rows,
        "last_rep_s": round(hi - lo, 3),
        "rep_s": [round(b - a, 3) for a, b in windows],
        "jobs": len(last),
        "stages": sum(stages_of.get(j, 0) for j in last),
        "jobs_per_batch": dict(sorted(per_batch.items(), key=lambda kv: int(kv[0]))),
        "jobs_per_batch_median": statistics.median(per_batch.values()) if per_batch else None,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("query")
    ap.add_argument("sf_dir")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", help="append the JSON summary line to this file")
    ap.add_argument("--label", help="free-text tag stored in the summary (e.g. a commit)")
    args = ap.parse_args()
    sys.path[:0] = [HERE, os.path.join(HERE, "perfbench")]
    rec = probe(args.query, args.sf_dir, args.reps)
    if args.label:
        rec = {"label": args.label, **rec}
    line = json.dumps(rec)
    print(line)
    if args.out:
        with open(args.out, "a") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
