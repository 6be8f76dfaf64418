"""Tracing for the benchmark's traced run: spans around calls into the
engine's layers, a StreamingQueryListener, and Spark's event log.

Everything here lives in the benchmark; the engine is not modified.
``Tracer.install`` rebinds the engine's public layer functions to
timing wrappers for the rest of the process. Spans (name, start, end,
parent, op) are kept in memory and written out once at the end.

Spark-side counts come from the event log (plain JSON lines), parsed
with the stdlib. A job belongs to the op whose time window holds the
job's submission time, so jobs submitted from a stream's
``foreachBatch`` thread count toward the op that started the stream.
"""

from __future__ import annotations

import importlib
import itertools
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "a_share_data_pipeline_spark"

# (layer, module, function): module-level layer entry points
LAYER_FUNCTIONS = [
    ("session", f"{PKG}.session", "get_spark"),
    ("sources", f"{PKG}.sources.readers", "load_table"),
    ("sources", f"{PKG}.sources.readers", "read_csv"),
    ("streaming", f"{PKG}.streaming.structured", "run_available_now"),
    ("streaming", f"{PKG}.streaming.incremental", "merge_increment"),
    ("flows", f"{PKG}.flows", "backfill_flow"),
    ("flows", f"{PKG}.flows", "delta_flow"),
    ("sinks", f"{PKG}.sources.sinks", "append_csv"),
    ("sinks", f"{PKG}.sources.sinks", "overwrite_csv"),
]
# (layer, module, class, method)
LAYER_METHODS = [
    ("sources", "pyspark.sql.readwriter", "DataFrameReader", "parquet"),
    ("streaming", f"{PKG}.streaming.incremental", "WatermarkStore", "read"),
    ("streaming", f"{PKG}.streaming.incremental", "WatermarkStore", "write"),
    ("publisher", f"{PKG}.sources.sinks", "LocalDirPublisher", "upload"),
]


def now() -> float:
    """Wall-clock seconds; comparable with the event log's epoch ms."""
    return time.time()


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    bytes: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)
    op: int | None = None  # id of the op in flight, shared by all threads
    _ids: itertools.count = field(default_factory=itertools.count)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    # --- spans -------------------------------------------------------------

    def open(self, name: str) -> Span:
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            span = Span(next(self._ids), name, now(), op=self.op)
            self.spans.append(span)
        span.parent = stack[-1].id if stack else None
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = now()
        self._local.stack.remove(span)

    def wrap(self, name: str, fn):
        tracer = self
        sized = name.startswith("sinks.")
        appends = name.endswith("append_csv")  # overwrite_csv rewrites the whole file

        def traced(*args, **kwargs):
            span = tracer.open(name)
            path = kwargs.get("path", args[1] if len(args) > 1 else None) if sized else None
            before = _size(path)
            try:
                return fn(*args, **kwargs)
            finally:
                if sized:
                    span.bytes = _size(path) - (before if appends else 0)
                tracer.close(span)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        """Rebind every layer entry point, wherever it was imported."""
        modules = {mod: importlib.import_module(mod) for _, mod, _ in LAYER_FUNCTIONS}
        pkg_modules = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
        for layer, mod, fname in LAYER_FUNCTIONS:
            orig = getattr(modules[mod], fname)
            wrapped = self.wrap(f"{layer}.{fname}", orig)
            for m in pkg_modules:
                if getattr(m, fname, None) is orig:
                    setattr(m, fname, wrapped)
        for layer, mod, cls_name, meth in LAYER_METHODS:
            cls = getattr(importlib.import_module(mod), cls_name)
            setattr(cls, meth, self.wrap(f"{layer}.{cls_name}.{meth}", getattr(cls, meth)))

    # --- streaming progress -------------------------------------------------

    def listen(self, spark) -> None:
        """Register a progress listener on ``spark`` and on every session
        cloned from it later (the stream queries run in clones)."""
        from pyspark.sql import SparkSession
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {
                        "ts": p.timestamp,
                        "rows": p.numInputRows,
                        "batch_ms": p.batchDuration,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Progress()
        spark.streams.addListener(listener)
        new_session = SparkSession.newSession

        def new_session_with_listener(session):
            clone = new_session(session)
            clone.streams.addListener(listener)
            return clone

        SparkSession.newSession = new_session_with_listener

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "op": s.op, "bytes": s.bytes}
                    )
                    + "\n"
                )


def _size(path) -> int:
    return os.path.getsize(path) if isinstance(path, str) and os.path.exists(path) else 0


# --- event log ---------------------------------------------------------------


@dataclass
class SparkCounts:
    jobs: dict[int, float] = field(default_factory=dict)  # job id -> submitted, epoch s
    stage_job: dict[int, int] = field(default_factory=dict)
    stages: dict[int, int] = field(default_factory=dict)  # completed stage -> job
    tasks: list[dict] = field(default_factory=list)


def read_event_log(log_dir: str) -> SparkCounts:
    counts = SparkCounts()
    for fname in os.listdir(log_dir):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    counts.jobs[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for sid in ev["Stage IDs"]:
                        counts.stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    counts.stages[sid] = counts.stage_job.get(sid, -1)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    sr = m.get("Shuffle Read Metrics", {})
                    counts.tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "dur_ms": info["Finish Time"] - info["Launch Time"],
                            "shuffle_write": m.get("Shuffle Write Metrics", {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "shuffle_read": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                            "input_rows": m.get("Input Metrics", {}).get("Records Read", 0),
                        }
                    )
    return counts


# --- per-layer metrics ---------------------------------------------------------


@dataclass
class TracedOp:
    """One traced op: a query (build then evaluate) or a delta cycle."""

    id: int
    name: str
    start: float
    end: float
    build_end: float | None = None  # queries only
    result_rows: int = 0
    published_growth: int = 0  # delta cycles only


def _within(t: float, lo: float, hi: float) -> bool:
    return lo <= t <= hi


def _self_time(spans: list[Span], layer: str) -> float:
    """Time inside ``layer`` spans, counting nested same-layer spans once."""
    by_id = {s.id: s for s in spans}
    total = 0.0
    for s in spans:
        if s.layer != layer:
            continue
        p = by_id.get(s.parent)
        while p is not None and p.layer != layer:
            p = by_id.get(p.parent)
        if p is None:  # outermost span of this layer
            total += s.end - s.start
    return total


LAYER_UNITS = {
    "plans.build_s": "s",
    "plans.eval_s": "s",
    "plans.build_jobs": "count",
    "plans.eval_jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.busy_ratio": "ratio",
    "spark.task_skew": "ratio",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "sources.rows_examined_per_result_row": "ratio",
    "sources.load_s": "s",
    "streaming.call_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.input_rows": "count",
    "sinks.write_s": "s",
    "sinks.bytes_written_mb": "MB",
    "sinks.write_amplification": "ratio",
    "publisher.upload_s": "s",
    "flows.delta_jobs": "count",
}


def layer_metrics(
    ops: list[TracedOp], tracer: Tracer, counts: SparkCounts, cores: int
) -> dict[str, float]:
    """Per-op means of the per-layer metrics over the traced ops."""
    n = max(len(ops), 1)
    mb = 1024.0 * 1024.0
    op_of_job = job_ops(ops, counts)
    query_jobs = {job: op for job, op in op_of_job.items() if op.build_end is not None}
    build_jobs = sum(1 for job, op in query_jobs.items() if counts.jobs[job] <= op.build_end)
    eval_jobs = len(query_jobs) - build_jobs
    stage_op = {
        sid: op_of_job[job] for sid, job in counts.stages.items() if job in op_of_job
    }
    tasks = [t for t in counts.tasks if t["stage"] in stage_op]
    stage_durs: dict[int, list[int]] = {}
    for t in tasks:
        stage_durs.setdefault(t["stage"], []).append(t["dur_ms"])
    skews = [
        max(d) / max(statistics.median(d), 1.0) for d in stage_durs.values() if len(d) > 1
    ]
    wall = sum(op.end - op.start for op in ops)
    spans = [s for s in tracer.spans if s.op in {op.id for op in ops}]
    queries = [op for op in ops if op.build_end is not None]
    cycles = [op for op in ops if op.build_end is None]
    input_rows = sum(t["input_rows"] for t in tasks)
    result_rows = sum(op.result_rows for op in ops)
    sink_bytes = sum(s.bytes for s in spans if s.layer == "sinks")
    growth = sum(op.published_growth for op in cycles)
    batches = [
        p for p in tracer.progress
        if any(_within(_iso_epoch(p["ts"]), op.start, op.end) for op in ops)
    ]
    per = lambda x: x / n  # noqa: E731
    per_query = lambda x: x / max(len(queries), 1)  # noqa: E731
    return {
        "plans.build_s": per_query(sum(op.build_end - op.start for op in queries)),
        "plans.eval_s": per_query(sum(op.end - op.build_end for op in queries)),
        "plans.build_jobs": per_query(build_jobs),
        "plans.eval_jobs": per_query(eval_jobs),
        "plans.stages": per_query(sum(op.build_end is not None for op in stage_op.values())),
        "plans.tasks": per_query(sum(stage_op[t["stage"]].build_end is not None for t in tasks)),
        "spark.jobs": per(len(op_of_job)),
        "spark.stages": per(len(stage_op)),
        "spark.tasks": per(len(tasks)),
        "spark.shuffle_write_mb": per(sum(t["shuffle_write"] for t in tasks) / mb),
        "spark.shuffle_read_mb": per(sum(t["shuffle_read"] for t in tasks) / mb),
        "spark.spill_mb": per(sum(t["spill"] for t in tasks) / mb),
        "spark.busy_ratio": sum(t["run_ms"] for t in tasks) / 1000.0 / max(wall * cores, 1e-9),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "sources.input_mb": per(sum(t["input_bytes"] for t in tasks) / mb),
        "sources.input_rows": per(input_rows),
        "sources.rows_examined_per_result_row": input_rows / max(result_rows, 1),
        "sources.load_s": per(_self_time(spans, "sources")),
        "streaming.call_s": per(_self_time(spans, "streaming")),
        "streaming.batches": per(len(batches)),
        "streaming.batch_s": per(sum(p["batch_ms"] for p in batches) / 1000.0),
        "streaming.input_rows": per(sum(p["rows"] for p in batches)),
        "sinks.write_s": per(_self_time(spans, "sinks")),
        "sinks.bytes_written_mb": per(sink_bytes / mb),
        "sinks.write_amplification": sink_bytes / growth if growth else 0.0,
        "publisher.upload_s": per(_self_time(spans, "publisher")),
        "flows.delta_jobs": (len(op_of_job) - len(query_jobs)) / max(len(cycles), 1),
    }


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def job_ops(ops: list[TracedOp], counts: SparkCounts) -> dict[int, TracedOp]:
    """Job id -> the op whose time window holds the job's submission."""
    out = {}
    for job, t in counts.jobs.items():
        op = next((op for op in ops if _within(t, op.start, op.end)), None)
        if op is not None:
            out[job] = op
    return out
