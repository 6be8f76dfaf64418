"""Streaming-backed catalog queries (SURVEY.md M5, T2/T5).

Each query materializes a real Structured Streaming run: events are
landed as files, read back with a file-source stream, processed through
windowed / stateful operators, executed to completion with
Trigger.AvailableNow into a memory sink, and the sink's table is
returned as the result DataFrame. A ``foreachBatch`` query writes its
output as files instead and returns a read of them. Every query keeps
its landing files, checkpoint and any output under its own
``session.scratch_dir``, which its next call replaces.

Because an AvailableNow cycle over a static landing dir is
deterministic, these carry full SQL oracles — DuckDB verifies the
*streaming* engine's output, not a batch stand-in. A query with a
batch twin in queries_pipeline.py is built from that twin's builders
and registers its oracle, so the two differ only in source and sink
(tests/test_streaming.py proves stream≡batch on the same input).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.ordering import ordkey
from ..functions.rounding import dround
from ..session import clone_session, pin, scratch_dir, set_width
from ..sources.readers import load_table
from ..streaming import structured as ST
from .catalog import register
from .queries_pipeline import (
    _CDC_SQL,
    _SCD2_SQL,
    _TUMBLE_SQL,
    _cdc_changes,
    _cdc_snapshot,
    _cdc_step,
    _ohlc_aggs,
    _scd2_updates,
    _scd2_versions,
    _tumble_out,
)


def _land(df: DataFrame, name: str) -> tuple[str, str]:
    """Write ``df`` as a stream's landing files in the scratch dir of
    the query ``name``; return the landing dir and the checkpoint dir
    beside it, for :func:`_run_to_table`."""
    root = scratch_dir(df.sparkSession, name)
    landing = os.path.join(root, "landing")
    df.write.mode("overwrite").parquet(landing)
    return landing, os.path.join(root, "ckpt")


def _land_events(spark: SparkSession, sf_dir: str, name: str) -> tuple[str, str, DataFrame]:
    """Land events (micros timestamps) for the query ``name``; return
    the landing dir, the checkpoint dir and the events frame."""
    ev = load_table(spark, sf_dir, "events")
    return *_land(ev, name), ev


def _run_to_table(result: DataFrame, mode: str, ckpt: str) -> DataFrame:
    """Run one AvailableNow cycle into a memory table, on the session
    ``result`` was built on, and return the table read on that session.

    The stream's STATE partition count is that session's shuffle width,
    fixed at the first checkpoint, and every micro-batch (including the
    no-data finalize batch) commits EVERY state store — so stateful
    callers with kilobytes of state build their stream on a width-8
    clone. The memory sink's temp view is dropped once read: the
    returned frame keeps its analyzed plan, and the catalog stays as
    the caller left it. The memory table holds its rows in driver
    memory, so the result reads nothing under ``ckpt`` (from
    :func:`_land`)."""
    spark = result.sparkSession
    name = "q_" + uuid.uuid4().hex[:12]
    ST.run_available_now(result, ckpt, name, output_mode=mode)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def _final_emission(updates: DataFrame, *keys: str) -> DataFrame:
    """The final state per key of an update-mode emission log, which
    holds every per-batch emission: the row with the largest
    ``n_events`` (running counts only grow)."""
    w = W.partitionBy(*keys).orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@register(
    "stream_tumbling",
    _TUMBLE_SQL,
    doc="Structured Streaming tumbling window (AvailableNow file stream → memory sink); oracle checks the streaming output itself",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, ckpt, ev = _land_events(spark, sf_dir, "stream_tumbling")
    stream = ST.read_file_stream(spark, path, ev.schema)
    res = ST.tumbling_counts(stream, watermark="2 hours")
    return _tumble_out(_run_to_table(res, "complete", ckpt))


_STREAM_TOTALS_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(COALESCE(value, 0)), 2) AS sum_value
FROM events
GROUP BY user_id
"""


@register(
    "stream_stateful_totals",
    _STREAM_TOTALS_SQL,
    doc="applyInPandasWithState running totals (update mode, multi-micro-batch); final state per user oracle-checked",
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, ckpt, ev = _land_events(spark, sf_dir, "stream_stateful_totals")
    # >1 file → >1 micro-batch → state actually carries across batches
    stream = ST.read_file_stream(spark, path, ev.schema, max_files_per_trigger=1)
    res = ST.running_totals_stateful(stream)
    updates = _run_to_table(res, "update", ckpt)
    return _final_emission(updates, "user_id").select(
        "user_id", "n_events", dround("sum_value", 2).alias("sum_value")
    )


_STREAM_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000 THEN 1
              ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts)                           AS sess_start,
       MAX(ts) + INTERVAL 30 MINUTE      AS sess_end,
       COUNT(*)                          AS n_events,
       ROUND(SUM(COALESCE(value, 0)), 2) AS sum_value
FROM sessions
GROUP BY user_id, sid
"""


@register(
    "stream_sessionize",
    _STREAM_SESSION_SQL,
    doc=(
        "Structured Streaming session_window aggregation (gap 30min); "
        "JVM state-store session merging, oracle reproduces the exact "
        "boundary semantics (a gap of exactly 30min starts a NEW "
        "session — Spark merges only strictly-overlapping windows)"
    ),
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, ckpt, ev = _land_events(spark, sf_dir, "stream_sessionize")
    stream = ST.read_file_stream(spark, path, ev.schema)
    res = ST.session_aggregate(stream, watermark="2 hours")
    out = _run_to_table(res, "complete", ckpt)
    return out.select(
        "user_id",
        "sess_start",
        "sess_end",
        "n_events",
        dround("sum_value", 2).alias("sum_value"),
    )


_STREAM_DEDUP_SQL = """
SELECT event_id, user_id, ts FROM events
"""


@register(
    "stream_dedup",
    _STREAM_DEDUP_SQL,
    doc=(
        "streaming exact dedup: the landing dir holds every event "
        "TWICE (a replayed upstream), dropDuplicatesWithinWatermark on "
        "the key collapses them across micro-batches — state is bounded "
        "by the event-time watermark horizon, the scale property plain "
        "dropDuplicates lacks; oracle = the original distinct rows"
    ),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    path, ckpt = _land(ev, "stream_dedup")
    ev.write.mode("append").parquet(path)  # the duplicate replay
    # kilobytes of dedup state: the stream runs on a width-8 clone. A/B
    # receipt: plans/r14/ab_receipts/stream_dedup.jsonl.
    work = clone_session(spark, 8)
    stream = ST.read_file_stream(work, path, ev.schema, max_files_per_trigger=4)
    # watermark far behind max event time: nothing is dropped as late,
    # dedup state spans the whole replayed range
    res = stream.withWatermark("ts", "3650 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _run_to_table(res, "append", ckpt).select("event_id", "user_id", "ts")


_STREAM_PEAKS_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(MAX(COALESCE(value, 0)), 2) AS peak
FROM events
GROUP BY user_id
"""


@register(
    "stream_tws_peaks",
    _STREAM_PEAKS_SQL,
    doc=(
        "transformWithStateInPandas (Spark 4 StatefulProcessor) running "
        "per-user peaks: named ValueState on the processor handle, "
        "multi-micro-batch state carry; final state oracle-checked"
    ),
)
def stream_tws_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, ckpt, ev = _land_events(spark, sf_dir, "stream_tws_peaks")
    stream = ST.read_file_stream(spark, path, ev.schema, max_files_per_trigger=1)
    # TWS needs protobuf in the Python worker; same state semantics on
    # the applyInPandasWithState lane where it's absent (this container)
    peaks = ST.running_peaks_tws if ST.tws_available() else ST.running_peaks_state
    updates = _run_to_table(peaks(stream), "update", ckpt)
    return _final_emission(updates, "user_id").select(
        "user_id", "n_events", dround("peak", 2).alias("peak")
    )


def _gates_oracle() -> str:
    from .queries_curation import _gates_sql

    return _gates_sql()


@register(
    "stream_curation_gates",
    _gates_oracle(),
    doc=(
        "the curation family on a LIVE STREAM: Gopher-style quality "
        "gates applied to a document file-stream (AvailableNow) — the "
        "gates are pure per-row expressions, so the exact same operator "
        "(operators/curation.quality_gates) runs on the stream with no "
        "watermark, no state, and append-mode output; this is how a "
        "100 TB ingest scores docs ON ARRIVAL instead of re-scanning "
        "the corpus later. Oracle checks the streamed output directly"
    ),
)
def stream_curation_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation as CU

    docs = load_table(spark, sf_dir, "documents")
    path, ckpt = _land(docs, "stream_curation_gates")
    stream = ST.read_file_stream(spark, path, docs.schema)
    return _run_to_table(CU.quality_gates(stream), "append", ckpt)


_STREAM_SS_JOIN_SQL = """
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       ROUND(COALESCE(p.value, 0), 2) AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


@register(
    "stream_stream_join",
    _STREAM_SS_JOIN_SQL,
    doc=(
        "stream-stream inner join (click→purchase attribution within "
        "30 min, per user): two watermarked event streams join on key "
        "+ event-time range inside the state store; append mode, every "
        "match emitted exactly once. Runs under a REALISTIC 1-day "
        "watermark (VERDICT r5 item 6) with the trailing no-data batch "
        "ENABLED, so the timed cycle includes what a deployment pays: "
        "the watermark advance + join-state EVICTION commit, not just "
        "ingestion. Correct under replay because the historical landing "
        "dir fits one AvailableNow micro-batch (watermark only advances "
        "between batches; batch 1 starts at epoch, so no row is late "
        "and inner matches emit eagerly) — state expiry under "
        "multi-batch lateness is separately proven via stateOperators "
        "metrics in tests/test_streaming.py. Oracle runs the "
        "equivalent static range join"
    ),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _click_purchase_attribution(
        spark, sf_dir, "stream_stream_join", "1 day", "inner",
        "click_id", "purchase_id", "user_id", "click_ts", "purchase_ts",
    )


def _click_purchase_attribution(
    spark: SparkSession, sf_dir: str, name: str, delay: str, how: str, *cols: str
) -> DataFrame:
    """Click→purchase attribution as a stream-stream join for the query
    ``name``: each click joins the same user's purchases in the 30
    minutes after it, both streams watermarked ``delay`` behind their
    event time. The result is ``cols`` then purchase_value."""
    path, ckpt, ev = _land_events(spark, sf_dir, name)
    # 4 state stores per partition for kilobytes of state: the stream
    # runs on a width-8 clone (measured 8.4s -> 3.9s at sf0.1 vs 32).
    work = clone_session(spark, 8)

    def events(event_type: str) -> DataFrame:
        return ST.read_file_stream(work, path, ev.schema).filter(
            F.col("event_type") == event_type
        )

    clicks = events("click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", delay)
    purchases = events("purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    ).withWatermark("purchase_ts", delay)
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    )
    # The trailing no-data batch advances the watermark: it EVICTS
    # expired join state, the cost a deployment pays per watermark
    # advance, so the cycle times it; in an outer join it also emits
    # the clicks that can no longer match.
    out = _run_to_table(joined, "append", ckpt)
    return out.select(
        *cols, dround(F.coalesce("value", F.lit(0.0)), 2).alias("purchase_value")
    )


_STREAM_ENRICH_SQL = """
SELECT c.c_mktsegment AS segment,
       e.event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(COALESCE(e.value, 0)), 2) AS sum_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
"""


@register(
    "stream_enrich_join",
    _STREAM_ENRICH_SQL,
    doc=(
        "stream-static join: the event file-stream enriches against a "
        "broadcast static dimension (customer segment) inside the "
        "micro-batch plan — the standard on-arrival enrichment shape "
        "(at 100 TB/day the dimension broadcasts once per batch, the "
        "stream never shuffles for the join) — then a streaming "
        "aggregation rolls up per (segment, event_type) in complete "
        "mode. Oracle joins/aggregates the same inputs statically"
    ),
)
def stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, ckpt, ev = _land_events(spark, sf_dir, "stream_enrich_join")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    stream = ST.read_file_stream(spark, path, ev.schema)
    enriched = stream.join(F.broadcast(dim), "user_id")
    res = enriched.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("sum_value"),
    )
    out = _run_to_table(res, "complete", ckpt)
    return out.select(
        "segment", "event_type", "n_events", dround("sum_value", 2).alias("sum_value")
    )


# ---------------------------------------------------------------------------
# Streaming incremental dedup: continuous ingestion vs a standing corpus
# ---------------------------------------------------------------------------


def _union_all(parts: list) -> DataFrame:
    """unionByName over a non-empty list of same-schema frames."""
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _inc_minhash_oracle() -> str:
    from .queries_llm import _INC_NEW_MIN, _minhash_sql

    return _minhash_sql(new_min=_INC_NEW_MIN)


@register(
    "stream_incremental_dedup",
    _inc_minhash_oracle(),
    doc=(
        "continuous-ingestion dedup: new documents arrive as a file "
        "stream in multiple micro-batches; each batch computes ONLY its "
        "own MinHash band buckets, LSH-probes them against the standing "
        "band-bucket store (old×old never re-paired — O(batch) per "
        "batch), Jaccard-verifies candidates against shingles of the "
        "CANDIDATE docs only, appends verified pairs to the output and "
        "absorbs the batch (docs + band buckets) into the store. A pair "
        "is found exactly once — by the batch where its later member "
        "arrives — so the union over batches equals the one-shot "
        "batch answer, and the oracle IS dedup_incremental's SQL. "
        "The hot-bucket guard applies to bucket sizes AS OF each "
        "batch — pairs verified at arrival stand (never retracted), "
        "members arriving after a bucket crosses the cap form no "
        "pairs through it; at a mid-stream crossing the stream is a "
        "strict superset of the one-shot batch guard. That contract "
        "is pinned by test_stream_cap_semantics_as_of_batch (the "
        "fixture corpus itself stays far below the cap, so the "
        "oracle equality here is exact)"
    ),
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_llm import _INC_NEW_MIN

    # the corpus setup runs at the caller's width, the absorb loop's
    # micro-batches at width 8 (set just before the stream starts)
    work = clone_session(spark)
    docs = load_table(work, sf_dir, "documents")
    root = scratch_dir(spark, "stream_incremental_dedup")
    out_dir = os.path.join(root, "pairs")
    land_dir = os.path.join(root, "landing")

    parts = _incdedup_store(docs.filter(F.col("doc_id") < _INC_NEW_MIN))

    # land the new batch as 3 files → 3 micro-batches (range-partitioned
    # so each file is a contiguous id slice; the output SET is
    # batching-invariant, this just makes the replay multi-batch)
    new_docs = docs.filter(F.col("doc_id") >= _INC_NEW_MIN)
    new_docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(land_dir)

    pair_schema = "a long, b long, jaccard double"
    absorb = _incdedup_make_absorb(parts, out_dir)

    stream = ST.read_file_stream(
        work, land_dir, docs.schema, max_files_per_trigger=1
    )
    # a micro-batch is ~1/3 of the new slice: kilobytes of shuffle data
    # across its 9-11 jobs (job_probe.py, sf0.01 and sf0.1)
    set_width(work, 8)
    ST.run_available_now(stream, os.path.join(root, "ckpt"), absorb)
    # bid-keyed subdirs → recursive lookup; the result read runs on the
    # caller's session at the caller's width
    return (
        spark.read.schema(pair_schema)
        .option("recursiveFileLookup", "true")
        .parquet(out_dir)
    )


def _incdedup_store(standing: DataFrame) -> dict:
    """stream_incremental_dedup's state, the one store each micro-batch
    reads: ``{bid: (docs, bands)}``, one part per absorbed batch, with
    the pre-stream corpus under key -1. The corpus docs stay a source
    scan — production never copies the corpus to dedup it — and only
    its derived band table is pinned, so a batch probes pre-hashed
    (id, bucket) memory blocks instead of re-hashing the corpus. At
    100 TB the band table is the small derived side (a few buckets per
    document, not the corpus), which is exactly what an absorb loop
    keeps resident between triggers.

    Parts are keyed by micro-batch id: foreachBatch re-delivers a batch
    under the SAME _bid after a partial failure, so a retried batch
    must REPLACE its earlier part, never append beside it."""
    from ..operators import dedup as D

    bands = D.band_buckets(D.minhash_signatures(D.exploded_shingles(standing)))
    return {-1: (standing, pin(bands))}


def _incdedup_make_absorb(parts: dict, out_dir: str):
    """Build stream_incremental_dedup's foreachBatch closure over the
    :func:`_incdedup_store` ``parts`` (module level, like
    :func:`_scd2_make_absorb`, so the retry contract is directly
    testable: tests drive it twice with the SAME ``_bid`` and assert
    both the parts and the read-back pairs converge instead of
    doubling)."""
    from ..operators import dedup as D
    from .queries_llm import _JACCARD_MAX_BUCKET, _verified_pairs

    def absorb(batch: DataFrame, _bid: int) -> None:
        doc_part, seen = pin(batch, rows=F.count(F.lit(1)))
        if seen["rows"] == 0:
            return
        # a retried _bid must not see (or keep) its earlier attempt's
        # part: drop it up front so the unions below read only other
        # batches' state, then re-register at the end
        parts.pop(_bid, None)
        # spread=False: the spread repartition is an anti-skew device
        # for corpus-scale explodes; a micro-batch is small, so the
        # extra shuffle is pure per-job overhead here (band values are
        # identical either way)
        band_part = pin(D.band_buckets(
            D.minhash_signatures(D.exploded_shingles(doc_part, spread=False))
        ))
        # not pinned: verify_pairs reads the candidates once (as its
        # broadcast pair frame), and the store probe inside is pinned
        cand = D.lsh_incremental_candidates(
            _union_all([b for _, b in parts.values()] + [band_part]),
            band_part,
            max_bucket=_JACCARD_MAX_BUCKET,
        )
        ver = _verified_pairs(
            _union_all([d for d, _ in parts.values()] + [doc_part]), cand
        )
        # out_dir is read back as the query RESULT, so a retried _bid
        # must REPLACE its earlier attempt's pairs, never append beside
        # them — each batch owns a bid-keyed subdirectory written with
        # overwrite
        ver.write.mode("overwrite").parquet(os.path.join(out_dir, f"bid_{_bid}"))
        # absorb AFTER pairing so the batch never pairs against itself
        # through the store (it pairs against itself via band_part)
        parts[_bid] = (doc_part, band_part)

    return absorb


# ---------------------------------------------------------------------------
# Streaming CDC apply: versioned snapshot maintained from a change stream
# ---------------------------------------------------------------------------


@register(
    "stream_cdc_apply",
    _CDC_SQL,
    doc=(
        "CDC stream → maintained snapshot: change batches (I/U/D) "
        "arrive as a file stream; each micro-batch reads the CURRENT "
        "snapshot version, applies the batch with the same broadcast "
        "anti-join + append plan as cdc_apply, and writes the NEXT "
        "version directory — the poor-man's versioned table (what "
        "Delta/Iceberg commit protocols productionize; readers always "
        "see a complete version, never a half-written overwrite). The "
        "change feed is keyed disjointly across batches, so the final "
        "version is batch-order independent and hash-matches the "
        "one-shot cdc_apply oracle"
    ),
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = scratch_dir(spark, "stream_cdc_apply")
    land_dir = os.path.join(root, "landing")

    snap0 = _cdc_snapshot(spark, sf_dir)
    version = {"n": 0}
    snap_dir = lambda v: os.path.join(root, f"snapshot_v{v}")  # noqa: E731
    snap0.write.mode("overwrite").parquet(snap_dir(0))

    # cdc_apply's change feed, landed as a 3-file stream
    # (range-partitioned on k → batches touch disjoint keys)
    changes = _cdc_changes(snap0)
    changes.repartitionByRange(3, "k").write.mode("overwrite").parquet(land_dir)

    snap_schema = snap0.schema

    def apply_batch(batch: DataFrame, _bid: int) -> None:
        batch, seen = pin(batch, rows=F.count(F.lit(1)))
        if seen["rows"] == 0:
            return
        cur = spark.read.schema(snap_schema).parquet(snap_dir(version["n"]))
        _cdc_step(cur, batch).write.mode("overwrite").parquet(snap_dir(version["n"] + 1))
        version["n"] += 1

    stream = ST.read_file_stream(spark, land_dir, changes.schema, max_files_per_trigger=1)
    ST.run_available_now(stream, os.path.join(root, "ckpt"), apply_batch)
    final = spark.read.schema(snap_schema).parquet(snap_dir(version["n"]))
    return final.select("k", dround("price", 2).alias("price"), "status")


_STREAM_OHLC_SQL = """
WITH keyed AS (
  SELECT event_type,
         date_trunc('day', ts) AS day,
         value,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ordkey
  FROM events WHERE event_type IN ('view', 'purchase')
)
SELECT event_type, day,
       arg_min(value, ordkey) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, ordkey) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM keyed
GROUP BY event_type, day
"""


@register(
    "stream_ohlc",
    _STREAM_OHLC_SQL,
    doc=(
        "streaming OHLC bars: the kline rollup running as a LIVE "
        "Structured Streaming aggregation — daily tumbling window + "
        "watermark, open/close via min_by/max_by over the same "
        "zero-padded (epoch-micros, id) key as the batch events_ohlc. "
        "The streaming state per bar is one (value, key) pair per "
        "side plus the plain extrema — O(bars) state, the same bound "
        "as the batch shuffle; the oracle verifies the streaming "
        "engine's own output (AvailableNow determinism), and the "
        "batch query is its stream≡batch twin"
    ),
)
def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path, ckpt, ev = _land_events(spark, sf_dir, "stream_ohlc")
    stream = ST.read_file_stream(spark, path, ev.schema).filter(
        F.col("event_type").isin("view", "purchase")
    )
    keyed = stream.withWatermark("ts", "2 hours").select(
        "event_type", "ts", "value", ordkey().alias("ordkey")
    )
    res = keyed.groupBy(F.window("ts", "1 day").alias("win"), "event_type").agg(
        *_ohlc_aggs()
    )
    out = _run_to_table(res, "complete", ckpt)
    return out.select(
        "event_type",
        F.col("win.start").cast("date").alias("day"),
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
    )


# ---------------------------------------------------------------------------
# OUTER stream-stream join: unmatched rows emit on watermark expiry
# ---------------------------------------------------------------------------

_SSJ_OUTER_SQL = """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id AS purchase_id, user_id AS p_user_id, ts AS purchase_ts, value
  FROM events WHERE event_type = 'purchase'
),
wm AS (
  SELECT LEAST((SELECT MAX(click_ts) FROM c),
               (SELECT MAX(purchase_ts) FROM p)) - INTERVAL 1 HOUR AS w
),
matched AS (
  SELECT c.click_id, c.user_id, c.click_ts,
         p.purchase_id, p.purchase_ts,
         ROUND(COALESCE(p.value, 0), 2) AS purchase_value
  FROM c JOIN p
    ON p.p_user_id = c.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
),
unmatched AS (
  SELECT c.click_id, c.user_id, c.click_ts,
         CAST(NULL AS BIGINT) AS purchase_id,
         CAST(NULL AS TIMESTAMP) AS purchase_ts,
         0.0 AS purchase_value
  FROM c, wm
  WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.p_user_id = c.user_id
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE)
    AND c.click_ts + INTERVAL 30 MINUTE < wm.w
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
"""


@register(
    "stream_stream_join_outer",
    _SSJ_OUTER_SQL,
    doc=(
        "LEFT-OUTER stream-stream join — the capability the inner "
        "join cannot witness: a click with no purchase in its window "
        "emits a NULL-extended row only after the GLOBAL watermark "
        "(min across both inputs, here 1 hour behind, where the inner "
        "query's is 1 day; both share one attribution builder) "
        "proves no match can still arrive, i.e. when click_ts + the "
        "30-minute join range falls behind the final watermark. On "
        "the AvailableNow replay the data passes in one micro-batch "
        "(no outer rows yet — the watermark is still at its starting "
        "value while the batch runs) and the trailing no-data batch "
        "advances the watermark once, expiring state and flushing "
        "exactly the provably-unmatched clicks (empirically pinned: "
        "the final click stays in state and is withheld). The oracle "
        "replays both lanes: an inner join for matches plus a "
        "NOT-EXISTS anti lane gated on the same watermark cutoff — "
        "so the EXPIRY rule itself is hash-verified, not just the "
        "matches. State is bounded by the watermark delay + range at "
        "any stream length"
    ),
)
def stream_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _click_purchase_attribution(
        spark, sf_dir, "stream_stream_join_outer", "1 hour", "leftOuter",
        "click_id", "user_id", "click_ts", "purchase_id", "purchase_ts",
    )


# ---------------------------------------------------------------------------
# Streaming SCD2 maintenance (wave 64)
# ---------------------------------------------------------------------------

_SCD2_N_BUCKETS = 16


_SCD2_DIM_SCHEMA = (
    "bkt int, user_id long, tier double, valid_from timestamp, "
    "event_id long, valid_to timestamp, is_current boolean"
)


def _scd2_make_absorb(spark: SparkSession, dim: str):
    """The per-batch SCD2 maintenance closure (shared with the
    order-insensitivity property test, which drives it with scrambled
    batches outside any stream)."""

    def absorb(batch: DataFrame, _bid: int) -> None:
        batch, seen = pin(
            batch.withColumn(
                "bkt", F.pmod(F.col("user_id"), F.lit(_SCD2_N_BUCKETS)).cast("int")
            ),
            rows=F.count(F.lit(1)),
        )
        if seen["rows"] == 0:
            return
        touched = [r.bkt for r in batch.select("bkt").distinct().collect()]
        if os.path.isdir(dim) and any(
            f.endswith(".parquet") or f.startswith("bkt=")
            for f in os.listdir(dim)
        ):
            store = spark.read.schema(_SCD2_DIM_SCHEMA).parquet(dim)
        else:
            store = spark.createDataFrame([], _SCD2_DIM_SCHEMA)
        old = store.filter(F.col("bkt").isin(touched)).select(
            "bkt", "user_id", "tier", F.col("valid_from").alias("ts"), "event_id"
        )
        changes = old.unionByName(
            batch.select("bkt", "user_id", "tier", "ts", "event_id")
        )
        # materialize BEFORE overwriting the very files `old` reads from
        rebuilt = pin(_scd2_versions(changes, "bkt", "event_id"))
        rebuilt.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bkt").parquet(dim)

    return absorb


@register(
    "stream_scd2_apply",
    _SCD2_SQL,
    doc=(
        "streaming SCD2 maintenance — the continuous half of "
        "scd2_dim_history: the change feed arrives in 3 micro-batches "
        "and a foreachBatch sink maintains the dimension as a "
        "BUCKET-PARTITIONED parquet table with dynamic partition "
        "overwrite, i.e. copy-on-write at bucket granularity (the "
        "Delta/Hudi upsert shape). Per batch: touched buckets resolve "
        "from the batch keys (a ≤" f"{_SCD2_N_BUCKETS}" "-row collect), "
        "only those buckets are read back, each touched key's history "
        "is REBUILT from its retained change rows ∪ the batch (every "
        "version row carries its originating change, so rebuild needs "
        "no side log) and exactly those buckets are overwritten — "
        "untouched buckets are never read or written, which is what "
        "bounds per-batch cost by the batch's key locality, not the "
        "corpus. The rebuild makes the maintenance ORDER-INSENSITIVE "
        "(late or out-of-order changes for a key correct its whole "
        "history), so the final table equals the one-shot batch SCD2 "
        "— the oracle IS scd2_dim_history's SQL. The rebuilt frame is "
        "eagerly checkpointed before the overwrite (never read-and-"
        "overwrite the same files lazily)"
    ),
)
def stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    # each micro-batch's rebuild window + store read-back shuffle a few
    # thousand rows: the stream runs on a width-8 clone. Fresh-subprocess
    # interleaved A/B receipt: plans/r14/ab_receipts/stream_scd2_apply.jsonl.
    work = clone_session(spark, 8)
    upd = _scd2_updates(load_table(work, sf_dir, "events"))
    root = scratch_dir(spark, "stream_scd2_apply")
    land = os.path.join(root, "landing")
    dim = os.path.join(root, "dim")
    upd.repartitionByRange(3, "ts", "event_id").write.mode("overwrite").parquet(land)

    absorb = _scd2_make_absorb(work, dim)

    stream = ST.read_file_stream(
        work, land, upd.schema, max_files_per_trigger=1
    )
    ST.run_available_now(stream, os.path.join(root, "ckpt"), absorb)
    # the result read runs on the caller's session at the caller's width
    return spark.read.schema(_SCD2_DIM_SCHEMA).parquet(dim).select(
        "user_id", "tier", "valid_from", "valid_to", "is_current"
    )


# ---------------------------------------------------------------------------
# Watermark late-data audit (wave 72)
# ---------------------------------------------------------------------------

_LATE_CUT = "2024-01-16"
_LATE_DELAY_DAYS = 20

_LATE_SQL = f"""
WITH wm AS (
  SELECT MAX(ts) - INTERVAL {_LATE_DELAY_DAYS} DAY AS w
  FROM events WHERE ts >= TIMESTAMP '{_LATE_CUT}'
),
kept AS (
  SELECT e.* FROM events e, wm
  WHERE e.ts >= TIMESTAMP '{_LATE_CUT}'
     OR date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wm.w
)
SELECT date_trunc('hour', ts) AS win_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
       event_type,
       COUNT(*)::BIGINT AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM kept
GROUP BY 1, 2, 3
"""


@register(
    "stream_late_data_audit",
    _LATE_SQL,
    doc=(
        "watermark late-data semantics, ORACLED: the on-time half of "
        "the event log streams first (one AvailableNow cycle whose "
        "no-data finalize batch advances the watermark to "
        f"max(ts) − {_LATE_DELAY_DAYS}d), then the old half arrives "
        "LATE in a second cycle sharing the checkpoint — Structured "
        "Streaming drops exactly the rows whose 1h window END ≤ the "
        "standing watermark (verified empirically: 574 windows / 657 "
        "rows at sf0.001, bit-equal to the SQL reconstruction), and "
        "the oracle computes the same survivor set from the raw "
        "table. Update-mode emissions land via foreachBatch into "
        "parquet (the memory sink cannot resume a checkpoint); the "
        "final per-window state is the max-n_events emission "
        "(monotone). This is the T1/T5 drop-forever contract as a "
        "driver-checkable differential query, not just a unit test"
    ),
)
def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    cut = F.lit(_LATE_CUT).cast("timestamp")
    on_time = ev.filter(F.col("ts") >= cut)
    late = ev.filter(F.col("ts") < cut)
    root = scratch_dir(spark, "stream_late_data_audit")
    land = os.path.join(root, "landing")
    ckpt = os.path.join(root, "ckpt")
    out = os.path.join(root, "out")

    def sink(b: DataFrame, _bid: int) -> None:
        # an empty batch appends one empty part file, which reads as 0 rows
        b.write.mode("append").parquet(out)

    def run_cycle() -> None:
        res = ST.tumbling_counts(
            ST.read_file_stream(spark, land, ev.schema),
            watermark=f"{_LATE_DELAY_DAYS} days",
        )
        ST.run_available_now(res, ckpt, sink, output_mode="update")

    on_time.write.mode("overwrite").parquet(land)
    run_cycle()
    late.write.mode("append").parquet(land)
    run_cycle()
    sch = (
        "win_start timestamp, win_end timestamp, event_type string, "
        "n_events long, sum_value double"
    )
    both = spark.read.schema(sch).parquet(out)
    return _final_emission(both, "win_start", "win_end", "event_type").select(
        "win_start",
        "win_end",
        "event_type",
        "n_events",
        dround("sum_value", 2).alias("sum_value"),
    )
