"""Structured Streaming variant of the incremental engine (SURVEY.md M5).

The reference's delta flow is a hand-rolled micro-batch loop with a
text-file watermark (market/delta_non_fq_daily_kline.py:29-41, 71-107,
159-167). The native Spark restatement is a file-source stream:

    readStream(source dir) → transform → writeStream
        .trigger(availableNow=True)
        .option("checkpointLocation", ...)

`run_available_now` is the one stream entry point: every stream in the
package, memory-table or `foreachBatch` sink, starts through it.

- `Trigger.AvailableNow` ≡ the reference's "process everything since
  the watermark, then stop" cron semantics (T2/T4);
- the checkpoint dir replaces `.last_update_date` (T1) — offsets commit
  transactionally after each sink epoch, so a crash rerun resumes
  instead of duplicating (strictly better than compat-mode U1);
- `withWatermark` + windowed aggregation supplies the late-data
  semantics the reference lacks (§2.9): late rows within the watermark
  slack are merged, rows beyond it are dropped deterministically.

Event-time operators (T5) target the `events` testdata table
(event_id, ts, user_id, event_type, value, props).

At scale: file-source streams list new files per micro-batch
(maxFilesPerTrigger bounds batch size); state-store size for windowed
aggs is bounded by the watermark horizon; session windows use the
built-in session_window (state merges server-side, no Python).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet file-source stream over a landing directory — the
    streaming analog of the reference's 'new CSV appeared' model."""
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def tumbling_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """T5: tumbling 1-hour event-time window; late rows beyond `watermark` are
    dropped, within it they update their window's aggregate."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """T5: sliding (hopping) 2-hour window every hour — each row lands
    in 2 overlapping windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
        )
    )


def session_aggregate(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T5: 30-minute-gap session windows per user via the built-in
    session_window — state merging happens in the JVM state store, no
    Python in the loop."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_events",
            "sum_value",
        )
    )


RUNNING_STATE_SCHEMA = "n_events bigint, sum_value double"
RUNNING_OUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double"


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator (§2.10 UDF surface): per-user running
    totals via applyInPandasWithState — the arbitrary-state API the
    reference's watermark file is a degenerate form of.

    Arrow-batched: each micro-batch groups by user and updates a
    (n_events, sum_value) state tuple; emits the running value per user
    per batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_OUT_SCHEMA,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    result: DataFrame,
    checkpoint_dir: str,
    sink: str | Callable[[DataFrame, int], None],
    output_mode: str = "append",
):
    """Execute one AvailableNow cycle to completion — the streaming
    analog of one reference cron run (T2/T4), and the package's one
    place that starts a stream. ``sink`` is a memory-table name or a
    ``foreachBatch`` function. The checkpoint dir is the watermark:
    re-running with the same dir processes only new files.
    Returns the (terminated) StreamingQuery so callers can read its
    progress records — per-micro-batch `stateOperators` metrics are how
    tests prove state actually expires under a watermark."""
    writer = (
        result.writeStream.outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
    )
    if isinstance(sink, str):
        writer = writer.format("memory").queryName(sink)
    else:
        writer = writer.foreachBatch(sink)
    q = writer.start()
    q.awaitTermination()
    return q


PEAK_OUT_SCHEMA = "user_id bigint, n_events bigint, peak double"


def running_peaks_tws(events: DataFrame) -> DataFrame:
    """Per-user running peak via transformWithStateInPandas — Spark 4's
    StatefulProcessor API (the successor of applyInPandasWithState):
    named state variables on a handle, timer support, and a state store
    that survives micro-batches. State here is one (peak, n) row per
    user; emissions are Arrow-batched pandas frames.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class PeakProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("peak", "peak double, n bigint")

        def handleInputRows(self, key, rows, timerValues):
            peak, n = (
                (self._state.get() or (float("-inf"), 0))
                if self._state.exists()
                else (float("-inf"), 0)
            )
            for pdf in rows:
                vals = pdf["value"].fillna(0.0)
                if len(vals):
                    peak = max(peak, float(vals.max()))
                n += len(pdf)
            self._state.update((peak, n))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "peak": [peak]})

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=PeakProcessor(),
        outputStructType=PEAK_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def running_peaks_state(events: DataFrame) -> DataFrame:
    """Same per-user running-peak semantics on the applyInPandasWithState
    lane — the fallback when transformWithStateInPandas's runtime
    dependency (google.protobuf in the Python worker) is absent."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        import pandas as pd

        peak, n = state.get if state.exists else (float("-inf"), 0)
        for pdf in pdf_iter:
            vals = pdf["value"].fillna(0.0)
            if len(vals):
                peak = max(peak, float(vals.max()))
            n += len(pdf)
        state.update((peak, n))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "peak": [peak]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=PEAK_OUT_SCHEMA,
        stateStructType="peak double, n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_available() -> bool:
    """transformWithStateInPandas needs protobuf in the Python worker
    (its driver↔worker channel is proto-serialized); probe it."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_canonical_delta(
    spark: SparkSession,
    fixture_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """The ENTIRE reference delta flow as one streaming query:
    the API streaming source drives micro-batches of new trade dates
    (offsets checkpointed — market/delta_non_fq_daily_kline.py's
    watermark file made native), and foreachBatch assembles each
    batch's canonical rows and appends them to the date-partitioned
    native table.

    foreachBatch is the idiomatic shape here: the driving fact stream
    picks WHICH dates are new; the other two facts + the dimension are
    then fetched for exactly those dates through the batch source
    (partition-pruned by keys=) and joined with the standard assembly —
    a 3-way stream-stream join would add watermark state for what is
    purely a per-date lookup.

    Exactly-once: offsets commit after each batch's sink write, and the
    sink write itself is IDEMPOTENT (dynamic partition overwrite of
    exactly the batch's date partitions). foreachBatch alone is only
    at-least-once — a crash after the parquet write but before the
    offset commit replays the batch; with overwrite_partitions the
    replay rewrites the same date partitions to the same bytes instead
    of appending duplicates (proven by the replay test in
    tests/test_streaming.py).
    """
    from ..operators import assembly
    from ..sources import api_source, sinks

    api_source.register(spark)

    def opts(reader, table, **kw):
        r = reader.format("ashare_api").option("table", table).option(
            "fixture_dir", fixture_dir
        )
        for k, v in kw.items():
            r = r.option(k, str(v))
        return r

    # start_date 00000000: the first batch takes every trade date
    daily_stream = opts(spark.readStream, "daily", start_date="00000000").load()

    def process(batch_df, batch_id: int) -> None:
        dates = sorted(r[0] for r in batch_df.select("trade_date").distinct().collect())
        if not dates:
            return
        keys = ",".join(dates)
        limit = opts(spark.read, "stk_limit", mode="by_date", keys=keys).load()
        basic = opts(spark.read, "daily_basic", mode="by_date", keys=keys).load()
        # stock_basic has no per-key partitions; fetch once driver-side
        dim = spark.createDataFrame(
            api_source.FixtureApiClient(fixture_dir).fetch("stock_basic"),
            schema=api_source.TABLE_SCHEMAS["stock_basic"],
        )
        canonical = assembly.assemble_canonical(
            batch_df, limit, basic, dim, mode="delta"
        )
        sinks.write_native(canonical, out_dir, mode="overwrite_partitions")

    run_available_now(daily_stream, checkpoint_dir, process)
