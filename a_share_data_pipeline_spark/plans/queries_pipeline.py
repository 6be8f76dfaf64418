"""Pipeline-shaped queries: the reference's dataflow patterns (assembly
join chain, union-all append, watermark incrementality, as-of
enrichment, time windows) exercised over the driver's testdata.

The Tushare-shaped canonical pipeline itself is golden-tested against
pandas-derived fixtures in tests/; here the same operator shapes run on
the TPC-H-ish tables so the DuckDB oracle can check them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.asof import as_of_join
from ..operators.graph import PPR_DAMPING
from ..session import clone_session, scratch_dir, set_width, volume_width
from ..sources import load_table
from ..streaming import structured as ST
from ..streaming.incremental import merge_increment
from ..functions.ordering import ordkey
from ..functions.rounding import dround
from .catalog import register
from .queries_market import _daily_avg, _daily_pair, _ticks

# ---------------------------------------------------------------------------
# Flagship: canonical wide-row assembly (J1+J2/J3+P3+P5 shape on testdata)
# ---------------------------------------------------------------------------

CANONICAL_ASSEMBLY_SQL = """
SELECT l.l_orderkey                    AS order_key,
       l.l_linenumber                  AS line_no,
       ROUND(l.l_extendedprice, 2)     AS price,
       ROUND(l.l_quantity, 2)          AS qty,
       ROUND(p.p_retailprice, 2)       AS retail_price,
       p.p_brand                       AS brand,
       s.s_name                        AS supplier_name,
       o.o_orderstatus                 AS order_status,
       CAST(o.o_orderdate AS DATE)     AS order_date,
       c.c_name                        AS customer_name,
       c.c_mktsegment                  AS segment,
       n.n_name                        AS nation
FROM lineitem l
LEFT JOIN part     p ON l.l_partkey = p.p_partkey
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders        o ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation   n ON c.c_nationkey = n.n_nationkey
WHERE l.l_quantity IS NOT NULL AND o.o_orderstatus <> 'P'
"""


@register(
    "canonical_assembly",
    CANONICAL_ASSEMBLY_SQL,
    doc=(
        "Reference assembly shape (SURVEY.md §3.1) on testdata: non-null "
        "anchor fact (P5) + composite left-join chain (J1) + inner "
        "dim-join-as-filter (J3) + broadcast dim enrich (J2) + rename/"
        "cast/project (P3/F1). Reference: market/non_fq_daily_kline.py:99-124."
    ),
)
def canonical_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity").isNotNull())
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    wide = (
        li.join(part, li.l_partkey == part.p_partkey, "left")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey, "left")
        .join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left")
    )
    return wide.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        dround("l_extendedprice", 2).alias("price"),
        dround("l_quantity", 2).alias("qty"),
        dround("p_retailprice", 2).alias("retail_price"),
        F.col("p_brand").alias("brand"),
        F.col("s_name").alias("supplier_name"),
        F.col("o_orderstatus").alias("order_status"),
        F.to_date("o_orderdate").alias("order_date"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("nation"),
    )


# ---------------------------------------------------------------------------
# U1: union-all append semantics (duplicate-tolerant, reference compat)
# ---------------------------------------------------------------------------

_MERGE_SQL = """
WITH appended AS (
  SELECT o_orderkey FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  UNION ALL
  SELECT o_orderkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
)
SELECT (SELECT COUNT(*) FROM (SELECT o_orderkey FROM appended
        GROUP BY o_orderkey HAVING COUNT(*) > 1) d) AS compat_dup_keys,
       COUNT(*)                                     AS n_rows,
       COUNT(DISTINCT o_orderkey)                   AS n_keys
FROM (SELECT DISTINCT o_orderkey FROM appended) t
"""


@register(
    "merge_idempotent",
    _MERGE_SQL,
    doc=(
        "U1 both halves in one query: compat mode (bag UNION ALL, "
        "overlapping appends duplicate keys — reference "
        "market/delta_non_fq_daily_kline.py:150) counted via "
        "compat_dup_keys, and merge mode (idempotent key-deduplicated "
        "append, the engine upgrade) summarized via n_rows/n_keys "
        "(absorbs round-1 union_all_append)"
    ),
)
def merge_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(
        F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp")
    ).select("o_orderkey")
    new = o.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).select("o_orderkey")
    compat = merge_increment(old, new, mode="compat")
    dup_keys = (
        compat.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .agg(F.count(F.lit(1)).alias("compat_dup_keys"))
    )
    merged = merge_increment(old, new, keys=["o_orderkey"], mode="merge")
    summary = merged.agg(
        F.count(F.lit(1)).alias("n_rows"), F.countDistinct("o_orderkey").alias("n_keys")
    )
    return dup_keys.crossJoin(summary)  # 1×1 rows — trivially safe cross


# ---------------------------------------------------------------------------
# T1-T3: watermark incrementality (batch mode) over events
# ---------------------------------------------------------------------------

_INC_SQL = """
WITH days AS (
  SELECT CAST(d AS DATE) AS day
  FROM generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY) t(d)
),
delta AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_new,
         ROUND(SUM(value), 2) AS value_sum
  FROM events
  WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
  GROUP BY 1
)
SELECT days.day,
       COALESCE(delta.n_new, 0)        AS n_new,
       COALESCE(delta.value_sum, 0.0)  AS value_sum
FROM days LEFT JOIN delta ON days.day = delta.day
"""


@register(
    "incremental_delta",
    _INC_SQL,
    doc=(
        "watermark-driven delta over a generated calendar (T1/T2 + F4): "
        "sequence+explode date expansion left-joined with the partition-"
        "pruned slice of rows past the high-water mark — replaces the "
        "reference's wall-clock per-day loop "
        "(market/delta_non_fq_daily_kline.py:69-107) with one plan "
        "(absorbs round-1 date_sequence)"
    ),
)
def incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = spark.range(1).select(
        F.explode(
            F.sequence(F.lit("2024-01-01").cast("date"), F.lit("2024-01-30").cast("date"))
        ).alias("day")
    )
    delta = ev.filter(F.col("ts") > F.lit("2024-01-20 00:00:00"))
    per_day = delta.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.sum("value"), 2).alias("vs"),
    )
    return days.join(per_day, "day", "left").select(
        "day",
        F.coalesce("n", F.lit(0)).alias("n_new"),
        F.coalesce("vs", F.lit(0.0)).alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# J4: as-of join — latest event at-or-before each order date, per user
# ---------------------------------------------------------------------------

_ASOF_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT 'backward' AS direction, e.event_id, e.user_id,
       o.o_orderkey   AS matched_order_key,
       o.o_orderdate  AS matched_order_date
FROM events e
ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
UNION ALL
SELECT 'forward_30d' AS direction, e.event_id, e.user_id,
       CASE WHEN o.o_orderdate <= e.ts + INTERVAL 30 DAY THEN o.o_orderkey END,
       CASE WHEN o.o_orderdate <= e.ts + INTERVAL 30 DAY THEN o.o_orderdate END
FROM events e
ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
"""


@register(
    "asof_join",
    _ASOF_SQL,
    doc=(
        "as-of join (J4 [GAP]) in BOTH directions: backward (latest "
        "order at-or-before each event) and forward with a 30-day "
        "tolerance (earliest order at-or-after, match nulled past the "
        "tolerance — pandas merge_asof semantics); union-merge "
        "implementation, one shuffle per direction, no range blow-up; "
        "oracle is DuckDB's native ASOF JOIN"
    ),
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))  # deterministic among exact-ts ties
    )
    common = dict(
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload=["o_orderkey", "o_orderdate"],
    )
    backward = as_of_join(events, orders, direction="backward", **common).select(
        F.lit("backward").alias("direction"),
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("matched_order_key"),
        F.col("o_orderdate").alias("matched_order_date"),
    )
    forward = as_of_join(
        events, orders, direction="forward", tolerance=30 * 86400.0, **common
    ).select(
        F.lit("forward_30d").alias("direction"),
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("matched_order_key"),
        F.col("o_orderdate").alias("matched_order_date"),
    )
    return backward.unionByName(forward)


# ---------------------------------------------------------------------------
# Bucketed storage layout: the canonical table's scale path (S14 + W3)
# ---------------------------------------------------------------------------

_BUCKETED_MA_SQL = """
SELECT o_custkey, o_orderkey,
       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
       ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS ma3
FROM orders
"""


@register(
    "bucketed_ma",
    _BUCKETED_MA_SQL,
    doc=(
        "bucketed canonical layout end-to-end: orders rewritten as a "
        "catalog table bucketed AND sorted by the window key "
        "(bucketBy(8, o_custkey)), then a per-key moving average reads "
        "it back — the bucketed scan already satisfies the window's "
        "clustering, so the plan has ZERO Exchange (gate-tested in "
        "tests/test_plan_quality.py); at 100 TB this removes the "
        "dominant shuffle from every recurring per-key computation on "
        "the canonical table"
    ),
)
def bucketed_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # idempotent rewrite per call — the layout IS the thing under test:
    # an external table over the query's scratch dir, re-registered
    spark.sql("DROP TABLE IF EXISTS orders_bucketed_ma")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey", "o_orderdate", "o_orderkey")
        .option("path", scratch_dir(spark, "bucketed_ma"))
        .saveAsTable("orders_bucketed_ma")
    )
    b = spark.table("orders_bucketed_ma")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return b.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        dround(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 2).alias("ma3"),
    )


_ZORDER_SQL = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice,
       CAST(o_orderdate AS DATE) AS o_orderdate
FROM orders
WHERE o_custkey BETWEEN 100 AND 300 AND o_totalprice > 150000
"""


@register(
    "layout_zorder",
    _ZORDER_SQL,
    doc=(
        "Z-order (Morton) clustered layout end-to-end: orders rewritten "
        "as 16 z-clustered parquet files on (o_custkey, o_totalprice) "
        "via operators/layout.py, read back through a TWO-dimensional "
        "predicate — the rewrite is semantics-preserving (the oracle "
        "runs the same predicate on the original table), while the "
        "physical claim (narrow per-file min/max spans on BOTH columns "
        "→ most files skipped whichever dimension the filter hits) is "
        "asserted by tests/test_scale_ops.py::"
        "test_zorder_write_tightens_stats_on_both_columns"
    ),
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import zorder_write

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    path = scratch_dir(spark, "layout_zorder")
    zorder_write(orders, path, ["o_custkey", "o_totalprice"])
    back = spark.read.parquet(path)
    return back.filter(
        F.col("o_custkey").between(100, 300) & (F.col("o_totalprice") > 150000)
    ).select(
        "o_orderkey",
        "o_custkey",
        dround("o_totalprice", 2).alias("o_totalprice"),
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )


_COMPACT_SQL = "SELECT event_id, ts, user_id, event_type, value, props FROM events"


@register(
    "layout_compact",
    _COMPACT_SQL,
    doc=(
        "small-file compaction (the lakehouse OPTIMIZE shape): events "
        "fragmented into 64 tiny files (a streaming ingest's leftover) "
        "are rewritten as ceil(bytes/target) ts-clustered files — size "
        "from Catalyst plan statistics (no driver FS walk), one "
        "repartitionByRange shuffle doing compaction AND re-clustering "
        "together; oracle checks the rewrite is lossless. File-count "
        "bound asserted by tests/test_scale_ops.py::"
        "test_compact_files_bounds_file_count"
    ),
)
def layout_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import compact_files

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    root = scratch_dir(spark, "layout_compact")
    frag = f"{root}/events_fragmented"
    compacted = f"{root}/events_compacted"
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    compact_files(spark.read.parquet(frag), compacted, target_bytes=1 << 20, sort_col="ts")
    return spark.read.parquet(compacted).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


_JSONL_SQL = "SELECT doc_id, text, lang, source, n_chars FROM documents"


@register(
    "source_jsonl",
    _JSONL_SQL,
    doc=(
        "JSON Lines corpus ingest round-trip — the LLM-corpus "
        "interchange format: documents written as JSONL (one object "
        "per line, splittable, parallel read/write) and read back with "
        "an EXPLICIT schema; schema inference at 100 TB is a full "
        "extra pass over the data and silently widens types, so the "
        "reader never pays it. The oracle checks the round-trip is "
        "lossless against the original table"
    ),
)
def source_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = scratch_dir(spark, "source_jsonl")
    docs.write.mode("overwrite").json(path)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    return spark.read.schema(schema).json(path)


# ---------------------------------------------------------------------------
# T5 batch analogs: tumbling / sliding / session windows over events
# ---------------------------------------------------------------------------

_TUMBLE_SQL = """
SELECT DATE_TRUNC('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS value_sum
FROM events
GROUP BY 1, 2
"""


@register("events_tumbling", _TUMBLE_SQL, doc="tumbling 1h window aggregation (T5); streaming twin: stream_tumbling")
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return _tumble_out(ST.tumbling_counts(ev))


def _tumble_out(counts: DataFrame) -> DataFrame:
    """events_tumbling's columns over ``ST.tumbling_counts`` output."""
    return counts.select(
        F.col("win_start").alias("window_start"),
        "event_type",
        F.col("n_events").alias("n"),
        dround("sum_value", 2).alias("value_sum"),
    )


_SLIDE_SQL = """
WITH expanded AS (
  SELECT unnest([DATE_TRUNC('hour', ts), DATE_TRUNC('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
         value
  FROM events
)
SELECT window_start, COUNT(*) AS n, ROUND(SUM(value), 2) AS value_sum
FROM expanded GROUP BY 1
"""


@register("events_sliding", _SLIDE_SQL, doc="sliding window (2h size, 1h slide) — each event lands in 2 windows")
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dround(F.sum("value"), 2).alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "n", "value_sum")
    )


_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1
              WHEN LAG(ts) OVER w IS NULL THEN 1
              ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
"""


@register(
    "events_sessionize",
    _SESSION_SQL,
    doc="session windows, batch gap-based sessionization (T5); stateful streaming twin: stream_sessionize",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_order = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, 0)
    )
    # microsecond-exact gap on both engines (a seconds cast would
    # truncate sub-second gaps differently than DuckDB's interval math)
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w_order)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap > 1_800_000_000, 1)
        .when(F.lag("ts").over(w_order).isNull(), 1)
        .otherwise(0)
        .alias("is_start"),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("is_start").over(w_run).cast("long")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# SCD2 dimension history (slowly-changing-dimension intervals)
# ---------------------------------------------------------------------------

_SCD2_SQL = """
WITH upd AS (
  SELECT user_id, ts, event_id, ROUND(value, 2) AS tier
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id, tier, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
FROM upd
"""


@register(
    "scd2_dim_history",
    _SCD2_SQL,
    doc=(
        "SCD2 dimension-history build: a change feed (purchase events "
        "as attribute updates) becomes validity intervals "
        "[valid_from, valid_to) + an is_current flag via one lead() "
        "window per key — the standard warehouse shape for tracking a "
        "mutable dimension over time (the reference's stock dimension "
        "is snapshot-only; this is what its history would need). One "
        "exchange keyed on the high-cardinality entity id; the "
        "upstream type filter prunes the scan before the shuffle"
    ),
)
def scd2_dim_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scd2_versions(_scd2_updates(load_table(spark, sf_dir, "events")))


def _scd2_updates(ev: DataFrame) -> DataFrame:
    """The SCD2 change feed: purchase events as tier updates."""
    return ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", dround(F.col("value"), 2).alias("tier")
    )


def _scd2_versions(changes: DataFrame, *extra: str) -> DataFrame:
    """Validity intervals over change rows: each change is valid from its
    ``ts`` until the key's next change (lead over ts, event_id), and the
    last one is current. ``extra`` columns pass through after them."""
    nxt = F.lead("ts").over(W.partitionBy("user_id").orderBy("ts", "event_id"))
    return changes.select(
        "user_id",
        "tier",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        *extra,
    )


# ---------------------------------------------------------------------------
# Funnel analysis (staged conversion within a time window)
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'view' AND e.ts >= s1.t1 AND e.ts <= s1.t1 + INTERVAL 7 DAY
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 AND e.ts <= s2.t2 + INTERVAL 7 DAY
  GROUP BY e.user_id
)
SELECT 'signup' AS stage, 1 AS stage_n, COUNT(*) AS users FROM s1
UNION ALL SELECT 'view', 2, COUNT(*) FROM s2
UNION ALL SELECT 'purchase', 3, COUNT(*) FROM s3
"""


@register(
    "events_funnel",
    _FUNNEL_SQL,
    doc=(
        "funnel analysis: signup → view (within 7 days) → purchase "
        "(within 7 days of the view), users counted at each stage. "
        "Each stage is one pre-aggregated per-user min-timestamp frame "
        "joined to the next stage's type-pruned scan — the stage "
        "frames shrink monotonically (stage N+1 joins only stage-N "
        "survivors), every join is keyed on the entity id, and each "
        "type filter is pushed into its scan; no window over the full "
        "event log, no self-join of raw events"
    ),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def stage(prev: DataFrame, prev_ts: str, etype: str, out_ts: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype)
        return (
            e.join(prev, "user_id")
            .filter(
                (F.col("ts") >= F.col(prev_ts))
                & (F.col("ts") <= F.col(prev_ts) + F.expr("INTERVAL 7 DAYS"))
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = stage(s1, "t1", "view", "t2")
    s3 = stage(s2, "t2", "purchase", "t3")

    def count_row(df: DataFrame, name: str, n: int) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.lit(n).cast("int").alias("stage_n"),
            F.count(F.lit(1)).alias("users"),
        )

    return (
        count_row(s1, "signup", 1)
        .unionByName(count_row(s2, "view", 2))
        .unionByName(count_row(s3, "purchase", 3))
    )


# ---------------------------------------------------------------------------
# ORC corpus interchange (second columnar format, explicit schema)
# ---------------------------------------------------------------------------

_ORC_SQL = """
SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars
FROM documents GROUP BY source
"""


@register(
    "source_orc",
    _ORC_SQL,
    doc=(
        "ORC interchange round-trip: write the corpus as ORC, read it "
        "back with the EXPLICIT schema (like source_jsonl, no "
        "inference pass), aggregate per source — proves the engine's "
        "operators are format-agnostic behind the scan (predicate/"
        "projection pushdown work identically on ORC). Oracle "
        "aggregates the same rows from the parquet view"
    ),
)
def source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = scratch_dir(spark, "source_orc")
    docs.write.mode("overwrite").orc(d)
    back = spark.read.schema(docs.schema).orc(d)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


# ---------------------------------------------------------------------------
# CSV corpus interchange (the reference's native sink format, S7/S9/S10)
# ---------------------------------------------------------------------------

_CSV_SQL = """
SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars,
       SUM(length(text)) AS sum_text_len
FROM documents GROUP BY source
"""


@register(
    "source_csv",
    _CSV_SQL,
    doc=(
        "CSV interchange round-trip — the reference's own sink format "
        "(market/non_fq_daily_kline.py append_to_csv): write the "
        "corpus as quoted CSV, read it back with the EXPLICIT schema "
        "(S7: no inference pass), aggregate per source. "
        "sum_text_len recomputes length(text) from the ROUND-TRIPPED "
        "text, so a quoting/escaping corruption cannot hide behind "
        "carried columns; oracle aggregates the original parquet rows"
    ),
)
def source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = scratch_dir(spark, "source_csv")
    docs.write.mode("overwrite").option("header", True).csv(d)
    back = spark.read.schema(docs.schema).option("header", True).csv(d)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_text_len"),
    )


# ---------------------------------------------------------------------------
# Bollinger bands: rolling mean ± 2σ over the daily series (kline indicator)
# ---------------------------------------------------------------------------

_BOLL_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         ROUND(AVG(value), 6) AS v
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
)
SELECT event_type, day, v,
       ROUND(AVG(v) OVER w, 4) AS ma7,
       ROUND(AVG(v) OVER w + 2 * STDDEV_SAMP(v) OVER w, 4) AS upper,
       ROUND(AVG(v) OVER w - 2 * STDDEV_SAMP(v) OVER w, 4) AS lower,
       COUNT(*) OVER w AS n_win
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@register(
    "events_bollinger",
    _BOLL_SQL,
    doc=(
        "Bollinger bands (7-day MA ± 2σ) over the daily series — the "
        "volatility-band kline indicator beside EMA: one frame window "
        "per (type, day) computes MA, band edges, and the frame count "
        "(n_win < 7 marks the warm-up rows). Daily inputs rounded to 6 "
        "before the window so both engines aggregate bit-identical "
        "series; one window exchange over the O(days·types) reduced "
        "frame"
    ),
)
def events_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_avg(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    ma = F.avg("v").over(w)
    sd = F.stddev_samp("v").over(w)
    return daily.select(
        "event_type",
        "day",
        "v",
        dround(ma, 4).alias("ma7"),
        dround(ma + 2 * sd, 4).alias("upper"),
        dround(ma - 2 * sd, 4).alias("lower"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    )


# ---------------------------------------------------------------------------
# RSI (Cutler's variant): SMA-based relative strength over the daily series
# ---------------------------------------------------------------------------

_RSI_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         ROUND(AVG(value), 6) AS v
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
diffs AS (
  SELECT event_type, day, v,
         v - lag(v) OVER (PARTITION BY event_type ORDER BY day) AS d
  FROM daily
)
SELECT event_type, day, v,
       ROUND(CASE WHEN SUM(GREATEST(d, 0)) OVER w + SUM(GREATEST(-d, 0)) OVER w > 0
                  THEN 100.0 * SUM(GREATEST(d, 0)) OVER w
                       / (SUM(GREATEST(d, 0)) OVER w + SUM(GREATEST(-d, 0)) OVER w)
             END, 4) AS rsi7
FROM diffs
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@register(
    "events_rsi",
    _RSI_SQL,
    doc=(
        "RSI (Cutler's SMA variant, 7-day) — the third kline indicator "
        "beside EMA and Bollinger: day-over-day diffs split into "
        "gain/loss, simple-averaged over one shared frame window, "
        "RSI = 100·gain/(gain+loss) (NULL while the frame has no "
        "movement). Cutler's SMA form is used precisely because it is "
        "frame-window expressible — Wilder's recursive smoothing is "
        "not — so both engines compute it exactly; the lag diff and "
        "the frame share one window exchange over the reduced daily "
        "series"
    ),
)
def events_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_avg(spark, sf_dir)
    wo = W.partitionBy("event_type").orderBy("day")
    diffs = daily.select(
        "event_type", "day", "v", (F.col("v") - F.lag("v").over(wo)).alias("d")
    )
    wf = wo.rowsBetween(-6, 0)
    gain = F.sum(F.greatest("d", F.lit(0.0))).over(wf)
    loss = F.sum(F.greatest(-F.col("d"), F.lit(0.0))).over(wf)
    rsi = F.when(gain + loss > 0, 100.0 * gain / (gain + loss))
    return diffs.select("event_type", "day", "v", dround(rsi, 4).alias("rsi7"))


# ---------------------------------------------------------------------------
# Cohort retention (weekly signup cohorts × activity week offset)
# ---------------------------------------------------------------------------

_RETENTION_SQL = """
WITH su AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
j AS (
  SELECT su.cohort,
         CAST(date_diff('day', su.cohort, act.w) // 7 AS INT) AS week_offset,
         act.user_id
  FROM act JOIN su ON su.user_id = act.user_id
  WHERE act.w >= su.cohort
)
SELECT CAST(cohort AS DATE) AS cohort_week, week_offset,
       COUNT(DISTINCT user_id) AS active_users
FROM j GROUP BY 1, 2
"""


@register(
    "events_retention",
    _RETENTION_SQL,
    doc=(
        "cohort retention: users bucketed by signup week, activity "
        "counted per (cohort, week-offset) cell — the standard "
        "engagement triangle. Cohort frame is one per-user aggregate; "
        "activity distinct-per-week is a second partial-aggregated "
        "pass; the join is keyed on the entity id and the final "
        "distinct-count shuffle carries (cohort, offset, user) rows. "
        "Both week truncations are Monday-based in Spark and DuckDB, "
        "so the offset arithmetic is exact integer days / 7"
    ),
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort"))
    )
    act = ev.select("user_id", F.date_trunc("week", "ts").alias("w")).distinct()
    j = (
        act.join(su, "user_id")
        .filter(F.col("w") >= F.col("cohort"))
        .select(
            "user_id",
            "cohort",
            (
                F.datediff(F.col("w").cast("date"), F.col("cohort").cast("date")) / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
    )
    return j.groupBy(F.col("cohort").cast("date").alias("cohort_week"), "week_offset").agg(
        F.count_distinct("user_id").alias("active_users")
    )


# ---------------------------------------------------------------------------
# CDC apply: upserts + deletes onto a snapshot (the MERGE shape with D ops)
# ---------------------------------------------------------------------------

_CDC_SQL = """
WITH snap AS (
  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
  FROM orders
),
changes AS (
  SELECT k, 'U' AS op, ROUND(price + 1000, 2) AS price, status FROM snap WHERE k % 10 = 0
  UNION ALL
  SELECT k, 'D', NULL, NULL FROM snap WHERE k % 10 = 1
  UNION ALL
  SELECT k + 100000000, 'I', ROUND(k * 0.01, 2), 'N' FROM snap WHERE k % 10 = 2
),
dels AS (SELECT k FROM changes WHERE op = 'D'),
ups AS (SELECT k, price, status FROM changes WHERE op <> 'D')
SELECT s.k, ROUND(s.price, 2) AS price, s.status
FROM snap s
LEFT JOIN dels ON dels.k = s.k
LEFT JOIN ups  ON ups.k  = s.k
WHERE dels.k IS NULL AND ups.k IS NULL
UNION ALL
SELECT k, ROUND(price, 2), status FROM ups
"""


@register(
    "cdc_apply",
    _CDC_SQL,
    doc=(
        "CDC apply: a change batch of inserts/updates/DELETES lands on "
        "a snapshot — surviving-unchanged rows anti-join both the "
        "delete set and the upsert set, upserts append; deletes are the "
        "merge case plain MERGE-as-upsert (merge_idempotent) does not "
        "exercise. The change feed here derives deterministically from "
        "the snapshot so the oracle reproduces it; at scale the change "
        "batch is small vs the snapshot, so both anti-joins broadcast "
        "the change side and the snapshot never shuffles"
    ),
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    snap = _cdc_snapshot(spark, sf_dir)
    return _cdc_step(snap, _cdc_changes(snap)).select(
        "k", dround("price", 2).alias("price"), "status"
    )


def _cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )


def _cdc_changes(snap: DataFrame) -> DataFrame:
    """The deterministic change feed over a snapshot: updates on
    ``k % 10 == 0``, deletes on 1, inserts of new keys on 2."""
    return (
        snap.filter(F.col("k") % 10 == 0)
        .select("k", F.lit("U").alias("op"), dround(F.col("price") + 1000, 2).alias("price"), "status")
        .unionByName(
            snap.filter(F.col("k") % 10 == 1).select(
                "k",
                F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("price"),
                F.lit(None).cast("string").alias("status"),
            )
        )
        .unionByName(
            snap.filter(F.col("k") % 10 == 2).select(
                (F.col("k") + 100000000).alias("k"),
                F.lit("I").alias("op"),
                dround(F.col("k") * 0.01, 2).alias("price"),
                F.lit("N").alias("status"),
            )
        )
    )


def _cdc_step(cur: DataFrame, changes: DataFrame) -> DataFrame:
    """Apply one change batch to ``cur``: rows whose key is deleted or
    upserted drop out by two anti-joins that broadcast the change side,
    and the upserts append."""
    dels = changes.filter(F.col("op") == "D").select("k")
    ups = changes.filter(F.col("op") != "D").select("k", "price", "status")
    return (
        cur.join(F.broadcast(dels), "k", "left_anti")
        .join(F.broadcast(ups.select("k")), "k", "left_anti")
        .unionByName(ups)
    )


# ---------------------------------------------------------------------------
# Interval-overlap join (bucketized — the scalable form of a theta join)
# ---------------------------------------------------------------------------

_N_PROMOS = 30

_OVERLAP_SQL = f"""
WITH a AS (
  SELECT user_id, CAST(ts AS DATE) AS day, MIN(ts) AS astart, MAX(ts) AS aend
  FROM events GROUP BY 1, 2
),
lo AS (SELECT date_trunc('day', MIN(ts)) AS t0 FROM events),
b AS (
  SELECT CAST(t.i AS INT) AS promo_idx,
         lo.t0 + t.i * INTERVAL 7 HOUR AS bstart,
         lo.t0 + t.i * INTERVAL 7 HOUR + INTERVAL 2 HOUR AS bend
  FROM lo, unnest(range({_N_PROMOS})) t(i)
),
pairs AS (
  SELECT a.user_id, a.day, b.promo_idx,
         epoch_us(LEAST(a.aend, b.bend)) - epoch_us(GREATEST(a.astart, b.bstart)) AS ov
  FROM a JOIN b ON a.astart < b.bend AND b.bstart < a.aend
)
SELECT promo_idx, COUNT(*) AS n_user_days,
       CAST(SUM(ov) AS BIGINT) AS total_overlap_us
FROM pairs GROUP BY promo_idx
"""


@register(
    "join_interval_overlap",
    _OVERLAP_SQL,
    doc=(
        "interval-overlap join (per-user daily activity spans × promo "
        "windows), aggregated per promo. The naive form is a THETA "
        "join (astart < bend AND bstart < aend) — O(|A|·|B|) pairs "
        "examined at any scale. The Spark plan BUCKETIZES instead: "
        "each interval explodes to the clock hours it covers (bounded "
        "fan-out — ≤24 for a day span, 3 for a 2h window), candidates "
        "meet through an EQUI-join on the hour bucket, the exact "
        "overlap predicate filters, and a distinct collapses pairs "
        "found via multiple shared hours. Work becomes proportional "
        "to actual overlaps, not the cross product (no-cartesian "
        "plan-gated). The tiny promo side broadcasts. Oracle runs the "
        "direct theta join — same answer, different join strategy"
    ),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.min("ts").alias("astart"), F.max("ts").alias("aend"))
    t0 = ev.agg(F.date_trunc("day", F.min("ts")).alias("t0"))
    b = t0.select(
        F.explode(F.sequence(F.lit(0), F.lit(_N_PROMOS - 1))).alias("promo_idx"), "t0"
    ).select(
        F.col("promo_idx").cast("int").alias("promo_idx"),
        (F.col("t0") + F.col("promo_idx") * F.expr("INTERVAL 7 HOURS")).alias("bstart"),
        (
            F.col("t0")
            + F.col("promo_idx") * F.expr("INTERVAL 7 HOURS")
            + F.expr("INTERVAL 2 HOURS")
        ).alias("bend"),
    )
    hour = lambda c: F.floor(F.unix_timestamp(c) / 3600)  # noqa: E731
    ab = a.select(
        "user_id", "day", "astart", "aend",
        F.explode(F.sequence(hour("astart"), hour("aend"))).alias("hb"),
    )
    bb = b.select(
        "promo_idx", "bstart", "bend",
        # end is exclusive: a window [s, s+2h) covers hours h(s)..h(end-1s)
        F.explode(
            F.sequence(hour("bstart"), hour(F.col("bend") - F.expr("INTERVAL 1 SECOND")))
        ).alias("hb"),
    )
    pairs = (
        ab.join(F.broadcast(bb), "hb")
        .filter((F.col("astart") < F.col("bend")) & (F.col("bstart") < F.col("aend")))
        .select("user_id", "day", "promo_idx", "astart", "aend", "bstart", "bend")
        .distinct()
    )
    # microsecond-exact on BOTH engines (a seconds cast truncates
    # sub-second parts differently than DuckDB's epoch()) — same rule
    # as events_sessionize's gap arithmetic
    ov = F.unix_micros(F.least("aend", "bend")) - F.unix_micros(
        F.greatest("astart", "bstart")
    )
    return pairs.groupBy("promo_idx").agg(
        F.count(F.lit(1)).alias("n_user_days"),
        F.sum(ov).alias("total_overlap_us"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff: data-versioning delta between two table states
# ---------------------------------------------------------------------------

_TABLE_DIFF_SQL = """
WITH curr AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
next AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN 'F' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice
  FROM orders WHERE o_orderkey % 89 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, 'O', ROUND(o_totalprice * 0.5, 2)
  FROM orders WHERE o_orderkey % 101 = 0
),
ch AS (SELECT o_orderkey,
              md5(o_orderstatus || '|' || CAST(ROUND(o_totalprice, 2) AS VARCHAR)) AS h
       FROM curr),
nh AS (SELECT o_orderkey,
              md5(o_orderstatus || '|' || CAST(ROUND(o_totalprice, 2) AS VARCHAR)) AS h
       FROM next)
SELECT COALESCE(ch.o_orderkey, nh.o_orderkey) AS o_orderkey,
       CASE WHEN ch.o_orderkey IS NULL THEN 'added'
            WHEN nh.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS diff_status
FROM ch FULL OUTER JOIN nh ON ch.o_orderkey = nh.o_orderkey
WHERE ch.o_orderkey IS NULL OR nh.o_orderkey IS NULL OR ch.h <> nh.h
"""


@register(
    "table_diff",
    _TABLE_DIFF_SQL,
    doc=(
        "snapshot diff (data versioning): added/removed/changed keys "
        "between two table states, compared through one md5 ROW HASH "
        "per side so the full-outer join carries (key, 32-byte hash) "
        "pairs — never the payload columns — and unchanged rows "
        "(the overwhelming majority of a 100 TB snapshot pair) drop "
        "with a hash equality test. The 'next' snapshot derives "
        "deterministically from orders (status flips, deletes, "
        "half-price inserts) so both engines diff identical states. "
        "On key-partitioned snapshots the join is co-located "
        "(storage-layout lane); here it is the plain keyed exchange"
    ),
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    curr = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    nxt = curr.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("F"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    ).unionAll(
        curr.filter(F.col("o_orderkey") % 101 == 0).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            F.lit("O").alias("o_orderstatus"),
            dround(F.col("o_totalprice") * 0.5, 2).alias("o_totalprice"),
        )
    )

    def hashed(df: DataFrame, side: str) -> DataFrame:
        h = F.md5(
            F.concat(
                F.col("o_orderstatus"),
                F.lit("|"),
                dround("o_totalprice", 2).cast("string"),
            )
        )
        return df.select(F.col("o_orderkey"), h.alias(f"h_{side}"))

    j = hashed(curr, "c").join(hashed(nxt, "n"), "o_orderkey", "full_outer")
    return j.filter(
        F.col("h_c").isNull() | F.col("h_n").isNull() | (F.col("h_c") != F.col("h_n"))
    ).select(
        "o_orderkey",
        F.when(F.col("h_c").isNull(), "added")
        .when(F.col("h_n").isNull(), "removed")
        .otherwise("changed")
        .alias("diff_status"),
    )


# ---------------------------------------------------------------------------
# Metric anomaly detection: z-score outliers per event type
# ---------------------------------------------------------------------------

_ANOMALY_SQL = """
WITH stats AS (
  SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND((e.value - s.mu) / s.sigma, 4) AS z
FROM events e JOIN stats s USING (event_type)
WHERE ABS((e.value - s.mu) / s.sigma) > 3
"""


@register(
    "events_anomaly",
    _ANOMALY_SQL,
    doc=(
        "metric anomaly detection: events whose value sits more than "
        "3 sigma from their type's mean. The per-type stats are a "
        "partial-aggregated shuffle down to O(types) rows that "
        "BROADCAST back onto the event scan — flagging is map-side, "
        "the events table shuffles zero times. The monitoring shape "
        "for pipeline observability at any scale (per-source "
        "volume/latency outliers)"
    ),
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select("event_id", "event_type", dround(z, 4).alias("z"))
    )


# ---------------------------------------------------------------------------
# Schema evolution: unioned read over shards written with drifting schemas
# ---------------------------------------------------------------------------

_SCHEMA_EVOLUTION_SQL = """
SELECT doc_id,
       lang,
       CASE WHEN doc_id % 2 = 0 THEN NULL ELSE source END AS source,
       CASE WHEN doc_id % 2 = 0 THEN 'v1' ELSE 'v2' END AS batch
FROM documents
"""


@register(
    "source_schema_evolution",
    _SCHEMA_EVOLUTION_SQL,
    doc=(
        "schema-evolution read: two parquet shards written with "
        "DIFFERENT schemas (v1 lacks the later-added `source` column) "
        "scan as one table via mergeSchema — v1 rows surface NULL for "
        "the missing column, no rewrite of old shards. How a 100 TB "
        "append-only corpus adds columns: new writers emit the wider "
        "schema, readers merge footers, history stays untouched"
    ),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    path = scratch_dir(spark, "source_schema_evolution")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(f"{path}/batch=v1")
    docs.filter(F.col("doc_id") % 2 != 0).select("doc_id", "lang", "source").write.mode(
        "overwrite"
    ).parquet(f"{path}/batch=v2")
    return spark.read.option("mergeSchema", "true").parquet(path).select(
        "doc_id", "lang", "source", F.col("batch").cast("string").alias("batch")
    )


# ---------------------------------------------------------------------------
# OHLC resample: the kline rollup (reference domain: daily → weekly bars)
# ---------------------------------------------------------------------------

_OHLC_SQL = """
WITH keyed AS (
  SELECT event_type,
         date_trunc('week', ts) AS week,
         value,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ordkey
  FROM events WHERE event_type IN ('view', 'purchase')
)
SELECT event_type, week,
       arg_min(value, ordkey) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, ordkey) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       ROUND(SUM(value), 2) AS volume
FROM keyed
GROUP BY event_type, week
"""


@register(
    "events_ohlc",
    _OHLC_SQL,
    doc=(
        "OHLC bar resample — the kline rollup of the reference's "
        "domain (daily bars → weekly bars; market/non_fq_daily_kline.py "
        "rows carry exactly these open/high/low/close/volume columns): "
        "open/close via min_by/max_by over a zero-padded "
        "(epoch-micros, event_id) string key (unique and identically "
        "ordered on both engines — no ts-tie nondeterminism), high/"
        "low/volume as plain aggregates. ONE partial-aggregated "
        "shuffle on (type, week); arg-min/max carry a single "
        "(value, key) pair per group through the combine, so the "
        "shuffle is O(groups) regardless of tick count — the "
        "first/last-tick shape that window-row_number solutions pay "
        "a full sort for"
    ),
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ticks(spark, sf_dir)
    keyed = ev.select(
        "event_type",
        F.date_trunc("week", "ts").cast("date").alias("week"),
        "value",
        ordkey().alias("ordkey"),
    )
    return keyed.groupBy("event_type", "week").agg(
        *_ohlc_aggs(), dround(F.sum("value"), 2).alias("volume")
    )


def _ohlc_aggs() -> list:
    """A bar's open/high/low/close/n_ticks over ``ordkey``-keyed ticks."""
    return [
        F.min_by("value", "ordkey").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ordkey").alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    ]


# ---------------------------------------------------------------------------
# EMA: the exponential-moving-average kline indicator (truncated, adjust-form)
# ---------------------------------------------------------------------------

_EMA_ALPHA = 0.2  # span 9: alpha = 2/(span+1)
_EMA_LAGS = 10  # truncation: dropped tail weight (1-a)^10 ≈ 0.107 of an
# infinite-history EMA is ELIMINATED (not ignored) by the adjust-form
# normalization below — the estimate is exact over the visible window


def _ema_weights() -> list[float]:
    return [(1.0 - _EMA_ALPHA) ** i for i in range(_EMA_LAGS)]


def _ema_sql() -> str:
    ws = _ema_weights()
    num = " + ".join(
        f"COALESCE(lag(v, {i}) OVER w, 0.0) * {w!r}" for i, w in enumerate(ws)
    )
    den = " + ".join(
        f"(CASE WHEN lag(v, {i}) OVER w IS NOT NULL THEN {w!r} ELSE 0.0 END)"
        for i, w in enumerate(ws)
    )
    return f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         ROUND(AVG(value), 6) AS v
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
)
SELECT event_type, day, v,
       ROUND(({num}) / ({den}), 6) AS ema
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


@register(
    "events_ema",
    _ema_sql(),
    doc=(
        "EMA(span 9) — THE kline smoothing indicator downstream of the "
        "reference's daily bars — in its normalized (adjust) form over "
        "a 10-lag truncated window: ema_t = Σ w_i·x_(t-i) / Σ w_i with "
        "w_i = (1-α)^i over the lags that EXIST, so early rows and the "
        "truncation tail are handled by the same normalization. The "
        "weights are Python-float literals injected into BOTH engines "
        "and the numerator/denominator sums chain left-associatively "
        "in lag order — bit-identical doubles, no fold-order drift. "
        "One window exchange over the already-reduced daily series "
        "(O(days·types) rows); the 10 lags share a single window frame"
    ),
)
def events_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_avg(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("day")
    ws = _ema_weights()
    # materialize each lag ONCE as a named column; building num/den
    # directly from lag().over(w) expressions re-expands every lag per
    # reference (6x redundant window expressions in the plan)
    lagged = daily.select(
        "event_type",
        "day",
        "v",
        *[F.lag("v", i).over(w).alias(f"__l{i}") for i in range(len(ws))],
    )
    num = F.coalesce(F.col("__l0"), F.lit(0.0)) * F.lit(ws[0])
    den = F.when(F.col("__l0").isNotNull(), F.lit(ws[0])).otherwise(F.lit(0.0))
    for i, wt in list(enumerate(ws))[1:]:
        num = num + F.coalesce(F.col(f"__l{i}"), F.lit(0.0)) * F.lit(wt)
        den = den + F.when(F.col(f"__l{i}").isNotNull(), F.lit(wt)).otherwise(
            F.lit(0.0)
        )
    return lagged.select(
        "event_type", "day", "v", dround(num / den, 6).alias("ema")
    )


# ---------------------------------------------------------------------------
# Rolling correlation: aggregate-over-frame beyond sum/avg
# ---------------------------------------------------------------------------

_ROLL_CORR_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         ROUND(AVG(CASE WHEN event_type = 'view' THEN value END), 6) AS v_view,
         ROUND(AVG(CASE WHEN event_type = 'purchase' THEN value END), 6) AS v_purchase
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1
)
SELECT day, v_view, v_purchase,
       ROUND(corr(v_view, v_purchase) OVER (
         ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
       ), 4) AS corr7
FROM daily
"""


@register(
    "window_rolling_corr",
    _ROLL_CORR_SQL,
    doc=(
        "7-day rolling correlation between the view and purchase "
        "series: conditional aggregation pivots the two types into "
        "columns during the ONE daily rollup (no join of two "
        "aggregates), then corr() runs as a frame-window aggregate "
        "over the day series. The windowed table is O(days) — already "
        "reduced by the rollup — so its exchange is trivially small "
        "at any corpus scale; daily inputs are rounded before the "
        "corr so both engines correlate bit-identical series"
    ),
)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_pair(spark, sf_dir)
    w = W.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "v_view",
        "v_purchase",
        dround(F.corr("v_view", "v_purchase").over(w), 4).alias("corr7"),
    )


# ---------------------------------------------------------------------------
# PageRank: the iterative-graph witness beyond connected components
# ---------------------------------------------------------------------------


def _rank_sql(d: float, seeds: tuple[str, ...] = ()) -> str:
    """The unrolled PageRank oracle; with ``seeds`` it is personalized
    PageRank — teleport and r0 mass go to the seeds only, and only
    pr > 0 is emitted."""
    if seeds:
        lits = ", ".join(f"'{s}'" for s in seeds)
        # whitespace only: keeps PPR's registered oracle text as it
        # was, with the long pr column on its own line
        sep = "\n         "
        teleport = f"CASE WHEN s.node IN ({lits}) THEN {1.0 - d!r} ELSE 0.0 END"
        r0 = f"CASE WHEN nodes.node IN ({lits}) THEN 1.0 ELSE 0.0 END"
        where = " WHERE pr > 0"
    else:
        sep, teleport, r0, where = " ", f"{1.0 - d:.2f}", "1.0", ""
    rounds = []
    prev = "r0"
    for i in (1, 2, 3):
        rounds.append(f"""
r{i} AS (
  SELECT s.node, s.outdeg,{sep}ROUND({teleport} + {d!r} * COALESCE(i.inflow, 0), 6) AS pr
  FROM {prev} s LEFT JOIN (
    SELECT e.dst AS node, SUM(r.pr / r.outdeg) AS inflow
    FROM {prev} r JOIN edges e ON e.src = r.node
    WHERE r.outdeg > 0 GROUP BY e.dst
  ) i ON i.node = s.node
)""")
        prev = f"r{i}"
    return f"""
WITH edges AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
od AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (
  SELECT nodes.node, COALESCE(od.outdeg, 0) AS outdeg,{sep}{r0} AS pr
  FROM nodes LEFT JOIN od ON od.node = nodes.node
),
{','.join(rounds)}
SELECT node, pr FROM {prev}{where}
"""


@register(
    "graph_pagerank",
    _rank_sql(0.85),
    doc=(
        "PageRank (3 rounds, d=0.85) over the customer→supplier "
        "purchase graph: the second iterative-graph operator family "
        "(operators/graph.pagerank) next to connected components. "
        "Each round is one O(E) join + one aggregate with the rank "
        "state localCheckpoint'ed (flat lineage); out-degrees ride in "
        "the state frame so no round recomputes them; ranks round to "
        "1e-6 EVERY round, which re-synchronizes float state across "
        "engines — the oracle unrolls the identical rounds as CTEs "
        "(the unrolled-Lloyd pattern)"
    ),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    # integer node encoding + decode from the shared bijection in
    # queries_analytics (purchase_iedges/decode_purchase_node): the
    # output decodes back to the same 'c…'/'s…' ids with identical pr
    # values, so the string-edge oracle is unchanged.
    # The 3 rank rounds shuffle O(E) frames: they run on a clone sized
    # from the edge count measured after the full-width ingest
    # (purchase_iedges is eagerly checkpointed, so the count is
    # metadata-cheap). Interleaved A/B in OPTIMIZATION_r13.md: 8-wide
    # won 3/4 pairs, medians 3.41 -> 2.85s.
    from .queries_analytics import decode_purchase_node, purchase_iedges

    work = clone_session(spark)
    ie = purchase_iedges(work, sf_dir)
    set_width(work, volume_width(work, ie.count()))
    pr = pagerank(ie)
    return pr.select(
        decode_purchase_node("node").alias("node"), F.col("rank").alias("pr")
    )


# ---------------------------------------------------------------------------
# Calendar gap-fill + forward fill (the trade-calendar alignment shape)
# ---------------------------------------------------------------------------

_GAPFILL_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         ROUND(AVG(value), 4) AS v
  FROM events WHERE event_type IN ('view', 'purchase', 'click')
  GROUP BY 1, 2
),
masked AS (  -- deterministic simulated outage: every 5th day drops
  SELECT event_type, day, v FROM daily WHERE day(day) % 5 <> 0
),
bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
cal AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds
),
grid AS (
  SELECT t.event_type, cal.day
  FROM cal CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
)
SELECT g.event_type, g.day,
       last_value(m.v IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS v_filled,
       (m.v IS NULL) AS was_gap
FROM grid g LEFT JOIN masked m ON m.event_type = g.event_type AND m.day = g.day
"""


@register(
    "events_gapfill",
    _GAPFILL_SQL,
    doc=(
        "calendar gap-fill + forward fill — the trade-calendar "
        "alignment shape of the reference domain (daily kline series "
        "must align to the exchange calendar and carry the last close "
        "across non-trading days; market/delta_non_fq_daily_kline.py "
        "anchors on trade_cal the same way). The dense (type, day) "
        "grid is a tiny dim cross join (series × bounded calendar) "
        "broadcast against the dailies; forward fill is one "
        "last(IGNORE NULLS) running frame per series — state is "
        "O(days) per partition and series fill never crosses "
        "partitions. A deterministic every-5th-day outage mask makes "
        "the fill non-vacuous on both engines"
    ),
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase", "click")
    )
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(dround(F.avg("value"), 4).alias("v"))
    masked = daily.filter(F.dayofmonth("day") % 5 != 0)
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
    )
    grid = cal.crossJoin(F.broadcast(daily.select("event_type").distinct()))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    j = grid.join(F.broadcast(masked), ["event_type", "day"], "left")
    return j.select(
        "event_type",
        "day",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        F.col("v").isNull().alias("was_gap"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion: hybrid lexical + vector retrieval
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOPN = 50
_RRF_OUT = 10


def _rrf_sql() -> str:
    from .queries_sql import _bm25_sql

    return f"""
WITH lex_raw AS ({_bm25_sql(topk=_RRF_TOPN)}),
lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
  FROM lex_raw
),
qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
sem_raw AS (
  SELECT vec_id AS doc_id,
         ROUND(list_dot_product(embedding::DOUBLE[], q) /
               (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                sqrt(list_dot_product(q, q))), 6) AS cos
  FROM embeddings, qv WHERE vec_id <> 0
),
sem AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r
  FROM sem_raw ORDER BY cos DESC, doc_id LIMIT {_RRF_TOPN}
),
fused AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         ROUND(COALESCE(1.0 / ({_RRF_K} + lex.r), 0) +
               COALESCE(1.0 / ({_RRF_K} + sem.r), 0), 6) AS rrf
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT {_RRF_OUT}
"""


@register(
    "search_rrf",
    _rrf_sql(),
    doc=(
        "hybrid retrieval via reciprocal-rank fusion: the BM25 "
        "lexical top-50 and the embedding-cosine top-50 (query = "
        "vector 0) fuse with RRF (k=60) into a final top-10 — the "
        "standard way production search combines a lexical and a "
        "vector index without score calibration. Both source "
        "rankings are already top-N-bounded (TakeOrdered heads), so "
        "the fusion join touches 2·N rows total regardless of corpus "
        "size; rank positions, not raw scores, cross the join — "
        "engine-stable by construction"
    ),
)
def search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as SIM
    from .queries_llm import _vectors
    from .queries_sql import bm25_scores

    lex_raw = (
        bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RRF_TOPN)
    )
    w_lex = W.orderBy(F.col("bm25").desc(), "doc_id")
    lex = lex_raw.select("doc_id", F.row_number().over(w_lex).alias("r_lex"))

    emb = _vectors(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            dround(
                SIM.dot("v", "q") / (SIM.norm("v") * SIM.norm("q")), 6
            ).alias("cos"),
        )
    )
    sem_raw = scored.orderBy(F.col("cos").desc(), "doc_id").limit(_RRF_TOPN)
    w_sem = W.orderBy(F.col("cos").desc(), "doc_id")
    sem = sem_raw.select("doc_id", F.row_number().over(w_sem).alias("r_sem"))

    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        dround(
            F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("r_sem")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(_RRF_OUT)


# ---------------------------------------------------------------------------
# MACD: the dual-EMA convergence/divergence kline indicator
# ---------------------------------------------------------------------------

_MACD_FAST_ALPHA = 2.0 / 7.0  # span 6: alpha = 2/(span+1)
_MACD_SLOW_ALPHA = 2.0 / 13.0  # span 12
_MACD_SIG_ALPHA = 0.2  # signal span 9 (the classic DEA smoothing)
_MACD_LAGS = 12  # shared truncation for fast+slow; dropped tail weight
# (1-a)^12 is ~1.8% (fast) / ~13% (slow) of an infinite EMA and is
# ELIMINATED by the adjust-form normalization (same contract as
# events_ema: exact over the visible window, not an approximation).
# Span choice is a CORRECTNESS constraint, not taste: with spans 5/10
# (alpha 1/3, 2/11) the early-window normalized EMAs cancel to
# (v1-v0)/20 — a decimal-TERMINATING rational of the 6-decimal daily
# inputs that sits exactly on the ROUND(_,6) half-way boundary, so
# 1-ulp float noise decides the rounding side per engine (observed:
# 3/120 rows flipped vs DuckDB). Alphas 2/7 and 2/13 put factors
# 7/13/3 in every weight denominator, so no early-window combination
# of decimal inputs terminates in decimal — raw values stay far from
# the rounding grid relative to float noise.
_MACD_SIG_LAGS = 10


def _macd_weights(alpha: float, lags: int) -> list[float]:
    return [(1.0 - alpha) ** i for i in range(lags)]


def _wsum_sql(col: str, ws: list[float]) -> tuple[str, str]:
    num = " + ".join(
        f"COALESCE(lag({col}, {i}) OVER w, 0.0) * {w!r}" for i, w in enumerate(ws)
    )
    den = " + ".join(
        f"(CASE WHEN lag({col}, {i}) OVER w IS NOT NULL THEN {w!r} ELSE 0.0 END)"
        for i, w in enumerate(ws)
    )
    return num, den


def _macd_sql() -> str:
    fnum, fden = _wsum_sql("v", _macd_weights(_MACD_FAST_ALPHA, _MACD_LAGS))
    snum, sden = _wsum_sql("v", _macd_weights(_MACD_SLOW_ALPHA, _MACD_LAGS))
    gnum, gden = _wsum_sql("dif", _macd_weights(_MACD_SIG_ALPHA, _MACD_SIG_LAGS))
    return f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         ROUND(AVG(value), 6) AS v
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
dif_t AS (
  SELECT event_type, day, v,
         ROUND(({fnum}) / ({fden}) - ({snum}) / ({sden}), 6) AS dif
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day, v, dif,
       ROUND(({gnum}) / ({gden}), 6) AS dea,
       ROUND(2 * (dif - ({gnum}) / ({gden})), 6) AS macd
FROM dif_t
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


@register(
    "events_macd",
    _macd_sql(),
    doc=(
        "MACD — the dual-EMA kline indicator (DIF = EMA_fast - "
        "EMA_slow, DEA = EMA(DIF, signal span), histogram = "
        "2*(DIF-DEA), the A-share charting convention): two CHAINED "
        "window stages over the reduced daily series. Fast and slow "
        "EMAs share ONE set of materialized lag columns (12 lags "
        "computed once, two weighted sums read them); DIF is rounded "
        "to 6 before the signal stage so both engines smooth "
        "bit-identical inputs. Both Window nodes use the same "
        "partition+order, so Catalyst plans ONE exchange and ONE "
        "sort — the second stage rides the first's distribution. "
        "All weights are Python-float literals injected into both "
        "engines; sums chain left-associatively in lag order"
    ),
)
def events_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_avg(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("day")

    def wsum(prefix: str, ws: list[float]):
        num = F.coalesce(F.col(f"{prefix}0"), F.lit(0.0)) * F.lit(ws[0])
        den = F.when(F.col(f"{prefix}0").isNotNull(), F.lit(ws[0])).otherwise(
            F.lit(0.0)
        )
        for i, wt in list(enumerate(ws))[1:]:
            num = num + F.coalesce(F.col(f"{prefix}{i}"), F.lit(0.0)) * F.lit(wt)
            den = den + F.when(F.col(f"{prefix}{i}").isNotNull(), F.lit(wt)).otherwise(
                F.lit(0.0)
            )
        return num / den

    # stage 1: materialize the 12 price lags ONCE; fast and slow EMAs
    # are two weighted sums over the same columns (the events_ema
    # let-binding lesson: building sums from raw lag().over() would
    # re-expand every lag per reference)
    lagged = daily.select(
        "event_type",
        "day",
        "v",
        *[F.lag("v", i).over(w).alias(f"__l{i}") for i in range(_MACD_LAGS)],
    )
    fast = wsum("__l", _macd_weights(_MACD_FAST_ALPHA, _MACD_LAGS))
    slow = wsum("__l", _macd_weights(_MACD_SLOW_ALPHA, _MACD_LAGS))
    dif_t = lagged.select(
        "event_type", "day", "v", dround(fast - slow, 6).alias("dif")
    )

    # stage 2: signal EMA over the rounded DIF — same partition+order,
    # so the Window rides stage 1's exchange and sort
    lagged2 = dif_t.select(
        "event_type",
        "day",
        "v",
        "dif",
        *[F.lag("dif", i).over(w).alias(f"__g{i}") for i in range(_MACD_SIG_LAGS)],
    )
    dea = wsum("__g", _macd_weights(_MACD_SIG_ALPHA, _MACD_SIG_LAGS))
    return lagged2.select(
        "event_type",
        "day",
        "v",
        "dif",
        dround(dea, 6).alias("dea"),
        dround(2 * (F.col("dif") - dea), 6).alias("macd"),
    )


# ---------------------------------------------------------------------------
# KDJ: the stochastic-oscillator kline indicator (SMA-smoothed variant)
# ---------------------------------------------------------------------------

_KDJ_SQL = """
WITH keyed AS (
  SELECT event_type, date_trunc('day', ts) AS day, value,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ordkey
  FROM events WHERE event_type IN ('view', 'purchase')
),
bars AS (
  SELECT event_type, day,
         ROUND(MAX(value), 6) AS high,
         ROUND(MIN(value), 6) AS low,
         ROUND(arg_max(value, ordkey), 6) AS close
  FROM keyed GROUP BY event_type, day
),
rsv_t AS (
  SELECT event_type, day, high, low, close,
         ROUND(CASE WHEN MAX(high) OVER w9 > MIN(low) OVER w9
                    THEN 100.0 * (close - MIN(low) OVER w9)
                         / (MAX(high) OVER w9 - MIN(low) OVER w9)
               END, 6) AS rsv
  FROM bars
  WINDOW w9 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
),
k_t AS (
  SELECT event_type, day, high, low, close, rsv,
         ROUND(AVG(rsv) OVER w3, 6) AS k
  FROM rsv_t
  WINDOW w3 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, close, rsv, k,
       ROUND(AVG(k) OVER w3, 6) AS d,
       ROUND(3 * k - 2 * AVG(k) OVER w3, 4) AS j
FROM k_t
WINDOW w3 AS (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


@register(
    "events_kdj",
    _KDJ_SQL,
    doc=(
        "KDJ stochastic oscillator — the fourth kline indicator "
        "family (position-in-range, vs EMA/Bollinger/RSI's "
        "level/volatility/momentum): daily high/low/close bars (close "
        "via max_by over the OHLC zero-padded (epoch-micros, "
        "event_id) ordkey — no ts-tie nondeterminism), RSV = "
        "100·(close-LL9)/(HH9-LL9) over a 9-day frame (NULL while "
        "the frame is flat), then K = SMA3(RSV), D = SMA3(K), "
        "J = 3K-2D. The SMA smoothing is used precisely because the "
        "classic recursive K is not frame-expressible (the Cutler-RSI "
        "argument). THREE chained Window stages all share one "
        "partition+order, so they stack directly — one window "
        "exchange, one window sort, zero re-sorts between stages "
        "(plan-checked) — and the bar aggregation already reduced the "
        "frame to O(days·types) rows. Every window aggregate is "
        "let-bound to a named column before arithmetic touches it "
        "(dround's sign branches would clone .over() expressions 3x); "
        "each stage's output is rounded before the next so both "
        "engines smooth bit-identical series"
    ),
)
def events_kdj(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ticks(spark, sf_dir)
    bars = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "value",
            ordkey().alias("ordkey"),
        )
        .groupBy("event_type", "day")
        .agg(
            dround(F.max("value"), 6).alias("high"),
            dround(F.min("value"), 6).alias("low"),
            dround(F.max_by("value", "ordkey"), 6).alias("close"),
        )
    )
    wo = W.partitionBy("event_type").orderBy("day")
    w9 = wo.rowsBetween(-8, 0)
    w3 = wo.rowsBetween(-2, 0)
    # let-bind every window aggregate as a named column BEFORE any
    # arithmetic touches it: dround's sign-branch CASE would otherwise
    # clone each .over() expression 3x (observed: 15 _we slots for the
    # two RSV extrema — the events_ema let-binding lesson again)
    ext = bars.select(
        "event_type",
        "day",
        "close",
        F.max("high").over(w9).alias("__hh"),
        F.min("low").over(w9).alias("__ll"),
    )
    hh, ll = F.col("__hh"), F.col("__ll")
    rsv_t = ext.select(
        "event_type",
        "day",
        "close",
        dround(
            F.when(hh > ll, 100.0 * (F.col("close") - ll) / (hh - ll)), 6
        ).alias("rsv"),
    )
    k_t = rsv_t.select(
        "event_type",
        "day",
        "close",
        "rsv",
        F.avg("rsv").over(w3).alias("__kraw"),
    ).select(
        "event_type",
        "day",
        "close",
        "rsv",
        dround(F.col("__kraw"), 6).alias("k"),
    )
    d_t = k_t.select(
        "event_type", "day", "close", "rsv", "k", F.avg("k").over(w3).alias("__draw")
    )
    d = F.col("__draw")
    return d_t.select(
        "event_type",
        "day",
        "close",
        "rsv",
        "k",
        dround(d, 6).alias("d"),
        dround(3 * F.col("k") - 2 * d, 4).alias("j"),
    )


# ---------------------------------------------------------------------------
# Point-in-time join: facts enriched against the SCD2 dim history
# ---------------------------------------------------------------------------

_PIT_SQL = """
WITH upd AS (
  SELECT user_id, ts, event_id, ROUND(value, 2) AS tier
  FROM events WHERE event_type = 'purchase'
),
hist AS (
  SELECT user_id, tier, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM upd
)
SELECT f.event_id, f.user_id, f.ts, h.tier
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') f
LEFT JOIN hist h
  ON h.user_id = f.user_id
 AND h.valid_from <= f.ts
 AND (h.valid_to IS NULL OR f.ts < h.valid_to)
"""


@register(
    "join_pit_scd2",
    _PIT_SQL,
    doc=(
        "point-in-time (temporal) join — the consumption side of "
        "scd2_dim_history: every view event picks up the dim version "
        "valid AT ITS OWN event time (valid_from <= ts < valid_to), "
        "never a later one — the leakage-free enrichment backtests "
        "and training-feature builds need (an ordinary dim join would "
        "leak future attribute values into past facts). Because the "
        "SCD2 intervals PARTITION each key's timeline, at most one "
        "version matches per fact: the join stays an equi-join on the "
        "entity key with the interval check as a residual filter — "
        "shuffle-hash/sort-merge shaped, no explode, no window "
        "re-sort of the fact stream; facts before the first version "
        "keep a NULL tier via the left join"
    ),
)
def join_pit_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    upd = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", dround(F.col("value"), 2).alias("tier")
    )
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    hist = upd.select(
        "user_id",
        "tier",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(wo).alias("valid_to"),
    )
    facts = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    cond = (
        (hist["user_id"] == facts["user_id"])
        & (hist["valid_from"] <= facts["ts"])
        & (hist["valid_to"].isNull() | (facts["ts"] < hist["valid_to"]))
    )
    return facts.join(hist, cond, "left").select(
        facts["event_id"], facts["user_id"], facts["ts"], hist["tier"]
    )


# ---------------------------------------------------------------------------
# Trending rank: exponentially time-decayed activity scoring
# ---------------------------------------------------------------------------

_TREND_DECAY = 0.9
_TREND_MAX_AGE = 60  # literal weight table size; older activity weighs 0
_TREND_K = 20


def _trend_weights() -> list[float]:
    return [_TREND_DECAY**i for i in range(_TREND_MAX_AGE)]


def _trending_sql() -> str:
    ws = ", ".join(repr(w) for w in _trend_weights())
    return f"""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts)::DATE AS day,
         ROUND(SUM(value), 2) AS v
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
mx AS (SELECT MAX(day) AS maxd FROM daily),
scored AS (
  SELECT d.user_id,
         SUM(d.v * CASE WHEN date_diff('day', d.day, mx.maxd) < {_TREND_MAX_AGE}
                        THEN [{ws}][date_diff('day', d.day, mx.maxd) + 1]
                        ELSE 0.0 END) AS raw
  FROM daily d CROSS JOIN mx
  GROUP BY d.user_id
)
SELECT user_id, ROUND(raw, 4) AS trend_score
FROM scored
ORDER BY ROUND(raw, 4) DESC, user_id
LIMIT {_TREND_K}
"""


@register(
    "events_trending",
    _trending_sql(),
    doc=(
        "exponentially time-decayed trending rank — the recency-"
        "weighted popularity scoring every feed/leaderboard runs: "
        "per-(user, day) activity rolls up first (one partial-"
        "aggregated shuffle — the decay math touches O(users·days) "
        "rows, not raw events), each day's total is weighted by "
        "decay^age via a LITERAL weight table indexed by date_diff "
        "(pow() differs by 1 ulp between engines; 60 Python-float "
        "literals are bit-identical in both, with age >= 60 clamped "
        "to zero — the bounded-history contract that also caps "
        "per-row work), the anchor day comes from a broadcast 1-row "
        "max, and the top-k exits via TakeOrdered on the ROUNDED "
        "score (ties broken by user_id so the limit is deterministic)"
    ),
)
def events_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ticks(spark, sf_dir)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(dround(F.sum("value"), 2).alias("v"))
    mx = daily.agg(F.max("day").alias("maxd"))
    ws = _trend_weights()
    age = F.datediff(F.col("maxd"), F.col("day"))
    weight = F.when(
        age < _TREND_MAX_AGE,
        F.element_at(F.array(*[F.lit(w) for w in ws]), age + 1),
    ).otherwise(F.lit(0.0))
    scored = (
        daily.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(F.sum(F.col("v") * weight).alias("raw"))
    )
    out = scored.select("user_id", dround(F.col("raw"), 4).alias("trend_score"))
    return out.orderBy(F.col("trend_score").desc(), "user_id").limit(_TREND_K)


# ---------------------------------------------------------------------------
# Seasonal decomposition: trend / weekly-seasonal / residual split
# ---------------------------------------------------------------------------

_DECOMP_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         ROUND(AVG(value), 6) AS v
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
trend_t AS (
  SELECT event_type, day, v,
         CASE WHEN COUNT(*) OVER w7 = 7
              THEN ROUND(AVG(v) OVER w7, 6) END AS trend
  FROM daily
  WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
season_t AS (
  SELECT event_type, day, v, trend,
         ROUND(AVG(v - trend) OVER (
           PARTITION BY event_type, dayofweek(day)), 6) AS seasonal
  FROM trend_t
)
SELECT event_type, day, v, trend, seasonal,
       ROUND(v - trend - seasonal, 6) AS residual
FROM season_t
"""


@register(
    "events_seasonal_decompose",
    _DECOMP_SQL,
    doc=(
        "classical seasonal decomposition (additive): trend = 7-day "
        "CENTERED moving average (full-window only — edges carry NULL "
        "rather than a biased partial mean), weekly seasonal = "
        "per-weekday mean of the detrended series (a second window "
        "PARTITIONED by (type, weekday) — an unordered partition "
        "aggregate, no sort), residual = v - trend - seasonal. The "
        "decomposition runs entirely over the O(days·types) reduced "
        "frame; each stage rounds before the next so both engines "
        "decompose bit-identical series. NULL propagation is part of "
        "the contract: edge days have no trend, hence no seasonal "
        "contribution and no residual — AVG skips them identically in "
        "both engines"
    ),
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_avg(spark, sf_dir)
    w7 = W.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    trend_t = daily.select(
        "event_type",
        "day",
        "v",
        F.when(
            F.count(F.lit(1)).over(w7) == 7, dround(F.avg("v").over(w7), 6)
        ).alias("trend"),
    )
    wdow = W.partitionBy("event_type", F.dayofweek("day"))
    season_t = trend_t.select(
        "event_type",
        "day",
        "v",
        "trend",
        dround(F.avg(F.col("v") - F.col("trend")).over(wdow), 6).alias("seasonal"),
    )
    return season_t.select(
        "event_type",
        "day",
        "v",
        "trend",
        "seasonal",
        dround(F.col("v") - F.col("trend") - F.col("seasonal"), 6).alias("residual"),
    )


# ---------------------------------------------------------------------------
# Markov transition matrix: sequential-pattern mining over event streams
# ---------------------------------------------------------------------------

_MARKOV_SQL = """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT prev_type, SUM(n) AS row_n FROM trans GROUP BY prev_type)
SELECT t.prev_type, t.next_type, CAST(t.n AS BIGINT) AS n,
       ROUND(CAST(t.n AS DOUBLE) / tot.row_n, 6) AS p
FROM trans t JOIN tot ON tot.prev_type = t.prev_type
"""


@register(
    "events_markov_transitions",
    _MARKOV_SQL,
    doc=(
        "first-order Markov transition matrix — sequential-pattern "
        "mining over per-user event streams (what follows what, and "
        "how often): one lag() window per user chain (the ONLY "
        "corpus-sized exchange, keyed on the high-cardinality user "
        "id), transition counts partial-aggregate to |types|^2 rows, "
        "and row-normalized probabilities divide integer counts (bit-"
        "identical on both engines). The matrix is the input to "
        "next-event prediction baselines, anomalous-sequence scoring, "
        "and session simulation; output is O(types^2) at any corpus "
        "scale"
    ),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(wo).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = trans.groupBy("prev_type").agg(F.sum("n").alias("row_n"))
    return trans.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").cast("bigint").alias("n"),
        dround(F.col("n").cast("double") / F.col("row_n"), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# Path analysis: top session-opening event sequences
# ---------------------------------------------------------------------------

_PATH_LEN = 3
_PATH_TOP = 10

_PATH_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
paths AS (
  SELECT user_id, session_id,
         array_to_string(list(event_type ORDER BY ts, event_id)[1:{_PATH_LEN}],
                         '>') AS path
  FROM sess GROUP BY user_id, session_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path LIMIT {_PATH_TOP}
"""


@register(
    "events_session_paths",
    _PATH_SQL,
    doc=(
        "clickstream path analysis — the top session-OPENING "
        "sequences (first 3 event types per session, '>'-joined): "
        "sessions form via the same islands technique as "
        "events_sessionize (gap flag + running sum, one exchange on "
        "the user key), each session reduces to its opening path "
        "through ONE ordered-list aggregation (struct-sort trick — "
        "no second window pass), and path frequencies partial-"
        "aggregate before the final TakeOrdered. The path space is "
        "bounded by |types|^len, so the second shuffle is tiny at "
        "any corpus scale; truncating to the opening k events keeps "
        "per-session state constant"
    ),
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_order = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_order.rowsBetween(W.unboundedPreceding, 0)
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w_order)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(gap > 1_800_000_000, 1)
        .when(F.lag("ts").over(w_order).isNull(), 1)
        .otherwise(0)
        .alias("is_start"),
    )
    sess = flagged.withColumn("session_id", F.sum("is_start").over(w_run))
    paths = (
        sess.select("user_id", "session_id", ordkey().alias("ok"), "event_type")
        .groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("ok"), F.col("event_type")))
                        ),
                        lambda s: s["event_type"],
                    ),
                    1,
                    _PATH_LEN,
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_PATH_TOP)
    )


# ---------------------------------------------------------------------------
# Personalized PageRank: seed-teleport neighborhood ranking
# ---------------------------------------------------------------------------

_PPR_SEEDS = ("c1", "c2", "c3", "c4", "c5")


@register(
    "graph_pagerank_personalized",
    _rank_sql(PPR_DAMPING, _PPR_SEEDS),
    doc=(
        "personalized PageRank — teleport mass restricted to a seed "
        "set (r' = (1-d)·1[seed] + d·Σ r/outdeg, r0 = the teleport "
        "vector), so rank concentrates in the seeds' purchase "
        "neighborhood: the recommendation / similarity-expansion "
        "variant of graph_pagerank (operators/graph."
        "personalized_pagerank). Same single-use rank chain over two "
        "checkpointed static frames, no per-round materialization; "
        "seeds enter as literals. Emitting only pr > 0 keeps the "
        "output the REACHED neighborhood, not the whole graph — at "
        "scale that is the point: 3 rounds from 5 seeds touch a "
        "local ball, the zero tail stays unmaterialized"
    ),
)
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import personalized_pagerank

    # shared int64 encode/decode bijection (queries_analytics); the
    # seed literals encode with the identical c -> 2c rule
    from .queries_analytics import decode_purchase_node, purchase_iedges

    iseeds = [2 * int(s[1:]) for s in _PPR_SEEDS]
    pr = personalized_pagerank(purchase_iedges(spark, sf_dir), seeds=iseeds)
    return pr.filter(F.col("rank") > 0).select(
        decode_purchase_node("node").alias("node"), F.col("rank").alias("pr")
    )


# ---------------------------------------------------------------------------
# Cumulative uniques: expanding distinct via the first-seen reduction
# ---------------------------------------------------------------------------

_CUMU_SQL = """
WITH firstseen AS (
  SELECT user_id, MIN(date_trunc('day', ts)::DATE) AS day
  FROM events GROUP BY user_id
),
news AS (SELECT day, COUNT(*) AS new_users FROM firstseen GROUP BY day),
days AS (SELECT DISTINCT date_trunc('day', ts)::DATE AS day FROM events)
SELECT d.day,
       CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day) AS BIGINT)
         AS cum_uniques
FROM days d LEFT JOIN news n ON n.day = d.day
"""


@register(
    "events_cumulative_uniques",
    _CUMU_SQL,
    doc=(
        "cumulative uniques (users-to-date per day) — the EXPANDING "
        "distinct count, where window_rolling_distinct is the sliding "
        "one: COUNT(DISTINCT) OVER an expanding frame exists in no "
        "engine, and re-counting per day is O(days x users), so the "
        "FIRST-SEEN reduction does it exactly in two aggregates — "
        "each user collapses to their first-seen day (one shuffle on "
        "the user key, no window), first-seen counts collapse to "
        "O(days) rows, and the running sum over that reduced frame IS "
        "the exact distinct-to-date. Integer counts end to end; the "
        "left join onto the observed-day grid keeps zero-new days "
        "visible"
    ),
)
def events_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    firstseen = ev.groupBy("user_id").agg(F.min(day).alias("day"))
    news = firstseen.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    days = ev.select(day.alias("day")).distinct()
    j = days.join(news, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    wc = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return j.select(
        "day",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(wc).cast("bigint").alias("cum_uniques"),
    )


# ---------------------------------------------------------------------------
# Wave 39: partitioned-layout write + pruned read — the Hive-layout
# contract as a driver-verifiable query
# ---------------------------------------------------------------------------

_PART_READ_SQL = """
SELECT event_type,
       CAST(ts AS DATE) AS day,
       COUNT(*)::BIGINT AS n,
       SUM(CAST(ROUND(value * 100, 0) AS BIGINT))::BIGINT AS cents
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY 1, 2
"""


@register(
    "source_partitioned_read",
    _PART_READ_SQL,
    doc=(
        "Hive-style partitioned layout, end to end inside one query: "
        "events write partitioned BY DATE (the layout every 100 TB "
        "event store uses — one directory per day, so time-scoped "
        "queries never open out-of-range files), then the read side "
        "filters one week and aggregates. The date predicate must "
        "prune at PLANNING time: the scan's PartitionFilters carry "
        "the BETWEEN (gated by tests/test_plan_quality.py::"
        "test_partitioned_read_prunes_partitions — listing shows only "
        "7 of ~60 day directories), versus a post-scan filter that "
        "reads everything and throws 88% away. The oracle computes "
        "the same week's aggregate straight off the raw table, so "
        "the round-trip (write → prune → aggregate) is lossless. "
        "Idempotent rewrite per call, the bucketed_ma discipline"
    ),
)
def source_partitioned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value", F.col("ts").cast("date").alias("day")
    )
    path = scratch_dir(spark, "source_partitioned_read")
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("day").between("2024-01-08", "2024-01-14")
    )
    return back.groupBy(
        "event_type", F.col("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dround(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )


# ---------------------------------------------------------------------------
# Wave 41: temporal referential-integrity audit — facts vs the SCD2
# dimension's validity timeline
# ---------------------------------------------------------------------------

_TFK_SQL = """
WITH dim0 AS (
  SELECT user_id, MIN(ts) AS first_valid_from
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
facts AS (
  SELECT user_id, ts FROM events WHERE event_type IN ('view', 'click')
),
classified AS (
  SELECT CASE WHEN d.user_id IS NULL THEN 'orphan'
              WHEN f.ts < d.first_valid_from THEN 'early'
              ELSE 'matched' END AS status
  FROM facts f LEFT JOIN dim0 d ON d.user_id = f.user_id
),
tot AS (SELECT COUNT(*)::BIGINT AS n FROM classified)
SELECT c.status, COUNT(*)::BIGINT AS n_facts,
       ROUND(COUNT(*) * 1.0 / tot.n, 6) AS frac
FROM classified c CROSS JOIN tot
GROUP BY c.status, tot.n
"""


@register(
    "audit_temporal_fk",
    _TFK_SQL,
    doc=(
        "temporal referential-integrity audit — the time-aware version "
        "of audit_referential_integrity, and the check every "
        "join_pit_scd2 consumer runs FIRST: a fact row is only "
        "enrichable if SOME dimension version was valid at the fact's "
        "own timestamp. Because scd2_dim_history's intervals are "
        "gapless-to-infinity after the first change (lead() "
        "construction), temporal coverage collapses to one exact "
        "rule — matched ⟺ fact_ts ≥ the key's first valid_from — so "
        "the dim reduces to an O(keys) first-version frame (one "
        "partial-aggregated MIN), joins back co-keyed, and the facts "
        "classify map-side into matched / early (fact predates the "
        "key's first version — the silent-NULL enrichment class) / "
        "orphan (key never dimensioned). Counts exact, one division "
        "per emitted fraction. At 100 TB: the dim frame is keys-sized "
        "(broadcastable when dims are dims), the fact side never "
        "shuffles except the final 3-row aggregate"
    ),
)
def audit_temporal_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dim0 = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_valid_from"))
    )
    facts = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "ts"
    )
    classified = facts.join(F.broadcast(dim0), "user_id", "left").select(
        F.when(F.col("first_valid_from").isNull(), F.lit("orphan"))
        .when(F.col("ts") < F.col("first_valid_from"), F.lit("early"))
        .otherwise(F.lit("matched"))
        .alias("status")
    )
    tot = classified.agg(F.count(F.lit(1)).alias("n"))
    return (
        classified.groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_facts"))
        .crossJoin(F.broadcast(tot))
        .select(
            "status",
            "n_facts",
            dround(F.col("n_facts") * F.lit(1.0) / F.col("n"), 6).alias("frac"),
        )
    )


# ---------------------------------------------------------------------------
# Transaction-log snapshot read (wave 63): the lakehouse-format core
# ---------------------------------------------------------------------------

_TXN_SQL = """
SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
       SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS total_cents
FROM orders
WHERE o_orderkey % 4 IN (0, 2, 3) OR o_orderkey % 8 = 1
GROUP BY 1
"""


@register(
    "source_txn_log_snapshot",
    _TXN_SQL,
    doc=(
        "transaction-log snapshot read — the Delta/Iceberg protocol "
        "core, built from first principles: data files land as "
        "parquet (4 key-range buckets), a JSONL _log records "
        "add/remove actions across three commits (v0 adds b0-b2, v1 "
        "adds b3 and removes b1, v2 adds b1's rewrite containing "
        "only the rows surviving a delete), and the READ path never "
        "lists the directory — it replays the log with an EXPLICIT "
        "schema, resolves each file's LAST action (one window over "
        "the log, which is O(commits), not O(data)), and scans only "
        "live files. The collect() is log-sized — file metadata, "
        "the thing every table format keeps driver-side by design. "
        "Snapshot isolation falls out: a reader replaying through v1 "
        "would see b1's pre-delete rows; the oracle is the v2 "
        "predicate over the raw table, proving replay == the "
        "declared live set"
    ),
)
def source_txn_log_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = scratch_dir(spark, "source_txn_log_snapshot")
    k = F.col("o_orderkey")
    for b in range(4):
        orders.filter(k % 4 == b).write.mode("overwrite").parquet(
            f"{root}/b{b}.parquet"
        )
    orders.filter((k % 4 == 1) & (k % 8 == 1)).write.mode("overwrite").parquet(
        f"{root}/b1v2.parquet"
    )
    log_dir = f"{root}/_log"
    os.makedirs(log_dir)
    commits = {
        "000": [
            {"v": 0, "action": "add", "file": "b0.parquet"},
            {"v": 0, "action": "add", "file": "b1.parquet"},
            {"v": 0, "action": "add", "file": "b2.parquet"},
        ],
        "001": [
            {"v": 1, "action": "add", "file": "b3.parquet"},
            {"v": 1, "action": "remove", "file": "b1.parquet"},
        ],
        "002": [{"v": 2, "action": "add", "file": "b1v2.parquet"}],
    }
    for name, entries in commits.items():
        with open(os.path.join(log_dir, f"{name}.json"), "w") as f:
            f.write("\n".join(json.dumps(e) for e in entries) + "\n")
    log = spark.read.schema("v long, action string, file string").json(log_dir)
    wlast = W.partitionBy("file").orderBy(F.col("v").desc())
    live = (
        log.withColumn("rn", F.row_number().over(wlast))
        .filter((F.col("rn") == 1) & (F.col("action") == "add"))
        .select("file")
        .collect()
    )
    snap = spark.read.parquet(*[f"{root}/{r.file}" for r in live])
    return snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dround(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Partition-spec evolution read (wave 68)
# ---------------------------------------------------------------------------

_PE_CUTOFF = "2024-01-16"  # mid-range of the 2024-01 fixture month

_PE_SQL = f"""
SELECT event_type, COUNT(*)::BIGINT AS n,
       SUM(CAST(ROUND(COALESCE(value, 0) * 100, 0) AS BIGINT))::BIGINT AS cents
FROM events
GROUP BY event_type
"""


@register(
    "source_partition_evolution",
    _PE_SQL,
    doc=(
        "partition-spec evolution read — the lakehouse migration "
        "nobody plans for: history landed UNPARTITIONED (one flat "
        "parquet dir), the table later adopted "
        "partitionBy(event_type), and every query must read BOTH "
        "layouts as one table. The old half carries event_type as a "
        "DATA column; the new half carries it as a DIRECTORY column "
        "the reader reconstructs from paths (and can prune on — "
        "planning-time PartitionFilters apply only to the new half, "
        "which is exactly Iceberg's partition-evolution contract: "
        "old files keep the old spec). unionByName reconciles the "
        "differing column orders; the oracle checks the stitched "
        "read is lossless vs the raw table. The cutoff split is "
        "event-time (< {cutoff} flat, >= partitioned), mirroring a "
        "real migration date"
    ).format(cutoff=_PE_CUTOFF),
)
def source_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    root = scratch_dir(spark, "source_partition_evolution")
    old_dir = f"{root}/events_flat_v1"
    new_dir = f"{root}/events_parted_v2"
    cutoff = F.lit(_PE_CUTOFF).cast("timestamp")
    ev.filter(F.col("ts") < cutoff).write.mode("overwrite").parquet(old_dir)
    ev.filter(F.col("ts") >= cutoff).write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(new_dir)
    old = spark.read.parquet(old_dir)
    new = spark.read.parquet(new_dir)  # event_type comes back as a
    # partition column (path-derived, last in schema) — unionByName
    # reconciles the order difference
    both = old.unionByName(new.select(*old.columns))
    return both.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dround(F.coalesce(F.col("value"), F.lit(0.0)) * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
