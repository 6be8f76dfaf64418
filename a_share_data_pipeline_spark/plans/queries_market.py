"""Round-6 wave 18: completing the kline/market-indicator family the
reference's domain (daily A-share bars, market/non_fq_daily_kline.py)
sits in front of — VWAP/TWAP bars, Donchian channel + Williams %R
position, floor-trader pivot points, the MA golden-cross signal, and
the Sharpe ratio over weekly returns.

Same discipline as waves 5-17: prices convert to exact int64 cents
BEFORE any sum or compare, every emitted double goes through ONE
division (or one dround), MA comparisons are integer cross-multiplies
(no division at all), and every window runs over the already-reduced
O(days·types) daily/weekly frame — never over raw ticks.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.ordering import ORDKEY_SQL, ordkey
from ..functions.rounding import dround, iln
from ..session import pin
from ..sources import load_table
from .catalog import register

# ---------------------------------------------------------------------------
# shared frames: cents-priced ticks, daily closes and averages, weekly OHLC
# ---------------------------------------------------------------------------


def _cents() -> F.Column:
    return dround(F.col("value") * 100, 0).cast("bigint")


def _ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )


_DAILY_CLOSE_SQL = f"""
daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         arg_max(CAST(ROUND(value * 100, 0) AS BIGINT), {ORDKEY_SQL}) AS close_c
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
)"""


def _daily_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, day) closing price in int64 cents — ONE partial-
    aggregated shuffle on the tick table; max_by carries a single
    (cents, ordkey) pair per group through the combine."""
    return (
        _ticks(spark, sf_dir)
        .select(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
            _cents().alias("close_c"),
            ordkey().alias("ordkey"),
        )
        .groupBy("event_type", "day")
        .agg(F.max_by("close_c", "ordkey").alias("close_c"))
    )


def _daily_avg(spark: SparkSession, sf_dir: str, *also: Column) -> DataFrame:
    """(event_type, day, v): per-(type, day) average tick value on the
    6-decimal grid, the series the kline indicators smooth; ``also``
    adds aggregates over the same groups in the same shuffle."""
    return (
        _ticks(spark, sf_dir)
        .groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(dround(F.avg("value"), 6).alias("v"), *also)
    )


def _daily_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, v_view, v_purchase): each day's view and purchase average
    side by side on the 6-decimal grid, for the rolling two-series
    statistics."""

    def avg_of(kind: str) -> F.Column:
        return dround(F.avg(F.when(F.col("event_type") == kind, F.col("value"))), 6)

    return _ticks(spark, sf_dir).groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(avg_of("view").alias("v_view"), avg_of("purchase").alias("v_purchase"))


_WEEKLY_OHLC_SQL = f"""
weekly AS (
  SELECT event_type, date_trunc('week', ts) AS week,
         MAX(CAST(ROUND(value * 100, 0) AS BIGINT)) AS h_c,
         MIN(CAST(ROUND(value * 100, 0) AS BIGINT)) AS l_c,
         arg_max(CAST(ROUND(value * 100, 0) AS BIGINT), {ORDKEY_SQL}) AS c_c
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
)"""


def _weekly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _ticks(spark, sf_dir)
        .select(
            "event_type",
            F.date_trunc("week", "ts").cast("date").alias("week"),
            _cents().alias("c"),
            ordkey().alias("ordkey"),
        )
        .groupBy("event_type", "week")
        .agg(
            F.max("c").alias("h_c"),
            F.min("c").alias("l_c"),
            F.max_by("c", "ordkey").alias("c_c"),
        )
    )


# ---------------------------------------------------------------------------
# VWAP / TWAP weekly bars (wave 18)
# ---------------------------------------------------------------------------

_VWAP_SQL = """
WITH t AS (
  SELECT event_type, date_trunc('week', ts) AS week,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events WHERE event_type IN ('view', 'purchase')
)
SELECT event_type, week,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       CAST(SUM(k) AS BIGINT) AS w_total,
       ROUND(SUM(cents * k) / (SUM(k) * 100.0), 6) AS vwap,
       ROUND(SUM(cents) / (COUNT(*) * 100.0), 6) AS twap
FROM t
GROUP BY event_type, week
HAVING SUM(k) > 0
"""


@register(
    "events_vwap",
    _VWAP_SQL,
    doc=(
        "weekly VWAP/TWAP bars — the volume-weighted price the "
        "reference's daily kline carries as amount/vol: per-tick size "
        "comes from the props JSON (typed extraction, the F7 lane), "
        "price converts to int64 cents BEFORE any sum, so the VWAP "
        "numerator Σ(cents·k) and denominator Σk are exact integers "
        "with ONE double division at emit (TWAP likewise over the "
        "tick count). ONE partial-aggregated shuffle on (type, week); "
        "zero-size weeks drop via an integer HAVING — no NaN lanes"
    ),
)
def events_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object("props", "$.k").cast("bigint")
    base = _ticks(spark, sf_dir).select(
        "event_type",
        F.date_trunc("week", "ts").cast("date").alias("week"),
        _cents().alias("cents"),
        k.alias("k"),
    )
    return (
        base.groupBy("event_type", "week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
            F.sum("k").cast("bigint").alias("w_total"),
            # 128-bit sums: cents·k is ~1e9/row, so an int64 sum wraps
            # around 1e10 rows/group — DuckDB auto-promotes SUM(BIGINT)
            # to HUGEINT, Spark needs the explicit decimal addend
            F.sum((F.col("cents") * F.col("k")).cast("decimal(20,0)")).alias("_num"),
            F.sum(F.col("cents").cast("decimal(20,0)")).alias("_csum"),
        )
        .filter(F.col("w_total") > 0)
        .select(
            "event_type",
            "week",
            "n_ticks",
            "w_total",
            dround(F.col("_num") / (F.col("w_total") * F.lit(100.0)), 6).alias("vwap"),
            dround(F.col("_csum") / (F.col("n_ticks") * F.lit(100.0)), 6).alias("twap"),
        )
    )


# ---------------------------------------------------------------------------
# Donchian channel + Williams-%R position (wave 18)
# ---------------------------------------------------------------------------

_DONCHIAN_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
framed AS (
  SELECT event_type, day, close_c,
         MAX(close_c) OVER w AS hi_c,
         MIN(close_c) OVER w AS lo_c,
         COUNT(*) OVER w AS n7
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day,
       ROUND(close_c / 100.0, 2) AS close,
       ROUND(hi_c / 100.0, 2) AS channel_hi,
       ROUND(lo_c / 100.0, 2) AS channel_lo,
       ROUND((hi_c + lo_c) / 200.0, 4) AS channel_mid,
       ROUND((hi_c - lo_c) / 100.0, 2) AS width,
       CASE WHEN hi_c > lo_c
            THEN ROUND((close_c - lo_c) * 1.0 / (hi_c - lo_c), 4)
       END AS pct_position
FROM framed
WHERE n7 = 7
"""


@register(
    "events_donchian",
    _DONCHIAN_SQL,
    doc=(
        "7-day Donchian channel + the Williams-%R-style position of "
        "the close inside it: daily closes reduce FIRST (max_by over "
        "the tie-safe ordkey — O(days·types) rows), then hi/lo/count "
        "share ONE rows-frame window over one exchange. All channel "
        "arithmetic stays in int64 cents (hi, lo, width, the position "
        "numerator/denominator) with one division per emitted double; "
        "zero-width channels emit NULL position instead of a NaN, and "
        "warm-up rows (frame not yet 7 deep) drop via the integer "
        "frame count"
    ),
)
def events_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    framed = daily.select(
        "event_type",
        "day",
        "close_c",
        F.max("close_c").over(w).alias("hi_c"),
        F.min("close_c").over(w).alias("lo_c"),
        F.count(F.lit(1)).over(w).alias("n7"),
    ).filter(F.col("n7") == 7)
    hi, lo, close = F.col("hi_c"), F.col("lo_c"), F.col("close_c")
    return framed.select(
        "event_type",
        "day",
        dround(close / 100.0, 2).alias("close"),
        dround(hi / 100.0, 2).alias("channel_hi"),
        dround(lo / 100.0, 2).alias("channel_lo"),
        dround((hi + lo) / 200.0, 4).alias("channel_mid"),
        dround((hi - lo) / 100.0, 2).alias("width"),
        F.when(hi > lo, dround((close - lo) * F.lit(1.0) / (hi - lo), 4)).alias(
            "pct_position"
        ),
    )


# ---------------------------------------------------------------------------
# Floor-trader pivot points from the prior week's bar (wave 18)
# ---------------------------------------------------------------------------

_PIVOT_SQL = f"""
WITH {_WEEKLY_OHLC_SQL},
lagged AS (
  SELECT event_type, week,
         lag(h_c) OVER w AS ph, lag(l_c) OVER w AS pl, lag(c_c) OVER w AS pc
  FROM weekly
  WINDOW w AS (PARTITION BY event_type ORDER BY week)
)
SELECT event_type, week,
       ROUND((ph + pl + pc) / 300.0, 6) AS pivot,
       ROUND((2 * (ph + pl + pc) - 3 * ph) / 300.0, 6) AS r1,
       ROUND((2 * (ph + pl + pc) - 3 * pl) / 300.0, 6) AS s1,
       ROUND(((ph + pl + pc) + 3 * (ph - pl)) / 300.0, 6) AS r2,
       ROUND(((ph + pl + pc) - 3 * (ph - pl)) / 300.0, 6) AS s2
FROM lagged
WHERE ph IS NOT NULL
"""


@register(
    "events_pivot_points",
    _PIVOT_SQL,
    doc=(
        "floor-trader pivot points for each week from the PRIOR "
        "week's H/L/C bar (P=(H+L+C)/3, R1=2P-H, S1=2P-L, R2=P+(H-L), "
        "S2=P-(H-L)): the weekly OHLC reduces first, one lag window "
        "per type over the O(weeks) frame, and every level is an "
        "EXACT int64-cents numerator over the common denominator 300 "
        "— the /3 never happens in isolation, so there is no "
        "intermediate double to drift; one division per emitted level"
    ),
)
def events_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    weekly = _weekly_ohlc(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("week")
    lagged = weekly.select(
        "event_type",
        "week",
        F.lag("h_c").over(w).alias("ph"),
        F.lag("l_c").over(w).alias("pl"),
        F.lag("c_c").over(w).alias("pc"),
    ).filter(F.col("ph").isNotNull())
    ph, pl, pc = F.col("ph"), F.col("pl"), F.col("pc")
    tot = ph + pl + pc
    return lagged.select(
        "event_type",
        "week",
        dround(tot / 300.0, 6).alias("pivot"),
        dround((F.lit(2) * tot - F.lit(3) * ph) / 300.0, 6).alias("r1"),
        dround((F.lit(2) * tot - F.lit(3) * pl) / 300.0, 6).alias("s1"),
        dround((tot + F.lit(3) * (ph - pl)) / 300.0, 6).alias("r2"),
        dround((tot - F.lit(3) * (ph - pl)) / 300.0, 6).alias("s2"),
    )


# ---------------------------------------------------------------------------
# MA golden-cross / death-cross signal detection (wave 18)
# ---------------------------------------------------------------------------

_CROSS_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
framed AS (
  SELECT event_type, day,
         SUM(close_c) OVER w3 AS s3, COUNT(*) OVER w3 AS n3,
         SUM(close_c) OVER w7 AS s7, COUNT(*) OVER w7 AS n7
  FROM daily
  WINDOW w3 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         w7 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
states AS (
  SELECT event_type, day, s3, s7,
         CASE WHEN n3 = 3 AND n7 = 7 THEN
           CASE WHEN s3 * 7 > s7 * 3 THEN 1
                WHEN s3 * 7 < s7 * 3 THEN -1
                ELSE 0 END
         END AS state
  FROM framed
),
flagged AS (
  SELECT event_type, day, s3, s7, state,
         lag(state) OVER (PARTITION BY event_type ORDER BY day) AS prev_state
  FROM states
)
SELECT event_type, day,
       ROUND(s3 / 300.0, 4) AS fast_ma,
       ROUND(s7 / 700.0, 4) AS slow_ma,
       CASE WHEN state = 1 THEN 'golden' ELSE 'death' END AS direction
FROM flagged
WHERE state * prev_state = -1
"""


@register(
    "events_golden_cross",
    _CROSS_SQL,
    doc=(
        "MA(3)/MA(7) golden-cross & death-cross signal days: the "
        "fast-above-slow state is an INTEGER cross-multiply "
        "(7·Σ3 vs 3·Σ7 in cents — the means are never materialized, "
        "so the signal is exact, no epsilon), both rolling sums share "
        "one window exchange+sort over the reduced daily frame, and a "
        "cross fires exactly when the state sign flips (state · "
        "lag(state) = -1; warm-up and flat-tie days are NULL/0 states "
        "that can never fabricate a flip). The MAs themselves emit "
        "with one division each, for display only"
    ),
)
def events_golden_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir)
    w3 = W.partitionBy("event_type").orderBy("day").rowsBetween(-2, 0)
    w7 = W.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    framed = daily.select(
        "event_type",
        "day",
        F.sum("close_c").over(w3).alias("s3"),
        F.count(F.lit(1)).over(w3).alias("n3"),
        F.sum("close_c").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    )
    state = F.when(
        (F.col("n3") == 3) & (F.col("n7") == 7),
        F.when(F.col("s3") * 7 > F.col("s7") * 3, F.lit(1))
        .when(F.col("s3") * 7 < F.col("s7") * 3, F.lit(-1))
        .otherwise(F.lit(0)),
    )
    states = framed.select("event_type", "day", "s3", "s7", state.alias("state"))
    wl = W.partitionBy("event_type").orderBy("day")
    flagged = states.withColumn("prev_state", F.lag("state").over(wl))
    return flagged.filter(F.col("state") * F.col("prev_state") == -1).select(
        "event_type",
        "day",
        dround(F.col("s3") / 300.0, 4).alias("fast_ma"),
        dround(F.col("s7") / 700.0, 4).alias("slow_ma"),
        F.when(F.col("state") == 1, F.lit("golden"))
        .otherwise(F.lit("death"))
        .alias("direction"),
    )


# ---------------------------------------------------------------------------
# Sharpe ratio over weekly returns (wave 18)
# ---------------------------------------------------------------------------

_SQRT52 = math.sqrt(52.0)  # annualization for weekly bars; the SAME
# Python-float literal is inlined into both engines' plans

_SHARPE_SQL = f"""
WITH {_WEEKLY_OHLC_SQL},
rets AS (
  SELECT event_type, week, c_c,
         lag(c_c) OVER (PARTITION BY event_type ORDER BY week) AS prev_c
  FROM weekly
),
r AS (
  SELECT event_type, (c_c - prev_c) * 1.0 / prev_c AS ret
  FROM rets WHERE prev_c IS NOT NULL AND prev_c > 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_weeks,
       ROUND(AVG(ret), 6) AS mean_ret,
       ROUND(stddev_samp(ret), 6) AS std_ret,
       ROUND(AVG(ret) / NULLIF(stddev_samp(ret), 0) * {_SQRT52!r}, 4) AS sharpe_ann
FROM r
GROUP BY event_type
"""


@register(
    "events_sharpe",
    _SHARPE_SQL,
    doc=(
        "annualized Sharpe ratio per series from weekly close-to-close "
        "returns: weekly closes reduce first (int64 cents, tie-safe "
        "ordkey), each return is ONE division of two exact integers — "
        "bit-identical doubles on both engines — and only the final "
        "mean/stddev over the O(weeks) return series carries "
        "fold-order noise, absorbed by 6dp/4dp rounding (the "
        "driver-green agg_stats discipline). √52 is one shared "
        "Python-float literal; a zero-variance series emits NULL via "
        "NULLIF instead of ±inf"
    ),
)
def events_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    weekly = _weekly_ohlc(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("week")
    rets = weekly.select(
        "event_type", "week", "c_c", F.lag("c_c").over(w).alias("prev_c")
    ).filter(F.col("prev_c").isNotNull() & (F.col("prev_c") > 0))
    r = rets.select(
        "event_type",
        ((F.col("c_c") - F.col("prev_c")) * F.lit(1.0) / F.col("prev_c")).alias("ret"),
    )
    mean, std = F.avg("ret"), F.stddev_samp("ret")
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
        dround(mean, 6).alias("mean_ret"),
        dround(std, 6).alias("std_ret"),
        dround(mean / F.nullif(std, F.lit(0.0)) * F.lit(_SQRT52), 4).alias(
            "sharpe_ann"
        ),
    )


# ---------------------------------------------------------------------------
# Candlestick pattern detection (wave 26)
# ---------------------------------------------------------------------------

_CANDLE_SQL = f"""
WITH keyed AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         {ORDKEY_SQL} AS ordkey
  FROM events WHERE event_type IN ('view', 'purchase')
),
bars AS (
  SELECT event_type, day,
         arg_min(c, ordkey) AS o, MAX(c) AS h, MIN(c) AS l,
         arg_max(c, ordkey) AS cl
  FROM keyed GROUP BY event_type, day
),
lagged AS (
  SELECT event_type, day, o, h, l, cl,
         lag(o) OVER w AS po, lag(cl) OVER w AS pcl
  FROM bars
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
flags AS (
  SELECT event_type, day, o, h, l, cl,
         (h > l AND ABS(cl - o) * 20 <= (h - l)) AS is_doji,
         ((LEAST(o, cl) - l) >= 2 * ABS(cl - o)
          AND (h - GREATEST(o, cl)) <= ABS(cl - o)
          AND ABS(cl - o) > 0) AS is_hammer,
         (po IS NOT NULL AND pcl < po AND cl > o
          AND o <= pcl AND cl >= po) AS is_bull_engulf,
         (po IS NOT NULL AND pcl > po AND cl < o
          AND o >= pcl AND cl <= po) AS is_bear_engulf
  FROM lagged
),
long AS (
  SELECT event_type, day, o, h, l, cl, 'doji' AS pattern
  FROM flags WHERE is_doji
  UNION ALL
  SELECT event_type, day, o, h, l, cl, 'hammer' FROM flags WHERE is_hammer
  UNION ALL
  SELECT event_type, day, o, h, l, cl, 'bullish_engulfing'
  FROM flags WHERE is_bull_engulf
  UNION ALL
  SELECT event_type, day, o, h, l, cl, 'bearish_engulfing'
  FROM flags WHERE is_bear_engulf
)
SELECT event_type, day, pattern,
       ROUND(o / 100.0, 2) AS open, ROUND(h / 100.0, 2) AS high,
       ROUND(l / 100.0, 2) AS low, ROUND(cl / 100.0, 2) AS close
FROM long
"""


@register(
    "events_candle_patterns",
    _CANDLE_SQL,
    doc=(
        "candlestick pattern detection over daily OHLC bars — the "
        "rule-based signal layer on top of events_ohlc's resample "
        "(doji: body ≤ 5% of range as the integer cross-multiply "
        "20·|c−o| ≤ h−l; hammer: lower shadow ≥ 2×body with a capped "
        "upper shadow; bullish/bearish engulfing: the previous bar's "
        "body strictly inside the current one, via ONE lag window). "
        "Every rule is a pure int64-cents comparison — no epsilons, "
        "no floats — so pattern membership can never flip between "
        "engines; the four flags compute in one pass and unpivot via "
        "UNION ALL branches of the same tiny flags frame (O(weeks· "
        "types), reduced before any window)"
    ),
)
def events_candle_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = _ticks(spark, sf_dir).select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        _cents().alias("c"),
        ordkey().alias("ordkey"),
    )
    bars = keyed.groupBy("event_type", "day").agg(
        F.min_by("c", "ordkey").alias("o"),
        F.max("c").alias("h"),
        F.min("c").alias("l"),
        F.max_by("c", "ordkey").alias("cl"),
    )
    w = W.partitionBy("event_type").orderBy("day")
    lagged = bars.select(
        "event_type",
        "day",
        "o",
        "h",
        "l",
        "cl",
        F.lag("o").over(w).alias("po"),
        F.lag("cl").over(w).alias("pcl"),
    )
    o, h, l, cl = (F.col(x) for x in ("o", "h", "l", "cl"))
    po, pcl = F.col("po"), F.col("pcl")
    body = F.abs(cl - o)
    flags = pin(lagged.select(
        "event_type",
        "day",
        "o",
        "h",
        "l",
        "cl",
        ((h > l) & (body * 20 <= (h - l))).alias("is_doji"),
        (
            ((F.least(o, cl) - l) >= 2 * body)
            & ((h - F.greatest(o, cl)) <= body)
            & (body > 0)
        ).alias("is_hammer"),
        (po.isNotNull() & (pcl < po) & (cl > o) & (o <= pcl) & (cl >= po)).alias(
            "is_bull_engulf"
        ),
        (po.isNotNull() & (pcl > po) & (cl < o) & (o >= pcl) & (cl <= po)).alias(
            "is_bear_engulf"
        ),
    ))  # consumers: the four unpivot branches
    parts = []
    for flag, name in (
        ("is_doji", "doji"),
        ("is_hammer", "hammer"),
        ("is_bull_engulf", "bullish_engulfing"),
        ("is_bear_engulf", "bearish_engulfing"),
    ):
        parts.append(
            flags.filter(F.col(flag)).select(
                "event_type", "day", F.lit(name).alias("pattern"), "o", "h", "l", "cl"
            )
        )
    long = parts[0]
    for p in parts[1:]:
        long = long.unionByName(p)
    return long.select(
        "event_type",
        "day",
        "pattern",
        dround(F.col("o") / 100.0, 2).alias("open"),
        dround(F.col("h") / 100.0, 2).alias("high"),
        dround(F.col("l") / 100.0, 2).alias("low"),
        dround(F.col("cl") / 100.0, 2).alias("close"),
    )


# ---------------------------------------------------------------------------
# Periodogram at fixed calendar frequencies (wave 30)
# ---------------------------------------------------------------------------

_PG_P = 16  # cycle length (days); data-independent calendar grid
_PG_KS = (1, 2, 3)  # probed frequencies: periods 16, 8, 5.33 days


def _pg_lits(k: int) -> tuple[list[int], list[int]]:
    """Integer-ppm cos/sin tables for frequency k over the 16 slots —
    computed ONCE in Python, injected into both engines (the
    once-rounded integer-ln device, pointed at trig)."""
    cos = [round(math.cos(2 * math.pi * k * s / _PG_P) * 1e6) for s in range(_PG_P)]
    sin = [round(math.sin(2 * math.pi * k * s / _PG_P) * 1e6) for s in range(_PG_P)]
    return cos, sin


def _pg_sql() -> str:
    branches = []
    for k in _PG_KS:
        cos, sin = _pg_lits(k)
        branches.append(
            f"""
  SELECT event_type, {k} AS freq_k,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(close_c) AS HUGEINT) AS s_tot,
         CAST(SUM(close_c * (ARRAY{cos})[slot + 1]) AS HUGEINT) AS c_raw,
         CAST(SUM(close_c * (ARRAY{sin})[slot + 1]) AS HUGEINT) AS s_raw,
         CAST(SUM((ARRAY{cos})[slot + 1]) AS HUGEINT) AS kc,
         CAST(SUM((ARRAY{sin})[slot + 1]) AS HUGEINT) AS ks
  FROM slotted GROUP BY event_type"""
        )
    union = "\n  UNION ALL".join(branches)
    return f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         arg_max(CAST(ROUND(value * 100, 0) AS BIGINT),
                 lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                 || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS close_c
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
slotted AS (
  SELECT event_type, close_c,
         date_diff('day', DATE '1970-01-01', day) % {_PG_P} AS slot
  FROM daily
),
coefs AS ({union})
SELECT event_type, CAST(freq_k AS INT) AS freq_k,
       CAST(n AS BIGINT) AS n_days,
       ROUND(sqrt(CAST((n * c_raw - s_tot * kc) AS DOUBLE)
                  * CAST((n * c_raw - s_tot * kc) AS DOUBLE)
                + CAST((n * s_raw - s_tot * ks) AS DOUBLE)
                  * CAST((n * s_raw - s_tot * ks) AS DOUBLE))
             / (n * n * 1000000.0 * 100.0), 6) AS amplitude
FROM coefs
"""


@register(
    "events_periodogram",
    _pg_sql(),
    doc=(
        f"fixed-frequency periodogram — spectral energy of the daily "
        f"close series at the {_PG_P}/k-day calendar periods "
        f"(k∈{_PG_KS}), the frequency-domain seasonality probe beside "
        "events_seasonal_decompose's time-domain split: cos/sin "
        "tables are integer-ppm LITERALS computed once in Python and "
        "indexed by epoch-day mod 16 (data-independent slots), so "
        "every Fourier sum Σ c·cosₖ[slot] is EXACT 128-bit integer — "
        "no float fold at any corpus size. Mean-centering happens "
        "algebraically AFTER aggregation (n·C − S·Σcos — still exact "
        "integers), and the amplitude's sqrt over two squared casts "
        "is the only float, one fixed chain per output row. One scan "
        "→ a 3-branch union over the same reduced frame; O(types·k) "
        "output"
    ),
)
def events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir)
    epoch = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    slotted = pin(daily.select(
        "event_type", "close_c", (epoch % _PG_P).alias("slot")
    ))  # consumers: one branch per frequency
    d38 = "decimal(38,0)"
    parts = []
    for k in _PG_KS:
        cos, sin = _pg_lits(k)
        cosa = F.array(*[F.lit(c).cast("bigint") for c in cos])
        sina = F.array(*[F.lit(sv).cast("bigint") for sv in sin])
        cl = F.element_at(cosa, F.col("slot").cast("int") + 1)
        sl = F.element_at(sina, F.col("slot").cast("int") + 1)
        parts.append(
            slotted.groupBy("event_type").agg(
                F.lit(k).alias("freq_k"),
                F.count(F.lit(1)).cast(d38).alias("n"),
                F.sum(F.col("close_c").cast("decimal(20,0)")).alias("s_tot"),
                F.sum((F.col("close_c") * cl).cast("decimal(24,0)")).alias("c_raw"),
                F.sum((F.col("close_c") * sl).cast("decimal(24,0)")).alias("s_raw"),
                F.sum(cl.cast("decimal(20,0)")).alias("kc"),
                F.sum(sl.cast("decimal(20,0)")).alias("ks"),
            )
        )
    coefs = parts[0]
    for p in parts[1:]:
        coefs = coefs.unionByName(p)
    n, st = F.col("n"), F.col("s_tot")
    cc = (n * F.col("c_raw") - st * F.col("kc")).cast("double")
    ss = (n * F.col("s_raw") - st * F.col("ks")).cast("double")
    return coefs.select(
        "event_type",
        F.col("freq_k").cast("int").alias("freq_k"),
        n.cast("bigint").alias("n_days"),
        dround(
            F.sqrt(cc * cc + ss * ss)
            / (n.cast("double") * n.cast("double") * F.lit(1000000.0) * F.lit(100.0)),
            6,
        ).alias("amplitude"),
    )


# ---------------------------------------------------------------------------
# LTTB-style downsampling (wave 31)
# ---------------------------------------------------------------------------

_LTTB_BUCKET = 4  # days per bucket → ~4x downsample of the daily series

_LTTB_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
pts AS (
  SELECT event_type, day, close_c,
         date_diff('day', DATE '1970-01-01', day) AS x,
         date_diff('day', DATE '1970-01-01', day) // {_LTTB_BUCKET} AS b
  FROM daily
),
bstats AS (
  SELECT event_type, b, SUM(x) AS sx, SUM(close_c) AS sy,
         COUNT(*) AS n
  FROM pts GROUP BY event_type, b
),
ctx AS (
  SELECT event_type, b,
         lag(sx) OVER w AS sx_p, lag(sy) OVER w AS sy_p, lag(n) OVER w AS n_p,
         lead(sx) OVER w AS sx_n, lead(sy) OVER w AS sy_n, lead(n) OVER w AS n_n
  FROM bstats
  WINDOW w AS (PARTITION BY event_type ORDER BY b)
),
scored AS (
  SELECT p.event_type, p.day, p.close_c, p.b,
         ABS((p.x * c.n_p - c.sx_p) * (c.sy_n * c.n_p - c.sy_p * c.n_n)
           - (c.sx_n * c.n_p - c.sx_p * c.n_n) * (p.close_c * c.n_p - c.sy_p))
           AS area2
  FROM pts p
  JOIN ctx c ON c.event_type = p.event_type AND c.b = p.b
  WHERE c.n_p IS NOT NULL AND c.n_n IS NOT NULL
)
SELECT event_type, day, ROUND(close_c / 100.0, 2) AS close,
       CAST(area2 AS BIGINT) AS area2
FROM (
  SELECT s.*, row_number() OVER (
    PARTITION BY event_type, b ORDER BY area2 DESC, day
  ) AS rnk
  FROM scored s
)
WHERE rnk = 1
"""


@register(
    "events_lttb_downsample",
    _LTTB_SQL,
    doc=(
        "LTTB-style series downsampling (the visualization/compaction "
        "reducer): per 4-day bucket, keep the point whose triangle "
        "against the NEIGHBOR BUCKETS' mean points has maximum area — "
        "the parallel variant of largest-triangle-three-buckets "
        "(anchoring on bucket means instead of the previously "
        "selected point removes the sequential dependency, so every "
        "bucket decides independently — the distributed trade stated "
        "plainly). The area comparison is EXACT: multiplying the "
        "2×area formula through by n_prev²·n_next clears every "
        "rational mean, so candidates rank by int64 cross-products "
        "with the day as tie-break — no float anywhere before the "
        "display-only close emit. One lag/lead window over the "
        "O(buckets) frame + one bounded (≤4 rows/bucket) ranking"
    ),
)
def events_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir)
    epoch = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    pts = pin(daily.select(
        "event_type",
        "day",
        "close_c",
        epoch.alias("x"),
        (epoch / _LTTB_BUCKET).cast("bigint").alias("b"),
    ))  # consumers: bucket stats + candidates
    bstats = pts.groupBy("event_type", "b").agg(
        F.sum("x").alias("sx"), F.sum("close_c").alias("sy"), F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("event_type").orderBy("b")
    ctx = bstats.select(
        "event_type",
        "b",
        F.lag("sx").over(w).alias("sx_p"),
        F.lag("sy").over(w).alias("sy_p"),
        F.lag("n").over(w).alias("n_p"),
        F.lead("sx").over(w).alias("sx_n"),
        F.lead("sy").over(w).alias("sy_n"),
        F.lead("n").over(w).alias("n_n"),
    ).filter(F.col("n_p").isNotNull() & F.col("n_n").isNotNull())
    j = pts.join(ctx, ["event_type", "b"])
    area2 = F.abs(
        (F.col("x") * F.col("n_p") - F.col("sx_p"))
        * (F.col("sy_n") * F.col("n_p") - F.col("sy_p") * F.col("n_n"))
        - (F.col("sx_n") * F.col("n_p") - F.col("sx_p") * F.col("n_n"))
        * (F.col("close_c") * F.col("n_p") - F.col("sy_p"))
    )
    scored = j.select("event_type", "day", "close_c", "b", area2.alias("area2"))
    wr = W.partitionBy("event_type", "b").orderBy(F.col("area2").desc(), "day")
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") == 1)
        .select(
            "event_type",
            "day",
            dround(F.col("close_c") / 100.0, 2).alias("close"),
            F.col("area2").cast("bigint").alias("area2"),
        )
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (wave 34)
# ---------------------------------------------------------------------------

_TS_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
pts AS (
  SELECT event_type, close_c,
         date_diff('day', DATE '1970-01-01', day) AS x
  FROM daily
),
slopes AS (
  SELECT a.event_type,
         (b.close_c - a.close_c) * 1.0 / (b.x - a.x) AS slope
  FROM pts a JOIN pts b
    ON b.event_type = a.event_type AND b.x > a.x
),
ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM slopes
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_slopes,
       ROUND(MIN(CASE WHEN 2 * rn >= n + 1 THEN slope END) / 100.0, 6)
         AS theil_sen_slope
FROM ranked
GROUP BY event_type, n
"""


@register(
    "events_theil_sen",
    _TS_SQL,
    doc=(
        "Theil-Sen robust trend — the median of all pairwise slopes, "
        "the breakdown-resistant alternative to OLS trend "
        "(forecast_linear's regr_slope moves with one fat-finger "
        "tick; this needs 29% corruption): the O(days²) pair fan-out "
        "runs AFTER the daily reduce, so it is bounded by the "
        "calendar, never the tick volume (a year ≈ 66k pairs/series "
        "— trivial; at decade scale the windowed variant samples "
        "pairs per day). Each slope is ONE division of two exact "
        "integers — bit-identical doubles, safe to ORDER BY — and "
        "the median is the lower-median pick 2·rn ≥ n+1 (an integer "
        "rank condition, no float interpolation). Cents → per-day "
        "dollars with one final division"
    ),
)
def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir)
    epoch = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    # consumers: both sides of the pair join
    pts = pin(daily.select("event_type", "close_c", epoch.alias("x")))
    a = pts.select("event_type", F.col("close_c").alias("ya"), F.col("x").alias("xa"))
    b = pts.select("event_type", F.col("close_c").alias("yb"), F.col("x").alias("xb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("xb") > F.col("xa"))
        .select(
            "event_type",
            (
                (F.col("yb") - F.col("ya")) * F.lit(1.0) / (F.col("xb") - F.col("xa"))
            ).alias("slope"),
        )
    )
    # ORDER BY slope alone: ties among equal slopes rank arbitrarily,
    # but the emitted lower-median VALUE is deterministic because equal
    # values are interchangeable across ranks (ADVICE r6 dropped the
    # duplicated no-op second key that faked a unique tie-break)
    w = W.partitionBy("event_type").orderBy("slope")
    wn = W.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return (
        ranked.groupBy("event_type", "n")
        .agg(
            dround(
                F.min(F.when(2 * F.col("rn") >= F.col("n") + 1, F.col("slope")))
                / 100.0,
                6,
            ).alias("theil_sen_slope")
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_slopes"),
            "theil_sen_slope",
        )
    )


# ---------------------------------------------------------------------------
# Wave 37: Mann-Kendall trend test — the significance companion of the
# Theil-Sen slope (same bounded pair fan-out, exact integer S and
# tie-corrected variance numerator, one float division + sqrt)
# ---------------------------------------------------------------------------

_MK_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
pairs AS (
  SELECT a.event_type,
         CASE WHEN b.close_c > a.close_c THEN 1
              WHEN b.close_c < a.close_c THEN -1 ELSE 0 END AS sg
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.day > a.day
),
s AS (SELECT event_type, SUM(sg)::BIGINT AS s_stat FROM pairs GROUP BY 1),
nn AS (SELECT event_type, COUNT(*)::BIGINT AS n FROM daily GROUP BY 1),
ties AS (
  SELECT event_type, SUM(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term
  FROM (
    SELECT event_type, close_c, COUNT(*)::BIGINT AS t
    FROM daily GROUP BY 1, 2
  ) g
  GROUP BY 1
),
v AS (
  SELECT nn.event_type, nn.n, s.s_stat,
         nn.n * (nn.n - 1) * (2 * nn.n + 5) - COALESCE(tie_term, 0) AS var18
  FROM nn JOIN s USING (event_type) LEFT JOIN ties USING (event_type)
)
SELECT event_type, n AS n_days, s_stat,
       ROUND(CASE WHEN s_stat > 0
                  THEN (s_stat - 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                  WHEN s_stat < 0
                  THEN (s_stat + 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                  ELSE 0.0 END, 6) AS z_score
FROM v
"""


@register(
    "stats_mann_kendall",
    _MK_SQL,
    doc=(
        "Mann-Kendall trend test — the nonparametric IS-there-a-trend "
        "companion to events_theil_sen's HOW-steep slope (the pair in "
        "every monitoring stack): S = Σ sign(y_j − y_i) over all "
        "i<j day pairs, the tie-corrected variance "
        "[n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18, and the continuity-"
        "corrected z = (S∓1)/√var. The O(days²) pair fan-out runs "
        "AFTER the daily reduce (the theil_sen discipline — bounded "
        "by the calendar, never tick volume); S, n, and the ×18 "
        "variance numerator are exact integers, so both engines "
        "perform the identical single division + sqrt at the end. "
        "Ties enter via one extra per-(type, price) count — a "
        "partial-aggregated O(days) shuffle"
    ),
)
def stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = pin(_daily_close(spark, sf_dir))  # consumers: both pair sides, n, ties
    a = daily.select(
        "event_type", F.col("close_c").alias("ya"), F.col("day").alias("da")
    )
    b = daily.select(
        "event_type", F.col("close_c").alias("yb"), F.col("day").alias("db")
    )
    s = (
        a.join(b, "event_type")
        .filter(F.col("db") > F.col("da"))
        .select(
            "event_type",
            F.when(F.col("yb") > F.col("ya"), 1)
            .when(F.col("yb") < F.col("ya"), -1)
            .otherwise(0)
            .alias("sg"),
        )
        .groupBy("event_type")
        .agg(F.sum("sg").cast("bigint").alias("s_stat"))
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("event_type", "close_c")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0))
    ).alias("var18")
    v = nn.join(s, "event_type").join(ties, "event_type", "left").select(
        "event_type", "n", "s_stat", var18
    )
    sd = F.sqrt(F.col("var18").cast("double") / 18.0)
    return v.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        "s_stat",
        dround(
            F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd)
            .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
            .otherwise(F.lit(0.0)),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Garman-Klass range volatility (wave 36)
# ---------------------------------------------------------------------------

_GK_C2 = 2.0 * math.log(2.0) - 1.0  # 0.386294…, one shared literal

# daily OHLC in cents (all four fields; the candle-pattern frame)
_DAILY_OHLC_SQL = f"""
dbars AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         arg_min(CAST(ROUND(value * 100, 0) AS BIGINT), {ORDKEY_SQL}) AS o,
         MAX(CAST(ROUND(value * 100, 0) AS BIGINT)) AS h,
         MIN(CAST(ROUND(value * 100, 0) AS BIGINT)) AS l,
         arg_max(CAST(ROUND(value * 100, 0) AS BIGINT), {ORDKEY_SQL}) AS c
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
)"""

_GK_SQL = f"""
WITH {_DAILY_OHLC_SQL},
lns AS (
  SELECT event_type,
         CAST(ROUND(ln(h) * 100000000, 0) AS BIGINT)
           - CAST(ROUND(ln(l) * 100000000, 0) AS BIGINT) AS d_hl,
         CAST(ROUND(ln(c) * 100000000, 0) AS BIGINT)
           - CAST(ROUND(ln(o) * 100000000, 0) AS BIGINT) AS d_co
  FROM dbars WHERE l > 0 AND o > 0
),
per_day AS (
  SELECT event_type,
         CAST(FLOOR((0.5 * CAST(d_hl AS DOUBLE) * CAST(d_hl AS DOUBLE)
                     - {_GK_C2!r} * CAST(d_co AS DOUBLE) * CAST(d_co AS DOUBLE))
                    / 1000000.0) AS BIGINT) AS gk_u
  FROM lns
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(SUM(gk_u) * 1.0 / COUNT(*) / 10000000000.0, 10) AS gk_daily_var,
       ROUND(sqrt(GREATEST(SUM(gk_u) * 1.0 / COUNT(*) / 10000000000.0, 0.0)
                  * 252.0), 6) AS ann_vol
FROM per_day GROUP BY event_type
"""


@register(
    "events_volatility_gk",
    _GK_SQL,
    doc=(
        "Garman-Klass range volatility — the OHLC-based variance "
        "estimator (≈7.4× more efficient than close-to-close) that "
        "completes the kline risk stack beside events_atr/Bollinger: "
        "0.5·ln(H/L)² − (2ln2−1)·ln(C/O)² per day, averaged, "
        "annualized ×252. Each ln rides the once-rounded integer-ln "
        "device (iln(x) on int cents, 1e-8 grid — ln(H/L) expands to "
        "iln(H)−iln(L), an exact int difference), the per-day GK "
        "value is ONE fixed IEEE chain over those ints FLOORED onto "
        "a 1e-10-ln² integer grid, and only then summed — so the "
        "cross-day aggregation is exact integer at any day count. "
        "One OHLC reduce + one aggregation; O(types) output"
    ),
)
def events_volatility_gk(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = (
        _ticks(spark, sf_dir)
        .select(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
            _cents().alias("cent"),
            ordkey().alias("ordkey"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.min_by("cent", "ordkey").alias("o"),
            F.max("cent").alias("h"),
            F.min("cent").alias("l"),
            F.max_by("cent", "ordkey").alias("c"),
        )
        .filter((F.col("l") > 0) & (F.col("o") > 0))
    )

    lns = bars.select(
        "event_type",
        (iln(F.col("h")) - iln(F.col("l"))).alias("d_hl"),
        (iln(F.col("c")) - iln(F.col("o"))).alias("d_co"),
    )
    gk_u = F.floor(
        (
            F.lit(0.5) * F.col("d_hl").cast("double") * F.col("d_hl").cast("double")
            - F.lit(_GK_C2) * F.col("d_co").cast("double") * F.col("d_co").cast("double")
        )
        / F.lit(1000000.0)
    ).cast("bigint")
    per_day = lns.select("event_type", gk_u.alias("gk_u"))
    mean_var = F.sum("gk_u") * F.lit(1.0) / F.count(F.lit(1)) / F.lit(1e10)
    return per_day.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        dround(mean_var, 10).alias("gk_daily_var"),
        dround(F.sqrt(F.greatest(mean_var, F.lit(0.0)) * F.lit(252.0)), 6).alias(
            "ann_vol"
        ),
    )


# ---------------------------------------------------------------------------
# Wave 40: dollar bars — information-driven bar resampling (de Prado):
# bars close on traded VALUE, not wall-clock, so volatile sessions get
# more bars and quiet ones fewer
# ---------------------------------------------------------------------------

_DB_THRESHOLD = 80_000  # cents per bar: ~12 bars/series at sf0.001,
# ~120 at sf0.01 — scale-sensitive row counts at BOTH test SFs (the
# why-degenerate rule); production tunes this to the instrument

_DOLLAR_BARS_SQL = f"""
WITH ticks AS (
  SELECT event_type, ts, event_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         {ORDKEY_SQL} AS ok
  FROM events WHERE event_type IN ('view', 'purchase')
),
cum AS (
  SELECT event_type, c, ok,
         SUM(c) OVER (PARTITION BY event_type ORDER BY ok
                      ROWS UNBOUNDED PRECEDING) - c AS cum_excl
  FROM ticks
),
barred AS (
  SELECT event_type, c, ok, cum_excl // {_DB_THRESHOLD} AS bar
  FROM cum
)
SELECT event_type, CAST(bar AS BIGINT) AS bar,
       COUNT(*)::BIGINT AS n_ticks,
       CAST(SUM(c) AS BIGINT) AS bar_cents,
       arg_min(c, ok) AS open_c,
       MAX(c) AS high_c,
       MIN(c) AS low_c,
       arg_max(c, ok) AS close_c
FROM barred
GROUP BY 1, 2
"""


@register(
    "events_dollar_bars",
    _DOLLAR_BARS_SQL,
    doc=(
        "dollar bars — de Prado's information-driven resampling: a bar "
        "closes every fixed quantum of traded VALUE instead of every "
        "fixed minute, so volatile sessions emit more bars and quiet "
        "ones fewer (time bars over/under-sample exactly when it "
        "matters). bar = exclusive-cumsum(value_cents) // threshold — "
        "ONE ordered window cumsum over the tick stream (exact int64 "
        "cents; the exclusive form puts the tick that CROSSES the "
        "threshold into the bar it completes), then the standard "
        "arg_min/arg_max OHLC reduce per bar. At 100 TB the cumsum "
        "partitions per (instrument, day) — the series per key is a "
        "session, never the corpus; here per event_type, the same "
        "shape. Threshold is cents-integer so bar boundaries are "
        "bit-stable across engines"
    ),
)
def events_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ticks = _ticks(spark, sf_dir).select(
        "event_type", _cents().alias("c"), ordkey().alias("ok")
    )
    wc = (
        W.partitionBy("event_type")
        .orderBy("ok")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # Integer `div` on the bigint cumsum (matching the oracle's `//`):
    # double division loses exactness past 2^53 cumulative cents, so
    # bar boundaries could diverge cross-engine at the 100 TB target
    # (ADVICE r7). Both operands are non-negative, so truncating div
    # == floor div.
    barred = ticks.select(
        "event_type",
        "c",
        "ok",
        (F.sum("c").over(wc) - F.col("c")).alias("cum_excl"),
    ).select(
        "event_type",
        "c",
        "ok",
        F.expr(f"cum_excl div {_DB_THRESHOLD}").alias("bar"),
    )
    return barred.groupBy("event_type", "bar").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        F.sum("c").cast("bigint").alias("bar_cents"),
        F.min_by("c", "ok").alias("open_c"),
        F.max("c").alias("high_c"),
        F.min("c").alias("low_c"),
        F.max_by("c", "ok").alias("close_c"),
    )


# ---------------------------------------------------------------------------
# Wave 41: VPIN — order-flow toxicity over the dollar bars
# ---------------------------------------------------------------------------

_VPIN_W = 5  # trailing bars per VPIN estimate

_VPIN_SQL = f"""
WITH ticks AS (
  SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         {ORDKEY_SQL} AS ok
  FROM events WHERE event_type IN ('view', 'purchase')
),
lagged AS (
  SELECT event_type, c, ok,
         CASE WHEN c > lag(c) OVER w THEN 1
              WHEN c < lag(c) OVER w THEN -1 END AS nz,
         SUM(c) OVER (PARTITION BY event_type ORDER BY ok
                      ROWS UNBOUNDED PRECEDING) - c AS cum_excl
  FROM ticks
  WINDOW w AS (PARTITION BY event_type ORDER BY ok)
),
signed AS (
  SELECT event_type, c, ok, cum_excl,
         COALESCE(last_value(nz IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY ok
                        ROWS UNBOUNDED PRECEDING), 1) AS sgn
  FROM lagged
),
bars AS (
  SELECT event_type, cum_excl // {_DB_THRESHOLD} AS bar,
         SUM(CASE WHEN sgn = 1 THEN c ELSE 0 END)::BIGINT AS buy_c,
         SUM(CASE WHEN sgn = -1 THEN c ELSE 0 END)::BIGINT AS sell_c
  FROM signed GROUP BY 1, 2
),
rolled AS (
  SELECT event_type, CAST(bar AS BIGINT) AS bar, buy_c, sell_c,
         SUM(ABS(buy_c - sell_c)) OVER v AS imb_w,
         SUM(buy_c + sell_c) OVER v AS vol_w,
         COUNT(*) OVER v AS n_w
  FROM bars
  WINDOW v AS (PARTITION BY event_type ORDER BY bar
               ROWS BETWEEN {_VPIN_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, bar, buy_c, sell_c,
       ROUND(imb_w * 1.0 / vol_w, 6) AS vpin
FROM rolled WHERE n_w = {_VPIN_W}
"""


@register(
    "events_vpin",
    _VPIN_SQL,
    doc=(
        "VPIN — volume-synchronized probability of informed trading "
        "(Easley/López de Prado/O'Hara), the order-flow toxicity "
        "gauge that flash-crash monitors run: ticks classify buy/sell "
        "by the tick rule (up-tick → buy, down-tick → sell, "
        "unchanged carries the last direction — one "
        "last_value-ignore-nulls window, exact), volume buckets are "
        "the events_dollar_bars assignment (exclusive int-cents "
        "cumsum // the SAME threshold constant), and VPIN = "
        "Σ|buy−sell| / Σvol over a trailing {w}-bar frame — every "
        "accumulator an exact int64, ONE division per emitted row. "
        "Both tick-level windows (sign carry + cumsum) share one "
        "partition/order → one Window node over the tick stream; at "
        "scale both partition per (instrument, day) like the bars "
        "themselves".format(w=_VPIN_W)
    ),
)
def events_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ticks = _ticks(spark, sf_dir).select(
        "event_type", _cents().alias("c"), ordkey().alias("ok")
    )
    wo = W.partitionBy("event_type").orderBy("ok")
    wc = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    d = F.col("c") - F.lag("c").over(wo)
    nz = F.when(d > 0, 1).when(d < 0, -1)
    # Integer `div` matching the oracle's `//` — see events_dollar_bars
    # (double division is inexact past 2^53 cumulative cents).
    signed = ticks.select(
        "event_type",
        "c",
        F.coalesce(F.last(nz, ignorenulls=True).over(wc), F.lit(1)).alias("sgn"),
        (F.sum("c").over(wc) - F.col("c")).alias("cum_excl"),
    ).select(
        "event_type",
        "c",
        "sgn",
        F.expr(f"cum_excl div {_DB_THRESHOLD}").alias("bar"),
    )
    bars = signed.groupBy("event_type", "bar").agg(
        F.sum(F.when(F.col("sgn") == 1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("buy_c"),
        F.sum(F.when(F.col("sgn") == -1, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("sell_c"),
    )
    wv = (
        W.partitionBy("event_type")
        .orderBy("bar")
        .rowsBetween(-(_VPIN_W - 1), 0)
    )
    rolled = bars.select(
        "event_type",
        F.col("bar").cast("bigint").alias("bar"),
        "buy_c",
        "sell_c",
        F.sum(F.abs(F.col("buy_c") - F.col("sell_c"))).over(wv).alias("imb_w"),
        F.sum(F.col("buy_c") + F.col("sell_c")).over(wv).alias("vol_w"),
        F.count(F.lit(1)).over(wv).alias("n_w"),
    )
    return rolled.filter(F.col("n_w") == _VPIN_W).select(
        "event_type",
        "bar",
        "buy_c",
        "sell_c",
        dround(F.col("imb_w") * F.lit(1.0) / F.col("vol_w"), 6).alias("vpin"),
    )


# ---------------------------------------------------------------------------
# Wave 43: Hodges-Lehmann pseudo-median — the robust location estimator
# (companion of theil_sen's robust slope and mann_kendall's trend test)
# ---------------------------------------------------------------------------

_HL_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
walsh AS (
  SELECT a.event_type, a.close_c + b.close_c AS w2
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type
   AND (b.day > a.day OR (b.day = a.day))
),
ranked AS (
  SELECT event_type, w2,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY w2) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM walsh
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_walsh,
       ROUND(MIN(CASE WHEN 2 * rn >= n + 1 THEN w2 END) / 200.0, 6)
         AS hl_estimate
FROM ranked
GROUP BY event_type, n
"""


@register(
    "stats_hodges_lehmann",
    _HL_SQL,
    doc=(
        "Hodges-Lehmann pseudo-median — the robust location estimator "
        "associated with the Wilcoxon signed-rank test (29% breakdown, "
        "~95% Gaussian efficiency vs the mean's 0% breakdown and the "
        "median's 64%): the median of all Walsh averages "
        "(x_i + x_j)/2 over i ≤ j day pairs. Same scale shape as "
        "events_theil_sen: the O(days²) pair fan-out runs AFTER the "
        "daily reduce (calendar-bounded), each Walsh average stays "
        "the exact INTEGER x_i + x_j (the /2 deferred to the single "
        "emit division — ranking integers needs no float at all), "
        "and the median is the lower-median integer rank pick "
        "2·rn ≥ n+1. i ≤ j includes self-pairs, the one-sample HL "
        "convention"
    ),
)
def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = pin(_daily_close(spark, sf_dir))
    a = daily.select(
        "event_type", F.col("close_c").alias("ya"), F.col("day").alias("da")
    )
    b = daily.select(
        "event_type", F.col("close_c").alias("yb"), F.col("day").alias("db")
    )
    walsh = (
        a.join(b, "event_type")
        .filter(F.col("db") >= F.col("da"))
        .select("event_type", (F.col("ya") + F.col("yb")).alias("w2"))
    )
    wr = W.partitionBy("event_type").orderBy("w2")
    wn = W.partitionBy("event_type")
    ranked = walsh.select(
        "event_type",
        "w2",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return (
        ranked.groupBy("event_type", "n")
        .agg(
            dround(
                F.min(F.when(2 * F.col("rn") >= F.col("n") + 1, F.col("w2")))
                / 200.0,
                6,
            ).alias("hl_estimate")
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_walsh"),
            "hl_estimate",
        )
    )


# ---------------------------------------------------------------------------
# Wave 44: Roll implied spread + pairs-trading spread z-score — the
# microstructure pair completing VPIN (toxicity), GK (volatility)
# ---------------------------------------------------------------------------

_ROLL_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
delta AS (
  SELECT event_type, day, close_c - lag(close_c) OVER w AS d
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
paired AS (
  SELECT event_type, d, lag(d) OVER (PARTITION BY event_type ORDER BY day) AS d_prev
  FROM delta
),
pairs AS (
  SELECT event_type, d, d_prev FROM paired WHERE d_prev IS NOT NULL
),
s AS (
  SELECT event_type,
         COUNT(*)::HUGEINT AS m,
         SUM(d)::HUGEINT AS sx, SUM(d_prev)::HUGEINT AS sy,
         SUM(CAST(d AS HUGEINT) * d_prev) AS sxy
  FROM pairs GROUP BY 1
)
SELECT event_type,
       CAST(m AS BIGINT) AS n_pairs,
       ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
             / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) / 10000.0, 6)
         AS autocov_dollars2,
       CASE WHEN m * sxy - sx * sy < 0
            THEN ROUND(2.0 * sqrt(-(CAST(m * sxy - sx * sy AS DOUBLE)
                                    / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE))))
                       / 100.0, 6)
       END AS roll_spread
FROM s
"""


@register(
    "events_roll_spread",
    _ROLL_SQL,
    doc=(
        "Roll's implied bid-ask spread (Roll 1984) — the spread you "
        "can estimate WITHOUT quote data: bid-ask bounce makes "
        "consecutive price changes negatively autocorrelated, and "
        "spread = 2·√(−cov(Δp_t, Δp_{{t−1}})). Serial covariance "
        "over the daily close changes: two stacked lag windows build "
        "the (Δ, Δ_prev) pairs on the reduced daily frame, the three "
        "covariance moments are exact 128-bit integer sums, and the "
        "population covariance + spread are fixed IEEE chains with "
        "the sign guard (positive autocovariance → NULL spread, the "
        "estimator's documented undefined region — no NaN lanes). "
        "Companion of events_vpin (toxicity) and events_volatility_gk "
        "(volatility) in the microstructure family"
    ),
)
def events_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir)
    wo = W.partitionBy("event_type").orderBy("day")
    d = (F.col("close_c") - F.lag("close_c").over(wo)).alias("d")
    delta = daily.select("event_type", "day", d)
    pairs = delta.select(
        "event_type", "d", F.lag("d").over(wo.orderBy("day")).alias("d_prev")
    ).filter(F.col("d_prev").isNotNull())
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum("d").cast("decimal(38,0)").alias("sx"),
        F.sum("d_prev").cast("decimal(38,0)").alias("sy"),
        F.sum((F.col("d").cast("decimal(19,0)") * F.col("d_prev")).cast("decimal(26,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    md = F.col("m").cast("double")
    cov = num.cast("double") / (md * md)
    return s.select(
        "event_type",
        F.col("m").cast("bigint").alias("n_pairs"),
        dround(cov / 10000.0, 6).alias("autocov_dollars2"),
        F.when(num < 0, dround(F.lit(2.0) * F.sqrt(-cov) / 100.0, 6)).alias(
            "roll_spread"
        ),
    )


_PAIRS_Z_W = 7  # trailing days per z-score frame

_PAIRS_Z_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
aligned AS (
  SELECT v.day, v.close_c - p.close_c AS spread_c
  FROM (SELECT day, close_c FROM daily WHERE event_type = 'view') v
  JOIN (SELECT day, close_c FROM daily WHERE event_type = 'purchase') p
    ON p.day = v.day
),
framed AS (
  SELECT day, spread_c,
         COUNT(*) OVER v AS n,
         SUM(spread_c) OVER v AS s1,
         SUM(CAST(spread_c AS HUGEINT) * spread_c) OVER v AS s2
  FROM aligned
  WINDOW v AS (ORDER BY day ROWS BETWEEN {_PAIRS_Z_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT day, CAST(spread_c AS BIGINT) AS spread_c,
       ROUND((n * spread_c - s1)
             / sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)), 6) AS zscore
FROM framed
WHERE n = {_PAIRS_Z_W} AND n * s2 - CAST(s1 AS HUGEINT) * s1 > 0
"""


@register(
    "events_pairs_spread_zscore",
    _PAIRS_Z_SQL,
    doc=(
        "pairs-trading spread monitor — the mean-reversion signal "
        "behind statistical arbitrage: the view/purchase close spread "
        "(two series aligned on day by ONE equi-join of the reduced "
        "daily frames), then a trailing-{w}-day z-score computed "
        "WITHOUT any running float: the algebraic identity "
        "z = (n·s − Σs) / √(n·Σs² − (Σs)²) turns the rolling "
        "mean/std into three exact integer window sums (one shared "
        "rows-frame) and a single division-by-sqrt per row. "
        "Zero-variance frames drop via the integer radicand guard — "
        "no NaN lanes. At scale: per-pair partitioning, the window "
        "over the reduced daily frame"
    ).format(w=_PAIRS_Z_W),
)
def events_pairs_spread_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = pin(_daily_close(spark, sf_dir))
    v = daily.filter(F.col("event_type") == "view").select(
        "day", F.col("close_c").alias("vc")
    )
    p = daily.filter(F.col("event_type") == "purchase").select(
        "day", F.col("close_c").alias("pc")
    )
    aligned = v.join(p, "day").select(
        "day", (F.col("vc") - F.col("pc")).alias("spread_c")
    )
    wv = W.orderBy("day").rowsBetween(-(_PAIRS_Z_W - 1), 0)
    framed = aligned.select(
        "day",
        "spread_c",
        F.count(F.lit(1)).over(wv).alias("n"),
        F.sum("spread_c").over(wv).alias("s1"),
        F.sum(
            (F.col("spread_c").cast("decimal(19,0)") * F.col("spread_c")).cast(
                "decimal(26,0)"
            )
        )
        .over(wv)
        .alias("s2"),
    )
    rad = (
        F.col("n").cast("decimal(38,0)") * F.col("s2")
        - F.col("s1").cast("decimal(38,0)") * F.col("s1")
    )
    return framed.filter(
        (F.col("n") == _PAIRS_Z_W) & (rad > 0)
    ).select(
        "day",
        F.col("spread_c").cast("bigint").alias("spread_c"),
        dround(
            (F.col("n") * F.col("spread_c") - F.col("s1"))
            / F.sqrt(rad.cast("double")),
            6,
        ).alias("zscore"),
    )


# ---------------------------------------------------------------------------
# Wave 45: variance-ratio random-walk test + Hurst exponent (R/S) — the
# long-memory pair: is the close series a random walk, and how rough?
# ---------------------------------------------------------------------------

_VR_K = 5  # aggregation horizon (days) for the variance ratio
# homoskedastic asymptotic variance coefficient 2(2k-1)(k-1)/(3k)
_VR_COEF = 2.0 * (2 * _VR_K - 1) * (_VR_K - 1) / (3.0 * _VR_K)

_ILN_SQL = "CAST(ROUND(ln(close_c) * 100000000, 0) AS BIGINT)"

_VR_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
ret AS (
  SELECT event_type, day,
         {_ILN_SQL} - lag({_ILN_SQL}) OVER w AS r
  FROM daily WHERE close_c > 0
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
r1 AS (SELECT event_type, day, r FROM ret WHERE r IS NOT NULL),
rk AS (
  SELECT event_type, r,
         SUM(r) OVER v AS rks, COUNT(*) OVER v AS m
  FROM r1
  WINDOW v AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {_VR_K - 1} PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT event_type,
         COUNT(*)::HUGEINT AS n1, SUM(r)::HUGEINT AS s1,
         SUM(CAST(r AS HUGEINT) * r) AS q1,
         COUNT(*) FILTER (WHERE m = {_VR_K})::HUGEINT AS nk,
         SUM(rks) FILTER (WHERE m = {_VR_K})::HUGEINT AS sk,
         SUM(CAST(rks AS HUGEINT) * rks) FILTER (WHERE m = {_VR_K}) AS qk
  FROM rk GROUP BY 1
),
v AS (
  SELECT event_type, n1,
         (CAST(nk * qk - sk * sk AS DOUBLE)
          / (CAST(nk AS DOUBLE) * CAST(nk AS DOUBLE)))
         / ({_VR_K}.0 * (CAST(n1 * q1 - s1 * s1 AS DOUBLE)
                         / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)))) AS vr_raw
  FROM s WHERE n1 * q1 - s1 * s1 > 0 AND nk > 0
)
SELECT event_type, CAST(n1 AS BIGINT) AS n_ret,
       ROUND(vr_raw, 6) AS vr,
       ROUND((vr_raw - 1.0) / sqrt({_VR_COEF!r} / CAST(n1 AS DOUBLE)), 6) AS z_homo
FROM v
"""


@register(
    "events_variance_ratio",
    _VR_SQL,
    doc=(
        "Lo-MacKinlay variance-ratio test — the classic random-walk "
        "diagnostic: under a random walk, the variance of k-day "
        "log returns is exactly k x the 1-day variance, so "
        "VR(k) = Var(r_k)/(k Var(r_1)) departs from 1 under "
        "mean-reversion (<1) or momentum (>1). Daily log returns on "
        "the once-rounded 1e-8 integer-ln grid (iln(close_t) - "
        "iln(close_t-1), exact int), overlapping k-sums from ONE "
        "rows-frame window, and all five moments (n,S,Q x 1-day and "
        "k-day) as exact 128-bit integer sums; VR and the "
        "homoskedastic z-statistic are a single fixed IEEE chain at "
        "emit. Zero-variance series drop via the integer radicand "
        "guard. At scale: per-instrument partitioning, every window "
        "over the O(days) reduced frame"
    ),
)
def events_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir).filter(F.col("close_c") > 0)
    wo = W.partitionBy("event_type").orderBy("day")
    ln_c = iln("close_c")
    ret = daily.select(
        "event_type", "day", (ln_c - F.lag(ln_c).over(wo)).alias("r")
    ).filter(F.col("r").isNotNull())
    wv = wo.rowsBetween(-(_VR_K - 1), 0)
    rk = ret.select(
        "event_type",
        "r",
        F.sum("r").over(wv).alias("rks"),
        F.count(F.lit(1)).over(wv).alias("m"),
    )
    full = F.col("m") == _VR_K
    s = rk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n1"),
        F.sum("r").cast("decimal(38,0)").alias("s1"),
        F.sum((F.col("r").cast("decimal(19,0)") * F.col("r")).cast("decimal(26,0)"))
        .cast("decimal(38,0)")
        .alias("q1"),
        F.count(F.when(full, F.lit(1))).cast("decimal(38,0)").alias("nk"),
        F.sum(F.when(full, F.col("rks"))).cast("decimal(38,0)").alias("sk"),
        F.sum(
            F.when(
                full,
                (F.col("rks").cast("decimal(19,0)") * F.col("rks")).cast(
                    "decimal(26,0)"
                ),
            )
        )
        .cast("decimal(38,0)")
        .alias("qk"),
    )
    n1d = F.col("n1").cast("double")
    nkd = F.col("nk").cast("double")
    rad1 = F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1")
    radk = F.col("nk") * F.col("qk") - F.col("sk") * F.col("sk")
    vr_raw = (radk.cast("double") / (nkd * nkd)) / (
        F.lit(float(_VR_K)) * (rad1.cast("double") / (n1d * n1d))
    )
    return s.filter((rad1 > 0) & (F.col("nk") > 0)).select(
        "event_type",
        F.col("n1").cast("bigint").alias("n_ret"),
        dround(vr_raw, 6).alias("vr"),
        dround((vr_raw - F.lit(1.0)) / F.sqrt(F.lit(_VR_COEF) / n1d), 6).alias(
            "z_homo"
        ),
    )


_HURST_NS = (7, 14, 28)  # ln-2-spaced block sizes (29 returns at any SF)
_HURST_DEN = 2.0 * math.log(2.0) * 100000000.0  # (y_28 - y_7) / this

_HURST_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
ret AS (
  SELECT event_type, day,
         {_ILN_SQL} - lag({_ILN_SQL}) OVER w AS r,
         row_number() OVER w AS rn
  FROM daily WHERE close_c > 0
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
r1 AS (
  SELECT event_type, r, rn - 1 AS rn FROM ret WHERE r IS NOT NULL
),
blocked AS (
  SELECT event_type, ns.n, r, rn,
         (rn - 1) // ns.n AS blk,
         rn - ((rn - 1) // ns.n) * ns.n AS t
  FROM r1 CROSS JOIN (VALUES (7), (14), (28)) AS ns(n)
),
cumdev AS (
  SELECT event_type, n, blk,
         COUNT(*) OVER b AS sz,
         CAST(n AS HUGEINT) * SUM(r) OVER (b ORDER BY rn
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - CAST(t AS HUGEINT) * SUM(r) OVER b AS dev,
         SUM(r) OVER b AS sb,
         SUM(CAST(r AS HUGEINT) * r) OVER b AS qb
  FROM blocked
  WINDOW b AS (PARTITION BY event_type, n, blk)
),
per_block AS (
  SELECT event_type, n,
         CAST(FLOOR(CAST(MAX(dev) - MIN(dev) AS DOUBLE)
                    / sqrt(CAST(n::HUGEINT * ANY_VALUE(qb)
                                - ANY_VALUE(sb) * ANY_VALUE(sb) AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS rs_u
  FROM cumdev
  WHERE sz = n
  GROUP BY event_type, n, blk
  HAVING n::HUGEINT * ANY_VALUE(qb) - ANY_VALUE(sb) * ANY_VALUE(sb) > 0
),
per_n AS (
  SELECT event_type, n,
         CAST(COUNT(*) AS BIGINT) AS b,
         SUM(rs_u) * 1.0 / COUNT(*) / 1000000.0 AS rs_avg
  FROM per_block GROUP BY 1, 2
),
pivoted AS (
  SELECT event_type,
         MAX(CASE WHEN n = 7 THEN rs_avg END) AS rs7,
         MAX(CASE WHEN n = 14 THEN rs_avg END) AS rs14,
         MAX(CASE WHEN n = 28 THEN rs_avg END) AS rs28,
         CAST(SUM(b) AS BIGINT) AS n_blocks
  FROM per_n GROUP BY 1
)
SELECT event_type, n_blocks,
       ROUND(rs7, 6) AS rs7, ROUND(rs14, 6) AS rs14, ROUND(rs28, 6) AS rs28,
       ROUND(CAST(CAST(ROUND(ln(rs28) * 100000000, 0) AS BIGINT)
                  - CAST(ROUND(ln(rs7) * 100000000, 0) AS BIGINT) AS DOUBLE)
             / {_HURST_DEN!r}, 6) AS hurst
FROM pivoted WHERE rs7 > 0 AND rs28 > 0
"""

@register(
    "events_hurst_exponent",
    _HURST_SQL,
    doc=(
        "Hurst exponent via rescaled-range (R/S) analysis — the "
        "long-memory profile of the close series (H=0.5 random walk, "
        ">0.5 trending, <0.5 mean-reverting), the fractal complement "
        "of events_variance_ratio's point test. Daily log returns on "
        "the 1e-8 integer-ln grid fan out x3 against the ln-2-spaced "
        "literal block sizes (7,14,28); within each full block the "
        "mean-adjusted cumulative deviation rides an ALL-INTEGER "
        "device (n*cum_t - t*S_blk, exact), so R/S per block is one "
        "division by one sqrt of an integer radicand, FLOORED onto a "
        "1e-6 grid before the cross-block average (exact integer "
        "fold, no float summation order). H = (ln RS(28) - ln RS(7)) "
        "/ (2 ln 2) on the integer-ln grid — the two-point slope the "
        "ln-2 spacing makes exact. At scale: constant 3x fan-out, "
        "every window partitioned (instrument, n, block) over the "
        "O(days) reduced frame"
    ),
)
def events_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir).filter(F.col("close_c") > 0)
    wo = W.partitionBy("event_type").orderBy("day")
    ln_c = iln("close_c")
    ret = (
        daily.select(
            "event_type",
            "day",
            (ln_c - F.lag(ln_c).over(wo)).alias("r"),
            F.row_number().over(wo).alias("rn"),
        )
        .filter(F.col("r").isNotNull())
        .select("event_type", "r", (F.col("rn") - 1).alias("rn"))
    )
    ns = spark.createDataFrame([(n,) for n in _HURST_NS], "n int")
    blk = F.floor((F.col("rn") - 1) / F.col("n"))
    blocked = ret.crossJoin(F.broadcast(ns)).select(
        "event_type",
        "n",
        "r",
        "rn",
        blk.alias("blk"),
        (F.col("rn") - blk * F.col("n")).alias("t"),
    )
    wb = W.partitionBy("event_type", "n", "blk")
    wcum = wb.orderBy("rn").rowsBetween(W.unboundedPreceding, 0)
    cumdev = blocked.select(
        "event_type",
        "n",
        "blk",
        F.count(F.lit(1)).over(wb.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("sz"),
        (
            F.col("n").cast("decimal(38,0)") * F.sum("r").over(wcum).cast("decimal(19,0)")
            - F.col("t").cast("decimal(38,0)") * F.sum("r").over(wb.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).cast("decimal(19,0)")
        ).alias("dev"),
        F.sum("r").over(wb.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("sb"),
        F.sum(
            (F.col("r").cast("decimal(19,0)") * F.col("r")).cast("decimal(26,0)")
        )
        .over(wb.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("qb"),
    )
    per_block = (
        cumdev.filter(F.col("sz") == F.col("n"))
        .groupBy("event_type", "n", "blk")
        .agg(
            F.floor(
                (F.max("dev") - F.min("dev")).cast("double")
                / F.sqrt(
                    (
                        F.first("n").cast("decimal(38,0)")
                        * F.first("qb").cast("decimal(38,0)")
                        - F.first("sb").cast("decimal(38,0)")
                        * F.first("sb").cast("decimal(38,0)")
                    ).cast("double")
                )
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("rs_u"),
            (
                F.first("n").cast("decimal(38,0)")
                * F.first("qb").cast("decimal(38,0)")
                - F.first("sb").cast("decimal(38,0)")
                * F.first("sb").cast("decimal(38,0)")
            ).alias("rad"),
        )
        .filter(F.col("rad") > 0)
    )
    per_n = per_block.groupBy("event_type", "n").agg(
        F.count(F.lit(1)).alias("b"),
        (F.sum("rs_u") * F.lit(1.0) / F.count(F.lit(1)) / F.lit(1000000.0)).alias(
            "rs_avg"
        ),
    )
    pivoted = per_n.groupBy("event_type").agg(
        F.max(F.when(F.col("n") == 7, F.col("rs_avg"))).alias("rs7_raw"),
        F.max(F.when(F.col("n") == 14, F.col("rs_avg"))).alias("rs14_raw"),
        F.max(F.when(F.col("n") == 28, F.col("rs_avg"))).alias("rs28_raw"),
        F.sum("b").cast("bigint").alias("n_blocks"),
    )
    return pivoted.filter((F.col("rs7_raw") > 0) & (F.col("rs28_raw") > 0)).select(
        "event_type",
        "n_blocks",
        dround(F.col("rs7_raw"), 6).alias("rs7"),
        dround(F.col("rs14_raw"), 6).alias("rs14"),
        dround(F.col("rs28_raw"), 6).alias("rs28"),
        dround(
            (iln(F.col("rs28_raw")) - iln(F.col("rs7_raw"))).cast("double")
            / F.lit(_HURST_DEN),
            6,
        ).alias("hurst"),
    )


# ---------------------------------------------------------------------------
# Wave 47: EWMA volatility (RiskMetrics) + permutation entropy — the
# smoothed-risk and complexity rows of the daily-series family
# ---------------------------------------------------------------------------

_EWMA_LAMBDA = 0.94  # RiskMetrics decay
_EWMA_LAGS = 15  # truncation; adjust-form normalization makes it exact


def _ewma_terms() -> tuple[str, str]:
    ws = [(_EWMA_LAMBDA) ** i for i in range(_EWMA_LAGS)]
    num = " + ".join(
        f"COALESCE(CAST(lag(r2, {i}) OVER w AS DOUBLE), 0.0) * {w!r}"
        for i, w in enumerate(ws)
    )
    # CAST the weight literal to DOUBLE: DuckDB parses bare decimal
    # literals as DECIMAL, and 15 scale-16 decimal adds overflow
    # DECIMAL(18) — the double chain is also what Spark computes
    den = " + ".join(
        f"(CASE WHEN lag(r2, {i}) OVER w IS NOT NULL"
        f" THEN CAST({w!r} AS DOUBLE) ELSE 0.0 END)"
        for i, w in enumerate(ws)
    )
    return num, den


_EWMA_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
ret AS (
  SELECT event_type, day,
         {_ILN_SQL} - lag({_ILN_SQL}) OVER v AS r
  FROM daily WHERE close_c > 0
  WINDOW v AS (PARTITION BY event_type ORDER BY day)
),
r2s AS (
  SELECT event_type, day, CAST(r AS HUGEINT) * r AS r2
  FROM ret WHERE r IS NOT NULL
)
SELECT event_type, day,
       ROUND(sqrt(({_ewma_terms()[0]}) / ({_ewma_terms()[1]}))
             / 100000000.0, 10) AS ewma_vol,
       ROUND(sqrt(({_ewma_terms()[0]}) / ({_ewma_terms()[1]})
                  * 252.0) / 100000000.0, 10) AS ann_vol
FROM r2s
WINDOW w AS (PARTITION BY event_type ORDER BY day)
"""


@register(
    "events_ewma_volatility",
    _EWMA_SQL,
    doc=(
        "EWMA volatility (RiskMetrics lambda=0.94) — the industry-"
        "standard smoothed risk estimate between the rolling-window "
        "stddev and GARCH: sigma2_t = sum w_i r2_(t-i) / sum w_i over "
        "the lags that exist (adjust form — truncation tail and "
        "series head are handled by the SAME normalization, the "
        "events_ema device pointed at squared returns). Returns ride "
        "the 1e-8 integer-ln grid, each r2 is an exact 128-bit "
        "integer, the 15 lag weights are Python-float literals "
        "injected into BOTH engines, and the two weighted sums chain "
        "left-associatively in lag order — bit-identical doubles. "
        "One window exchange over the O(days*types) reduced frame; "
        "the 15 lags share a single frame"
    ),
)
def events_ewma_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir).filter(F.col("close_c") > 0)
    wo = W.partitionBy("event_type").orderBy("day")
    ln_c = iln("close_c")
    r2s = (
        daily.select(
            "event_type", "day", (ln_c - F.lag(ln_c).over(wo)).alias("r")
        )
        .filter(F.col("r").isNotNull())
        .select(
            "event_type",
            "day",
            (F.col("r").cast("decimal(19,0)") * F.col("r"))
            .cast("decimal(38,0)")
            .alias("r2"),
        )
    )
    ws = [(_EWMA_LAMBDA) ** i for i in range(_EWMA_LAGS)]
    num = None
    den = None
    for i, w in enumerate(ws):
        lagged = F.lag("r2", i).over(wo)
        term_n = F.coalesce(lagged.cast("double"), F.lit(0.0)) * F.lit(w)
        term_d = F.when(lagged.isNotNull(), F.lit(w)).otherwise(F.lit(0.0))
        num = term_n if num is None else num + term_n
        den = term_d if den is None else den + term_d
    var_u = num / den
    return r2s.select(
        "event_type",
        "day",
        dround(F.sqrt(var_u) / F.lit(100000000.0), 10).alias("ewma_vol"),
        dround(F.sqrt(var_u * F.lit(252.0)) / F.lit(100000000.0), 10).alias(
            "ann_vol"
        ),
    )


# ordinal-pattern code for the triple (x0, x1, x2): three pairwise
# comparisons (ties resolve toward time order — the stable-argsort rule)
_PE_NORM = math.log(6.0)  # 6 feasible patterns of m=3

_PE_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
tri AS (
  SELECT event_type,
         lag(close_c, 2) OVER w AS x0,
         lag(close_c, 1) OVER w AS x1,
         close_c AS x2
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
coded AS (
  SELECT event_type,
         4 * (CASE WHEN x1 < x0 THEN 1 ELSE 0 END)
         + 2 * (CASE WHEN x2 < x0 THEN 1 ELSE 0 END)
         + (CASE WHEN x2 < x1 THEN 1 ELSE 0 END) AS code
  FROM tri WHERE x0 IS NOT NULL
),
counts AS (
  SELECT event_type,
         COUNT(*)::BIGINT AS n,
         COUNT(*) FILTER (WHERE code = 0)::BIGINT AS c0,
         COUNT(*) FILTER (WHERE code = 1)::BIGINT AS c1,
         COUNT(*) FILTER (WHERE code = 2)::BIGINT AS c2,
         COUNT(*) FILTER (WHERE code = 3)::BIGINT AS c3,
         COUNT(*) FILTER (WHERE code = 4)::BIGINT AS c4,
         COUNT(*) FILTER (WHERE code = 6)::BIGINT AS c6,
         COUNT(*) FILTER (WHERE code = 7)::BIGINT AS c7
  FROM coded GROUP BY 1
)
SELECT event_type, n, c0, c1, c2, c3, c4, c6, c7,
       ROUND(-(
         (CASE WHEN c0 > 0 THEN CAST(c0 AS DOUBLE) / n * ln(CAST(c0 AS DOUBLE) / n) ELSE 0.0 END)
         + (CASE WHEN c1 > 0 THEN CAST(c1 AS DOUBLE) / n * ln(CAST(c1 AS DOUBLE) / n) ELSE 0.0 END)
         + (CASE WHEN c2 > 0 THEN CAST(c2 AS DOUBLE) / n * ln(CAST(c2 AS DOUBLE) / n) ELSE 0.0 END)
         + (CASE WHEN c3 > 0 THEN CAST(c3 AS DOUBLE) / n * ln(CAST(c3 AS DOUBLE) / n) ELSE 0.0 END)
         + (CASE WHEN c4 > 0 THEN CAST(c4 AS DOUBLE) / n * ln(CAST(c4 AS DOUBLE) / n) ELSE 0.0 END)
         + (CASE WHEN c6 > 0 THEN CAST(c6 AS DOUBLE) / n * ln(CAST(c6 AS DOUBLE) / n) ELSE 0.0 END)
         + (CASE WHEN c7 > 0 THEN CAST(c7 AS DOUBLE) / n * ln(CAST(c7 AS DOUBLE) / n) ELSE 0.0 END)
       ), 6) AS entropy,
       ROUND(-(
         (CASE WHEN c0 > 0 THEN CAST(c0 AS DOUBLE) / n * ln(CAST(c0 AS DOUBLE) / n) ELSE 0.0 END)
         + (CASE WHEN c1 > 0 THEN CAST(c1 AS DOUBLE) / n * ln(CAST(c1 AS DOUBLE) / n) ELSE 0.0 END)
         + (CASE WHEN c2 > 0 THEN CAST(c2 AS DOUBLE) / n * ln(CAST(c2 AS DOUBLE) / n) ELSE 0.0 END)
         + (CASE WHEN c3 > 0 THEN CAST(c3 AS DOUBLE) / n * ln(CAST(c3 AS DOUBLE) / n) ELSE 0.0 END)
         + (CASE WHEN c4 > 0 THEN CAST(c4 AS DOUBLE) / n * ln(CAST(c4 AS DOUBLE) / n) ELSE 0.0 END)
         + (CASE WHEN c6 > 0 THEN CAST(c6 AS DOUBLE) / n * ln(CAST(c6 AS DOUBLE) / n) ELSE 0.0 END)
         + (CASE WHEN c7 > 0 THEN CAST(c7 AS DOUBLE) / n * ln(CAST(c7 AS DOUBLE) / n) ELSE 0.0 END)
       ) / {_PE_NORM!r}, 6) AS pe_normalized
FROM counts
"""


@register(
    "events_permutation_entropy",
    _PE_SQL,
    doc=(
        "permutation entropy (Bandt-Pompe, m=3) — the ordinal-pattern "
        "complexity measure: each consecutive close triple maps to "
        "one of 6 feasible order patterns via THREE integer "
        "comparisons (ties resolve toward time order — the stable-"
        "argsort rule; the transitivity-violating codes 2 and 5 "
        "cannot occur — c2 stays as an always-zero honesty column), "
        "counts pivot into COLUMNS so the Shannon entropy is "
        "ONE fixed left-associative IEEE chain over literal terms — "
        "never a float fold over rows. Normalized by ln(6). "
        "O(types) output; one window + one partial-aggregated "
        "count shuffle over the reduced daily frame"
    ),
)
def events_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir)
    wo = W.partitionBy("event_type").orderBy("day")
    tri = daily.select(
        "event_type",
        F.lag("close_c", 2).over(wo).alias("x0"),
        F.lag("close_c", 1).over(wo).alias("x1"),
        F.col("close_c").alias("x2"),
    ).filter(F.col("x0").isNotNull())
    b = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    coded = tri.select(
        "event_type",
        (
            F.lit(4) * b(F.col("x1") < F.col("x0"))
            + F.lit(2) * b(F.col("x2") < F.col("x0"))
            + b(F.col("x2") < F.col("x1"))
        ).alias("code"),
    )
    cnt = lambda k: F.count(F.when(F.col("code") == k, F.lit(1))).cast(  # noqa: E731
        "bigint"
    ).alias(f"c{k}")
    counts = coded.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        cnt(0), cnt(1), cnt(2), cnt(3), cnt(4), cnt(6), cnt(7),
    )
    nd = F.col("n").cast("double")

    def term(k: int) -> F.Column:
        c = F.col(f"c{k}").cast("double")
        return F.when(
            F.col(f"c{k}") > 0, c / nd * F.log(c / nd)
        ).otherwise(F.lit(0.0))

    h = -(
        term(0) + term(1) + term(2) + term(3) + term(4) + term(6) + term(7)
    )
    return counts.select(
        "event_type", "n", "c0", "c1", "c2", "c3", "c4", "c6", "c7",
        dround(h, 6).alias("entropy"),
        dround(h / F.lit(_PE_NORM), 6).alias("pe_normalized"),
    )


# ---------------------------------------------------------------------------
# Wave 49: Amihud illiquidity — price impact per traded dollar, the
# liquidity row completing the microstructure family
# ---------------------------------------------------------------------------

_AMIHUD_SCALE = 1000000000000  # |r|*1e12 // dv_c ~= ratio * 1e18 grid

_AMIHUD_SQL = f"""
WITH daily2 AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         arg_max(CAST(ROUND(value * 100, 0) AS BIGINT), {ORDKEY_SQL}) AS close_c,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS dv_c
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
ret AS (
  SELECT event_type, day, dv_c,
         CAST(ROUND(ln(close_c) * 100000000, 0) AS BIGINT)
           - lag(CAST(ROUND(ln(close_c) * 100000000, 0) AS BIGINT)) OVER w AS r
  FROM daily2 WHERE close_c > 0
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
ratio AS (
  SELECT event_type,
         (CAST(ABS(r) AS HUGEINT) * {_AMIHUD_SCALE}) // dv_c AS ratio_u
  FROM ret WHERE r IS NOT NULL AND dv_c > 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(ratio_u) AS BIGINT) AS illiq_u,
       ROUND(SUM(ratio_u) * 1.0 / COUNT(*) / 1000000000000.0, 8) AS illiq_x1e6
FROM ratio GROUP BY event_type
"""


@register(
    "events_amihud_illiquidity",
    _AMIHUD_SQL,
    doc=(
        "Amihud (2002) illiquidity — average |daily return| per "
        "traded dollar, THE standard price-impact proxy and the "
        "liquidity row beside events_vpin (toxicity), "
        "events_roll_spread (spread) and events_volatility_gk "
        "(risk): one partial-aggregated daily reduce carries BOTH "
        "the close (arg_max by the shared ordkey) and the dollar "
        "volume, returns ride the 1e-8 integer-ln grid, and each "
        "day's ratio floors onto an integer grid via 128-bit "
        "(|r|*1e12) DIV dv — so the cross-day average is an exact "
        "integer fold with ONE division at emit (reported x1e6, the "
        "conventional Amihud scaling). Zero-volume days drop "
        "explicitly. O(types) output; per-instrument partitioning "
        "at scale"
    ),
)
def events_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily2 = (
        _ticks(spark, sf_dir)
        .select(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
            _cents().alias("cent"),
            ordkey().alias("ordkey"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.max_by("cent", "ordkey").alias("close_c"),
            F.sum("cent").alias("dv_c"),
        )
        .filter(F.col("close_c") > 0)
    )
    wo = W.partitionBy("event_type").orderBy("day")
    ln_c = iln("close_c")
    ret = daily2.select(
        "event_type", "dv_c", (ln_c - F.lag(ln_c).over(wo)).alias("r")
    ).filter(F.col("r").isNotNull() & (F.col("dv_c") > 0))
    ratio = ret.select(
        "event_type",
        F.expr(
            f"(CAST(ABS(r) AS DECIMAL(38,0)) * {_AMIHUD_SCALE}) div dv_c"
        ).alias("ratio_u"),
    )
    return ratio.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("ratio_u").cast("bigint").alias("illiq_u"),
        dround(
            F.sum("ratio_u") * F.lit(1.0) / F.count(F.lit(1)) / F.lit(1.0e12), 8
        ).alias("illiq_x1e6"),
    )


# ---------------------------------------------------------------------------
# Wave 51: fractional differentiation + Kyle's lambda — the de Prado
# stationarity transform and the linear price-impact coefficient
# ---------------------------------------------------------------------------

_FD_D = 0.5  # differencing order
_FD_LAGS = 10  # fixed-width truncated window


def _fd_weights() -> list[float]:
    ws = [1.0]
    for k in range(1, _FD_LAGS):
        ws.append(-ws[-1] * (_FD_D - k + 1) / k)
    return ws


def _fd_sql_expr() -> str:
    return " + ".join(
        f"CAST(lag(x, {k}) OVER w AS DOUBLE) * CAST({wk!r} AS DOUBLE)"
        for k, wk in enumerate(_fd_weights())
    )


_FD_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
lns AS (
  SELECT event_type, day, {_ILN_SQL} AS x
  FROM daily WHERE close_c > 0
),
fd AS (
  SELECT event_type, day,
         lag(x, {_FD_LAGS - 1}) OVER w AS oldest,
         {_fd_sql_expr()} AS fd_u
  FROM lns
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day,
       ROUND(fd_u / 100000000.0, 8) AS frac_diff
FROM fd WHERE oldest IS NOT NULL
"""


@register(
    "events_frac_diff",
    _FD_SQL,
    doc=(
        "fractional differentiation (de Prado FFD, d=0.5) — the "
        "stationarity transform that keeps memory integer "
        "differencing destroys: (1-B)^d applied to the log-price "
        "series with the binomial weights w_k = -w_(k-1)(d-k+1)/k "
        "truncated to a fixed {lags}-lag window (the fixed-width "
        "method, so every output is a comparable same-support dot "
        "product; head rows without full support drop). Log prices "
        "ride the 1e-8 integer-ln grid, the weights are Python-float "
        "literals injected into BOTH engines, and the dot product "
        "chains left-associatively in lag order — bit-identical. One "
        "window over the O(days*types) reduced frame; the events_ema "
        "device family's third member (EMA smoothing, EWMA risk, FFD "
        "stationarity)"
    ).format(lags=_FD_LAGS),
)
def events_frac_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir).filter(F.col("close_c") > 0)
    wo = W.partitionBy("event_type").orderBy("day")
    ln_c = iln("close_c")
    lns = daily.select("event_type", "day", ln_c.alias("x"))
    fd = None
    for k, wk in enumerate(_fd_weights()):
        term = F.lag("x", k).over(wo).cast("double") * F.lit(wk)
        fd = term if fd is None else fd + term
    return (
        lns.select(
            "event_type",
            "day",
            F.lag("x", _FD_LAGS - 1).over(wo).alias("oldest"),
            fd.alias("fd_u"),
        )
        .filter(F.col("oldest").isNotNull())
        .select(
            "event_type",
            "day",
            dround(F.col("fd_u") / F.lit(100000000.0), 8).alias("frac_diff"),
        )
    )



_KYLE_SQL = f"""
WITH ticks AS (
  SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         date_trunc('day', ts) AS day, {ORDKEY_SQL} AS ok
  FROM events WHERE event_type IN ('view', 'purchase')
),
lagged AS (
  SELECT event_type, c, day, ok,
         CASE WHEN c > lag(c) OVER w THEN 1
              WHEN c < lag(c) OVER w THEN -1 END AS nz
  FROM ticks
  WINDOW w AS (PARTITION BY event_type ORDER BY ok)
),
signed AS (
  SELECT event_type, c, day, ok,
         COALESCE(last_value(nz IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY ok
                        ROWS UNBOUNDED PRECEDING), 1) AS sgn
  FROM lagged
),
daily2 AS (
  SELECT event_type, day,
         SUM(sgn * c)::HUGEINT AS q,
         arg_max(c, ok) AS close_c
  FROM signed GROUP BY 1, 2
),
ret AS (
  SELECT event_type, q,
         CAST(ROUND(ln(close_c) * 100000000, 0) AS BIGINT)
           - lag(CAST(ROUND(ln(close_c) * 100000000, 0) AS BIGINT)) OVER w AS r
  FROM daily2 WHERE close_c > 0
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
s AS (
  SELECT event_type,
         COUNT(*)::HUGEINT AS n, SUM(q)::HUGEINT AS sq, SUM(r)::HUGEINT AS sr,
         SUM(q * CAST(r AS HUGEINT)) AS sqr,
         SUM(q * q) AS sqq, SUM(CAST(r AS HUGEINT) * r) AS srr
  FROM ret WHERE r IS NOT NULL GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       ROUND(CAST(n * sqr - sq * sr AS DOUBLE)
             / CAST(n * sqq - sq * sq AS DOUBLE), 6) AS kyle_lambda,
       ROUND(CAST(n * sqr - sq * sr AS DOUBLE)
             / sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                    * CAST(n * srr - sr * sr AS DOUBLE)), 6) AS flow_ret_corr
FROM s
WHERE n * sqq - sq * sq > 0 AND n * srr - sr * sr > 0
"""


@register(
    "events_kyle_lambda",
    _KYLE_SQL,
    doc=(
        "Kyle's lambda — the linear price-impact coefficient closing "
        "the microstructure suite (VPIN toxicity, Roll spread, "
        "Amihud impact-per-dollar; lambda is impact per signed "
        "dollar): tick-rule signed flow with last-direction carry "
        "(the events_vpin device) reduces per day alongside the "
        "ordkey close, daily returns ride the integer-ln grid, and "
        "lambda = slope of r on q comes from five exact 128-bit "
        "moments in ONE fixed IEEE chain, reported in natural grid "
        "units (1e-8 ln per cent; scaling past the dround 2^52 bound "
        "saturates Spark floor — caught at sf0.001) (plus the flow-return "
        "correlation from the same moments). Integer radicand "
        "guards; O(types) output; the tick window partitions per "
        "instrument at scale"
    ),
)
def events_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    ticks = _ticks(spark, sf_dir).select(
        "event_type",
        _cents().alias("c"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
        ordkey().alias("ok"),
    )
    wo = W.partitionBy("event_type").orderBy("ok")
    nz = (
        F.when(F.col("c") > F.lag("c").over(wo), 1)
        .when(F.col("c") < F.lag("c").over(wo), -1)
    )
    lagged = ticks.select("event_type", "c", "day", "ok", nz.alias("nz"))
    sgn = F.coalesce(
        F.last("nz", ignorenulls=True).over(
            wo.rowsBetween(W.unboundedPreceding, 0)
        ),
        F.lit(1),
    )
    signed = lagged.select("event_type", "c", "day", "ok", sgn.alias("sgn"))
    daily2 = (
        signed.groupBy("event_type", "day")
        .agg(
            F.sum(F.col("sgn").cast("decimal(19,0)") * F.col("c"))
            .cast("decimal(38,0)")
            .alias("q"),
            F.max_by("c", "ok").alias("close_c"),
        )
        .filter(F.col("close_c") > 0)
    )
    wd = W.partitionBy("event_type").orderBy("day")
    ln_c = iln("close_c")
    ret = daily2.select(
        "event_type", "q", (ln_c - F.lag(ln_c).over(wd)).alias("r")
    ).filter(F.col("r").isNotNull())
    d38 = "decimal(38,0)"
    s = ret.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("q").cast(d38).alias("sq"),
        F.sum("r").cast(d38).alias("sr"),
        F.sum(F.col("q") * F.col("r").cast("decimal(19,0)")).cast(d38).alias("sqr"),
        F.sum(F.col("q") * F.col("q")).cast(d38).alias("sqq"),
        F.sum((F.col("r").cast("decimal(19,0)") * F.col("r")).cast("decimal(26,0)"))
        .cast(d38)
        .alias("srr"),
    )
    n, sq, sr = F.col("n"), F.col("sq"), F.col("sr")
    num = n * F.col("sqr") - sq * sr
    dq = n * F.col("sqq") - sq * sq
    dr = n * F.col("srr") - sr * sr
    return s.filter((dq > 0) & (dr > 0)).select(
        "event_type",
        n.cast("bigint").alias("n_days"),
        dround(num.cast("double") / dq.cast("double"), 6).alias("kyle_lambda"),
        dround(
            num.cast("double") / F.sqrt(dq.cast("double") * dr.cast("double")), 6
        ).alias("flow_ret_corr"),
    )


# ---------------------------------------------------------------------------
# Wave 53: lead-lag cross-correlation — which series moves first?
# ---------------------------------------------------------------------------

_CCF_MAX_LAG = 3

_CCF_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
ret AS (
  SELECT event_type, day,
         {_ILN_SQL} - lag({_ILN_SQL}) OVER w AS r
  FROM daily WHERE close_c > 0
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
aligned AS (
  SELECT v.day, v.r AS rv, p.r AS rp,
         row_number() OVER (ORDER BY v.day) AS t
  FROM (SELECT day, r FROM ret WHERE event_type = 'view' AND r IS NOT NULL) v
  JOIN (SELECT day, r FROM ret WHERE event_type = 'purchase' AND r IS NOT NULL) p
    ON p.day = v.day
),
lags AS (SELECT lg FROM (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) AS t(lg)),
pairs AS (
  SELECT l.lg, a.rv AS x, b.rp AS y
  FROM aligned a
  CROSS JOIN lags l
  JOIN aligned b ON b.t = a.t + l.lg
),
s AS (
  SELECT lg, COUNT(*)::HUGEINT AS n,
         SUM(x)::HUGEINT AS sx, SUM(y)::HUGEINT AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pairs GROUP BY lg
)
SELECT CAST(lg AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS ccf
FROM s
WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""


@register(
    "events_cross_correlation",
    _CCF_SQL,
    doc=(
        "lead-lag cross-correlation — does the view series move "
        "before the purchase series? ccf(L) = corr(rv_t, rp_(t+L)) "
        "for L in -{ml}..+{ml}: integer-ln-grid returns align on day "
        "via ONE equi-join, the 7 lags are a literal fan-out joined "
        "on the dense row index (an equi-join again — never a "
        "windowed self-scan per lag), and each lag's correlation "
        "comes from five exact 128-bit moments in one fixed IEEE "
        "chain with integer radicand guards. O(lags) output; at "
        "scale the pair axis partitions per instrument-pair and the "
        "join runs on the O(days) reduced frame"
    ).format(ml=_CCF_MAX_LAG),
)
def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir).filter(F.col("close_c") > 0)
    wo = W.partitionBy("event_type").orderBy("day")
    ln_c = iln("close_c")
    ret = daily.select(
        "event_type", "day", (ln_c - F.lag(ln_c).over(wo)).alias("r")
    ).filter(F.col("r").isNotNull())
    v = ret.filter(F.col("event_type") == "view").select("day", F.col("r").alias("rv"))
    p = ret.filter(F.col("event_type") == "purchase").select(
        "day", F.col("r").alias("rp")
    )
    aligned = pin(
        v.join(p, "day")
        .select("day", "rv", "rp", F.row_number().over(W.orderBy("day")).alias("t"))
        # both sides of the lag join
    )
    lags = spark.createDataFrame(
        [(lg,) for lg in range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1)], "lg int"
    )
    a = aligned.crossJoin(F.broadcast(lags)).select(
        "lg", F.col("rv").alias("x"), (F.col("t") + F.col("lg")).alias("bt")
    )
    b = aligned.select(F.col("t").alias("bt"), F.col("rp").alias("y"))
    pairs = a.join(b, "bt")
    d38 = "decimal(38,0)"
    s = pairs.groupBy("lg").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum((F.col("x").cast("decimal(19,0)") * F.col("y")).cast("decimal(26,0)"))
        .cast(d38)
        .alias("sxy"),
        F.sum((F.col("x").cast("decimal(19,0)") * F.col("x")).cast("decimal(26,0)"))
        .cast(d38)
        .alias("sxx"),
        F.sum((F.col("y").cast("decimal(19,0)") * F.col("y")).cast("decimal(26,0)"))
        .cast(d38)
        .alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    dx = n * F.col("sxx") - sx * sx
    dy = n * F.col("syy") - sy * sy
    return s.filter((dx > 0) & (dy > 0)).select(
        F.col("lg").cast("int").alias("lag"),
        n.cast("bigint").alias("n_pairs"),
        dround(
            num.cast("double") / F.sqrt(dx.cast("double") * dy.cast("double")), 6
        ).alias("ccf"),
    )


# ---------------------------------------------------------------------------
# Wave 54: ulcer index — drawdown-depth risk (the stress complement of
# volatility: how deep and how long underwater, not how wiggly)
# ---------------------------------------------------------------------------

_ULCER_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
runmax AS (
  SELECT event_type, day, close_c,
         MAX(close_c) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS peak_c
  FROM daily
),
dd AS (
  SELECT event_type,
         ((peak_c - close_c) * 1000000) // peak_c AS dd_u
  FROM runmax WHERE peak_c > 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(dd_u) AS BIGINT) AS max_dd_u,
       ROUND(MAX(dd_u) / 10000.0, 4) AS max_drawdown_pct,
       ROUND(sqrt(CAST(SUM(CAST(dd_u AS HUGEINT) * dd_u) AS DOUBLE)
                  / COUNT(*)) / 10000.0, 6) AS ulcer_pct
FROM dd GROUP BY event_type
"""


@register(
    "events_ulcer_index",
    _ULCER_SQL,
    doc=(
        "ulcer index — the drawdown-depth risk measure (Martin 1987): "
        "UI = sqrt(mean squared percent-below-peak), punishing deep "
        "and LONG drawdowns where stddev treats up and down wiggle "
        "alike; the stress complement of events_volatility_gk / "
        "events_ewma_volatility and the depth-weighted sibling of "
        "events_max_drawdown. The running peak is an integer window "
        "max, each day's drawdown floors onto a 1e-6 fraction grid "
        "via pure integer division ((peak-c)*1e6 DIV peak), and the "
        "mean-of-squares is an exact 128-bit integer fold with ONE "
        "sqrt+division chain at emit. O(types) output; one window "
        "over the reduced daily frame"
    ),
)
def events_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir)
    wo = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, 0
    )
    runmax = daily.select(
        "event_type",
        "close_c",
        F.max("close_c").over(wo).alias("peak_c"),
    ).filter(F.col("peak_c") > 0)
    dd = runmax.select(
        "event_type",
        F.expr("((peak_c - close_c) * 1000000) div peak_c").alias("dd_u"),
    )
    return dd.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("dd_u").cast("bigint").alias("max_dd_u"),
        dround(F.max("dd_u") / F.lit(10000.0), 4).alias("max_drawdown_pct"),
        dround(
            F.sqrt(
                F.sum(
                    (F.col("dd_u").cast("decimal(19,0)") * F.col("dd_u")).cast(
                        "decimal(26,0)"
                    )
                )
                .cast("double")
                / F.count(F.lit(1)),
            )
            / F.lit(10000.0),
            6,
        ).alias("ulcer_pct"),
    )


# ---------------------------------------------------------------------------
# Wave 56: Kendall tau-b — the concordance rank correlation between the
# two aligned daily return series
# ---------------------------------------------------------------------------

_TAU_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
ret AS (
  SELECT event_type, day,
         {_ILN_SQL} - lag({_ILN_SQL}) OVER w AS r
  FROM daily WHERE close_c > 0
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
aligned AS (
  SELECT v.day, v.r AS x, p.r AS y,
         row_number() OVER (ORDER BY v.day) AS t
  FROM (SELECT day, r FROM ret WHERE event_type = 'view' AND r IS NOT NULL) v
  JOIN (SELECT day, r FROM ret WHERE event_type = 'purchase' AND r IS NOT NULL) p
    ON p.day = v.day
),
pairs AS (
  SELECT CASE WHEN a.x < b.x THEN -1 WHEN a.x > b.x THEN 1 ELSE 0 END AS cx,
         CASE WHEN a.y < b.y THEN -1 WHEN a.y > b.y THEN 1 ELSE 0 END AS cy
  FROM aligned a JOIN aligned b ON b.t > a.t
),
s AS (
  SELECT COUNT(*)::BIGINT AS n_pairs,
         SUM(CASE WHEN cx * cy = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
         SUM(CASE WHEN cx * cy = -1 THEN 1 ELSE 0 END)::BIGINT AS d,
         SUM(CASE WHEN cx = 0 AND cy <> 0 THEN 1 ELSE 0 END)::BIGINT AS tx,
         SUM(CASE WHEN cy = 0 AND cx <> 0 THEN 1 ELSE 0 END)::BIGINT AS ty
  FROM pairs
)
SELECT n_pairs, c, d, tx, ty,
       ROUND(CAST(c - d AS DOUBLE)
             / sqrt(CAST((c + d + tx) AS DOUBLE) * CAST((c + d + ty) AS DOUBLE)),
             6) AS tau_b
FROM s WHERE c + d + tx > 0 AND c + d + ty > 0
"""


@register(
    "events_kendall_tau",
    _TAU_SQL,
    doc=(
        "Kendall tau-b — concordance rank correlation between the "
        "aligned view/purchase daily return series, the "
        "tie-corrected, outlier-immune sibling of "
        "agg_spearman_corr and the correlation row of the robust "
        "trio's machinery (same day-reduce + bounded pair fan-out as "
        "theil_sen): every i<j pair classifies by two integer sign "
        "comparisons, the five counts are exact, and tau-b's "
        "tie-corrected denominator is one sqrt chain at emit. "
        "O(days^2) pairs AFTER the daily reduce — calendar-bounded, "
        "never data-bounded; O(1) output"
    ),
)
def events_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir).filter(F.col("close_c") > 0)
    wo = W.partitionBy("event_type").orderBy("day")
    ln_c = iln("close_c")
    ret = daily.select(
        "event_type", "day", (ln_c - F.lag(ln_c).over(wo)).alias("r")
    ).filter(F.col("r").isNotNull())
    v = ret.filter(F.col("event_type") == "view").select("day", F.col("r").alias("x"))
    p = ret.filter(F.col("event_type") == "purchase").select(
        "day", F.col("r").alias("y")
    )
    aligned = pin(
        v.join(p, "day")
        .select("x", "y", F.row_number().over(W.orderBy("day")).alias("t"))
        # both sides of the pair join
    )
    b = aligned.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("t").alias("bt")
    )
    sgn = lambda a, bb: (  # noqa: E731
        F.when(a < bb, -1).when(a > bb, 1).otherwise(0)
    )
    pairs = (
        aligned.join(b, F.col("bt") > F.col("t"))
        .select(
            sgn(F.col("x"), F.col("bx")).alias("cx"),
            sgn(F.col("y"), F.col("by")).alias("cy"),
        )
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("cx") * F.col("cy") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(F.col("cx") * F.col("cy") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.sum(F.when((F.col("cx") == 0) & (F.col("cy") != 0), 1).otherwise(0))
        .cast("bigint")
        .alias("tx"),
        F.sum(F.when((F.col("cy") == 0) & (F.col("cx") != 0), 1).otherwise(0))
        .cast("bigint")
        .alias("ty"),
    )
    c, d, tx, ty = F.col("c"), F.col("d"), F.col("tx"), F.col("ty")
    return s.filter((c + d + tx > 0) & (c + d + ty > 0)).select(
        "n_pairs",
        "c",
        "d",
        "tx",
        "ty",
        dround(
            (c - d).cast("double")
            / F.sqrt((c + d + tx).cast("double") * (c + d + ty).cast("double")),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Wave 58: mean-reversion half-life + Ljung-Box — how fast does the
# pairs spread revert, and is the return series white noise at all?
# ---------------------------------------------------------------------------

_HL_LN2 = math.log(2.0)

_HALF_LIFE_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
aligned AS (
  SELECT v.day, v.close_c - p.close_c AS s
  FROM (SELECT day, close_c FROM daily WHERE event_type = 'view') v
  JOIN (SELECT day, close_c FROM daily WHERE event_type = 'purchase') p
    ON p.day = v.day
),
pairs AS (
  SELECT s AS y, lag(s) OVER (ORDER BY day) AS x FROM aligned
),
m AS (
  SELECT COUNT(*)::HUGEINT AS n, SUM(x)::HUGEINT AS sx, SUM(y)::HUGEINT AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM pairs WHERE x IS NOT NULL
),
r AS (
  SELECT CAST(n AS BIGINT) AS n_pairs,
         CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
           AS rho
  FROM m WHERE n * sxx - sx * sx > 0
)
SELECT n_pairs, ROUND(rho, 6) AS ar1_rho,
       CASE WHEN rho > 0 AND rho < 1
            THEN ROUND(-{_HL_LN2!r} / ln(rho), 4) END AS half_life_days
FROM r
"""


@register(
    "events_half_life",
    _HALF_LIFE_SQL,
    doc=(
        "mean-reversion half-life — the holding-period number that "
        "turns events_pairs_spread_zscore's entry signal into a "
        "trade plan: fit AR(1) on the view/purchase close spread "
        "(rho from four exact 128-bit moments, one division) and "
        "report half-life = -ln2/ln(rho) under the OU "
        "discretization. rho outside (0,1) -> NULL half-life (no "
        "reversion or oscillation — the estimator's documented "
        "undefined region, no NaN lanes). One day equi-join + one "
        "lag window over the O(days) frame; O(1) output"
    ),
)
def events_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir)
    v = daily.filter(F.col("event_type") == "view").select(
        "day", F.col("close_c").alias("vc")
    )
    p = daily.filter(F.col("event_type") == "purchase").select(
        "day", F.col("close_c").alias("pc")
    )
    aligned = v.join(p, "day").select("day", (F.col("vc") - F.col("pc")).alias("s"))
    w = W.orderBy("day")
    pairs = aligned.select(
        F.col("s").alias("y"), F.lag("s").over(w).alias("x")
    ).filter(F.col("x").isNotNull())
    d38 = "decimal(38,0)"
    m = pairs.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum((F.col("x").cast("decimal(19,0)") * F.col("y")).cast("decimal(26,0)"))
        .cast(d38)
        .alias("sxy"),
        F.sum((F.col("x").cast("decimal(19,0)") * F.col("x")).cast("decimal(26,0)"))
        .cast(d38)
        .alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    den = n * F.col("sxx") - sx * sx
    rho = (n * F.col("sxy") - sx * sy).cast("double") / den.cast("double")
    r = m.filter(den > 0).select(
        n.cast("bigint").alias("n_pairs"), rho.alias("rho")
    )
    return r.select(
        "n_pairs",
        dround(F.col("rho"), 6).alias("ar1_rho"),
        F.when(
            (F.col("rho") > 0) & (F.col("rho") < 1),
            dround(F.lit(-_HL_LN2) / F.log(F.col("rho")), 4),
        ).alias("half_life_days"),
    )


_LB_LAGS = 5

_LB_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS c
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
mom AS (
  SELECT COUNT(*)::HUGEINT AS n, SUM(c)::HUGEINT AS s FROM daily
),
centered AS (
  SELECT d.day, (SELECT n FROM mom) * d.c - (SELECT s FROM mom) AS y,
         (SELECT CAST(n AS BIGINT) FROM mom) AS n
  FROM daily d
),
lagged AS (
  SELECT y, n,
         {", ".join(f"lag(y, {k}) OVER (ORDER BY day) AS l{k}" for k in range(1, _LB_LAGS + 1))}
  FROM centered
),
agg AS (
  SELECT ANY_VALUE(n) AS n,
         SUM(CAST(y AS HUGEINT) * y) AS denom,
         {", ".join(f"SUM(CAST(y AS HUGEINT) * l{k}) AS num{k}" for k in range(1, _LB_LAGS + 1))}
  FROM lagged
)
SELECT CAST(n AS BIGINT) AS n_days,
       {", ".join(f"ROUND(CAST(num{k} AS DOUBLE) / CAST(denom AS DOUBLE), 6) AS rho{k}" for k in range(1, _LB_LAGS + 1))},
       ROUND(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * (
         {" + ".join(f"(CAST(num{k} AS DOUBLE) / CAST(denom AS DOUBLE)) * (CAST(num{k} AS DOUBLE) / CAST(denom AS DOUBLE)) / (CAST(n AS DOUBLE) - {k}.0)" for k in range(1, _LB_LAGS + 1))}
       ), 4) AS ljung_box_q
FROM agg WHERE denom > 0
"""


@register(
    "events_ljung_box",
    _LB_SQL,
    doc=(
        "Ljung-Box portmanteau test — is the daily purchase-count "
        "series white noise across the first {lags} lags at once? "
        "(the joint upgrade of events_autocorrelation's per-lag "
        "view): mean-centering rides the n-scaled integer device "
        "y_t = n*x_t - S (exact, no division), each lag's "
        "autocovariance and the common denominator are exact 128-bit "
        "integer sums over ONE shared lag window, and "
        "Q = n(n+2) * sum rho_k^2/(n-k) is a fixed literal chain "
        "over the {lags} pivoted columns — never a float fold. "
        "Compare Q against chi2({lags}) downstream. O(1) output; "
        "the window runs over the O(days) reduced frame"
    ).format(lags=_LB_LAGS),
)
def events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("s"),
    )
    centered = daily.crossJoin(F.broadcast(mom)).select(
        "day",
        (F.col("n") * F.col("c").cast("decimal(19,0)") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("y"),
        F.col("n").cast("bigint").alias("n"),
    )
    w = W.orderBy("day")
    lagged = centered.select(
        "y",
        "n",
        *[F.lag("y", k).over(w).alias(f"l{k}") for k in range(1, _LB_LAGS + 1)],
    )
    aggs = [
        F.first("n").alias("n"),
        F.sum(F.col("y") * F.col("y")).alias("denom"),
    ]
    for k in range(1, _LB_LAGS + 1):
        aggs.append(F.sum(F.col("y") * F.col(f"l{k}")).alias(f"num{k}"))
    agg = lagged.agg(*aggs)
    nd = F.col("n").cast("double")
    rhos = [
        (F.col(f"num{k}").cast("double") / F.col("denom").cast("double"))
        for k in range(1, _LB_LAGS + 1)
    ]
    qsum = None
    for k, r in enumerate(rhos, start=1):
        term = r * r / (nd - F.lit(float(k)))
        qsum = term if qsum is None else qsum + term
    out = [F.col("n").cast("bigint").alias("n_days")]
    out += [dround(r, 6).alias(f"rho{k}") for k, r in enumerate(rhos, start=1)]
    out.append(dround(nd * (nd + F.lit(2.0)) * qsum, 4).alias("ljung_box_q"))
    return agg.filter(F.col("denom") > 0).select(*out)


# ---------------------------------------------------------------------------
# Wave 59: Chow structural-break test + underwater duration — known-date
# regime check and the time dimension of drawdown risk
# ---------------------------------------------------------------------------

_CHOW_BREAK = "2024-01-16"  # known candidate break: the sample midpoint


def _chow_ssr_sql(pred: str) -> str:
    """SSR of close ~ t over the rows satisfying ``pred`` — exact
    integer moments, SSR = (Syy - Sxy^2/Sxx scaled) in one chain."""
    return f"""
  SELECT COUNT(*)::HUGEINT AS n, SUM(t)::HUGEINT AS sx,
         SUM(close_c)::HUGEINT AS sy,
         SUM(CAST(t AS HUGEINT) * close_c) AS sxy,
         SUM(CAST(t AS HUGEINT) * t) AS sxx,
         SUM(CAST(close_c AS HUGEINT) * close_c) AS syy
  FROM tseries WHERE {pred}"""


_CHOW_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
tseries AS (
  SELECT event_type, close_c,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         day
  FROM daily WHERE event_type = 'view'
),
pooled AS ({_chow_ssr_sql("TRUE")}),
seg1 AS ({_chow_ssr_sql(f"day < DATE '{_CHOW_BREAK}'")}),
seg2 AS ({_chow_ssr_sql(f"day >= DATE '{_CHOW_BREAK}'")}),
ssr AS (
  SELECT
    (CAST(p.n * p.syy - p.sy * p.sy AS DOUBLE)
     - CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
       * CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
       / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE)) / CAST(p.n AS DOUBLE)
      AS ssr_pooled,
    (CAST(a.n * a.syy - a.sy * a.sy AS DOUBLE)
     - CAST(a.n * a.sxy - a.sx * a.sy AS DOUBLE)
       * CAST(a.n * a.sxy - a.sx * a.sy AS DOUBLE)
       / CAST(a.n * a.sxx - a.sx * a.sx AS DOUBLE)) / CAST(a.n AS DOUBLE)
      AS ssr_1,
    (CAST(b.n * b.syy - b.sy * b.sy AS DOUBLE)
     - CAST(b.n * b.sxy - b.sx * b.sy AS DOUBLE)
       * CAST(b.n * b.sxy - b.sx * b.sy AS DOUBLE)
       / CAST(b.n * b.sxx - b.sx * b.sx AS DOUBLE)) / CAST(b.n AS DOUBLE)
      AS ssr_2,
    CAST(p.n AS DOUBLE) AS n
  FROM pooled p CROSS JOIN seg1 a CROSS JOIN seg2 b
  WHERE a.n > 2 AND b.n > 2
    AND a.n * a.sxx - a.sx * a.sx > 0 AND b.n * b.sxx - b.sx * b.sx > 0
)
SELECT CAST(n AS BIGINT) AS n_days,
       ROUND(ssr_pooled / 10000.0, 4) AS ssr_pooled,
       ROUND((ssr_1 + ssr_2) / 10000.0, 4) AS ssr_split,
       ROUND(((ssr_pooled - (ssr_1 + ssr_2)) / 2.0)
             / ((ssr_1 + ssr_2) / (n - 4.0)), 4) AS chow_f
FROM ssr
"""


@register(
    "events_chow_test",
    _CHOW_SQL,
    doc=(
        "Chow structural-break test — did the close~time regression "
        "CHANGE at a known date? (the inferential complement of "
        "events_cusum_changepoint's unknown-break scan): three "
        "linear fits (pooled, pre, post) share one daily reduce, "
        "each SSR comes from six exact 128-bit integer moments via "
        "SSR/n = (nSyy - Sy^2 - (nSxy - SxSy)^2/(nSxx - Sx^2))/n^2 "
        "collapsed to one fixed chain, and "
        "F = ((SSR_p - SSR_1 - SSR_2)/k) / ((SSR_1+SSR_2)/(n-2k)) "
        "with k=2 params. Degenerate segments drop via integer "
        "radicand guards. O(1) output; three scans of the O(days) "
        "frame (one at scale — the predicate is a partition filter)"
    ),
)
def events_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir).filter(F.col("event_type") == "view")
    w = W.partitionBy("event_type").orderBy("day")
    tseries = pin(daily.select(
        "close_c", F.row_number().over(w).alias("t"), "day"
    ))  # pooled + two segment consumers

    d38 = "decimal(38,0)"

    def moments(df):
        return df.agg(
            F.count(F.lit(1)).cast(d38).alias("n"),
            F.sum("t").cast(d38).alias("sx"),
            F.sum("close_c").cast(d38).alias("sy"),
            F.sum(
                (F.col("t").cast("decimal(19,0)") * F.col("close_c")).cast(
                    "decimal(26,0)"
                )
            )
            .cast(d38)
            .alias("sxy"),
            F.sum((F.col("t").cast("decimal(19,0)") * F.col("t")).cast("decimal(26,0)"))
            .cast(d38)
            .alias("sxx"),
            F.sum(
                (F.col("close_c").cast("decimal(19,0)") * F.col("close_c")).cast(
                    "decimal(26,0)"
                )
            )
            .cast(d38)
            .alias("syy"),
        )

    brk = F.lit(_CHOW_BREAK).cast("date")

    def ssr(prefix, m):
        n, sx, sy = F.col(f"{prefix}n"), F.col(f"{prefix}sx"), F.col(f"{prefix}sy")
        sxy, sxx, syy = (
            F.col(f"{prefix}sxy"),
            F.col(f"{prefix}sxx"),
            F.col(f"{prefix}syy"),
        )
        num = (n * sxy - sx * sy).cast("double")
        return (
            (n * syy - sy * sy).cast("double")
            - num * num / (n * sxx - sx * sx).cast("double")
        ) / n.cast("double")

    p = moments(tseries)
    a = moments(tseries.filter(F.col("day") < brk))
    b = moments(tseries.filter(F.col("day") >= brk))
    ren = lambda df, pre: df.select(  # noqa: E731
        *[F.col(c).alias(f"{pre}{c}") for c in df.columns]
    )
    j = (
        ren(p, "p_")
        .crossJoin(F.broadcast(ren(a, "a_")))
        .crossJoin(F.broadcast(ren(b, "b_")))
    )
    an, bn = F.col("a_n"), F.col("b_n")
    rada = an * F.col("a_sxx") - F.col("a_sx") * F.col("a_sx")
    radb = bn * F.col("b_sxx") - F.col("b_sx") * F.col("b_sx")
    j = j.filter((an > 2) & (bn > 2) & (rada > 0) & (radb > 0))
    nd = F.col("p_n").cast("double")
    s_p, s_1, s_2 = ssr("p_", j), ssr("a_", j), ssr("b_", j)
    return j.select(
        F.col("p_n").cast("bigint").alias("n_days"),
        dround(s_p / F.lit(10000.0), 4).alias("ssr_pooled"),
        dround((s_1 + s_2) / F.lit(10000.0), 4).alias("ssr_split"),
        dround(
            ((s_p - (s_1 + s_2)) / F.lit(2.0)) / ((s_1 + s_2) / (nd - F.lit(4.0))),
            4,
        ).alias("chow_f"),
    )


_UW_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
runmax AS (
  SELECT event_type, day, close_c,
         MAX(close_c) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS peak_c
  FROM daily
),
flagged AS (
  SELECT event_type, day,
         CASE WHEN close_c < peak_c THEN 1 ELSE 0 END AS uw
  FROM runmax
),
islands AS (
  SELECT event_type, day, uw,
         row_number() OVER (PARTITION BY event_type ORDER BY day)
           - row_number() OVER (PARTITION BY event_type, uw ORDER BY day)
           AS grp
  FROM flagged
),
spells AS (
  SELECT event_type, grp, COUNT(*)::BIGINT AS len,
         MIN(day) AS start_day
  FROM islands WHERE uw = 1
  GROUP BY event_type, grp
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_spells,
       CAST(MAX(len) AS BIGINT) AS max_underwater_days,
       CAST(SUM(len) AS BIGINT) AS total_underwater_days,
       MIN(start_day) AS first_underwater_day
FROM spells GROUP BY event_type
"""


@register(
    "events_underwater_duration",
    _UW_SQL,
    doc=(
        "underwater duration — the TIME dimension of drawdown risk "
        "(events_ulcer_index measures depth; this measures how LONG "
        "below the running peak): below-peak flags from the integer "
        "running max, consecutive spells via the gaps-and-islands "
        "double-row_number device (the events_streaks discipline), "
        "and per-series spell count / longest spell / total days as "
        "exact integer aggregates. All windows over the O(days) "
        "reduced frame, per-instrument partitioned at scale"
    ),
)
def events_underwater_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir)
    wo = W.partitionBy("event_type").orderBy("day")
    runmax = daily.select(
        "event_type",
        "day",
        "close_c",
        F.max("close_c").over(wo.rowsBetween(W.unboundedPreceding, 0)).alias(
            "peak_c"
        ),
    )
    flagged = runmax.select(
        "event_type",
        "day",
        F.when(F.col("close_c") < F.col("peak_c"), 1).otherwise(0).alias("uw"),
    )
    islands = flagged.select(
        "event_type",
        "day",
        "uw",
        (
            F.row_number().over(wo)
            - F.row_number().over(W.partitionBy("event_type", "uw").orderBy("day"))
        ).alias("grp"),
    )
    spells = (
        islands.filter(F.col("uw") == 1)
        .groupBy("event_type", "grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("len"),
            F.min("day").alias("start_day"),
        )
    )
    return spells.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spells"),
        F.max("len").cast("bigint").alias("max_underwater_days"),
        F.sum("len").cast("bigint").alias("total_underwater_days"),
        F.min("start_day").alias("first_underwater_day"),
    )


# ---------------------------------------------------------------------------
# Page-Hinkley drift detector (wave 63)
# ---------------------------------------------------------------------------

_PH_DELTA = 50      # tolerance, cents
_PH_LAMBDA = 20_000  # alarm threshold, cents

_PH_SQL = f"""
WITH {_DAILY_CLOSE_SQL},
seq AS (
  SELECT event_type, day, close_c,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         SUM(close_c) OVER (PARTITION BY event_type ORDER BY day) AS s
  FROM daily
),
term AS (
  SELECT event_type, day, t,
         close_c - s // t - {_PH_DELTA} AS term
  FROM seq
),
m AS (
  SELECT event_type, day, t,
         SUM(term) OVER (PARTITION BY event_type ORDER BY t) AS m
  FROM term
),
ph AS (
  SELECT event_type, day,
         m - MIN(m) OVER (PARTITION BY event_type ORDER BY t) AS ph
  FROM m
)
SELECT event_type,
       COUNT(*)::BIGINT AS n_days,
       MAX(ph)::BIGINT AS max_ph,
       COUNT(*) FILTER (WHERE ph > {_PH_LAMBDA})::BIGINT AS n_alarm_days,
       MIN(day) FILTER (WHERE ph > {_PH_LAMBDA}) AS first_alarm_day
FROM ph
GROUP BY event_type
"""


@register(
    "events_page_hinkley",
    _PH_SQL,
    doc=(
        "Page-Hinkley drift detector over the daily close series — "
        "the sequential mean-shift monitor beside "
        "events_cusum_changepoint (CUSUM scans for ONE retrospective "
        "break; PH is the ONLINE alarm a production monitor runs): "
        "m_t = Σ(x_i − x̄_i − δ), PH_t = m_t − min m, alarm when PH "
        "exceeds λ. Integer-cent discipline end to end — the running "
        "mean is the floor-div S_i div i (both engines truncate "
        "identically on the non-negative cumsum), so every term, "
        "cumulative m and PH value is exact int64; NULL-safe "
        "first-alarm via a filtered MIN. One window chain over the "
        "already-reduced daily frame (four window functions share "
        "the (type, day-order) sort); "
        f"δ={_PH_DELTA}c, λ={_PH_LAMBDA}c give alarm and no-alarm "
        "series at the fixture SFs (purchase drifts, view does not "
        "at sf0.01) — both verdicts exercised"
    ),
)
def events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir)
    wt = W.partitionBy("event_type").orderBy("day")
    wcum = wt.rowsBetween(W.unboundedPreceding, W.currentRow)
    seq = daily.select(
        "event_type",
        "day",
        "close_c",
        F.row_number().over(wt).alias("t"),
        F.sum("close_c").over(wcum).alias("s"),
    )
    term = seq.select(
        "event_type",
        "day",
        "t",
        (F.col("close_c") - F.expr("s div t") - _PH_DELTA).alias("term"),
    )
    m = term.select(
        "event_type", "day", "t", F.sum("term").over(wcum).alias("m")
    )
    ph = m.select(
        "event_type",
        "day",
        (F.col("m") - F.min("m").over(wcum)).alias("ph"),
    )
    return ph.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("ph").cast("bigint").alias("max_ph"),
        F.sum((F.col("ph") > _PH_LAMBDA).cast("bigint"))
        .cast("bigint")
        .alias("n_alarm_days"),
        F.min(F.when(F.col("ph") > _PH_LAMBDA, F.col("day"))).alias(
            "first_alarm_day"
        ),
    )


# ---------------------------------------------------------------------------
# Shapley-value attribution (wave 67)
# ---------------------------------------------------------------------------

_SHAP_LOOKBACK_DAYS = 3
_SHAP_N_CH = 4

_SHAP_SQL = f"""
WITH c AS (
  SELECT event_id, user_id, ts, event_id % {_SHAP_N_CH} AS channel
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
masks AS (
  SELECT p.p_id, BIT_OR(1 << c.channel) AS mask
  FROM p JOIN c ON c.user_id = p.user_id
             AND c.ts <= p.p_ts
             AND c.ts >= p.p_ts - INTERVAL {_SHAP_LOOKBACK_DAYS} DAY
  GROUP BY p.p_id
),
mcnt AS (SELECT mask, COUNT(*)::BIGINT AS n FROM masks GROUP BY mask),
subsets AS (SELECT unnest(range(16)) AS s),
v AS (
  SELECT s.s, COALESCE(SUM(m.n), 0)::BIGINT AS v
  FROM subsets s LEFT JOIN mcnt m ON (m.mask & ~s.s & 15) = 0
  GROUP BY s.s
),
chans AS (SELECT unnest(range({_SHAP_N_CH})) AS ch),
phi AS (
  SELECT ch.ch AS channel,
         SUM((CASE bit_count(s.s) WHEN 0 THEN 6 WHEN 1 THEN 2
                                  WHEN 2 THEN 2 ELSE 6 END)
             * (v1.v - v0.v))::BIGINT AS shapley_x24
  FROM chans ch
  JOIN subsets s ON (s.s & (1 << ch.ch)) = 0
  JOIN v v1 ON v1.s = (s.s | (1 << ch.ch))
  JOIN v v0 ON v0.s = s.s
  GROUP BY ch.ch
)
SELECT CAST(channel AS BIGINT) AS channel, shapley_x24,
       CAST((shapley_x24 * 1000000) // 24 AS BIGINT) AS credit_micro
FROM phi
"""


@register(
    "events_shapley_attribution",
    _SHAP_SQL,
    doc=(
        "Shapley-value attribution — the game-theoretic credit split "
        "beside events_attribution's last-touch/linear rules (the "
        "marketing-analytics standard; Shapley 1953 axioms are the "
        "only split that is efficient + symmetric + additive): each "
        "conversion's touched-channel SET becomes a 4-bit mask, the "
        "characteristic function v(S) = conversions reachable with "
        "channels ⊆ S materializes for all 2⁴ coalitions from the "
        "mask histogram (a 16-row subset join — the corpus reduces "
        "to ≤16 mask counts FIRST, so the combinatorics never touch "
        "raw data), and φ_c·4! = Σ |S|!(4−|S|−1)!·[v(S∪c) − v(S)] "
        "stays an exact integer — one integer division to micro "
        "units at emit, zero floats anywhere. Efficiency axiom "
        "(Σφ = v(full)) is the replay test's identity. At 100 TB "
        "the only corpus-sized work is the touch join + mask "
        "histogram; everything after is O(2^k · k)"
    ),
)
def events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", (F.col("event_id") % _SHAP_N_CH).alias("channel")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    masks = (
        p.join(c, "user_id")
        .filter(
            (F.col("ts") <= F.col("p_ts"))
            & (
                F.col("ts")
                >= F.col("p_ts") - F.expr(f"INTERVAL {_SHAP_LOOKBACK_DAYS} DAY")
            )
        )
        .groupBy("p_id")
        .agg(F.bit_or(F.expr("shiftleft(1, CAST(channel AS INT))")).alias("mask"))
    )
    mcnt = masks.groupBy("mask").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    subsets = spark.range(16).select(F.col("id").cast("int").alias("s"))
    v = pin(
        subsets.join(mcnt, F.expr("(mask & ~s & 15) = 0"), "left")
        .groupBy("s")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("v"))
        # consumers: v1 and v0 joins
    )
    chans = spark.range(_SHAP_N_CH).select(F.col("id").cast("int").alias("ch"))
    w = (
        F.when(F.bit_count("s") == 0, 6)
        .when(F.bit_count("s") == 1, 2)
        .when(F.bit_count("s") == 2, 2)
        .otherwise(6)
    )
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    v0 = v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    phi = (
        chans.join(subsets, F.expr("(s & shiftleft(1, ch)) = 0"))
        .join(v1, F.col("s1") == F.expr("s | shiftleft(1, ch)"))
        .join(v0, F.col("s0") == F.col("s"))
        .groupBy("ch")
        .agg(F.sum(w * (F.col("v1") - F.col("v0"))).cast("bigint").alias("shapley_x24"))
    )
    return phi.select(
        F.col("ch").cast("bigint").alias("channel"),
        "shapley_x24",
        F.expr("CAST((shapley_x24 * 1000000) div 24 AS BIGINT)").alias(
            "credit_micro"
        ),
    )
