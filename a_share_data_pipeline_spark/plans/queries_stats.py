"""Round-6 wave 20: classical-inference completion — Welch's unequal-
variance t-test, one-way ANOVA (the k-group generalization), and an
exact-arithmetic permutation test whose resamples are md5-derived and
therefore reproducible on both engines.

Same discipline as waves 5-19: moments accumulate as exact integers
(int64 cents; squares in decimal/hugeint so no SF ever wraps), pivots
collapse per-group rows into COLUMNS so cross-group sums chain in a
FIXED literal order (never a float fold over an aggregation), and the
permutation-test comparison is a pure integer cross-multiply — the
p-value never touches a float.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround
from ..session import pin
from ..sources import load_table
from .catalog import register
from .queries_market import _cents, _daily_close

# ---------------------------------------------------------------------------
# Welch's t-test: purchase vs click order values (wave 20)
# ---------------------------------------------------------------------------

_WELCH_SQL = """
WITH cents AS (
  SELECT event_type AS g, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type IN ('purchase', 'click')
),
m AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS HUGEINT) AS s,
         SUM(CAST(c AS HUGEINT) * c) AS q
  FROM cents GROUP BY g
),
piv AS (
  SELECT MAX(CASE WHEN g = 'purchase' THEN n END) AS n1,
         MAX(CASE WHEN g = 'click' THEN n END) AS n2,
         MAX(CASE WHEN g = 'purchase' THEN CAST(s AS DOUBLE) END) AS s1,
         MAX(CASE WHEN g = 'click' THEN CAST(s AS DOUBLE) END) AS s2,
         MAX(CASE WHEN g = 'purchase' THEN CAST(n * q - s * s AS DOUBLE) END) AS vnum1,
         MAX(CASE WHEN g = 'click' THEN CAST(n * q - s * s AS DOUBLE) END) AS vnum2
  FROM m
),
stats AS (
  SELECT n1, n2,
         s1 / n1 / 100.0 AS m1, s2 / n2 / 100.0 AS m2,
         vnum1 / n1 / (n1 - 1) AS v1c, vnum2 / n2 / (n2 - 1) AS v2c
  FROM piv
)
SELECT n1, n2,
       ROUND(m1, 6) AS mean_1, ROUND(m2, 6) AS mean_2,
       ROUND((m1 - m2) / sqrt(v1c / 10000.0 / n1 + v2c / 10000.0 / n2), 4) AS t_stat,
       ROUND(
         (v1c / n1 + v2c / n2) * (v1c / n1 + v2c / n2)
         / ((v1c / n1) * (v1c / n1) / (n1 - 1) + (v2c / n2) * (v2c / n2) / (n2 - 1)),
         2) AS welch_dof,
       ROUND((m1 - m2) / sqrt(
         ((n1 - 1) * (v1c / 10000.0) + (n2 - 1) * (v2c / 10000.0)) / (n1 + n2 - 2)
       ), 4) AS cohens_d
FROM stats
"""


@register(
    "stats_welch_ttest",
    _WELCH_SQL,
    doc=(
        "Welch's unequal-variance t-test (purchase vs click order "
        "values) + Satterthwaite dof + Cohen's d: per-group count, "
        "sum, and sum-of-squares accumulate in ONE scan as exact "
        "integers (cents; the square sums in 128-bit so no scale "
        "factor wraps), the variance numerator n·Σx²−(Σx)² is an "
        "exact integer BEFORE its single cast to double, and the two "
        "groups pivot into columns so every cross-group expression is "
        "a fixed chain of IEEE ops over bit-identical inputs — the "
        "only rounding is on the emitted t/dof/d. O(1) result from "
        "O(n) scan; the shuffle carries 2 rows"
    ),
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    c = dround(F.col("value") * 100, 0).cast("bigint")
    cd = c.cast("decimal(18,0)")
    m = ev.select(F.col("event_type").alias("g"), c.alias("c"), (cd * cd).alias("c2")).groupBy(
        "g"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("s"),
        F.sum("c2").alias("q"),
    )
    g, n, s, q = F.col("g"), F.col("n"), F.col("s"), F.col("q")
    piv = m.agg(
        F.max(F.when(g == "purchase", n)).alias("n1"),
        F.max(F.when(g == "click", n)).alias("n2"),
        F.max(F.when(g == "purchase", s.cast("double"))).alias("s1"),
        F.max(F.when(g == "click", s.cast("double"))).alias("s2"),
        F.max(F.when(g == "purchase", (n * q - s * s).cast("double"))).alias("vnum1"),
        F.max(F.when(g == "click", (n * q - s * s).cast("double"))).alias("vnum2"),
    )
    stats = piv.select(
        "n1",
        "n2",
        (F.col("s1") / F.col("n1") / F.lit(100.0)).alias("m1"),
        (F.col("s2") / F.col("n2") / F.lit(100.0)).alias("m2"),
        (F.col("vnum1") / F.col("n1") / (F.col("n1") - 1)).alias("v1c"),
        (F.col("vnum2") / F.col("n2") / (F.col("n2") - 1)).alias("v2c"),
    )
    n1, n2, m1, m2 = F.col("n1"), F.col("n2"), F.col("m1"), F.col("m2")
    v1n, v2n = F.col("v1c") / n1, F.col("v2c") / n2  # still cents²-scaled
    v1d, v2d = F.col("v1c") / F.lit(10000.0), F.col("v2c") / F.lit(10000.0)
    return stats.select(
        n1,
        n2,
        dround(m1, 6).alias("mean_1"),
        dround(m2, 6).alias("mean_2"),
        dround((m1 - m2) / F.sqrt(v1d / n1 + v2d / n2), 4).alias("t_stat"),
        dround(
            (v1n + v2n)
            * (v1n + v2n)
            / (v1n * v1n / (n1 - 1) + v2n * v2n / (n2 - 1)),
            2,
        ).alias("welch_dof"),
        dround(
            (m1 - m2)
            / F.sqrt(((n1 - 1) * v1d + (n2 - 1) * v2d) / (n1 + n2 - 2)),
            4,
        ).alias("cohens_d"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA across all five event types (wave 20)
# ---------------------------------------------------------------------------

_TYPES = ("click", "error", "purchase", "signup", "view")  # fixed literal
# order: cross-group sums chain left-associatively in THIS order on
# both engines — never a float fold over an aggregation

_ANOVA_PIV = ",\n         ".join(
    f"MAX(CASE WHEN g = '{t}' THEN n END) AS n_{t},\n"
    f"         MAX(CASE WHEN g = '{t}' THEN CAST(s AS DOUBLE) END) AS s_{t},\n"
    f"         MAX(CASE WHEN g = '{t}' THEN CAST(q AS DOUBLE) END) AS q_{t}"
    for t in _TYPES
)
_ANOVA_N = " + ".join(f"n_{t}" for t in _TYPES)
_ANOVA_S = " + ".join(f"s_{t}" for t in _TYPES)
_ANOVA_Q = " + ".join(f"q_{t}" for t in _TYPES)
_ANOVA_SSB_TERMS = " + ".join(f"s_{t} * s_{t} / n_{t}" for t in _TYPES)

_ANOVA_SQL = f"""
WITH cents AS (
  SELECT event_type AS g, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
),
m AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS HUGEINT) AS s,
         SUM(CAST(c AS HUGEINT) * c) AS q
  FROM cents GROUP BY g
),
piv AS (
  SELECT {_ANOVA_PIV}
  FROM m
),
tot AS (
  SELECT {len(_TYPES)} AS k, ({_ANOVA_N}) AS n_total,
         (({_ANOVA_SSB_TERMS}) - ({_ANOVA_S}) * ({_ANOVA_S}) / ({_ANOVA_N})) / 10000.0 AS ssb,
         (({_ANOVA_Q}) - ({_ANOVA_SSB_TERMS})) / 10000.0 AS ssw
  FROM piv
)
SELECT CAST(k AS INT) AS k, CAST(n_total AS BIGINT) AS n_total,
       ROUND(ssb, 4) AS ss_between,
       ROUND(ssw, 4) AS ss_within,
       ROUND((ssb / (k - 1)) / (ssw / (n_total - k)), 4) AS f_stat
FROM tot
"""


@register(
    "stats_anova_oneway",
    _ANOVA_SQL,
    doc=(
        "one-way ANOVA F across all five event-type groups: the "
        "k-group generalization of the Welch row. One scan "
        "accumulates exact integer (n, Σc, Σc²) per group (squares "
        "128-bit), the five groups pivot into COLUMNS, and SSB/SSW "
        "come from the textbook identities Σs_g²/n_g − S²/N and "
        "Q − Σs_g²/n_g where every sum over groups is a FIXED "
        "left-associative literal-order chain — the only fold a "
        "float ever sees has one deterministic shape on both "
        "engines. F emits with one rounding; the shuffle carries "
        "k=5 rows"
    ),
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = dround(F.col("value") * 100, 0).cast("bigint")
    cd = c.cast("decimal(18,0)")
    m = (
        ev.select(F.col("event_type").alias("g"), c.alias("c"), (cd * cd).alias("c2"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").cast("decimal(38,0)").alias("s"),
            F.sum("c2").alias("q"),
        )
    )
    g = F.col("g")
    aggs = []
    for t in _TYPES:
        aggs.append(F.max(F.when(g == t, F.col("n"))).alias(f"n_{t}"))
        aggs.append(F.max(F.when(g == t, F.col("s").cast("double"))).alias(f"s_{t}"))
        aggs.append(F.max(F.when(g == t, F.col("q").cast("double"))).alias(f"q_{t}"))
    piv = m.agg(*aggs)

    def chain(cols: list[F.Column]) -> F.Column:
        out = cols[0]
        for x in cols[1:]:
            out = out + x
        return out

    n_total = chain([F.col(f"n_{t}") for t in _TYPES])
    s_total = chain([F.col(f"s_{t}") for t in _TYPES])
    q_total = chain([F.col(f"q_{t}") for t in _TYPES])
    ssb_terms = chain([F.col(f"s_{t}") * F.col(f"s_{t}") / F.col(f"n_{t}") for t in _TYPES])
    tot = piv.select(
        F.lit(len(_TYPES)).alias("k"),
        n_total.alias("n_total"),
        ((ssb_terms - s_total * s_total / n_total) / F.lit(10000.0)).alias("ssb"),
        ((q_total - ssb_terms) / F.lit(10000.0)).alias("ssw"),
    )
    k, nt = F.col("k"), F.col("n_total")
    return tot.select(
        k.cast("int").alias("k"),
        nt.cast("bigint").alias("n_total"),
        dround(F.col("ssb"), 4).alias("ss_between"),
        dround(F.col("ssw"), 4).alias("ss_within"),
        dround((F.col("ssb") / (k - 1)) / (F.col("ssw") / (nt - k)), 4).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Permutation test with md5-deterministic resamples (wave 20)
# ---------------------------------------------------------------------------

_N_PERMS = 100

_PERM_SQL = f"""
WITH base AS (
  SELECT event_id, event_type AS g, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type IN ('purchase', 'click')
),
obs AS (
  SELECT CAST(SUM(CASE WHEN g = 'purchase' THEN c ELSE 0 END) AS HUGEINT) AS s1,
         CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
         CAST(SUM(CASE WHEN g = 'click' THEN c ELSE 0 END) AS HUGEINT) AS s2,
         CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS HUGEINT) AS n2
  FROM base
),
perms AS (
  SELECT x.p,
         CAST(SUM(CASE WHEN flip THEN c ELSE 0 END) AS HUGEINT) AS s1,
         CAST(SUM(CASE WHEN flip THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
         CAST(SUM(CASE WHEN NOT flip THEN c ELSE 0 END) AS HUGEINT) AS s2,
         CAST(SUM(CASE WHEN NOT flip THEN 1 ELSE 0 END) AS HUGEINT) AS n2
  FROM (
    SELECT b.c, pr.p,
           ((('0x' || substring(md5(CAST(pr.p AS VARCHAR) || '|' ||
              CAST(b.event_id AS VARCHAR)), 1, 8))::BIGINT) % 2) = 0 AS flip
    FROM base b CROSS JOIN (SELECT unnest(range({_N_PERMS})) AS p) pr
  ) x
  GROUP BY x.p
),
exceed AS (
  SELECT COUNT(*) AS n_exceed
  FROM perms pm CROSS JOIN obs o
  WHERE pm.n1 > 0 AND pm.n2 > 0
    AND abs(pm.s1 * pm.n2 - pm.s2 * pm.n1) * (o.n1 * o.n2)
        >= abs(o.s1 * o.n2 - o.s2 * o.n1) * (pm.n1 * pm.n2)
)
SELECT CAST({_N_PERMS} AS BIGINT) AS n_perms,
       CAST(n_exceed AS BIGINT) AS n_exceed,
       ROUND((n_exceed + 1) * 1.0 / ({_N_PERMS} + 1), 4) AS p_value
FROM exceed
"""


@register(
    "stats_permutation_test",
    _PERM_SQL,
    doc=(
        "two-sample permutation test for the purchase-vs-click mean "
        "difference with fully REPRODUCIBLE resamples: permutation p "
        "reassigns each row by the parity of md5(p|event_id) — the "
        "same label sequence on both engines, no RNG — so the "
        f"{_N_PERMS}-resample null distribution is a deterministic "
        "dataset, not a sampling artifact. |mean₁−mean₂| comparisons "
        "are integer cross-multiplies (|s1·n2−s2·n1|·(N1·N2) vs the "
        "observed mirror, 128-bit) — the add-one p-value never "
        "touches a float until its single emit division. The fan-out "
        "is a map-side ×K explode feeding ONE partial-aggregated "
        "shuffle of K rows; K is a constant, so the pass stays "
        "one-scan-linear at any corpus scale"
    ),
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    base = ev.select(
        "event_id",
        F.col("event_type").alias("g"),
        dround(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    d38 = "decimal(38,0)"
    obs = base.agg(
        F.sum(F.when(F.col("g") == "purchase", F.col("c")).otherwise(0))
        .cast(d38)
        .alias("o_s1"),
        F.sum(F.when(F.col("g") == "purchase", 1).otherwise(0)).cast(d38).alias("o_n1"),
        F.sum(F.when(F.col("g") == "click", F.col("c")).otherwise(0))
        .cast(d38)
        .alias("o_s2"),
        F.sum(F.when(F.col("g") == "click", 1).otherwise(0)).cast(d38).alias("o_n2"),
    )
    # round-14 per-task trim (guide §1.2 step 2 "per-task work";
    # probe receipt in OPTIMIZATION_r14.md): the ×K fan-out itself is
    # cheap (0.18s) — the 3.2s was the per-fanned-row expression chain.
    # Two exact-equivalence rewrites, both pinned by
    # tests/test_analytics_ops.py::test_perm_flip_parity_rewrite and the
    # unchanged md5 oracle:
    # - the per-event "|id" suffix string is built ONCE before the
    #   explode, and the K perm ids explode as pre-rendered string
    #   literals, so the fanned row pays one concat + one md5 and no
    #   casts;
    # - flip was conv(substring(md5,1,8),16,10) % 2 — the parity of a
    #   base-16 number is the parity of its least-significant digit
    #   (16 ≡ 0 mod 2), i.e. of hex char 8 alone; the radix-convert of
    #   all 8 chars is replaced by a single-char membership test.
    fanned = base.select(
        F.concat(F.lit("|"), F.col("event_id").cast("string")).alias("sfx"),
        "c",
        F.explode(F.array(*[F.lit(str(p)) for p in range(_N_PERMS)])).alias("p"),
    )
    flip = F.substring(F.md5(F.concat(F.col("p"), F.col("sfx"))), 8, 1).isin(
        "0", "2", "4", "6", "8", "a", "c", "e"
    )
    perms = (
        fanned.withColumn("flip", flip)
        .groupBy("p")
        .agg(
            F.sum(F.when(F.col("flip"), F.col("c")).otherwise(0)).cast(d38).alias("s1"),
            F.sum(F.when(F.col("flip"), 1).otherwise(0)).cast(d38).alias("n1"),
            F.sum(F.when(~F.col("flip"), F.col("c")).otherwise(0)).cast(d38).alias("s2"),
            F.sum(F.when(~F.col("flip"), 1).otherwise(0)).cast(d38).alias("n2"),
        )
    )
    s1, n1, s2, n2 = F.col("s1"), F.col("n1"), F.col("s2"), F.col("n2")
    os1, on1, os2, on2 = F.col("o_s1"), F.col("o_n1"), F.col("o_s2"), F.col("o_n2")
    exceed = (
        perms.crossJoin(F.broadcast(obs))  # 1-row observed frame
        .filter(
            (n1 > 0)
            & (n2 > 0)
            & (
                F.abs(s1 * n2 - s2 * n1) * (on1 * on2)
                >= F.abs(os1 * on2 - os2 * on1) * (n1 * n2)
            )
        )
        .agg(F.count(F.lit(1)).alias("n_exceed"))
    )
    return exceed.select(
        F.lit(_N_PERMS).cast("bigint").alias("n_perms"),
        F.col("n_exceed").cast("bigint").alias("n_exceed"),
        dround(
            (F.col("n_exceed") + 1) * F.lit(1.0) / F.lit(_N_PERMS + 1), 4
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Wave 27: SPRT — Wald's sequential probability ratio test
# ---------------------------------------------------------------------------

import math as _math

_SPRT_P0, _SPRT_P1 = 0.4, 0.5  # H0 vs H1 conversion rate
_SPRT_ALPHA = _SPRT_BETA = 0.05
# pre-rounded integer NANO log-likelihood increments and boundaries —
# the text_js_divergence "once-rounded integer ln" device: Python
# computes each log ONCE and injects the SAME int64 literal into both
# engines, so the cumulative LLR is exact integer arithmetic
_SPRT_L1 = round(_math.log(_SPRT_P1 / _SPRT_P0) * 1e9)  # per conversion
_SPRT_L0 = round(_math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1e9)  # per miss
_SPRT_A = round(_math.log((1 - _SPRT_BETA) / _SPRT_ALPHA) * 1e9)  # accept H1
_SPRT_B = round(_math.log(_SPRT_BETA / (1 - _SPRT_ALPHA)) * 1e9)  # accept H0

_SPRT_SQL = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_pos,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_neg
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY 1
),
walk AS (
  SELECT day, n_pos, n_neg,
         SUM(n_pos * CAST({_SPRT_L1} AS BIGINT)
             + n_neg * CAST({_SPRT_L0} AS BIGINT))
           OVER (ORDER BY day) AS cum_llr_nano
  FROM daily
)
SELECT day, CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       CAST(cum_llr_nano AS BIGINT) AS cum_llr_nano,
       CASE WHEN cum_llr_nano >= {_SPRT_A} THEN 'accept_h1'
            WHEN cum_llr_nano <= {_SPRT_B} THEN 'accept_h0'
            ELSE 'continue' END AS state
FROM walk
"""


@register(
    "stats_sprt",
    _SPRT_SQL,
    doc=(
        "Wald's SPRT — the sequential-analysis family beside the "
        "fixed-horizon tests: is the purchase:click conversion rate "
        f"{_SPRT_P1} (H1) or {_SPRT_P0} (H0)? Per-day (conversions, "
        "misses) reduce FIRST, each day's log-likelihood increment is "
        "n⁺·L1 + n⁻·L0 over PRE-ROUNDED integer-nano log literals "
        "(Python computes each ln once; both engines add the same "
        "int64 constants — the once-rounded integer-ln device, so "
        "the random walk can never drift), and ONE cumulative window "
        "over the O(days) frame emits the trajectory with Wald "
        "boundary states ln((1−β)/α) / ln(β/(1−α)). Decision "
        "granularity is the day — the reduce-first trade the doc "
        "states explicitly (tick-level SPRT would need a global "
        "ordered walk; daily batching is how sequential monitors "
        "actually deploy)"
    ),
)
def stats_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_pos"
        ),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_neg"),
    )
    inc = F.col("n_pos") * F.lit(_SPRT_L1).cast("bigint") + F.col("n_neg") * F.lit(
        _SPRT_L0
    ).cast("bigint")
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    walk = daily.select(
        "day", "n_pos", "n_neg", F.sum(inc).over(w).alias("cum_llr_nano")
    )
    c = F.col("cum_llr_nano")
    return walk.select(
        "day",
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        c.cast("bigint").alias("cum_llr_nano"),
        F.when(c >= _SPRT_A, F.lit("accept_h1"))
        .when(c <= _SPRT_B, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("state"),
    )


# ---------------------------------------------------------------------------
# Wave 35: Wald-Wolfowitz runs test (randomness diagnostic)
# ---------------------------------------------------------------------------

_RUNS_SQL = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         arg_max(CAST(ROUND(value * 100, 0) AS BIGINT),
                 lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                 || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS close_c
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
moves AS (
  SELECT event_type, day,
         CASE WHEN close_c > lag(close_c) OVER w THEN 1
              WHEN close_c < lag(close_c) OVER w THEN 0 END AS up
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
seq AS (
  SELECT event_type, up,
         CASE WHEN lag(up) OVER (PARTITION BY event_type ORDER BY day)
                   IS DISTINCT FROM up THEN 1 ELSE 0 END AS brk
  FROM moves WHERE up IS NOT NULL
),
agg AS (
  SELECT event_type,
         CAST(SUM(up) AS BIGINT) AS n1,
         CAST(SUM(1 - up) AS BIGINT) AS n0,
         CAST(SUM(brk) AS BIGINT) AS runs
  FROM seq GROUP BY event_type
)
SELECT event_type, n1, n0, runs,
       ROUND(1.0 + 2.0 * n1 * n0 / (n1 + n0), 4) AS expected_runs,
       ROUND((runs - (1.0 + 2.0 * n1 * n0 / (n1 + n0)))
             / sqrt(2.0 * n1 * n0 * (2.0 * n1 * n0 - (n1 + n0))
                    / ((n1 + n0) * (n1 + n0) * 1.0 * ((n1 + n0) - 1))),
             4) AS z_stat
FROM agg
WHERE n1 > 0 AND n0 > 0
"""


@register(
    "stats_runs_test",
    _RUNS_SQL,
    doc=(
        "Wald-Wolfowitz runs test on the daily up/down move sequence "
        "— the randomness diagnostic beside events_autocorrelation "
        "(too few runs = trending, too many = mean-reverting): moves "
        "reduce from int-cents daily closes (flat days drop — they "
        "are neither symbol), the run count is Σ[move differs from "
        "its predecessor] via ONE lag window whose null-safe compare "
        "makes the first move open run #1 — R is the exact total run "
        "count as a pure 0/1 integer sum — and E[R], Var[R], z are "
        "fixed IEEE chains over "
        "the exact integer (n1, n0, R). Two windows + one aggregation "
        "over the O(days) frame"
    ),
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    daily = _daily_close(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("day")
    prev = F.lag("close_c").over(w)
    moves = daily.select(
        "event_type",
        "day",
        F.when(F.col("close_c") > prev, 1)
        .when(F.col("close_c") < prev, 0)
        .alias("up"),
    ).filter(F.col("up").isNotNull())
    brk = F.when(
        ~F.lag("up").over(w).eqNullSafe(F.col("up")), 1
    ).otherwise(0)
    seq = moves.select("event_type", "up", brk.alias("brk"))
    agg = seq.groupBy("event_type").agg(
        F.sum("up").cast("bigint").alias("n1"),
        F.sum(1 - F.col("up")).cast("bigint").alias("n0"),
        F.sum("brk").cast("bigint").alias("runs"),
    ).filter((F.col("n1") > 0) & (F.col("n0") > 0))
    n1, n0, r = F.col("n1"), F.col("n0"), F.col("runs")
    n = n1 + n0
    e = F.lit(1.0) + F.lit(2.0) * n1 * n0 / n
    var = (
        F.lit(2.0)
        * n1
        * n0
        * (F.lit(2.0) * n1 * n0 - n)
        / (n * n * F.lit(1.0) * (n - 1))
    )
    return agg.select(
        "event_type",
        "n1",
        "n0",
        "runs",
        dround(e, 4).alias("expected_runs"),
        dround((r - e) / F.sqrt(var), 4).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Wave 39: Poisson bootstrap — the single-pass, corpus-scale bootstrap
# ---------------------------------------------------------------------------

# Poisson(1) inverse-CDF thresholds on the 1e8 integer grid (cumulative
# P(K<=k), floored once): a uniform md5 draw u in [0,1e8) maps to
# k = #{thresholds <= u}, capped at 5 (P(K>5) ~ 0.06%). Literal ints →
# bit-identical on both engines.
_PB_THRESH = (36787944, 73575888, 91969860, 98101184, 99634015)
_PB_B = 50  # replicates
_PB_LO = 2  # 2.5% rank among 50 sorted replicate means (ceil(0.025*50)+? fixed rank contract)
_PB_HI = 49  # 97.5% rank


def _pb_k_sql(u: str) -> str:
    return " + ".join(f"CASE WHEN {u} >= {t} THEN 1 ELSE 0 END" for t in _PB_THRESH)


_PB_SQL = f"""
WITH rows_x AS (
  SELECT l_orderkey * 10 + l_linenumber AS rid,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
  FROM lineitem
),
draws AS (
  SELECT b.b,
         ({_pb_k_sql("('0x' || substr(md5('pb|' || CAST(b.b AS VARCHAR) || '|' || CAST(r.rid AS VARCHAR)), 1, 8))::BIGINT % 100000000")}) AS k,
         r.cents
  FROM range({_PB_B}) b(b) CROSS JOIN rows_x r
),
reps AS (
  SELECT b,
         SUM(CAST(k AS HUGEINT) * cents) AS skx,
         SUM(CAST(k AS HUGEINT)) AS sk
  FROM draws GROUP BY b
),
means AS (
  SELECT b, CAST(skx AS DOUBLE) / CAST(sk AS DOUBLE) AS m FROM reps
),
ranked AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM means),
pt AS (
  SELECT SUM(CAST(cents AS HUGEINT) ) AS s, COUNT(*)::HUGEINT AS n FROM rows_x
)
SELECT CAST({_PB_B} AS BIGINT) AS n_replicates,
       ROUND(CAST(pt.s AS DOUBLE) / CAST(pt.n AS DOUBLE) / 100.0, 4) AS mean_price,
       ROUND(lo.m / 100.0, 4) AS ci_lo,
       ROUND(hi.m / 100.0, 4) AS ci_hi
FROM pt
CROSS JOIN (SELECT m FROM ranked WHERE rn = {_PB_LO}) lo
CROSS JOIN (SELECT m FROM ranked WHERE rn = {_PB_HI}) hi
"""


@register(
    "stats_poisson_bootstrap",
    _PB_SQL,
    doc=(
        "Poisson bootstrap — THE bootstrap that survives 100 TB "
        "(Chamandy et al., Google): classic resampling needs a global "
        "index and n draws per replicate; the Poisson trick replaces "
        "it with an INDEPENDENT per-row Poisson(1) weight per "
        "replicate, so all B replicates compute in ONE pass with "
        "map-side partial aggregation — the shuffle carries B rows "
        "per partition, never the corpus (vs stats_bootstrap_ci's "
        "index-draw form, which is exact but only works because its "
        "input is the tiny daily frame). Weights are deterministic: "
        "md5(b|row) uniform on the 1e8 grid → inverse-CDF through 5 "
        "integer thresholds (floored once, literal on both engines). "
        "Per-replicate Σk·x and Σk ride HUGEINT/decimal (k ≤ 5, "
        "cents ~1e7, corpus rows → past int64), one double division "
        "per replicate mean, fixed-rank 2.5/97.5% picks from the 50 "
        "sorted means"
    ),
)
def stats_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    rows_x = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        dround(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
    )
    bs = F.explode(F.sequence(F.lit(0), F.lit(_PB_B - 1))).alias("b")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("pb|"),
                        F.col("b").cast("string"),
                        F.lit("|"),
                        F.col("rid").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100000000
    )
    k = None
    for t in _PB_THRESH:
        term = F.when(u >= t, 1).otherwise(0)
        k = term if k is None else k + term
    draws = rows_x.select("rid", "cents", bs).select(
        "b", k.alias("k"), "cents"
    )
    reps = draws.groupBy("b").agg(
        F.sum(
            (F.col("k").cast("decimal(19,0)") * F.col("cents")).cast("decimal(26,0)")
        ).alias("skx"),
        F.sum(F.col("k").cast("decimal(19,0)")).alias("sk"),
    )
    means = reps.select(
        "b", (F.col("skx").cast("double") / F.col("sk").cast("double")).alias("m")
    )
    wr = W.orderBy("m", "b")
    ranked = means.select("m", F.row_number().over(wr).alias("rn"))
    pt = rows_x.agg(
        F.sum(F.col("cents").cast("decimal(19,0)")).alias("s"),
        F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
    )
    lo = ranked.filter(F.col("rn") == _PB_LO).select(F.col("m").alias("mlo"))
    hi = ranked.filter(F.col("rn") == _PB_HI).select(F.col("m").alias("mhi"))
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.lit(_PB_B).cast("bigint").alias("n_replicates"),
            dround(
                F.col("s").cast("double") / F.col("n").cast("double") / 100.0, 4
            ).alias("mean_price"),
            dround(F.col("mlo") / 100.0, 4).alias("ci_lo"),
            dround(F.col("mhi") / 100.0, 4).alias("ci_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 46: Benjamini-Hochberg FDR — multiple-testing control over the
# (event_type x iso-dow) z-test family
# ---------------------------------------------------------------------------

_BH_Q = 0.10
# Abramowitz-Stegun 7.1.26 erfc polynomial — identical literals on both
# engines, so the p-value is ONE fixed IEEE chain from the integer moments
_BH_INV_SQRT2 = 0.7071067811865476

_BH_SQL = f"""
WITH cents AS (
  SELECT event_type, isodow(ts) AS dow,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
),
grp AS (
  SELECT event_type, dow, COUNT(*)::HUGEINT AS na,
         SUM(c)::HUGEINT AS sa, SUM(CAST(c AS HUGEINT) * c) AS qa
  FROM cents GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(na) AS nt, SUM(sa) AS st, SUM(qa) AS qt
  FROM grp GROUP BY 1
),
z AS (
  SELECT g.event_type, g.dow, g.na, t.nt - g.na AS nb,
         g.sa, t.st - g.sa AS sb, g.qa, t.qt - g.qa AS qb
  FROM grp g JOIN tot t USING (event_type)
),
stat AS (
  SELECT event_type, dow, CAST(na AS BIGINT) AS n_dow,
         (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
          - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
         / sqrt((CAST(na * qa - sa * sa AS DOUBLE)
                 / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE)))
                  / CAST(na AS DOUBLE)
                + (CAST(nb * qb - sb * sb AS DOUBLE)
                   / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)))
                  / CAST(nb AS DOUBLE)) AS zv
  FROM z
  WHERE na > 1 AND nb > 1 AND (na * qa - sa * sa > 0 OR nb * qb - sb * sb > 0)
),
pv AS (
  SELECT event_type, dow, n_dow, zv,
         ROUND((((({1.061405429!r} * (1.0 / (1.0 + {0.3275911!r} * (ABS(zv) * {_BH_INV_SQRT2!r})))
                    - {1.453152027!r}) * (1.0 / (1.0 + {0.3275911!r} * (ABS(zv) * {_BH_INV_SQRT2!r})))
                   + {1.421413741!r}) * (1.0 / (1.0 + {0.3275911!r} * (ABS(zv) * {_BH_INV_SQRT2!r})))
                  - {0.284496736!r}) * (1.0 / (1.0 + {0.3275911!r} * (ABS(zv) * {_BH_INV_SQRT2!r})))
                 + {0.254829592!r}) * (1.0 / (1.0 + {0.3275911!r} * (ABS(zv) * {_BH_INV_SQRT2!r})))
               * exp(-((ABS(zv) * {_BH_INV_SQRT2!r}) * (ABS(zv) * {_BH_INV_SQRT2!r}))), 10) AS p
  FROM stat
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY p, event_type, dow) AS i,
         COUNT(*) OVER () AS m
  FROM pv
),
adj AS (
  SELECT *, LEAST(MIN(p * CAST(m AS DOUBLE) / CAST(i AS DOUBLE))
                    OVER (ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
                  1.0) AS p_adj
  FROM ranked
)
SELECT event_type, CAST(dow AS BIGINT) AS dow, n_dow,
       ROUND(zv, 6) AS z, p AS p_raw,
       ROUND(p_adj, 10) AS p_adj, p_adj <= {_BH_Q!r} AS reject
FROM adj
"""


@register(
    "stats_benjamini_hochberg",
    _BH_SQL,
    doc=(
        "Benjamini-Hochberg FDR control — the multiple-testing "
        "correction every metrics platform needs once it tests many "
        "segments at once: 35 hypotheses (event_type x iso-weekday "
        "mean shift vs the type's remaining days), each a Welch z "
        "from exact 128-bit integer moments (group vs complement by "
        "subtraction from the per-type totals — one shuffle, no "
        "second scan), p = erfc(|z|/sqrt2) via the Abramowitz-Stegun "
        "polynomial as ONE fixed IEEE chain ROUNDED onto a 1e-10 "
        "p-grid before any cross-row use (the once-rounded device, "
        "pointed at p-values), then the step-up: rank by p, "
        "p_adj = cummin_{{j>=i}}(p_j*m/j) via one "
        "current-to-unbounded-following window. The BH frame is "
        "O(hypotheses) — 35 rows — so the global window is free; at "
        "scale the family axis partitions (per metric, per day) and "
        "the moments pass stays one partial-aggregated shuffle. "
        "Integer radicand guards drop degenerate cells; reject at "
        "q=0.10"
    ),
)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cents = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.expr("weekday(ts)") + 1).alias("dow"),
        dround(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    d38 = "decimal(38,0)"
    grp = cents.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast(d38).alias("na"),
        F.sum("c").cast(d38).alias("sa"),
        F.sum((F.col("c").cast("decimal(19,0)") * F.col("c")).cast("decimal(26,0)"))
        .cast(d38)
        .alias("qa"),
    )
    tot = grp.groupBy("event_type").agg(
        F.sum("na").cast(d38).alias("nt"),
        F.sum("sa").cast(d38).alias("st"),
        F.sum("qa").cast(d38).alias("qt"),
    )
    z = grp.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        "na",
        (F.col("nt") - F.col("na")).alias("nb"),
        "sa",
        (F.col("st") - F.col("sa")).alias("sb"),
        "qa",
        (F.col("qt") - F.col("qa")).alias("qb"),
    )
    na, nb, sa, sb, qa, qb = (F.col(c) for c in ("na", "nb", "sa", "sb", "qa", "qb"))
    rada = na * qa - sa * sa
    radb = nb * qb - sb * sb
    nad, nbd = na.cast("double"), nb.cast("double")
    zv = (sa.cast("double") / nad - sb.cast("double") / nbd) / F.sqrt(
        (rada.cast("double") / (nad * nad)) / nad
        + (radb.cast("double") / (nbd * nbd)) / nbd
    )
    stat = z.filter((na > 1) & (nb > 1) & ((rada > 0) | (radb > 0))).select(
        "event_type", "dow", na.cast("bigint").alias("n_dow"), zv.alias("zv")
    )
    x = F.abs(F.col("zv")) * F.lit(_BH_INV_SQRT2)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        (
            (
                (F.lit(1.061405429) * t - F.lit(1.453152027)) * t
                + F.lit(1.421413741)
            )
            * t
            - F.lit(0.284496736)
        )
        * t
        + F.lit(0.254829592)
    ) * t
    pv = stat.select(
        "event_type",
        "dow",
        "n_dow",
        "zv",
        dround(poly * F.exp(-(x * x)), 10).alias("p"),
    )
    wr = W.orderBy("p", "event_type", "dow")
    ranked = pv.select(
        "*",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1))
        .over(W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("m"),
    )
    wmin = W.orderBy("i").rowsBetween(0, W.unboundedFollowing)
    adj = ranked.select(
        "*",
        F.least(
            F.min(
                F.col("p") * F.col("m").cast("double") / F.col("i").cast("double")
            ).over(wmin),
            F.lit(1.0),
        ).alias("p_adj"),
    )
    return adj.select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        "n_dow",
        dround(F.col("zv"), 6).alias("z"),
        F.col("p").alias("p_raw"),
        dround(F.col("p_adj"), 10).alias("p_adj"),
        (F.col("p_adj") <= F.lit(_BH_Q)).alias("reject"),
    )


# ---------------------------------------------------------------------------
# Wave 48: Brown-Forsythe variance-homogeneity test — ANOVA's machinery
# pointed at |x - median_g| (the robust Levene variant)
# ---------------------------------------------------------------------------

_BF_PIV = ",\n         ".join(
    f"MAX(CASE WHEN g = '{t}' THEN n END) AS n_{t},\n"
    f"         MAX(CASE WHEN g = '{t}' THEN CAST(s AS DOUBLE) END) AS s_{t},\n"
    f"         MAX(CASE WHEN g = '{t}' THEN CAST(q AS DOUBLE) END) AS q_{t}"
    for t in _TYPES
)
_BF_N = " + ".join(f"n_{t}" for t in _TYPES)
_BF_S = " + ".join(f"s_{t}" for t in _TYPES)
_BF_Q = " + ".join(f"q_{t}" for t in _TYPES)
_BF_SSB = " + ".join(f"s_{t} * s_{t} / n_{t}" for t in _TYPES)

_BF_SQL = f"""
WITH cents AS (
  SELECT event_type AS g, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
),
med AS (
  SELECT g, c AS med FROM (
    SELECT g, c, row_number() OVER (PARTITION BY g ORDER BY c) AS rn,
           COUNT(*) OVER (PARTITION BY g) AS cnt
    FROM cents
  ) WHERE rn = (cnt + 1) // 2
),
zdev AS (
  SELECT cents.g, ABS(c - med) AS z FROM cents JOIN med USING (g)
),
m AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(z) AS HUGEINT) AS s,
         SUM(CAST(z AS HUGEINT) * z) AS q
  FROM zdev GROUP BY g
),
piv AS (
  SELECT {_BF_PIV}
  FROM m
),
tot AS (
  SELECT {len(_TYPES)} AS k, ({_BF_N}) AS n_total,
         (({_BF_SSB}) - ({_BF_S}) * ({_BF_S}) / ({_BF_N})) / 10000.0 AS ssb,
         (({_BF_Q}) - ({_BF_SSB})) / 10000.0 AS ssw
  FROM piv
)
SELECT CAST(k AS INT) AS k, CAST(n_total AS BIGINT) AS n_total,
       ROUND(ssb, 4) AS ssb_z,
       ROUND(ssw, 4) AS ssw_z,
       ROUND((ssb / (k - 1)) / (ssw / (n_total - k)), 4) AS bf_stat
FROM tot
"""


@register(
    "stats_brown_forsythe",
    _BF_SQL,
    doc=(
        "Brown-Forsythe variance-homogeneity test — the robust Levene "
        "variant every ANOVA should be preceded by: one-way ANOVA's "
        "exact machinery pointed at z = |x - median_g|. Per-group "
        "medians are the LOWER-median element picked by position "
        "(row_number = (n+1) div 2 — an integer cents value, "
        "tie-order-immune), deviations are exact integers, and the "
        "(n, sum z, sum z^2) moments pivot into per-group COLUMNS so "
        "every cross-group sum chains left-associatively in the "
        "fixed _TYPES order (the stats_anova_oneway device). W "
        "follows as one fixed IEEE chain. At scale the exact median "
        "is the contract (per-group sort-shuffle); swap in "
        "approx_percentile for the billions-of-rows lane and the "
        "rest of the plan is unchanged"
    ),
)
def stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    c = dround(F.col("value") * 100, 0).cast("bigint")
    cents = ev.select(F.col("event_type").alias("g"), c.alias("c"))
    wg = W.partitionBy("g").orderBy("c")
    wc = W.partitionBy("g")
    # (cnt+1)/2 on bigints yields double in Spark; use floor-div expr
    med = (
        cents.select(
            "g",
            "c",
            F.row_number().over(wg).alias("rn"),
            F.count(F.lit(1))
            .over(wc.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
            .alias("cnt"),
        )
        .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select("g", F.col("c").alias("med"))
    )
    zdev = cents.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("c") - F.col("med")).alias("z")
    )
    zd = F.col("z").cast("decimal(18,0)")
    m = (
        zdev.select("g", "z", (zd * zd).alias("z2"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("z").cast("decimal(38,0)").alias("s"),
            F.sum("z2").alias("q"),
        )
    )
    g = F.col("g")
    aggs = []
    for t in _TYPES:
        aggs.append(F.max(F.when(g == t, F.col("n"))).alias(f"n_{t}"))
        aggs.append(F.max(F.when(g == t, F.col("s").cast("double"))).alias(f"s_{t}"))
        aggs.append(F.max(F.when(g == t, F.col("q").cast("double"))).alias(f"q_{t}"))
    piv = m.agg(*aggs)

    def chain(cols):
        out = cols[0]
        for x in cols[1:]:
            out = out + x
        return out

    n_total = chain([F.col(f"n_{t}") for t in _TYPES])
    s_total = chain([F.col(f"s_{t}") for t in _TYPES])
    q_total = chain([F.col(f"q_{t}") for t in _TYPES])
    ssb_terms = chain(
        [F.col(f"s_{t}") * F.col(f"s_{t}") / F.col(f"n_{t}") for t in _TYPES]
    )
    tot = piv.select(
        F.lit(len(_TYPES)).alias("k"),
        n_total.alias("n_total"),
        ((ssb_terms - s_total * s_total / n_total) / F.lit(10000.0)).alias("ssb"),
        ((q_total - ssb_terms) / F.lit(10000.0)).alias("ssw"),
    )
    k, nt = F.col("k"), F.col("n_total")
    return tot.select(
        k.cast("int").alias("k"),
        nt.cast("bigint").alias("n_total"),
        dround(F.col("ssb"), 4).alias("ssb_z"),
        dround(F.col("ssw"), 4).alias("ssw_z"),
        dround((F.col("ssb") / (k - 1)) / (F.col("ssw") / (nt - k)), 4).alias(
            "bf_stat"
        ),
    )


# ---------------------------------------------------------------------------
# Wave 49: Grubbs outlier statistic — the single-most-extreme-point
# test, per event-type group
# ---------------------------------------------------------------------------

_GRUBBS_SQL = """
WITH cents AS (
  SELECT event_type AS g, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
),
m AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS HUGEINT) AS s,
         SUM(CAST(c AS HUGEINT) * c) AS q
  FROM cents GROUP BY g
),
dev AS (
  SELECT cents.g, c,
         ABS(CAST(n AS HUGEINT) * c - s) AS absdev_n, n, s, q
  FROM cents JOIN m ON m.g = cents.g
),
suspect AS (
  SELECT g, c AS suspect_c, absdev_n, n, s, q FROM (
    SELECT *, row_number() OVER (PARTITION BY g
                                 ORDER BY absdev_n DESC, c DESC) AS rn
    FROM dev
  ) WHERE rn = 1
)
SELECT g AS event_type, n,
       ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean_val,
       ROUND(CAST(suspect_c AS DOUBLE) / 100.0, 2) AS suspect_val,
       ROUND((CAST(absdev_n AS DOUBLE) / CAST(n AS DOUBLE))
             / sqrt(CAST(n * q - s * s AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 6) AS g_stat
FROM suspect
WHERE n > 2 AND n * q - s * s > 0
"""


@register(
    "stats_grubbs_outlier",
    _GRUBBS_SQL,
    doc=(
        "Grubbs outlier statistic — G = max|x - mean| / s per group, "
        "the classical single-outlier screen beside the MAD/SPC "
        "anomaly rows: the argmax deviation rides an ALL-INTEGER "
        "device (|n*x - s| — mean comparison without division, the "
        "golden-cross cross-multiply trick), the suspect point is "
        "deterministic (ties break toward the larger value), and G "
        "is one fixed IEEE chain over the exact (n, S, Q, absdev) "
        "integers with the sample-variance radicand guard. Compare "
        "against the t-based critical value downstream (a literal "
        "table lookup — no quantile machinery in the scan path). "
        "One moments shuffle + one window over the group; O(types) "
        "output"
    ),
)
def stats_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    c = dround(F.col("value") * 100, 0).cast("bigint")
    cents = ev.select(F.col("event_type").alias("g"), c.alias("c"))
    cd = F.col("c").cast("decimal(18,0)")
    m = (
        cents.select("g", "c", (cd * cd).alias("c2"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").cast("decimal(38,0)").alias("s"),
            F.sum("c2").cast("decimal(38,0)").alias("q"),
        )
    )
    dev = cents.join(F.broadcast(m), "g").select(
        "g",
        "c",
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("c").cast("decimal(19,0)")
            - F.col("s")
        ).alias("absdev_n"),
        "n",
        "s",
        "q",
    )
    wr = W.partitionBy("g").orderBy(F.col("absdev_n").desc(), F.col("c").desc())
    suspect = (
        dev.select("*", F.row_number().over(wr).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    rad = n.cast("decimal(38,0)") * q - s * s
    nd = n.cast("double")
    return suspect.filter((n > 2) & (rad > 0)).select(
        F.col("g").alias("event_type"),
        "n",
        dround(s.cast("double") / nd / F.lit(100.0), 6).alias("mean_val"),
        dround(F.col("c").cast("double") / F.lit(100.0), 2).alias("suspect_val"),
        dround(
            (F.col("absdev_n").cast("double") / nd)
            / F.sqrt(rad.cast("double") / (nd * (n - 1).cast("double"))),
            6,
        ).alias("g_stat"),
    )


# ---------------------------------------------------------------------------
# Wave 52: Jarque-Bera normality test — skewness/kurtosis from exact
# power sums (the agg_moments_merge device pointed at inference)
# ---------------------------------------------------------------------------

_JB_SQL = """
WITH vals AS (
  SELECT event_type AS g, CAST(ROUND(value, 0) AS BIGINT) AS v
  FROM events
),
m AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS HUGEINT) AS s1,
         SUM(CAST(v AS HUGEINT) * v) AS s2,
         SUM(CAST(v AS HUGEINT) * v * v) AS s3,
         SUM(CAST(v AS HUGEINT) * v * v * v) AS s4
  FROM vals GROUP BY g
),
c AS (
  SELECT g, n,
         CAST(s1 AS DOUBLE) / n AS mu,
         CAST(s2 AS DOUBLE) / n AS r2,
         CAST(s3 AS DOUBLE) / n AS r3,
         CAST(s4 AS DOUBLE) / n AS r4
  FROM m
),
mom AS (
  SELECT g, n,
         r2 - mu * mu AS m2,
         r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
         r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu AS m4
  FROM c
),
sk AS (
  SELECT g, n, m3 / sqrt(m2 * m2 * m2) AS skew, m4 / (m2 * m2) AS kurt
  FROM mom WHERE m2 > 0
)
SELECT g AS event_type, n,
       ROUND(skew, 6) AS skewness,
       ROUND(kurt, 6) AS kurtosis,
       ROUND(n / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0), 4)
         AS jb_stat
FROM sk
"""


@register(
    "stats_jarque_bera",
    _JB_SQL,
    doc=(
        "Jarque-Bera normality test — the moment-based screen "
        "(JB = n/6*(S^2 + (K-3)^2/4)) that decides whether the "
        "t/ANOVA rows upstream are even applicable: per-group exact "
        "128-bit power sums (n, sum v..v^4) on the whole-unit grid "
        "(the agg_moments_merge bound: v^4 stays in HUGEINT at any "
        "SF) collected in ONE partial-aggregated shuffle, central "
        "moments and the statistic as one fixed IEEE chain per "
        "group — no cross-group folds at all, so no pivot needed. "
        "Zero-variance guard; O(types) output. The power sums are "
        "merge-by-addition, so per-shard JB at 100 TB is the same "
        "two-level aggregate as the moments row"
    ),
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = dround(F.col("value"), 0).cast("bigint")
    d38 = "decimal(38,0)"
    vd = F.col("v").cast("decimal(19,0)")
    m = (
        ev.select(F.col("event_type").alias("g"), v.alias("v"))
        .select(
            "g",
            "v",
            (vd * vd).cast("decimal(26,0)").alias("v2"),
            (vd * vd * vd).cast("decimal(30,0)").alias("v3"),
            (vd * vd * vd * vd).cast("decimal(34,0)").alias("v4"),
        )
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast(d38).alias("s1"),
            F.sum("v2").cast(d38).alias("s2"),
            F.sum("v3").cast(d38).alias("s3"),
            F.sum("v4").cast(d38).alias("s4"),
        )
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    c = m.select("g", "n", mu.alias("mu"), r2.alias("r2"), r3.alias("r3"), r4.alias("r4"))
    mu, r2, r3, r4 = F.col("mu"), F.col("r2"), F.col("r3"), F.col("r4")
    mom = c.select(
        "g",
        "n",
        (r2 - mu * mu).alias("m2"),
        (r3 - F.lit(3.0) * mu * r2 + F.lit(2.0) * mu * mu * mu).alias("m3"),
        (
            r4
            - F.lit(4.0) * mu * r3
            + F.lit(6.0) * mu * mu * r2
            - F.lit(3.0) * mu * mu * mu * mu
        ).alias("m4"),
    )
    m2, m3, m4 = F.col("m2"), F.col("m3"), F.col("m4")
    sk = mom.filter(m2 > 0).select(
        "g",
        "n",
        (m3 / F.sqrt(m2 * m2 * m2)).alias("skew"),
        (m4 / (m2 * m2)).alias("kurt"),
    )
    skew, kurt = F.col("skew"), F.col("kurt")
    return sk.select(
        F.col("g").alias("event_type"),
        "n",
        dround(skew, 6).alias("skewness"),
        dround(kurt, 6).alias("kurtosis"),
        dround(
            F.col("n") / F.lit(6.0)
            * (skew * skew + (kurt - F.lit(3.0)) * (kurt - F.lit(3.0)) / F.lit(4.0)),
            4,
        ).alias("jb_stat"),
    )


# ---------------------------------------------------------------------------
# Wave 55: Wilcoxon signed-rank — the PAIRED robust test (view close vs
# purchase close per day), completing mann_whitney's unpaired row
# ---------------------------------------------------------------------------

_WSR_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         arg_max(CAST(ROUND(value * 100, 0) AS BIGINT),
                 lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                 || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS close_c
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
paired AS (
  SELECT v.close_c - p.close_c AS d
  FROM (SELECT day, close_c FROM daily WHERE event_type = 'view') v
  JOIN (SELECT day, close_c FROM daily WHERE event_type = 'purchase') p
    ON p.day = v.day
  WHERE v.close_c <> p.close_c
),
ranked AS (
  SELECT d, ABS(d) AS ad,
         COUNT(*) OVER (PARTITION BY ABS(d)) AS t,
         2 * (RANK() OVER (ORDER BY ABS(d))) - 1
           + COUNT(*) OVER (PARTITION BY ABS(d)) AS r2
  FROM paired
),
s AS (
  SELECT COUNT(*)::HUGEINT AS n,
         SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END)::HUGEINT AS w2_plus,
         SUM(CASE WHEN d < 0 THEN r2 ELSE 0 END)::HUGEINT AS w2_minus,
         SUM(CASE WHEN t > 1 THEN 1 ELSE 0 END)::BIGINT AS n_tied
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       ROUND(CAST(w2_plus AS DOUBLE) / 2.0, 1) AS w_plus,
       ROUND(CAST(w2_minus AS DOUBLE) / 2.0, 1) AS w_minus,
       n_tied,
       ROUND((CAST(w2_plus AS DOUBLE) / 2.0
              - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
             / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
                    * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0), 6) AS z_approx
FROM s WHERE n > 0
"""


@register(
    "stats_wilcoxon_signed_rank",
    _WSR_SQL,
    doc=(
        "Wilcoxon signed-rank test — the PAIRED robust location test "
        "(is the view-close minus purchase-close spread centered at "
        "zero?) completing stats_mann_whitney's unpaired row: zero "
        "differences drop (the classic rule), |d| ranks ride an "
        "ALL-INTEGER device — the tie-averaged rank a of a group "
        "starting at RANK r with t members is (2r-1+t)/2, so 2a = "
        "2r-1+t is exact integer and W+ accumulates DOUBLED with the "
        "/2 deferred to emit (the hodges-lehmann deferral). The "
        "normal z uses the standard n(n+1)(2n+1)/24 variance in one "
        "fixed chain. One day-reduce + one rank window over the "
        "O(days) paired frame; O(1) output"
    ),
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    daily = _daily_close(spark, sf_dir)
    v = daily.filter(F.col("event_type") == "view").select(
        "day", F.col("close_c").alias("vc")
    )
    p = daily.filter(F.col("event_type") == "purchase").select(
        "day", F.col("close_c").alias("pc")
    )
    paired = (
        v.join(p, "day")
        .select((F.col("vc") - F.col("pc")).alias("d"))
        .filter(F.col("d") != 0)
    )
    wr = W.orderBy(F.abs(F.col("d")))
    wt = W.partitionBy(F.abs(F.col("d")))
    ranked = paired.select(
        "d",
        F.count(F.lit(1))
        .over(wt.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("t"),
        (
            F.lit(2) * F.rank().over(wr)
            - 1
            + F.count(F.lit(1)).over(
                wt.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            )
        ).alias("r2"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("r2")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("w2_plus"),
        F.sum(F.when(F.col("d") < 0, F.col("r2")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("w2_minus"),
        F.sum(F.when(F.col("t") > 1, 1).otherwise(0)).cast("bigint").alias("n_tied"),
    )
    nd = F.col("n").cast("double")
    wp = F.col("w2_plus").cast("double") / F.lit(2.0)
    return s.filter(F.col("n") > 0).select(
        F.col("n").cast("bigint").alias("n_pairs"),
        dround(wp, 1).alias("w_plus"),
        dround(F.col("w2_minus").cast("double") / F.lit(2.0), 1).alias("w_minus"),
        "n_tied",
        dround(
            (wp - nd * (nd + F.lit(1.0)) / F.lit(4.0))
            / F.sqrt(
                nd * (nd + F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(1.0)) / F.lit(24.0)
            ),
            6,
        ).alias("z_approx"),
    )


# ---------------------------------------------------------------------------
# Wave 57: Friedman test — k related samples blocked by day (the
# repeated-measures rank test completing the nonparametric family)
# ---------------------------------------------------------------------------

def _day_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(g, day, c): every event's type, day and int64 cents — the input
    of the (type, day) cell aggregates of Friedman, Kruskal-Wallis and
    Cochran's Q."""
    return load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
        _cents().alias("c"),
    )


def _friedman_per_g(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(g, r2sum, n_blocks): doubled tie-averaged within-day rank sums
    over complete blocks — shared by the Friedman statistic and the
    Nemenyi post-hoc."""
    from pyspark.sql import Window as W

    cents = _day_cents(spark, sf_dir)
    cell = cents.groupBy("g", "day").agg(
        F.sum("c").cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
    )
    complete = cell.groupBy("day").agg(F.count(F.lit(1)).alias("kc")).filter(
        F.col("kc") == 5
    ).select("day")
    valcell = cell.join(F.broadcast(complete), "day")
    mean = F.col("s") * F.lit(1.0) / F.col("n")
    wr = W.partitionBy("day").orderBy(mean)
    wt = W.partitionBy("day", mean)
    ranked = valcell.select(
        "g",
        "day",
        (
            F.lit(2) * F.rank().over(wr)
            - 1
            + F.count(F.lit(1)).over(
                wt.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            )
        ).alias("r2"),
    )
    return ranked.groupBy("g").agg(
        F.sum("r2").cast("decimal(38,0)").alias("r2sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
    )



_FRIEDMAN_SQL = """
WITH cents AS (
  SELECT event_type AS g, date_trunc('day', ts) AS day,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
),
cell AS (
  SELECT g, day, CAST(SUM(c) AS HUGEINT) AS s, COUNT(*)::HUGEINT AS n
  FROM cents GROUP BY 1, 2
),
complete AS (
  SELECT day FROM cell GROUP BY day HAVING COUNT(*) = 5
),
valcell AS (
  SELECT c.g, c.day, c.s, c.n FROM cell c JOIN complete USING (day)
),
ranked AS (
  SELECT g, day,
         2 * (RANK() OVER (PARTITION BY day ORDER BY s * 1.0 / n)) - 1
           + COUNT(*) OVER (PARTITION BY day, s * 1.0 / n) AS r2
  FROM valcell
),
per_g AS (
  SELECT g, SUM(r2)::HUGEINT AS r2sum, COUNT(*)::BIGINT AS n_blocks
  FROM ranked GROUP BY g
),
s AS (
  SELECT CAST(ANY_VALUE(n_blocks) AS DOUBLE) AS n, 5.0 AS k,
         SUM(CAST(r2sum AS DOUBLE) / 2.0 * (CAST(r2sum AS DOUBLE) / 2.0)) AS rr
  FROM per_g
)
SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS INT) AS k,
       ROUND(12.0 / (n * k * (k + 1.0)) * rr - 3.0 * n * (k + 1.0), 4)
         AS friedman_chi2
FROM s
"""


@register(
    "stats_friedman",
    _FRIEDMAN_SQL,
    doc=(
        "Friedman test — the repeated-measures rank test (do the five "
        "event types differ, judged WITHIN each day-block?) completing "
        "the nonparametric family (mann_whitney unpaired, wilcoxon "
        "paired, friedman k-related): per-(type, day) mean cents rank "
        "within each complete day-block via the doubled tie-averaged "
        "rank device (2a = 2r-1+t, exact integers; the mean itself "
        "compares as one deterministic division both engines share), "
        "per-type rank sums are exact integer folds, and chi2_F = "
        "12/(nk(k+1)) * sum R_j^2 - 3n(k+1) is one fixed chain. "
        "Incomplete blocks drop (the classical requirement). One "
        "cell reduce + one O(days*k) rank window; O(1) output"
    ),
)
def stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_g = _friedman_per_g(spark, sf_dir)
    half = F.col("r2sum").cast("double") / F.lit(2.0)
    s = per_g.agg(
        F.first("n_blocks").cast("double").alias("n"),
        F.lit(5.0).alias("k"),
        F.sum(half * half).alias("rr"),
    )
    n, k = F.col("n"), F.col("k")
    return s.select(
        n.cast("bigint").alias("n_blocks"),
        k.cast("int").alias("k"),
        dround(
            F.lit(12.0) / (n * k * (k + F.lit(1.0))) * F.col("rr")
            - F.lit(3.0) * n * (k + F.lit(1.0)),
            4,
        ).alias("friedman_chi2"),
    )


# ---------------------------------------------------------------------------
# Nemenyi post-hoc (wave 65): which pairs differ, after Friedman fires
# ---------------------------------------------------------------------------

_NEMENYI_Q05_K5 = "2.727774"  # studentized-range q(0.05, k=5, inf)/sqrt(2)

_NEMENYI_SQL = f"""
WITH cents AS (
  SELECT event_type AS g, date_trunc('day', ts) AS day,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
),
cell AS (
  SELECT g, day, CAST(SUM(c) AS HUGEINT) AS s, COUNT(*)::HUGEINT AS n
  FROM cents GROUP BY 1, 2
),
complete AS (
  SELECT day FROM cell GROUP BY day HAVING COUNT(*) = 5
),
valcell AS (
  SELECT c.g, c.day, c.s, c.n FROM cell c JOIN complete USING (day)
),
ranked AS (
  SELECT g, day,
         2 * (RANK() OVER (PARTITION BY day ORDER BY s * 1.0 / n)) - 1
           + COUNT(*) OVER (PARTITION BY day, s * 1.0 / n) AS r2
  FROM valcell
),
per_g AS (
  SELECT g, SUM(r2)::HUGEINT AS r2sum, COUNT(*)::BIGINT AS n_blocks
  FROM ranked GROUP BY g
)
SELECT a.g AS g_a, b.g AS g_b,
       ROUND(ABS(CAST(a.r2sum - b.r2sum AS DOUBLE))
             / (2.0 * CAST(a.n_blocks AS DOUBLE)), 6) AS rank_diff,
       ROUND({_NEMENYI_Q05_K5}::DOUBLE
             * sqrt(5.0 * 6.0 / (12.0 * CAST(a.n_blocks AS DOUBLE))), 6) AS cd,
       ABS(CAST(a.r2sum - b.r2sum AS DOUBLE))
         / (2.0 * CAST(a.n_blocks AS DOUBLE))
         > {_NEMENYI_Q05_K5}::DOUBLE
           * sqrt(5.0 * 6.0 / (12.0 * CAST(a.n_blocks AS DOUBLE)))
         AS significant
FROM per_g a JOIN per_g b ON a.g < b.g
"""


@register(
    "stats_nemenyi_posthoc",
    _NEMENYI_SQL,
    doc=(
        "Nemenyi post-hoc — WHICH treatment pairs differ once "
        "stats_friedman rejects (the critical-difference test behind "
        "every CD diagram in ML benchmarking, Demšar 2006): mean-rank "
        "differences |R_i − R_j| from the SAME doubled tie-averaged "
        "integer rank sums the Friedman statistic uses "
        "(_friedman_per_g — exact int until ONE division), compared "
        "against CD = q_0.05 · sqrt(k(k+1)/12n) with the q constant a "
        "shared literal, so the float chain is identical in both "
        "engines (sqrt is IEEE-correctly-rounded — safe, unlike "
        "ln/exp). All 10 pairs of the 5 treatments emit via one "
        "self-join of the 5-row rank-sum frame — O(k²) output, "
        "corpus-independent"
    ),
)
def stats_nemenyi_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_g = pin(_friedman_per_g(spark, sf_dir))
    a = per_g.select(
        F.col("g").alias("g_a"),
        F.col("r2sum").alias("ra"),
        F.col("n_blocks").alias("n_blocks"),
    )
    b = per_g.select(F.col("g").alias("g_b"), F.col("r2sum").alias("rb"))
    nd = F.col("n_blocks").cast("double")
    diff = F.abs((F.col("ra") - F.col("rb")).cast("double")) / (F.lit(2.0) * nd)
    cd = F.lit(float(_NEMENYI_Q05_K5)) * F.sqrt(
        F.lit(5.0) * F.lit(6.0) / (F.lit(12.0) * nd)
    )
    return (
        a.join(b, F.col("g_a") < F.col("g_b"))
        .select(
            "g_a",
            "g_b",
            dround(diff, 6).alias("rank_diff"),
            dround(cd, 6).alias("cd"),
            (diff > cd).alias("significant"),
        )
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis (wave 67): the unpaired k-sample rank test
# ---------------------------------------------------------------------------

_KW_SQL = """
WITH cents AS (
  SELECT event_type AS g, date_trunc('day', ts) AS day,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
),
cell AS (
  SELECT g, day, SUM(c) * 1.0 / COUNT(*) AS m FROM cents GROUP BY 1, 2
),
ranked AS (
  SELECT g,
         2 * (RANK() OVER (ORDER BY m)) - 1
           + COUNT(*) OVER (PARTITION BY m) AS r2
  FROM cell
),
per_g AS (
  SELECT g, SUM(r2)::HUGEINT AS r2sum, COUNT(*)::BIGINT AS n_g
  FROM ranked GROUP BY g
),
ties AS (
  SELECT COALESCE(SUM(t * t * t - t), 0)::HUGEINT AS tsum FROM (
    SELECT COUNT(*)::HUGEINT AS t FROM cell GROUP BY m HAVING COUNT(*) > 1
  ) z
),
tot AS (SELECT SUM(n_g)::BIGINT AS n, COUNT(*)::BIGINT AS k FROM per_g),
h AS (
  SELECT tot.n, tot.k, ties.tsum,
         SUM(CAST(r2sum AS DOUBLE) / 2.0 * (CAST(r2sum AS DOUBLE) / 2.0)
             / CAST(n_g AS DOUBLE)) AS rr
  FROM per_g CROSS JOIN tot CROSS JOIN ties
  GROUP BY tot.n, tot.k, ties.tsum
)
SELECT CAST(n AS BIGINT) AS n_cells, CAST(k AS INT) AS k,
       CAST(tsum AS BIGINT) AS tie_term,
       ROUND((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * rr
              - 3.0 * (CAST(n AS DOUBLE) + 1.0))
             / (1.0 - CAST(tsum AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         - CAST(n AS DOUBLE))), 4) AS kw_h
FROM h
"""


@register(
    "stats_kruskal_wallis",
    _KW_SQL,
    doc=(
        "Kruskal-Wallis H — the UNPAIRED k-sample rank test completing "
        "the nonparametric trio (mann_whitney k=2 unpaired, friedman "
        "k blocked, KW k unblocked): per-(type, day) mean cells rank "
        "GLOBALLY with the doubled tie-averaged integer device "
        "(2·RANK − 1 + tie-count), per-group rank sums and the "
        "Σ(t³−t) tie correction stay exact integers, and H with the "
        "tie divisor is one literal float chain rounded at emit (the "
        "stats_friedman discipline — the 5-term Σ R_j²/n_j fold is "
        "ulp-safe under the 4-decimal emit grid). Ranking the "
        "REDUCED day-cell frame, not raw events, keeps the global "
        "window calendar-bounded at any corpus scale"
    ),
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cents = _day_cents(spark, sf_dir)
    cell = cents.groupBy("g", "day").agg(
        (F.sum("c") * F.lit(1.0) / F.count(F.lit(1))).alias("m")
    )
    cell = pin(cell)  # consumers: ranks + ties
    wr = W.orderBy("m")
    wt = W.partitionBy("m")
    ranked = cell.select(
        "g",
        (
            F.lit(2) * F.rank().over(wr)
            - 1
            + F.count(F.lit(1)).over(
                wt.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            )
        ).alias("r2"),
    )
    per_g = ranked.groupBy("g").agg(
        F.sum("r2").cast("decimal(38,0)").alias("r2sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
    )
    ties = (
        cell.groupBy("m")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("tsum")
        )
    )
    tot = per_g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    half = F.col("r2sum").cast("double") / F.lit(2.0)
    h = (
        per_g.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
        .groupBy("n", "k", "tsum")
        .agg(F.sum(half * half / F.col("n_g").cast("double")).alias("rr"))
    )
    nd = F.col("n").cast("double")
    return h.select(
        F.col("n").cast("bigint").alias("n_cells"),
        F.col("k").cast("int").alias("k"),
        F.col("tsum").cast("bigint").alias("tie_term"),
        dround(
            (
                F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("rr")
                - F.lit(3.0) * (nd + F.lit(1.0))
            )
            / (
                F.lit(1.0)
                - F.col("tsum").cast("double") / (nd * nd * nd - nd)
            ),
            4,
        ).alias("kw_h"),
    )


# ---------------------------------------------------------------------------
# Two-proportion power analysis (wave 68)
# ---------------------------------------------------------------------------

_POW_MDES = ("0.01", "0.02", "0.05")  # absolute-lift grid, literal doubles
_POW_ZCRIT = 1.959964  # z_{alpha/2} at alpha = 0.05


def _phi_sql(x: str) -> str:
    """Φ(x) via the A&S 7.1.26 erfc polynomial (the stats_benjamini_
    hochberg device) — identical literals on both engines."""
    t = f"(1.0 / (1.0 + {0.3275911!r} * (ABS({x}) * {_BH_INV_SQRT2!r})))"
    erfc = (
        f"((((({1.061405429!r} * {t} - {1.453152027!r}) * {t}"
        f" + {1.421413741!r}) * {t} - {0.284496736!r}) * {t}"
        f" + {0.254829592!r}) * {t}"
        f" * exp(-((ABS({x}) * {_BH_INV_SQRT2!r}) * (ABS({x}) * {_BH_INV_SQRT2!r}))))"
    )
    return f"(CASE WHEN {x} >= 0 THEN 1.0 - {erfc} / 2.0 ELSE {erfc} / 2.0 END)"


def _power_sql() -> str:
    mdes = ", ".join(f"({m}::DOUBLE)" for m in _POW_MDES)
    x = (
        "(mde / sqrt(p0 * (1.0 - p0) * 2.0 / n_arm)"
        f" - {_POW_ZCRIT!r})"
    )
    return f"""
WITH base AS (
  SELECT COUNT(*)::BIGINT AS n_events,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_conv
  FROM events
),
grid AS (SELECT unnest([{mdes}]) AS mde),
p AS (
  SELECT g.mde, b.n_events, b.n_conv,
         CAST(b.n_conv AS DOUBLE) / CAST(b.n_events AS DOUBLE) AS p0,
         CAST(b.n_events // 2 AS DOUBLE) AS n_arm
  FROM grid g CROSS JOIN base b
)
SELECT ROUND(mde, 6) AS mde, n_events, n_conv,
       CAST(n_arm AS BIGINT) AS n_per_arm,
       ROUND(p0, 6) AS p_base,
       ROUND({_phi_sql(x)}, 6) AS power
FROM p
"""


@register(
    "stats_proportion_power",
    _power_sql(),
    doc=(
        "two-proportion power analysis — the PLANNING half of "
        "stats_ab_test (before running the experiment: at the "
        "observed baseline purchase PROPORTION over events — the "
        "per-user rate saturates to 1.0 at sf0.001 and would "
        "degenerate SE — and a 50/50 split, what lift is "
        "detectable?): power = "
        "Φ(δ/SE − z_crit) over a literal MDE grid, with Φ from the "
        "stats_benjamini_hochberg A&S 7.1.26 erfc device (identical "
        "literal chain on both engines; the 1e-6 emit grid absorbs "
        "exp's last-ulp libm variation). The corpus reduces to TWO "
        "integers (users, converters) in one aggregate — everything "
        "after is per-grid-row literal arithmetic, so the query's "
        "scale cost is one map-side count no matter the corpus"
    ),
)
def stats_proportion_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("bigint").alias("n_conv"),
    )
    grid = spark.createDataFrame(
        [(float(m),) for m in _POW_MDES], "mde double"
    )
    p = grid.crossJoin(F.broadcast(base)).select(
        "mde",
        "n_events",
        "n_conv",
        (F.col("n_conv").cast("double") / F.col("n_events").cast("double")).alias(
            "p0"
        ),
        F.expr("CAST(n_events div 2 AS DOUBLE)").alias("n_arm"),
    )
    x = (
        F.col("mde")
        / F.sqrt(
            F.col("p0") * (F.lit(1.0) - F.col("p0")) * F.lit(2.0) / F.col("n_arm")
        )
        - F.lit(_POW_ZCRIT)
    )
    t = F.lit(1.0) / (
        F.lit(1.0) + F.lit(0.3275911) * (F.abs(x) * F.lit(_BH_INV_SQRT2))
    )
    erfc = (
        (
            (
                (F.lit(1.061405429) * t - F.lit(1.453152027)) * t
                + F.lit(1.421413741)
            )
            * t
            - F.lit(0.284496736)
        )
        * t
        + F.lit(0.254829592)
    ) * t * F.exp(
        -((F.abs(x) * F.lit(_BH_INV_SQRT2)) * (F.abs(x) * F.lit(_BH_INV_SQRT2)))
    )
    phi = F.when(x >= 0, F.lit(1.0) - erfc / F.lit(2.0)).otherwise(
        erfc / F.lit(2.0)
    )
    return p.select(
        dround(F.col("mde"), 6).alias("mde"),
        "n_events",
        "n_conv",
        F.col("n_arm").cast("bigint").alias("n_per_arm"),
        dround(F.col("p0"), 6).alias("p_base"),
        dround(phi, 6).alias("power"),
    )


# ---------------------------------------------------------------------------
# Cochran's Q (wave 71): k related binary treatments
# ---------------------------------------------------------------------------

_COCHRAN_SQL = """
WITH cents AS (
  SELECT event_type AS g, date_trunc('day', ts) AS day,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events
),
cell AS (
  SELECT g, day, SUM(c)::HUGEINT AS s FROM cents GROUP BY 1, 2
),
complete AS (
  SELECT day FROM cell GROUP BY day HAVING COUNT(*) = 5
),
per_g AS (
  SELECT g, SUM(s)::HUGEINT AS stot, COUNT(*)::HUGEINT AS dtot
  FROM cell JOIN complete USING (day) GROUP BY g
),
x AS (
  -- success: the day's total beats the treatment's average day,
  -- compared exactly by cross-multiplication (s*D > S)
  SELECT c.g, c.day,
         CASE WHEN c.s * p.dtot > p.stot THEN 1 ELSE 0 END AS x
  FROM cell c JOIN complete USING (day) JOIN per_g p ON p.g = c.g
),
cols AS (SELECT g, SUM(x)::HUGEINT AS cj FROM x GROUP BY g),
rows_ AS (SELECT day, SUM(x)::HUGEINT AS ri FROM x GROUP BY day),
s AS (
  SELECT (SELECT COUNT(*) FROM cols)::HUGEINT AS k,
         (SELECT SUM(cj) FROM cols)::HUGEINT AS n,
         (SELECT SUM(cj * cj) FROM cols)::HUGEINT AS c2,
         (SELECT SUM(ri * ri) FROM rows_)::HUGEINT AS r2,
         (SELECT COUNT(*) FROM rows_)::BIGINT AS n_blocks
)
SELECT CAST(k AS INT) AS k, n_blocks, CAST(n AS BIGINT) AS n_success,
       ROUND(CAST(k * (k - 1) AS DOUBLE) * CAST(k * c2 - n * n AS DOUBLE)
             / CAST(k * n - r2 AS DOUBLE), 4) AS cochran_q
FROM s
"""


@register(
    "stats_cochran_q",
    _COCHRAN_SQL,
    doc=(
        "Cochran's Q — the k-related-samples test for BINARY outcomes "
        "(the Friedman family's dichotomous member; McNemar's k-way "
        "generalization): per complete day-block, each treatment "
        "scores success iff its daily total beats its own average "
        "day — an EXACT integer cross-multiplication (s·D > S), no "
        "division enters the indicator. Column totals C_j, row "
        "totals R_i and Q = k(k−1)[kΣC_j² − N²]/(kN − ΣR_i²) stay "
        "integers until ONE double division at emit (4-decimal "
        "grid). Same calendar-bounded shuffle shape as "
        "stats_friedman: one (type, day) reduce, then O(k + blocks) "
        "frames"
    ),
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _day_cents(spark, sf_dir)
    cell = cents.groupBy("g", "day").agg(
        F.sum("c").cast("decimal(38,0)").alias("s")
    )
    cell = pin(cell)  # consumers: complete-day
    # filter, per-treatment totals, the indicator join
    complete = (
        cell.groupBy("day")
        .agg(F.count(F.lit(1)).alias("kc"))
        .filter(F.col("kc") == 5)
        .select("day")
    )
    val = cell.join(F.broadcast(complete), "day")
    per_g = val.groupBy("g").agg(
        F.sum("s").cast("decimal(38,0)").alias("stot"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("dtot"),
    )
    x = val.join(F.broadcast(per_g), "g").select(
        "g",
        "day",
        F.when(F.col("s") * F.col("dtot") > F.col("stot"), 1)
        .otherwise(0)
        .alias("x"),
    )
    x = pin(x)  # consumers: column + row totals
    cols = x.groupBy("g").agg(F.sum("x").cast("decimal(38,0)").alias("cj"))
    rows_ = x.groupBy("day").agg(F.sum("x").cast("decimal(38,0)").alias("ri"))
    s = cols.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("cj").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("cj") * F.col("cj")).cast("decimal(38,0)").alias("c2"),
    ).crossJoin(
        F.broadcast(
            rows_.agg(
                F.sum(F.col("ri") * F.col("ri")).cast("decimal(38,0)").alias("r2"),
                F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            )
        )
    )
    k, n = F.col("k"), F.col("n")
    return s.select(
        k.cast("int").alias("k"),
        "n_blocks",
        n.cast("bigint").alias("n_success"),
        dround(
            (k * (k - 1)).cast("double")
            * (k * F.col("c2") - n * n).cast("double")
            / (k * n - F.col("r2")).cast("double"),
            4,
        ).alias("cochran_q"),
    )
