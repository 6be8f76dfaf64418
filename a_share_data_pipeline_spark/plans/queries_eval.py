"""Evaluation and mining families — market-basket association rules
(support/confidence/lift), NDCG@10 ranked-retrieval evaluation, the
tie-aware rank-sum AUC-ROC, and MAD-based robust outlier flagging.

Every sum that feeds a compare or a hash is exact int64, every emitted
double goes through ONE division (or one dround), anything "random" is
md5 arithmetic reproducible on both engines, and every reduce happens
BEFORE any window or join fan-out.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.rounding import dround, iln
from ..session import pin
from ..sources import load_table
from .catalog import register

# ---------------------------------------------------------------------------
# Market-basket association rules over brand co-occurrence
# ---------------------------------------------------------------------------

# Relative minimum support: a pair must appear in >= 1% of baskets.
# An absolute count would silently change meaning across scale
# factors; the relative form is SF-invariant and the compare stays
# integer (100 * c_ab >= n_baskets).
_MB_MINSUP_PCT = 1

_MB_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM items),
cnt AS (SELECT item, COUNT(*) AS c FROM items GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS c_ab
  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2
)
SELECT p.item_a, p.item_b,
       CAST(p.c_ab AS BIGINT) AS pair_count,
       CAST(ca.c AS BIGINT) AS count_a,
       CAST(cb.c AS BIGINT) AS count_b,
       CAST(n.n_baskets AS BIGINT) AS n_baskets,
       ROUND(p.c_ab * 1.0 / n.n_baskets, 4) AS support,
       ROUND(p.c_ab * 1.0 / ca.c, 4) AS conf_a_to_b,
       ROUND(p.c_ab * 1.0 / cb.c, 4) AS conf_b_to_a,
       ROUND(n.n_baskets * p.c_ab * 1.0 / (ca.c * cb.c), 4) AS lift
FROM pairs p
JOIN cnt ca ON ca.item = p.item_a
JOIN cnt cb ON cb.item = p.item_b
CROSS JOIN n
WHERE 100 * p.c_ab >= {_MB_MINSUP_PCT} * n.n_baskets
"""


@register(
    "assoc_market_basket",
    _MB_SQL,
    doc=(
        "market-basket association rules over brands co-ordered in the "
        "same order — the classic support/confidence/lift mining shape: "
        "baskets are DISTINCT (order, brand) rows (the dedup bounds "
        "each basket by the brand vocabulary, not by line count), pair "
        "candidates come from a self-join co-partitioned on the basket "
        "key (one shuffle, exchange reused across both sides), and the "
        "per-pair hash aggregation map-side combines. Pair-space is "
        "capped at vocabulary² regardless of data volume, and the "
        f"SF-invariant relative support prune (>= {_MB_MINSUP_PCT}% of "
        "baskets, an integer cross-multiply — no division) bounds the "
        "output before any scoring. lift = N·c(ab)/(c(a)·c(b)), "
        "confidence, and support each keep numerator and denominator "
        "exact int64 with ONE double division at emit. No top-k limit "
        "is needed — the support prune IS the bound"
    ),
)
def assoc_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items = pin(
        # no broadcast hint: part is SF-scaled — stats-based AQE
        # decides from the projected size
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
        .distinct()
        # consumers: basket count, item counts, both sides of the pair
        # self-join
    )
    n = items.agg(F.count_distinct(F.col("basket")).alias("n_baskets"))
    cnt = items.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    a = items.select("basket", F.col("item").alias("item_a"))
    b = items.select("basket", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .crossJoin(F.broadcast(n))  # 1-row count frame — the support
        # prune stays lazy, no driver-side action
        .filter(
            F.lit(100) * F.col("c_ab") >= F.lit(_MB_MINSUP_PCT) * F.col("n_baskets")
        )
    )
    ca = cnt.select(F.col("item").alias("item_a"), F.col("c").alias("count_a"))
    cb = cnt.select(F.col("item").alias("item_b"), F.col("c").alias("count_b"))
    nb = F.col("n_baskets")
    return (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .select(
            "item_a",
            "item_b",
            F.col("c_ab").cast("bigint").alias("pair_count"),
            F.col("count_a").cast("bigint"),
            F.col("count_b").cast("bigint"),
            nb.cast("bigint").alias("n_baskets"),
            dround(F.col("c_ab") * F.lit(1.0) / nb, 4).alias("support"),
            dround(F.col("c_ab") * F.lit(1.0) / F.col("count_a"), 4).alias(
                "conf_a_to_b"
            ),
            dround(F.col("c_ab") * F.lit(1.0) / F.col("count_b"), 4).alias(
                "conf_b_to_a"
            ),
            dround(
                nb * F.col("c_ab") * F.lit(1.0)
                / (F.col("count_a") * F.col("count_b")),
                4,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# NDCG@10 ranked-retrieval evaluation
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_QUERIES = 8
# Integer discount table: disc(i) = round(1e8 / log2(i+1)). Literal
# int64 on both engines, so DCG = sum(rel * disc) is exact integer
# arithmetic — the float 1/log2 never enters either engine.
_NDCG_DISC = [round(1e8 / math.log2(i + 1)) for i in range(1, _NDCG_K + 1)]

_NDCG_SQL = f"""
WITH disc(rank, d) AS (
  VALUES {", ".join(f"({i + 1}, {d})" for i, d in enumerate(_NDCG_DISC))}
),
scored AS (
  SELECT doc_id % {_NDCG_QUERIES} AS qid, doc_id, n_chars,
         ('0x' || substr(md5('rel|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
           % 4 AS rel
  FROM documents
),
ranked AS (
  SELECT qid, rel,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY n_chars DESC, doc_id) AS rrank,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY rel DESC, doc_id) AS irank
  FROM scored
),
agg AS (
  SELECT qid,
         SUM(CASE WHEN rrank <= {_NDCG_K} THEN rel * dr.d ELSE 0 END) AS dcg_int,
         SUM(CASE WHEN irank <= {_NDCG_K} THEN rel * di.d ELSE 0 END) AS idcg_int
  FROM ranked
  LEFT JOIN disc dr ON dr.rank = ranked.rrank
  LEFT JOIN disc di ON di.rank = ranked.irank
  GROUP BY qid
)
SELECT CAST(qid AS BIGINT) AS qid,
       CAST(dcg_int AS BIGINT) AS dcg_int,
       CAST(idcg_int AS BIGINT) AS idcg_int,
       CASE WHEN idcg_int > 0
            THEN ROUND(dcg_int * 1.0 / idcg_int, 6) END AS ndcg
FROM agg
"""


@register(
    "search_ndcg_eval",
    _NDCG_SQL,
    doc=(
        f"NDCG@{_NDCG_K} evaluation of a ranked retrieval — the quality "
        "metric for the text_bm25 / rrf_hybrid search head: documents "
        f"bucket into {_NDCG_QUERIES} query groups (doc_id mod), the "
        "retrieved ranking orders by the length score with doc_id "
        "tiebreak, the ideal ranking orders by relevance, and both "
        "row_numbers come from windows sharing ONE partition key (qid "
        "— groups evaluate in parallel, no global sort). Relevance "
        "grades 0..3 are md5 arithmetic (engine-reproducible, no "
        "labels needed in the fixture) and the log2 discount is a "
        "PRE-ROUNDED integer literal table (round(1e8/log2(i+1))), so "
        "DCG and IDCG are exact int64 sums — the engine never "
        "evaluates a float log — and NDCG is one double division, "
        "NULL-guarded for all-irrelevant groups"
    ),
)
def search_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rel = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rel|"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("bigint")
        % 4
    )
    scored = docs.select(
        (F.col("doc_id") % _NDCG_QUERIES).alias("qid"),
        "doc_id",
        "n_chars",
        rel.alias("rel"),
    )
    wq = W.partitionBy("qid")
    ranked = scored.select(
        "qid",
        "rel",
        F.row_number()
        .over(wq.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rrank"),
        F.row_number()
        .over(wq.orderBy(F.col("rel").desc(), "doc_id"))
        .alias("irank"),
    )
    disc_arr = F.array(*[F.lit(d) for d in _NDCG_DISC])
    agg = ranked.groupBy("qid").agg(
        F.sum(
            F.when(
                F.col("rrank") <= _NDCG_K,
                F.col("rel") * F.element_at(disc_arr, F.col("rrank").cast("int")),
            ).otherwise(F.lit(0))
        ).alias("dcg_int"),
        F.sum(
            F.when(
                F.col("irank") <= _NDCG_K,
                F.col("rel") * F.element_at(disc_arr, F.col("irank").cast("int")),
            ).otherwise(F.lit(0))
        ).alias("idcg_int"),
    )
    return agg.select(
        F.col("qid").cast("bigint"),
        F.col("dcg_int").cast("bigint"),
        F.col("idcg_int").cast("bigint"),
        F.when(
            F.col("idcg_int") > 0,
            dround(F.col("dcg_int") * F.lit(1.0) / F.col("idcg_int"), 6),
        ).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Scored user-days: the units every binary-classifier metric below ranks
# ---------------------------------------------------------------------------


def _scored_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, day, score, label): one unit per user-day, scored by
    its non-purchase events and labelled 1 when it holds a purchase."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0)).alias("score"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("label"),
        )
    )


# SQL twin of _scored_units: the `units` CTE (user_id, day, score, label)
_UNITS_SQL = """
units AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS score,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS label
  FROM events GROUP BY 1, 2
)"""


# ---------------------------------------------------------------------------
# Tie-aware AUC-ROC via the rank-sum identity
# ---------------------------------------------------------------------------

_AUC_SQL = f"""
WITH {_UNITS_SQL},
g AS (
  SELECT score, SUM(label) AS n1, COUNT(*) - SUM(label) AS n0
  FROM units GROUP BY score
),
cum AS (
  SELECT n1, n0,
         COALESCE(SUM(n0) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
  FROM g
),
tot AS (
  SELECT SUM(n1) AS n_pos, SUM(n0) AS n_neg,
         SUM(n1 * cum0) AS wins, SUM(n1 * n0) AS ties
  FROM cum
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       CAST(wins AS BIGINT) AS wins, CAST(ties AS BIGINT) AS ties,
       CASE WHEN n_pos * n_neg > 0 THEN
         ROUND((2 * wins + ties) * 1.0 / (2 * n_pos * n_neg), 6)
       END AS auc
FROM tot
"""


@register(
    "events_auc_roc",
    _AUC_SQL,
    doc=(
        "tie-aware AUC-ROC of 'non-purchase activity that day predicts "
        "a purchase that day' — the classifier-evaluation companion to "
        "agg_mann_whitney (AUC IS the normalized U statistic): "
        "user-day units reduce to per-distinct-score (n_pos, n_neg) "
        "counts FIRST, so the one ordered window runs over O(distinct "
        "scores) rows, never O(units) — and the rank-sum identity "
        "AUC = (wins + ties/2)/(n1·n0) with wins = Σ n1(s)·cumneg(<s) "
        "avoids the O(n1·n0) pair join entirely. Everything is exact "
        "int64 (the half-credit tie term stays doubled: 2·wins + ties "
        "over 2·n1·n0) with ONE double division, NULL-guarded when "
        "either class is empty"
    ),
)
def events_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    units = _scored_units(spark, sf_dir)
    g = units.groupBy("score").agg(
        F.sum("label").alias("n1"),
        (F.count(F.lit(1)) - F.sum("label")).alias("n0"),
    )
    w = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    cum = g.select(
        "n1", "n0", F.coalesce(F.sum("n0").over(w), F.lit(0)).alias("cum0")
    )
    # per-bucket count products go through decimal BEFORE summation:
    # wins is bounded by n_pos*n_neg ~ n²/4, past int64 at n ~ 6e9 rows
    # (DuckDB's SUM auto-widens to HUGEINT; Spark's int64 would wrap)
    c19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    tot = cum.agg(
        F.sum("n1").cast("decimal(19,0)").alias("n_pos"),
        F.sum("n0").cast("decimal(19,0)").alias("n_neg"),
        F.sum((c19("n1") * c19("cum0")).cast("decimal(26,0)")).alias("wins"),
        F.sum((c19("n1") * c19("n0")).cast("decimal(26,0)")).alias("ties"),
    )
    n_pos, n_neg = F.col("n_pos"), F.col("n_neg")
    return tot.select(
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
        F.col("wins").cast("bigint").alias("wins"),
        F.col("ties").cast("bigint").alias("ties"),
        F.when(
            n_pos * n_neg > 0,
            dround(
                (F.lit(2) * F.col("wins") + F.col("ties")) * F.lit(1.0)
                / (F.lit(2) * n_pos * n_neg),
                6,
            ),
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# MAD-based robust outlier flags on the daily count series
# ---------------------------------------------------------------------------

_MAD_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, CAST(2 * quantile_cont(c, 0.5) AS BIGINT) AS med2
  FROM daily GROUP BY event_type
),
dev AS (
  SELECT d.event_type, d.day, d.c, m.med2,
         ABS(2 * d.c - m.med2) AS dev2
  FROM daily d JOIN med m ON d.event_type = m.event_type
),
mad AS (
  SELECT event_type, CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
  FROM dev GROUP BY event_type
)
SELECT d.event_type, d.day, CAST(d.c AS BIGINT) AS c,
       ROUND(d.med2 / 2.0, 1) AS med,
       ROUND(m.mad4 / 4.0, 2) AS mad,
       2 * d.dev2 > 3 * m.mad4 AS is_outlier
FROM dev d JOIN mad m ON d.event_type = m.event_type
"""


@register(
    "profile_mad_outliers",
    _MAD_SQL,
    doc=(
        "median/MAD robust outlier flags on the per-type daily COUNT "
        "series — the integer-exact variant beside events_anomaly_mad "
        "(which flags daily value MEANS with the 1.4826 consistency "
        "scale and 6dp-rounded compares; counts admit a strictly "
        "stronger guarantee) and the robust companion to "
        "profile_skew_report's moment-based stats (one anomalous day drags a mean+stddev "
        "band toward itself; the median/MAD band ignores it): both "
        "medians ride exact interpolated percentiles over INTEGER "
        "frames kept in doubled scale (med2 = 2·median(c) and mad4 = "
        "2·median(|2c − med2|) are exact int64 because a median of "
        "ints is an int or an int-and-a-half), so the 3-sigma-"
        "equivalent flag |x−med| > 3·MAD becomes the pure-integer "
        "compare 2·dev2 > 3·mad4 — no float ever enters a decision. "
        "Two tiny per-type aggregations + a broadcast join back; the "
        "reduce-first daily frame is O(days·types), never O(events), "
        "and eagerly checkpoints so its three consumers (med, mad, "
        "emit) never rescan events"
    ),
)
def profile_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = pin(
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
        # O(days·types) frame feeds the
        # med aggregate, the dev join, and (through dev) the mad
        # aggregate — without this the events scan runs 3×
    )
    med = daily.groupBy("event_type").agg(
        (F.lit(2) * F.expr("percentile(c, 0.5)")).cast("bigint").alias("med2")
    )
    dev = pin(daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day",
        "c",
        "med2",
        F.abs(F.lit(2) * F.col("c") - F.col("med2")).alias("dev2"),
    ))  # consumers: mad aggregate + final emit
    mad = dev.groupBy("event_type").agg(
        (F.lit(2) * F.expr("percentile(dev2, 0.5)")).cast("bigint").alias("mad4")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        F.col("c").cast("bigint").alias("c"),
        dround(F.col("med2") / F.lit(2.0), 1).alias("med"),
        dround(F.col("mad4") / F.lit(4.0), 2).alias("mad"),
        (F.lit(2) * F.col("dev2") > F.lit(3) * F.col("mad4")).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering statistics
# ---------------------------------------------------------------------------

_Z_BITS = 8
_Z_MASK = (1 << _Z_BITS) - 1
_Z_BUCKET = 1024  # 64 buckets over the 16-bit z space

_Z_TERMS_SQL = " + ".join(
    f"(((p8 >> {i}) & 1) + 2 * ((s8 >> {i}) & 1)) * {4 ** i}"
    for i in range(_Z_BITS)
)

_ZORDER_SQL = f"""
WITH keyed AS (
  SELECT l_partkey & {_Z_MASK} AS p8, l_suppkey & {_Z_MASK} AS s8
  FROM lineitem
),
z AS (SELECT p8, s8, {_Z_TERMS_SQL} AS zval FROM keyed)
SELECT CAST(zval // {_Z_BUCKET} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(p8) AS BIGINT) AS p_min, CAST(MAX(p8) AS BIGINT) AS p_max,
       CAST(MIN(s8) AS BIGINT) AS s_min, CAST(MAX(s8) AS BIGINT) AS s_max,
       CAST((MAX(p8) - MIN(p8)) + (MAX(s8) - MIN(s8)) AS BIGINT) AS span
FROM z GROUP BY 1
"""


@register(
    "layout_zorder_stats",
    _ZORDER_SQL,
    doc=(
        "z-order (Morton) clustering AUDIT over the lineitem "
        "(partkey, suppkey) pair — the multi-dimensional data-skipping "
        "companion to layout_zorder's physical zorder_write (this is the pure-aggregation audit of the same Morton construction — no filesystem side effect): interleaving the low "
        f"{_Z_BITS} bits of both keys (bit i of p at position 2i, of s "
        "at 2i+1 — a pure integer sum of shift/mask terms, identical "
        "on both engines) gives a 1-D sort key under which EVERY "
        f"{_Z_BUCKET}-wide z-range bounds BOTH dimensions to ~sqrt of "
        "the range width, so parquet min/max stats prune predicates "
        "on EITHER key — a single-key sort bounds only its own "
        "column. The per-bucket (min,max) spans ARE the witness: at "
        "100 TB the same zval feeds repartitionByRange + "
        "sortWithinPartitions before the write, and this query is the "
        "audit that reads back the layout quality. Map-only z "
        "computation, one hash aggregation, all integer"
    ),
)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        F.col("l_partkey").bitwiseAND(F.lit(_Z_MASK)).alias("p8"),
        F.col("l_suppkey").bitwiseAND(F.lit(_Z_MASK)).alias("s8"),
    )
    zval = None
    for i in range(_Z_BITS):
        term = (
            F.shiftright(F.col("p8"), i).bitwiseAND(F.lit(1))
            + F.lit(2) * F.shiftright(F.col("s8"), i).bitwiseAND(F.lit(1))
        ) * F.lit(4 ** i)
        zval = term if zval is None else zval + term
    z = keyed.select("p8", "s8", zval.alias("zval"))
    return z.groupBy(F.expr(f"zval div {_Z_BUCKET}").alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("p8").cast("bigint").alias("p_min"),
        F.max("p8").cast("bigint").alias("p_max"),
        F.min("s8").cast("bigint").alias("s_min"),
        F.max("s8").cast("bigint").alias("s_max"),
        (
            (F.max("p8") - F.min("p8")) + (F.max("s8") - F.min("s8"))
        ).cast("bigint").alias("span"),
    ).select(
        F.col("bucket").cast("bigint"),
        "n", "p_min", "p_max", "s_min", "s_max", "span",
    )


# ---------------------------------------------------------------------------
# Bigram PMI collocations
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5

_PMI_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
big AS (
  SELECT a.w AS wa, b.w AS wb
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
cnt AS (SELECT wa, wb, COUNT(*) AS c_ab FROM big GROUP BY 1, 2),
head AS (SELECT wa, SUM(c_ab) AS ha FROM cnt GROUP BY wa),
tail AS (SELECT wb, SUM(c_ab) AS tb FROM cnt GROUP BY wb),
tot AS (SELECT SUM(c_ab) AS nb FROM cnt)
SELECT c.wa, c.wb, CAST(c.c_ab AS BIGINT) AS pair_count,
       CAST(h.ha AS BIGINT) AS head_count,
       CAST(t.tb AS BIGINT) AS tail_count,
       CAST(tot.nb AS BIGINT) AS n_bigrams,
       ROUND((CAST(ROUND(LN(c.c_ab * tot.nb) * 100000000, 0) AS BIGINT)
              - CAST(ROUND(LN(h.ha * t.tb) * 100000000, 0) AS BIGINT))
             / 100000000.0, 6) AS pmi
FROM cnt c
JOIN head h ON h.wa = c.wa
JOIN tail t ON t.wb = c.wb
CROSS JOIN tot
WHERE c.c_ab >= {_PMI_MIN_COUNT}
"""


@register(
    "text_pmi_bigrams",
    _PMI_SQL,
    doc=(
        "pointwise mutual information of adjacent token pairs — the "
        "collocation extractor beside text_tfidf/text_bm25: bigrams "
        "come from a MAP-ONLY zip_with of the token array against its "
        "own tail (no positional self-join on the Spark side — the "
        "oracle deliberately uses the quadratic position join as the "
        "definition), marginals are the bigram head/tail sums (each "
        "totals exactly N, keeping p(a)p(b) consistent with p(a,b)), "
        "and PMI = ln(N·c_ab) − ln(head·tail) rides the once-rounded "
        "1e-8 integer-ln device (the text_js_divergence discipline) "
        "so the subtraction is exact int64 and one final division "
        f"emits the value. Min-count {_PMI_MIN_COUNT} floors the "
        "estimate (rare-pair PMI is noise) and bounds output by the "
        "observed-bigram vocabulary; marginal frames are "
        "vocabulary-sized broadcasts"
    ),
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.col("text"), " ").alias("t")).filter(
        F.size("t") >= 2
    )
    big = toks.select(
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (a, b) -> struct(a AS wa, b AS wb))"
            )
        ).alias("bg")
    ).select(F.col("bg.wa").alias("wa"), F.col("bg.wb").alias("wb"))
    cnt = big.groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("c_ab"))
    cnt = pin(cnt)  # consumers: head marginal,
    # tail marginal, the scored emit
    head = cnt.groupBy("wa").agg(F.sum("c_ab").alias("ha"))
    tail = cnt.groupBy("wb").agg(F.sum("c_ab").alias("tb"))
    tot = cnt.agg(F.sum("c_ab").alias("nb"))

    return (
        cnt.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(head), "wa")
        .join(F.broadcast(tail), "wb")
        .crossJoin(F.broadcast(tot))
        .select(
            "wa",
            "wb",
            F.col("c_ab").cast("bigint").alias("pair_count"),
            F.col("ha").cast("bigint").alias("head_count"),
            F.col("tb").cast("bigint").alias("tail_count"),
            F.col("nb").cast("bigint").alias("n_bigrams"),
            dround(
                (
                    iln(F.col("c_ab") * F.col("nb"))
                    - iln(F.col("ha") * F.col("tb"))
                )
                / F.lit(100000000.0),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick)
# ---------------------------------------------------------------------------

_FH_DIM = 64

_FH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5('fh|' || w), 1, 8))::BIGINT % {_FH_DIM} AS bucket,
         1 - 2 * (('0x' || substr(md5('fh|' || w), 9, 4))::BIGINT % 2) AS sign
  FROM tok
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(sign) AS BIGINT) AS weight
FROM h GROUP BY doc_id, bucket HAVING SUM(sign) <> 0
"""


@register(
    "feature_hashing",
    _FH_SQL,
    doc=(
        f"the hashing trick: every token maps to one of {_FH_DIM} "
        "feature buckets by md5 (bucket from hex chars 1-8, a ±1 sign "
        "from chars 9-12 — the signed variant keeps collision noise "
        "zero-mean, the Weinberger et al. construction), and a "
        "document's sparse vector is the per-(doc,bucket) SIGN SUM — "
        "term frequency falls out of summing duplicates. Fixed "
        "dimensionality regardless of vocabulary growth is the whole "
        "point at 100 TB: no vocabulary dictionary to build, "
        "broadcast, or grow — one map-only hash pass + one hash "
        "aggregation map-side combined on (doc, bucket), exact "
        "integer weights, zero-weight features (exact sign "
        "cancellation) dropped on both engines"
    ),
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    h = F.md5(F.concat(F.lit("fh|"), F.col("w")))
    hashed = tok.select(
        "doc_id",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _FH_DIM).alias(
            "bucket"
        ),
        (
            F.lit(1)
            - F.lit(2) * (F.conv(F.substring(h, 9, 4), 16, 10).cast("bigint") % 2)
        ).alias("sign"),
    )
    return (
        hashed.groupBy("doc_id", "bucket")
        .agg(F.sum("sign").alias("weight"))
        .filter(F.col("weight") != 0)
        .select(
            "doc_id",
            F.col("bucket").cast("bigint"),
            F.col("weight").cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# Probability calibration bins + integer-exact Brier score
# ---------------------------------------------------------------------------

_CAL_SQL = f"""
WITH {_UNITS_SQL},
g AS (
  SELECT score, COUNT(*) AS n, SUM(label) AS pos FROM units GROUP BY score
),
m AS (SELECT MAX(score) AS maxs FROM g)
SELECT CAST(score AS BIGINT) AS score,
       CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS n_pos,
       CASE WHEN maxs > 0 THEN ROUND(score * 1.0 / maxs, 6) END AS mean_pred,
       ROUND(pos * 1.0 / n, 6) AS frac_pos,
       CASE WHEN maxs > 0 THEN
         ROUND((pos * (score - maxs) * (score - maxs)
                + (n - pos) * score * score) * 1.0 / (n * maxs * maxs), 6)
       END AS brier
FROM g CROSS JOIN m
"""


@register(
    "events_calibration_bins",
    _CAL_SQL,
    doc=(
        "probability-calibration reliability bins + per-bin Brier "
        "score for the same activity-predicts-purchase classifier "
        "events_auc_roc ranks (AUC measures ordering; calibration "
        "measures whether the predicted probability MEANS its value): "
        "units reduce to per-distinct-score (n, positives) counts "
        "first, the naive probability is score/max_score, and the "
        "per-bin Brier mean Σ(p−y)² rewrites over counts as "
        "(pos·(s−maxs)² + (n−pos)·s²) / (n·maxs²) — every product "
        "exact int64, ONE double division per emitted column, so the "
        "squared-error calibration metric never accumulates float "
        "error. The 1-row max broadcast-crosses in; output is "
        "O(distinct scores)"
    ),
)
def events_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    units = _scored_units(spark, sf_dir)
    g = units.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("pos")
    )
    g = pin(g)  # consumers: the max aggregate
    # and the scored emit — without it the events scan runs twice
    m = g.agg(F.max("score").alias("maxs"))
    s, n, pos, maxs = F.col("score"), F.col("n"), F.col("pos"), F.col("maxs")
    return g.crossJoin(F.broadcast(m)).select(
        s.cast("bigint").alias("score"),
        n.cast("bigint").alias("n"),
        pos.cast("bigint").alias("n_pos"),
        F.when(maxs > 0, dround(s * F.lit(1.0) / maxs, 6)).alias("mean_pred"),
        dround(pos * F.lit(1.0) / n, 6).alias("frac_pos"),
        F.when(
            maxs > 0,
            dround(
                (pos * (s - maxs) * (s - maxs) + (n - pos) * s * s)
                * F.lit(1.0)
                / (n * maxs * maxs),
                6,
            ),
        ).alias("brier"),
    )


# ---------------------------------------------------------------------------
# Mean average precision — the ranking-eval row beside NDCG/AUC
# ---------------------------------------------------------------------------

_AP_SCALE = 1000000000  # 1e-9 precision grid per ranked hit

_MAP_SQL = f"""
WITH units AS (
  SELECT user_id, CAST(ts AS DATE) AS day, isodow(CAST(ts AS DATE)) AS dow,
         SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS score,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS label
  FROM events GROUP BY 1, 2, 3
),
ranked AS (
  SELECT dow, label,
         row_number() OVER (PARTITION BY dow
                            ORDER BY score DESC, user_id, day) AS k,
         SUM(label) OVER (PARTITION BY dow
                          ORDER BY score DESC, user_id, day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_pos
  FROM units
),
per_dow AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(label) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN label = 1
                       THEN (cum_pos * {_AP_SCALE}) // k ELSE 0 END)
              AS BIGINT) AS ap_u
  FROM ranked GROUP BY dow
),
mapped AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         SUM(ap_u // n_pos) AS map_u
  FROM per_dow WHERE n_pos > 0
)
SELECT p.dow, p.n_units, p.n_pos,
       ROUND(p.ap_u * 1.0 / p.n_pos / {_AP_SCALE}.0, 6) AS ap,
       m.n_groups,
       ROUND(m.map_u * 1.0 / m.n_groups / {_AP_SCALE}.0, 6) AS mean_ap
FROM per_dow p CROSS JOIN mapped m
WHERE p.n_pos > 0
"""


@register(
    "ml_average_precision",
    _MAP_SQL,
    doc=(
        "mean average precision — the ranking-evaluation row beside "
        "events_auc_roc (threshold-free order quality) and "
        "search_ndcg_eval (graded relevance): user-day units score "
        "by non-purchase activity, rank per iso-weekday segment "
        "under a fully deterministic total order (score DESC, "
        "user_id, day — ties never float), and "
        "AP = (1/n_pos) * sum precision@hit rides an ALL-INTEGER "
        "lane: each hit's precision floors onto the 1e-9 grid as "
        "(cum_pos*1e9) DIV k, per-segment sums and the cross-segment "
        "MAP fold are exact integer adds, one double division per "
        "emitted value. The ranking window partitions by segment "
        "(the production shape: per query / per day), never a "
        "global sort. O(segments) output"
    ),
)
def ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    units = ev.groupBy(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        (F.expr("weekday(CAST(ts AS DATE))") + 1).alias("dow"),
    ).agg(
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0)).alias(
            "score"
        ),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "label"
        ),
    )
    wo = W.partitionBy("dow").orderBy(
        F.col("score").desc(), F.col("user_id"), F.col("day")
    )
    ranked = units.select(
        "dow",
        "label",
        F.row_number().over(wo).alias("k"),
        F.sum("label").over(wo.rowsBetween(W.unboundedPreceding, 0)).alias(
            "cum_pos"
        ),
    )
    per_dow = (
        ranked.groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_units"),
            F.sum("label").cast("bigint").alias("n_pos"),
            F.sum(
                F.when(
                    F.col("label") == 1,
                    F.expr(f"(cum_pos * {_AP_SCALE}) div k"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("ap_u"),
        )
        .filter(F.col("n_pos") > 0)
    )
    mapped = per_dow.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.expr("ap_u div n_pos")).alias("map_u"),
    )
    return per_dow.crossJoin(F.broadcast(mapped)).select(
        "dow",
        "n_units",
        "n_pos",
        dround(F.col("ap_u") * F.lit(1.0) / F.col("n_pos") / F.lit(float(_AP_SCALE)), 6).alias("ap"),
        "n_groups",
        dround(
            F.col("map_u") * F.lit(1.0) / F.col("n_groups") / F.lit(float(_AP_SCALE)),
            6,
        ).alias("mean_ap"),
    )


# ---------------------------------------------------------------------------
# Decile lift & gains table — the campaign-targeting eval row
# ---------------------------------------------------------------------------

_LIFT_BUCKETS = 10

_LIFT_SQL = f"""
WITH {_UNITS_SQL},
ranked AS (
  SELECT label,
         ntile({_LIFT_BUCKETS}) OVER (ORDER BY score DESC, user_id, day)
           AS decile
  FROM units
),
per AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(label) AS BIGINT) AS n_pos
  FROM ranked GROUP BY decile
),
tot AS (
  SELECT SUM(n)::BIGINT AS n_total, SUM(n_pos)::BIGINT AS pos_total FROM per
),
cum AS (
  SELECT decile, n, n_pos,
         SUM(n_pos) OVER (ORDER BY decile
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_pos
  FROM per
)
SELECT c.decile, c.n, c.n_pos,
       ROUND(CAST(c.n_pos AS DOUBLE) / CAST(c.n AS DOUBLE), 6) AS response_rate,
       ROUND(CAST(c.n_pos * t.n_total AS DOUBLE)
             / CAST(c.n * t.pos_total AS DOUBLE), 6) AS lift,
       ROUND(CAST(c.cum_pos AS DOUBLE) / CAST(t.pos_total AS DOUBLE), 6)
         AS cum_gain
FROM cum c CROSS JOIN tot t
WHERE t.pos_total > 0
"""


@register(
    "ml_lift_gains",
    _LIFT_SQL,
    doc=(
        "decile lift & cumulative gains — the campaign-targeting "
        "evaluation every scored audience gets (does the top decile "
        "capture more converters than random?): the AUC/MAP scoring "
        "frame ranks under the same deterministic total order, "
        "ntile({b}) buckets it (both engines give earlier tiles the "
        "remainder rows — same semantics), per-decile (n, n_pos) are "
        "exact integer counts, and lift = (pos_d * N) / (n_d * P) is "
        "an integer cross-multiply with ONE division at emit (gains "
        "likewise from the cumulative integer sum over the 10-row "
        "frame). At scale the rank partitions by campaign/segment; "
        "the decile aggregate is O(buckets). Output: {b} rows"
    ).format(b=_LIFT_BUCKETS),
)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    units = _scored_units(spark, sf_dir)
    wo = W.orderBy(F.col("score").desc(), F.col("user_id"), F.col("day"))
    ranked = units.select(
        "label", F.ntile(_LIFT_BUCKETS).over(wo).alias("decile")
    )
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("n_pos").cast("bigint").alias("pos_total"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    cum = per.select("decile", "n", "n_pos", F.sum("n_pos").over(wc).alias("cum_pos"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("pos_total") > 0)
        .select(
            "decile",
            "n",
            "n_pos",
            dround(F.col("n_pos").cast("double") / F.col("n").cast("double"), 6).alias(
                "response_rate"
            ),
            dround(
                (F.col("n_pos") * F.col("n_total")).cast("double")
                / (F.col("n") * F.col("pos_total")).cast("double"),
                6,
            ).alias("lift"),
            dround(
                F.col("cum_pos").cast("double") / F.col("pos_total").cast("double"), 6
            ).alias("cum_gain"),
        )
    )


# ---------------------------------------------------------------------------
# Matthews correlation coefficient — the confusion-matrix
# summary robust to class imbalance
# ---------------------------------------------------------------------------

_MCC_THRESHOLD = 3  # predict "purchase day" when non-purchase activity < 3

_MCC_SQL = f"""
WITH {_UNITS_SQL},
conf AS (
  SELECT
    SUM(CASE WHEN score < {_MCC_THRESHOLD} AND label = 1 THEN 1 ELSE 0 END)::HUGEINT AS tp,
    SUM(CASE WHEN score < {_MCC_THRESHOLD} AND label = 0 THEN 1 ELSE 0 END)::HUGEINT AS fp,
    SUM(CASE WHEN score >= {_MCC_THRESHOLD} AND label = 1 THEN 1 ELSE 0 END)::HUGEINT AS fn,
    SUM(CASE WHEN score >= {_MCC_THRESHOLD} AND label = 0 THEN 1 ELSE 0 END)::HUGEINT AS tn
  FROM units
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       ROUND(CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE), 6)
         AS accuracy,
       ROUND(CAST(tp * tn - fp * fn AS DOUBLE)
             / sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE)
                    * CAST((tn + fp) * (tn + fn) AS DOUBLE)), 6) AS mcc
FROM conf
WHERE (tp + fp) * (tp + fn) > 0 AND (tn + fp) * (tn + fn) > 0
"""


@register(
    "ml_mcc_confusion",
    _MCC_SQL,
    doc=(
        "Matthews correlation coefficient — the single "
        "imbalance-robust confusion summary (accuracy lies when one "
        "class dominates; MCC = the phi correlation of the 2x2 "
        "table) completing the eval row set beside auc (ranking), "
        "kappa (agreement) and calibration: the low-activity rule "
        "thresholds the AUC scoring frame into predictions, the four "
        "cells are ONE exact integer aggregate over the scan, and "
        "MCC = (TP*TN - FP*FN)/sqrt((TP+FP)(TP+FN)(TN+FP)(TN+FN)) "
        "is one fixed chain over 128-bit products with integer "
        "marginal guards. O(1) output; at 100 TB the cells "
        "partial-aggregate map-side — the cheapest eval there is"
    ),
)
def ml_mcc_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    units = _scored_units(spark, sf_dir)
    pred = F.col("score") < _MCC_THRESHOLD
    pos = F.col("label") == 1
    d38 = "decimal(38,0)"
    conf = units.agg(
        F.sum(F.when(pred & pos, 1).otherwise(0)).cast(d38).alias("tp"),
        F.sum(F.when(pred & ~pos, 1).otherwise(0)).cast(d38).alias("fp"),
        F.sum(F.when(~pred & pos, 1).otherwise(0)).cast(d38).alias("fn"),
        F.sum(F.when(~pred & ~pos, 1).otherwise(0)).cast(d38).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return conf.filter(
        ((tp + fp) * (tp + fn) > 0) & ((tn + fp) * (tn + fn) > 0)
    ).select(
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        tn.cast("bigint").alias("tn"),
        dround(
            (tp + tn).cast("double") / (tp + fp + fn + tn).cast("double"), 6
        ).alias("accuracy"),
        dround(
            (tp * tn - fp * fn).cast("double")
            / F.sqrt(
                ((tp + fp) * (tp + fn)).cast("double")
                * ((tn + fp) * (tn + fn)).cast("double")
            ),
            6,
        ).alias("mcc"),
    )
