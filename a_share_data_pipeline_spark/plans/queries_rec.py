"""Round-6 wave 19: the collaborative-filtering recommender family —
the item-item cosine kNN graph and the user top-N scoring pass that
consumes it. Together they are the classic two-stage batch recommender
(Amazon-style item-based CF): an O(vocab²)-bounded model build, then a
user-linear scoring join.

Same discipline as waves 5-18: co-occurrence counts are exact int64,
the cosine is ONE sqrt + ONE division over exact integer inputs
(bit-identical doubles on both engines — no rounding needed before the
order-by), user scores re-quantize to integer ppm BEFORE summation so
the ranking compare is pure int64, and every fan-out is bounded by the
brand vocabulary, never by data volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.rounding import dround
from ..session import pin
from ..sources import load_table
from .catalog import register

# ---------------------------------------------------------------------------
# item-item cosine kNN graph (wave 19)
# ---------------------------------------------------------------------------

_TOPK_NEIGHBORS = 5

# Shared CTE prefix: the distinct user×brand interaction set and the
# integer co-occurrence/cosine item graph derived from it.
_SIMS_CTES = """
interactions AS (
  SELECT DISTINCT o.o_custkey AS user_id, p.p_brand AS item
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
),
cnt AS (SELECT item, COUNT(*) AS c FROM interactions GROUP BY item),
pair AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS c_ab
  FROM interactions a JOIN interactions b
    ON a.user_id = b.user_id AND a.item <> b.item
  GROUP BY 1, 2
),
sims AS (
  SELECT p.item_a, p.item_b, p.c_ab, ca.c AS c_a, cb.c AS c_b,
         p.c_ab / sqrt(ca.c * cb.c) AS cosine
  FROM pair p
  JOIN cnt ca ON ca.item = p.item_a
  JOIN cnt cb ON cb.item = p.item_b
)"""

_ITEM_COOCCUR_SQL = f"""
WITH {_SIMS_CTES}
SELECT item_a, item_b,
       CAST(c_ab AS BIGINT) AS c_ab,
       CAST(c_a AS BIGINT) AS c_a,
       CAST(c_b AS BIGINT) AS c_b,
       ROUND(cosine, 6) AS cosine,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT s.*, row_number() OVER (
    PARTITION BY item_a ORDER BY cosine DESC, item_b
  ) AS rnk
  FROM sims s
)
WHERE rnk <= {_TOPK_NEIGHBORS}
"""


def _interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # no broadcast hint: part is SF-scaled (200k rows/SF) — per the
        # repo's stats-based-AQE policy the planner decides from the
        # projected 2-column size, not a forced hint (VERDICT r7 item 5)
        .join(part, li.l_partkey == part.p_partkey)
        .select(F.col("o_custkey").alias("user_id"), F.col("p_brand").alias("item"))
        .distinct()
    )


def _user_item_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, items) — each user's DISTINCT brand set as one sorted
    array row (round 14, guide §2.3 "aggregate before you shuffle").

    The brand vocabulary is FIXED (25 at any TPC-H scale), so the set
    is a bounded ≤25-element array: ONE collect_set aggregation —
    partial on the map side, dedup inside the aggregate — replaces the
    old distinct shuffle, and every downstream stage (item marginals,
    pair counts, scoring, history exclusion) derives map-side from
    this frame instead of re-joining interaction rows. Eagerly pinned:
    all consumers reuse the single materialization instead of
    re-running the 3-table ingest join."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # no broadcast hint: part is SF-scaled — same stats-based-AQE
        # policy as _interactions (VERDICT r7 item 5)
        .join(part, li.l_partkey == part.p_partkey)
        .select(F.col("o_custkey").alias("user_id"), F.col("p_brand").alias("item"))
    )
    return pin(
        raw.groupBy("user_id")
        .agg(F.sort_array(F.collect_set("item")).alias("items"))
    )


def _item_sims_from_sets(user_sets: DataFrame) -> DataFrame:
    """The identical item-item cosine graph computed from per-user
    brand-set arrays instead of a user-key self-join (round 14): pair
    instances explode MAP-SIDE from each ≤25-element array straight
    into the (item_a, item_b) partial aggregate — the 5.6M-row join
    output that previously crossed an exchange never exists as a
    shuffled frame, and the only shuffles left are vocab²-group
    aggregates. Counts are the same exact int64s (collect_set dedups
    exactly like the old DISTINCT), so the cosine doubles are
    bit-identical to :func:`_item_sims`'s."""
    cnt = (
        user_sets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pair = (
        user_sets.select(F.explode("items").alias("item_a"), "items")
        .select("item_a", F.explode("items").alias("item_b"))
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    ca = cnt.select(F.col("item").alias("item_a"), F.col("c").alias("c_a"))
    cb = cnt.select(F.col("item").alias("item_b"), F.col("c").alias("c_b"))
    return (
        pair.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .withColumn(
            "cosine", F.col("c_ab") / F.sqrt(F.col("c_a") * F.col("c_b"))
        )
    )


def _item_sims(inter: DataFrame) -> DataFrame:
    """The r13 join-based item-item cosine graph — RETAINED as the
    measured-against reference for the round-14 set-based builder
    (the catalog queries all ride :func:`_item_sims_from_sets` now);
    `test_rec_set_based_sims_equal_join_based` pins the two builders
    row-for-row equal, so a regression in either shows as a diff.

    The pair expansion self-joins on the USER key (one shuffle, the
    exchange reused on both sides), so per-user work is bounded by the
    brand vocabulary — never by interaction volume; the resulting
    graph is at most vocab² edges regardless of corpus size. The
    cosine c_ab/√(c_a·c_b) is one sqrt + one division over exact
    int64 counts, so both engines produce bit-identical doubles and
    it can serve as an ORDER BY key without any rounding."""
    cnt = inter.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    a = inter.select("user_id", F.col("item").alias("item_a"))
    b = inter.select("user_id", F.col("item").alias("item_b"))
    pair = (
        a.join(b, "user_id")
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    ca = cnt.select(F.col("item").alias("item_a"), F.col("c").alias("c_a"))
    cb = cnt.select(F.col("item").alias("item_b"), F.col("c").alias("c_b"))
    return (
        pair.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .withColumn(
            "cosine", F.col("c_ab") / F.sqrt(F.col("c_a") * F.col("c_b"))
        )
    )


@register(
    "rec_item_cooccur",
    _ITEM_COOCCUR_SQL,
    doc=(
        "item-based CF model build: the top-5 cosine neighbors of "
        "every brand from co-interaction counts. Distinct (user, "
        "brand) interactions reduce first; the pair expansion "
        "self-joins on the user key so per-user fan-out is bounded by "
        "the brand vocabulary and the item graph is at most vocab² "
        "edges at ANY corpus scale; count marginals broadcast. The "
        "cosine c_ab/√(c_a·c_b) is one sqrt + one division over exact "
        "int64 counts — bit-identical on both engines — so the kNN "
        "row_number orders by the raw double with the item id as the "
        "only tie-break needed (symmetric pairs: equal counts → equal "
        "cosines, handled by the id order)"
    ),
)
def rec_item_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 14: same set-based sims as rec_user_topn (identical exact
    # counts, see _item_sims_from_sets) — the user-key self-join and
    # its shuffled 5.6M-row output are gone from this path too
    sims = _item_sims_from_sets(_user_item_sets(spark, sf_dir))
    w = W.partitionBy("item_a").orderBy(F.col("cosine").desc(), "item_b")
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK_NEIGHBORS)
        .select(
            "item_a",
            "item_b",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.col("c_a").cast("bigint").alias("c_a"),
            F.col("c_b").cast("bigint").alias("c_b"),
            dround(F.col("cosine"), 6).alias("cosine"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# user top-N recommendations from the item graph (wave 19)
# ---------------------------------------------------------------------------

_TOPN_RECS = 3

_USER_TOPN_SQL = f"""
WITH {_SIMS_CTES},
knn AS (
  SELECT item_a, item_b,
         CAST(FLOOR(cosine * 1000000) AS BIGINT) AS sim_ppm
  FROM (
    SELECT s.*, row_number() OVER (
      PARTITION BY item_a ORDER BY cosine DESC, item_b
    ) AS rnk
    FROM sims s
  )
  WHERE rnk <= {_TOPK_NEIGHBORS}
),
scored AS (
  SELECT i.user_id, k.item_b AS item, SUM(k.sim_ppm) AS score_ppm
  FROM interactions i JOIN knn k ON k.item_a = i.item
  WHERE NOT EXISTS (
    SELECT 1 FROM interactions h
    WHERE h.user_id = i.user_id AND h.item = k.item_b
  )
  GROUP BY 1, 2
)
SELECT CAST(user_id AS BIGINT) AS user_id, item,
       CAST(score_ppm AS BIGINT) AS score_ppm,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT s.*, row_number() OVER (
    PARTITION BY user_id ORDER BY score_ppm DESC, item
  ) AS rnk
  FROM scored s
)
WHERE rnk <= {_TOPN_RECS}
"""


@register(
    "rec_user_topn",
    _USER_TOPN_SQL,
    doc=(
        "the scoring half of item-based CF: every user's history rows "
        "join the broadcast-size kNN item graph (≤ vocab·5 edges), "
        "candidate scores aggregate per (user, candidate), "
        "already-interacted items drop via an anti-join on the SAME "
        "(user, item) key, and the top-3 window partitions by user — "
        "every stage keys on user_id, so the whole pass is one "
        "user-linear pipeline at any scale. Neighbor cosines "
        "re-quantize to integer ppm (floor of a bit-identical double) "
        "BEFORE summation, so scores and the ranking compare are pure "
        "int64 — no float-fold ambiguity across engines"
    ),
)
def rec_user_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-14 rewrite (guide §2.3/§2.4 — aggregate before the
    shuffle, remove shuffles outright; A/B receipts in plans/r14/):
    the old shape shuffled a user-key self-join (~5.6M joined rows at
    sf0.1) for pair counts and a second scoring-frame exchange for the
    history anti-join. Per-user brand sets are bounded arrays (vocab
    is fixed), so pair counts explode map-side from one collect_set
    frame, and "already interacted" becomes a map-side array_contains
    on the very row the score rides — the anti-join exchange is gone.
    Same exact int64 counts → bit-identical cosines/ppm → identical
    rows (oracle-proved at 3 SFs)."""
    user_sets = _user_item_sets(spark, sf_dir)  # consumers: sims + scoring
    sims = _item_sims_from_sets(user_sets)
    wk = W.partitionBy("item_a").orderBy(F.col("cosine").desc(), "item_b")
    knn = (
        sims.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= _TOPK_NEIGHBORS)
        .select(
            "item_a",
            "item_b",
            F.floor(F.col("cosine") * F.lit(1000000)).cast("bigint").alias("sim_ppm"),
        )
    )
    scored = (
        user_sets.select("user_id", F.explode("items").alias("item_a"), "items")
        .join(F.broadcast(knn), "item_a")
        .filter(~F.array_contains(F.col("items"), F.col("item_b")))
        .groupBy("user_id", F.col("item_b").alias("item"))
        .agg(F.sum("sim_ppm").alias("score_ppm"))
    )
    wu = W.partitionBy("user_id").orderBy(F.col("score_ppm").desc(), "item")
    return (
        scored.withColumn("rnk", F.row_number().over(wu))
        .filter(F.col("rnk") <= _TOPN_RECS)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "item",
            F.col("score_ppm").cast("bigint").alias("score_ppm"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 56: beyond-accuracy metrics — intra-list diversity + catalog
# coverage over the top-N lists (the recsys-eval completion)
# ---------------------------------------------------------------------------

_BA_SQL = f"""
WITH {_SIMS_CTES},
knn AS (
  SELECT item_a, item_b,
         CAST(FLOOR(cosine * 1000000) AS BIGINT) AS sim_ppm
  FROM (
    SELECT s.*, row_number() OVER (
      PARTITION BY item_a ORDER BY cosine DESC, item_b
    ) AS rnk
    FROM sims s
  )
  WHERE rnk <= {_TOPK_NEIGHBORS}
),
scored AS (
  SELECT i.user_id, k.item_b AS item, SUM(k.sim_ppm) AS score_ppm
  FROM interactions i JOIN knn k ON k.item_a = i.item
  WHERE NOT EXISTS (
    SELECT 1 FROM interactions h
    WHERE h.user_id = i.user_id AND h.item = k.item_b
  )
  GROUP BY 1, 2
),
recs AS (
  SELECT user_id, item FROM (
    SELECT s.*, row_number() OVER (
      PARTITION BY user_id ORDER BY score_ppm DESC, item
    ) AS rnk
    FROM scored s
  ) WHERE rnk <= {_TOPN_RECS}
),
dpairs AS (
  SELECT a.user_id,
         CASE WHEN substring(a.item, 7, 1) <> substring(b.item, 7, 1)
              THEN 1 ELSE 0 END AS diff
  FROM recs a JOIN recs b ON b.user_id = a.user_id AND a.item < b.item
),
per_user AS (
  SELECT user_id, (SUM(diff) * 1000000) // COUNT(*) AS ild_u
  FROM dpairs GROUP BY 1
),
agg AS (
  SELECT COUNT(*)::BIGINT AS n_users, SUM(ild_u)::HUGEINT AS s FROM per_user
),
cov AS (SELECT COUNT(DISTINCT item)::BIGINT AS n_rec FROM recs),
cat AS (SELECT COUNT(DISTINCT p_brand)::BIGINT AS n_cat FROM part)
SELECT agg.n_users,
       ROUND(CAST(agg.s AS DOUBLE) / agg.n_users / 1000000.0, 6) AS avg_ild,
       cov.n_rec AS n_items_recommended,
       cat.n_cat AS n_items_catalog,
       ROUND(CAST(cov.n_rec AS DOUBLE) / cat.n_cat, 6) AS coverage
FROM agg CROSS JOIN cov CROSS JOIN cat
"""


@register(
    "rec_beyond_accuracy",
    _BA_SQL,
    doc=(
        "beyond-accuracy recommender metrics — the two numbers every "
        "recsys eval needs NEXT to precision (search_ndcg_eval / "
        "ml_average_precision cover accuracy): intra-list diversity "
        "(fraction of within-list pairs from DIFFERENT manufacturers "
        "— the attribute-based ILD) and catalog coverage (distinct "
        "recommended / distinct catalog items). The top-{n} lists "
        "come from rec_user_topn's exact pipeline; per-user ILD "
        "floors onto the 1e-6 integer grid via pure integer division "
        "so the cross-user average is an exact fold; single-item "
        "lists have no pairs and drop (documented). Per-user pair "
        "fan-out is C({n},2) — constant. O(1) output"
    ).format(n=_TOPN_RECS),
)
def rec_beyond_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pair join (twice) + coverage
    recs = pin(rec_user_topn(spark, sf_dir).select("user_id", "item"))
    mfr = lambda c: F.substring(c, 7, 1)  # noqa: E731  Brand#MN -> M
    b = recs.select(F.col("user_id"), F.col("item").alias("item_b"))
    dpairs = (
        recs.join(b, "user_id")
        .filter(F.col("item") < F.col("item_b"))
        .select(
            "user_id",
            F.when(mfr(F.col("item")) != mfr(F.col("item_b")), 1)
            .otherwise(0)
            .alias("diff"),
        )
    )
    per_user = dpairs.groupBy("user_id").agg(
        F.expr("(SUM(diff) * 1000000) div COUNT(*)").alias("ild_u")
    )
    agg = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("ild_u").cast("decimal(38,0)").alias("s"),
    )
    cov = recs.agg(F.count_distinct("item").cast("bigint").alias("n_rec"))
    cat = (
        load_table(spark, sf_dir, "part")
        .agg(F.count_distinct("p_brand").cast("bigint").alias("n_cat"))
    )
    return (
        agg.crossJoin(F.broadcast(cov))
        .crossJoin(F.broadcast(cat))
        .select(
            "n_users",
            dround(
                F.col("s").cast("double") / F.col("n_users") / F.lit(1000000.0), 6
            ).alias("avg_ild"),
            F.col("n_rec").alias("n_items_recommended"),
            F.col("n_cat").alias("n_items_catalog"),
            dround(F.col("n_rec").cast("double") / F.col("n_cat"), 6).alias(
                "coverage"
            ),
        )
    )
