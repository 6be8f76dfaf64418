"""SQL front-end surface + subquery decorrelation + analytics extras.

The reference has no SQL entry point (queries are Prefect flow calls,
SURVEY.md §3); a Spark-native engine gets one for free. These queries
go through ``spark.sql`` over temp views registered from the same
parquet readers the DataFrame queries use, exercising capabilities
that only exist in the SQL layer or that the rest of the catalog does
not cover:

- correlated scalar subqueries (Catalyst ScalarSubquery + decorrelation)
- IN / NOT IN (null-aware anti join) / correlated EXISTS subqueries
- GROUPING SETS with the GROUPING() marker
- RANGE BETWEEN INTERVAL window frames over event time
- percent_rank / cume_dist / nth_value distribution windows
- two-level aggregation (TPC-H Q13 distribution shape)
- TF-IDF and grouped embedding centroids (training-data analytics)

Scale notes: every SQL query still compiles through Catalyst to the
same physical operators the DataFrame API produces — subqueries
decorrelate to broadcast/shuffle joins, interval range frames run in a
single window exchange partitioned by the high-cardinality key.
Rounding happens post-SQL with `dround` (DuckDB binary semantics) so
value hashes cannot drift on .xx5 boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround
from ..sources import load_table
from .catalog import register
from .queries_llm import _VECTORS_SQL


def _views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# ---------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H Q17 shape)
# ---------------------------------------------------------------------------

_SCALAR_SUB_SQL = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#4'
  AND l_quantity < (SELECT 0.41 * AVG(l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


@register(
    "sql_scalar_subquery",
    _SCALAR_SUB_SQL,
    doc=(
        "TPC-H Q17 shape via the SQL front end: correlated scalar "
        "subquery; Catalyst decorrelates to an aggregate-then-join, so "
        "lineitem is scanned twice but never nested-loop re-executed "
        "per outer row"
    ),
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "lineitem", "part")
    raw = spark.sql(
        """
        SELECT SUM(l_extendedprice) / 7.0 AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#4'
          AND l_quantity < (SELECT 0.41 * AVG(l_quantity)
                            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        """
    )
    return raw.select(dround("avg_yearly", 2).alias("avg_yearly"))


# ---------------------------------------------------------------------------
# IN subquery with HAVING (TPC-H Q18 shape)
# ---------------------------------------------------------------------------

_IN_SUB_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       ROUND(o_totalprice, 2)   AS total,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
"""


@register(
    "sql_in_subquery",
    _IN_SUB_SQL,
    doc=(
        "TPC-H Q18 shape: IN over an aggregated subquery — planned as a "
        "left-semi join against the HAVING-filtered aggregate (shuffles "
        "once on orderkey, reused by the outer join)"
    ),
)
def sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "customer", "orders", "lineitem")
    raw = spark.sql(
        """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
               o_totalprice, SUM(l_quantity) AS sum_qty
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        """
    )
    return raw.select(
        "c_name",
        "c_custkey",
        "o_orderkey",
        "o_orderdate",
        dround("o_totalprice", 2).alias("total"),
        dround("sum_qty", 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Correlated EXISTS (TPC-H Q4 shape, adapted to the testdata columns)
# ---------------------------------------------------------------------------

_EXISTS_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_discount > 0.07 AND l_quantity > 30)
GROUP BY o_orderpriority
"""


@register(
    "sql_exists_correlated",
    _EXISTS_SQL,
    doc=(
        "TPC-H Q4 shape: correlated EXISTS decorrelated to a left-semi "
        "join; the inner filter is pushed below the semi join so only "
        "qualifying lineitem rows shuffle"
    ),
)
def sql_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_discount > 0.07 AND l_quantity > 30)
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# NOT IN — null-aware anti join (different semantics from NOT EXISTS)
# ---------------------------------------------------------------------------

_NOT_IN_SQL = """
SELECT c_custkey, c_nationkey
FROM customer
WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier WHERE s_acctbal < 0)
"""


@register(
    "sql_not_in",
    _NOT_IN_SQL,
    doc=(
        "NOT IN subquery: null-aware anti join (one inner NULL empties "
        "the result — distinct from the NOT EXISTS plan in join_anti); "
        "small inner side broadcasts"
    ),
)
def sql_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "customer", "supplier")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey
        FROM customer
        WHERE c_nationkey NOT IN (SELECT s_nationkey FROM supplier
                                  WHERE s_acctbal < 0)
        """
    )


# ---------------------------------------------------------------------------
# GROUPING SETS + GROUPING() marker (§2.5 beyond rollup/cube)
# ---------------------------------------------------------------------------

_GSETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
       COUNT(*) AS n_rows,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register(
    "agg_grouping_sets",
    _GSETS_SQL,
    doc=(
        "explicit GROUPING SETS with GROUPING() null-disambiguation "
        "markers — one Expand + single hash aggregate, not N scans"
    ),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "lineitem")
    raw = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
               COUNT(*) AS n_rows,
               SUM(l_quantity) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )
    return raw.select(
        "l_returnflag",
        "l_linestatus",
        "g_rf",
        "g_ls",
        "n_rows",
        dround("sum_qty", 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# RANGE BETWEEN INTERVAL window frames over event time (§2.6)
# ---------------------------------------------------------------------------

_WRANGE_SQL = """
SELECT event_id, user_id, ts,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts
                              RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                                        AND CURRENT ROW), 4) AS sum_1h,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                                AND CURRENT ROW) AS n_1h
FROM events
"""


@register(
    "window_range_interval",
    _WRANGE_SQL,
    doc=(
        "time-based RANGE frame (trailing 1h per user) — the sliding "
        "look-back the canonical table needs for rolling liquidity; one "
        "window exchange partitioned by the high-cardinality user key"
    ),
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "events")
    raw = spark.sql(
        """
        SELECT event_id, user_id, ts,
               SUM(value) OVER w AS sum_1h,
               COUNT(*)   OVER w AS n_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
        """
    )
    return raw.select(
        "event_id", "user_id", "ts", dround("sum_1h", 4).alias("sum_1h"), "n_1h"
    )


# ---------------------------------------------------------------------------
# Two-level aggregation (TPC-H Q13 distribution shape)
# ---------------------------------------------------------------------------

_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count
"""


@register(
    "agg_distribution",
    _Q13_SQL,
    doc=(
        "TPC-H Q13 shape: outer join with a join-side residual predicate, "
        "then aggregate-of-aggregate; second agg keys on the tiny c_count "
        "domain so its shuffle is negligible"
    ),
)
def agg_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# TF-IDF over documents (§2.12 text analysis)
# ---------------------------------------------------------------------------

_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM toks WHERE term <> '' GROUP BY doc_id, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM documents)
SELECT tf.doc_id, tf.term, tf.tf, df.df,
       ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
FROM tf JOIN df USING (term) CROSS JOIN n
WHERE tf.doc_id % 25 = 0
"""


@register(
    "text_tfidf",
    _TFIDF_SQL,
    doc=(
        "TF-IDF: tokenize → per-doc term freq → corpus doc freq → "
        "tf*ln(N/df). DF table is tiny relative to the corpus and "
        "broadcasts back onto the TF rows; the corpus count is a scalar "
        "broadcast. Output restricted to a doc sample, DF computed "
        "over the full corpus"
    ),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # scalar; embedded as a literal in the plan
    out = tf.join(F.broadcast(df), "term").filter(F.col("doc_id") % 25 == 0)
    return out.select(
        "doc_id",
        "term",
        "tf",
        "df",
        dround(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )


# ---------------------------------------------------------------------------
# Grouped embedding centroids (§2.12 vector analytics)
# ---------------------------------------------------------------------------

_CENTROID_SQL = """
SELECT label, i AS pos,
       ROUND(AVG(CAST(embedding[i + 1] AS DOUBLE)), 6) AS centroid,
       COUNT(*) AS n_vectors
FROM embeddings, range(64) t(i)
GROUP BY label, i
"""


@register(
    "embedding_centroids",
    _CENTROID_SQL,
    doc=(
        "per-label centroid of a 64-dim embedding column: posexplode → "
        "groupBy(label, pos) mean — the k-means update step as one "
        "partial-aggregated shuffle on (label, pos), no driver loop"
    ),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    return (
        ex.groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            dround(F.avg(F.col("v").cast("double")), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


# ---------------------------------------------------------------------------
# More TPC-H shapes: Q12 / Q14 / Q19 / Q22 adapted to the testdata columns
# ---------------------------------------------------------------------------

_CASE_COUNTS_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
"""


@register(
    "sql_case_counts",
    _CASE_COUNTS_SQL,
    doc="TPC-H Q12 shape: conditional CASE aggregation over a fact join",
)
def sql_case_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_returnflag
        """
    )


_PROMO_SQL = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
"""


@register(
    "sql_promo_share",
    _PROMO_SQL,
    doc="TPC-H Q14 shape: conditional revenue share (ratio of two aggregates, one pass)",
)
def sql_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "lineitem", "part")
    raw = spark.sql(
        """
        SELECT 100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0 END)
               / SUM(l_extendedprice * (1 - l_discount)) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        """
    )
    return raw.select(dround("promo_revenue_pct", 4).alias("promo_revenue_pct"))


_DISJ_SQL = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
"""


@register(
    "sql_disjunctive_join",
    _DISJ_SQL,
    doc=(
        "TPC-H Q19 shape: disjunctive mixed-side predicates over a join "
        "— Catalyst extracts the common single-side conjuncts from the "
        "OR and pushes them below the join"
    ),
)
def sql_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "lineitem", "part")
    raw = spark.sql(
        """
        SELECT SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
        """
    )
    return raw.select(dround("revenue", 2).alias("revenue"), "n_lines")


_GLOBAL_SUB_SQL = """
SELECT c_nationkey AS cntrycode,
       COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice > 350000)
GROUP BY c_nationkey
"""


@register(
    "sql_global_scalar_sub",
    _GLOBAL_SUB_SQL,
    doc=(
        "TPC-H Q22 shape: uncorrelated scalar subquery (computed once, "
        "broadcast as a literal at runtime) + NOT EXISTS anti join + "
        "IN-list filter"
    ),
)
def sql_global_scalar_sub(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "customer", "orders")
    raw = spark.sql(
        """
        SELECT c_nationkey AS cntrycode,
               COUNT(*) AS numcust,
               SUM(c_acctbal) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
          AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_totalprice > 350000)
        GROUP BY c_nationkey
        """
    )
    return raw.select("cntrycode", "numcust", dround("totacctbal", 2).alias("totacctbal"))




# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE — iterative series generation in SQL)
# ---------------------------------------------------------------------------

_RECURSIVE_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT TIMESTAMP '1995-01-01 00:00:00'
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '2002-06-01 00:00:00'
),
per_month AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         COUNT(*) AS n_orders,
         SUM(o_totalprice) AS revenue
  FROM orders GROUP BY 1
)
SELECT months.m AS month_start,
       COALESCE(n_orders, 0) AS n_orders,
       ROUND(COALESCE(revenue, 0), 2) AS revenue
FROM months LEFT JOIN per_month ON months.m = per_month.m
"""


@register(
    "sql_recursive_cte",
    _RECURSIVE_SQL,
    doc=(
        "WITH RECURSIVE (Spark 4 UnionLoop): a 90-row month series "
        "generated by in-engine recursion, outer-joined to a per-month "
        "pre-aggregate of the fact table so zero-order months survive "
        "with 0s. The fact side collapses map-side first (partial agg "
        "on ~90 keys → a tiny shuffle), so both join inputs are "
        "series-sized — the naive `series LEFT JOIN fact` form would "
        "broadcast/shuffle the full fact table instead. Recursion "
        "depth (90) sits under Spark's 100-level recursion guard; "
        "state per iteration is one row"
    ),
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "orders")
    raw = spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT TIMESTAMP '1995-01-01 00:00:00'
          UNION ALL
          SELECT m + INTERVAL '1' MONTH FROM months
          WHERE m < TIMESTAMP '2002-06-01 00:00:00'
        ),
        per_month AS (
          SELECT date_trunc('month', o_orderdate) AS m,
                 COUNT(*) AS n_orders,
                 SUM(o_totalprice) AS revenue
          FROM orders GROUP BY 1
        )
        SELECT months.m AS month_start,
               COALESCE(n_orders, 0) AS n_orders,
               COALESCE(revenue, 0) AS revenue
        FROM months LEFT JOIN per_month ON months.m = per_month.m
        """
    )
    return raw.select(
        "month_start", "n_orders", dround("revenue", 2).alias("revenue")
    )


# ---------------------------------------------------------------------------
# Correlated LATERAL subquery with LIMIT (per-group top-k via the SQL front end)
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT n_name, l.c_custkey, l.bal
FROM nation, LATERAL (
  SELECT c_custkey, ROUND(c_acctbal, 2) AS bal
  FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 2
) l
"""


@register(
    "sql_lateral_topk",
    _LATERAL_SQL,
    doc=(
        "correlated LATERAL subquery with ORDER BY + LIMIT (top-2 "
        "customers per nation): Catalyst decorrelates to a row_number "
        "window over customer + one broadcast join against nation — "
        "NOT a per-row nested-loop re-execution (plan-gated). Honest "
        "scale note: the decorrelation currently plans a redundant "
        "global range-sort of customer before the window; the "
        "hand-written WindowGroupLimit form (sample_group_fixed) "
        "avoids it and is the preferred shape for a huge inner table"
    ),
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "nation", "customer")
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# VARIANT semi-structured lane (Spark 4 open variant encoding)
# ---------------------------------------------------------------------------

_VARIANT_SQL = """
SELECT event_id,
       event_type AS etype,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       ROUND(value * 2, 4) AS v2,
       CAST(NULL AS INT) AS missing
FROM events WHERE event_id % 20 = 0
"""


@register(
    "json_variant",
    _VARIANT_SQL,
    doc=(
        "Spark 4 VARIANT lane: parse_json → binary variant (parsed "
        "ONCE, fields lazily accessed) → variant_get with nested "
        "paths, array indexing, and typed casts; try_variant_get on a "
        "missing path yields NULL instead of failing. The row builds "
        "a nested JSON (struct + array) from real columns, round-trips "
        "it through VARIANT, and the oracle recomputes the same values "
        "straight from the source columns — proving the round trip is "
        "lossless. Map-only (Exchange-free gated); at scale VARIANT "
        "replaces get_json_object's per-access string reparse for "
        "semi-structured columns"
    ),
)
def json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    j = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.struct(
                F.get_json_object("props", "$.k").cast("long").alias("k"),
                F.array(F.col("value"), F.col("value") * 2).alias("vals"),
            ).alias("p"),
        ),
        {"ignoreNullFields": "false"},
    )
    v = F.parse_json(j)
    return ev.filter(F.col("event_id") % 20 == 0).select(
        "event_id",
        F.try_variant_get(v, "$.t", "string").alias("etype"),
        F.variant_get(v, "$.p.k", "bigint").alias("k"),
        dround(F.variant_get(v, "$.p.vals[1]", "double"), 4).alias("v2"),
        F.try_variant_get(v, "$.missing", "int").alias("missing"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (§2.12 text analysis)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "merge", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


def _bm25_sql(topk: int = _BM25_TOPK) -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
  FROM documents
),
clean AS (SELECT doc_id, term FROM toks WHERE term <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM clean GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n, AVG(dl * 1.0) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM clean
  WHERE term IN ({terms}) GROUP BY doc_id, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         SUM(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
             * tf.tf * ({_BM25_K1} + 1)
             / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
         ) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, ROUND(score, 4) AS bm25
FROM scored
ORDER BY ROUND(score, 4) DESC, doc_id
LIMIT {topk}
"""


@register(
    "text_bm25",
    _bm25_sql(),
    doc=(
        "BM25 ranked retrieval: top-20 docs for a fixed query-term "
        "set under Okapi BM25 (k1=1.2, b=0.75). One tokenization "
        "feeds doc-lengths and term frequencies; only QUERY terms "
        "survive the tf aggregation (the filter lands before the "
        "shuffle, so the shuffled set is O(matching postings), not "
        "the corpus); df and the (N, avgdl) scalars are one-row/"
        "tiny broadcasts; the head exits via TakeOrdered on the "
        "ROUNDED score (both engines order the identical rounded "
        "doubles — ulp-safe tie handling). The search-engine scoring "
        "shape over the same corpus the dedup/curation lanes use"
    ),
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_scores(spark, sf_dir).orderBy(
        F.col("bm25").desc(), "doc_id"
    ).limit(_BM25_TOPK)


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 score per matching doc (unlimited — callers take
    their own TakeOrdered head; search_rrf takes 50, text_bm25 20)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs, avgdl = dl.agg(
        F.count(F.lit(1)), F.avg(F.col("dl") * F.lit(1.0))
    ).first()
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    norm = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + F.lit(_BM25_B) * F.col("dl") / F.lit(float(avgdl))
    )
    contrib = idf * F.col("tf") * F.lit(_BM25_K1 + 1) / norm
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
        .select("doc_id", dround("score", 4).alias("bm25"))
    )


# ---------------------------------------------------------------------------
# Scalar int8 quantization of embeddings (storage-side compression)
# ---------------------------------------------------------------------------

_QUANT_SQL = f"""
WITH {_VECTORS_SQL},
rng AS (
  SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx,
         (list_max(v) - list_min(v)) / 255.0 AS sc
  FROM e
),
q AS (
  SELECT vec_id, mn, mx, sc,
         list_transform(v, x -> CAST(FLOOR((x - mn) / sc + 0.5) AS BIGINT)) AS codes,
         v
  FROM rng WHERE sc > 0
)
SELECT vec_id,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       ROUND(sc, 9) AS scale,
       list_max(list_transform(list_zip(v, codes),
                               p -> ABS(p[1] - (mn + p[2] * sc)))) <= sc * 0.5 + 1e-12
         AS err_bounded
FROM q
"""


@register(
    "embedding_quantize_int8",
    _QUANT_SQL,
    doc=(
        "scalar int8 quantization per vector (min/max affine, 256 "
        "levels) — the storage-side compression for billion-vector "
        "corpora (4x over float32 before PQ enters; this is what "
        "vector stores write to disk). Pure array-HOF expressions "
        "riding the scan: codes via floor(x+0.5) (the engine-stable "
        "rounding device from functions/rounding.py), a code checksum "
        "for the hash, and a dequantization-error contract bounded at "
        "scale/2 — verified per vector on both engines. Map-only, "
        "zero shuffle"
    ),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    rng = emb.select(
        "vec_id",
        v.alias("v"),
        F.array_min(v).alias("mn"),
        ((F.array_max(v) - F.array_min(v)) / 255.0).alias("sc"),
    ).filter(F.col("sc") > 0)
    codes = F.transform(
        "v", lambda x: F.floor((x - F.col("mn")) / F.col("sc") + 0.5).cast("long")
    )
    q = rng.select("vec_id", "v", "mn", "sc", codes.alias("codes"))
    err = F.zip_with(
        "v",
        "codes",
        lambda x, c: F.abs(x - (F.col("mn") + c * F.col("sc"))),
    )
    return q.select(
        "vec_id",
        F.aggregate("codes", F.lit(0).cast("long"), lambda acc, c: acc + c).alias(
            "code_sum"
        ),
        dround("sc", 9).alias("scale"),
        (F.array_max(err) <= F.col("sc") * 0.5 + 1e-12).alias("err_bounded"),
    )


# ---------------------------------------------------------------------------
# Positional phrase search (inverted index with positions)
# ---------------------------------------------------------------------------

_PHRASE = ("table", "scan")  # two-token query phrase (present in the corpus)

_PHRASE_SQL = f"""
WITH lists AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS l
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(l) AS term,
         CAST(generate_subscripts(l, 1) AS BIGINT) AS pos
  FROM lists
),
a AS (SELECT doc_id, pos FROM toks WHERE term = '{_PHRASE[0]}'),
b AS (SELECT doc_id, pos FROM toks WHERE term = '{_PHRASE[1]}')
SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(MIN(a.pos) AS BIGINT) AS first_pos
FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
GROUP BY a.doc_id
"""


@register(
    "text_phrase_search",
    _PHRASE_SQL,
    doc=(
        "positional phrase search — the exact-phrase capability BM25's "
        "bag-of-words scoring cannot express: a positional posting "
        "list (term, doc, ordinal) built with posexplode, the query "
        "terms' postings equi-joined on (doc, adjacent position) so "
        "'data pipeline' matches only token-ADJACENT occurrences "
        "(never substrings across token boundaries, never the two "
        "words apart). Term filters prune the posting list BEFORE the "
        "join — at index scale the posting list is partitioned by "
        "term, so a phrase query touches only its terms' partitions; "
        "the adjacency join carries per-term posting rows, not the "
        "corpus. Emits per-doc hit counts + first position (the "
        "snippet anchor)"
    ),
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != F.lit("")
            )
        ).alias("pos0", "term"),
    ).select("doc_id", "term", (F.col("pos0") + 1).cast("bigint").alias("pos"))
    a = toks.filter(F.col("term") == _PHRASE[0]).select("doc_id", "pos")
    b = toks.filter(F.col("term") == _PHRASE[1]).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    hits = a.join(b, (a["doc_id"] == b["doc_id"]) & (b["pos_b"] == a["pos"] + 1)).drop(
        b["doc_id"]
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.min("pos").cast("bigint").alias("first_pos"),
    )
