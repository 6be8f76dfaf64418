"""UDF-lane and non-equi-join catalog queries (SURVEY.md §2.10, §2.3 J4).

Each query exercises a lane of the UDF surface (functions/udfs.py) or a
join shape the reference lacks (range / theta), with a DuckDB oracle
proving the Python lanes preserve SQL semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround
from ..functions.udfs import WordExplode, geo_mean, price_band
from ..sources.readers import load_table
from .catalog import register

_PBAND_SQL = """
SELECT CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS band,
       COUNT(*) AS n,
       ROUND(SUM(l_extendedprice), 2) AS band_revenue,
       ROUND(EXP(AVG(LN(l_quantity))), 6) AS geo_qty
FROM lineitem
WHERE l_quantity > 0
GROUP BY 1
"""


@register(
    "udf_pandas_scalar",
    _PBAND_SQL,
    doc=(
        "both batch pandas_udf lanes in one plan: Arrow-vectorized "
        "scalar pandas_udf (price banding) feeds a hash agg that "
        "includes a grouped-aggregate pandas_udf (geometric mean, "
        "whole-group Arrow batches); oracle proves both UDFs ≡ SQL "
        "expressions (absorbs round-1 udf_grouped_agg)"
    ),
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    banded = li.withColumn("band", price_band("l_extendedprice"))
    # Spark disallows mixing a grouped-agg pandas UDF with JVM
    # aggregates in one Aggregate (INVALID_PANDAS_UDF_PLACEMENT), so
    # the two lanes aggregate separately and join on the tiny band key
    jvm = banded.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.sum("l_extendedprice"), 2).alias("band_revenue"),
    )
    geo = banded.groupBy("band").agg(dround(geo_mean("l_quantity"), 6).alias("geo_qty"))
    return jvm.join(geo, "band").select("band", "n", "band_revenue", "geo_qty")


_UDTF_SQL = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word
  FROM documents
)
SELECT word, COUNT(*) AS n
FROM words
WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word
LIMIT 25
"""


@register(
    "udf_table_function",
    _UDTF_SQL,
    doc="Python UDTF (lateral word explode) + agg + deterministic top-k",
)
def udf_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_udtf")
    spark.udtf.register("word_explode", WordExplode)
    return spark.sql(
        """
        SELECT w.word, COUNT(*) AS n
        FROM __docs_udtf d, LATERAL word_explode(d.text) w
        GROUP BY w.word
        ORDER BY n DESC, w.word
        LIMIT 25
        """
    )


_RANGE_SQL = """
WITH bands AS (
  SELECT band_id, lo, hi FROM (VALUES
    (0, 0.0, 10.0), (1, 10.0, 25.0), (2, 25.0, 40.0), (3, 40.0, 1e9)
  ) AS t(band_id, lo, hi)
)
SELECT b.band_id, COUNT(*) AS n, ROUND(AVG(l.l_quantity), 4) AS avg_qty
FROM lineitem l JOIN bands b
  ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
GROUP BY b.band_id
"""


@register(
    "join_range",
    _RANGE_SQL,
    doc="range (interval containment) join: broadcast nested-loop against a tiny band table — at scale the small side MUST broadcast or this is a cross shuffle",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [(0, 0.0, 10.0), (1, 10.0, 25.0), (2, 25.0, 40.0), (3, 40.0, 1e9)],
        "band_id int, lo double, hi double",
    )
    cond = (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi"))
    return (
        li.join(F.broadcast(bands), cond)
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n"), dround(F.avg("l_quantity"), 4).alias("avg_qty"))
    )


_THETA_SQL = """
SELECT a.n_name AS nation_a, b.n_name AS nation_b
FROM nation a JOIN nation b
  ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name
ORDER BY nation_a, nation_b
"""


@register(
    "join_theta",
    _THETA_SQL,
    doc="theta join (inequality pairing within region): equi part shuffles/broadcasts, inequality stays residual",
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    a = n.select(F.col("n_name").alias("nation_a"), F.col("n_regionkey").alias("rk_a"))
    b = n.select(F.col("n_name").alias("nation_b"), F.col("n_regionkey").alias("rk_b"))
    return (
        a.join(b, (F.col("rk_a") == F.col("rk_b")) & (F.col("nation_a") < F.col("nation_b")))
        .select("nation_a", "nation_b")
        .orderBy("nation_a", "nation_b")
    )


_NULLSAFE_SQL = """
WITH a AS (SELECT NULLIF(c_nationkey, 7) AS k, c_custkey FROM customer),
b AS (SELECT NULLIF(s_nationkey, 7) AS k2, s_suppkey FROM supplier)
SELECT k, COUNT(*) AS n_pairs, COUNT(DISTINCT s_suppkey) AS n_supp
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k2
GROUP BY k
"""


@register(
    "join_nullsafe",
    _NULLSAFE_SQL,
    doc=(
        "null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL "
        "keys match NULL keys as a real bucket. The scale point: "
        "Catalyst rewrites the <=> key to hashable "
        "(coalesce(k, 0), isnull(k)) columns, so the join stays a "
        "hash/broadcast join (plan-gated) — the hand-written "
        "equivalent `a.k = b.k OR (a.k IS NULL AND b.k IS NULL)` is "
        "a disjunctive condition that degrades to a nested-loop "
        "product. The merge/SCD key pattern for nullable dimensions"
    ),
)
def join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    a = cust.select(F.nullif(F.col("c_nationkey"), F.lit(7)).alias("k"), "c_custkey")
    b = supp.select(F.nullif(F.col("s_nationkey"), F.lit(7)).alias("k2"), "s_suppkey")
    j = a.join(b, a["k"].eqNullSafe(b["k2"]))
    return j.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("s_suppkey").alias("n_supp"),
    )


_ZSCORE_SQL = """
SELECT o_custkey, o_orderkey,
       ROUND((o_totalprice - AVG(o_totalprice) OVER w)
             / NULLIF(STDDEV_SAMP(o_totalprice) OVER w, 0), 6) AS z
FROM orders
WINDOW w AS (PARTITION BY o_custkey)
"""


# Grouped-map batching: applyInPandas pays a per-GROUP Arrow-slice +
# pandas dispatch floor (~0.8ms/group measured — an IDENTITY
# function over sf0.1's 15k customer groups costs ~12s while the
# window-function equivalent runs in 0.4s). So the lane groups by a
# COARSE deterministic bucket and computes the per-customer stats
# inside each batch with one vectorized pandas groupby.transform —
# identical output, ~bucket_count dispatches instead of ~|customers|
# (measured: 12.7s → ~2.5s at sf0.1). At cluster scale this is
# the standard grouped-map pattern: pick buckets ≫ cores for balance,
# ≪ group count so the Python dispatch amortizes.
_GM_BUCKETS = 3000


@register(
    "udf_grouped_map",
    _ZSCORE_SQL,
    doc=(
        "grouped-map applyInPandas (per-customer z-score): groups "
        "arrive as Arrow-backed pandas frames — the lane for "
        "whole-group Python logic; oracle proves it ≡ window "
        "functions. Batched per the per-group dispatch-floor "
        "measurement above: a coarse hash bucket is the applyInPandas "
        "key and a vectorized groupby.transform inside each batch "
        "computes the true per-customer mean/std — same rows, "
        "~5x fewer Python dispatches (small many-group z-scores "
        "belong in window functions; applyInPandas earns its "
        "overhead on few/large groups running real vectorized "
        "Python per group)"
    ),
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def zscore(pdf: "pd.DataFrame") -> "pd.DataFrame":
        g = pdf.groupby("o_custkey")["o_totalprice"]
        mu = g.transform("mean")
        sd = g.transform("std", ddof=1)  # ≡ STDDEV_SAMP
        z = (pdf["o_totalprice"] - mu) / sd.where(sd != 0)
        return pd.DataFrame(
            {"o_custkey": pdf["o_custkey"], "o_orderkey": pdf["o_orderkey"], "z": z}
        )

    o = load_table(spark, sf_dir, "orders").withColumn(
        "bucket", F.pmod(F.col("o_custkey"), F.lit(_GM_BUCKETS))
    )
    out = o.groupBy("bucket").applyInPandas(
        zscore, schema="o_custkey bigint, o_orderkey bigint, z double"
    )
    # single-order / constant-price customers: pandas yields float NaN
    # (Arrow ships NaN as NaN, not null) — the oracle's NULLIF makes
    # those NULL, so mask here
    z = F.when(F.isnan("z"), F.lit(None).cast("double")).otherwise(F.col("z"))
    return out.select("o_custkey", "o_orderkey", dround(z, 6).alias("z"))


_ARROW_GROUPED_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       MIN(value) AS v_min,
       MAX(value) AS v_max,
       ROUND(AVG(value), 6) AS v_avg
FROM events GROUP BY event_type
"""


@register(
    "udf_arrow_grouped",
    _ARROW_GROUPED_SQL,
    doc=(
        "applyInArrow (Spark 4 grouped-map Arrow lane): each group "
        "arrives as ONE pyarrow.Table, summarized with "
        "pyarrow.compute kernels — the zero-pandas-conversion "
        "counterpart of applyInPandas, completing the UDF matrix "
        "(scalar/grouped-agg pandas, grouped-map pandas, mapInArrow, "
        "grouped-map Arrow, UDTF); oracle proves the Arrow kernels "
        "≡ SQL aggregates"
    ),
)
def udf_arrow_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    def summarize(table):
        import pyarrow as pa
        import pyarrow.compute as pc

        v = table.column("value")
        return pa.Table.from_pydict(
            {
                "event_type": [table.column("event_type")[0].as_py()],
                "n": [table.num_rows],
                "v_min": [pc.min(v).as_py()],
                "v_max": [pc.max(v).as_py()],
                "v_avg": [pc.mean(v).as_py()],
            }
        )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    out = ev.groupBy("event_type").applyInArrow(
        summarize,
        schema="event_type string, n long, v_min double, v_max double, v_avg double",
    )
    return out.select(
        "event_type", "n", "v_min", "v_max", dround("v_avg", 6).alias("v_avg")
    )


_ARROW_MAP_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       length(text)               AS n_chars
FROM documents
"""


@register(
    "udf_arrow_map",
    _ARROW_MAP_SQL,
    doc=(
        "mapInArrow: RecordBatches in/out with pyarrow.compute kernels — "
        "the zero-copy lane below mapInPandas (no pandas conversion)"
    ),
)
def udf_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    def measure(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column(batch.schema.get_field_index("text"))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("doc_id")),
                    pc.cast(pc.binary_length(pc.cast(text, pa.binary())), pa.int64()),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                ],
                names=["doc_id", "n_bytes", "n_chars"],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(measure, schema="doc_id bigint, n_bytes long, n_chars long")
