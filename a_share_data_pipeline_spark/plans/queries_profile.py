"""Data-profiling, sampling, and fuzzy-matching queries.

A 100 TB ingest pipeline spends real time on corpus management:
profiling columns before schema decisions, stratified sampling for
training mixes, histogram sketches for partition planning, fuzzy key
matching for entity resolution. Each shape here is one scan + one
small shuffle — the profiles are long-format so adding a column adds
a struct to an array literal, not a new scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround
from ..session import pin
from ..sources import load_table
from .catalog import register

# ---------------------------------------------------------------------------
# Deterministic stratified sampling (hash-threshold, no RNG)
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 0.9, "zh": 0.5}
_SAMPLE_DEFAULT = 0.25


def _hex_threshold(rate: float) -> str:
    return format(int(rate * 16**8), "08x")


def _sample_sql() -> str:
    whens = "\n         ".join(
        f"WHEN '{lang}' THEN '{_hex_threshold(r)}'" for lang, r in _SAMPLE_RATES.items()
    )
    return f"""
SELECT doc_id, lang
FROM documents
WHERE substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE lang
         {whens}
         ELSE '{_hex_threshold(_SAMPLE_DEFAULT)}'
      END
"""


@register(
    "sample_stratified",
    _sample_sql(),
    doc=(
        "deterministic stratified sampling for training-mix curation: "
        "per-language keep-rates via md5 hash-threshold (no RNG — "
        "reproducible across engines, reruns, and cluster sizes; a "
        "map-only filter, no shuffle)"
    ),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    thr = F.lit(_hex_threshold(_SAMPLE_DEFAULT))
    for lang, r in _SAMPLE_RATES.items():
        thr = F.when(F.col("lang") == lang, F.lit(_hex_threshold(r))).otherwise(thr)
    h = F.substring(
        F.md5(F.concat(F.col("lang"), F.lit("|"), F.col("doc_id").cast("string"))), 1, 8
    )
    return docs.filter(h < thr).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Fixed-size per-group sampling (balanced eval sets)
# ---------------------------------------------------------------------------

_GROUP_FIXED_N = 50

_GROUP_FIXED_SQL = f"""
SELECT doc_id, source, CAST(rn AS BIGINT) AS rn FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents) t
WHERE rn <= {_GROUP_FIXED_N}
"""


@register(
    "sample_group_fixed",
    _GROUP_FIXED_SQL,
    doc=(
        "fixed-size per-group sampling (balanced eval sets): EXACTLY "
        "50 docs per source, chosen by md5-hash rank — deterministic "
        "across engines and reruns where rate-based sampling only hits "
        "the size in expectation. One exchange on the group key; the "
        "rn <= k filter rewrites to WindowGroupLimit (plan-gated), so "
        "each map task keeps a 50-row heap per group and the shuffle "
        "carries k·groups rows, not the corpus"
    ),
)
def sample_group_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _GROUP_FIXED_N)
        .select("doc_id", "source", F.col("rn").cast("long").alias("rn"))
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary: global top-k tokens
# ---------------------------------------------------------------------------

_VOCAB_K = 100

_VOCAB_SQL = f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
c AS (SELECT w, COUNT(*) AS n FROM tok GROUP BY w),
r AS (SELECT w, n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rnk FROM c)
SELECT w, n, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= {_VOCAB_K}
"""


@register(
    "text_vocab_topk",
    _VOCAB_SQL,
    doc=(
        "corpus vocabulary head: global top-100 tokens by frequency "
        "(tokenizer training / stopword discovery). Token counting is "
        "one partial-aggregated shuffle on the token string; the "
        "global top-k goes through TakeOrdered (never a full sort), "
        "and the rank column is a window over the ALREADY-limited "
        "k-row frame — the bounded-window pattern, not a global sort"
    ),
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), "w").limit(_VOCAB_K)
    # global window over the limit(k) frame above — bounded to k rows
    # on one task by construction (same pattern as pq_codebooks)
    rnk = F.row_number().over(W.orderBy(F.col("n").desc(), "w"))
    return top.withColumn("rnk", rnk.cast("long"))


# ---------------------------------------------------------------------------
# Histogram profiling (fixed-width bins)
# ---------------------------------------------------------------------------

_HIST_SQL = """
SELECT CAST(LEAST(FLOOR(o_totalprice / 25000), 19) AS BIGINT) AS bin,
       COUNT(*)                     AS n,
       ROUND(MIN(o_totalprice), 2)  AS lo,
       ROUND(MAX(o_totalprice), 2)  AS hi
FROM orders GROUP BY 1
"""


@register(
    "profile_histogram",
    _HIST_SQL,
    doc=(
        "fixed-width histogram (20 bins) — the distribution sketch that "
        "drives partition/skew planning; one partial-aggregated shuffle "
        "over a 20-key domain"
    ),
)
def profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bin_col = F.least(F.floor(F.col("o_totalprice") / 25000), F.lit(19)).cast("long")
    return o.groupBy(bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.min("o_totalprice"), 2).alias("lo"),
        dround(F.max("o_totalprice"), 2).alias("hi"),
    )


# ---------------------------------------------------------------------------
# Column profiling: one scan, long-format output
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col,
       COUNT(*) - COUNT({c})      AS n_null,
       COUNT(DISTINCT {c})        AS n_distinct,
       ROUND(MIN({c}), 6)         AS min_val,
       ROUND(MAX({c}), 6)         AS max_val,
       ROUND(AVG({c}), 6)         AS avg_val
FROM lineitem"""
    for c in _PROFILE_COLS
)


@register(
    "profile_stats",
    _PROFILE_SQL,
    doc=(
        "table profiling (null/distinct/min/max/avg per column) in ONE "
        "scan: all per-column aggregates computed in a single "
        "aggregation, reshaped long via an array-of-structs explode — "
        "the UNION-ALL oracle scans once per column, we don't"
    ),
)
def profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_null"),
            F.countDistinct(c).alias(f"{c}__n_distinct"),
            dround(F.min(c), 6).alias(f"{c}__min"),
            dround(F.max(c), 6).alias(f"{c}__max"),
            dround(F.avg(c), 6).alias(f"{c}__avg"),
        ]
    one_row = li.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"{c}__n_null").alias("n_null"),
                F.col(f"{c}__n_distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
                F.col(f"{c}__avg").alias("avg_val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return one_row.select(F.explode(structs).alias("p")).select("p.*")


# ---------------------------------------------------------------------------
# Join-key skew report (the pre-join diagnostic for broadcast/salt/AQE calls)
# ---------------------------------------------------------------------------

_SKEW_SQL = """
WITH per AS (SELECT o_custkey AS key, COUNT(*) AS n FROM orders GROUP BY 1),
top1 AS (SELECT key AS top1_key, n AS top1_n FROM per ORDER BY n DESC, key LIMIT 1)
SELECT COUNT(*) AS n_keys,
       SUM(n) AS total_rows,
       MAX(n) AS max_per_key,
       ROUND(AVG(n), 6) AS avg_per_key,
       quantile_cont(n, 0.5) AS p50,
       quantile_cont(n, 0.9) AS p90,
       quantile_cont(n, 0.99) AS p99,
       ROUND(MAX(n) / AVG(n), 6) AS skew_ratio,
       any_value(top1_key) AS top1_key,
       any_value(top1_n) AS top1_n
FROM per CROSS JOIN top1
"""


@register(
    "profile_skew_report",
    _SKEW_SQL,
    doc=(
        "join-key skew report (per-key counts → key count, max/avg per "
        "key, p50/p90/p99, skew ratio, heaviest key): the diagnostic "
        "you run BEFORE planning a 100 TB join to pick broadcast vs "
        "salt vs AQE skew-split. The per-key counts shuffle exactly "
        "what the join itself would shuffle but carrying only counts "
        "(partial-aggregated); the percentile pass runs over the "
        "key-sized frame; top-1 exits via TakeOrdered(1), never a "
        "sort. Spark percentile() and DuckDB quantile_cont() share "
        "linear-interpolation semantics on the integer counts"
    ),
)
def profile_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_custkey").alias("key")).agg(F.count(F.lit(1)).alias("n"))
    stats = per.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("total_rows"),
        F.max("n").alias("max_per_key"),
        dround(F.avg("n"), 6).alias("avg_per_key"),
        F.expr("percentile(n, 0.5)").alias("p50"),
        F.expr("percentile(n, 0.9)").alias("p90"),
        F.expr("percentile(n, 0.99)").alias("p99"),
        dround(F.max("n") / F.avg("n"), 6).alias("skew_ratio"),
    )
    top1 = (
        per.orderBy(F.col("n").desc(), "key")
        .limit(1)
        .select(F.col("key").alias("top1_key"), F.col("n").alias("top1_n"))
    )
    return stats.crossJoin(F.broadcast(top1))


# ---------------------------------------------------------------------------
# Fuzzy matching: edit-distance theta join
# ---------------------------------------------------------------------------

_EDIT_SQL = """
SELECT a.n_name AS name_a, b.n_name AS name_b,
       CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS dist
FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
WHERE levenshtein(a.n_name, b.n_name) <= 4
"""


@register(
    "text_edit_distance",
    _EDIT_SQL,
    doc=(
        "fuzzy entity matching: levenshtein theta join over a small dim "
        "(broadcast nested loop is correct here — both sides are dims; "
        "for fact-scale fuzzy joins, pre-block on a hash prefix first)"
    ),
)
def text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ka"), F.col("n_name").alias("name_a")
    )
    b = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("kb"), F.col("n_name").alias("name_b")
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(F.broadcast(b), (F.col("ka") < F.col("kb")) & (dist <= 4))
        .select("name_a", "name_b", dist.cast("long").alias("dist"))
    )


# ---------------------------------------------------------------------------
# Target-mixture downsampling (training-mix shaping)
# ---------------------------------------------------------------------------

_MIX_WEIGHTS = {"src0": 0.30, "src1": 0.20}
_MIX_DEFAULT_W = 0.025
_MIX_BUDGET_FRAC = 0.2
# Knuth multiplicative hash -> [0,1) fraction: pure 64-bit integer
# arithmetic, bit-identical in any engine (md5-hex thresholds need a
# hex->int cast DuckDB and Spark spell differently). doc_id * C stays
# within int64 up to ~3.5e9 docs; past that, switch the fraction to a
# 128-bit or md5-derived hash — only this expression changes.
_MIX_HASH = "(doc_id * 2654435761) % 1048576 / 1048576.0"


def _mixture_sql() -> str:
    whens = " ".join(
        f"WHEN '{g}' THEN {w}" for g, w in _MIX_WEIGHTS.items()
    )
    return f"""
WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
tot AS (SELECT COUNT(*) AS total FROM documents),
rates AS (
  SELECT source,
         LEAST(1.0, ROUND(ROUND(CAST(tot.total AS DOUBLE) * {_MIX_BUDGET_FRAC}, 0)
                          * (CASE source {whens} ELSE {_MIX_DEFAULT_W} END)
                          / CAST(n AS DOUBLE), 9)) AS keep_rate
  FROM counts, tot
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r ON d.source = r.source
WHERE {_MIX_HASH} < r.keep_rate
"""


@register(
    "sample_mixture",
    _mixture_sql(),
    doc=(
        "target-mixture downsampling: per-source keep-rates derived "
        "from target mixture weights and a total doc budget "
        "(rate = min(1, budget*w/n), operators/curation.mixture_rates) "
        "— the rate table is a tiny broadcast against the corpus and "
        "the keep decision is a deterministic RNG-free hash-fraction "
        "filter, so the downsample is map-only, reproducible across "
        "engines/reruns/cluster sizes, and re-runnable incrementally"
    ),
)
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation as CU

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    total = docs.agg(F.count(F.lit(1)).alias("total"))
    budget = F.round(F.col("total").cast("double") * F.lit(_MIX_BUDGET_FRAC), 0)
    rates = CU.mixture_rates(
        counts.crossJoin(F.broadcast(total)),  # 1-row side: safe product
        _MIX_WEIGHTS,
        _MIX_DEFAULT_W,
        budget,
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(F.expr(_MIX_HASH) < F.col("keep_rate"))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Data-quality expectations: single-scan constraint verification
# ---------------------------------------------------------------------------

_EXPECT_SQL = """
WITH m AS (
  SELECT COUNT(*) AS n,
         COUNT(o_custkey) AS n_cust,
         COUNT(DISTINCT o_orderkey) AS n_key,
         MIN(o_totalprice) AS price_min,
         MAX(o_totalprice) AS price_max,
         SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS n_status_ok
  FROM orders
)
SELECT 'row_count' AS metric, CAST(n AS DOUBLE) AS value, n > 0 AS passed FROM m
UNION ALL SELECT 'completeness_custkey', ROUND(n_cust * 1.0 / n, 6), n_cust = n FROM m
UNION ALL SELECT 'uniqueness_orderkey', ROUND(n_key * 1.0 / n, 6), n_key = n FROM m
UNION ALL SELECT 'min_totalprice', ROUND(price_min, 2), price_min >= 0 FROM m
UNION ALL SELECT 'max_totalprice', ROUND(price_max, 2), price_max <= 600000 FROM m
UNION ALL SELECT 'status_in_set', ROUND(n_status_ok * 1.0 / n, 6), n_status_ok = n FROM m
"""


@register(
    "profile_expectations",
    _EXPECT_SQL,
    doc=(
        "data-quality expectation suite (the Deequ shape): six "
        "constraints — row count, null-completeness, key uniqueness, "
        "value bounds, allowed-value set — verified in ONE scan of the "
        "table: a single aggregation computes every constraint metric "
        "(the distinct count rides the same aggregate via Expand), and "
        "the long-format (metric, value, passed) report explodes from "
        "the one-row result. At 100 TB this is how you gate a table "
        "publish: constraint count adds columns to one pass, never "
        "passes over the data"
    ),
)
def profile_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("n_cust"),
        F.count_distinct("o_orderkey").alias("n_key"),
        F.min("o_totalprice").alias("price_min"),
        F.max("o_totalprice").alias("price_max"),
        F.sum(
            F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("n_status_ok"),
    )

    def check(metric: str, value, passed) -> F.Column:
        return F.struct(
            F.lit(metric).alias("metric"),
            value.cast("double").alias("value"),
            passed.alias("passed"),
        )

    n = F.col("n")
    checks = F.array(
        check("row_count", n.cast("double"), n > 0),
        check("completeness_custkey", dround(F.col("n_cust") / n, 6), F.col("n_cust") == n),
        check("uniqueness_orderkey", dround(F.col("n_key") / n, 6), F.col("n_key") == n),
        check("min_totalprice", dround(F.col("price_min"), 2), F.col("price_min") >= 0),
        check("max_totalprice", dround(F.col("price_max"), 2), F.col("price_max") <= 600000),
        check("status_in_set", dround(F.col("n_status_ok") / n, 6), F.col("n_status_ok") == n),
    )
    return m.select(F.explode(checks).alias("c")).select("c.*")


# ---------------------------------------------------------------------------
# BPE merge discovery: adjacent-pair statistics over the word vocabulary
# ---------------------------------------------------------------------------

_BPE_K = 20

_BPE_SQL = f"""
WITH wds AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
p AS (
  SELECT substring(w, CAST(t.i AS INT), 2) AS pair
  FROM wds, unnest(range(1, length(w))) t(i)
  WHERE length(w) >= 2
),
c AS (SELECT pair, COUNT(*) AS n FROM p GROUP BY pair),
r AS (SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rnk FROM c)
SELECT pair, n, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= {_BPE_K}
"""


@register(
    "text_bpe_merges",
    _BPE_SQL,
    doc=(
        "BPE merge discovery (tokenizer training, round 1): frequency "
        "of every adjacent character pair inside words, top-20 — the "
        "statistic each byte-pair-encoding merge step maximizes. The "
        "pair fan-out is a bounded in-row sequence expansion riding "
        "the corpus scan; counting is one partial-aggregated shuffle "
        "on 2-char keys (tiny key space → map-side combine collapses "
        "almost everything); the head exits via TakeOrdered. At 100 TB "
        "each further merge round is the SAME query over the rewritten "
        "vocabulary — rounds scale linearly, never quadratically"
    ),
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair")
        )
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), "pair").limit(_BPE_K)
    rnk = F.row_number().over(W.orderBy(F.col("n").desc(), "pair"))
    return top.withColumn("rnk", rnk.cast("long"))


# ---------------------------------------------------------------------------
# Observed metrics: instrumentation piggybacked on the main job
# ---------------------------------------------------------------------------

_OBSERVE_SQL = """
SELECT 'n_rows' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM lineitem
UNION ALL SELECT 'sum_qty', CAST(CAST(SUM(l_quantity) AS BIGINT) AS DOUBLE) FROM lineitem
UNION ALL SELECT 'n_discounted', CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS DOUBLE) FROM lineitem
UNION ALL SELECT 'max_price', MAX(l_extendedprice) FROM lineitem
"""


@register(
    "profile_observed_metrics",
    _OBSERVE_SQL,
    doc=(
        "Observation-API metrics: row count, total quantity, "
        "discounted-row count and max price collected DURING the main "
        "job's single scan via df.observe() — at 100 TB "
        "instrumentation must piggyback on work already being done, "
        "never cost a second pass (the Deequ-style expectation suite "
        "gates a publish; this is how the same numbers come out of "
        "the production job itself for free). Values chosen to be "
        "bit-stable without rounding: counts, an integral-double sum, "
        "and a max"
    ),
)
def profile_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation()
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("n_discounted"),
        F.max("l_extendedprice").alias("max_price"),
    )
    observed.count()  # the "main job": ONE scan, metrics ride along
    m = obs.get
    rows = [
        ("n_rows", float(m["n_rows"])),
        ("sum_qty", float(m["sum_qty"])),
        ("n_discounted", float(m["n_discounted"])),
        ("max_price", float(m["max_price"])),
    ]
    return spark.createDataFrame(rows, "metric string, value double")


# ---------------------------------------------------------------------------
# Bloom-filter join pruning: the explicit form of runtime filter pushdown
# ---------------------------------------------------------------------------

_BLOOM_PRUNE_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
GROUP BY l_returnflag
"""


@register(
    "join_bloom_prune",
    _BLOOM_PRUNE_SQL,
    doc=(
        "Bloom-pruned semi-join: revenue of lineitems belonging to "
        "high-value orders. The build side's keys aggregate into a "
        "2^16-bit Bloom bitset (expression-built, operators/sketch.py) "
        "whose collect is bounded at 1024 longs NO MATTER how many "
        "keys feed it — at 100 TB the key set is GBs and "
        "unbroadcastable but the bitset is 8 KiB; the probe side "
        "drops non-matching rows map-side inside codegen BEFORE the "
        "join shuffle, and an exact semi-join removes the Bloom's "
        "false positives, so the result is exact and fully oracled. "
        "This is Spark's runtime-filter pushdown made explicit, "
        "controllable, and reusable from any lane (streaming "
        "micro-batches, Python probes)"
    ),
)
def join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch as SK

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    words = SK.bloom_build(keys, "o_orderkey")
    pruned = SK.bloom_might_contain(li, "l_orderkey", words)
    exact = pruned.join(
        F.broadcast(keys.withColumnRenamed("o_orderkey", "l_orderkey")),
        "l_orderkey",
        "left_semi",
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


# ---------------------------------------------------------------------------
# Count-min-sketch heavy hitters: estimator measured against exact counts
# ---------------------------------------------------------------------------


def _heavy_hitters_sql() -> str:
    from ..operators.sketch import CMS_SEEDS, cms_bucket_sql

    sketch_rows = "\nUNION ALL\n".join(
        f"SELECT {s} AS seed, {cms_bucket_sql(s, 'term')} AS bucket, "
        f"COUNT(*) AS cnt FROM toks GROUP BY bucket"
        for s in CMS_SEEDS
    )
    least = ", ".join(
        f"(SELECT cnt FROM sketch WHERE seed = {s} "
        f"AND bucket = {cms_bucket_sql(s, 'c.term')})"
        for s in CMS_SEEDS
    )
    return f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
  FROM documents
),
clean AS (SELECT term FROM toks WHERE term <> ''),
sketch AS (
  {sketch_rows.replace('FROM toks', 'FROM clean')}
),
exact AS (SELECT term, COUNT(*) AS exact_cnt FROM clean GROUP BY term),
cand AS (SELECT term, exact_cnt FROM exact ORDER BY exact_cnt DESC, term LIMIT 15)
SELECT c.term, c.exact_cnt,
       LEAST({least}) AS est_cnt,
       LEAST({least}) - c.exact_cnt AS overcount
FROM cand c
ORDER BY c.exact_cnt DESC, c.term
"""


@register(
    "text_heavy_hitters",
    _heavy_hitters_sql(),
    doc=(
        "count-min-sketch heavy hitters: token frequencies estimated "
        "from a d=4 × w=256 sketch keyed on md5-hex PREFIXES (strings "
        "— so DuckDB rebuilds the IDENTICAL sketch and the harness "
        "hash-verifies the estimates themselves, not just a contract "
        "bit). The sketch is one partial-aggregated shuffle bounded at "
        "d·w rows per task; estimates are broadcast map-side probes; "
        "candidates exit via TakeOrdered. CMS never undercounts, so "
        "`overcount = est - exact >= 0` deterministically — at 100 TB "
        "this sketch replaces the full vocabulary count when only "
        "heavy hitters matter (stop-lists, hot-key detection for "
        "skew-aware planning)"
    ),
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch as SK

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    sk = pin(SK.cms_build(toks))
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    cand = exact.orderBy(F.col("exact_cnt").desc(), "term").limit(15)
    est = SK.cms_estimate(cand, sk)
    return est.select(
        "term",
        "exact_cnt",
        F.col("est_cnt"),
        (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
    ).orderBy(F.col("exact_cnt").desc(), "term")


# ---------------------------------------------------------------------------
# Deterministic global shuffle: reproducible training-data ordering
# ---------------------------------------------------------------------------

_SHUFFLE_SEED = 7
_SHUFFLE_SQL = f"""
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5('{_SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR))
       ) AS BIGINT) AS pos
FROM documents
"""


@register(
    "shuffle_deterministic",
    _SHUFFLE_SQL,
    doc=(
        "reproducible global shuffle for training-data ordering: every "
        "doc gets a position drawn from the md5-keyed permutation of "
        "its id — same order on any engine, any cluster size, any "
        "rerun (seed in the key). NO single-partition sort: a range "
        "exchange on the hash key orders partitions globally, "
        "positions come from per-partition row_numbers plus "
        "partition-count offsets (an O(partitions) collect). This is "
        "the standard scalable global-order idiom — the window's "
        "exchange carries (doc_id, key) pairs only, never the "
        "payload, which joins back by id at write time"
    ),
)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.lit(f"{_SHUFFLE_SEED}|"), F.col("doc_id").cast("string"))
        ).alias("skey"),
    )
    n_parts = max(2, int(spark.conf.get("spark.sql.shuffle.partitions", "32")) // 4)
    ranged = pin(
        keyed.repartitionByRange(n_parts, "skey")
        .sortWithinPartitions("skey")
        .withColumn("pid", F.spark_partition_id())
        # pin partitioning: offsets job + final job see ONE layout
    )
    counts = {r["pid"]: r["n"] for r in ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    from pyspark.sql import Window as W

    off_entries = [x for pid, off in sorted(offsets.items()) for x in (F.lit(pid), F.lit(off))]
    rn = F.row_number().over(W.partitionBy("pid").orderBy("skey"))
    return ranged.select(
        "doc_id",
        (rn + F.element_at(F.create_map(*off_entries), F.col("pid"))).cast("long").alias("pos"),
    )


# ---------------------------------------------------------------------------
# BPE encode: apply the learned merge table (companion to text_bpe_merges)
# ---------------------------------------------------------------------------

_BPE_ENC_K = 10


def _bpe_encode_sql() -> str:
    # boundary-safe token string: tokens joined by TWO spaces, one
    # space at each end — a merge pattern ' c1  c2 ' can only match
    # full adjacent tokens, and left-to-right replace() preserves the
    # invariant (see docstring)
    steps = []
    prev = "e0"
    for k in range(1, _BPE_ENC_K + 1):
        steps.append(f"""
e{k} AS (
  SELECT doc_id,
         replace(s, ' ' || substr(m.pair, 1, 1) || '  ' || substr(m.pair, 2, 1) || ' ',
                 ' ' || m.pair || ' ') AS s,
         n_char_tokens
  FROM {prev}, (SELECT pair FROM r WHERE rnk = {k}) m
)""")
        prev = f"e{k}"
    return f"""
WITH wds AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
ww AS (SELECT doc_id, w FROM wds WHERE w <> ''),
p AS (
  SELECT substring(w, CAST(t.i AS INT), 2) AS pair
  FROM ww, unnest(range(1, length(w))) t(i)
  WHERE length(w) >= 2
),
c AS (SELECT pair, COUNT(*) AS n FROM p GROUP BY pair),
r AS (SELECT pair, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rnk FROM c),
e0 AS (
  SELECT doc_id,
         ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s,
         length(w) AS n_char_tokens
  FROM ww
),
{','.join(steps)}
SELECT doc_id,
       CAST(SUM(n_char_tokens) AS BIGINT) AS n_char_tokens,
       CAST(SUM(len(string_split(trim(s), '  '))) AS BIGINT) AS n_bpe_tokens
FROM {prev}
GROUP BY doc_id
"""


@register(
    "text_bpe_encode",
    _bpe_encode_sql(),
    doc=(
        "BPE encode: apply the top-10 learned merges (the companion "
        "text_bpe_merges table) to every word and count the resulting "
        "tokens per doc — token counting under a trained tokenizer, "
        "THE unit the packing/chunking/mixture stages budget in. "
        "Boundary-safe pure-string formulation: tokens join with two "
        "spaces (single spaces at the ends), so a merge pattern "
        "' c1  c2 ' can only match whole adjacent tokens and "
        "left-to-right replace() preserves the invariant — 10 chained "
        "codegen replaces, zero extra shuffles beyond the corpus "
        "scan + the tiny pair-count aggregation (whose top-10 rides "
        "in as 32-char literals, the kmeans-centroid pattern). Both "
        "engines replay the identical merges, so the counts "
        "hash-verify exactly"
    ),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair")
        )
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    merges = [
        r["pair"]
        for r in counts.orderBy(F.col("n").desc(), "pair").limit(_BPE_ENC_K).collect()
    ]
    s = F.concat(F.lit(" "), F.array_join(F.split("w", ""), "  "), F.lit(" "))
    for m in merges:
        s = F.replace(s, F.lit(f" {m[0]}  {m[1]} "), F.lit(f" {m} "))
    enc = words.select(
        "doc_id",
        F.length("w").alias("n_char_tokens"),
        F.size(F.split(F.trim(s), "  ")).alias("n_tok"),
    )
    return enc.groupBy("doc_id").agg(
        F.sum("n_char_tokens").alias("n_char_tokens"),
        F.sum("n_tok").alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy join: the fact-scale form of record linkage
# ---------------------------------------------------------------------------

# SQL twin of join_fuzzy_blocked: the `fuzzy` CTE (key_a, key_b, dist)
_FUZZY_SQL = """
keyed AS (
  SELECT p_partkey, p_name,
         string_split(p_name, ' ')[1] || '|' ||
           CAST(CAST(FLOOR(length(p_name) / 4.0) AS BIGINT) AS VARCHAR) AS blk
  FROM part
),
fuzzy AS (
  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
  FROM keyed a JOIN keyed b
    ON a.blk = b.blk AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 3
)"""

_FUZZY_BLOCKED_SQL = f"""
WITH {_FUZZY_SQL}
SELECT key_a, key_b, dist FROM fuzzy
"""


@register(
    "join_fuzzy_blocked",
    _FUZZY_BLOCKED_SQL,
    doc=(
        "blocked record linkage — the fact-scale form of the "
        "text_edit_distance theta join: candidates pair through an "
        "EQUI-join on a blocking key (first token + length bucket), "
        "so the expensive levenshtein runs only within blocks and the "
        "plan is a hash/sort-merge join, never a nested loop over the "
        "cross product. Blocking trades recall for tractability "
        "exactly like LSH banding does for minhash — same guarded "
        "pattern, string-edit metric. Scale note (measured r9): this "
        "fixture is duplicate-DENSE (~19% of in-block candidates "
        "genuinely match at dist<=3), so the OUTPUT is Theta(n^2) in "
        "corpus size — 400 / 38k / 3.9M matched pairs at sf0.001/0.01/"
        "0.1 — and no blocking scheme can beat its own output size. "
        "What blocking controls is the candidate/match ratio, and it "
        "holds CONSTANT at 5.3-5.4x across all three SFs: the "
        "levenshtein work is within a fixed factor of the rows the "
        "query must emit, which is the optimality statement for "
        "blocked ER on dense data (on production entity data the "
        "match density is sparse and the same plan is output-linear)"
    ),
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    keyed = part.select(
        "p_partkey",
        "p_name",
        F.concat(
            F.split("p_name", " ").getItem(0),
            F.lit("|"),
            F.floor(F.length("p_name") / 4.0).cast("long").cast("string"),
        ).alias("blk"),
    )
    a = keyed.select(
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"), "blk"
    )
    b = keyed.select(
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"), "blk"
    )
    dist = F.levenshtein("name_a", "name_b")
    # compute-heavy-small-data correction: the part table is a couple MB,
    # so the scan is 1 input split and AQE coalesces by BYTES — the whole
    # quadratic in-block levenshtein then runs in ONE task (measured ~20s
    # at sf0.1 while 31 cores idled). An EXPLICIT repartition on the block
    # key (explicit N is exempt from AQE coalescing) spreads blocks across
    # the executor; the shuffle itself is 20k rows — free. At real scale
    # the scan has many splits and this exchange coalesces back — the
    # plan is the same either way.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        a.repartition(n_part, "blk")
        .join(b, "blk")
        .filter((F.col("key_a") < F.col("key_b")) & (dist <= 3))
        .select("key_a", "key_b", dist.cast("long").alias("dist"))
    )


# ---------------------------------------------------------------------------
# Weighted sampling without RNG (Efraimidis–Spirakis A-ES keys)
# ---------------------------------------------------------------------------

_WS_K = 25
_WS_SEED = 11
# Knuth multiplicative hash -> (0, 1] uniform; pure int64 arithmetic so
# both engines derive the IDENTICAL uniform (same device as _MIX_HASH;
# +1 keeps u > 0 for the log)
_WS_U = f"(((doc_id * 2654435761 + {_WS_SEED}) % 1048576) + 1) / 1048577.0"

_WS_SQL = f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         ROUND(ln({_WS_U}) / n_chars, 9) AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, es_key
FROM keyed ORDER BY es_key DESC, doc_id LIMIT {_WS_K}
"""


@register(
    "sample_weighted",
    _WS_SQL,
    doc=(
        "weighted sampling without replacement, no RNG: "
        "Efraimidis–Spirakis keys ln(u)/w with the uniform drawn from "
        "a Knuth multiplicative hash of the doc id — reproducible on "
        "any engine, any cluster size, any rerun, and the top-k "
        "selection is one TakeOrdered pass (the reservoir equivalent "
        "for distributed data: each task keeps a k-row heap, the "
        "driver merges k·tasks candidates). Weights = doc length, "
        "the standard size-proportional corpus sampling"
    ),
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    keyed = docs.select(
        "doc_id",
        "n_chars",
        dround(F.expr(f"ln({_WS_U})") / F.col("n_chars"), 9).alias("es_key"),
    )
    return keyed.orderBy(F.col("es_key").desc(), "doc_id").limit(_WS_K)


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity privacy profile (pre-publication risk check)
# ---------------------------------------------------------------------------

_KANON_K = 5

_KANON_SQL = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(class_size AS BIGINT) AS class_size,
       CAST(l_diversity AS BIGINT) AS l_diversity,
       class_size < {_KANON_K} AS at_risk
FROM (
  SELECT c_nationkey, c_mktsegment,
         COUNT(*) AS class_size,
         COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l_diversity
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
) t
"""


@register(
    "profile_k_anonymity",
    _KANON_SQL,
    doc=(
        "k-anonymity / l-diversity privacy profile — the "
        "pre-publication risk check a curation pipeline runs before "
        "releasing a dataset: rows grouped into equivalence classes "
        "by their quasi-identifiers (nation, market segment), each "
        "class reporting its size (k-anonymity: a class smaller than "
        "k re-identifies its members) and the count of distinct "
        "sensitive-attribute buckets it contains (l-diversity: a "
        "class where everyone shares one sensitive value leaks it "
        "even at k). One partial-aggregated shuffle bounded at "
        "|QI-combinations| rows — the profile is classes, not the "
        "corpus, so the output is KBs at any input scale; the "
        "at_risk flag drives suppression/generalization downstream"
    ),
)
def profile_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000).cast("bigint")
        ).alias("l_diversity"),
    )
    return classes.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("class_size").cast("bigint").alias("class_size"),
        F.col("l_diversity").cast("bigint").alias("l_diversity"),
        (F.col("class_size") < _KANON_K).alias("at_risk"),
    )


# ---------------------------------------------------------------------------
# Importance resampling: match a target distribution over a continuous feature
# ---------------------------------------------------------------------------

_IMP_BINS = 8
_IMP_WIDTH = 500  # n_chars bin width; top bin clamps the tail


def _imp_sql() -> str:
    return f"""
WITH binned AS (
  SELECT doc_id,
         LEAST(CAST(floor(n_chars / {_IMP_WIDTH}) AS BIGINT), {_IMP_BINS - 1}) AS bin
  FROM documents
),
actual AS (
  SELECT bin, COUNT(*) AS n FROM binned GROUP BY bin
),
tot AS (SELECT SUM(n) AS total FROM actual),
rates AS (
  -- keep_rate = min(1, target_share / actual_share): over-represented
  -- bins are thinned toward the uniform target, starved bins keep all
  SELECT bin,
         LEAST(1.0, (1.0 / {_IMP_BINS}) / (CAST(n AS DOUBLE) / tot.total)) AS rate
  FROM actual CROSS JOIN tot
)
SELECT b.doc_id, b.bin
FROM binned b JOIN rates r ON r.bin = b.bin
WHERE ('0x' || substr(md5('imp|' || CAST(b.doc_id AS VARCHAR)), 1, 8))::BIGINT
      < CAST(floor(r.rate * 4294967296.0) AS BIGINT)
"""


@register(
    "sample_importance",
    _imp_sql(),
    doc=(
        "importance resampling to a TARGET DISTRIBUTION over a "
        "continuous feature (uniform over doc-length bins — the "
        "Dolma/DataComp-style length-distribution correction): "
        "per-bin keep_rate = min(1, target_share/actual_share), "
        "applied as a deterministic md5-threshold per doc. "
        "sample_mixture matches a CATEGORICAL rate table; this "
        "derives the rates FROM the data's own histogram (one "
        "partial-aggregated shuffle bounded at the literal bin "
        "count), broadcasts the tiny rate table back, and filters "
        "map-side. The hash-vs-rate compare is integer (hex prefix "
        "vs floor(rate·2^32)) so both engines draw the identical "
        "sample; no RNG, stable on any cluster size"
    ),
)
def sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    binned = docs.select(
        "doc_id",
        F.least(
            F.floor(F.col("n_chars") / _IMP_WIDTH).cast("bigint"),
            F.lit(_IMP_BINS - 1),
        ).alias("bin"),
    )
    actual = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    tot = actual.agg(F.sum("n").alias("total"))
    rates = actual.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.least(
            F.lit(1.0),
            (F.lit(1.0 / _IMP_BINS)) / (F.col("n").cast("double") / F.col("total")),
        ).alias("rate"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("imp|"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return (
        binned.join(F.broadcast(rates), "bin")
        .filter(h < F.floor(F.col("rate") * F.lit(4294967296.0)).cast("bigint"))
        .select("doc_id", "bin")
    )


# ---------------------------------------------------------------------------
# Entity resolution end-to-end: fuzzy pairs → components → canonical id
# ---------------------------------------------------------------------------

_ER_SQL = f"""
WITH RECURSIVE {_FUZZY_SQL},
sym AS (
  SELECT key_a AS src, key_b AS dst FROM fuzzy
  UNION SELECT key_b, key_a FROM fuzzy
),
reach AS (
  SELECT src AS node, dst AS r FROM sym
  UNION
  SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src
),
nodes AS (SELECT DISTINCT src AS node FROM sym),
comp AS (
  SELECT n.node, LEAST(n.node, COALESCE(MIN(reach.r), n.node)) AS component
  FROM nodes n LEFT JOIN reach ON reach.node = n.node
  GROUP BY n.node
),
sizes AS (SELECT component, COUNT(*) AS n_members FROM comp GROUP BY component)
SELECT c.node AS p_partkey, c.component AS canonical_key,
       CAST(s.n_members AS BIGINT) AS n_members
FROM comp c JOIN sizes s ON s.component = c.component
"""


@register(
    "er_resolve",
    _ER_SQL,
    doc=(
        "entity resolution end-to-end — the record-linkage capstone "
        "composing three driver-verified stages the way "
        "dedup_keep_canonical does for documents: blocked fuzzy "
        "pairs (join_fuzzy_blocked's equi-join blocking + in-block "
        "levenshtein) become an undirected match graph, "
        "connected_components assigns every matched record its "
        "cluster (the min reachable key — the component id IS the "
        "canonical survivor id, so no extra argmin pass), and each "
        "record emerges with (canonical_key, n_members) — the merge "
        "map a downstream MERGE/golden-record step applies. Only "
        "matched records are labeled (CC over the pair edges alone); "
        "the oracle replays the identical pipeline with a recursive "
        "reachability CTE"
    ),
)
def er_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    comp = connected_components(
        join_fuzzy_blocked(spark, sf_dir)
        .select(F.col("key_a").alias("a"), F.col("key_b").alias("b"))
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    return comp.join(sizes, "component").select(
        F.col("id").alias("p_partkey"),
        F.col("component").alias("canonical_key"),
        F.col("n_members").cast("bigint").alias("n_members"),
    )


# ---------------------------------------------------------------------------
# Triangle counting: the local-clustering graph analytic beyond CC/PageRank
# ---------------------------------------------------------------------------

_TRI_MAX_DEGREE = 200  # hot-node guard: a d-degree node can close O(d^2)
_TRI_TOP = 20


def _capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ka, kb): the degree-capped match graph, every join_fuzzy_blocked
    pair whose two parts each have at most ``_TRI_MAX_DEGREE`` matches,
    so that no node opens more than O(cap^2) wedges."""
    # eager checkpoint: the levenshtein block join is the dominant cost
    # and BOTH the degree pass and the capped probe consume it — without
    # materialization the fuzzy join executes twice (measured ~2x at
    # sf0.1, where the 3.9M-pair raw graph is the whole query cost)
    pairs_raw = pin(
        join_fuzzy_blocked(spark, sf_dir)
        .select(F.col("key_a").alias("ka"), F.col("key_b").alias("kb"))
    )
    deg0 = (
        pairs_raw.select(F.col("ka").alias("node"))
        .unionByName(pairs_raw.select(F.col("kb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ok = deg0.filter(F.col("d") <= _TRI_MAX_DEGREE).select("node")
    return (
        pairs_raw.join(ok.withColumnRenamed("node", "ka"), "ka")
        .join(ok.withColumnRenamed("node", "kb"), "kb")
        .select("ka", "kb")
    )


# SQL twin of _capped_pairs: the `pairs` CTE (ka, kb)
_CAPPED_PAIRS_SQL = f"""{_FUZZY_SQL},
rawpairs AS (SELECT key_a AS ka, key_b AS kb FROM fuzzy),
deg0 AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT ka AS node FROM rawpairs UNION ALL SELECT kb FROM rawpairs
  ) GROUP BY node
),
ok AS (SELECT node FROM deg0 WHERE d <= {_TRI_MAX_DEGREE}),
pairs AS (
  SELECT ka, kb FROM rawpairs
  JOIN ok oa ON oa.node = rawpairs.ka
  JOIN ok ob ON ob.node = rawpairs.kb
)"""

_TRI_SQL = f"""
WITH {_CAPPED_PAIRS_SQL},
tri AS (
  SELECT e1.ka AS a, e1.kb AS b, e2.kb AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.ka = e1.kb
  JOIN pairs e3 ON e3.ka = e1.ka AND e3.kb = e2.kb
),
per_node AS (
  SELECT node, COUNT(*) AS tri_cnt FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
),
tot AS (SELECT COUNT(*) AS n_triangles FROM tri)
SELECT p.node, CAST(p.tri_cnt AS BIGINT) AS tri_cnt,
       CAST(tot.n_triangles AS BIGINT) AS total_triangles
FROM per_node p CROSS JOIN tot
ORDER BY p.tri_cnt DESC, p.node LIMIT {_TRI_TOP}
"""


@register(
    "graph_triangles",
    _TRI_SQL,
    doc=(
        "triangle counting — the local-clustering analytic beside the "
        "two iterative families (CC reaches components, PageRank "
        "ranks; triangles measure cohesion — the building block of "
        "clustering coefficients and community strength): edges "
        "oriented low-id -> high-id so each triangle materializes "
        "exactly once through a two-hop equi-join (e1.b=e2.a) closed "
        "by a third edge probe — never an all-pairs pass. The "
        "hot-node guard drops nodes above a literal degree cap BEFORE "
        "the wedge join (a d-degree node closes O(d^2) wedges — the "
        "cap-before-expansion discipline of _bucket_pairs, without its "
        "logged count; mirrored in the oracle so both engines count the "
        "identical capped graph). Output is bounded: per-node counts "
        "for the top participants plus the global total, not the "
        "triangle set itself (538k triangles at sf0.01)"
    ),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = pin(_capped_pairs(spark, sf_dir))  # three self-join consumers
    e1 = pairs.select(F.col("ka").alias("a"), F.col("kb").alias("b"))
    e2 = pairs.select(F.col("ka").alias("b"), F.col("kb").alias("c"))
    e3 = pairs.select(F.col("ka").alias("a"), F.col("kb").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # ONE wedge-join execution: explode the three corners map-side
    # instead of a 3-way union (each union branch re-ran the join —
    # measured 3x the query cost at sf0.1), and derive the global
    # total from the per-node counts (every triangle contributes
    # exactly 3 corner rows) instead of a 4th scan
    per_node = pin(
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_cnt"))
        # top-k + the derived total
    )
    tot = per_node.agg(F.expr("sum(tri_cnt) div 3").alias("n_triangles"))
    return (
        per_node.crossJoin(F.broadcast(tot))
        .select(
            "node",
            F.col("tri_cnt").cast("bigint").alias("tri_cnt"),
            F.col("n_triangles").cast("bigint").alias("total_triangles"),
        )
        .orderBy(F.col("tri_cnt").desc(), "node")
        .limit(_TRI_TOP)
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (fabricated-data / corruption smell test)
# ---------------------------------------------------------------------------

# log10(1 + 1/d) as Python-float literals — identical in both engines
_BENFORD_P = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


def _benford_sql() -> str:
    cases = " ".join(
        f"WHEN {d} THEN {p!r}" for d, p in _BENFORD_P.items()
    )
    return f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS d
  FROM orders WHERE o_totalprice >= 1
),
counts AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
tot AS (SELECT SUM(n) AS total FROM counts)
SELECT c.d, CAST(c.n AS BIGINT) AS n,
       ROUND(CAST(c.n AS DOUBLE) / tot.total, 6) AS observed,
       ROUND(CAST(CASE c.d {cases} END AS DOUBLE), 6) AS expected,
       ROUND(ABS(CAST(c.n AS DOUBLE) / tot.total
                 - CAST(CASE c.d {cases} END AS DOUBLE)), 6) AS abs_dev
FROM counts c CROSS JOIN tot
"""


@register(
    "profile_benford",
    _benford_sql(),
    doc=(
        "Benford first-digit audit — the forensic data-quality smell "
        "test (fabricated or systematically corrupted numeric columns "
        "drift from the log10(1+1/d) law; genuine multiplicative "
        "amounts follow it): first digits extract via an EXPLICIT "
        "floor before the integer cast — DuckDB CAST(double AS "
        "BIGINT) rounds where Spark truncates, a silent 1-digit "
        "divergence on x999.5+ amounts (caught at sf0.01) — then a "
        "string prefix (no float-format divergence); counts "
        "partial-aggregate to 9 rows, expectations enter as Python-"
        "float literals identical in both engines. Output is the "
        "9-row observed-vs-expected table with absolute deviations — "
        "the input to a chi-square or MAD conformity decision "
        "downstream. O(9) output at any scale; the scan is the whole "
        "cost"
    ),
)
def profile_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    expected = F.lit(None).cast("double")
    for d, p in _BENFORD_P.items():
        expected = F.when(F.col("d") == d, F.lit(p)).otherwise(expected)
    obs = F.col("n").cast("double") / F.col("total")
    return counts.crossJoin(F.broadcast(tot)).select(
        "d",
        F.col("n").cast("bigint").alias("n"),
        dround(obs, 6).alias("observed"),
        dround(expected, 6).alias("expected"),
        dround(F.abs(obs - expected), 6).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence audit: categorical dependence profiling
# ---------------------------------------------------------------------------

_CHI2_SQL = """
WITH obs AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat, COUNT(*) AS o
  FROM customer GROUP BY 1, 2
),
rows_t AS (SELECT seg, SUM(o) AS row_n FROM obs GROUP BY seg),
cols_t AS (SELECT nat, SUM(o) AS col_n FROM obs GROUP BY nat),
tot AS (SELECT SUM(o) AS n FROM obs)
SELECT obs.seg, obs.nat, CAST(obs.o AS BIGINT) AS observed,
       ROUND(CAST(r.row_n AS DOUBLE) * c.col_n / tot.n, 6) AS expected,
       ROUND(POWER(obs.o - CAST(r.row_n AS DOUBLE) * c.col_n / tot.n, 2)
             / (CAST(r.row_n AS DOUBLE) * c.col_n / tot.n), 6) AS chi2_term
FROM obs
JOIN rows_t r ON r.seg = obs.seg
JOIN cols_t c ON c.nat = obs.nat
CROSS JOIN tot
"""


@register(
    "profile_chi_square",
    _CHI2_SQL,
    doc=(
        "chi-square independence audit — the categorical-dependence "
        "profile (are segment and nation independent? drifted "
        "ingestion and synthetic-data bugs show up as dependence "
        "where none should exist): observed cell counts from ONE "
        "partial-aggregated shuffle bounded at |seg|x|nation| cells, "
        "margins re-aggregate from the CELLS (never a second corpus "
        "scan), expectations = row x col / n over broadcast margins, "
        "per-cell chi-square contributions summable downstream "
        "against the (|seg|-1)(|nation|-1) d.o.f. critical value. "
        "Integer counts in, one shared expected-value expression on "
        "both engines — bit-identical terms"
    ),
)
def profile_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    obs = cust.groupBy(
        F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_t = obs.groupBy("seg").agg(F.sum("o").alias("row_n"))
    cols_t = obs.groupBy("nat").agg(F.sum("o").alias("col_n"))
    tot = obs.agg(F.sum("o").alias("n"))
    exp = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    return (
        obs.join(F.broadcast(rows_t), "seg")
        .join(F.broadcast(cols_t), "nat")
        .crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "nat",
            F.col("o").cast("bigint").alias("observed"),
            dround(exp, 6).alias("expected"),
            dround(F.pow(F.col("o") - exp, 2) / exp, 6).alias("chi2_term"),
        )
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient — the per-node cohesion ratio
# built on graph_triangles' capped similarity graph
# ---------------------------------------------------------------------------

_CC_TOP = 20

_CC_SQL = f"""
WITH {_CAPPED_PAIRS_SQL},
deg AS (
  SELECT node, COUNT(*)::BIGINT AS d FROM (
    SELECT ka AS node FROM pairs UNION ALL SELECT kb FROM pairs
  ) GROUP BY node
),
tri AS (
  SELECT e1.ka AS a, e1.kb AS b, e2.kb AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.ka = e1.kb
  JOIN pairs e3 ON e3.ka = e1.ka AND e3.kb = e2.kb
),
per_node AS (
  SELECT node, COUNT(*)::BIGINT AS tri_cnt FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
),
cc AS (
  SELECT deg.node, deg.d, COALESCE(p.tri_cnt, 0) AS tri_cnt,
         (2 * COALESCE(p.tri_cnt, 0) * 1000000000)
           // (deg.d * (deg.d - 1)) AS cc_u
  FROM deg LEFT JOIN per_node p ON p.node = deg.node
  WHERE deg.d >= 2
),
avg_cc AS (
  SELECT COUNT(*)::BIGINT AS n_nodes,
         SUM(cc_u) * 1.0 / COUNT(*) / 1000000000.0 AS global_avg
  FROM cc
)
SELECT cc.node, cc.d AS degree, cc.tri_cnt,
       ROUND(cc_u / 1000000000.0, 6) AS local_cc,
       cc.cc_u, a.n_nodes,
       ROUND(a.global_avg, 6) AS avg_clustering
FROM cc CROSS JOIN avg_cc a
ORDER BY cc.cc_u DESC, cc.node LIMIT {_CC_TOP}
"""


@register(
    "graph_clustering_coeff",
    _CC_SQL,
    doc=(
        "local clustering coefficient (Watts-Strogatz) — per-node "
        "cohesion cc(v) = 2*tri(v) / (d(v)*(d(v)-1)) over "
        "graph_triangles' degree-capped part-similarity graph, plus "
        "the global average: the small-world diagnostic that turns "
        "raw triangle counts into a comparable [0,1] ratio. The "
        "whole ratio lane is INTEGER: cc_u = (2*tri*1e9) DIV "
        "(d*(d-1)) is exact integer division (no float ever "
        "materializes per node), the cross-node average is an exact "
        "integer fold divided ONCE at emit, and the top-k orders by "
        "the integer cc_u (deterministic; node id tie-break). Wedge "
        "join + closing-edge probe count each triangle once "
        "(low->high orientation); the d<=200 hot-node cap bounds any "
        "task at O(cap^2) — the _bucket_pairs discipline. Zero-"
        "triangle nodes stay via the left join (cc=0 is signal). "
        "Output bounded: top-{top} + the global scalar"
    ).format(top=_CC_TOP),
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = pin(_capped_pairs(spark, sf_dir))  # degree + three wedge consumers
    deg = (
        pairs.select(F.col("ka").alias("node"))
        .unionByName(pairs.select(F.col("kb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    e1 = pairs.select(F.col("ka").alias("a"), F.col("kb").alias("b"))
    e2 = pairs.select(F.col("ka").alias("b"), F.col("kb").alias("c"))
    e3 = pairs.select(F.col("ka").alias("a"), F.col("kb").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # single wedge-join execution: map-side corner explode, not a
    # 3-way union of the join (graph_triangles lesson — 3x cost)
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri_cnt"))
    )
    # integer ratio lane: Spark's "/" on ints yields double, so the exact
    # 1e-9-grid coefficient uses SQL `div` (truncating integer division,
    # matching DuckDB `//` on the non-negative operands here)
    cc = (
        deg.filter(F.col("d") >= 2)
        .join(per_node, "node", "left")
        .select(
            "node",
            "d",
            F.coalesce(F.col("tri_cnt"), F.lit(0)).alias("tri_cnt"),
        )
        .select(
            "node",
            "d",
            "tri_cnt",
            F.expr("(2 * tri_cnt * 1000000000) div (d * (d - 1))").alias("cc_u"),
        )
    )
    avg_cc = cc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        (F.sum("cc_u") * F.lit(1.0) / F.count(F.lit(1)) / F.lit(1000000000.0)).alias(
            "global_avg"
        ),
    )
    return (
        cc.crossJoin(F.broadcast(avg_cc))
        .select(
            "node",
            F.col("d").alias("degree"),
            "tri_cnt",
            dround(F.col("cc_u") / F.lit(1000000000.0), 6).alias("local_cc"),
            "cc_u",
            "n_nodes",
            dround(F.col("global_avg"), 6).alias("avg_clustering"),
        )
        .orderBy(F.col("cc_u").desc(), "node")
        .limit(_CC_TOP)
    )


# ---------------------------------------------------------------------------
# Two-hop reach — friends-of-friends audience size on the
# capped similarity graph
# ---------------------------------------------------------------------------

_REACH_TOP = 20

_REACH_SQL = f"""
WITH {_CAPPED_PAIRS_SQL},
adj AS (
  SELECT ka AS src, kb AS dst FROM pairs
  UNION ALL SELECT kb, ka FROM pairs
),
onehop AS (SELECT DISTINCT src, dst FROM adj),
twohop AS (
  SELECT DISTINCT a.src, b.dst
  FROM onehop a JOIN onehop b ON b.src = a.dst
  WHERE b.dst <> a.src
),
fresh AS (
  SELECT t.src, t.dst FROM twohop t
  LEFT JOIN onehop o ON o.src = t.src AND o.dst = t.dst
  WHERE o.dst IS NULL
),
counts AS (
  SELECT o.src AS node,
         COUNT(DISTINCT o.dst)::BIGINT AS n_1hop,
         COALESCE(ANY_VALUE(f.n2), 0)::BIGINT AS n_2hop
  FROM onehop o
  LEFT JOIN (SELECT src, COUNT(*) AS n2 FROM fresh GROUP BY src) f
    ON f.src = o.src
  GROUP BY o.src
)
SELECT node, n_1hop, n_2hop,
       ROUND(CAST(n_2hop AS DOUBLE) / CAST(n_1hop AS DOUBLE), 6)
         AS amplification
FROM counts
ORDER BY n_2hop DESC, node LIMIT {_REACH_TOP}
"""


@register(
    "graph_two_hop_reach",
    _REACH_SQL,
    doc=(
        "two-hop reach — the friends-of-friends audience size "
        "(|N(N(v)) minus N(v) minus v|) that sizes influence/spam "
        "blast radius, beside clustering (cohesion) and kcore "
        "(embeddedness): ONE self-equi-join of the deduped adjacency "
        "closes the wedges, an anti-join subtracts already-1-hop "
        "pairs, the self row drops by predicate, and both hop counts "
        "are exact integer DISTINCT aggregates. The degree cap "
        "bounds the wedge join at O(cap^2) per node (_bucket_pairs "
        "discipline); amplification = 2hop/1hop is the single "
        "division at emit. Output bounded: top-{top} by fresh reach"
    ).format(top=_REACH_TOP),
)
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _capped_pairs(spark, sf_dir)
    onehop = pin(
        pairs.select(F.col("ka").alias("src"), F.col("kb").alias("dst"))
        .unionByName(pairs.select(F.col("kb").alias("src"), F.col("ka").alias("dst")))
        .distinct()
        # wedge join + anti-join + counts
    )
    twohop = (
        onehop.alias("a")
        .join(
            onehop.select(
                F.col("src").alias("dst"), F.col("dst").alias("dst2")
            ).alias("b"),
            "dst",
        )
        .select(F.col("src"), F.col("dst2").alias("dst"))
        .filter(F.col("dst") != F.col("src"))
        .distinct()
    )
    fresh = twohop.join(onehop, ["src", "dst"], "left_anti")
    f2 = fresh.groupBy("src").agg(F.count(F.lit(1)).alias("n2"))
    counts = (
        onehop.groupBy("src")
        .agg(F.count_distinct("dst").cast("bigint").alias("n_1hop"))
        .join(f2, "src", "left")
        .select(
            F.col("src").alias("node"),
            "n_1hop",
            F.coalesce(F.col("n2"), F.lit(0)).cast("bigint").alias("n_2hop"),
        )
    )
    return (
        counts.select(
            "node",
            "n_1hop",
            "n_2hop",
            dround(
                F.col("n_2hop").cast("double") / F.col("n_1hop").cast("double"), 6
            ).alias("amplification"),
        )
        .orderBy(F.col("n_2hop").desc(), "node")
        .limit(_REACH_TOP)
    )


# ---------------------------------------------------------------------------
# Mergeable bottom-k uniform sample
# ---------------------------------------------------------------------------

_BK_K = 32

_BK_SQL = f"""
SELECT rank, doc_id, source FROM (
  SELECT ROW_NUMBER() OVER (
           ORDER BY md5('bk|' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rank,
         doc_id, source
  FROM documents
) WHERE rank <= {_BK_K}
"""


@register(
    "sample_bottom_k_merge",
    _BK_SQL,
    doc=(
        "mergeable bottom-k uniform sample — the distributed "
        "reservoir-sampling equivalent: every row gets a deterministic "
        "md5 priority, each shard (source) keeps only its k smallest "
        "priorities (per-shard window top-k, WindowGroupLimit prunes "
        "before the shuffle), and the merged sketch's global bottom-k "
        "IS the corpus bottom-k — each shard retains a superset of "
        "its contribution to the global k, so merge(sketches) == "
        "one-shot, which is exactly what the ORACLE computes (the "
        "equality is the mergeability proof, same device as "
        "agg_sketch_merge). The md5 priority makes the sample "
        "uniform, reproducible and engine-independent (no RNG). "
        "Scale: per-shard passes are one window each over the "
        "shard's rows; the merge input is k·shards rows regardless "
        f"of corpus size (k={_BK_K})"
    ),
)
def sample_bottom_k_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.concat(F.lit("bk|"), F.col("doc_id").cast("string"))).alias("pri"),
    )
    shard_w = W.partitionBy("source").orderBy("pri", "doc_id")
    sketches = (
        docs.withColumn("srk", F.row_number().over(shard_w))
        .filter(F.col("srk") <= _BK_K)
        .select("doc_id", "source", "pri")
    )
    # merged sketch is k·shards rows — a bounded frame, so the single-
    # partition final ranking window is safe at any corpus size
    merge_w = W.orderBy("pri", "doc_id")
    return (
        sketches.withColumn("rank", F.row_number().over(merge_w))
        .filter(F.col("rank") <= _BK_K)
        .select(F.col("rank").cast("bigint").alias("rank"), "doc_id", "source")
    )
