"""Text-analysis completion — readability profiling (the vowel-group
syllable proxy + Flesch-style score) — plus the Spark-4 `GROUP BY ALL`
/ `ORDER BY ALL` SQL-surface row.

All per-doc counts are exact integers from one map-only expression
pass (array HOFs, no Python), every emitted double is one division (or
one fixed IEEE chain) from those integers, and corpus-level reduces
happen on already-per-doc-reduced rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dround, iln
from ..sources import load_table
from .catalog import register

# ---------------------------------------------------------------------------
# Readability profile
# ---------------------------------------------------------------------------

_READ_SQL = """
WITH counts AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(string_split(text, ' '),
              t -> len(regexp_extract_all(t, '[aeiou]+')))) AS BIGINT) AS n_syll,
         CAST(len(list_filter(string_split(text, ' '),
              t -> len(regexp_extract_all(t, '[aeiou]+')) <= 1)) AS BIGINT) AS n_mono,
         CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
         GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1)
           AS n_sentences
  FROM documents
)
SELECT doc_id, n_words, n_syll, n_sentences,
       ROUND(n_chars * 1.0 / n_words, 4) AS avg_word_len,
       ROUND(n_syll * 1.0 / n_words, 4) AS syll_per_word,
       ROUND(n_mono * 1.0 / n_words, 4) AS mono_share,
       ROUND(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                     - 84.6 * (n_syll * 1.0 / n_words), 2) AS flesch
FROM counts
WHERE n_words > 0
"""


@register(
    "text_readability",
    _READ_SQL,
    doc=(
        "per-document readability profile — the quality-gate siblings "
        "the curation stack consumes: word count, vowel-group "
        "syllable proxy, monosyllable share, average word length, and "
        "the Flesch reading-ease score. ONE map-only expression pass "
        "(split + array HOFs + regexp counts — all JVM codegen, no "
        "Python, no shuffle at all); every count is an exact integer "
        "and each emitted ratio is one division (Flesch is a fixed "
        "IEEE chain over two such ratios with shared literal "
        "coefficients). Sentence count floors at 1 so the "
        "punctuation-free synthetic corpus degrades deterministically "
        "instead of dividing by zero"
    ),
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    syll = F.aggregate(
        F.transform(toks, lambda t: F.regexp_count(t, F.lit("[aeiou]+"))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mono = F.size(
        F.filter(toks, lambda t: F.regexp_count(t, F.lit("[aeiou]+")) <= 1)
    )
    counts = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        syll.alias("n_syll"),
        mono.cast("bigint").alias("n_mono"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("bigint").alias(
            "n_chars"
        ),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit("[.!?]+")).cast("bigint"), F.lit(1)
        ).alias("n_sentences"),
    ).filter(F.col("n_words") > 0)
    nw = F.col("n_words")
    return counts.select(
        "doc_id",
        "n_words",
        "n_syll",
        "n_sentences",
        dround(F.col("n_chars") * F.lit(1.0) / nw, 4).alias("avg_word_len"),
        dround(F.col("n_syll") * F.lit(1.0) / nw, 4).alias("syll_per_word"),
        dround(F.col("n_mono") * F.lit(1.0) / nw, 4).alias("mono_share"),
        dround(
            F.lit(206.835)
            - F.lit(1.015) * (nw * F.lit(1.0) / F.col("n_sentences"))
            - F.lit(84.6) * (F.col("n_syll") * F.lit(1.0) / nw),
            2,
        ).alias("flesch"),
    )


# ---------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL
# ---------------------------------------------------------------------------

_GBA_SQL = """
SELECT o_orderpriority,
       CAST(strftime(o_orderdate, '%Y') AS INT) AS order_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(ROUND(o_totalprice * 100, 0))) AS BIGINT) AS total_cents
FROM orders
WHERE o_orderstatus <> 'F'
GROUP BY ALL
ORDER BY ALL
"""


@register(
    "sql_group_by_all",
    _GBA_SQL,
    doc=(
        "the Spark-4 / modern-SQL GROUP BY ALL + ORDER BY ALL "
        "surface: grouping keys are inferred from the non-aggregate "
        "select items and the output orders by every column — both "
        "resolve at analysis time to the ordinary hash-aggregate + "
        "sort plan (partial+final agg, one shuffle), so the sugar "
        "costs nothing physical. Revenue sums in exact integer cents "
        "(per-row rounding BEFORE the sum — the fold-order "
        "discipline); the year extraction mirrors DuckDB strftime"
    ),
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(date_format(o_orderdate, 'yyyy') AS INT) AS order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM orders
        WHERE o_orderstatus <> 'F'
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# ---------------------------------------------------------------------------
# SQL pipe syntax
# ---------------------------------------------------------------------------

_PIPE_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
WHERE l_quantity >= 25
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "sql_pipe_syntax",
    _PIPE_ORACLE,
    doc=(
        "the Spark-4 SQL pipe syntax (|> operators, the linear "
        "GoogleSQL-style query form): FROM … |> WHERE … |> AGGREGATE "
        "… GROUP BY … |> ORDER BY parses to EXACTLY the plan the "
        "nested form produces — filter pushed into the scan, "
        "partial+final hash agg, one sort — so the surface is free; "
        "the oracle states the same query in classic ANSI form, "
        "proving the two syntaxes are semantically identical. "
        "Revenue sums in exact integer cents"
    ),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity >= 25
        |> AGGREGATE COUNT(*) AS n,
                     SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                       AS revenue_cents
           GROUP BY l_returnflag
        |> SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                  CAST(revenue_cents AS BIGINT) AS revenue_cents
        |> ORDER BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# listagg / string_agg ordered aggregation
# ---------------------------------------------------------------------------

_LISTAGG_SQL = """
SELECT n_regionkey AS region_key,
       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM nation
GROUP BY n_regionkey
"""


@register(
    "agg_listagg_ordered",
    _LISTAGG_SQL,
    doc=(
        "ordered string aggregation — Spark 4's listagg()/string_agg "
        "surface (SQL:2023) with a WITHIN-GROUP order: nations per "
        "region as a deterministic csv. Spark's listagg has no "
        "order-by clause, so the plan sorts INSIDE the aggregation "
        "via the sort_array(collect_list) composition — the same "
        "ordered-reassembly device the chunking/substring queries "
        "use; DuckDB states it natively as string_agg(... ORDER BY). "
        "Both reduce in one hash aggregation; the csv is "
        "deterministic because the order key is total"
    ),
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy(F.col("n_regionkey").alias("region_key")).agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
            "nations_csv"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
    )


# ---------------------------------------------------------------------------
# XML surface: build → from_xml round-trip
# ---------------------------------------------------------------------------

_XML_SQL = """
SELECT n_nationkey AS nation_key, n_name AS name,
       CAST(n_regionkey AS BIGINT) AS region_key
FROM nation
WHERE n_regionkey <> 2
"""


@register(
    "scalar_xml_roundtrip",
    _XML_SQL,
    doc=(
        "the Spark-4 native XML lane (F7 sibling of the JSON/VARIANT "
        "rows): each nation row renders to an XML fragment in-query, "
        "then from_xml with an explicit schema parses it back to "
        "typed columns — a build→parse ROUND-TRIP, so the oracle is "
        "simply the original columns and any parser asymmetry (type "
        "coercion, whitespace, escaping) breaks the hash. DuckDB has "
        "no XML type, which is exactly why the identity-oracle form "
        "is the right verification: the Spark-only surface is proven "
        "against engine-neutral values. Map-only, no shuffle before "
        "the filter/projection"
    ),
)
def scalar_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    xml = F.concat(
        F.lit("<nation><key>"),
        F.col("n_nationkey").cast("string"),
        F.lit("</key><name>"),
        F.col("n_name"),
        F.lit("</name><region>"),
        F.col("n_regionkey").cast("string"),
        F.lit("</region></nation>"),
    )
    parsed = nation.select(xml.alias("xml")).select(
        F.from_xml(
            "xml", "key BIGINT, name STRING, region BIGINT"
        ).alias("p")
    )
    return parsed.select(
        F.col("p.key").cast("int").alias("nation_key"),
        F.col("p.name").alias("name"),
        F.col("p.region").cast("bigint").alias("region_key"),
    ).filter(F.col("region_key") != 2)


# ---------------------------------------------------------------------------
# try_* error-safe expression lane
# ---------------------------------------------------------------------------

_TRY_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ')[1] AS w1, n_chars,
         CAST(doc_id % 5 AS BIGINT) AS d
  FROM documents
)
SELECT doc_id,
       TRY_CAST(w1 AS BIGINT) AS w1_as_int,
       CASE WHEN d = 0 THEN NULL ELSE n_chars // d END AS safe_div,
       CASE WHEN n_chars >= 0 THEN CAST(ROUND(sqrt(n_chars), 4) AS DOUBLE)
       END AS safe_sqrt
FROM base
"""


@register(
    "scalar_try_functions",
    _TRY_SQL,
    doc=(
        "the error-safe expression lane (ANSI-mode survival kit): "
        "try_cast on non-numeric tokens → NULL instead of a thrown "
        "cast error, try_divide on an engineered zero denominator → "
        "NULL instead of DIVIDE_BY_ZERO — the lane that lets a "
        "malformed minority of a 100-TB corpus degrade to NULLs "
        "instead of failing the job. The oracle states the same "
        "semantics with guard CASEs (DuckDB's TRY_CAST + explicit "
        "zero guard), so the NULL-propagation contract hash-matches. "
        "Map-only, one projection"
    ),
)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.split("text", " ").getItem(0).alias("w1"),
        "n_chars",
        (F.col("doc_id") % 5).cast("bigint").alias("d"),
    )
    return base.select(
        "doc_id",
        F.expr("try_cast(w1 AS BIGINT)").alias("w1_as_int"),
        F.expr("try_divide(n_chars, d)").cast("bigint").alias("safe_div"),
        F.when(F.col("n_chars") >= 0, dround(F.sqrt("n_chars"), 4)).alias(
            "safe_sqrt"
        ),
    )


# ---------------------------------------------------------------------------
# Zipf-law fit — the rank-frequency power-law exponent of the
# corpus vocabulary (log-log OLS over the top-K tokens)
# ---------------------------------------------------------------------------

_ZIPF_K = 100
_ZIPF_SCALE = 100_000_000  # 1e-8 integer-ln grid (the iln device)

_ZIPF_SQL = f"""
WITH tf AS (
  SELECT tok, COUNT(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1
),
ranked AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rnk
  FROM tf
),
pts AS (
  SELECT CAST(ROUND(LN(rnk) * {_ZIPF_SCALE}, 0) AS BIGINT) AS x,
         CAST(ROUND(LN(freq) * {_ZIPF_SCALE}, 0) AS BIGINT) AS y
  FROM ranked WHERE rnk <= {_ZIPF_K}
),
s AS (
  SELECT COUNT(*)::HUGEINT AS k,
         SUM(x)::HUGEINT AS sx, SUM(y)::HUGEINT AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pts
)
SELECT CAST(k AS BIGINT) AS k_top,
       ROUND(-(CAST(k * sxy - sx * sy AS DOUBLE)
               / CAST(k * sxx - sx * sx AS DOUBLE)), 6) AS zipf_exponent,
       ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
             * CAST(k * sxy - sx * sy AS DOUBLE)
             / (CAST(k * sxx - sx * sx AS DOUBLE)
                * CAST(k * syy - sy * sy AS DOUBLE)), 6) AS r2
FROM s
"""


@register(
    "text_zipf_fit",
    _ZIPF_SQL,
    doc=(
        "Zipf-law fit — the rank-frequency power-law exponent of the "
        "corpus vocabulary (natural corpora sit near 1.0; a corpus "
        "whose exponent drifts is contaminated with boilerplate or "
        "templated text, so this is a one-number corpus-health "
        "monitor beside the drift/quality profiles): one gram "
        "shuffle to the term-frequency frame, the top-{k} ranks "
        "(TakeOrdered-sized), then a closed-form log-log OLS where "
        "each ln lands ONCE on the 1e-8 integer grid (the "
        "once-rounded integer-ln device — the five regression "
        "moments are then exact 128-bit integers) and the slope and "
        "r² are fixed single-division chains. Honest corpus caveat: "
        "the synthetic vocabulary is near-uniform, so the exponent "
        "sits far below 1 — the witness is the exact fit machinery; "
        "the replay pins it against numpy.polyfit"
    ).format(k=_ZIPF_K),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    from pyspark.sql import Window as W

    wr = W.orderBy(F.col("freq").desc(), F.col("tok"))
    ranked = tf.select("freq", F.row_number().over(wr).alias("rnk")).filter(
        F.col("rnk") <= _ZIPF_K
    )
    pts = ranked.select(iln(F.col("rnk")).alias("x"), iln(F.col("freq")).alias("y"))
    c19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = pts.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum((c19("x") * c19("y")).cast("decimal(38,0)")).cast("decimal(38,0)").alias("sxy"),
        F.sum((c19("x") * c19("x")).cast("decimal(38,0)")).cast("decimal(38,0)").alias("sxx"),
        F.sum((c19("y") * c19("y")).cast("decimal(38,0)")).cast("decimal(38,0)").alias("syy"),
    )
    num = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        F.col("k").cast("bigint").alias("k_top"),
        dround(-(num / den), 6).alias("zipf_exponent"),
        dround(num * num / (den * deny), 6).alias("r2"),
    )
