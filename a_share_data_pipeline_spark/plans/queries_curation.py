"""Corpus-curation catalog queries (SURVEY.md §2.12 extensions): the
published LLM-training-data curation steps — repetition removal and
heuristic quality gates (Gopher/RefinedWeb style), benchmark n-gram
decontamination, and concat-and-chunk sequence packing — each with a
DuckDB oracle built from the SAME thresholds/constants as the Spark
plan (operators/curation.py).

Extended tier: registered past the driver's 50-query window (the core
window already covers every SURVEY §2 operator); verified by the same
oracle harness locally via tests/test_oracle_diff.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import curation as CU
from ..operators import text as TX
from ..functions.rounding import dround, iln
from ..operators.text import LANG_MARKERS
from ..session import pin
from ..sources import load_table
from .catalog import register

# ---------------------------------------------------------------------------
# Repetition signals (Gopher repetition-removal)
# ---------------------------------------------------------------------------

_REP_SQL = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS g FROM documents
),
wc AS (SELECT doc_id, g, COUNT(*) AS c FROM words GROUP BY 1, 2),
ws AS (
  SELECT doc_id, SUM(c) AS n_words,
         ROUND(MAX(c) / SUM(c), 6) AS top_word_frac
  FROM wc GROUP BY doc_id
),
bt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bigrams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
  FROM bt WHERE len(t) >= 2
),
bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bigrams GROUP BY 1, 2),
bs AS (
  SELECT doc_id,
         ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) / SUM(c), 6) AS dup_bigram_frac
  FROM bc GROUP BY doc_id
)
SELECT ws.doc_id, ws.n_words, ws.top_word_frac,
       COALESCE(bs.dup_bigram_frac, 0.0) AS dup_bigram_frac,
       (ws.top_word_frac <= {CU.TOP_WORD_FRAC_MAX}
        AND COALESCE(bs.dup_bigram_frac, 0.0) <= {CU.DUP_BIGRAM_FRAC_MAX})
         AS passes_repetition
FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
"""


@register(
    "curation_repetition",
    _REP_SQL,
    doc=(
        "Gopher-style repetition signals per doc: fraction covered by "
        "the most frequent word + fraction covered by repeated bigrams, "
        "with a pass/fail flag — two partial-aggregated gram shuffles, "
        "no Python"
    ),
)
def curation_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return CU.repetition_signals(docs)


# ---------------------------------------------------------------------------
# Composite quality gates (map-only)
# ---------------------------------------------------------------------------


def _gates_sql() -> str:
    ors = " OR ".join(f"x = '{m}'" for m in LANG_MARKERS["en"])
    return f"""
WITH feats AS (
  SELECT doc_id,
         len(string_split(text, ' '))                          AS n_words,
         length(replace(text, ' ', ''))                        AS nonspace,
         len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))        AS symbols,
         length(text)                                          AS n_chars,
         len(list_filter(string_split(text, ' '), x -> {ors})) AS stop_hits
  FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT)                 AS n_words,
       ROUND(nonspace / n_words, 4)            AS mean_word_len,
       ROUND(symbols / n_chars, 6)             AS symbol_ratio,
       CAST(stop_hits AS BIGINT)               AS stop_hits,
       n_words BETWEEN {CU.MIN_WORDS} AND {CU.MAX_WORDS}  AS gate_word_count,
       nonspace / n_words BETWEEN {CU.MIN_MEAN_WORD_LEN} AND {CU.MAX_MEAN_WORD_LEN}
                                               AS gate_word_len,
       symbols / n_chars <= {CU.MAX_SYMBOL_RATIO} AS gate_symbols,
       stop_hits >= {CU.MIN_STOP_HITS}         AS gate_stopwords,
       (n_words BETWEEN {CU.MIN_WORDS} AND {CU.MAX_WORDS})
         AND (nonspace / n_words BETWEEN {CU.MIN_MEAN_WORD_LEN} AND {CU.MAX_MEAN_WORD_LEN})
         AND (symbols / n_chars <= {CU.MAX_SYMBOL_RATIO})
         AND (stop_hits >= {CU.MIN_STOP_HITS}) AS keep
FROM feats
"""


@register(
    "curation_quality_gates",
    _gates_sql(),
    doc=(
        "Gopher/RefinedWeb-style composite quality gate: word-count "
        "bounds, mean-word-length bounds, symbol ratio, stopword "
        "presence — every signal a per-row codegen expression, map-only "
        "with zero shuffle at any corpus size"
    ),
)
def curation_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return CU.quality_gates(docs)


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a broadcast eval set)
# ---------------------------------------------------------------------------

_DECON_N = CU.DECON_N
_BENCH_MOD = 97  # deterministic eval-set stand-in: doc_id % 97 == 0

_DECON_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(t) - {_DECON_N - 2}),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS g
  FROM t WHERE len(t) >= {_DECON_N}
),
bench AS (SELECT DISTINCT g FROM g WHERE doc_id % {_BENCH_MOD} = 0),
corpus AS (SELECT doc_id, g FROM g WHERE doc_id % {_BENCH_MOD} <> 0),
per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY doc_id),
hits AS (
  SELECT c.doc_id, COUNT(*) AS n_hits
  FROM corpus c JOIN bench b ON c.g = b.g
  GROUP BY c.doc_id
)
SELECT h.doc_id, h.n_hits, p.n_grams,
       ROUND(h.n_hits / p.n_grams, 6) AS hit_frac
FROM hits h JOIN per_doc p ON h.doc_id = p.doc_id
"""


@register(
    "curation_decontaminate",
    _DECON_SQL,
    doc=(
        "test-set decontamination: flag corpus docs sharing any word "
        "5-gram with the benchmark docs (deterministic eval-set "
        "stand-in: doc_id % 97 == 0). The benchmark gram set broadcasts "
        "(eval sets are MBs vs TB corpora); corpus side is one "
        "distinct-gram explode + broadcast join + per-doc aggregate"
    ),
)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return CU.decontaminate(corpus, bench)


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk into context windows)
# ---------------------------------------------------------------------------

_PACK_LEN = 256

_PACK_SQL = f"""
WITH t AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
s AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM t
)
SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(FLOOR(start_tok / {_PACK_LEN}) AS BIGINT) AS bin_id,
       FLOOR((start_tok + n_tokens - 1) / {_PACK_LEN}) > FLOOR(start_tok / {_PACK_LEN})
         AS crosses_boundary
FROM s
"""


_PIPELINE_SQL = f"""
WITH gates AS (
  SELECT doc_id, keep FROM ({_gates_sql()}) g
),
rep AS (
  SELECT doc_id, passes_repetition FROM ({_REP_SQL}) r
),
canon AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
surv AS (
  SELECT d.source, d.doc_id, len(string_split(d.text, ' ')) AS n_tokens
  FROM documents d
  JOIN gates USING (doc_id)
  JOIN rep   USING (doc_id)
  JOIN canon USING (doc_id)
  WHERE gates.keep AND rep.passes_repetition
),
s AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM surv
)
SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(FLOOR(start_tok / {_PACK_LEN}) AS BIGINT) AS bin_id,
       FLOOR((start_tok + n_tokens - 1) / {_PACK_LEN}) > FLOOR(start_tok / {_PACK_LEN})
         AS crosses_boundary
FROM s
"""


@register(
    "curation_pipeline",
    _PIPELINE_SQL,
    doc=(
        "the END-TO-END curation flow as ONE composed plan: quality "
        "gates ∧ repetition pass ∧ exact-dedup canonical survivor "
        "selection, then per-shard sequence packing of the survivors — "
        "operators compose lazily, Catalyst fuses the per-row gates "
        "into the survivor scan, and the only shuffles are the two "
        "repetition gram aggregations, the md5 dedup group, and the "
        "packing window exchange"
    ),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    gates = CU.quality_gates(docs).select("doc_id", "keep").filter(F.col("keep"))
    rep = (
        CU.repetition_signals(docs)
        .select("doc_id", "passes_repetition")
        .filter(F.col("passes_repetition"))
    )
    canon = (
        docs.groupBy(F.md5("text"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv = (
        docs.join(gates.select("doc_id"), "doc_id", "left_semi")
        .join(rep.select("doc_id"), "doc_id", "left_semi")
        .join(canon, "doc_id", "left_semi")
    )
    return CU.pack_sequences(surv, context_len=_PACK_LEN)


@register(
    "curation_pack_sequences",
    _PACK_SQL,
    doc=(
        "concat-and-chunk sequence packing for pretraining: within each "
        "shard (source) docs are laid out in id order and the token "
        "stream is cut into 256-token context windows — one window "
        "exchange on the shard key, then pure arithmetic; per-shard "
        "ordering is the scale form (a global ORDER BY would serialize "
        "the corpus through one task)"
    ),
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return CU.pack_sequences(docs, context_len=_PACK_LEN)


# ---------------------------------------------------------------------------
# PII redaction (emails / IPv4 / phone numbers -> typed placeholder tokens)
# ---------------------------------------------------------------------------

# The synthetic corpus carries no PII, so both engines append the SAME
# deterministic doc_id-derived contact block to a subset of docs before
# redacting — the fixture augmentation is part of the query contract
# (documented here, mirrored verbatim in the oracle), the operator under
# test is operators/curation.redact_pii.
_PII_AUG = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@ex'"
    " || (doc_id % 7) || '.com' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || (doc_id % 250)"
    " || '.0.' || (doc_id % 100) ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' tel +86-21-5550-'"
    " || (1000 + doc_id % 9000) ELSE '' END"
)


def _pii_sql() -> str:
    (n1, p1, t1), (n2, p2, t2), (n3, p3, t3) = CU.PII_PATTERNS
    return f"""
WITH aug AS (SELECT doc_id, {_PII_AUG} AS t FROM documents),
s1 AS (SELECT doc_id, len(regexp_extract_all(t, '{p1}')) AS n_{n1},
              regexp_replace(t, '{p1}', '{t1}', 'g') AS t FROM aug),
s2 AS (SELECT doc_id, n_{n1}, len(regexp_extract_all(t, '{p2}')) AS n_{n2},
              regexp_replace(t, '{p2}', '{t2}', 'g') AS t FROM s1),
s3 AS (SELECT doc_id, n_{n1}, n_{n2},
              len(regexp_extract_all(t, '{p3}')) AS n_{n3},
              regexp_replace(t, '{p3}', '{t3}', 'g') AS t FROM s2)
SELECT doc_id, CAST(n_{n1} AS BIGINT) AS n_{n1},
       CAST(n_{n2} AS BIGINT) AS n_{n2},
       CAST(n_{n3} AS BIGINT) AS n_{n3}, t AS text_redacted
FROM s3
"""


# ---------------------------------------------------------------------------
# Corpus-level line dedup (C4-style boilerplate removal)
# ---------------------------------------------------------------------------

# The synthetic corpus carries no repeated boilerplate, so both engines
# prepend the SAME 16-token boilerplate "line" to every 4th doc before
# deduping — aligned at segment 0 so its ~125 occurrences collide; the
# fixture augmentation is part of the query contract (the _PII_AUG
# pattern), the operator under test is curation.dedup_lines.
_LINE_SEG_TOKENS, _LINE_MIN_COUNT = 16, 3
_LINE_BOILER = (
    "subscribe to our newsletter follow us on social media "
    "all rights reserved privacy policy terms apply"
)
_LINE_AUG = (
    f"CASE WHEN doc_id % 4 = 0 THEN '{_LINE_BOILER} ' || text ELSE text END"
)


def _line_dedup_sql() -> str:
    st = _LINE_SEG_TOKENS
    return f"""
WITH aug AS (SELECT doc_id, {_LINE_AUG} AS text FROM documents),
t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM aug),
s AS (
  SELECT doc_id, toks,
         unnest(range(CAST(GREATEST(1, FLOOR((n + {st - 1}) / {float(st)})) AS BIGINT))) AS seg_idx
  FROM t
),
segs AS (
  SELECT doc_id, seg_idx,
         array_to_string(toks[CAST(seg_idx * {st} + 1 AS BIGINT)
                              : CAST(seg_idx * {st} + {st} AS BIGINT)], ' ') AS seg
  FROM s
),
hot AS (SELECT md5(seg) AS fp FROM segs
        GROUP BY md5(seg) HAVING COUNT(*) >= {_LINE_MIN_COUNT}),
flagged AS (
  SELECT doc_id, seg_idx, seg, (hot.fp IS NOT NULL) AS is_hot
  FROM segs LEFT JOIN hot ON hot.fp = md5(seg)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       COALESCE(string_agg(CASE WHEN NOT is_hot THEN seg END, ' ' ORDER BY seg_idx), '') AS text_clean
FROM flagged GROUP BY doc_id
"""


@register(
    "curation_line_dedup",
    _line_dedup_sql(),
    doc=(
        "corpus-level line dedup (C4/RefinedWeb boilerplate removal): "
        "every 16-token 'line' occurring >= 3 times across the corpus "
        "is dropped from every document, surviving lines reassemble in "
        "order — segment counting shuffles on md5 keys, the hot-line "
        "set broadcasts back (boilerplate is MBs vs a TB corpus), "
        "reassembly is one per-doc struct-sort aggregation, no window; "
        "runs over a deterministic boilerplate augmentation (every 4th "
        "doc) so removal is non-vacuous"
    ),
)
def curation_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", F.expr(_LINE_AUG).alias("text"))
    return CU.dedup_lines(aug, seg_tokens=_LINE_SEG_TOKENS, min_count=_LINE_MIN_COUNT)


# ---------------------------------------------------------------------------
# Sliding-window chunking with overlap (RAG / long-context prep)
# ---------------------------------------------------------------------------

_CHUNK_LEN, _CHUNK_OVERLAP = 64, 16
_CHUNK_STRIDE = _CHUNK_LEN - _CHUNK_OVERLAP

_CHUNK_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, n, toks,
         unnest(range(CAST(GREATEST(1, FLOOR((n - {_CHUNK_OVERLAP} + {_CHUNK_STRIDE - 1})
                                             / {float(_CHUNK_STRIDE)})) AS BIGINT))) AS chunk_idx
  FROM t
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * {_CHUNK_STRIDE} AS BIGINT) AS start_tok,
       CAST(LEAST({_CHUNK_LEN}, n - chunk_idx * {_CHUNK_STRIDE}) AS BIGINT) AS n_chunk_tokens,
       array_to_string(toks[CAST(chunk_idx * {_CHUNK_STRIDE} + 1 AS BIGINT)
                            : CAST(chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_LEN} AS BIGINT)],
                       ' ') AS chunk_text
FROM c
"""


@register(
    "curation_chunk_docs",
    _CHUNK_SQL,
    doc=(
        "sliding-window chunking with overlap (64-token chunks, stride "
        "48): the RAG / long-context prep that keeps each document "
        "intact and emits overlapping windows — vs pack_sequences' "
        "hard concat-and-cut; pure expression fan-out (split → bounded "
        "sequence explode → slice), no shuffle beyond the explode-"
        "parallelism repartition; every doc emits >= 1 chunk"
    ),
)
def curation_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return CU.chunk_documents(docs, chunk_len=_CHUNK_LEN, overlap=_CHUNK_OVERLAP)


@register(
    "curation_pii_redact",
    _pii_sql(),
    doc=(
        "PII scrubbing (emails, IPv4s, phone numbers -> typed "
        "placeholder tokens) with per-doc hit counts — pure map-only "
        "regexp expressions inside whole-stage codegen, zero shuffle; "
        "the patterns are RE2-compatible so the identical pattern "
        "strings run in Spark's Java regex and the DuckDB oracle; "
        "sequential semantics (email pass first) keep an address inside "
        "an email from double-counting as a phone/IP"
    ),
)
def curation_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", F.expr(_PII_AUG).alias("text"))
    return CU.redact_pii(aug)


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (zlib, Arrow lane)
# ---------------------------------------------------------------------------

_COMPRESS_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       TRUE AS ratio_bounded
FROM documents
"""


@register(
    "text_compression_ratio",
    _COMPRESS_SQL,
    doc=(
        "compression-ratio quality signal: zlib-compress every doc's "
        "utf-8 payload in an Arrow-batched mapInPandas and report "
        "compressed/raw — highly repetitive (low-ratio) docs are the "
        "classic cheap proxy for boilerplate/spam in corpus curation "
        "(complements the Gopher repetition signals with a "
        "tokenizer-free measure). Map-only: one pass, zero shuffle, "
        "bounded per-task memory (one Arrow batch). The ratio itself "
        "is library-versioned, so the oracled columns are the ids, "
        "byte lengths and the zlib size bound (comp <= raw + 11, "
        "deterministically TRUE); the ratio's behavior is pinned by "
        "a repetition test instead"
    ),
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rated = CU.compression_ratio(docs)
    return rated.select(
        "doc_id",
        "n_bytes",
        ((F.col("comp_bytes") <= F.col("n_bytes") + 11) & (F.col("comp_bytes") > 0)).alias(
            "ratio_bounded"
        ),
    )


# ---------------------------------------------------------------------------
# Curriculum ordering: quality-annealed deterministic training order
# ---------------------------------------------------------------------------

_CURR_HI = 0.6  # stage 0: high-quality docs the run warms up on
_CURR_MID = 0.45  # stage 1; everything below anneals in last
# thresholds sit at ~P75/P25 of the corpus quality distribution
# (probed: P25=0.38-0.40, P50=0.50, P75=0.60-0.61 at both fixture SFs)
_CURR_SEED = 13


def _curriculum_sql() -> str:
    ors = " OR ".join(f"x = '{m}'" for m in TX.LANG_MARKERS["en"])
    score = (
        "ROUND(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5\n"
        f"             + (len(list_filter(string_split(text, ' '), x -> {ors}))"
        " / len(string_split(text, ' '))) * 0.3\n"
        "             + greatest(0.0, 1.0 - len(regexp_extract_all(text, '[.,!?;:]'))"
        " / len(string_split(text, ' '))) * 0.2, 4)"
    )
    return f"""
SELECT doc_id, quality_score,
       CAST(CASE WHEN quality_score >= {_CURR_HI!r} THEN 0
                 WHEN quality_score >= {_CURR_MID!r} THEN 1
                 ELSE 2 END AS BIGINT) AS stage,
       md5('{_CURR_SEED}|' || CAST(doc_id AS VARCHAR)) AS curriculum_key
FROM (SELECT doc_id, {score} AS quality_score FROM documents) q
"""


@register(
    "curation_curriculum",
    _curriculum_sql(),
    doc=(
        "curriculum ordering — the training-order contract of a "
        "curated corpus: every doc gets a quality STAGE (literal "
        "thresholds on the oracle-shared linear quality score; stage "
        "0 = warm-up-grade, annealing down) and a seeded-md5 "
        "CURRICULUM KEY, so consumers stream the corpus in "
        "(stage ASC, key ASC) order — high-quality first, "
        "deterministically shuffled within each stage. Entirely "
        "map-only: the curriculum IS the sort key, no global window "
        "is materialized here; a consumer that needs dense positions "
        "applies shuffle_deterministic's range-exchange + offset "
        "pattern per stage. No RNG — the same corpus yields the same "
        "training order on any cluster, any rerun (reproducible-run "
        "requirement)"
    ),
)
def curation_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = TX.quality_features(docs).select("doc_id", "quality_score")
    stage = (
        F.when(F.col("quality_score") >= _CURR_HI, F.lit(0))
        .when(F.col("quality_score") >= _CURR_MID, F.lit(1))
        .otherwise(F.lit(2))
    )
    return scored.select(
        "doc_id",
        "quality_score",
        stage.cast("bigint").alias("stage"),
        F.md5(
            F.concat(F.lit(f"{_CURR_SEED}|"), F.col("doc_id").cast("string"))
        ).alias("curriculum_key"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup — the web-corpus identity rule
# ---------------------------------------------------------------------------

# Dirty-URL fixture: the corpus has no URLs, so both engines derive the
# SAME deterministic dirty URL per document (the fixture-augmentation
# contract) — 7 case/tracking/slash/param-order/fragment variants per
# canonical identity (doc_id // 7), exercising every rule below.
_URL_CANON_SQL = r"""
WITH dirty AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
         || '://'
         || (CASE doc_id % 3
               WHEN 0 THEN upper('www.src' || CAST((doc_id // 7) % 20 AS VARCHAR) || '.example.com')
               WHEN 1 THEN lower('www.src' || CAST((doc_id // 7) % 20 AS VARCHAR) || '.example.com')
               ELSE 'www.Src' || CAST((doc_id // 7) % 20 AS VARCHAR) || '.Example.COM'
             END)
         || '/docs/' || CAST(doc_id // 7 AS VARCHAR)
         || (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END)
         || '?'
         || (CASE WHEN doc_id % 3 = 0
                  THEN 'b=2&a=' || CAST(doc_id // 7 AS VARCHAR)
                  ELSE 'a=' || CAST(doc_id // 7 AS VARCHAR) || '&b=2' END)
         || (CASE WHEN doc_id % 2 = 0 THEN '&utm_source=feed&utm_campaign=x' ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0 THEN '#sec' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END)
         AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
         lower(split_part(url, '://', 1)) AS scheme,
         split_part(split_part(url, '#', 1), '://', 2) AS rest
  FROM dirty
),
hp AS (
  SELECT doc_id, url, scheme,
         regexp_replace(lower(split_part(rest, '/', 1)), '^www\.', '') AS host,
         CASE WHEN strpos(rest, '/') = 0 THEN ''
              ELSE substr(rest, strpos(rest, '/')) END AS pathq
  FROM parts
),
pq AS (
  SELECT doc_id, url, scheme, host,
         regexp_replace(split_part(pathq, '?', 1), '/+$', '') AS path,
         CASE WHEN strpos(pathq, '?') = 0 THEN ''
              ELSE split_part(pathq, '?', 2) END AS qs
  FROM hp
),
canon AS (
  SELECT doc_id,
         scheme || '://' || host || path
         || CASE WHEN arr <> '' THEN '?' || arr ELSE '' END AS canonical_url
  FROM (
    SELECT doc_id, scheme, host, path,
           array_to_string(
             list_sort(list_filter(string_split(qs, '&'),
                       x -> NOT starts_with(x, 'utm_') AND x <> '')),
             '&') AS arr
    FROM pq
  ) q
)
SELECT canonical_url,
       COUNT(*)::BIGINT AS n_variants,
       MIN(doc_id) AS kept_doc_id
FROM canon
GROUP BY 1
"""


@register(
    "dedup_url_canonical",
    _URL_CANON_SQL,
    doc=(
        "URL canonicalization dedup — the FIRST dedup pass of every "
        "web corpus (CommonCrawl-style pipelines drop ~10-20% of "
        "fetches on URL identity before any content hashing): "
        "lowercase scheme+host, strip the www. prefix, drop the "
        "fragment, strip trailing slashes, remove utm_* tracking "
        "params, and SORT the surviving query params so param order "
        "cannot split an identity — then one groupBy on the "
        "canonical form keeps the smallest doc_id. Every rule is a "
        "codegen string expression (split_part/regexp/array_sort "
        "lambda — no UDF), so the whole canonicalizer is map-side "
        "and the only shuffle is the final identity groupBy. The "
        "corpus has no URLs, so both engines derive the SAME "
        "deterministic dirty URL per doc (7 case/tracking/slash/"
        "param-order/fragment variants per canonical identity), "
        "making every rule's effect visible in the variant counts"
    ),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = (F.col("doc_id") / 7).cast("bigint")
    h = F.concat(
        F.lit("www.src"), (g % 20).cast("string"), F.lit(".example.com")
    )
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS")).otherwise(
                F.lit("https")
            ),
            F.lit("://"),
            F.when(F.col("doc_id") % 3 == 0, F.upper(h))
            .when(F.col("doc_id") % 3 == 1, F.lower(h))
            .otherwise(
                F.concat(
                    F.lit("www.Src"), (g % 20).cast("string"), F.lit(".Example.COM")
                )
            ),
            F.lit("/docs/"),
            g.cast("string"),
            F.when(F.col("doc_id") % 2 == 1, F.lit("/")).otherwise(F.lit("")),
            F.lit("?"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("b=2&a="), g.cast("string")),
            ).otherwise(F.concat(F.lit("a="), g.cast("string"), F.lit("&b=2"))),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("&utm_source=feed&utm_campaign=x")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit("#sec"), (F.col("doc_id") % 7).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    # substring_index count=-1 takes the piece AFTER the delimiter
    # (count=2 would keep everything before the 2nd occurrence —
    # DuckDB's split_part(x, d, 2) semantics differ here)
    rest = F.substring_index(F.substring_index("url", "#", 1), "://", -1)
    parts = dirty.select(
        "doc_id",
        F.lower(F.substring_index("url", "://", 1)).alias("scheme"),
        rest.alias("rest"),
    )
    hp = parts.select(
        "doc_id",
        "scheme",
        F.regexp_replace(
            F.lower(F.substring_index("rest", "/", 1)), r"^www\.", ""
        ).alias("host"),
        F.when(F.instr("rest", "/") == 0, F.lit("")).otherwise(
            F.expr("substring(rest, instr(rest, '/'))")
        ).alias("pathq"),
    )
    pq = hp.select(
        "doc_id",
        "scheme",
        "host",
        F.regexp_replace(F.substring_index("pathq", "?", 1), "/+$", "").alias(
            "path"
        ),
        F.when(F.instr("pathq", "?") == 0, F.lit("")).otherwise(
            F.substring_index("pathq", "?", -1)
        ).alias("qs"),
    )
    arr = F.array_join(
        F.array_sort(
            F.filter(
                F.split("qs", "&"),
                lambda x: (~x.startswith("utm_")) & (x != ""),
            )
        ),
        "&",
    )
    canon = pq.select(
        "doc_id",
        F.concat(
            F.col("scheme"),
            F.lit("://"),
            F.col("host"),
            F.col("path"),
            F.when(arr != "", F.concat(F.lit("?"), arr)).otherwise(F.lit("")),
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_variants"),
        F.min("doc_id").alias("kept_doc_id"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights — the multilingual-corpus
# rebalancing rule (alpha = 0.5 so the power is an exact sqrt)
# ---------------------------------------------------------------------------

_TEMP_SCALE = 100_000_000  # 1e8 integer grid for the sqrt(p) weights

_TEMP_MIX_SQL = f"""
WITH src AS (
  SELECT lang, COUNT(*)::BIGINT AS n_docs FROM documents GROUP BY 1
),
tot AS (SELECT SUM(n_docs)::BIGINT AS n FROM src),
w AS (
  SELECT src.lang, src.n_docs, tot.n,
         CAST(ROUND(sqrt(src.n_docs * 1.0 / tot.n) * {_TEMP_SCALE}, 0) AS BIGINT) AS sp
  FROM src CROSS JOIN tot
),
norm AS (SELECT SUM(sp)::HUGEINT AS z FROM w)
SELECT w.lang,
       w.n_docs,
       ROUND(w.n_docs * 1.0 / w.n, 6) AS p_raw,
       ROUND(CAST(w.sp AS DOUBLE) / CAST(norm.z AS DOUBLE), 6) AS p_temp,
       ROUND((CAST(w.sp AS DOUBLE) * w.n) / (CAST(norm.z AS DOUBLE) * w.n_docs), 4)
         AS boost
FROM w CROSS JOIN norm
"""


@register(
    "curation_temperature_mixture",
    _TEMP_MIX_SQL,
    doc=(
        "temperature-scaled mixture weights — the multilingual/"
        "multi-source rebalancing rule every big pretraining corpus "
        "uses (XLM-R/mT5: sample source i with p_i^α / Σ p_j^α, "
        "α < 1 upweights the tail so small sources aren't drowned): "
        "α is fixed at 1/2 so the power is an exact SQRT — correctly "
        "rounded IEEE on both engines — and each sqrt lands ONCE on "
        "the 1e8 integer grid before normalization, so the "
        "normalizer is an exact integer sum (a float Σ over sources "
        "would fold in engine-dependent order — the documented "
        "float-fold ban) and every emitted ratio is a single double "
        "division. One groupBy to per-source counts (O(sources) "
        "rows), arithmetic on the reduced frame — free at any scale. "
        "boost > 1 marks upweighted tail sources, < 1 the downweighted "
        "head; the lang axis is the non-uniform one in this corpus"
    ),
)
def curation_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = src.agg(F.sum("n_docs").alias("n"))
    w = src.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n",
        dround(
            F.sqrt(F.col("n_docs") * F.lit(1.0) / F.col("n")) * _TEMP_SCALE, 0
        )
        .cast("bigint")
        .alias("sp"),
    )
    norm = w.agg(F.sum(F.col("sp").cast("decimal(19,0)")).alias("z"))
    return w.crossJoin(F.broadcast(norm)).select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        dround(F.col("n_docs") * F.lit(1.0) / F.col("n"), 6).alias("p_raw"),
        dround(F.col("sp").cast("double") / F.col("z").cast("double"), 6).alias(
            "p_temp"
        ),
        dround(
            (F.col("sp").cast("double") * F.col("n"))
            / (F.col("z").cast("double") * F.col("n_docs")),
            4,
        ).alias("boost"),
    )


# ---------------------------------------------------------------------------
# Model-based quality filter apply — hashed-feature linear
# scorer with literal integer weights (the fasttext/DCLM-style lane)
# ---------------------------------------------------------------------------

_MF_BUCKETS = 64
# Deterministic literal weight table in integer micro-units: the
# "trained model" is a fixture (no trainable signal in the synthetic
# corpus — the honest-stub rule); the APPLY machinery is the operator.
_MF_WEIGHTS = [((i * 2654435761) % 2001) - 1000 for i in range(_MF_BUCKETS)]
_MF_BIAS = 50_000  # micro-units
_MF_THRESHOLD = 50_000  # keep iff score_micro >= bias — i.e. the
# normalized dot is non-negative; splits the corpus near the median
# (measured ~50% at both SFs), so the flag actually filters


def _model_filter_sql() -> str:
    weights = ", ".join(str(w) for w in _MF_WEIGHTS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
feats AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {_MF_BUCKETS} AS bucket,
         COUNT(*)::BIGINT AS tf
  FROM toks GROUP BY 1, 2
),
w(bucket, wgt) AS (
  SELECT i - 1, ([{weights}])[i] FROM generate_series(1, {_MF_BUCKETS}) AS g(i)
),
scored AS (
  SELECT f.doc_id,
         SUM(f.tf * w.wgt)::BIGINT AS dot_micro,
         SUM(f.tf)::BIGINT AS n_tokens
  FROM feats f JOIN w ON w.bucket = f.bucket
  GROUP BY 1
)
SELECT doc_id, n_tokens,
       CAST({_MF_BIAS} + dot_micro // n_tokens AS BIGINT) AS score_micro,
       ({_MF_BIAS} + dot_micro // n_tokens >= {_MF_THRESHOLD}) AS keep
FROM scored
"""


@register(
    "curation_model_filter",
    _model_filter_sql(),
    doc=(
        "model-based quality filter APPLY — the learned lane beside "
        "the heuristic gates (DCLM / FineWeb-Edu style: a cheap "
        "linear classifier scores every document and the corpus keeps "
        "the top band): tokens hash into 64 buckets (md5 % buckets — "
        "the hashing-trick feature map, collision-tolerant by "
        "design), per-doc tf aggregates once, and the score is the "
        "dot product against a LITERAL integer-micro-unit weight "
        "table + bias with an integer-division length normalization "
        "— every accumulator exact, zero floats anywhere. The weight "
        "table is a deterministic fixture (the synthetic corpus has "
        "no trainable signal — honest-stub rule; a real deployment "
        "drops in fasttext/regression weights unchanged), but the "
        "SHAPE is the production one: weights broadcast "
        "(O(buckets)), scoring is one gram shuffle + one per-doc "
        "reduce, and the filter is a map-side compare. At 100 TB "
        "this is the cheapest learned filter that exists"
    ),
)
def curation_model_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    feats = toks.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
            % _MF_BUCKETS
        ).alias("bucket"),
    ).groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("tf"))
    w = F.array(*[F.lit(x) for x in _MF_WEIGHTS])
    scored = feats.select(
        "doc_id",
        "tf",
        F.element_at(w, F.col("bucket").cast("int") + 1).alias("wgt"),
    ).groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("wgt")).cast("bigint").alias("dot_micro"),
        F.sum("tf").cast("bigint").alias("n_tokens"),
    )
    # DuckDB's // on BIGINTs TRUNCATES toward zero on negative
    # numerators (measured: -3657//23 = -158, not -159) — Spark's `div`
    # has the same truncation semantics, F.floor(a/b) does NOT
    fdiv = F.expr("dot_micro div n_tokens")
    score = (F.lit(_MF_BIAS) + fdiv).alias("score_micro")
    return scored.select(
        "doc_id",
        "n_tokens",
        score,
        ((F.lit(_MF_BIAS) + fdiv) >= _MF_THRESHOLD).alias("keep"),
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256
_DSIR_TARGET_LANG = "en"
_DSIR_TOP = 25

_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang = '{_DSIR_TARGET_LANG}' AS is_t,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
big AS (
  SELECT a.doc_id, a.is_t,
         ('0x' || substr(md5(a.w || '|' || b.w), 1, 8))::BIGINT
           % {_DSIR_BUCKETS} AS bucket
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
per_db AS (
  SELECT doc_id, is_t, bucket, COUNT(*)::BIGINT AS n
  FROM big GROUP BY 1, 2, 3
),
btab AS (
  SELECT bucket,
         SUM(CASE WHEN is_t THEN n ELSE 0 END)::BIGINT AS ct,
         SUM(CASE WHEN NOT is_t THEN n ELSE 0 END)::BIGINT AS cr
  FROM per_db GROUP BY 1
),
tot AS (
  SELECT SUM(ct)::BIGINT AS t_tot, SUM(cr)::BIGINT AS r_tot FROM btab
),
w AS (
  SELECT bucket,
         (CAST(ROUND(LN(ct + 1) * 100000000, 0) AS BIGINT)
          - CAST(ROUND(LN(t_tot + {_DSIR_BUCKETS}) * 100000000, 0) AS BIGINT)
          - CAST(ROUND(LN(cr + 1) * 100000000, 0) AS BIGINT)
          + CAST(ROUND(LN(r_tot + {_DSIR_BUCKETS}) * 100000000, 0) AS BIGINT)
         ) AS wgt
  FROM btab CROSS JOIN tot
),
scored AS (
  SELECT p.doc_id, SUM(p.n * w.wgt)::BIGINT AS s, SUM(p.n)::BIGINT AS n_bigrams
  FROM per_db p JOIN w USING (bucket) GROUP BY 1
)
SELECT s.doc_id, d.lang, s.n_bigrams,
       ROUND(s.s / 100000000.0, 6) AS dsir_weight
FROM scored s JOIN documents d USING (doc_id)
ORDER BY s.s DESC, s.doc_id LIMIT {_DSIR_TOP}
"""


@register(
    "curation_dsir_importance",
    _DSIR_SQL,
    doc=(
        "DSIR importance resampling (Data Selection via Importance "
        "Resampling, Xie et al. 2023) — the published target-domain "
        "selection step beside the heuristic and learned filters: "
        "hashed word-bigram features (md5 % buckets), two smoothed "
        "bag-of-ngrams models (target = the '"
        + _DSIR_TARGET_LANG
        + "' slice, raw = the rest, add-1 over the bucket space), and "
        "per-document importance log-weight Σ n_f·(ln θ_t[f] − "
        "ln θ_r[f]). Every ln takes an INTEGER argument, so the "
        "1e-8 integer-ln device applies (the text_pmi_bigrams "
        "discipline): per-bucket weights are exact int64, the "
        "per-doc fold is an exact integer dot product, one division "
        "at emit. Scale: the bucket table is O(buckets) and "
        "broadcasts; scoring is the per-(doc,bucket) shuffle + one "
        "per-doc reduce; output is top-"
        f"{_DSIR_TOP} by weight (TakeOrdered, no global sort)"
    ),
)
def curation_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("lang") == _DSIR_TARGET_LANG).alias("is_t"),
        F.split(F.col("text"), " ").alias("t"),
    ).filter(F.size("t") >= 2)
    big = toks.select(
        "doc_id",
        "is_t",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (a, b) -> concat(a, '|', b))"
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        "is_t",
        (
            F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("bigint")
            % _DSIR_BUCKETS
        ).alias("bucket"),
    )
    per_db = big.groupBy("doc_id", "is_t", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    per_db = pin(per_db)  # consumers: bucket
    # table (model fit) + per-doc scoring
    btab = per_db.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_t"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("ct"),
        F.sum(F.when(~F.col("is_t"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("cr"),
    )
    tot = btab.agg(
        F.sum("ct").cast("bigint").alias("t_tot"),
        F.sum("cr").cast("bigint").alias("r_tot"),
    )

    w = btab.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            iln(F.col("ct") + 1)
            - iln(F.col("t_tot") + _DSIR_BUCKETS)
            - iln(F.col("cr") + 1)
            + iln(F.col("r_tot") + _DSIR_BUCKETS)
        ).alias("wgt"),
    )
    scored = (
        per_db.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("n") * F.col("wgt")).cast("bigint").alias("s"),
            F.sum("n").cast("bigint").alias("n_bigrams"),
        )
    )
    return (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(_DSIR_TOP)
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            dround(F.col("s") / 100000000.0, 6).alias("dsir_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination
# ---------------------------------------------------------------------------

_BLOOM_DECON_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(t) - {_DECON_N - 2}),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS g
  FROM t WHERE len(t) >= {_DECON_N}
),
bench AS (SELECT DISTINCT g FROM g WHERE doc_id % {_BENCH_MOD} = 0),
corpus AS (SELECT doc_id, g FROM g WHERE doc_id % {_BENCH_MOD} <> 0),
hits AS (
  SELECT c.doc_id, COUNT(*) AS n_hits
  FROM corpus c JOIN bench b ON c.g = b.g
  GROUP BY c.doc_id
)
SELECT (SELECT COUNT(*) FROM hits)::BIGINT AS n_flagged_docs,
       (SELECT COALESCE(SUM(n_hits), 0) FROM hits)::BIGINT AS total_hits,
       (SELECT COUNT(*) FROM corpus)::BIGINT AS total_corpus_grams
"""


@register(
    "curation_bloom_decontaminate",
    _BLOOM_DECON_SQL,
    doc=(
        "Bloom-prefiltered decontamination — the two-stage form of "
        "curation_decontaminate a 100 TB corpus actually runs: the "
        "benchmark's distinct 5-grams build an 8 KiB Bloom bitset "
        "(operators/sketch.py — expression-built, collect bounded at "
        "1024 longs no matter the eval-set size), every corpus gram "
        "is probed MAP-SIDE inside codegen (no join, no shuffle for "
        "the overwhelming non-candidate majority), and only Bloom "
        "survivors pay the exact gram join that removes false "
        "positives — so the flagged-doc set is EXACT and the oracle "
        "is the one-stage SQL aggregated. Versus the broadcast gram "
        "set, the bitset is size-independent: a 10M-gram eval suite "
        "broadcasts 8 KiB, not hundreds of MB. Summary output "
        "(flagged docs / hits / corpus grams) keeps the result "
        "corpus-bounded"
    ),
)
def curation_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch as SK
    from ..operators.dedup import word_shingles_col

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
    bench_grams = bench.select(
        F.explode(word_shingles_col(_DECON_N)).alias("g")
    ).distinct()
    corpus_grams = corpus.select(
        "doc_id", F.explode(word_shingles_col(_DECON_N)).alias("g")
    ).localCheckpoint(eager=False)
    words = SK.bloom_build(bench_grams, "g")
    cand = SK.bloom_might_contain(corpus_grams, "g", words)
    exact_hits = cand.join(F.broadcast(bench_grams), "g", "left_semi")
    hits = exact_hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        hits.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_flagged_docs"),
            F.coalesce(F.sum("n_hits"), F.lit(0))
            .cast("bigint")
            .alias("total_hits"),
        )
        .crossJoin(
            F.broadcast(
                corpus_grams.agg(
                    F.count(F.lit(1)).cast("bigint").alias("total_corpus_grams")
                )
            )
        )
    )
