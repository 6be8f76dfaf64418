"""LLM-training-data queries: dedup family, similarity search, text
analysis, multimodal plumbing (SURVEY.md §2.12) — each paired with a
DuckDB oracle generated from the SAME constants (hash seeds, LSH
planes, marker lists) as the Spark plan, so the two sides cannot
drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import LSH_DIM, LSH_PLANES, MINHASH_BAND_SIZE, MINHASH_SEEDS
from ..operators import dedup as D
from ..operators import multimodal as MM
from ..operators import similarity as SIM
from ..operators import text as TX
from ..operators.kmeans import LLOYD_ROUNDS
from ..session import pin, scratch_dir
from ..sources import load_table
from ..functions.rounding import dround
from .catalog import register

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

_EXACT_SQL = """
SELECT md5(text) AS fp, MIN(doc_id) AS kept_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


@register(
    "dedup_exact",
    _EXACT_SQL,
    doc="exact dedup: group on md5(text) (32-byte shuffle keys, not multi-KB docs), keep min doc_id",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("kept_id"), F.count(F.lit(1)).alias("n_copies")
    )


# ---------------------------------------------------------------------------
# Shared shingle CTE (word 3-grams, distinct per doc)
# ---------------------------------------------------------------------------

_SHINGLE_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM toks
)
"""

# stop-shingle cap: shingles shared by more docs than this are dropped
# before the quadratic pair expansion (mirrored in the oracle below)
_JACCARD_MAX_BUCKET = 1000

_JACCARD_SQL = f"""
WITH {_SHINGLE_CTE},
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
ok AS (SELECT shingle FROM sh GROUP BY shingle
       HAVING COUNT(*) <= {_JACCARD_MAX_BUCKET}),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN ok ON ok.shingle = a.shingle
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
)
SELECT a, b, ROUND(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = a
JOIN counts cb ON cb.doc_id = b
WHERE n_inter / (ca.n_sh + cb.n_sh - n_inter) >= 0.05
"""


@register(
    "dedup_ngram_jaccard",
    _JACCARD_SQL,
    doc=(
        "near-dup via word-3-gram Jaccard: shingle-bucket join + "
        "min-overlap prune, threshold 0.05; stop-shingle guard drops "
        "buckets shared by > 1000 docs before the quadratic pair "
        "expansion (logged, never silent — mirrored in the oracle), so "
        "one hot shingle cannot materialize O(N²) pairs in a single "
        "aggregate row at 100 TB"
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shingled = D.exploded_shingles(docs)
    pairs = D.pair_jaccard(shingled, min_overlap=3, max_bucket=_JACCARD_MAX_BUCKET)
    return pairs.filter(F.col("jaccard") >= 0.05).select(
        "a", "b", dround("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH candidates (verified with true Jaccard)
# ---------------------------------------------------------------------------


def _minhash_ctes(new_min: int | None = None) -> str:
    """The shared MinHash WITH-body: shingles → signatures → bands →
    guarded candidates → shingle counts → candidate intersections.
    Composed by _minhash_sql (the dedup query) and the estimator-error
    harness (dedup_minhash_estimate)."""
    n_bands = len(MINHASH_SEEDS) // MINHASH_BAND_SIZE
    hash_exprs = ",\n         ".join(
        f"MIN(md5('{i}|' || shingle)) AS h{i}" for i in MINHASH_SEEDS
    )
    band_rows = []
    for b in range(n_bands):
        cols = " || ',' || ".join(
            f"h{i}" for i in MINHASH_SEEDS[b * MINHASH_BAND_SIZE : (b + 1) * MINHASH_BAND_SIZE]
        )
        band_rows.append(f"SELECT doc_id, {b} AS band, {cols} AS band_hash FROM sig")
    bands_sql = "\nUNION ALL\n".join(band_rows)
    # incremental mode: only candidate pairs touching a NEW doc
    new_pred = (
        f"\n    AND (a.doc_id >= {new_min} OR b.doc_id >= {new_min})" if new_min else ""
    )
    return f"""{_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         {hash_exprs}
  FROM sh GROUP BY doc_id
),
bands AS (
{bands_sql}
),
bands_ok AS (
  SELECT band, band_hash FROM bands
  GROUP BY band, band_hash HAVING COUNT(*) <= {_JACCARD_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a
  JOIN bands_ok ok ON a.band = ok.band AND a.band_hash = ok.band_hash
  JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id{new_pred}
),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS n_inter
  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
  JOIN cand ON cand.a = s1.doc_id AND cand.b = s2.doc_id
  GROUP BY 1, 2
)"""


def _minhash_sql(new_min: int | None = None) -> str:
    return f"""
WITH {_minhash_ctes(new_min)}
SELECT a, b, ROUND(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = a
JOIN counts cb ON cb.doc_id = b
WHERE n_inter / (ca.n_sh + cb.n_sh - n_inter) >= 0.5
"""


def _verified_pairs(docs: DataFrame, candidates: DataFrame) -> DataFrame:
    """The LSH dedup queries' result: ``candidates`` of ``docs`` kept at
    true Jaccard >= 0.5, rounded to 6 places. Shared by
    dedup_minhash_lsh, dedup_incremental and the absorb step of
    stream_incremental_dedup."""
    return (
        D.verify_pairs(docs, candidates)
        .filter(F.col("jaccard") >= 0.5)
        .select("a", "b", dround("jaccard", 6).alias("jaccard"))
    )


@register(
    "dedup_minhash_lsh",
    _minhash_sql(),
    doc=(
        "MinHash(8 perms, md5 hex-string family)+LSH(2 bands×4) candidate "
        "pairs, verified at Jaccard>=0.5 — candidates meet via the band "
        "join only, never an all-pairs product; band buckets shared by "
        "> 1000 docs are dropped before pair expansion (logged, mirrored "
        "in the oracle), so mass-duplicated boilerplate cannot blow one "
        "aggregate row up to O(N²) pairs"
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signatures(D.exploded_shingles(docs))
    return _verified_pairs(docs, D.lsh_band_candidates(sig, max_bucket=_JACCARD_MAX_BUCKET))


# ---------------------------------------------------------------------------
# Incremental MinHash dedup: absorb a new batch against a standing corpus
# ---------------------------------------------------------------------------

_INC_NEW_MIN = 450  # docs with id >= this model the newly-arrived batch


@register(
    "dedup_incremental",
    _minhash_sql(new_min=_INC_NEW_MIN),
    doc=(
        "incremental-corpus dedup: a new batch (doc_id >= 450) is "
        "LSH-checked against the standing corpus WITHOUT re-pairing "
        "old×old (those pairs were verified when they arrived) — the "
        "new batch's band buckets broadcast against the corpus bands, "
        "so absorbing a batch costs O(batch), not O(corpus²); "
        "candidates verified at true Jaccard >= 0.5; hot band buckets "
        "(> 1000 members) are filtered before the bucket join (logged, "
        "oracle-mirrored)"
    ),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the signatures are read twice (the corpus bands and the new
    # slice), so they are pinned EAGERLY: a lazy checkpoint lets
    # parallel consumers race its first materialization and recompute
    # the shingle explode
    sig = pin(D.minhash_signatures(D.exploded_shingles(docs)))
    new_ids = docs.filter(F.col("doc_id") >= _INC_NEW_MIN).select("doc_id")
    # the new docs' bands come from a broadcast-restricted slice of the
    # signatures — O(batch), never a second corpus banding
    new_bands = D.band_buckets(sig.join(F.broadcast(new_ids), "doc_id", "left_semi"))
    candidates = D.lsh_incremental_candidates(
        D.band_buckets(sig), new_bands, max_bucket=_JACCARD_MAX_BUCKET
    )
    return _verified_pairs(docs, candidates)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_sql() -> str:
    sums = []
    for j in range(16):
        d, b = j // 4, j % 4
        sums.append(
            f"SUM(((('0x' || substr(hx, {1 + d}, 1))::INTEGER >> {b}) & 1) * 2 - 1) AS s{j}"
        )
    sum_exprs = ",\n         ".join(sums)
    combine = " + ".join(f"CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END" for j in range(16))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents
),
h AS (SELECT doc_id, md5(w) AS hx FROM tok),
sums AS (
  SELECT doc_id,
         {sum_exprs}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM sums
"""


@register(
    "dedup_simhash",
    _simhash_sql(),
    doc="16-bit SimHash over distinct tokens (md5-derived bits, pure integer expression tree)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash16(docs)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs
# ---------------------------------------------------------------------------

# The synthetic embeddings are near-orthogonal (no >=0.95-cosine pair
# exists at any sf), so a near-dup query over the raw table verifies
# vacuously — 0 rows matching 0 rows proves nothing about the cosine or
# LSH math (VERDICT r3 item 2). Both engines therefore append the SAME
# deterministic near-duplicate vectors derived from existing rows
# before pairing: every STRIDE-th vector is copied with a tiny per-dim
# perturbation (0.001 · ((src_id + dim) % 7 - 3), ‖δ‖ ≈ 0.016 on unit
# vectors → cosine ≈ 0.9999 with its source). The augmentation is part
# of the query contract (the _PII_AUG pattern, queries_curation.py);
# the operators under test are banded_lsh_pairs / kmeans / the exact-
# cosine verify.
_EMB_AUG_STRIDE = 50
_EMB_AUG_OFFSET = 100000
_EMB_DIM = 64


def _emb_aug_sql(vec_alias: str = "v") -> str:
    """DuckDB CTE body for the augmented embedding set:
    (vec_id, {vec_alias}: DOUBLE[]) = base table ∪ derived near-dups.
    Same float op order as _emb_augmented (cast → int delta → 0.001·δ
    product → add), so the vectors are bit-identical across engines."""
    return (
        f"SELECT vec_id, embedding::DOUBLE[] AS {vec_alias} FROM embeddings\n"
        f"  UNION ALL\n"
        f"  SELECT src + {_EMB_AUG_OFFSET} AS vec_id,\n"
        f"         list_transform(range(1, {_EMB_DIM + 1}),\n"
        f"                        i -> CAST(embedding[i] AS DOUBLE)\n"
        f"                             + 0.001 * ((src + i - 1) % 7 - 3)) AS {vec_alias}\n"
        f"  FROM (SELECT vec_id AS src, embedding FROM embeddings\n"
        f"        WHERE vec_id % {_EMB_AUG_STRIDE} = 0)"
    )


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v): every embedding as an array<double>."""
    return load_table(spark, sf_dir, "embeddings").select("vec_id", SIM.as_double_vec())


def _emb_augmented(emb: DataFrame) -> DataFrame:
    """Spark side of _emb_aug_sql. `emb`: (vec_id, v: array<double>).

    The source id is renamed to ``src`` BEFORE the output ``vec_id``
    alias exists (same subquery structure as the SQL): with a single
    select, the analyzer resolves the ``vec_id`` inside the transform
    lambda against the already-aliased output column (src + offset),
    silently shifting the delta pattern by offset % 7."""
    base = emb.filter(F.col("vec_id") % _EMB_AUG_STRIDE == 0).select(
        F.col("vec_id").alias("src"), "v"
    )
    aug = base.select(
        (F.col("src") + _EMB_AUG_OFFSET).alias("vec_id"),
        F.transform(
            "v", lambda x, i: x + F.lit(0.001) * ((F.col("src") + i) % 7 - 3)
        ).alias("v"),
    )
    return emb.unionByName(aug)


def _emb_neardup_sql() -> str:
    """Banded sign-LSH candidates + exact-cosine verify, generated from
    the SAME plane constants as the Spark plan (functions/hashing.py)."""
    from ..functions.hashing import lsh_planes

    n_bands, band_size = SIM.NEARDUP_BANDS, SIM.NEARDUP_BAND_PLANES
    planes = lsh_planes(n_planes=n_bands * band_size)

    def plane_literal(plane: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"

    band_hash = []
    for b in range(n_bands):
        terms = " + ".join(
            f"CASE WHEN list_dot_product(v, {plane_literal(planes[b * band_size + p])}) > 0"
            f" THEN {2 ** (band_size - 1 - p)} ELSE 0 END"
            for p in range(band_size)
        )
        band_hash.append(f"({terms}) AS h{b}")
    hashes = ",\n         ".join(band_hash)
    band_rows = "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS band, h{b} AS h FROM eb" for b in range(n_bands)
    )
    return f"""
WITH e AS (
  {_emb_aug_sql("v")}
),
eb AS (
  SELECT vec_id, v,
         {hashes}
  FROM e
),
bands AS (
{band_rows}
),
bands_ok AS (
  SELECT band, h FROM bands GROUP BY band, h HAVING COUNT(*) <= {_JACCARD_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
  FROM bands a
  JOIN bands_ok ok ON a.band = ok.band AND a.h = ok.h
  JOIN bands b ON a.band = b.band AND a.h = b.h AND a.vec_id < b.vec_id
)
SELECT cand.a, cand.b,
       ROUND(list_dot_product(ea.v, eb2.v)
             / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb2.v, eb2.v))), 6) AS cos
FROM cand
JOIN e ea  ON ea.vec_id  = cand.a
JOIN e eb2 ON eb2.vec_id = cand.b
WHERE list_dot_product(ea.v, eb2.v)
      / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb2.v, eb2.v))) >= 0.95
"""


@register(
    "dedup_embedding_cosine",
    _emb_neardup_sql(),
    doc=(
        "embedding-cosine near-dup pairs (>=0.95) via banded sign-LSH: "
        "8 bands × 8 hyperplanes, candidates collide in ANY band "
        "(OR-amplification — ~99% recall at cos 0.95, stated contract), "
        "exact cosine verifies candidates only. No all-pairs product "
        "anywhere; hot band buckets (> 1000 members) drop before pair "
        "expansion, oracle-mirrored. Runs over the deterministic "
        "near-dup fixture augmentation (_emb_aug_sql, both engines) so "
        "the >=0.95 pairs actually exist and the hash check is "
        "non-vacuous"
    ),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_augmented(_vectors(spark, sf_dir))
    cand = SIM.banded_lsh_pairs(emb, max_bucket=_JACCARD_MAX_BUCKET)
    # norms once per side (n arrays), not per pair — value identical
    a = emb.select(F.col("vec_id").alias("a"), F.col("v").alias("va"), SIM.norm("v").alias("na"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"), SIM.norm("v").alias("nb"))
    pairs = cand.join(a, "a").join(b, "b")
    cos = SIM.dot("va", "vb") / (F.col("na") * F.col("nb"))
    return pairs.filter(cos >= 0.95).select("a", "b", dround(cos, 6).alias("cos"))


# ---------------------------------------------------------------------------
# Similarity search: brute-force top-k and sign-LSH ANN
# ---------------------------------------------------------------------------

_TOPK_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
s AS (
  SELECT q.q_id, c.vec_id AS c_id,
         ROUND(list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
  FROM q, e c WHERE c.vec_id <> q.q_id
),
r AS (SELECT q_id, c_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
      FROM s)
SELECT q_id, c_id, cos, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 5
"""


@register(
    "sim_cosine_topk",
    _TOPK_SQL,
    doc="brute-force cosine top-5 for 8 query vectors (broadcast queries, JVM zip_with/aggregate dot)",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    vectors = emb.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    out = SIM.brute_force_topk(vectors, queries, k=5)
    return out.select("q_id", "c_id", "cos", F.col("rnk").cast("long").alias("rnk"))


def _ann_sql() -> str:
    def plane_literal(plane: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"

    bucket_terms = " + ".join(
        f"CASE WHEN list_dot_product(v, {plane_literal(p)}) > 0 THEN {2**j} ELSE 0 END"
        for j, p in enumerate(LSH_PLANES)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
eb AS (SELECT vec_id, v, {bucket_terms} AS bucket FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM eb WHERE vec_id < 8),
s AS (
  SELECT q.q_id, c.vec_id AS c_id,
         ROUND(list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
  FROM q JOIN eb c ON q.bucket = c.bucket AND c.vec_id <> q.q_id
),
r AS (SELECT q_id, c_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
      FROM s)
SELECT q_id, c_id, cos, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3
"""


@register(
    "sim_ann_lsh",
    _ann_sql(),
    doc=(
        "ANN via sign-LSH: 8 integer-derived hyperplanes bucket the "
        "vectors; exact cosine only within buckets (the 100 TB scale "
        "path — bucket join, no all-pairs)"
    ),
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    vectors = emb.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    out = SIM.lsh_topk(vectors, queries)
    return out.select("q_id", "c_id", "cos", F.col("rnk").cast("long").alias("rnk"))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _langid_sql_parts() -> tuple[str, str]:
    """(marker-count select exprs, priority CASE branches) — the ONE
    SQL rendering of TX.lang_id's rule set, shared by text_metrics and
    stats_cohens_kappa so the heuristic cannot fork."""
    count_exprs = []
    for lang, markers in TX.LANG_MARKERS.items():
        ors = " OR ".join(f"x = '{m}'" for m in markers)
        count_exprs.append(
            f"len(list_filter(string_split(text, ' '), x -> {ors})) AS {lang}_n"
        )
    counts = ",\n         ".join(count_exprs)
    branches = []
    for i, lang in enumerate(TX.LANG_PRIORITY):
        conds = [f"{lang}_n > 0"]
        conds += [f"{lang}_n >= {o}_n" for o in TX.LANG_PRIORITY[i + 1 :]]
        conds += [f"{lang}_n > {o}_n" for o in TX.LANG_PRIORITY[:i]]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "\n            ".join(branches)
    return counts, case


def _metrics_sql() -> str:
    counts, case = _langid_sql_parts()
    return f"""
WITH feats AS (
  SELECT doc_id, lang, text,
         len(regexp_extract_all(text, '{TX.CJK_PATTERN}')) AS cjk_n,
         {counts},
         len(string_split(text, ' '))                          AS n_tokens,
         length(text)                                          AS n_chars_m,
         length(replace(text, ' ', ''))                        AS nonspace,
         len(regexp_extract_all(text, '[.,!?;:]'))             AS punct_n,
         len(regexp_extract_all(text, '{TX.BPE_PATTERN}'))     AS bpe_n
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN cjk_n > 0 THEN 'zh'
            {case}
            ELSE 'und' END AS pred_lang,
       CAST(n_tokens AS BIGINT)              AS n_tokens,
       CAST(n_chars_m AS BIGINT)             AS n_chars_m,
       ROUND(nonspace / n_tokens, 4)         AS avg_token_len,
       ROUND(punct_n / n_chars_m, 6)         AS punct_ratio,
       ROUND(en_n / n_tokens, 6)             AS stopword_ratio,
       ROUND(least(n_tokens / 100.0, 1.0) * 0.5
             + (en_n / n_tokens) * 0.3
             + greatest(0.0, 1.0 - punct_n / n_tokens) * 0.2, 4) AS quality_score,
       CAST(bpe_n AS BIGINT)                 AS bpe_tokens,
       substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))), 1, 16) AS fp
FROM feats
"""


@register(
    "text_metrics",
    _metrics_sql(),
    doc=(
        "per-document text analysis in ONE scan: rule-based language ID "
        "(CJK → zh, else marker-stopword argmax with fixed tie-break), "
        "length/punctuation/stopword quality features + linear score, "
        "BPE-ish token count, and md5-prefix fingerprint — all codegen "
        "expressions, no UDFs; at 100 TB one pass over the corpus "
        "instead of four (absorbs round-1 text_langid + text_quality + "
        "text_fingerprint; per-source corpus accounting stays in "
        "text_token_counts)"
    ),
)
def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = TX.fingerprint(TX.token_counts(TX.quality_features(TX.lang_id(docs))))
    return out.select(
        "doc_id",
        "lang",
        "pred_lang",
        "n_tokens",
        "n_chars_m",
        "avg_token_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
        "bpe_tokens",
        "fp",
    )


_WINNOW_CTES = f"""base AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t,
         len(string_split(lower(text), ' ')) - {TX.WINNOW_K} + 1 AS npos
  FROM documents
),
grams AS (
  SELECT doc_id, npos, unnest(generate_series(1, npos)) AS pos, t
  FROM base WHERE npos >= {TX.WINNOW_W}
),
enc AS (
  SELECT doc_id, npos, pos,
         md5(array_to_string(t[pos : pos + {TX.WINNOW_K} - 1], ' '))
           || lpad(CAST(100000000 - pos AS VARCHAR), 8, '0') AS enc
  FROM grams
),
wins AS (
  SELECT doc_id, npos, pos,
         min(enc) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {TX.WINNOW_W - 1} FOLLOWING) AS wmin
  FROM enc
)"""

_WINNOW_SQL = f"""
WITH {_WINNOW_CTES},
fps AS (
  SELECT DISTINCT doc_id, npos, wmin FROM wins WHERE pos <= npos - {TX.WINNOW_W - 1}
)
SELECT doc_id,
       CAST(any_value(npos) AS BIGINT) AS n_grams,
       COUNT(*) AS n_fp,
       MIN(substr(wmin, 1, 32)) AS min_fp,
       CAST(SUM(('0x' || substr(wmin, 1, 12))::BIGINT) AS BIGINT) AS fp_checksum
FROM fps GROUP BY doc_id
"""


@register(
    "text_winnow_fingerprint",
    _WINNOW_SQL,
    doc=(
        "winnowing fingerprint selection (Schleimer et al., MOSS): "
        "md5 per token-3-gram, per-window-of-4 minimum with "
        "rightmost-tie rule (hash||reversed-pos encoding makes "
        "lexicographic min = arg-rightmost-min, no arg_min window "
        "primitive needed). Guarantees a shared fingerprint for any "
        "6-token overlap while keeping ~2/(w+1) of the hashes — the "
        "position-robust fingerprint family between one-md5-per-doc "
        "(text_metrics) and all-shingles (MinHash). Entirely map-only "
        "— the slide/min/distinct/summarize all run as per-row array "
        "expressions, zero exchanges (plan-gated); the oracle keeps "
        "the equivalent explode+window formulation as the independent "
        "semantic witness"
    ),
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.winnow_fingerprints(docs)


_WINNOW_PAIR_MIN_SHARED = 2
_WINNOW_PAIR_MAX_BUCKET = 1000

_WINNOW_PAIRS_SQL = f"""
WITH {_WINNOW_CTES},
fps AS (
  SELECT DISTINCT doc_id, substr(wmin, 1, 32) AS fp
  FROM wins WHERE pos <= npos - {TX.WINNOW_W - 1}
),
bsz AS (SELECT fp, COUNT(*) AS n FROM fps GROUP BY fp),
ok AS (SELECT fp FROM bsz WHERE n BETWEEN 2 AND {_WINNOW_PAIR_MAX_BUCKET}),
pairs AS (
  SELECT f1.doc_id AS a, f2.doc_id AS b
  FROM fps f1 JOIN ok USING (fp) JOIN fps f2 USING (fp)
  WHERE f1.doc_id < f2.doc_id
)
SELECT a, b, COUNT(*) AS n_shared
FROM pairs GROUP BY a, b HAVING COUNT(*) >= {_WINNOW_PAIR_MIN_SHARED}
"""


@register(
    "dedup_winnow_pairs",
    _WINNOW_PAIRS_SQL,
    doc=(
        "winnowing-based candidate pairs: docs sharing >= 2 selected "
        "fingerprint hashes (position stripped) meet through the "
        "fingerprint posting list — the overlap-detection path MOSS "
        "uses, a ~(w+1)/2-fold cheaper posting set than all-shingles "
        "Jaccard. Pairs expand through the guarded single-aggregation "
        "_bucket_pairs (hot fingerprints shared by > 1000 docs drop "
        "before expansion, logged, oracle-mirrored); a full pipeline "
        "composes verify_pairs verification exactly as "
        "dedup_minhash_lsh does"
    ),
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rows = TX.winnow_fp_rows(docs).withColumnRenamed("fp", "bucket")
    pairs = D._bucket_pairs(rows, "doc_id", max_bucket=_WINNOW_PAIR_MAX_BUCKET)
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_PAIR_MIN_SHARED)
    )


_TOKENS_SQL = f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '{TX.BPE_PATTERN}'))) AS BIGINT) AS bpe_tokens
FROM documents
GROUP BY source
"""


@register(
    "text_token_counts",
    _TOKENS_SQL,
    doc="corpus token accounting per source: whitespace tokens + BPE-ish regex tokens",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        TX.token_counts(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").alias("ws_tokens"),
            F.sum("bpe_tokens").alias("bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

_MM_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       substr(hex(encode(text)), 1, 16)           AS head_hex,
       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width
FROM documents
"""


@register(
    "multimodal_features",
    _MM_SQL,
    doc=(
        "multimodal plumbing: binary payload column + Arrow-batched "
        "mapInPandas feature extraction (decode stubbed deterministically; "
        "schema/batching/partitioning are the real thing)"
    ),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return MM.extract_features(MM.documents_as_binary(docs))


_IVF_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cell, v AS ce FROM e WHERE vec_id < 8),
va AS (
  SELECT vec_id AS c_id, v AS cv, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY ROUND(list_dot_product(v, ce), 6) DESC, cell) AS rn
  FROM e, cent
),
cells AS (SELECT c_id, cv, cell FROM va WHERE rn = 1),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 8 AND vec_id < 16),
qp AS (
  SELECT q_id, qv, cell,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY ROUND(list_dot_product(qv, ce), 6) DESC, cell) AS rn
  FROM q, cent
),
probes AS (SELECT q_id, qv, cell FROM qp WHERE rn <= 2),
s AS (
  SELECT p.q_id, m.c_id,
         ROUND(list_dot_product(p.qv, m.cv)
               / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(m.cv, m.cv))), 6) AS cos
  FROM probes p JOIN cells m ON p.cell = m.cell AND m.c_id <> p.q_id
),
r AS (SELECT q_id, c_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
      FROM s)
SELECT q_id, c_id, cos, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3
"""


@register(
    "sim_ann_ivf",
    _IVF_SQL,
    doc=(
        "ANN via IVF: deterministic coarse quantizer (8 centroid "
        "vectors, broadcast), cell assignment at 'write time', queries "
        "probe nprobe=2 cells — the inverted-file scale path; recall "
        "tunes with nprobe"
    ),
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _vectors(spark, sf_dir)
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("ce")
    )
    queries = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    vectors = emb.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    out = SIM.ivf_topk(vectors, queries, centroids)
    return out.select("q_id", "c_id", "cos", F.col("rnk").cast("long").alias("rnk"))


_FRAMES_SQL = """
WITH p AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
),
idx AS (SELECT unnest(range(4)) AS frame_idx),
f AS (
  SELECT doc_id, frame_idx,
         substr(h, CAST(frame_idx * 512 + 1 AS BIGINT), 128) AS frame_hex
  FROM p, idx
  WHERE frame_idx * 256 < n
)
SELECT doc_id,
       CAST(frame_idx AS BIGINT)           AS frame_idx,
       CAST(length(frame_hex) / 2 AS BIGINT) AS frame_len,
       frame_hex
FROM f
"""


@register(
    "multimodal_frames",
    _FRAMES_SQL,
    doc=(
        "frame sampling over binary payloads (video-keyframe analog): "
        "Arrow mapInPandas, 1→N row fan-out inside the batch iterator, "
        "binary in/out, zero shuffle; sampler is the deterministic "
        "stand-in for the stubbed decoder"
    ),
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    frames = MM.sample_frames(MM.documents_as_binary(docs))
    return frames.select(
        "doc_id",
        "frame_idx",
        "frame_len",
        F.hex(F.col("frame")).alias("frame_hex"),
    )


@register(
    "sim_ann_index_scan",
    _IVF_SQL,
    doc=(
        "the IVF index as a STORED ARTIFACT: cell assignment runs at "
        "write time and lands in a parquet index PARTITIONED BY cell; "
        "the query side then reads back ONLY the probed cells via "
        "partition pruning (PartitionFilters, plan-gated) — at "
        "billion-vector scale this is the difference between scanning "
        "nprobe/|cells| of the index and scanning all of it. The "
        "probed-cell list is a bounded driver collect (<= nprobe x "
        "|queries| values). Same oracle as sim_ann_ivf: the stored-"
        "index path must return bit-identical results to the in-query "
        "assignment path"
    ),
)
def sim_ann_index_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _vectors(spark, sf_dir)
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("ce")
    )
    vectors = emb.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    # write time: assign cells, persist the index partitioned by cell
    va = SIM.ivf_assign(vectors, centroids, "c_id", "cv", nprobe=1)
    d = scratch_dir(spark, "sim_ann_index_scan")
    va.write.mode("overwrite").partitionBy("cell").parquet(d)
    idx = spark.read.parquet(d)
    # query time: probe cells, scan ONLY their partitions
    queries = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    qa = SIM.ivf_assign(queries, centroids, "q_id", "qv", nprobe=2).withColumn(
        "qn", SIM.norm("qv")
    )
    cells = [r.cell for r in qa.select("cell").distinct().collect()]  # <= nprobe*|q|
    pruned = idx.filter(F.col("cell").isin(cells)).withColumn("cn", SIM.norm("cv"))
    pairs = pruned.join(F.broadcast(qa), "cell").filter(F.col("c_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        dround(SIM.dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6).alias("cos"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    out = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)
    return out.select("q_id", "c_id", "cos", F.col("rnk").cast("long").alias("rnk"))


# ---------------------------------------------------------------------------
# PQ ANN: product quantization with asymmetric distance computation
# ---------------------------------------------------------------------------

_PQ_L2 = (
    "CAST(ROUND(ROUND(list_sum(list_transform(range(1, 9), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6) * 1e6, 0) AS BIGINT)"
)

_PQ_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
coded AS (
  SELECT vec_id, v, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)
),
cb AS (
  SELECT CAST(t.m AS INTEGER) AS m, code, v[t.m*8+1 : t.m*8+8] AS sub
  FROM coded, range(8) t(m)
),
sub AS (
  SELECT vec_id AS c_id, CAST(t.m AS INTEGER) AS m, v[t.m*8+1 : t.m*8+8] AS vsub
  FROM e, range(8) t(m)
),
escored AS (
  SELECT c_id, s.m, cb.code, {_PQ_L2.format(a='s.vsub', b='cb.sub')} AS d
  FROM sub s JOIN cb ON s.m = cb.m
),
enc AS (
  SELECT c_id, m, code FROM (
    SELECT c_id, m, code, ROW_NUMBER() OVER (PARTITION BY c_id, m ORDER BY d, code) AS rn
    FROM escored) t WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 16 AND vec_id < 24),
qsub AS (
  SELECT q_id, CAST(t.m AS INTEGER) AS m, qv[t.m*8+1 : t.m*8+8] AS qs
  FROM q, range(8) t(m)
),
dtable AS (
  SELECT q_id, s.m, cb.code, {_PQ_L2.format(a='s.qs', b='cb.sub')} AS pd
  FROM qsub s JOIN cb ON s.m = cb.m
),
scored AS (
  SELECT d.q_id, e2.c_id, SUM(d.pd) AS adist
  FROM enc e2 JOIN dtable d ON e2.m = d.m AND e2.code = d.code
  WHERE e2.c_id <> d.q_id
  GROUP BY 1, 2
),
r AS (SELECT q_id, c_id, adist,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rnk
      FROM scored)
SELECT q_id, c_id, ROUND(adist / 1e6, 6) AS adist, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 3
"""


@register(
    "sim_ann_pq",
    _PQ_SQL,
    doc=(
        "PQ ANN (asymmetric distance computation): 64-dim vectors "
        "compressed to 8 one-byte codes against deterministic per-"
        "subspace codebooks (write-time, map-only — 32× compression); "
        "each query broadcasts an 8×16 partial-distance table and the "
        "approximate distance is an exact integer SUM of table lookups "
        "— candidate vectors are never touched at query time. Fixed-"
        "point distances make the oracle reproduce ADC bit-for-bit"
    ),
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _vectors(spark, sf_dir)
    vectors = emb.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    queries = emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 24)).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    return SIM.pq_adc_topk(vectors, queries, k=3)


# ---------------------------------------------------------------------------
# Dedup clustering: connected components over the near-dup pair graph
# ---------------------------------------------------------------------------

# shared CTE prefix: pair graph -> transitive closure -> per-doc
# component label; dedup_components reads it straight, and
# dedup_keep_canonical picks one representative doc per component
_COMPONENTS_CTE = f"""
WITH RECURSIVE {_SHINGLE_CTE},
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
ok AS (SELECT shingle FROM sh GROUP BY shingle
       HAVING COUNT(*) <= {_JACCARD_MAX_BUCKET}),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN ok ON ok.shingle = a.shingle
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
pairs AS (
  SELECT a, b FROM inter
  JOIN counts ca ON ca.doc_id = a
  JOIN counts cb ON cb.doc_id = b
  WHERE n_inter / (ca.n_sh + cb.n_sh - n_inter) >= 0.05
),
sym AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach AS (
  SELECT src AS node, dst AS r FROM sym
  UNION
  SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src
),
comp AS (
  SELECT d.doc_id,
         LEAST(d.doc_id, COALESCE(MIN(reach.r), d.doc_id)) AS component
  FROM documents d LEFT JOIN reach ON reach.node = d.doc_id
  GROUP BY d.doc_id
)"""

_COMPONENTS_SQL = f"""{_COMPONENTS_CTE}
SELECT doc_id, component, doc_id = component AS is_canonical FROM comp
"""

_KEEP_CANONICAL_SQL = f"""{_COMPONENTS_CTE},
ranked AS (
  SELECT c.doc_id, c.component, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT doc_id, component, n_chars FROM ranked WHERE rn = 1
"""


def components_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, component) over the jaccard>=0.05 pair graph — THE dedup
    clustering frame, shared by dedup_components (the full map) and
    queries_quality.curation_dedup_report (its one-row summary) so the
    0.05 / min_overlap=3 / hot-bucket thresholds live in exactly one
    place; the SQL twins share _COMPONENTS_CTE the same way."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    # lazy localCheckpoint: see dedup_components' measured rationale
    shingled = D.exploded_shingles(docs).localCheckpoint(eager=False)
    pairs = (
        D.pair_jaccard(shingled, min_overlap=3, max_bucket=_JACCARD_MAX_BUCKET)
        .filter(F.col("jaccard") >= 0.05)
        .select("a", "b")
    )
    # a doc on no pair is its own component. A union, not a left join:
    # Catalyst sizes an outer join as the product of its inputs, so
    # sample_negatives' two joins onto this frame would plan as
    # sort-merge and AQE would run both shuffle stages (two jobs)
    # before switching to broadcast; a union is sized as the sum.
    comp = connected_components(pairs)
    ids = docs.select(F.col("doc_id").alias("id"))
    return comp.unionByName(
        ids.join(comp, "id", "left_anti").select("id", F.col("id").alias("component"))
    )


@register(
    "dedup_components",
    _COMPONENTS_SQL,
    doc=(
        "dedup clustering: connected components over the jaccard>=0.05 "
        "pair graph (operators/graph.py, one NumPy union-find task over the "
        "kept pair edges); component = min reachable "
        "doc_id, canonical doc = component representative; the pair "
        "graph is built through the SAME stop-shingle guard as "
        "dedup_ngram_jaccard (buckets > 1000 docs dropped pre-expansion, "
        "oracle-mirrored). Oracle: DuckDB recursive-CTE transitive "
        "closure"
    ),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = components_frame(spark, sf_dir)
    return comp.select(
        F.col("id").alias("doc_id"),
        "component",
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


@register(
    "dedup_keep_canonical",
    _KEEP_CANONICAL_SQL,
    doc=(
        "the dedup END PRODUCT: near-dup clusters collapse to ONE "
        "surviving document each — the longest (max n_chars, ties to "
        "min doc_id), the keep-the-most-complete-version policy; "
        "composes dedup_components' cluster labels with a per-component "
        "ranking window (one exchange on the component key — components "
        "are tiny, so no skew), singleton docs survive as their own "
        "component. Output IS the cleaned-corpus doc list"
    ),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # recomputes dedup_components wholesale BY DESIGN: the driver and
    # bench time each catalog query independently, so sharing state here
    # would let one query's cache subsidize the other's record. A caller
    # running both in one session should localCheckpoint(eager=False)
    # the components frame and pass it to both consumers.
    comp = dedup_components(spark, sf_dir).select("doc_id", "component")
    w = W.partitionBy("component").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        comp.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "component", "n_chars")
    )


_SPLIT_RATE = 0.9


def _split_sql() -> str:
    from .queries_profile import _hex_threshold

    return f"""{_COMPONENTS_CTE}
SELECT doc_id, component,
       CASE WHEN substr(md5('split|' || CAST(component AS VARCHAR)), 1, 8)
                 < '{_hex_threshold(_SPLIT_RATE)}'
            THEN 'train' ELSE 'holdout' END AS split
FROM comp
"""


@register(
    "split_leakage_safe",
    _split_sql(),
    doc=(
        "leakage-safe train/holdout split: the deterministic md5 "
        "hash-threshold split keyed on the near-dup COMPONENT id, not "
        "the doc id — every near-duplicate cluster lands wholly on one "
        "side, so holdout rows can never have a near-copy in train "
        "(the split-leakage failure mode of hashing raw doc ids). "
        "Composes dedup_components' cluster labels with a map-only "
        "split expression; no RNG, reproducible on any cluster size. "
        "Cluster-coherence is pinned by test (no component straddles "
        "splits) and the train fraction tracks the 0.9 rate"
    ),
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_profile import _hex_threshold

    comp = dedup_components(spark, sf_dir).select("doc_id", "component")
    frac = F.substring(
        F.md5(F.concat(F.lit("split|"), F.col("component").cast("string"))), 1, 8
    )
    split = (
        F.when(frac < F.lit(_hex_threshold(_SPLIT_RATE)), F.lit("train"))
        .otherwise(F.lit("holdout"))
    )
    return comp.select("doc_id", "component", split.alias("split"))


# ---------------------------------------------------------------------------
# Distributed k-means over embeddings (Lloyd's, unrolled-SQL oracle)
# ---------------------------------------------------------------------------


# kmeans_embeddings and dedup_semantic cluster into the same 8 cells;
# their oracles unroll the operator's own LLOYD_ROUNDS.
_KMEANS_K = 8


def _kmeans_ctes(src: str = "embeddings") -> str:
    """Unroll LLOYD_ROUNDS Lloyd rounds as chained CTEs — computes the same
    rounded distances/centroids as operators/kmeans.py. Ends with
    `asg AS (SELECT vec_id, cluster, rd ...)`, the final assignment,
    so downstream oracles (kmeans_embeddings, dedup_semantic) build on
    the cluster labels. ``src`` names the (vec_id, embedding) relation
    to cluster — dedup_semantic points it at the augmented CTE."""
    diff = "(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])"
    dist = f"list_sum(list_transform(range(1, {LSH_DIM + 1}), i -> {diff} * {diff}))"
    parts = [
        f"""c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 6)) AS cvec
  FROM (SELECT vec_id, embedding FROM {src} ORDER BY vec_id LIMIT {_KMEANS_K})
)"""
    ]
    for t in range(LLOYD_ROUNDS):
        parts.append(
            f"""d{t} AS (
  SELECT e.vec_id, e.embedding, c.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ROUND({dist}, 6), c.cid) AS rn
  FROM {src} e CROSS JOIN c{t} c
),
a{t} AS (SELECT vec_id, embedding, cid AS cluster FROM d{t} WHERE rn = 1),
u{t} AS (
  SELECT cluster, i, AVG(CAST(embedding[i + 1] AS DOUBLE)) AS m
  FROM a{t}, range({LSH_DIM}) t(i) GROUP BY cluster, i
),
c{t + 1} AS (SELECT cluster AS cid, list(ROUND(m, 6) ORDER BY i) AS cvec
             FROM u{t} GROUP BY cluster)"""
        )
    parts.append(
        f"""df AS (
  SELECT e.vec_id, c.cid, ROUND({dist}, 6) AS rd,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ROUND({dist}, 6), c.cid) AS rn
  FROM {src} e CROSS JOIN c{LLOYD_ROUNDS} c
),
asg AS (SELECT vec_id, cid AS cluster, rd FROM df WHERE rn = 1)"""
    )
    return ",\n".join(parts)


_KMEANS_SQL = "WITH " + _kmeans_ctes() + "\nSELECT vec_id, cluster, rd FROM asg"


@register(
    "kmeans_embeddings",
    _KMEANS_SQL,
    doc=(
        "distributed k-means (operators/kmeans.py): centroids live on "
        "the driver and enter the plan as literal arrays, so assignment "
        "is map-only (zero shuffle); the update is one (cluster, dim)-"
        "keyed partial-aggregated shuffle; distances/centroids rounded "
        "to 6 decimals so the unrolled DuckDB oracle matches exactly"
    ),
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import kmeans_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assignments(emb, k=_KMEANS_K)


# ---------------------------------------------------------------------------
# Substring-level dedup stats (rolling-window fingerprints)
# ---------------------------------------------------------------------------

# The synthetic corpus has no cross-document substrings, so both
# engines append the SAME 16-token license block to every 5th doc
# before fingerprinting (the _PII_AUG contract pattern). APPENDED, not
# prepended: its start offset varies per doc, which is exactly the
# non-aligned case segment/line dedup misses and rolling windows catch
# — the window grid is doc-relative, so the block still produces at
# least one shared full window per doc when padded to alignment; we
# pad each doc to a multiple of the 8-token stride first so the
# appended block lands on the window grid of every carrier doc.
_SUBSTR_BOILER = (
    "this work is licensed under a creative commons attribution "
    "international license see full terms for details"
)
assert len(_SUBSTR_BOILER.split(" ")) == 16  # must fill one full window
def _substr_aug_sql(ntok: str) -> str:
    """Augmentation expression: text padded with 'pad' tokens to a
    multiple of the 8-token stride, then the 16-token license block
    appended. ``ntok`` is the dialect's token-count expression — the
    ONLY part that differs between Spark SQL (size(split(...))) and
    DuckDB (len(string_split(...))); everything else is common, so the
    two sides stay value-identical."""
    return (
        "CASE WHEN doc_id % 5 = 0 THEN text || ' ' || "
        f"repeat('pad ', CAST((8 - {ntok} % 8) % 8 AS INT))"
        f" || '{_SUBSTR_BOILER}' ELSE text END"
    )


_SUBSTR_AUG_SPARK = _substr_aug_sql("size(split(text, ' '))")
_SUBSTR_AUG_DUCK = _substr_aug_sql("len(string_split(text, ' '))")


@register(
    "dedup_substring",
    f"""
WITH aug AS (SELECT doc_id, {_SUBSTR_AUG_DUCK} AS text FROM documents),
t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM aug),
w AS (
  SELECT doc_id, toks,
         unnest(range(CAST(CASE WHEN n >= 16
                                THEN FLOOR((n - 16) / 8.0) + 1
                                ELSE 0 END AS BIGINT))) AS wi
  FROM t
),
wins AS (
  SELECT doc_id,
         md5(array_to_string(toks[CAST(wi * 8 + 1 AS BIGINT)
                                  : CAST(wi * 8 + 16 AS BIGINT)], ' ')) AS fp
  FROM w
),
hot AS (SELECT fp FROM wins GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
per AS (
  SELECT wins.doc_id, COUNT(*) AS n_windows,
         SUM(CASE WHEN hot.fp IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
  FROM wins LEFT JOIN hot ON hot.fp = wins.fp
  GROUP BY wins.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(per.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(per.n_dup, 0) AS BIGINT) AS n_dup,
       ROUND(CASE WHEN per.n_windows > 0 THEN per.n_dup / per.n_windows
                  ELSE 0.0 END, 6) AS dup_frac
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
""",
    doc=(
        "substring-level duplication stats (Lee-et-al exact-substring "
        "dedup, rolling-window approximation): 16-token windows at "
        "stride 8, windows shared by >= 2 DISTINCT docs flagged — the "
        "cross-document duplicated-span signal that line/segment dedup "
        "misses when boilerplate is not segment-aligned; window "
        "explode shuffles md5 keys, the duplicated-fingerprint set is "
        "distinct-doc-counted once and broadcast back. Runs over a "
        "deterministic appended-license augmentation (every 5th doc, "
        "stride-padded) so duplication is non-vacuous"
    ),
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", F.expr(_SUBSTR_AUG_SPARK).alias("text"))
    return D.substring_dup_stats(aug)


# Removal variant: disjoint 16-token windows, so the augmentation pads
# to a multiple of 16 (not the stats query's stride-8 grid) — the
# appended license block then occupies exactly one full window in every
# carrier doc and is droppable without touching neighboring spans.
def _substr_aug16_sql(ntok: str) -> str:
    return (
        "CASE WHEN doc_id % 5 = 0 THEN text || ' ' || "
        f"repeat('pad ', CAST((16 - {ntok} % 16) % 16 AS INT))"
        f" || '{_SUBSTR_BOILER}' ELSE text END"
    )


_SUBSTR_AUG16_SPARK = _substr_aug16_sql("size(split(text, ' '))")
_SUBSTR_AUG16_DUCK = _substr_aug16_sql("len(string_split(text, ' '))")


@register(
    "dedup_substring_removal",
    f"""
WITH aug AS (SELECT doc_id, {_SUBSTR_AUG16_DUCK} AS text FROM documents),
t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM aug),
w AS (
  SELECT doc_id, toks, n,
         unnest(range(CAST(GREATEST(1, FLOOR((n + 15) / 16.0)) AS BIGINT))) AS wi
  FROM t
),
wins AS (
  SELECT doc_id, wi, (wi * 16 + 16 <= n) AS is_full,
         array_to_string(toks[CAST(wi * 16 + 1 AS BIGINT)
                              : CAST(wi * 16 + 16 AS BIGINT)], ' ') AS seg
  FROM w
),
hot AS (SELECT md5(seg) AS fp FROM wins WHERE is_full
        GROUP BY md5(seg) HAVING COUNT(DISTINCT doc_id) >= 2),
flagged AS (
  SELECT doc_id, wi, seg, (hot.fp IS NOT NULL) AS is_hot
  FROM wins LEFT JOIN hot ON hot.fp = md5(seg)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       COALESCE(string_agg(CASE WHEN NOT is_hot THEN seg END, ' ' ORDER BY wi), '') AS text_clean
FROM flagged GROUP BY doc_id
""",
    doc=(
        "substring-level span REMOVAL (the Lee-et-al exact-substring "
        "dedup outcome; dedup_substring reports, this rewrites): "
        "disjoint 16-token windows, any window shared by >= 2 DISTINCT "
        "docs is dropped and each doc reassembles from its surviving "
        "windows in order — md5-key shuffle for the corpus-wide "
        "distinct-doc count, tiny hot-span set broadcast back, one "
        "array_sort reassembly aggregation (no window function); runs "
        "over a deterministic appended-license augmentation (every 5th "
        "doc, padded to the window grid) so carrier docs shrink and "
        "clean docs reassemble byte-identical"
    ),
)
def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", F.expr(_SUBSTR_AUG16_SPARK).alias("text"))
    return D.remove_dup_substrings(aug)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): k-means clusters scope the candidate pairs
# ---------------------------------------------------------------------------


def _semantic_sql() -> str:
    return f"""
WITH eu AS (
  {_emb_aug_sql("embedding")}
),
{_kmeans_ctes(src="eu")},
ok AS (SELECT cluster FROM asg GROUP BY cluster
       HAVING COUNT(*) <= {_JACCARD_MAX_BUCKET}),
pv AS (
  SELECT a1.vec_id AS a, a2.vec_id AS b, a1.cluster
  FROM asg a1
  JOIN ok ON ok.cluster = a1.cluster
  JOIN asg a2 ON a1.cluster = a2.cluster AND a1.vec_id < a2.vec_id
),
sc AS (
  SELECT pv.a, pv.b, pv.cluster,
         list_dot_product(ea.embedding, eb.embedding)
         / (sqrt(list_dot_product(ea.embedding, ea.embedding))
            * sqrt(list_dot_product(eb.embedding, eb.embedding))) AS cos
  FROM pv
  JOIN eu ea ON ea.vec_id = pv.a
  JOIN eu eb ON eb.vec_id = pv.b
)
SELECT a, b, cluster, ROUND(cos, 6) AS cos
FROM sc WHERE ROUND(cos, 6) >= 0.95
"""


@register(
    "dedup_semantic",
    _semantic_sql(),
    doc=(
        "semantic dedup (the SemDeDup shape): k-means cluster labels "
        "RESTRICT the candidate pairs — exact cosine runs only within a "
        "cluster, never across the corpus, so the pair space is "
        "Σ n_c² with n_c bounded by choosing k ∝ N (at 100 TB the "
        "clustering is the cheap map-only stage and each cluster "
        "dedups independently); pairs form through the guarded "
        "_bucket_pairs expansion (clusters > 1000 members drop, "
        "logged, oracle-mirrored) and verify at rounded cosine >= "
        "0.95. Runs over the same near-dup fixture augmentation as "
        "dedup_embedding_cosine; oracle = unrolled-Lloyd CTEs "
        "(_kmeans_ctes over the augmented set) + within-cluster pair "
        "join"
    ),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import kmeans_assignments

    # feeds every Lloyd round AND the verify
    emb = _emb_augmented(_vectors(spark, sf_dir)).localCheckpoint(eager=False)
    asg = kmeans_assignments(emb, k=_KMEANS_K, vec_col="v").select(
        "vec_id", "cluster"
    )
    pairs = D._bucket_pairs(
        asg.select("vec_id", F.col("cluster").cast("string").alias("bucket")),
        "vec_id",
        max_bucket=_JACCARD_MAX_BUCKET,
    )
    lab = asg.select(F.col("vec_id").alias("a"), "cluster")
    a = emb.select(F.col("vec_id").alias("a"), F.col("v").alias("va"), SIM.norm("v").alias("na"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"), SIM.norm("v").alias("nb"))
    scored = pairs.join(lab, "a").join(a, "a").join(b, "b")
    cos = dround(SIM.dot("va", "vb") / (F.col("na") * F.col("nb")), 6)
    return scored.filter(cos >= 0.95).select("a", "b", "cluster", cos.alias("cos"))


# ---------------------------------------------------------------------------
# IVF-PQ ANN: the composed production billion-vector shape
# ---------------------------------------------------------------------------

_IVFPQ_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cell, v AS ce FROM e WHERE vec_id < 8),
va AS (
  SELECT vec_id AS c_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY ROUND(list_dot_product(v, ce), 6) DESC, cell) AS rn
  FROM e, cent
),
cells AS (SELECT c_id, cell FROM va WHERE rn = 1),
coded AS (
  SELECT vec_id, v, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)
),
cb AS (
  SELECT CAST(t.m AS INTEGER) AS m, code, v[t.m*8+1 : t.m*8+8] AS sub
  FROM coded, range(8) t(m)
),
sub AS (
  SELECT vec_id AS c_id, CAST(t.m AS INTEGER) AS m, v[t.m*8+1 : t.m*8+8] AS vsub
  FROM e, range(8) t(m)
),
escored AS (
  SELECT c_id, s.m, cb.code, {_PQ_L2.format(a='s.vsub', b='cb.sub')} AS d
  FROM sub s JOIN cb ON s.m = cb.m
),
enc AS (
  SELECT c_id, m, code FROM (
    SELECT c_id, m, code, ROW_NUMBER() OVER (PARTITION BY c_id, m ORDER BY d, code) AS rn
    FROM escored) t WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id >= 24 AND vec_id < 32),
qp AS (
  SELECT q_id, cell,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY ROUND(list_dot_product(qv, ce), 6) DESC, cell) AS rn
  FROM q, cent
),
probes AS (SELECT q_id, cell FROM qp WHERE rn <= 2),
qsub AS (
  SELECT q_id, CAST(t.m AS INTEGER) AS m, qv[t.m*8+1 : t.m*8+8] AS qs
  FROM q, range(8) t(m)
),
dtable AS (
  SELECT q_id, s.m, cb.code, {_PQ_L2.format(a='s.qs', b='cb.sub')} AS pd
  FROM qsub s JOIN cb ON s.m = cb.m
),
scored AS (
  SELECT d.q_id, e2.c_id, SUM(d.pd) AS adist
  FROM enc e2
  JOIN cells cl ON cl.c_id = e2.c_id
  JOIN probes p ON p.cell = cl.cell
  JOIN dtable d ON e2.m = d.m AND e2.code = d.code AND d.q_id = p.q_id
  WHERE e2.c_id <> d.q_id
  GROUP BY 1, 2
),
r AS (SELECT q_id, c_id, adist,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rnk
      FROM scored)
SELECT q_id, c_id, ROUND(adist / 1e6, 6) AS adist, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 3
"""


@register(
    "sim_ann_ivfpq",
    _IVFPQ_SQL,
    doc=(
        "IVF-PQ ANN (similarity.ivf_pq_topk): the production "
        "billion-vector composition — IVF decides WHICH candidates are "
        "scored (each query probes nprobe=2 cells), PQ decides HOW "
        "(integer ADC over m-byte codes; candidate vectors never "
        "touched at query time). Write-time cell assignment + encoding "
        "are map-only against broadcast tables; the stored row is "
        "(cell, 8 codes) ≈ 32× smaller than the float vector. Oracle "
        "composes the sim_ann_ivf assignment SQL with the sim_ann_pq "
        "codebook/ADC SQL"
    ),
)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _vectors(spark, sf_dir)
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("ce")
    )
    vectors = emb.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    queries = emb.filter((F.col("vec_id") >= 24) & (F.col("vec_id") < 32)).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    return SIM.ivf_pq_topk(vectors, queries, centroids)


# ---------------------------------------------------------------------------
# JL random projection: coarse rank in reduced space, exact re-rank
# ---------------------------------------------------------------------------


def _rp_sql() -> str:
    from ..functions.hashing import lsh_planes

    def plane_literal(plane: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"

    proj = ", ".join(
        f"list_dot_product(v, {plane_literal(p)})" for p in lsh_planes(n_planes=SIM.RP_DIM)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT vec_id, v, [{proj}]::DOUBLE[] AS rv FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, rv AS qrv FROM p WHERE vec_id < 8),
coarse AS (
  SELECT q.q_id, c.vec_id AS c_id,
         ROUND(list_dot_product(q.qrv, c.rv)
               / (sqrt(list_dot_product(q.qrv, q.qrv)) * sqrt(list_dot_product(c.rv, c.rv))), 6) AS ccos
  FROM q, p c WHERE c.vec_id <> q.q_id
),
cand AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ccos DESC, c_id) AS crn
    FROM coarse) WHERE crn <= 10
),
s AS (
  SELECT cand.q_id, cand.c_id,
         ROUND(list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
  FROM cand JOIN e c ON c.vec_id = cand.c_id JOIN q ON q.q_id = cand.q_id
),
r AS (SELECT q_id, c_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
      FROM s)
SELECT q_id, c_id, cos, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3
"""


@register(
    "sim_random_projection",
    _rp_sql(),
    doc=(
        "ANN via Johnson–Lindenstrauss random projection "
        "(similarity.rp_rerank_topk): every vector projects 64 → 16 "
        "dims through deterministic integer-derived planes (map-only), "
        "the coarse candidate scan ranks by cosine in the projected "
        "space (4× less arithmetic / shuffle bytes per vector), and "
        "only the coarse top-10 per query get exact-cosine re-ranked "
        "in the full space via a broadcast candidate join. The "
        "project→coarse→re-rank prefix of a production ANN pipeline, "
        "composable with IVF at 100 TB"
    ),
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    vectors = emb.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    out = SIM.rp_rerank_topk(vectors, queries)
    return out.select("q_id", "c_id", "cos", F.col("rnk").cast("long").alias("rnk"))


# ---------------------------------------------------------------------------
# ANN recall measurement: approximate vs exact ground truth
# ---------------------------------------------------------------------------

_RECALL_SQL = f"""
WITH truth AS (SELECT q_id, c_id FROM ({_TOPK_SQL}) WHERE rnk <= 3),
ann AS (SELECT q_id, c_id FROM ({_ann_sql()}))
SELECT t.q_id, COUNT(a.c_id) AS hits, ROUND(COUNT(a.c_id) / 3.0, 4) AS recall
FROM truth t LEFT JOIN ann a ON a.q_id = t.q_id AND a.c_id = t.c_id
GROUP BY t.q_id
"""


@register(
    "sim_ann_recall",
    _RECALL_SQL,
    doc=(
        "recall@3 of the sign-LSH ANN against brute-force ground truth, "
        "per query: the measurement harness every approximate operator "
        "needs before its bucket/probe parameters ship. Composes the two "
        "driver-verified paths (sim_ann_lsh, sim_cosine_topk) and joins "
        "their top-3 sets — truth side is 3·|queries| rows, so the "
        "comparison join broadcasts; recall tunes with LSH_N_PLANES and "
        "this query is how you'd check a re-tune at scale (run on a "
        "sampled query set, not the corpus)"
    ),
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    vectors = emb.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    truth = SIM.brute_force_topk(vectors, queries, k=3).select("q_id", "c_id")
    ann = SIM.lsh_topk(vectors, queries).select("q_id", "c_id", F.lit(1).alias("hit"))
    return (
        truth.join(F.broadcast(ann), ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(F.count("hit").alias("hits"))
        .select("q_id", "hits", dround(F.col("hits") / 3.0, 4).alias("recall"))
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality scoring (CCNet-style perplexity proxy)
# ---------------------------------------------------------------------------

_LM_SQL = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
c AS (SELECT w, COUNT(*) AS n FROM tok GROUP BY w),
v AS (SELECT w, n FROM (SELECT w, n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rnk FROM c)
      WHERE rnk <= {TX.LM_VOCAB_K}),
tot AS (SELECT SUM(n) AS nn FROM c),
d AS (SELECT t.doc_id, COUNT(*) AS n_tokens, AVG(log2(COALESCE(v.n, 0.5))) AS avg_l2
      FROM tok t LEFT JOIN v ON t.w = v.w GROUP BY t.doc_id)
SELECT d.doc_id, d.n_tokens, ROUND(log2(tot.nn) - d.avg_l2, 4) AS nll_per_token
FROM d, tot
"""


@register(
    "text_lm_quality",
    _LM_SQL,
    doc=(
        "unigram-LM quality score (text.unigram_nll): average per-token "
        "negative log2-probability under the corpus's own truncated "
        "unigram model (top-1000 head + 0.5/N OOV floor) — the "
        "CCNet-style LM-filtering proxy. One tokenization feeds both "
        "passes: the count shuffle is the vocab shape, the head comes "
        "out via TakeOrdered and broadcasts into a map-side left join, "
        "and the corpus total is a one-row broadcast — the full vocab "
        "of a 100 TB corpus never broadcasts, by construction"
    ),
)
def text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.unigram_nll(docs)


# ---------------------------------------------------------------------------
# MinHash estimator error: estimated vs exact Jaccard per candidate pair
# ---------------------------------------------------------------------------


def _minhash_estimate_sql() -> str:
    eq_terms = " + ".join(
        f"CASE WHEN s1.h{i} = s2.h{i} THEN 1 ELSE 0 END" for i in MINHASH_SEEDS
    )
    k = len(MINHASH_SEEDS)
    return f"""
WITH {_minhash_ctes()},
est AS (
  SELECT cand.a, cand.b, ({eq_terms}) / {k}.0 AS est
  FROM cand JOIN sig s1 ON s1.doc_id = cand.a JOIN sig s2 ON s2.doc_id = cand.b
),
tru AS (
  SELECT a, b, n_inter / (ca.n_sh + cb.n_sh - n_inter) AS j
  FROM inter
  JOIN counts ca ON ca.doc_id = a
  JOIN counts cb ON cb.doc_id = b
)
SELECT est.a, est.b,
       ROUND(est.est, 6) AS est_jaccard,
       ROUND(COALESCE(tru.j, 0), 6) AS jaccard,
       ROUND(ABS(est.est - COALESCE(tru.j, 0)), 6) AS abs_err
FROM est LEFT JOIN tru ON tru.a = est.a AND tru.b = est.b
"""


@register(
    "dedup_minhash_estimate",
    _minhash_estimate_sql(),
    doc=(
        "MinHash estimator error: for every LSH candidate pair, the "
        "signature-estimated Jaccard (matching-minhash fraction over 8 "
        "permutations — exact eighths, so the float is engine-stable) "
        "against the exact shingle Jaccard, with the absolute error. "
        "The companion harness to sim_ann_recall: before trusting a "
        "permutation count / band shape at scale you MEASURE the "
        "estimator on a sample, and this query is that measurement as "
        "an oracled catalog entry. Signature comparison is a broadcast "
        "join of the k-hash rows; the exact side is the same map-only "
        "candidate verify as dedup_minhash_lsh (cost scales with "
        "candidates, not corpus)"
    ),
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sig = pin(D.minhash_signatures(D.exploded_shingles(docs)))
    cand = pin(D.lsh_band_candidates(sig, max_bucket=_JACCARD_MAX_BUCKET))
    k = len(MINHASH_SEEDS)
    sa = sig.select(
        F.col("doc_id").alias("a"), *[F.col(f"h{i}").alias(f"ha{i}") for i in MINHASH_SEEDS]
    )
    sb = sig.select(
        F.col("doc_id").alias("b"), *[F.col(f"h{i}").alias(f"hb{i}") for i in MINHASH_SEEDS]
    )
    matches = sum(
        F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0) for i in MINHASH_SEEDS
    )
    est = (
        cand.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .select("a", "b", (matches / F.lit(float(k))).alias("est"))
    )
    tru = D.verify_pairs(docs, cand)
    return (
        est.join(tru, ["a", "b"], "left")
        .select(
            "a",
            "b",
            dround("est", 6).alias("est_jaccard"),
            dround(F.coalesce("jaccard", F.lit(0.0)), 6).alias("jaccard"),
            dround(F.abs(F.col("est") - F.coalesce("jaccard", F.lit(0.0))), 6).alias(
                "abs_err"
            ),
        )
    )


_MM_RESIZE_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS orig_bytes,
       CAST(64 AS BIGINT) AS out_len,
       rpad(substring(upper(hex(encode(text))), 1, 128), 128, '0') AS resized_hex
FROM documents
"""


@register(
    "multimodal_resize",
    _MM_RESIZE_SQL,
    doc=(
        "fixed-shape resize over binary payloads (image-thumbnail "
        "analog): every payload crops-or-pads to exactly 64 bytes via "
        "Arrow mapInPandas — fixed-shape outputs are what downstream "
        "tensor batching needs; the real decode+scale is the marked "
        "stub, the Spark shape (binary in, fixed binary out, zero "
        "shuffle) is real and oracle-verified byte-for-byte in hex"
    ),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return MM.resize_payload(MM.documents_as_binary(docs))


# ---------------------------------------------------------------------------
# Wave 37: blockhash near-dup over binary payloads — the multimodal
# half of the dedup story (simhash banding over a content-locality hash)
# ---------------------------------------------------------------------------

# 64 block bits over a fixed 512-hex-char frame (256 ASCII chars of
# payload): block k = 8 hex chars, bit = parity of the first hex digit
# of md5(block) — a crude but honest block-mean-hash stand-in (the
# blockhash/PDQ family): a local byte edit flips only its block's bit,
# so near-identical payloads land at small hamming distance. 4 bands ×
# 16 bits; a band participates only while it overlaps real content
# (otherwise every short payload would share constant empty-tail bands
# and the buckets would go quadratic).
_BH_BLOCKS = 64
_BH_BLOCK_HEX = 8
_BH_BANDS = 4
_BH_BAND_BITS = 16
_BH_BAND_HEX = _BH_BAND_BITS * _BH_BLOCK_HEX  # 128 hex chars per band
_BH_MAX_BUCKET = 1000
_BH_HAMMING_MAX = 16

_BLOCKHASH_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 30000000, substr(text, 1, greatest(32, (length(text) * 9) // 10))
  FROM documents WHERE doc_id % 37 = 0
),
hx AS MATERIALIZED (
  SELECT doc_id, hex(encode(text)) AS h FROM base
),
bits AS (
  SELECT doc_id, k,
         ('0x' || substr(md5(substr(h, k * {_BH_BLOCK_HEX} + 1, {_BH_BLOCK_HEX})), 1, 1))::BIGINT % 2 AS bit
  FROM hx, generate_series(0, {_BH_BLOCKS - 1}) AS g(k)
),
fp AS MATERIALIZED (
  SELECT doc_id, k // {_BH_BAND_BITS} AS band,
         SUM(bit * (1::BIGINT << (15 - (k % {_BH_BAND_BITS}))))::BIGINT AS bval
  FROM bits GROUP BY 1, 2
),
nb AS (
  SELECT doc_id, 1 + least({_BH_BANDS - 1}, (length(h) - 1) // {_BH_BAND_HEX}) AS n_bands
  FROM hx
),
bandrows AS MATERIALIZED (
  SELECT f.doc_id, f.band, f.bval
  FROM fp f JOIN nb ON nb.doc_id = f.doc_id
  WHERE f.band < nb.n_bands
),
buckets AS (
  SELECT band, bval FROM bandrows GROUP BY 1, 2
  HAVING COUNT(*) BETWEEN 2 AND {_BH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bandrows x
  JOIN bandrows y ON y.band = x.band AND y.bval = x.bval AND x.doc_id < y.doc_id
  JOIN buckets u ON u.band = x.band AND u.bval = x.bval
),
ham AS (
  SELECT c.a, c.b, CAST(SUM(bit_count(xor(va.bval, vb.bval))) AS INT) AS hamming
  FROM cand c
  JOIN fp va ON va.doc_id = c.a
  JOIN fp vb ON vb.doc_id = c.b AND vb.band = va.band
  GROUP BY 1, 2
)
SELECT a, b, hamming FROM ham WHERE hamming <= {_BH_HAMMING_MAX}
"""


@register(
    "multimodal_blockhash_dedup",
    _BLOCKHASH_SQL,
    doc=(
        "near-duplicate detection over OPAQUE BINARY payloads — the "
        "multimodal bridge of the dedup family (perceptual-hash dedup "
        "for images/audio): a 64-bit blockhash fingerprint (fixed "
        "512-hex frame, one parity bit per 4-byte block, so a local "
        "edit flips one bit — the blockhash/pHash locality property, "
        "computed engine-side as a map-only expression; a real pHash "
        "swaps in a DCT via the Arrow lane) feeds EXACTLY the simhash "
        "discipline: 4×16-bit bands bucket candidates (a 16-bit band "
        "match ≈ 2^-16 random collision), the guarded _bucket_pairs "
        "expansion caps hot buckets (oracle-mirrored HAVING ≤ 1000), "
        "and exact hamming ≤ 16 verifies via xor+bit_count on the "
        "band integers. Bands participate only while they overlap "
        "real content — otherwise every short payload would share "
        "constant empty-tail bands and the buckets would go "
        "quadratic. Truncated-twin fixture rows (doc_id%37, 90% "
        "prefix) make the near-dup set non-vacuous on the synthetic "
        "corpus; scale cost is O(corpus) map work + the banded "
        "bucket join, never all-pairs"
    ),
)
def multimodal_blockhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tw = docs.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 30000000).alias("doc_id"),
        F.expr("substring(text, 1, greatest(32, (length(text) * 9) div 10))").alias(
            "text"
        ),
    )
    base = docs.select("doc_id", "text").unionByName(tw)
    fp = pin(base.select(
        "doc_id",
        F.hex(F.col("text").cast("binary")).alias("h"),
    ).select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {_BH_BLOCKS - 1}), k -> "
            f"CAST(conv(substring(md5(substring(h, k * {_BH_BLOCK_HEX} + 1, "
            f"{_BH_BLOCK_HEX})), 1, 1), 16, 10) AS BIGINT) % 2)"
        ).alias("bits"),
        (
            F.lit(1)
            + F.least(
                F.lit(_BH_BANDS - 1),
                ((F.length("h") - 1) / _BH_BAND_HEX).cast("bigint"),
            )
        ).alias("n_bands"),
    ).select(
        "doc_id",
        "n_bands",
        F.expr(
            f"transform(sequence(0, {_BH_BANDS - 1}), j -> "
            f"aggregate(sequence(0, {_BH_BAND_BITS - 1}), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc * 2 + element_at(bits, j * {_BH_BAND_BITS} + i + 1)))"
        ).alias("bands"),
    ))  # consumers: band explode + two verify sides
    bandrows = fp.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, n_bands - 1), j -> "
                   "struct(j AS band, element_at(bands, CAST(j AS INT) + 1) AS bval))")
        ).alias("p"),
    ).select(
        "doc_id",
        F.concat_ws(":", F.col("p.band"), F.col("p.bval")).alias("bucket"),
    )
    cands = (
        D._bucket_pairs(bandrows, "doc_id", max_bucket=_BH_MAX_BUCKET)
        .select("a", "b")
        .distinct()
    )
    fa = fp.select(F.col("doc_id").alias("a"), F.col("bands").alias("ba"))
    fb = fp.select(F.col("doc_id").alias("b"), F.col("bands").alias("bb"))
    ham = (
        cands.join(fa, "a")
        .join(fb, "b")
        .select(
            "a",
            "b",
            F.expr(
                "CAST(aggregate(sequence(1, size(ba)), CAST(0 AS BIGINT), "
                "(acc, i) -> acc + bit_count(element_at(ba, CAST(i AS INT)) ^ "
                "element_at(bb, CAST(i AS INT)))) AS INT)"
            ).alias("hamming"),
        )
    )
    return ham.filter(F.col("hamming") <= _BH_HAMMING_MAX)


# ---------------------------------------------------------------------------
# Relative quality gate: corpus-percentile threshold, two-pass
# ---------------------------------------------------------------------------


def _relative_quality_sql() -> str:
    ors = " OR ".join(f"x = '{m}'" for m in TX.LANG_MARKERS["en"])
    score = (
        "ROUND(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5\n"
        f"             + (len(list_filter(string_split(text, ' '), x -> {ors}))"
        " / len(string_split(text, ' '))) * 0.3\n"
        "             + greatest(0.0, 1.0 - len(regexp_extract_all(text, '[.,!?;:]'))"
        " / len(string_split(text, ' '))) * 0.2, 4)"
    )
    return f"""
WITH q AS (
  SELECT doc_id, {score} AS quality_score
  FROM documents
),
thr AS (SELECT quantile_cont(quality_score, 0.1) AS p10 FROM q)
SELECT q.doc_id, q.quality_score, ROUND(thr.p10, 4) AS p10
FROM q, thr WHERE q.quality_score >= thr.p10
"""


@register(
    "curation_relative_quality",
    _relative_quality_sql(),
    doc=(
        "relative quality gate: drop the corpus's worst decile by "
        "quality score — ABSOLUTE thresholds rot as the corpus mix "
        "shifts, so production gates are percentile-relative. Two "
        "passes: an exact percentile aggregation produces a ONE-ROW "
        "threshold (Spark percentile() and DuckDB quantile_cont share "
        "the linear-interpolation definition — verified equal on "
        "identical rounded inputs), which broadcasts back over the "
        "scored corpus as a map-only filter. At 100 TB swap the exact "
        "percentile for approx_percentile and the structure is "
        "unchanged"
    ),
)
def curation_relative_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    qf = TX.quality_features(docs).select("doc_id", "quality_score")
    thr = qf.agg(F.percentile("quality_score", 0.1).alias("p10"))
    return (
        qf.crossJoin(F.broadcast(thr))
        .filter(F.col("quality_score") >= F.col("p10"))
        .select("doc_id", "quality_score", dround("p10", 4).alias("p10"))
    )


# ---------------------------------------------------------------------------
# MMR diversified re-ranking (search-stack: relevance vs redundancy)
# ---------------------------------------------------------------------------

_MMR_QUERIES = (0, 1, 2)
_MMR_C = 8  # candidate pool per query
_MMR_S = 4  # selected per query
_MMR_LAMBDA = 0.7


def _mmr_sql() -> str:
    qids = ", ".join(str(q) for q in _MMR_QUERIES)
    lam, one_m = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    steps = []
    prev = "selected1"
    for t in range(2, _MMR_S + 1):
        steps.append(f"""
scored{t} AS (
  SELECT r.qid, r.cand, r.rel,
         ROUND({lam} * r.rel - {one_m} * MAX(s.sim), 6) AS score
  FROM cands r
  JOIN {prev} p ON p.qid = r.qid
  JOIN sims s ON s.qid = r.qid AND s.a = r.cand AND s.b = p.cand
  WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                    WHERE x.qid = r.qid AND x.cand = r.cand)
  GROUP BY r.qid, r.cand, r.rel
),
sel{t} AS (
  SELECT qid, cand, rel, {t} AS rnk FROM (
    SELECT qid, cand, rel,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cand) AS rn
    FROM scored{t}
  ) WHERE rn = 1
),
selected{t} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM sel{t})""")
        prev = f"selected{t}"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN ({qids})),
relall AS (
  SELECT qs.qid, e.vec_id AS cand,
         ROUND(list_dot_product(e.v, qs.qv) /
               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(qs.qv, qs.qv))),
               6) AS rel
  FROM e CROSS JOIN qs WHERE e.vec_id <> qs.qid
),
cands AS (
  SELECT qid, cand, rel FROM (
    SELECT qid, cand, rel,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, cand) AS rn
    FROM relall
  ) WHERE rn <= {_MMR_C}
),
sims AS (
  SELECT a.qid, a.cand AS a, b.cand AS b,
         ROUND(list_dot_product(ea.v, eb.v) /
               (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))),
               6) AS sim
  FROM cands a JOIN cands b ON a.qid = b.qid AND a.cand <> b.cand
  JOIN e ea ON ea.vec_id = a.cand JOIN e eb ON eb.vec_id = b.cand
),
selected1 AS (
  SELECT qid, cand, rel, 1 AS rnk FROM (
    SELECT qid, cand, rel,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, cand) AS rn
    FROM cands
  ) WHERE rn = 1
),
{','.join(steps)}
SELECT qid, cand, rel, CAST(rnk AS BIGINT) AS rnk FROM {prev}
"""


@register(
    "sim_mmr_rerank",
    _mmr_sql(),
    doc=(
        "MMR diversified re-ranking: for each query vector, greedily "
        "select 4 of the top-8 cosine candidates maximizing "
        "λ·relevance − (1−λ)·max-similarity-to-already-selected "
        "(λ=0.7) — the standard redundancy-suppression step between "
        "ANN retrieval and serving. All state is candidate-bounded: "
        "per-query pools cap at C (WindowGroupLimit), the pairwise "
        "sim table at C² per query, each greedy step is one "
        "anti-join + bounded join + per-query window argmax over "
        "O(C) rows; the fixture scores every query×vector pair, at "
        "scale the pool comes from the ANN index (sim_ann_index_scan) "
        "and the MMR cost is unchanged — it never sees the corpus. "
        "Oracle unrolls the identical greedy steps as CTEs"
    ),
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _vectors(spark, sf_dir)
    qs = emb.filter(F.col("vec_id").isin(*_MMR_QUERIES)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    relall = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("cand"),
            dround(
                SIM.dot("v", "qv") / (SIM.norm("v") * SIM.norm("qv")), 6
            ).alias("rel"),
        )
    )
    wq = W.partitionBy("qid").orderBy(F.col("rel").desc(), "cand")
    cands = pin(
        relall.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _MMR_C)
        .drop("rn")
    )
    ca = cands.select("qid", F.col("cand").alias("a"))
    cb = cands.select("qid", F.col("cand").alias("b"))
    ea = emb.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    sims = pin(
        ca.join(cb, "qid")
        .filter(F.col("a") != F.col("b"))
        .join(F.broadcast(ea), "a")
        .join(F.broadcast(eb), "b")
        .select(
            "qid",
            "a",
            "b",
            dround(
                SIM.dot("va", "vb") / (SIM.norm("va") * SIM.norm("vb")), 6
            ).alias("sim"),
        )
    )
    selected = pin(
        cands.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select("qid", "cand", "rel", F.lit(1).alias("rnk"))
    )
    lam, one_m = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    for t in range(2, _MMR_S + 1):
        rem = cands.join(selected.select("qid", "cand"), ["qid", "cand"], "left_anti")
        scored = (
            rem.alias("r")
            .join(
                selected.select("qid", F.col("cand").alias("p")).alias("s"), "qid"
            )
            .join(
                sims.alias("m"),
                (F.col("r.cand") == F.col("m.a")) & (F.col("p") == F.col("m.b"))
                & (F.col("r.qid") == F.col("m.qid")),
            )
            .groupBy("r.qid", "r.cand", "r.rel")
            .agg(
                dround(
                    F.lit(lam) * F.first("r.rel") - F.lit(one_m) * F.max("m.sim"), 6
                ).alias("score")
            )
        )
        ws = W.partitionBy("qid").orderBy(F.col("score").desc(), "cand")
        pick = (
            scored.withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select("qid", "cand", "rel", F.lit(t).alias("rnk"))
        )
        selected = pin(selected.unionByName(pick))
    return selected.select("qid", "cand", "rel", F.col("rnk").cast("long").alias("rnk"))


# ---------------------------------------------------------------------------
# Contrastive negative-pair sampling (component-aware, RNG-free)
# ---------------------------------------------------------------------------

_NEG_K = 4  # candidate negatives drawn per anchor
_NEG_ANCHOR_RATE = 0.05


def _neg_sql() -> str:
    from .queries_profile import _SHUFFLE_SEED, _hex_threshold

    return f"""{_COMPONENTS_CTE},
idx AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (
           ORDER BY md5('{_SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR))
         ) AS BIGINT) - 1 AS idx
  FROM documents
),
n_t AS (SELECT COUNT(*) AS n FROM documents),
anchors AS (
  SELECT doc_id AS anchor_id FROM documents
  WHERE substr(md5('anchor|' || CAST(doc_id AS VARCHAR)), 1, 8)
        < '{_hex_threshold(_NEG_ANCHOR_RATE)}'
),
cand AS (
  SELECT a.anchor_id, CAST(j.j AS BIGINT) AS j,
         CAST(('0x' || substr(md5(CAST(a.anchor_id AS VARCHAR)
                                  || '#' || CAST(j.j AS VARCHAR)), 1, 8))
              AS BIGINT) % n_t.n AS cand_idx
  FROM anchors a
  CROSS JOIN (SELECT unnest(range(0, {_NEG_K})) AS j) j
  CROSS JOIN n_t
),
neg AS (
  SELECT c.anchor_id, c.j, i.doc_id AS neg_id
  FROM cand c JOIN idx i ON i.idx = c.cand_idx
)
SELECT g.anchor_id, g.j, g.neg_id
FROM neg g
JOIN comp ca ON ca.doc_id = g.anchor_id
JOIN comp cb ON cb.doc_id = g.neg_id
WHERE g.neg_id <> g.anchor_id AND ca.component <> cb.component
"""


@register(
    "sample_negatives",
    _neg_sql(),
    doc=(
        "contrastive negative-pair sampling for embedding training "
        "(SimCLR/CLIP-style): k pseudo-random negatives per anchor, "
        "drawn by md5 arithmetic against a deterministic global doc "
        "index — no RNG, identical picks on any cluster size or "
        "rerun. The FALSE-NEGATIVE guard is the point: a candidate in "
        "the anchor's near-dup COMPONENT (dedup_components' labels — "
        "an undetected near-copy of the anchor) would be trained as a "
        "negative and poison the objective, so component-mates are "
        "anti-filtered, not just the anchor itself. The global index "
        "reuses shuffle_deterministic's range-exchange + per-partition "
        "offset pattern (no single-partition window); candidate "
        "generation is a k-way explode off the tiny anchor set with a "
        "broadcast 1-row count; the index join is an equi-join on the "
        "dense position"
    ),
)
def sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_profile import _hex_threshold, shuffle_deterministic

    docs = load_table(spark, sf_dir, "documents")
    idx = shuffle_deterministic(spark, sf_dir).select(
        "doc_id", (F.col("pos") - 1).alias("idx")
    )
    n_t = docs.agg(F.count(F.lit(1)).alias("n"))
    anchors = docs.filter(
        F.substring(
            F.md5(F.concat(F.lit("anchor|"), F.col("doc_id").cast("string"))), 1, 8
        )
        < F.lit(_hex_threshold(_NEG_ANCHOR_RATE))
    ).select(F.col("doc_id").alias("anchor_id"))
    cand = (
        anchors.crossJoin(F.broadcast(n_t))
        .select(
            "anchor_id",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("j"),
        )
        .select(
            "anchor_id",
            F.col("j").cast("long").alias("j"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("anchor_id").cast("string"),
                                F.lit("#"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("n")
            ).alias("cand_idx"),
        )
    )
    neg = cand.join(idx, cand["cand_idx"] == idx["idx"]).select(
        "anchor_id", "j", F.col("doc_id").alias("neg_id")
    )
    comp = dedup_components(spark, sf_dir).select("doc_id", "component")
    ca = comp.select(
        F.col("doc_id").alias("anchor_id"), F.col("component").alias("comp_a")
    )
    cb = comp.select(
        F.col("doc_id").alias("neg_id"), F.col("component").alias("comp_b")
    )
    return (
        neg.join(ca, "anchor_id")
        .join(cb, "neg_id")
        .filter(
            (F.col("neg_id") != F.col("anchor_id"))
            & (F.col("comp_a") != F.col("comp_b"))
        )
        .select("anchor_id", "j", "neg_id")
    )


_VAD_THRESHOLD = MM.VAD_THRESHOLD

_VAD_SQL = f"""
WITH p AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
),
fr AS (
  SELECT doc_id, h,
         unnest(range(4)) AS frame_idx,
         n
  FROM p
),
f AS (
  SELECT doc_id, frame_idx, h,
         LEAST(n - frame_idx * 256, 256) AS len
  FROM fr WHERE frame_idx * 256 < n
),
b AS (
  SELECT doc_id, frame_idx, len, h,
         unnest(range(len)) AS i
  FROM f
),
s AS (
  SELECT doc_id, frame_idx, len,
         ('0x' || substr(h, CAST((frame_idx * 256 + i) * 2 + 1 AS BIGINT), 2))::BIGINT AS byte
  FROM b
)
SELECT doc_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(len AS BIGINT) AS n_samples,
       SUM((byte - 128) * (byte - 128))::BIGINT AS energy,
       SUM((byte - 128) * (byte - 128)) > {_VAD_THRESHOLD} AS voiced
FROM s GROUP BY doc_id, frame_idx, len
"""


@register(
    "multimodal_audio_vad",
    _VAD_SQL,
    doc=(
        "voice-activity detection over binary payloads — the AUDIO "
        "half of the multimodal story beside the image/video lanes "
        "(features/resize/frames/blockhash): payload bytes read as "
        "8-bit PCM, per-256-byte-frame energy Σ(b−128)² as an exact "
        "integer, voiced = energy > threshold (≈37% of fixture "
        "frames — non-degenerate at both SFs). Spark side is the "
        "production shape: Arrow-batched mapInPandas with numpy "
        "int64 frame math and a 1→N fan-out inside the batch "
        "iterator, zero shuffle, decode honestly stubbed "
        "(operators/multimodal.py real_decode); the oracle rebuilds "
        "the same frames byte-by-byte from hex"
    ),
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return MM.vad_frames(MM.documents_as_binary(docs))


# ---------------------------------------------------------------------------
# Matryoshka truncation quality (wave 65)
# ---------------------------------------------------------------------------

_MRL_DIM = 16
_MRL_K = 5

_MRL_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8),
full_s AS (
  SELECT q.q_id, c.vec_id AS c_id,
         ROUND(list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
  FROM q, e c WHERE c.vec_id <> q.q_id
),
full_r AS (
  SELECT q_id, c_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
  FROM full_s
),
tr_s AS (
  SELECT q.q_id, c.vec_id AS c_id,
         ROUND(list_dot_product(q.qv[1:{_MRL_DIM}], c.v[1:{_MRL_DIM}])
               / (sqrt(list_dot_product(q.qv[1:{_MRL_DIM}], q.qv[1:{_MRL_DIM}]))
                  * sqrt(list_dot_product(c.v[1:{_MRL_DIM}], c.v[1:{_MRL_DIM}]))), 6) AS cos
  FROM q, e c WHERE c.vec_id <> q.q_id
),
tr_r AS (
  SELECT q_id, c_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
  FROM tr_s
)
SELECT f.q_id,
       COUNT(t.c_id)::BIGINT AS n_overlap,
       ROUND(COUNT(t.c_id) / CAST({_MRL_K} AS DOUBLE), 6) AS recall_at_k
FROM (SELECT * FROM full_r WHERE rnk <= {_MRL_K}) f
LEFT JOIN (SELECT * FROM tr_r WHERE rnk <= {_MRL_K}) t
  ON t.q_id = f.q_id AND t.c_id = f.c_id
GROUP BY f.q_id
"""


@register(
    "embedding_matryoshka_truncate",
    _MRL_SQL,
    doc=(
        "Matryoshka truncation quality (MRL, Kusupati et al. 2022) — "
        "the modern embedding-pipeline question 'how much recall do I "
        "keep if I index only the first d dims?': full-dim top-"
        f"{_MRL_K} vs first-{_MRL_DIM}-dims top-{_MRL_K} for the same "
        "8 queries, per-query overlap and recall@k. Both rankings use "
        "the engine-independent rounded-cosine + id tie-break "
        "(brute_force_topk), the truncated side is a map-side "
        "slice() — no second scan of the vector table — and the "
        "overlap is a k·|q|-row join, corpus-independent. At scale "
        "this is the eval you run BEFORE switching the ANN index to "
        "truncated vectors (4x memory / bandwidth saving here)"
    ),
)
def embedding_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _vectors(spark, sf_dir)
    emb = pin(emb)  # consumers: full + truncated lanes
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    vectors = emb.select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    full = SIM.brute_force_topk(vectors, queries, k=_MRL_K).select("q_id", "c_id")
    tq = queries.select("q_id", F.slice("qv", 1, _MRL_DIM).alias("qv"))
    tv = vectors.select("c_id", F.slice("cv", 1, _MRL_DIM).alias("cv"))
    trunc = SIM.brute_force_topk(tv, tq, k=_MRL_K).select(
        "q_id", F.col("c_id").alias("t_id")
    )
    hit = full.join(
        trunc,
        (full["q_id"] == trunc["q_id"]) & (full["c_id"] == trunc["t_id"]),
        "left",
    ).select(full["q_id"].alias("q_id"), "t_id")
    return hit.groupBy("q_id").agg(
        F.count("t_id").cast("bigint").alias("n_overlap"),
        dround(
            F.count("t_id") / F.lit(float(_MRL_K)), 6
        ).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Cross-modal retrieval eval (wave 66)
# ---------------------------------------------------------------------------

_XM_DIMS = 64
_XM_QUERIES = 8

_XM_SQL = f"""
WITH q AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id < {_XM_QUERIES}
),
dims AS (SELECT unnest(range({_XM_DIMS})) AS d),
comp AS (
  SELECT doc_id, dims.d AS d,
         SUM(('0x' || substr(md5(tok || '|' || CAST(dims.d AS VARCHAR)), 1, 8))::BIGINT
             % 2001 - 1000)::BIGINT AS comp
  FROM q CROSS JOIN dims GROUP BY 1, 2
),
nq AS (SELECT doc_id, SUM(comp * comp)::BIGINT AS nq FROM comp GROUP BY 1),
e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(ROUND(x * 1000, 0) AS BIGINT)) AS ei
  FROM embeddings
),
eu AS (
  SELECT vec_id, unnest(ei) AS ev, generate_subscripts(ei, 1) - 1 AS d FROM e
),
ne AS (SELECT vec_id, SUM(ev * ev)::BIGINT AS ne FROM eu GROUP BY 1),
dot AS (
  SELECT c.doc_id, u.vec_id, SUM(c.comp * u.ev)::BIGINT AS dot
  FROM comp c JOIN eu u ON u.d = c.d GROUP BY 1, 2
),
scored AS (
  SELECT d.doc_id, d.vec_id,
         ROUND(CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.nq AS DOUBLE)) * sqrt(CAST(ne.ne AS DOUBLE))), 6) AS cos
  FROM dot d JOIN nq USING (doc_id) JOIN ne USING (vec_id)
),
r AS (
  SELECT doc_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cos DESC, vec_id) AS rnk
  FROM scored
)
SELECT doc_id, CAST(rnk AS BIGINT) AS true_rank,
       CAST(1000000 // rnk AS BIGINT) AS rr_micro
FROM r WHERE vec_id = doc_id
"""


@register(
    "multimodal_crossmodal_retrieval",
    _XM_SQL,
    doc=(
        "cross-modal retrieval eval (the CLIP-alignment check): text "
        "queries embed via the hashing trick (md5 bag-of-words into "
        f"{_XM_DIMS} dims — INTEGER component sums, order-free), the "
        "'image' side is the embeddings table quantized to exact "
        "integer milli-units, and each query ranks ALL candidates by "
        "the rounded cosine (integer dot and norms, ONE float chain "
        "at emit) to find the rank of its true pair (vec_id == "
        "doc_id). Output is the per-query true rank + reciprocal-rank "
        "micro-units — the MRR witness. Honest fixture caveat: text "
        "and vectors are independent here, so ranks sit at chance; "
        "the witness is the exact rank/tie-break algebra (the "
        "ml_knn_classifier precedent). Scale: text projection is "
        "map-only, the 8-query frame broadcasts against the vector "
        "corpus, per-query ranking is one WindowGroupLimit"
    ),
)
def multimodal_crossmodal_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    dims = F.array(*[F.lit(d) for d in range(_XM_DIMS)])
    toks = docs.filter(F.col("doc_id") < _XM_QUERIES).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    comp = (
        toks.select("doc_id", "tok", F.explode(dims).alias("d"))
        .select(
            "doc_id",
            "d",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("tok"), F.lit("|"), F.col("d").cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2001
                - 1000
            ).alias("w"),
        )
        .groupBy("doc_id", "d")
        .agg(F.sum("w").cast("bigint").alias("comp"))
    )
    qvec = comp.groupBy("doc_id").agg(
        F.expr("transform(sort_array(collect_list(struct(d, comp))), x -> x.comp)").alias("qv"),
        F.sum(F.col("comp") * F.col("comp")).cast("bigint").alias("nq"),
    )
    evec = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))"
        ).alias("ei"),
    ).select(
        "vec_id",
        "ei",
        F.expr("aggregate(transform(ei, x -> x * x), 0L, (a, x) -> a + x)").alias("ne"),
    )
    pairs = evec.crossJoin(F.broadcast(qvec))
    dot = F.expr("aggregate(zip_with(qv, ei, (a, b) -> a * b), 0L, (a, x) -> a + x)")
    scored = pairs.select(
        "doc_id",
        "vec_id",
        dround(
            dot.cast("double")
            / (F.sqrt(F.col("nq").cast("double")) * F.sqrt(F.col("ne").cast("double"))),
            6,
        ).alias("cos"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("cos").desc(), "vec_id")
    r = scored.withColumn("rnk", F.row_number().over(w))
    return r.filter(F.col("vec_id") == F.col("doc_id")).select(
        "doc_id",
        F.col("rnk").cast("bigint").alias("true_rank"),
        F.expr("CAST(1000000 div rnk AS BIGINT)").alias("rr_micro"),
    )


_SHOT_THRESHOLD = MM.SHOT_THRESHOLD

_SHOT_SQL = f"""
WITH p AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
),
fr AS (
  SELECT doc_id, h, unnest(range(4)) AS fi, n FROM p
),
f AS (
  SELECT doc_id, fi, h FROM fr WHERE fi * 256 + 64 <= n
),
b AS (
  SELECT doc_id, fi, unnest(range(64)) AS i, h FROM f
),
s AS (
  SELECT doc_id, fi, i,
         ('0x' || substr(h, CAST((fi * 256 + i) * 2 + 1 AS BIGINT), 2))::BIGINT AS byte
  FROM b
),
d AS (
  SELECT a.doc_id, a.fi AS boundary_idx,
         SUM(ABS(a.byte - c.byte))::BIGINT AS diff_energy
  FROM s a JOIN s c ON c.doc_id = a.doc_id AND c.fi = a.fi + 1 AND c.i = a.i
  GROUP BY 1, 2
)
SELECT doc_id, boundary_idx, diff_energy,
       diff_energy > {_SHOT_THRESHOLD} AS is_cut
FROM d
"""


@register(
    "multimodal_shot_boundaries",
    _SHOT_SQL,
    doc=(
        "shot-boundary detection — the video-cut analog completing "
        "the multimodal lanes (features/resize/frames/blockhash/VAD/"
        "cross-modal): consecutive sampled frames (64 bytes at "
        "stride 256, the sample_frames geometry) compare by exact "
        "integer L1 byte distance inside an Arrow mapInPandas with "
        "a 1→N−1 pair fan-out; cuts fire above "
        f"{_SHOT_THRESHOLD} (≈48% of fixture boundaries — both "
        "verdicts live at both SFs). The oracle rebuilds frames "
        "byte-by-byte from hex and self-joins on (doc, frame+1, "
        "byte-pos). Decode honestly stubbed as in every multimodal "
        "lane; zero shuffle on the Spark side"
    ),
)
def multimodal_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return MM.shot_boundaries(MM.documents_as_binary(docs))
