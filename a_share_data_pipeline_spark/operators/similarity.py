"""Vector similarity search over `embeddings.embedding: array<float>`
(SURVEY.md §2.12).

Two paths:
- brute-force cosine top-k: the correctness baseline. Queries are tiny
  → broadcast them against the (huge) candidate side; the dot product
  is a JVM expression (`zip_with` + `aggregate`), never a Python UDF.
- sign-LSH ANN: bucket vectors by the sign pattern of dot products with
  fixed hyperplanes (functions/hashing.py — integer-derived, so the
  DuckDB oracle reproduces them bit-for-bit), then do exact cosine only
  within buckets. At 100 TB the bucket join replaces the all-pairs
  product; recall tunes with the number of planes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import LSH_DIM, LSH_PLANES, lsh_planes
from ..functions.rounding import SCORE_DIGITS, dround, dround_py
from ..session import pin

# banded sign-LSH shape for embedding near-dup candidate generation:
# 8 bands × 8 planes. AND within a band (all 8 sign bits must agree),
# OR across bands (collide in ANY band → candidate). For a pair at
# cosine 0.95 (θ/π ≈ 0.101) a band agrees with prob (1-θ/π)^8 ≈ 0.43,
# so the miss probability over 8 bands is (1-0.43)^8 ≈ 1.2% — a ~99%
# recall contract at the 0.95 threshold, higher above it.
NEARDUP_BANDS = 8
NEARDUP_BAND_PLANES = 8

# ANN shape: top-3 neighbours; IVF queries probe their 2 nearest cells;
# PQ splits each LSH_DIM-dim vector into 8 subspaces of 16 codes each.
ANN_K = 3
IVF_NPROBE = 2
PQ_M = 8
PQ_CODES = 16
PQ_SUB = LSH_DIM // PQ_M


def as_double_vec() -> Column:
    return F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v")


def dot(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact cosine top-k. `vectors`: (c_id, cv); `queries`: (q_id, qv).

    Ranking is on the ROUNDED cosine with c_id as tiebreak, so the
    result is engine-independent (raw float ordering is not).

    Norms are computed per SIDE before the pair join (n + q array
    aggregations instead of 3 per PAIR); the division is unchanged, so
    the float result is bit-identical to cosine() inline.
    """
    vn = vectors.withColumn("cn", norm("cv"))
    qn = queries.withColumn("qn", norm("qv"))
    pairs = vn.crossJoin(F.broadcast(qn)).filter(F.col("c_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        dround(dot("qv", "cv") / (F.col("qn") * F.col("cn")), SCORE_DIGITS).alias("cos"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def lsh_bucket(vec_col: str | Column) -> Column:
    """Sign-LSH bucket id: bit j = (dot(v, plane_j) > 0).

    Implemented as ONE fold over a single 2-D plane constant —
    unrolling the planes as 8 separate 64-literal dot expressions makes
    whole-stage codegen emit (and JIT) 8 copies of the fold body, and
    that compile time dominated the ANN queries at small scale. The
    plane matrix itself is a single constant-folded literal
    (common.const_array2d) — 512 per-element Literal nodes measurably
    tax analysis/codegen on every query that plans this expression."""
    from .common import const_array2d

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    planes = const_array2d(LSH_PLANES)
    bits = F.transform(
        planes,
        lambda p, i: F.when(
            dot(v, p) > 0, F.pow(F.lit(2.0), i).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "c_id",
    vec_col: str = "cv",
    nprobe: int = 1,
) -> DataFrame:
    """IVF coarse quantization: attach the `nprobe` nearest centroid
    cells to each vector (nprobe=1 ≡ cell assignment).

    `centroids` is (cell, ce) — a TINY table (8-64k rows at any scale),
    broadcast; cost is |vectors| × |centroids| dot products, embarrass-
    ingly parallel, no shuffle. Ranking uses the ROUNDED dot with cell
    id as tiebreak so assignment is engine-independent (the DuckDB
    oracle reproduces it exactly)."""
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "__sim", dround(dot(vec_col, "ce"), SCORE_DIGITS)
    )
    w = W.partitionBy(id_col).orderBy(F.col("__sim").desc(), F.col("cell"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .drop("__rn", "__sim", "ce")
    )


def ivf_topk(vectors: DataFrame, queries: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF ANN: vectors are bucketed by nearest centroid ONCE (at scale:
    precomputed at write time and stored as a partition/cluster column);
    each query probes its IVF_NPROBE nearest cells and runs exact cosine
    only against those cells' members — the inverted-file analog of the
    sign-LSH path, with recall tuned by nprobe instead of plane count."""
    va = ivf_assign(vectors, centroids, "c_id", "cv", nprobe=1).withColumn(
        "cn", norm("cv")
    )
    qa = ivf_assign(queries, centroids, "q_id", "qv", nprobe=IVF_NPROBE).withColumn(
        "qn", norm("qv")
    )
    pairs = va.join(F.broadcast(qa), "cell").filter(F.col("c_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        dround(dot("qv", "cv") / (F.col("qn") * F.col("cn")), SCORE_DIGITS).alias("cos"),
    )
    # no dedup needed: each candidate lives in exactly ONE cell
    # (nprobe=1 assignment), so a (q_id, c_id) pair matches at most once
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= ANN_K)


def l2sq(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def _fixed_point(c: Column) -> Column:
    """Round to SCORE_DIGITS decimals then scale to an INTEGER — partial
    distances become longs, so the cross-partition SUM is exact integer
    arithmetic and can never drift with aggregation order (what lets
    the DuckDB oracle reproduce ADC distances bit-for-bit)."""
    return F.round(dround(c, SCORE_DIGITS) * F.lit(float(10**SCORE_DIGITS)), 0).cast("long")


def _subvectors(vec_col: str) -> Column:
    """``(m, sub)`` rows, one per PQ subspace: the PQ_SUB-wide slices of
    ``vec_col``, to be selected through ``posexplode``."""
    return F.posexplode(
        F.array(*[F.slice(vec_col, mi * PQ_SUB + 1, PQ_SUB) for mi in range(PQ_M)])
    )


def pq_codebooks(vectors: DataFrame, refine_iters: int = 0) -> DataFrame:
    """PQ codebooks over `vectors` (c_id, cv): subspace `mi`'s codes
    start as the `mi`-th subvectors of the first PQ_CODES vectors by id
    (the same deterministic-quantizer convention as ivf_topk's
    centroids); `refine_iters` Lloyd rounds train them — per round, ONE
    encode pass assigns every (vector, subspace) to its nearest code
    and ONE (m, code, dim)-keyed partial-aggregated shuffle computes the
    new means (all PQ_M subspaces train in the same two jobs; per-round
    driver collect is m·k·d_sub doubles, independent of table size). Means round to SCORE_DIGITS
    decimals so the trained codebook is as engine-deterministic as the
    init. Output: (m, code, sub) — m·k rows, tiny at any scale →
    broadcast."""
    base = vectors.orderBy("c_id").limit(PQ_CODES)
    # global (unpartitioned) window: intentional and bounded — it runs
    # over the limit(PQ_CODES) frame above, i.e. at most 16 rows on one
    # task, never the vector table. (Source of the benign "No Partition
    # Defined" WindowExec log line.)
    coded = base.withColumn(
        "code",
        F.row_number().over(W.orderBy("c_id")).cast("int") - 1,
    )
    cb = coded.select("code", _subvectors("cv").alias("m", "sub")).select("m", "code", "sub")
    if not refine_iters:
        return cb
    spark = vectors.sparkSession
    sub = vectors.select("c_id", _subvectors("cv").alias("m", "vsub"))
    for _ in range(refine_iters):
        # previous codebook state, m·k rows — a code that receives ZERO
        # assignments this round keeps its previous centroid (standard
        # Lloyd empty-cluster handling) so the codebook never shrinks
        # below the documented k codes per subspace
        prev: dict[tuple[int, int], list[float]] = {
            (r["m"], r["code"]): list(r["sub"]) for r in cb.collect()
        }
        enc = pq_encode(vectors, cb)
        rows = (
            enc.join(sub, ["c_id", "m"])
            .select("m", "code", F.posexplode("vsub").alias("pos", "x"))
            .groupBy("m", "code", "pos")
            .agg(F.avg("x").alias("mean"))
            .collect()
        )
        by_mc: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            mean = dround_py(r["mean"], SCORE_DIGITS)
            by_mc.setdefault((r["m"], r["code"]), {})[r["pos"]] = mean
        data = [
            (
                mi,
                code,
                [by_mc[(mi, code)][p] for p in sorted(by_mc[(mi, code)])]
                if (mi, code) in by_mc
                else prev[(mi, code)],
            )
            for (mi, code) in sorted(prev)  # every existing code survives
        ]
        cb = spark.createDataFrame(data, "m int, code int, sub array<double>")
    return cb


def pq_encode(vectors: DataFrame, codebook: DataFrame) -> DataFrame:
    """PQ encoding of `vectors` (c_id, cv): per vector and subspace, the
    nearest code (rounded L2, code id tiebreak). Map-only against the
    broadcast codebook — at scale this runs at write time and the
    8-byte code row replaces the 256-byte float vector (32× compression
    here)."""
    sub = vectors.select("c_id", _subvectors("cv").alias("m", "vsub"))
    scored = sub.join(F.broadcast(codebook), "m").withColumn(
        "__d", _fixed_point(l2sq("vsub", "sub"))
    )
    w = W.partitionBy("c_id", "m").orderBy("__d", "code")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("c_id", "m", "code")
    )


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    refine_iters: int = 0,
) -> DataFrame:
    """PQ ANN via asymmetric distance computation: candidates live as
    PQ_M-byte PQ codes; each query precomputes an (PQ_M × PQ_CODES)
    partial-distance table against the codebook, and the approximate
    distance of a candidate is a table-lookup SUM over its codes — no
    candidate vector is ever touched at query time.

    Scale shape: encode is write-time and map-only; the per-query
    distance table is q·PQ_M·PQ_CODES rows (KBs) → broadcast; the query-
    time join is codes ⋈ table on (m, code) followed by one partial-
    aggregated (q_id, c_id) sum. Distances are fixed-point longs, so
    the sum is exact and engine-independent."""
    codebook = pq_codebooks(vectors, refine_iters=refine_iters)
    encoded = pq_encode(vectors, codebook)
    qsub = queries.select("q_id", _subvectors("qv").alias("m", "qsub"))
    dtable = qsub.join(F.broadcast(codebook), "m").select(
        "q_id", "m", "code", _fixed_point(l2sq("qsub", "sub")).alias("pd")
    )
    scored = (
        encoded.join(F.broadcast(dtable), ["m", "code"])
        .filter(F.col("c_id") != F.col("q_id"))
        .groupBy("q_id", "c_id")
        .agg(F.sum("pd").alias("__adist"))
    )
    w = W.partitionBy("q_id").orderBy("__adist", "c_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "q_id",
            "c_id",
            dround(F.col("__adist") / F.lit(float(10**SCORE_DIGITS)), SCORE_DIGITS).alias(
                "adist"
            ),
            "rnk",
        )
    )


def ivf_pq_topk(vectors: DataFrame, queries: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF-PQ: the production billion-vector shape — IVF restricts
    WHICH candidates are scored (each query probes IVF_NPROBE cells), PQ
    decides HOW they are scored (ADC over PQ_M-byte codes, candidate
    vectors never touched at query time).

    Write-time: cell assignment + PQ encoding, both map-only against
    broadcast tables — the stored row is (cell, m codes), ~m bytes.
    Query-time: broadcast the per-query distance tables, join the
    probed cells' code rows, one partial-aggregated (q, c) integer sum.
    Memory per candidate and bytes scanned per query both drop by the
    compression factor versus plain IVF."""
    codebook = pq_codebooks(vectors)
    cells = ivf_assign(vectors, centroids, "c_id", "cv", nprobe=1).select(
        "c_id", "cell"
    )
    encoded = pq_encode(vectors, codebook).join(cells, "c_id")
    qcells = ivf_assign(
        queries, centroids, "q_id", "qv", nprobe=IVF_NPROBE
    ).select("q_id", "cell")
    qsub = queries.select("q_id", _subvectors("qv").alias("m", "qsub"))
    dtable = (
        qsub.join(F.broadcast(codebook), "m")
        .select("q_id", "m", "code", _fixed_point(l2sq("qsub", "sub")).alias("pd"))
        .join(F.broadcast(qcells), "q_id")  # one dtable row set per probed cell
    )
    scored = (
        encoded.join(F.broadcast(dtable), ["cell", "m", "code"])
        .filter(F.col("c_id") != F.col("q_id"))
        .groupBy("q_id", "c_id")
        .agg(F.sum("pd").alias("__adist"))
    )
    w = W.partitionBy("q_id").orderBy("__adist", "c_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ANN_K)
        .select(
            "q_id",
            "c_id",
            dround(F.col("__adist") / F.lit(float(10**SCORE_DIGITS)), SCORE_DIGITS).alias(
                "adist"
            ),
            "rnk",
        )
    )


def banded_lsh_pairs(vectors: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Candidate pairs (a < b) of `vectors` (vec_id, v) colliding in ANY
    sign-LSH band — the OR-amplified construction (MinHash-LSH's shape
    applied to random hyperplanes), replacing an all-pairs product for
    embedding near-dup detection.

    Each vector computes NEARDUP_BANDS·NEARDUP_BAND_PLANES plane dots in ONE map-only
    pass (each dot evaluated exactly once: the per-band fold walks only
    that band's slice of the single 2-D plane literal), posexplodes its
    band hashes, and pairs form through dedup._bucket_pairs — including
    its hot-bucket guard (``max_bucket``), since embedding clusters can
    make a band bucket go hot exactly like stop-shingles do."""
    from .common import const_array2d
    from .dedup import _bucket_pairs

    band_size = NEARDUP_BAND_PLANES
    planes = lsh_planes(n_planes=NEARDUP_BANDS * band_size)
    # 64 planes × 64 dims = 4096 per-element nodes if built as nested
    # CreateArray — the single folded literal keeps the plan walkable
    planes_lit = const_array2d(planes)
    v = F.col("v")
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(NEARDUP_BANDS - 1)),
        lambda b: F.aggregate(
            F.slice(planes_lit, b * band_size + 1, band_size),
            F.lit(0).cast("long"),
            lambda acc, p: acc * 2
            + F.when(dot(v, p) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
        ),
    )
    buckets = vectors.select(
        F.col("vec_id"), F.posexplode(band_hashes).alias("band", "h")
    ).select("vec_id", F.concat_ws("#", F.col("band"), F.col("h")).alias("bucket"))
    return _bucket_pairs(buckets, "vec_id", max_bucket=max_bucket).distinct()


def lsh_topk(vectors: DataFrame, queries: DataFrame) -> DataFrame:
    """ANN: exact cosine restricted to same-LSH-bucket candidates.
    Norms precomputed per side (see brute_force_topk)."""
    vb = vectors.withColumn("bucket", lsh_bucket("cv")).withColumn("cn", norm("cv"))
    qb = queries.withColumn("bucket", lsh_bucket("qv")).withColumn("qn", norm("qv"))
    pairs = vb.join(F.broadcast(qb), "bucket").filter(F.col("c_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        dround(dot("qv", "cv") / (F.col("qn") * F.col("cn")), SCORE_DIGITS).alias("cos"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= ANN_K)


# Johnson–Lindenstrauss random projection: 64 → 16 dims. Ranking by
# cosine in the projected space approximately preserves the full-space
# ranking (JL lemma), so a coarse candidate scan costs dim/RP_DIM = 4×
# less arithmetic and shuffles 4× fewer bytes per vector; the exact
# re-rank touches only RP_COARSE candidates per query. At 100 TB this is
# the standard prefix of an ANN pipeline (project → coarse → re-rank),
# composable with IVF (project inside each probed cell).
RP_DIM = 16
RP_COARSE = 10  # coarse candidates per query that the exact re-rank sees


def random_project(vec_col: str | Column) -> Column:
    """Map-only JL projection: array of dot(v, plane_j) for RP_DIM
    deterministic integer-derived planes (functions/hashing.py — the
    same literals are inlined into the DuckDB oracle, so both engines
    compute bit-identical projections). No scaling factor: cosine is
    scale-invariant, so 1/sqrt(RP_DIM) would cancel anyway.

    The 16×64 plane matrix enters the plan as ONE constant-folded
    literal (from_json over a literal string — ConstantFolding
    evaluates it to a single ArrayType Literal at optimization time),
    not as nested CreateArray trees: measured, a plan carrying 1024
    per-element literal nodes spends seconds in driver-side analysis/
    codegen before any row moves (and a fully unrolled product-sum
    tree is worse still — it blows past the 64 KB codegen method limit
    and falls back to interpreted eval). JSON round-trips the shortest
    double repr exactly, so the folded literal is bit-identical to the
    plane constants the oracle SQL inlines. The fold order of dot()
    matches DuckDB's list_dot_product summation order."""
    from .common import const_array2d

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    planes = lsh_planes(n_planes=RP_DIM)
    return F.transform(const_array2d(planes), lambda p: dot(v, p))


def rp_rerank_topk(vectors: DataFrame, queries: DataFrame) -> DataFrame:
    """Coarse-then-exact top-k: rank ALL candidates by cosine in the
    RP_DIM projected space (cheap scan), keep the RP_COARSE best per
    query, then exact-cosine re-rank only those in the full space.

    `vectors`: (c_id, cv); `queries`: (q_id, qv) — queries are tiny and
    broadcast twice (projected for the coarse scan, full for the
    re-rank); the big side is never shuffled: coarse scoring is
    map-only against the broadcast, and the re-rank joins the
    RP_COARSE·|queries| candidate ids back to `vectors` via one
    broadcast hash join. Both rankings order by the ROUNDED cosine
    with c_id tiebreak (engine-independent, see brute_force_topk).

    The projected frame (cr + its norm) materializes EAGERLY before the
    coarse join: Catalyst's projection collapse would otherwise inline
    the 16×64 HOF projection into the pair-level select and recompute
    it per PAIR instead of per VECTOR — measured 2.97s vs 0.67s
    brute-force at sf0.1, i.e. the dim-reduce stage costing more than
    what it optimizes away. At 100 TB the projection is written at
    ingest (like PQ codes); the checkpoint is the in-query analog of
    that write-time materialization. The per-pair float expression
    dot/(qrn·crn) keeps the oracle's exact operation order (each norm
    is its own sqrt, multiplied after), so rounding stays bit-equal."""
    vp = pin(
        vectors.select("c_id", random_project("cv").alias("cr"))
        .withColumn("crn", norm("cr"))
    )
    qp = queries.select("q_id", "qv", random_project("qv").alias("qr"))
    coarse = (
        vp.crossJoin(F.broadcast(qp.select("q_id", F.col("qr").alias("qr"), norm("qr").alias("qrn"))))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            dround(dot("qr", "cr") / (F.col("qrn") * F.col("crn")), SCORE_DIGITS).alias(
                "ccos"
            ),
        )
    )
    cw = W.partitionBy("q_id").orderBy(F.col("ccos").desc(), F.col("c_id"))
    cand = (
        coarse.withColumn("crn", F.row_number().over(cw))
        .filter(F.col("crn") <= RP_COARSE)
        .select("q_id", "c_id")
    )
    # candidates are RP_COARSE·|queries| rows → broadcast them into the
    # big vector table; queries' full vectors broadcast once more
    exact = (
        vectors.join(F.broadcast(cand), "c_id")
        .join(F.broadcast(queries.withColumn("qn", norm("qv"))), "q_id")
        .select(
            "q_id",
            "c_id",
            dround(dot("qv", "cv") / (F.col("qn") * norm("cv")), SCORE_DIGITS).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return exact.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= ANN_K)
