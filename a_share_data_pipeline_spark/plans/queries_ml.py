"""ML primitives — the top principal component of the embedding
covariance via power iteration, and the supervised pair: categorical
Naive Bayes train/apply and the decision-stump best-split search, all
fully deterministic across engines.

PCA at corpus scale is a two-phase shape: (1) ONE data-sized pass
builds the d×d Gram/covariance matrix (map-side products, the shuffle
carries d² rows — never the data), then (2) the iteration runs on the
d²-row matrix frame alone. Floats never accumulate across rows:
components quantize to integer micro-units up front, the covariance
numerator n·Σqᵢqⱼ − SᵢSⱼ is exact 128-bit integer, and each power-
iteration round re-normalizes the rank vector back onto an integer ppm
grid (the PageRank/k-core integer-encode discipline) — so the only
doubles are one fixed-shape ratio per matrix entry and per round,
bit-identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.rounding import dround
from ..session import pin
from ..sources import load_table
from .catalog import register

_Q = 1_000_000  # component quantization: micro-units
_PPM = 1_000_000  # iteration grid: vector entries live in [-1e6, 1e6]
_ROUNDS = 8  # fixed budget, NOT convergence: with the synthetic
# corpus's tiny eigengap (λ2/λ1 ≈ 0.93-0.99, measured) no practical
# round count converges plain power iteration, so the operator's
# contract is "the 8-round iterate" and the output carries delta_ppm
# (the last round's max movement) as the convergence diagnostic —
# callers with a real spectrum tune rounds / add deflation


def _pca_sql() -> str:
    rounds = []
    prev = "v0"
    for r in range(1, _ROUNDS + 1):
        rounds.append(
            f"""
r{r} AS MATERIALIZED (
  SELECT g.i, SUM(g.g * v.v) AS u
  FROM g JOIN {prev} v ON v.j = g.j
  GROUP BY g.i
),
m{r} AS (SELECT MAX(ABS(u)) AS m FROM r{r}),
v{r} AS (
  SELECT r.i AS j,
         CAST(ROUND(CAST(r.u AS DOUBLE) / CAST(mm.m AS DOUBLE) * {_PPM}, 0)
              AS BIGINT) AS v
  FROM r{r} r CROSS JOIN m{r} mm
)"""
        )
        prev = f"v{r}"
    rounds_sql = ",".join(rounds)
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * {_Q}, 0) AS BIGINT) AS qi,
         embedding
  FROM embeddings
),
gram AS (
  SELECT i, j, CAST(SUM(CAST(qi AS HUGEINT) * qj) AS HUGEINT) AS sxy
  FROM (
    SELECT a.i, a.qi,
           generate_subscripts(a.embedding, 1) AS j,
           CAST(ROUND(CAST(unnest(a.embedding) AS DOUBLE) * {_Q}, 0) AS BIGINT) AS qj
    FROM q a
  )
  GROUP BY i, j
),
marg AS (
  SELECT i, CAST(SUM(qi) AS HUGEINT) AS s,
         CAST(COUNT(*) AS HUGEINT) AS n
  FROM q GROUP BY i
),
cov AS MATERIALIZED (
  SELECT gr.i, gr.j, ma.n * gr.sxy - ma.s * mb.s AS num
  FROM gram gr
  JOIN marg ma ON ma.i = gr.i
  JOIN marg mb ON mb.i = gr.j
),
cmax AS (SELECT MAX(ABS(num)) AS m FROM cov),
g AS MATERIALIZED (
  SELECT i, j,
         CAST(ROUND(CAST(num AS DOUBLE) / CAST(cm.m AS DOUBLE) * {_PPM}, 0)
              AS BIGINT) AS g
  FROM cov CROSS JOIN cmax cm
),
v0 AS (SELECT DISTINCT i AS j, CAST({_PPM} AS BIGINT) AS v FROM g),
{rounds_sql},
dd AS (
  SELECT MAX(ABS(a.v - b.v)) AS d
  FROM v{_ROUNDS} a JOIN v{_ROUNDS - 1} b ON b.j = a.j
)
SELECT CAST(a.j AS INT) AS dim, CAST(a.v AS BIGINT) AS loading_ppm,
       CAST(dd.d AS BIGINT) AS delta_ppm
FROM v{_ROUNDS} a CROSS JOIN dd
"""


_PCA_SQL = _pca_sql()


def _pca_gram_marg(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(gram, marg) for the PCA phase-1 pass.

    Rewritten (guide §4.2 "hand whole batches to vectorized
    native code", §2.3 "aggregate before you shuffle"): the old shape
    double-posexploded n·d² rows (8.2M at sf0.1) through a JVM
    decimal-sum hash aggregate — measured 2.9s of the query's 4.9s.
    Now the quantization stays a JVM expression (element-wise
    ``transform`` of the SAME dround(x·1e6) the explode applied, so
    cross-engine rounding is untouched), ONLY the d-long int64 array
    crosses the Arrow boundary, and each task reduces its whole slice
    to one d² partial-sum batch (NumPy int64 matmul, exact — see
    _gram_partials). Equality with the explode formulation is pinned
    by tests/test_analytics_ops.py::test_pca_gram_arrow_matches_explode and the
    unchanged DuckDB oracle. marg (per-dimension Σqᵢ and n) stays on a
    single posexplode — d·n rows, trivial."""
    # the kernel is NESTED so cloudpickle ships it by value: a
    # module-level function pickles by reference and the Python worker
    # would have to import this package (not guaranteed — the driver
    # adds the repo to sys.path at runtime, which workers never see)
    def _gram_partials(it):
        """mapInArrow kernel for the Gram pass (guide §4.2): the
        input is ONE int64 column ``qv`` (the JVM-quantized embedding — the
        exact same dround(x·1e6) values the old double-posexplode produced,
        so no float op ever happens in Python), and the output is one
        (i, j, partial-sum) batch of d² rows per task.

        Exactness at ANY scale, proven by construction: per Arrow batch
        |qi·qj| ≤ 1e12 and batch rows ≤ arrow.maxRecordsPerBatch (10k
        default) so the NumPy int64 matmul's per-entry sum is ≤ 1e16 ≪ 2⁶³
        — no wrap; across batches the accumulator is object-dtype (Python
        ints, arbitrary precision); the partial leaves as decimal(26,0)
        (≤ 1e26 covers 1e14 rows/task) and Spark's decimal(38) sum merges
        the per-task partials — the identical integer Σqᵢqⱼ the old
        decimal-sum aggregate computed, now with d² rows per task crossing
        the shuffle instead of n·d² rows crossing the explode+aggregate."""
        import numpy as np
        import pyarrow as pa

        acc = None
        d = 0
        for batch in it:
            if batch.num_rows == 0:
                continue
            lst = batch.column(0)
            q = np.asarray(lst.flatten(), dtype=np.int64).reshape(batch.num_rows, -1)
            d = q.shape[1]
            g = q.T @ q
            if acc is None:
                acc = g.astype(object)
            else:
                acc += g
        if acc is None:
            return
        i_idx = np.repeat(np.arange(1, d + 1), d)
        j_idx = np.tile(np.arange(1, d + 1), d)
        vals = [int(v) for v in acc.reshape(-1)]
        yield pa.record_batch(
            [
                pa.array(i_idx, type=pa.int32()),
                pa.array(j_idx, type=pa.int32()),
                pa.array(vals, type=pa.decimal128(26, 0)),
            ],
            names=["i", "j", "p"],
        )

    qarr = emb.select(
        F.transform(
            "embedding", lambda x: dround(x.cast("double") * _Q, 0).cast("bigint")
        ).alias("qv")
    )
    d38 = "decimal(38,0)"
    gram = (
        qarr.mapInArrow(_gram_partials, "i int, j int, p decimal(26,0)")
        .groupBy("i", "j")
        .agg(F.sum("p").cast(d38).alias("sxy"))
    )
    q = emb.select(F.posexplode("embedding").alias("i0", "x")).select(
        (F.col("i0") + 1).alias("i"),
        dround(F.col("x").cast("double") * _Q, 0).cast("bigint").alias("qi"),
    )
    marg = q.groupBy("i").agg(
        F.sum("qi").cast(d38).alias("s"),
        F.count(F.lit(1)).cast(d38).alias("n"),
    )
    return gram, marg


@register(
    "feature_pca_power",
    _PCA_SQL,
    doc=(
        "top principal component of the embedding covariance by "
        f"fixed-budget ({_ROUNDS}-round) power iteration — the PCA "
        "building block for whitening/dim-reduction in training-data "
        "pipelines. The contract is the ITERATE, not convergence "
        "(this corpus's eigengap λ2/λ1≈0.93-0.99 makes plain power "
        "iteration spectrum-limited at any budget); delta_ppm — the "
        "last round's max coordinate movement — ships in the output "
        "as the convergence diagnostic, so a caller can see exactly "
        "how settled the direction is and tune rounds or add "
        "deflation. "
        "Phase 1 is the ONLY data-sized pass: components quantize to "
        "integer micro-units, a double-posexplode emits the n·d² "
        "pairwise products map-side, and partial aggregation bounds "
        "the shuffle at d² rows; the covariance numerator "
        "n·Σqᵢqⱼ−SᵢSⱼ is exact 128-bit integer. Phase 2 never "
        "touches the data again: the d²-entry matrix rescales once "
        "onto a ±1e6 integer grid (one double ratio per entry, "
        "bit-identical both engines), and each unrolled round is an "
        "exact int64 matrix·vector (g≤1e6 · v≤1e6 · d=64 ≪ 2⁶³) "
        "re-normalized by max|u| back onto the ppm grid — the "
        "PageRank integer-encode discipline, so the iterate can "
        "NEVER drift across engines. The matrix frame is multi-use "
        "across rounds → checkpointed once (the CC discipline); the "
        "single-use v chain pipelines; vectors broadcast every round"
    ),
)
def feature_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    # width-clone A/B (the graph_pagerank device): a d-derived
    # trimmed-width clone for the post-gram iteration measured PARITY
    # in a quiet-window fresh-subprocess interleaved A/B (clone mins
    # 2.611/2.520 vs plain 2.553/2.781 — split rounds, inside noise;
    # receipt plans/r14/ab_receipts/feature_pca_power_clone.jsonl), so
    # the simpler single-session form stays — with the Arrow gram the
    # iteration's 4096-row frames are no longer the dominant cost.
    emb = load_table(spark, sf_dir, "embeddings")
    # Gram via the Arrow int64-matmul kernel — exact-integer
    # identical to the old n·d² double-posexplode + decimal aggregate
    # (see _pca_gram_marg; the 128-bit overflow discipline is preserved
    # end-to-end: int64 per batch, Python int per task,
    # decimal(26)→decimal(38) across tasks)
    gram, marg = _pca_gram_marg(emb)
    ma = marg.select(F.col("i"), F.col("s").alias("s_i"), F.col("n"))
    mb = marg.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    cov = (
        gram.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .select(
            "i",
            "j",
            (F.col("n") * F.col("sxy") - F.col("s_i") * F.col("s_j")).alias("num"),
        )
    )
    cmax = cov.agg(F.max(F.abs(F.col("num"))).alias("m"))
    g = cov.crossJoin(F.broadcast(cmax)).select(
        "i",
        "j",
        dround(F.col("num").cast("double") / F.col("m").cast("double") * _PPM, 0)
        .cast("bigint")
        .alias("g"),
    )
    # fixed-budget power iteration on the d²-row matrix frame; the
    # matrix is multi-use across rounds → checkpoint it once (the CC
    # discipline), then the single-use v chain pipelines
    g = pin(g)
    v = g.select(F.col("i").alias("j")).distinct().select(
        "j", F.lit(_PPM).cast("bigint").alias("v")
    )
    prev = None
    for _ in range(_ROUNDS):
        u = (
            g.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("v")).alias("u"))
        )
        m = u.agg(F.max(F.abs(F.col("u"))).alias("m"))
        prev = v
        v = pin(
            u.crossJoin(F.broadcast(m))
            .select(
                F.col("i").alias("j"),
                dround(
                    F.col("u").cast("double") / F.col("m").cast("double") * _PPM, 0
                )
                .cast("bigint")
                .alias("v"),
            )
            # v is re-used by the NEXT round's broadcast AND (last
            # round) by the delta join — without cutting the chain
            # every broadcast re-executes the whole iteration prefix
            # (measured 77s → ~15s at sf0.01); the frame is d=64 rows
        )
    dd = (
        v.join(prev.select("j", F.col("v").alias("pv")), "j")
        .agg(F.max(F.abs(F.col("v") - F.col("pv"))).alias("d"))
    )
    return v.crossJoin(F.broadcast(dd)).select(
        F.col("j").cast("int").alias("dim"),
        F.col("v").cast("bigint").alias("loading_ppm"),
        F.col("d").cast("bigint").alias("delta_ppm"),
    )


# ---------------------------------------------------------------------------
# Naive Bayes train + apply + confusion matrix
# ---------------------------------------------------------------------------

_NB_CLASSES = ("A", "N", "R")  # fixed literal order: every cross-class
# expression (scores, the argmax CASE) chains in THIS order on both
# engines

# deterministic 80/20 split: md5 parity over the row key
_NB_TEST = (
    "(('0x' || substring(md5('nb|' || CAST(l_orderkey AS VARCHAR) || '|' ||"
    " CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT % 5) = 0"
)

_NB_FEATS_SQL = """
  l_linestatus AS f1,
  CAST(CAST(l_quantity AS BIGINT) // 10 AS BIGINT) AS f2,
  CAST(CAST(ROUND(l_discount * 100, 0) AS BIGINT) // 2 AS BIGINT) AS f3
"""


def _nb_sql() -> str:
    # per-feature likelihood tables pivot classes into columns; the
    # per-row score is a FIXED 4-term IEEE chain per class
    score = {}
    for c in _NB_CLASSES:
        score[c] = (
            f"(tot_{c} * 1.0 / n_train)"
            f" * ((c1_{c} + 1.0) / (tot_{c} + v1))"
            f" * ((c2_{c} + 1.0) / (tot_{c} + v2))"
            f" * ((c3_{c} + 1.0) / (tot_{c} + v3))"
        )
    f_tables = []
    for k in (1, 2, 3):
        cols = ", ".join(
            f"SUM(CASE WHEN label = '{c}' THEN 1 ELSE 0 END) AS c{k}_{c}"
            for c in _NB_CLASSES
        )
        f_tables.append(
            f"t{k} AS (SELECT f{k}, {cols} FROM train GROUP BY f{k})"
        )
    return f"""
WITH base AS (
  SELECT l_returnflag AS label, {_NB_FEATS_SQL},
         {_NB_TEST} AS is_test
  FROM lineitem
),
train AS (SELECT * FROM base WHERE NOT is_test),
{','.join(f_tables)},
cls AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
         {', '.join(f"SUM(CASE WHEN label = '{c}' THEN 1 ELSE 0 END) AS tot_{c}" for c in _NB_CLASSES)},
         (SELECT COUNT(DISTINCT f1) FROM train) AS v1,
         (SELECT COUNT(DISTINCT f2) FROM train) AS v2,
         (SELECT COUNT(DISTINCT f3) FROM train) AS v3
  FROM train
),
scored AS (
  SELECT b.label,
         CASE WHEN {score['A']} >= {score['N']} AND {score['A']} >= {score['R']} THEN 'A'
              WHEN {score['N']} >= {score['R']} THEN 'N'
              ELSE 'R' END AS prediction
  FROM base b
  JOIN t1 ON t1.f1 = b.f1
  JOIN t2 ON t2.f2 = b.f2
  JOIN t3 ON t3.f3 = b.f3
  CROSS JOIN cls
  WHERE b.is_test
)
SELECT label, prediction, CAST(COUNT(*) AS BIGINT) AS n
FROM scored GROUP BY label, prediction
"""


_NB_SQL = _nb_sql()


@register(
    "ml_naive_bayes_confusion",
    _NB_SQL,
    doc=(
        "categorical Naive Bayes, trained and applied in one "
        "declarative pass: deterministic md5 80/20 split, per-feature "
        "Laplace-smoothed likelihood tables built by ONE conditional "
        "aggregation each with classes pivoted into COLUMNS, then "
        "every test row joins the three broadcast-size tables + the "
        "1-row class-prior frame and scores each class as a FIXED "
        "4-term IEEE chain over exact integer counts — bit-identical "
        "doubles, argmax by a literal-order CASE (ties resolve to the "
        "earlier class, deterministically). Output is the test-split "
        "confusion matrix (exact integer counts). The synthetic "
        "labels are independent of the features, so accuracy sits at "
        "chance — the witness is the train/apply machinery, which is "
        "label-distribution-agnostic. At scale: likelihood tables are "
        "O(values×classes) broadcasts; scoring is map-only"
    ),
)
def ml_naive_bayes_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    is_test = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("nb|"),
                        F.col("l_orderkey").cast("string"),
                        F.lit("|"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 5
        == 0
    )
    base = pin(li.select(
        F.col("l_returnflag").alias("label"),
        F.col("l_linestatus").alias("f1"),
        (F.col("l_quantity").cast("bigint") / 10).cast("bigint").alias("f2"),
        (dround(F.col("l_discount") * 100, 0).cast("bigint") / 2)
        .cast("bigint")
        .alias("f3"),
        is_test.alias("is_test"),
    ))  # consumers: three likelihood
    # tables, the class-prior frame, and the scoring pass
    train = base.filter(~F.col("is_test"))
    tabs = {}
    for k in (1, 2, 3):
        tabs[k] = train.groupBy(f"f{k}").agg(
            *[
                F.sum(F.when(F.col("label") == c, 1).otherwise(0)).alias(f"c{k}_{c}")
                for c in _NB_CLASSES
            ]
        )
    vs = train.agg(
        *[F.count_distinct(F.col(f"f{k}")).alias(f"v{k}") for k in (1, 2, 3)]
    )
    cls = train.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train"),
        *[
            F.sum(F.when(F.col("label") == c, 1).otherwise(0)).alias(f"tot_{c}")
            for c in _NB_CLASSES
        ],
    ).crossJoin(F.broadcast(vs))
    test = (
        base.filter(F.col("is_test"))
        .join(F.broadcast(tabs[1]), "f1")
        .join(F.broadcast(tabs[2]), "f2")
        .join(F.broadcast(tabs[3]), "f3")
        .crossJoin(F.broadcast(cls))
    )

    def score(c: str) -> F.Column:
        return (
            (F.col(f"tot_{c}") * F.lit(1.0) / F.col("n_train"))
            * ((F.col(f"c1_{c}") + F.lit(1.0)) / (F.col(f"tot_{c}") + F.col("v1")))
            * ((F.col(f"c2_{c}") + F.lit(1.0)) / (F.col(f"tot_{c}") + F.col("v2")))
            * ((F.col(f"c3_{c}") + F.lit(1.0)) / (F.col(f"tot_{c}") + F.col("v3")))
        )

    a, n, r = (score(c) for c in _NB_CLASSES)
    pred = (
        F.when((a >= n) & (a >= r), F.lit("A"))
        .when(n >= r, F.lit("N"))
        .otherwise(F.lit("R"))
    )
    return (
        test.select("label", pred.alias("prediction"))
        .groupBy("label", "prediction")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# Decision stump — best Gini split on a literal threshold grid
# ---------------------------------------------------------------------------

_STUMP_THRESHOLDS = tuple(range(10_000_00, 100_000_01, 10_000_00))  # cents:
# a data-independent literal grid ($10k..$100k step $10k) — candidate
# thresholds that never move with the data, so tuning is cost-only

_STUMP_SQL = f"""
WITH base AS (
  SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS x,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
),
cand AS (SELECT unnest(ARRAY{list(_STUMP_THRESHOLDS)}) AS thr),
split AS (
  SELECT c.thr,
         SUM(CASE WHEN b.x < c.thr THEN 1 ELSE 0 END) AS n_l,
         SUM(CASE WHEN b.x < c.thr THEN b.y ELSE 0 END) AS p_l,
         SUM(CASE WHEN b.x >= c.thr THEN 1 ELSE 0 END) AS n_r,
         SUM(CASE WHEN b.x >= c.thr THEN b.y ELSE 0 END) AS p_r
  FROM base b CROSS JOIN cand c
  GROUP BY c.thr
),
scored AS (
  SELECT thr, n_l, p_l, n_r, p_r,
         2.0 * (CAST(p_l AS DOUBLE) * (n_l - p_l) / NULLIF(n_l, 0)
              + CAST(p_r AS DOUBLE) * (n_r - p_r) / NULLIF(n_r, 0))
           / (n_l + n_r) AS gini_w
  FROM split
)
SELECT CAST(thr AS BIGINT) AS threshold_cents,
       CAST(n_l AS BIGINT) AS n_left, CAST(p_l AS BIGINT) AS pos_left,
       CAST(n_r AS BIGINT) AS n_right, CAST(p_r AS BIGINT) AS pos_right,
       ROUND(gini_w, 8) AS gini_weighted,
       CAST(row_number() OVER (ORDER BY gini_w, thr) AS INT) AS rnk
FROM scored
"""


@register(
    "ml_decision_stump",
    _STUMP_SQL,
    doc=(
        "decision-stump training (the boosted-trees primitive): find "
        "the best binary split of price against the is-returned label "
        "over a LITERAL threshold grid — data-independent candidates, "
        "so the operator is one conditional-aggregation scan (the ×10 "
        "candidate fan-out is map-side and constant) producing exact "
        "integer (n, pos) per side per candidate; weighted binary "
        "Gini 2·Σₛ pₛ(nₛ−pₛ)/nₛ / N is a fixed IEEE chain over those "
        "integers, ranked with the threshold as tie-break. All ten "
        "candidates ship with their impurity (rnk 1 = the stump), so "
        "the caller sees the whole split landscape, not a bare argmin"
    ),
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        dround(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("x"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    cand = F.explode(
        F.array(*[F.lit(t).cast("bigint") for t in _STUMP_THRESHOLDS])
    ).alias("thr")
    fanned = base.select("x", "y", cand)
    left = F.col("x") < F.col("thr")
    split = fanned.groupBy("thr").agg(
        F.sum(F.when(left, 1).otherwise(0)).alias("n_l"),
        F.sum(F.when(left, F.col("y")).otherwise(0)).alias("p_l"),
        F.sum(F.when(~left, 1).otherwise(0)).alias("n_r"),
        F.sum(F.when(~left, F.col("y")).otherwise(0)).alias("p_r"),
    )
    nl, pl, nr, pr = (F.col(c) for c in ("n_l", "p_l", "n_r", "p_r"))
    gini = (
        F.lit(2.0)
        * (
            pl.cast("double") * (nl - pl) / F.nullif(nl, F.lit(0))
            + pr.cast("double") * (nr - pr) / F.nullif(nr, F.lit(0))
        )
        / (nl + nr)
    )
    scored = split.select("thr", "n_l", "p_l", "n_r", "p_r", gini.alias("gini_w"))
    w = W.orderBy("gini_w", "thr")
    return scored.select(
        F.col("thr").cast("bigint").alias("threshold_cents"),
        nl.cast("bigint").alias("n_left"),
        pl.cast("bigint").alias("pos_left"),
        nr.cast("bigint").alias("n_right"),
        pr.cast("bigint").alias("pos_right"),
        dround(F.col("gini_w"), 8).alias("gini_weighted"),
        F.row_number().over(w).cast("int").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# K-fold cross-validated stump selection
# ---------------------------------------------------------------------------

_CV_FOLDS = 5

_CV_SQL = f"""
WITH base AS (
  SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS x,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         (('0x' || substring(md5('cv|' || CAST(l_orderkey AS VARCHAR) || '|'
            || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT
          % {_CV_FOLDS}) AS fold
  FROM lineitem
),
cand AS (SELECT unnest(ARRAY{list(_STUMP_THRESHOLDS)}) AS thr),
grp AS (
  SELECT c.thr, b.fold,
         SUM(CASE WHEN b.x < c.thr THEN 1 ELSE 0 END) AS n_l,
         SUM(CASE WHEN b.x < c.thr THEN b.y ELSE 0 END) AS p_l,
         SUM(CASE WHEN b.x >= c.thr THEN 1 ELSE 0 END) AS n_r,
         SUM(CASE WHEN b.x >= c.thr THEN b.y ELSE 0 END) AS p_r
  FROM base b CROSS JOIN cand c
  GROUP BY c.thr, b.fold
),
train AS (
  SELECT thr, fold, n_l, p_l, n_r, p_r,
         SUM(n_l) OVER wt - n_l AS tn_l, SUM(p_l) OVER wt - p_l AS tp_l,
         SUM(n_r) OVER wt - n_r AS tn_r, SUM(p_r) OVER wt - p_r AS tp_r
  FROM grp
  WINDOW wt AS (PARTITION BY thr)
),
scored AS (
  SELECT t.*,
         2.0 * (CASE WHEN tn_l = 0 THEN 0.0
                     ELSE CAST(tp_l AS DOUBLE) * (tn_l - tp_l) / tn_l END
              + CASE WHEN tn_r = 0 THEN 0.0
                     ELSE CAST(tp_r AS DOUBLE) * (tn_r - tp_r) / tn_r END)
           / (tn_l + tn_r) AS train_gini,
         (CASE WHEN 2 * tp_l > tn_l THEN p_l ELSE n_l - p_l END
          + CASE WHEN 2 * tp_r > tn_r THEN p_r ELSE n_r - p_r END) AS correct
  FROM train t
)
SELECT CAST(fold AS INT) AS fold,
       CAST(thr AS BIGINT) AS best_threshold_cents,
       ROUND(train_gini, 8) AS train_gini,
       CAST(n_l + n_r AS BIGINT) AS n_holdout,
       ROUND(correct * 1.0 / (n_l + n_r), 6) AS holdout_acc
FROM (
  SELECT s.*, row_number() OVER (
    PARTITION BY fold ORDER BY train_gini, thr
  ) AS rnk
  FROM scored s
)
WHERE rnk = 1
"""


@register(
    "ml_stump_cv",
    _CV_SQL,
    doc=(
        f"{_CV_FOLDS}-fold cross-validated stump selection — the "
        "model-selection loop on top of ml_decision_stump, still ONE "
        "data-sized scan: rows carry an md5 fold id, the ×10 "
        "candidate fan-out aggregates to a (thr × fold) grid of exact "
        "integer side-counts, and each fold's TRAIN counts are the "
        "thr-partition totals minus its own fold row (the LOO window "
        "device — no second scan, no 5× retrain). Best threshold per "
        "fold minimizes train Gini (fixed IEEE chain, thr tie-break); "
        "the held-out fold scores by majority-class side prediction "
        "(2·p > n integer compares) with accuracy's single division "
        "at emit. Empty train sides contribute zero impurity by the "
        "standard convention — no NULL-ordering divergence"
    ),
)
def ml_stump_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("cv|"),
                        F.col("l_orderkey").cast("string"),
                        F.lit("|"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _CV_FOLDS
    )
    base = li.select(
        dround(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("x"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        fold.alias("fold"),
    )
    cand = F.explode(
        F.array(*[F.lit(t).cast("bigint") for t in _STUMP_THRESHOLDS])
    ).alias("thr")
    fanned = base.select("x", "y", "fold", cand)
    left = F.col("x") < F.col("thr")
    grp = fanned.groupBy("thr", "fold").agg(
        F.sum(F.when(left, 1).otherwise(0)).alias("n_l"),
        F.sum(F.when(left, F.col("y")).otherwise(0)).alias("p_l"),
        F.sum(F.when(~left, 1).otherwise(0)).alias("n_r"),
        F.sum(F.when(~left, F.col("y")).otherwise(0)).alias("p_r"),
    )
    wt = W.partitionBy("thr")
    train = grp.select(
        "thr",
        "fold",
        "n_l",
        "p_l",
        "n_r",
        "p_r",
        (F.sum("n_l").over(wt) - F.col("n_l")).alias("tn_l"),
        (F.sum("p_l").over(wt) - F.col("p_l")).alias("tp_l"),
        (F.sum("n_r").over(wt) - F.col("n_r")).alias("tn_r"),
        (F.sum("p_r").over(wt) - F.col("p_r")).alias("tp_r"),
    )
    tnl, tpl, tnr, tpr = (F.col(c) for c in ("tn_l", "tp_l", "tn_r", "tp_r"))
    gini = (
        F.lit(2.0)
        * (
            F.when(tnl == 0, F.lit(0.0)).otherwise(
                tpl.cast("double") * (tnl - tpl) / tnl
            )
            + F.when(tnr == 0, F.lit(0.0)).otherwise(
                tpr.cast("double") * (tnr - tpr) / tnr
            )
        )
        / (tnl + tnr)
    )
    correct = F.when(2 * tpl > tnl, F.col("p_l")).otherwise(
        F.col("n_l") - F.col("p_l")
    ) + F.when(2 * tpr > tnr, F.col("p_r")).otherwise(F.col("n_r") - F.col("p_r"))
    scored = train.select(
        "thr",
        "fold",
        "n_l",
        "n_r",
        gini.alias("train_gini"),
        correct.alias("correct"),
    )
    wr = W.partitionBy("fold").orderBy("train_gini", "thr")
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") == 1)
        .select(
            F.col("fold").cast("int").alias("fold"),
            F.col("thr").cast("bigint").alias("best_threshold_cents"),
            dround(F.col("train_gini"), 8).alias("train_gini"),
            (F.col("n_l") + F.col("n_r")).cast("bigint").alias("n_holdout"),
            dround(
                F.col("correct") * F.lit(1.0) / (F.col("n_l") + F.col("n_r")), 6
            ).alias("holdout_acc"),
        )
    )


# ---------------------------------------------------------------------------
# Two-feature multiple regression via exact normal equations
# ---------------------------------------------------------------------------

_MR_SQL = """
WITH base AS (
  SELECT CAST(l_quantity AS BIGINT) AS x1,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS x2,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
  FROM lineitem
),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
         CAST(SUM(y) AS HUGEINT) AS sy,
         SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
         SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
         SUM(CAST(x1 AS HUGEINT) * x2) AS s12,
         SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
         SUM(CAST(x2 AS HUGEINT) * y) AS s2y,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM base
),
cent AS (
  SELECT n,
         CAST(n * s11 - s1 * s1 AS DOUBLE) AS a11,
         CAST(n * s12 - s1 * s2 AS DOUBLE) AS a12,
         CAST(n * s22 - s2 * s2 AS DOUBLE) AS a22,
         CAST(n * s1y - s1 * sy AS DOUBLE) AS b1v,
         CAST(n * s2y - s2 * sy AS DOUBLE) AS b2v,
         CAST(n * syy - sy * sy AS DOUBLE) AS sst,
         CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
         CAST(sy AS DOUBLE) AS syd
  FROM m
),
solved AS (
  SELECT n, s1d, s2d, syd, sst,
         (b1v * a22 - b2v * a12) / (a11 * a22 - a12 * a12) AS b1,
         (b2v * a11 - b1v * a12) / (a11 * a22 - a12 * a12) AS b2,
         b1v, b2v
  FROM cent
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND((syd - b1 * s1d - b2 * s2d) / CAST(n AS DOUBLE) / 100.0, 4)
         AS intercept,
       ROUND(b1 / 100.0, 6) AS beta_quantity,
       ROUND(b2 / 100.0, 6) AS beta_discount_pct,
       ROUND((b1 * b1v + b2 * b2v) / sst, 6) AS r2
FROM solved
"""


@register(
    "ml_multiple_regression",
    _MR_SQL,
    doc=(
        "two-feature OLS (price ~ quantity + discount) by the closed-"
        "form normal equations — the multiple-regression upgrade of "
        "agg_stats' single-feature regr_slope: ONE scan accumulates "
        "all nine moments as exact integers (products 128-bit), the "
        "centered Gram entries n·Σxy − ΣxΣy are exact BEFORE their "
        "single double cast, and the 2×2 Cramer solve + R² = "
        "(β·B)/SST are fixed IEEE chains over those bit-identical "
        "doubles. O(1) output from O(n) scan; the shuffle carries one "
        "row. The synthetic price is independent of both features, so "
        "R² is honestly near zero — the witness is the exact solve, "
        "numpy-lstsq-replay tested to 1e-6"
    ),
)
def ml_multiple_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"
    x1 = F.col("l_quantity").cast("bigint")
    x2 = dround(F.col("l_discount") * 100, 0).cast("bigint")
    y = dround(F.col("l_extendedprice") * 100, 0).cast("bigint")
    b = li.select(x1.alias("x1"), x2.alias("x2"), y.alias("y"))
    c = lambda col: F.col(col).cast("decimal(19,0)")  # noqa: E731
    m = b.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x1").cast(d38).alias("s1"),
        F.sum("x2").cast(d38).alias("s2"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum((c("x1") * c("x1")).cast("decimal(22,0)")).alias("s11"),
        F.sum((c("x2") * c("x2")).cast("decimal(22,0)")).alias("s22"),
        F.sum((c("x1") * c("x2")).cast("decimal(22,0)")).alias("s12"),
        F.sum((c("x1") * c("y")).cast("decimal(26,0)")).alias("s1y"),
        F.sum((c("x2") * c("y")).cast("decimal(26,0)")).alias("s2y"),
        F.sum((c("y") * c("y")).cast("decimal(30,0)")).alias("syy"),
    )
    n, s1, s2, sy = (F.col(x) for x in ("n", "s1", "s2", "sy"))
    cent = m.select(
        "n",
        (n * F.col("s11") - s1 * s1).cast("double").alias("a11"),
        (n * F.col("s12") - s1 * s2).cast("double").alias("a12"),
        (n * F.col("s22") - s2 * s2).cast("double").alias("a22"),
        (n * F.col("s1y") - s1 * sy).cast("double").alias("b1v"),
        (n * F.col("s2y") - s2 * sy).cast("double").alias("b2v"),
        (n * F.col("syy") - sy * sy).cast("double").alias("sst"),
        s1.cast("double").alias("s1d"),
        s2.cast("double").alias("s2d"),
        sy.cast("double").alias("syd"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    solved = cent.select(
        "n",
        "s1d",
        "s2d",
        "syd",
        "sst",
        "b1v",
        "b2v",
        ((F.col("b1v") * F.col("a22") - F.col("b2v") * F.col("a12")) / det).alias("b1"),
        ((F.col("b2v") * F.col("a11") - F.col("b1v") * F.col("a12")) / det).alias("b2"),
    )
    return solved.select(
        F.col("n").cast("bigint").alias("n"),
        dround(
            (F.col("syd") - F.col("b1") * F.col("s1d") - F.col("b2") * F.col("s2d"))
            / F.col("n").cast("double")
            / F.lit(100.0),
            4,
        ).alias("intercept"),
        dround(F.col("b1") / 100.0, 6).alias("beta_quantity"),
        dround(F.col("b2") / 100.0, 6).alias("beta_discount_pct"),
        dround(
            (F.col("b1") * F.col("b1v") + F.col("b2") * F.col("b2v")) / F.col("sst"),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Farthest-first traversal (k-center seeding)
# ---------------------------------------------------------------------------

_KC_K = 4  # centers to pick (first = lowest vec_id, then 3 rounds)


def _kc_sql() -> str:
    rounds = []
    prev_centers = "c0"
    for r in range(1, _KC_K):
        rounds.append(
            f"""
d{r} AS MATERIALIZED (
  SELECT q.vec_id, MIN(dd.d2) AS mind2
  FROM (
    SELECT q.vec_id,
           SUM((q.qv[i.i] - c.qv[i.i]) * (q.qv[i.i] - c.qv[i.i])) AS d2
    FROM q
    CROSS JOIN {prev_centers} c
    CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
    GROUP BY q.vec_id, c.vec_id
  ) dd
  JOIN q ON q.vec_id = dd.vec_id
  GROUP BY q.vec_id
),
pick{r} AS (
  SELECT vec_id FROM d{r}
  ORDER BY mind2 DESC, vec_id LIMIT 1
),
c{r} AS (
  SELECT q.vec_id, q.qv FROM q JOIN pick{r} p ON p.vec_id = q.vec_id
  UNION ALL
  SELECT * FROM {prev_centers}
)"""
        )
        prev_centers = f"c{r}"
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS qv
  FROM embeddings
),
c0 AS (
  SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1
),
{','.join(rounds)}
SELECT CAST(vec_id AS BIGINT) AS center_id
FROM {prev_centers}
"""


@register(
    "ml_kcenter_init",
    _kc_sql(),
    doc=(
        f"farthest-first traversal ({_KC_K} centers) — the "
        "deterministic k-center seeding that replaces k-means++'s "
        "randomized D² sampling at scale (same 2-approximation "
        "family, zero RNG): start from the lowest vec_id, then each "
        "round adds the point maximizing its min squared distance to "
        "the chosen set (vec_id tie-break). Distances are exact int64 "
        "over micro-unit quantized components, so every argmax is an "
        "integer compare — the selection sequence can never drift. "
        "Per round: one broadcast of the ≤k chosen vectors against "
        "the corpus (map-side distance, no pair shuffle), one "
        "TakeOrdered(1). Rounds are unrolled (fixed k), each over the "
        "corpus-linear frame — the standard distributed seeding pass "
        "before a Lloyd refinement like kmeans_embeddings"
    ),
)
def ml_kcenter_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = pin(emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: dround(x.cast("double") * 1000000, 0).cast("bigint"),
        ).alias("qv"),
    ))  # consumers: every round's distance pass
    centers = q.orderBy("vec_id").limit(1).select("vec_id", "qv")
    for _ in range(1, _KC_K):
        c = centers.select(
            F.col("vec_id").alias("c_id"), F.col("qv").alias("cv")
        )
        d2 = F.aggregate(
            F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        mind = (
            q.crossJoin(F.broadcast(c))
            .select("vec_id", "qv", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min("d2").alias("mind2"))
        )
        pick = (
            mind.orderBy(F.col("mind2").desc(), "vec_id")
            .limit(1)
            .select("vec_id")
        )
        new_center = q.join(pick, "vec_id").select("vec_id", "qv")
        centers = pin(centers.unionByName(new_center))
        # ^ multi-use across the next round's broadcast — the CC
        # checkpoint discipline keeps each round one small job
    return centers.select(F.col("vec_id").cast("bigint").alias("center_id"))


# ---------------------------------------------------------------------------
# K-NN majority-vote classifier over embeddings
# ---------------------------------------------------------------------------

_KNN_K = 5

_KNN_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv, label AS true_label FROM e WHERE vec_id % 10 = 0),
s AS (
  SELECT q.q_id, c.vec_id AS c_id, c.label,
         ROUND(list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
  FROM q, e c WHERE c.vec_id % 10 <> 0
),
nn AS (
  SELECT q_id, c_id, label, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
  FROM s
),
votes AS (
  SELECT q_id, label, COUNT(*)::BIGINT AS n_votes
  FROM nn WHERE rnk <= {_KNN_K}
  GROUP BY 1, 2
),
pick AS (
  SELECT q_id, label AS pred_label, n_votes,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY n_votes DESC, label) AS vr
  FROM votes
)
SELECT p.q_id, p.pred_label, p.n_votes, q.true_label,
       (p.pred_label = q.true_label)::INT AS correct
FROM pick p JOIN q ON q.q_id = p.q_id
WHERE p.vr = 1
"""


@register(
    "ml_knn_classifier",
    _KNN_SQL,
    doc=(
        "k-NN majority-vote classification over the embedding table — "
        "the zero-training baseline every embedding pipeline ships "
        "first: held-out queries (vec_id %% 10) score against the "
        "reference set with the brute-force rounded-cosine ranking "
        "(the sim_cosine_topk discipline: ranking on the ROUNDED "
        "cosine with c_id tie-break is engine-independent; raw float "
        "ordering is not), the top-5 vote with a deterministic "
        "majority (count desc, label asc), and the prediction joins "
        "back to the true label. Votes and the argmax are exact "
        "integers. Scale: brute force IS the honest baseline lane "
        "(queries broadcast, one pass over the reference vectors, "
        "per-query heap via WindowGroupLimit); the ANN lane "
        "(sim_ann_ivfpq / index_scan) replaces the scorer at corpus "
        "scale, the vote is unchanged. Honest corpus caveat: labels "
        "are feature-independent in the fixture, so accuracy sits at "
        "chance — the witness is the exact vote/tie-break algebra "
        "(the stats_cohens_kappa precedent)"
    ),
)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", SIM.as_double_vec(), "label"
    )
    queries = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("true_label"),
    )
    refs = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), "label"
    )
    top = SIM.brute_force_topk(
        refs.select("c_id", "cv"),
        queries.select("q_id", "qv"),
        k=_KNN_K,
    )
    # No broadcast hints on the label joins: refs is corpus-sized (90%
    # of the embeddings FACT table) and queries is SF-scaled too — the
    # dedup_jaccard_prefix lesson (forced fact-sized broadcasts ship
    # the corpus to every executor at scale). `top` (|queries|·k rows)
    # is the small side; AQE's stats-based planner picks the right
    # strategy per SF (queries_analytics.py policy). Plan-gated by
    # test_knn_classifier_never_hints_a_corpus_broadcast.
    votes = (
        top.join(refs.select("c_id", "label"), "c_id")
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_votes"))
    )
    wv = W.partitionBy("q_id").orderBy(F.col("n_votes").desc(), F.col("label"))
    pick = votes.withColumn("vr", F.row_number().over(wv)).filter(
        F.col("vr") == 1
    )
    return pick.join(
        queries.select("q_id", "true_label"), "q_id"
    ).select(
        "q_id",
        F.col("label").alias("pred_label"),
        "n_votes",
        "true_label",
        (F.col("label") == F.col("true_label")).cast("int").alias("correct"),
    )
