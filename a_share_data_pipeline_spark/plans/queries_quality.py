"""Measurement, maintenance, and monitoring families — windowFunnel
(per-occurrence maximal stage depth), retraction-aware rollup IVM with
scoped min/max repair, LSH dedup quality (precision/recall vs the
exhaustive truth), information-gain feature scoring, deterministic
random-walk corpus sampling, bounded k-core peeling, the integer
two-sample KS statistic, split-conformal prediction intervals, the
seasonal-naive backtest, OOV-rate vocabulary coverage, relational
division, the temporal anti-join, quantile normalization, the weighted
median, Theil inequality decomposition and RFM segmentation, embedding
centroid drift, the bot-regularity screen, and the corpus dedup
report.

Integer arithmetic wherever a sum feeds a compare, dround() on every
emitted double, md5-integer draws for anything "random", unrolled-CTE
oracles for the iterative shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.rounding import dround, iln
from ..session import pin
from ..sources import load_table
from .catalog import register
from .queries_profile import _CAPPED_PAIRS_SQL, _capped_pairs

# ---------------------------------------------------------------------------
# windowFunnel: maximal stage depth per funnel occurrence
# ---------------------------------------------------------------------------

_WF_HOURS = 12
_WF_US = _WF_HOURS * 3600 * 1000000

_WF_SQL = f"""
WITH a AS (
  SELECT user_id, epoch_us(ts) AS e FROM events WHERE event_type = 'signup'
),
b AS (
  SELECT user_id, epoch_us(ts) AS e FROM events WHERE event_type = 'view'
),
c AS (
  SELECT user_id, epoch_us(ts) AS e FROM events WHERE event_type = 'purchase'
),
ab AS (
  SELECT a.user_id, a.e,
         (SELECT MIN(b.e) FROM b
          WHERE b.user_id = a.user_id AND b.e > a.e
            AND b.e <= a.e + {_WF_US}) AS tb
  FROM a
),
abc AS (
  SELECT ab.user_id, ab.e, ab.tb,
         (SELECT MIN(c.e) FROM c
          WHERE c.user_id = ab.user_id AND c.e > ab.tb
            AND c.e <= ab.e + {_WF_US}) AS tc
  FROM ab
),
per_user AS (
  SELECT user_id,
         MAX(1 + CASE WHEN tb IS NULL THEN 0 ELSE 1 END
               + CASE WHEN tc IS NULL THEN 0 ELSE 1 END) AS depth
  FROM abc GROUP BY user_id
)
SELECT CAST(depth AS INTEGER) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM per_user GROUP BY depth
"""


@register(
    "events_window_funnel",
    _WF_SQL,
    doc=(
        f"windowFunnel (the ClickHouse semantics events_funnel's "
        "min-timestamp chain cannot express): EVERY signup occurrence "
        f"opens its own {_WF_HOURS}h window, the funnel advances "
        "through the FIRST strictly-later view then the first "
        "purchase after that view, all inside the opener's window, "
        "and each user reports the maximum depth over all openers — "
        "a user whose early signup leads nowhere but whose later one "
        "converts still counts at depth 3, which the single "
        "first-signup chain misses. No correlated per-row subqueries "
        "on the Spark side: each 'first later event' resolves as a "
        "union of the two stages per user, one strictly-future "
        "RANGE window (1 FOLLOWING .. unbounded on epoch-micros, so "
        "exact-tie events never satisfy the strict inequality), and "
        "a min over the other stage's timestamps — two chained "
        "union+window passes, each one exchange on user_id, never a "
        "self-join of the raw log. The oracle IS the correlated-"
        "subquery definition, so the hash match proves the window "
        "rewrite against the textbook form"
    ),
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", F.unix_micros("ts").alias("e")
    )
    a = base.filter(F.col("event_type") == "signup").select("user_id", "e")
    b = base.filter(F.col("event_type") == "view").select("user_id", "e")
    c = base.filter(F.col("event_type") == "purchase").select("user_id", "e")

    # pass 1: first view strictly after each signup
    f1 = a.select("user_id", "e", F.lit("A").alias("tag")).unionByName(
        b.select("user_id", "e", F.lit("B").alias("tag"))
    )
    w_fut = (
        W.partitionBy("user_id")
        .orderBy("e")
        .rangeBetween(1, W.unboundedFollowing)
    )
    nb = F.min(F.when(F.col("tag") == "B", F.col("e"))).over(w_fut)
    ab = pin(
        f1.select("user_id", "e", "tag", nb.alias("nb"))
        .filter(F.col("tag") == "A")
        .select(
            "user_id",
            "e",
            F.when(F.col("nb") <= F.col("e") + _WF_US, F.col("nb")).alias("tb"),
        )
        # two consumers (the pass-2 pipeline and the no_view re-entry)
        # — materialize once or the whole union+window pass over the
        # log runs twice per action
    )

    # pass 2: first purchase strictly after that view, still inside
    # the opener's window (anchor = tb for ordering, bound = e + T)
    a2 = ab.filter(F.col("tb").isNotNull()).select(
        "user_id",
        F.col("tb").alias("anchor"),
        "e",
        "tb",
        F.lit("A").alias("tag"),
    )
    c2 = c.select(
        "user_id",
        F.col("e").alias("anchor"),
        F.lit(None).cast("long").alias("e"),
        F.lit(None).cast("long").alias("tb"),
        F.lit("C").alias("tag"),
    )
    w_fut2 = (
        W.partitionBy("user_id")
        .orderBy("anchor")
        .rangeBetween(1, W.unboundedFollowing)
    )
    nc = F.min(F.when(F.col("tag") == "C", F.col("anchor"))).over(w_fut2)
    abc = (
        a2.unionByName(c2)
        .select("user_id", "e", "tb", "tag", nc.alias("nc"))
        .filter(F.col("tag") == "A")
        .select(
            "user_id",
            "e",
            "tb",
            F.when(F.col("nc") <= F.col("e") + _WF_US, F.col("nc")).alias("tc"),
        )
    )
    # depth per opener; openers that never found a view re-enter at depth 1
    no_view = ab.filter(F.col("tb").isNull()).select(
        "user_id", F.lit(1).alias("depth")
    )
    depth = abc.select(
        "user_id",
        (
            F.lit(1)
            + F.when(F.col("tb").isNotNull(), 1).otherwise(0)
            + F.when(F.col("tc").isNotNull(), 1).otherwise(0)
        ).alias("depth"),
    ).unionByName(no_view)
    per_user = depth.groupBy("user_id").agg(F.max("depth").alias("depth"))
    return per_user.groupBy(F.col("depth").cast("int").alias("depth")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


# ---------------------------------------------------------------------------
# LSH dedup quality: precision / recall against the exhaustive truth
# ---------------------------------------------------------------------------

_LSHQ_T = 0.5


def _lshq_sql() -> str:
    from .queries_llm import _minhash_ctes

    return f"""
WITH {_minhash_ctes()},
truth AS (
  SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS n_inter
  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
  GROUP BY 1, 2
),
truthj AS (
  SELECT t.a, t.b FROM truth t
  JOIN counts ca ON ca.doc_id = t.a
  JOIN counts cb ON cb.doc_id = t.b
  WHERE t.n_inter / (ca.n_sh + cb.n_sh - t.n_inter) >= {_LSHQ_T!r}
),
verifiedj AS (
  SELECT i.a, i.b FROM inter i
  JOIN counts ca ON ca.doc_id = i.a
  JOIN counts cb ON cb.doc_id = i.b
  WHERE i.n_inter / (ca.n_sh + cb.n_sh - i.n_inter) >= {_LSHQ_T!r}
)
SELECT (SELECT COUNT(*) FROM truthj) AS n_truth,
       (SELECT COUNT(*) FROM cand) AS n_cand,
       (SELECT COUNT(*) FROM verifiedj) AS n_verified,
       ROUND((SELECT COUNT(*) FROM verifiedj) * 1.0 /
             NULLIF((SELECT COUNT(*) FROM truthj), 0), 6) AS recall,
       ROUND((SELECT COUNT(*) FROM verifiedj) * 1.0 /
             NULLIF((SELECT COUNT(*) FROM cand), 0), 6) AS precision
"""


@register(
    "dedup_lsh_quality",
    _lshq_sql(),
    doc=(
        "dedup quality harness (the sim_ann_recall pattern applied to "
        "MinHash-LSH): the exhaustive shared-shingle join at Jaccard "
        f">= {_LSHQ_T} is the TRUTH set, the banded candidate set is "
        "what production would actually expand, and the one-row "
        "report gives recall (what the 2x4 banding + hot-bucket cap "
        "drops) and precision (what fraction of expanded candidates "
        "survive the exact verify). The truth side is O(pairs-"
        "sharing-a-shingle) — affordable at eval scale and exactly "
        "the thing you sample on a 100 TB corpus (run the harness on "
        "a stratified sample, trust the banding everywhere else); "
        "candidate membership is verified, so verified ⊆ truth by "
        "construction and recall isolates BANDING loss, not verify "
        "noise. The count scans share the checkpointed shingle and "
        "candidate frames"
    ),
)
def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D
    from .queries_llm import _JACCARD_MAX_BUCKET

    docs = load_table(spark, sf_dir, "documents")
    shingled = pin(D.exploded_shingles(docs))
    sig = pin(D.minhash_signatures(shingled, with_counts=True))
    cand = pin(D.lsh_band_candidates(sig, max_bucket=_JACCARD_MAX_BUCKET))
    truth = D.pair_jaccard(shingled, counts=sig).filter(
        F.col("jaccard") >= _LSHQ_T
    )
    verified = D.verify_pairs(docs, cand).filter(
        F.col("jaccard") >= _LSHQ_T
    )
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    ncand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    nv = verified.agg(F.count(F.lit(1)).cast("bigint").alias("n_verified"))
    return (
        nt.crossJoin(F.broadcast(ncand))
        .crossJoin(F.broadcast(nv))
        .select(
            "n_truth",
            "n_cand",
            "n_verified",
            dround(
                F.col("n_verified")
                * F.lit(1.0)
                / F.nullif(F.col("n_truth"), F.lit(0)),
                6,
            ).alias("recall"),
            dround(
                F.col("n_verified")
                * F.lit(1.0)
                / F.nullif(F.col("n_cand"), F.lit(0)),
                6,
            ).alias("precision"),
        )
    )


# ---------------------------------------------------------------------------
# Information gain: entropy-based feature scoring in exact scaled integers
# ---------------------------------------------------------------------------

_IG_SQL = """
WITH f AS (
  SELECT lang AS label,
         CAST(LEAST(FLOOR(n_chars / 200), 9) AS BIGINT) AS b_len,
         source AS b_src
  FROM documents
),
long AS (
  SELECT 'len_bin' AS feature, CAST(b_len AS VARCHAR) AS bin, label FROM f
  UNION ALL
  SELECT 'source', b_src, label FROM f
),
cell AS (
  SELECT feature, bin, label, COUNT(*) AS c FROM long GROUP BY 1, 2, 3
),
binc AS (
  SELECT feature, bin, SUM(c) AS nb,
         SUM(c * CAST(ROUND(LN(c) * 100000000, 0) AS BIGINT)) AS s_clnc
  FROM cell GROUP BY 1, 2
),
labc AS (
  SELECT feature, label, SUM(c) AS cl FROM cell GROUP BY 1, 2
),
tot AS (
  SELECT feature, SUM(cl) AS n,
         SUM(cl * CAST(ROUND(LN(cl) * 100000000, 0) AS BIGINT)) AS s_llnl
  FROM labc GROUP BY feature
),
cond AS (
  SELECT feature, COUNT(*) AS n_bins,
         SUM(nb * CAST(ROUND(LN(nb) * 100000000, 0) AS BIGINT) - s_clnc)
           AS s_cond
  FROM binc GROUP BY feature
)
SELECT t.feature, CAST(c.n_bins AS BIGINT) AS n_bins,
       ROUND((t.n * CAST(ROUND(LN(t.n) * 100000000, 0) AS BIGINT) - t.s_llnl
              - c.s_cond) / (t.n * 100000000.0), 6) AS info_gain
FROM tot t JOIN cond c ON c.feature = t.feature
"""


@register(
    "profile_information_gain",
    _IG_SQL,
    doc=(
        "information-gain feature scoring (the feature-selection / "
        "split-quality family): IG(label; feature) = H(label) - "
        "sum_b p_b H(label | bin b) over two candidate features of "
        "the documents table (a fixed-width length bin and the "
        "source). The whole computation rides the identity "
        "N*H = N ln N - sum_c c ln c, so every term is an INTEGER — "
        "per-count ln values round to 1e-8 units once (the "
        "events_survival_km discipline; one libm call per distinct "
        "cell of the tiny (feature, bin, label) contingency frame), "
        "then only exact int64 sums until a single double division "
        "at the end. Cost: one groupBy over the corpus to the "
        "contingency cells, then arithmetic on dozens of rows — at "
        "100 TB the cell counts c ln c terms approach int64 limits "
        "around c ~ 1e12, at which point the same identity runs on "
        "1e-6-rounded per-cell RATES instead (documented trade, not "
        "a silent overflow: counts that large make the 1e-8 scale "
        "unnecessary anyway)"
    ),
)
def profile_information_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        F.col("lang").alias("label"),
        F.least(F.floor(F.col("n_chars") / 200), F.lit(9))
        .cast("bigint")
        .alias("b_len"),
        F.col("source").alias("b_src"),
    )
    long = f.select(
        F.lit("len_bin").alias("feature"),
        F.col("b_len").cast("string").alias("bin"),
        "label",
    ).unionByName(
        f.select(F.lit("source").alias("feature"), F.col("b_src").alias("bin"), "label")
    )
    cell = long.groupBy("feature", "bin", "label").agg(
        F.count(F.lit(1)).alias("c")
    )

    binc = cell.groupBy("feature", "bin").agg(
        F.sum("c").alias("nb"),
        F.sum(F.col("c") * iln(F.col("c"))).alias("s_clnc"),
    )
    labc = cell.groupBy("feature", "label").agg(F.sum("c").alias("cl"))
    tot = labc.groupBy("feature").agg(
        F.sum("cl").alias("n"),
        F.sum(F.col("cl") * iln(F.col("cl"))).alias("s_llnl"),
    )
    cond = binc.groupBy("feature").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum(F.col("nb") * iln(F.col("nb")) - F.col("s_clnc")).alias("s_cond"),
    )
    return tot.join(cond, "feature").select(
        "feature",
        "n_bins",
        dround(
            (
                F.col("n") * iln(F.col("n"))
                - F.col("s_llnl")
                - F.col("s_cond")
            )
            / (F.col("n") * F.lit(100000000.0)),
            6,
        ).alias("info_gain"),
    )


# ---------------------------------------------------------------------------
# Deterministic random walks: graph corpus sampling for embedding training
# ---------------------------------------------------------------------------

_RW_SEEDS = ("c1", "c2", "c3", "c4", "c5")
_RW_REPLICAS = 2
_RW_STEPS = 3


def _rw_sql() -> str:
    starts = ", ".join(
        f"('{s}|{r}', '{s}')" for s in _RW_SEEDS for r in range(_RW_REPLICAS)
    )
    rounds = []
    prev = "w0"
    for s in range(1, _RW_STEPS + 1):
        rounds.append(f"""
c{s} AS (
  SELECT p.walk_id, e.dst AS node,
         ROW_NUMBER() OVER (
           PARTITION BY p.walk_id
           ORDER BY md5('rw|' || p.walk_id || '|{s}|' || e.dst), e.dst) AS rn
  FROM {prev} p JOIN edges e ON e.src = p.node
),
w{s} AS (SELECT walk_id, node FROM c{s} WHERE rn = 1)""")
        prev = f"w{s}"
    selects = "\nUNION ALL\n".join(
        f"SELECT walk_id, {s} AS step, node FROM w{s}"
        for s in range(_RW_STEPS + 1)
    )
    return f"""
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
w0(walk_id, node) AS (VALUES {starts}),
{','.join(rounds)}
SELECT walk_id, CAST(step AS INTEGER) AS step, node FROM ({selects})
"""


@register(
    "graph_random_walks",
    _rw_sql(),
    doc=(
        f"deterministic 'random' walks over the undirected purchase "
        f"graph ({len(_RW_SEEDS)} seeds x {_RW_REPLICAS} replicas x "
        f"{_RW_STEPS} steps) — the corpus-sampling step DeepWalk/"
        "node2vec training data needs, with every step an md5-ranked "
        "neighbor pick keyed on (walk_id, step, neighbor) so the walk "
        "is a pure function of the graph (engine-reproducible, "
        "replayable, shardable — the no-RNG sampling discipline "
        "applied to graphs; replicas diverge because the walk_id is "
        "in the hash). Each step is one O(frontier x avg-degree) "
        "join + one per-walk ROW_NUMBER pick over candidates — at "
        "scale millions of concurrent walks batch through the same "
        "three join rounds, state is frontier-sized, and the "
        "unrolled-CTE oracle replays the identical picks. Walks from "
        "edgeless seeds end at step 0 on both engines (JOIN, not "
        "LEFT JOIN, in every round)"
    ),
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_analytics import _edges

    e0 = _edges(spark, sf_dir)
    sym = pin(
        e0.unionByName(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # no distinct needed: e0 is distinct and the 'c'/'s' prefixes
        # make the mirror collision-free (the edges_dedup=False proof)
    )
    starts = spark.createDataFrame(
        [(f"{s}|{r}", s) for s in _RW_SEEDS for r in range(_RW_REPLICAS)],
        "walk_id string, node string",
    )
    paths = starts.select("walk_id", F.lit(0).alias("step"), "node")
    frontier = starts
    for s in range(1, _RW_STEPS + 1):
        cand = frontier.join(sym, frontier["node"] == sym["src"]).select(
            "walk_id", F.col("dst").alias("nxt")
        )
        h = F.md5(
            F.concat(
                F.lit("rw|"),
                F.col("walk_id"),
                F.lit(f"|{s}|"),
                F.col("nxt"),
            )
        )
        wp = W.partitionBy("walk_id").orderBy(h, "nxt")
        frontier = (
            cand.select("walk_id", "nxt", F.row_number().over(wp).alias("rn"))
            .filter(F.col("rn") == 1)
            .select("walk_id", F.col("nxt").alias("node"))
        )
        paths = paths.unionByName(
            frontier.select("walk_id", F.lit(s).alias("step"), "node")
        )
    return paths.select("walk_id", F.col("step").cast("int").alias("step"), "node")


# ---------------------------------------------------------------------------
# Retraction-aware rollup IVM: deletes merge for sum/cnt, repair min/max
# ---------------------------------------------------------------------------

_RR_SQL = """
WITH base AS (
  SELECT o_orderpriority AS prio,
         CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mth,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c,
         (EXTRACT(MONTH FROM o_orderdate) = 3 AND o_orderkey % 5 = 0)
           AS deleted
  FROM orders
),
ins AS (
  SELECT prio, mth, c + 50000 AS c FROM base
  WHERE NOT deleted AND c % 7 = 1
),
eff AS (
  SELECT prio, mth, c FROM base WHERE NOT deleted
  UNION ALL
  SELECT prio, mth, c FROM ins
),
delkeys AS (SELECT DISTINCT prio, mth FROM base WHERE deleted)
SELECT e.prio, e.mth,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(SUM(e.c) / 100.0, 2) AS revenue,
       ROUND(MIN(e.c) / 100.0, 2) AS mn,
       ROUND(MAX(e.c) / 100.0, 2) AS mx,
       CAST(CASE WHEN d.prio IS NULL THEN 0 ELSE 1 END AS INTEGER) AS repaired
FROM eff e LEFT JOIN delkeys d ON d.prio = e.prio AND d.mth = e.mth
GROUP BY e.prio, e.mth, d.prio
"""


@register(
    "rollup_retractions",
    _RR_SQL,
    doc=(
        "retraction-aware incremental view maintenance — the delete "
        "half rollup_incremental's insert-only merge cannot express: "
        "sum/count are GROUPS under retraction (state - delete-"
        "partial + insert-partial, exact integer cents), but min/max "
        "are only SEMIGROUPS — a deleted minimum cannot be un-merged "
        "from state — so keys touched by a delete REPAIR their "
        "min/max by re-aggregating survivors + inserts SCOPED to the "
        "affected keys (one semi-join; here deletes hit only March, "
        "so 5 of ~60 keys rescan and every other key's min/max comes "
        "straight from the least/greatest insert merge, never "
        "recomputed). This is the asymmetry every IVM engine "
        "(Materialize, Flink retract streams, DBSP) encodes; the "
        "oracle is the direct re-aggregation of (base - deletes + "
        "inserts), so the hash match proves the incremental path "
        "equals full recompute exactly. Delete/insert fixtures "
        "derive deterministically from the snapshot (the cdc_apply "
        "pattern); a repaired flag marks which keys took the rescan "
        "path so the scoping itself is verified"
    ),
)
def rollup_retractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = pin(orders.select(
        F.col("o_orderpriority").alias("prio"),
        F.month("o_orderdate").cast("bigint").alias("mth"),
        dround(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c"),
        ((F.month("o_orderdate") == 3) & (F.col("o_orderkey") % 5 == 0)).alias(
            "deleted"
        ),
    ))  # feeds state, deletes, inserts, repair
    keys = ["prio", "mth"]

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("c").alias("s"),
            F.min("c").alias("mn"),
            F.max("c").alias("mx"),
        )

    state = partial(base.select(*keys, "c"))  # pre-delete stored rollup
    dels = base.filter(F.col("deleted"))
    ins = base.filter(~F.col("deleted") & (F.col("c") % 7 == 1)).select(
        *keys, (F.col("c") + 50000).alias("c")
    )
    dpart = partial(dels.select(*keys, "c")).select(
        *keys,
        F.col("cnt").alias("d_cnt"),
        F.col("s").alias("d_s"),
    )
    ipart = partial(ins).select(
        *keys,
        F.col("cnt").alias("i_cnt"),
        F.col("s").alias("i_s"),
        F.col("mn").alias("i_mn"),
        F.col("mx").alias("i_mx"),
    )
    merged = (
        state.join(dpart, keys, "left")
        .join(ipart, keys, "left")
        .select(
            *keys,
            (
                F.col("cnt")
                - F.coalesce(F.col("d_cnt"), F.lit(0))
                + F.coalesce(F.col("i_cnt"), F.lit(0))
            ).alias("cnt"),
            (
                F.col("s")
                - F.coalesce(F.col("d_s"), F.lit(0))
                + F.coalesce(F.col("i_s"), F.lit(0))
            ).alias("s"),
            # insert-only min/max merge is exact (least/greatest skip
            # nulls) — valid ONLY for keys without deletes
            F.least(F.col("mn"), F.col("i_mn")).alias("mn"),
            F.greatest(F.col("mx"), F.col("i_mx")).alias("mx"),
            F.col("d_cnt").isNotNull().alias("repaired"),
        )
    )
    # scoped repair: re-aggregate min/max from survivors + inserts for
    # ONLY the delete-touched keys
    delkeys = dels.select(*keys).distinct()
    survivors = base.filter(~F.col("deleted")).select(*keys, "c").unionByName(ins)
    repair = (
        survivors.join(delkeys, keys, "left_semi")
        .groupBy(*keys)
        .agg(F.min("c").alias("r_mn"), F.max("c").alias("r_mx"))
    )
    out = merged.join(repair, keys, "left").select(
        *keys,
        F.col("cnt").cast("bigint").alias("cnt"),
        dround(F.col("s") / 100.0, 2).alias("revenue"),
        dround(
            F.when(F.col("repaired"), F.col("r_mn")).otherwise(F.col("mn"))
            / 100.0,
            2,
        ).alias("mn"),
        dround(
            F.when(F.col("repaired"), F.col("r_mx")).otherwise(F.col("mx"))
            / 100.0,
            2,
        ).alias("mx"),
        F.when(F.col("repaired"), 1).otherwise(0).cast("int").alias("repaired"),
    )
    # a key could in principle be fully deleted (cnt 0) — drop it like
    # the direct re-aggregation would
    return out.filter(F.col("cnt") > 0)


# ---------------------------------------------------------------------------
# Bounded k-core peeling: the degeneracy / graph-pruning family
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_sql() -> str:
    rounds = []
    prev = "e0s"
    for i in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
keep{i} AS (
  SELECT src FROM {prev} GROUP BY src HAVING COUNT(*) >= {_KCORE_K}
),
e{i} AS (
  SELECT e.src, e.dst FROM {prev} e
  JOIN keep{i} a ON a.src = e.src
  JOIN keep{i} b ON b.src = e.dst
)""")
        prev = f"e{i}"
    return f"""
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e0s AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
{','.join(rounds)}
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
FROM {prev} GROUP BY src
"""


@register(
    "graph_kcore",
    _kcore_sql(),
    doc=(
        f"bounded k-core peeling (k={_KCORE_K}, {_KCORE_ROUNDS} "
        "rounds) over the undirected purchase graph — the degeneracy "
        "family next to CC (membership), PageRank (centrality), BFS "
        "(distance), LPA (community): repeatedly drop nodes with "
        "degree < k, with the round count FIXED so the plan is "
        "static and the oracle unrolls (full convergence is the "
        "same loop run to fixpoint with the dedup_components "
        "changed-count test; 3 rounds already strips the long tail "
        "of degree-1 chains hanging off the core). Each round is "
        "one degree aggregate + two semi-joins filtering edges to "
        "surviving endpoints — O(E) per round, edge state only, and "
        "the edge frame shrinks monotonically so later rounds cost "
        "less. Output is each survivor's within-subgraph degree — "
        "integer, nothing to round"
    ),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rides the shared int64 purchase-graph bijection (the
    # graph_pagerank move: every round's aggregate + semi-joins
    # shuffle int64s instead of strings; the string-edge oracle is
    # untouched because the output decodes back to the same ids).
    # Per-round eager localCheckpoint is load-bearing here: each
    # round's edge frame has TWO consumers (the degree aggregate and
    # the self semi-join) — without it the filter chain recomputes
    # per consumer, 2^rounds times by the last round.
    from .queries_analytics import decode_purchase_node, purchase_iedges

    # Measured-width clone deliberately NOT applied: the
    # applied-form NEW/OLD A/B read NEW min 3.38 vs OLD min 2.55 at
    # sf0.1 — the per-round degree aggregate over the symmetrized
    # 1.17M-edge frame is COMPUTE-bound, so the width trim costs CPU
    # parallelism (the in-session conf proxy's 4/4 win came from
    # trimming the full-width ingest too, which the scale-safe form
    # must keep). OPTIMIZATION_r13.md §6.
    e0 = purchase_iedges(spark, sf_dir)
    edges = pin(e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    for _ in range(_KCORE_ROUNDS):
        keep = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("src")
        )
        edges = pin(
            edges.join(keep, "src", "left_semi")
            .join(
                keep.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
        )
    return edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    ).select(decode_purchase_node("src").alias("node"), "degree")


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov statistic in exact integers
# ---------------------------------------------------------------------------

_KS_SQL = """
WITH s AS (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS g
  FROM events WHERE event_type IN ('click', 'view')
),
pv AS (
  SELECT v,
         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS a1,
         SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS a2
  FROM s GROUP BY v
),
cum AS (
  SELECT v,
         SUM(a1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1,
         SUM(a2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c2,
         SUM(a1) OVER () AS n1,
         SUM(a2) OVER () AS n2
  FROM pv
)
SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
       CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS d_scaled,
       ROUND(MAX(ABS(c1 * n2 - c2 * n1)) * 1.0 / (MAX(n1) * MAX(n2)), 6) AS ks_d
FROM cum
"""


@register(
    "stats_ks_test",
    _KS_SQL,
    doc=(
        "two-sample Kolmogorov-Smirnov statistic (click vs view value "
        "distributions) — the nonparametric distribution-comparison "
        "family beyond binned chi-square/TVD: D = max_v |F1(v) - "
        "F2(v)| over the MERGED support, computed entirely in "
        "integers via the cross-multiplied form |c1*n2 - c2*n1| / "
        "(n1*n2) — ECDFs never materialize as floats, so the max is "
        "immune to division rounding and fold order; one double "
        "division at the very end. Shape: reduce both samples to "
        "per-distinct-value counts first (the merged support is "
        "|distinct cents|, far below |events|), one cumulative window "
        "over that reduced frame, one max. At 100 TB the prefix sum "
        "swaps onto the range-exchange + per-partition-offset pattern "
        "(shuffle_deterministic) exactly like abc_classification "
        "documents. Overflow bound: c*n products cap at n1*n2 ~ "
        "(rows/2)^2 — fine through ~3e9 rows per side, then rescale "
        "counts by a common divisor (KS is scale-invariant in each "
        "ECDF)"
    ),
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "view")).select(
        dround(F.col("value") * 100, 0).cast("bigint").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(2).alias("g"),
    )
    pv = s.groupBy("v").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("a1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).alias("a2"),
    )
    w_cum = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = pv.select(
        F.sum("a1").over(w_cum).alias("c1"),
        F.sum("a2").over(w_cum).alias("c2"),
        F.sum("a1").over(w_all).alias("n1"),
        F.sum("a2").over(w_all).alias("n2"),
    )
    gap = F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
    return cum.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        F.max(gap).cast("bigint").alias("d_scaled"),
        dround(
            F.max(gap) * F.lit(1.0) / (F.max("n1") * F.max("n2")), 6
        ).alias("ks_d"),
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals over the linear-trend forecaster
# ---------------------------------------------------------------------------

_CF_TRAIN = 20  # day indexes 1..20 fit the model
_CF_CAL_END = 25  # 21..25 calibrate; 26.. are scored

_CF_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS c
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, c,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
fit AS (
  SELECT event_type,
         ROUND(regr_slope(c, i), 6) AS b,
         ROUND(regr_intercept(c, i), 6) AS a
  FROM idx WHERE i <= {_CF_TRAIN} GROUP BY event_type
),
q AS (
  SELECT i.event_type, MAX(ABS(i.c - (f.a + f.b * i.i))) AS qhat
  FROM idx i JOIN fit f ON f.event_type = i.event_type
  WHERE i.i > {_CF_TRAIN} AND i.i <= {_CF_CAL_END}
  GROUP BY i.event_type
)
SELECT i.event_type, i.day,
       ROUND(i.c / 100.0, 2) AS actual,
       ROUND((f.a + f.b * i.i) / 100.0, 2) AS pred,
       ROUND((f.a + f.b * i.i - q.qhat) / 100.0, 2) AS lo,
       ROUND((f.a + f.b * i.i + q.qhat) / 100.0, 2) AS hi,
       CAST(CASE WHEN i.c >= f.a + f.b * i.i - q.qhat
                  AND i.c <= f.a + f.b * i.i + q.qhat
            THEN 1 ELSE 0 END AS INTEGER) AS covered
FROM idx i
JOIN fit f ON f.event_type = i.event_type
JOIN q ON q.event_type = i.event_type
WHERE i.i > {_CF_CAL_END}
"""


@register(
    "forecast_conformal",
    _CF_SQL,
    doc=(
        "split-conformal prediction intervals (the distribution-free "
        "uncertainty layer every production forecaster needs on top "
        "of forecast_linear's point estimate): fit the per-series "
        f"linear trend on day indexes 1..{_CF_TRAIN}, take qhat = the "
        f"max absolute residual on the held-out {_CF_TRAIN + 1}.."
        f"{_CF_CAL_END} calibration days (the (n+1)(1-a) conformal "
        "rank with a = 1/(n_cal+1), i.e. the finite-sample-valid "
        "max), and score the remaining days with pred +/- qhat plus "
        "a covered flag. Coefficients round to 6dp before ANY reuse "
        "(the forecast_linear discipline — regr_* internal float "
        "sums are fold-order noisy, the round re-synchronizes "
        "engines); residuals compare integer cents against the "
        "rounded-coefficient prediction, so qhat and the coverage "
        "compare are deterministic on both engines. Everything after "
        "the one daily reduction runs on 30-row-per-series frames"
    ),
)
def forecast_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(dround(F.col("value") * 100, 0).cast("bigint")).alias("c"))
    idx = pin(daily.select(
        "event_type",
        "day",
        "c",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .alias("i"),
    ))  # fit, calibration, and scoring consumers
    fit = (
        idx.filter(F.col("i") <= _CF_TRAIN)
        .groupBy("event_type")
        .agg(
            dround(F.regr_slope(F.col("c"), F.col("i")), 6).alias("b"),
            dround(F.regr_intercept(F.col("c"), F.col("i")), 6).alias("a"),
        )
    )
    pred = F.col("a") + F.col("b") * F.col("i")
    q = (
        idx.filter((F.col("i") > _CF_TRAIN) & (F.col("i") <= _CF_CAL_END))
        .join(F.broadcast(fit), "event_type")
        .groupBy("event_type")
        .agg(F.max(F.abs(F.col("c") - pred)).alias("qhat"))
    )
    return (
        idx.filter(F.col("i") > _CF_CAL_END)
        .join(F.broadcast(fit), "event_type")
        .join(F.broadcast(q), "event_type")
        .select(
            "event_type",
            "day",
            dround(F.col("c") / 100.0, 2).alias("actual"),
            dround(pred / 100.0, 2).alias("pred"),
            dround((pred - F.col("qhat")) / 100.0, 2).alias("lo"),
            dround((pred + F.col("qhat")) / 100.0, 2).alias("hi"),
            F.when(
                (F.col("c") >= pred - F.col("qhat"))
                & (F.col("c") <= pred + F.col("qhat")),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("covered"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-naive backtest: MAE + sMAPE error metrics in synced integers
# ---------------------------------------------------------------------------

_BT_LAG = 7  # seasonal-naive: predict value from 7 days earlier

_BT_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS c
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, day, c,
         LAG(c, {_BT_LAG}) OVER (PARTITION BY event_type ORDER BY day) AS p
  FROM daily
),
terms AS (
  SELECT event_type, ABS(c - p) AS ae,
         CASE WHEN c + p = 0 THEN 0
              ELSE CAST(ROUND(2.0 * ABS(c - p) * 100000000 / (c + p), 0)
                        AS BIGINT) END AS smape_i
  FROM lagged WHERE p IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_scored,
       ROUND(SUM(ae) / (COUNT(*) * 100.0), 2) AS mae,
       ROUND(SUM(smape_i) / (COUNT(*) * 100000000.0), 6) AS smape
FROM terms GROUP BY event_type
"""


@register(
    "forecast_backtest_smape",
    _BT_SQL,
    doc=(
        f"forecaster backtest: score the seasonal-naive predictor "
        f"(value from {_BT_LAG} days earlier) against actuals per "
        "series with MAE and sMAPE — the baseline every fancier "
        "forecaster must beat, and the error-metric harness that "
        "makes forecast quality a QUERY instead of a notebook. MAE "
        "is exact integer cents summed then divided once. Each "
        "sMAPE term 2|a-p|/(a+p) is a per-row double division whose "
        "operands are identical integers on both engines, rounded to "
        "integer 1e-8 units BEFORE the sum (the events_survival_km "
        "discipline) — averaging float terms directly would make the "
        "result depend on aggregate fold order. One lag window over "
        "the reduced per-day frame, one aggregate"
    ),
)
def forecast_backtest_smape(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(dround(F.col("value") * 100, 0).cast("bigint")).alias("c"))
    lagged = daily.select(
        "event_type",
        "c",
        F.lag("c", _BT_LAG)
        .over(W.partitionBy("event_type").orderBy("day"))
        .alias("p"),
    ).filter(F.col("p").isNotNull())
    ae = F.abs(F.col("c") - F.col("p"))
    # a = p = 0 would make the term 0/0; define it as 0 on both
    # engines (latent — current totals are positive, but nothing
    # enforces that)
    smape_i = (
        F.when(F.col("c") + F.col("p") == 0, F.lit(0))
        .otherwise(
            dround(F.lit(2.0) * ae * 100000000 / (F.col("c") + F.col("p")), 0)
        )
        .cast("bigint")
    )
    return lagged.select("event_type", ae.alias("ae"), smape_i.alias("si")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        dround(F.sum("ae") / (F.count(F.lit(1)) * F.lit(100.0)), 2).alias("mae"),
        dround(
            F.sum("si") / (F.count(F.lit(1)) * F.lit(100000000.0)), 6
        ).alias("smape"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage: OOV rate against the corpus top-k vocab
# ---------------------------------------------------------------------------

_OOV_K = 100

_OOV_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents
),
vocab AS (
  SELECT w FROM (
    SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rnk
    FROM tok GROUP BY w
  ) t WHERE rnk <= {_OOV_K}
),
per_doc AS (
  SELECT t.doc_id, t.source,
         CAST(ROUND(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                    * 100000000.0 / COUNT(*), 0) AS BIGINT) AS oov_i
  FROM tok t LEFT JOIN vocab v ON v.w = t.w
  GROUP BY t.doc_id, t.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(SUM(oov_i) / (COUNT(*) * 100000000.0), 6) AS oov_rate
FROM per_doc GROUP BY source
"""


@register(
    "text_oov_rate",
    _OOV_SQL,
    doc=(
        f"vocabulary coverage: per-source mean out-of-vocabulary "
        f"token rate against the corpus top-{_OOV_K} vocab (the "
        "text_vocab_topk head) — the tokenizer-fit diagnostic that "
        "decides whether a vocab transfers to a new source before "
        "training on it. The vocab is derived with a deterministic "
        "(count DESC, token) rank so boundary ties can never differ "
        "between engines; membership is one LEFT join of the token "
        "stream against the (tiny, broadcastable) vocab; per-doc OOV "
        "rates round to integer 1e-8 units before the per-source "
        "mean so the average is an exact integer sum. Two "
        "aggregations over the token stream (vocab fit + coverage "
        "scan) — both partial-aggregated, nothing collected"
    ),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = pin(docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    ))  # vocab fit + coverage scan share it
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        counts.orderBy(F.col("n").desc(), "w")
        .limit(_OOV_K)
        .select("w", F.lit(1).alias("inv"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id", "source")
        .agg(
            dround(
                F.sum(F.when(F.col("inv").isNull(), 1).otherwise(0))
                * F.lit(100000000.0)
                / F.count(F.lit(1)),
                0,
            )
            .cast("bigint")
            .alias("oov_i")
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        dround(
            F.sum("oov_i") / (F.count(F.lit(1)) * F.lit(100000000.0)), 6
        ).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# Relational division: "customers who bought ALL of a part set"
# ---------------------------------------------------------------------------

_DIV_SQL = """
WITH d AS (SELECT DISTINCT o_orderpriority AS pr FROM orders),
b AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
SELECT o_custkey AS custkey,
       CAST(COUNT(*) AS BIGINT) AS n_matched
FROM b
GROUP BY o_custkey
HAVING COUNT(*) = (SELECT COUNT(*) FROM d)
"""


@register(
    "join_relational_division",
    _DIV_SQL,
    doc=(
        "relational division (Codd's ÷, the universal-quantifier "
        "join): customers with orders in EVERY priority class — the "
        "'for all' the join family's semi/anti (exists / not exists) "
        "cannot express, over a divisor DERIVED FROM THE DATA "
        "(SELECT DISTINCT priorities) so the quotient stays "
        "non-vacuous at every scale factor (a fixed part-set divisor "
        "empties out as the corpus grows — purchases spread thin; "
        "division by an intrinsic category set does not). "
        "Implemented as the count-matching reduction: dedupe to "
        "distinct (customer, class), count per customer, keep counts "
        "equal to |divisor| (a broadcast 1-row aggregate) — two hash "
        "aggregations; the doubly-nested NOT EXISTS formulation "
        "decorrelates to the same shape at best and a quadratic at "
        "worst"
    ),
)
def join_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select("o_orderpriority").distinct()
    nset = d.agg(F.count(F.lit(1)).alias("n_set"))
    b = orders.select("o_custkey", "o_orderpriority").distinct()
    return (
        b.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matched"))
        .crossJoin(F.broadcast(nset))
        .filter(F.col("n_matched") == F.col("n_set"))
        .select(F.col("o_custkey").alias("custkey"), "n_matched")
    )


# ---------------------------------------------------------------------------
# Temporal anti-join: views never followed up within the window
# ---------------------------------------------------------------------------

_TAJ_HOURS = 12
_TAJ_US = _TAJ_HOURS * 3600 * 1000000

_TAJ_SQL = f"""
WITH v AS (
  SELECT event_id, user_id, epoch_us(ts) AS e FROM events
  WHERE event_type = 'view'
),
p AS (
  SELECT user_id, epoch_us(ts) AS e FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(SUM(CASE WHEN NOT EXISTS (
         SELECT 1 FROM p WHERE p.user_id = v.user_id
           AND p.e > v.e AND p.e <= v.e + {_TAJ_US}
       ) THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned
FROM v GROUP BY v.user_id
"""


@register(
    "join_interval_anti",
    _TAJ_SQL,
    doc=(
        f"temporal ANTI-join (the Flink interval-anti shape): views "
        f"with NO purchase in the following {_TAJ_HOURS}h by the same "
        "user — abandonment counting, the negative space "
        "join_interval_overlap and events_window_funnel (both "
        "existence-positive) cannot report. Same strictly-future "
        "RANGE-window rewrite as the funnel: union views+purchases "
        "per user, next-purchase = min over the (1 FOLLOWING .. "
        "unbounded) epoch-micros frame, abandoned = next is NULL or "
        "past the bound — one exchange on user_id, no correlated "
        "subquery, no self-join of the log; the oracle is the NOT "
        "EXISTS textbook form so the rewrite is hash-proven. Emits "
        "per-user view/abandoned counts (the retention input)"
    ),
)
def join_interval_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select("user_id", "event_type", F.unix_micros("ts").alias("e"))
    v = base.filter(F.col("event_type") == "view").select(
        "user_id", "e", F.lit("V").alias("tag")
    )
    p = base.filter(F.col("event_type") == "purchase").select(
        "user_id", "e", F.lit("P").alias("tag")
    )
    w_fut = (
        W.partitionBy("user_id")
        .orderBy("e")
        .rangeBetween(1, W.unboundedFollowing)
    )
    np_ = F.min(F.when(F.col("tag") == "P", F.col("e"))).over(w_fut)
    flagged = (
        v.unionByName(p)
        .select("user_id", "e", "tag", np_.alias("np"))
        .filter(F.col("tag") == "V")
        .select(
            "user_id",
            (
                F.col("np").isNull() | (F.col("np") > F.col("e") + _TAJ_US)
            ).alias("abandoned"),
        )
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_views"),
        F.sum(F.when(F.col("abandoned"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_abandoned"),
    )


# ---------------------------------------------------------------------------
# Quantile normalization: force every series onto the shared distribution
# ---------------------------------------------------------------------------

_QN_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS c
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, day, c,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c, day) AS r
  FROM daily
),
ref AS (
  SELECT r, SUM(c) AS s, COUNT(*) AS k FROM ranked GROUP BY r
)
SELECT rk.event_type, rk.day,
       ROUND(rk.c / 100.0, 2) AS original,
       ROUND(ref.s / (ref.k * 100.0), 4) AS normalized
FROM ranked rk JOIN ref ON ref.r = rk.r
"""


@register(
    "feature_quantile_normalize",
    _QN_SQL,
    doc=(
        "quantile normalization (the bioinformatics-standard "
        "cross-sample calibration, also the rank-based feature "
        "scaler): every series is forced onto the SHARED "
        "distribution by replacing each value with the mean of the "
        "equally-ranked values across all series — rank within "
        "series (deterministic (value, day) tie order), average "
        "across series per rank, join back on rank. Unlike "
        "feature_winsorize/discretize (per-series clipping/binning) "
        "this is a CROSS-series operator: after it, every "
        "event_type has the identical value multiset. The reference "
        "distribution is an exact integer sum divided once at emit; "
        "ranks, the per-rank aggregate, and the join-back all run "
        "over the reduced 30-rows-per-series frame — at 100 TB with "
        "high-cardinality series the rank step is the "
        "range-exchange prefix pattern and the per-rank mean is one "
        "aggregation keyed on rank"
    ),
)
def feature_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(dround(F.col("value") * 100, 0).cast("bigint")).alias("c"))
    ranked = pin(daily.select(
        "event_type",
        "day",
        "c",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("c", "day"))
        .alias("r"),
    ))  # feeds the ref aggregate AND the join-back
    ref = ranked.groupBy("r").agg(
        F.sum("c").alias("s"), F.count(F.lit(1)).alias("k")
    )
    return ranked.join(F.broadcast(ref), "r").select(
        "event_type",
        "day",
        dround(F.col("c") / 100.0, 2).alias("original"),
        dround(F.col("s") / (F.col("k") * F.lit(100.0)), 4).alias("normalized"),
    )


# ---------------------------------------------------------------------------
# Weighted median: the order statistic under a weight column
# ---------------------------------------------------------------------------

_WMED_SQL = """
WITH pv AS (
  SELECT l_returnflag AS flag,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v,
         SUM(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT flag, v, w,
         SUM(w) OVER (PARTITION BY flag ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY flag) AS tw
  FROM pv
)
SELECT flag, CAST(MAX(tw) AS BIGINT) AS total_weight,
       ROUND(MIN(CASE WHEN 2 * cw >= tw THEN v END) / 100.0, 2) AS wmedian
FROM cum GROUP BY flag
"""


@register(
    "agg_weighted_median",
    _WMED_SQL,
    doc=(
        "weighted median (smallest value whose cumulative weight "
        "reaches half the total — here extendedprice weighted by "
        "quantity per returnflag): the order statistic under a "
        "weight column, which percentile()/MEDIAN (uniform weights) "
        "and approx sketches (no weights) do not provide. The "
        "half-total compare is 2*cum >= total in pure int64 — the "
        "fractional midpoint never materializes — and the pick is a "
        "conditional MIN, not a second window. Reduce to per-"
        "distinct-value weight sums first, one cumulative window "
        "per group over that reduced frame; at 100 TB the prefix "
        "sum swaps onto the range-exchange offset pattern "
        "(shuffle_deterministic), same as stats_ks_test documents"
    ),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        dround(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("v"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("w"))
    wf = W.partitionBy("flag")
    wc = wf.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = pv.select(
        "flag",
        "v",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wf).alias("tw"),
    )
    return cum.groupBy("flag").agg(
        F.max("tw").cast("bigint").alias("total_weight"),
        dround(
            F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("v"))) / 100.0,
            2,
        ).alias("wmedian"),
    )


# ---------------------------------------------------------------------------
# Theil-T inequality decomposition: within- and between-group parts
# ---------------------------------------------------------------------------

_THEIL_SQL = """
WITH rev AS (
  SELECT n_name,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS x
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
),
tot AS (
  SELECT SUM(x) AS s, COUNT(*) AS n,
         CAST(ROUND((LN(SUM(x)) - LN(COUNT(*))) * 100000, 0) AS BIGINT)
           AS iln_mu
  FROM rev
),
terms AS (
  SELECT r.n_name, r.x,
         r.x * (CAST(ROUND(LN(r.x) * 100000, 0) AS BIGINT) - t.iln_mu)
           AS tx
  FROM rev r CROSS JOIN tot t
),
grp AS (
  SELECT n_name, SUM(x) AS sg, COUNT(*) AS ng, SUM(tx) AS txg
  FROM terms GROUP BY n_name
)
SELECT g.n_name,
       CAST(g.ng AS BIGINT) AS n_orders,
       ROUND(g.sg * 1.0 / (g.ng * 100.0), 2) AS mean_rev,
       ROUND((g.txg - g.sg * (CAST(ROUND((LN(g.sg) - LN(g.ng)) * 100000, 0)
                                   AS BIGINT) - t.iln_mu))
             * 1.0 / (g.sg * 100000.0), 4) AS theil_within,
       ROUND(g.sg * (CAST(ROUND((LN(g.sg) - LN(g.ng)) * 100000, 0) AS BIGINT)
                     - t.iln_mu) * 1.0 / (t.s * 100000.0), 6) AS between_contrib
FROM grp g CROSS JOIN tot t
"""


@register(
    "agg_theil_decomposition",
    _THEIL_SQL,
    doc=(
        "Theil-T inequality index with its additive within/between-"
        "group decomposition (the property Gini famously lacks, and "
        "why Theil is the concentration measure you can DRILL INTO): "
        "per nation, the within-group index T_g and the between-"
        "group contribution (S_g/S)·ln(mu_g/mu); summing "
        "between_contrib + (S_g/S)·theil_within over groups "
        "reconstructs total T exactly (tested). Numerics: every "
        "ln(x/mu) expands to iln(x) - iln(mu) with each ln rounded "
        "ONCE to integer 1e-5 units, so all sums are exact int64 — "
        "term magnitudes x·Δiln stay under ~5e13 per order and "
        "~8e17 per group at sf0.1-like shapes (the 1e-5 scale is "
        "chosen exactly so the 100 TB row counts fit; tighter "
        "scales overflow first, looser ones cost precision the 4dp "
        "output does not need). One fact scan, one group aggregate, "
        "one broadcast 1-row total"
    ),
)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .select(
            "n_name",
            dround(F.col("o_totalprice") * 100, 0).cast("bigint").alias("x"),
        )
    )

    tot = rev.agg(
        F.sum("x").alias("s"),
        F.count(F.lit(1)).alias("n"),
        dround((F.log(F.sum("x")) - F.log(F.count(F.lit(1)))) * 100000, 0)
        .cast("bigint")
        .alias("iln_mu"),
    )
    terms = rev.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "x",
        "s",
        "iln_mu",
        (F.col("x") * (iln(F.col("x"), 5) - F.col("iln_mu"))).alias("tx"),
    )
    grp = terms.groupBy("n_name").agg(
        F.sum("x").alias("sg"),
        F.count(F.lit(1)).alias("ng"),
        F.sum("tx").alias("txg"),
        F.max("s").alias("s"),
        F.max("iln_mu").alias("iln_mu"),
    )
    iln_mug = (
        dround((F.log(F.col("sg")) - F.log(F.col("ng"))) * 100000, 0)
        .cast("bigint")
    )
    between_term = F.col("sg") * (iln_mug - F.col("iln_mu"))
    return grp.select(
        "n_name",
        F.col("ng").cast("bigint").alias("n_orders"),
        dround(F.col("sg") * F.lit(1.0) / (F.col("ng") * F.lit(100.0)), 2).alias(
            "mean_rev"
        ),
        dround(
            (F.col("txg") - between_term)
            * F.lit(1.0)
            / (F.col("sg") * F.lit(100000.0)),
            4,
        ).alias("theil_within"),
        dround(
            between_term * F.lit(1.0) / (F.col("s") * F.lit(100000.0)), 6
        ).alias("between_contrib"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation: quintile-scored recency / frequency / monetary
# ---------------------------------------------------------------------------

_RFM_SQL = """
WITH p AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
),
mx AS (SELECT MAX(day) AS mxd FROM p),
per_user AS (
  SELECT p.user_id,
         DATEDIFF('day', MAX(p.day), mx.mxd) AS recency,
         COUNT(*) AS frequency,
         SUM(p.c) AS monetary
  FROM p CROSS JOIN mx GROUP BY p.user_id, mx.mxd
),
scored AS (
  SELECT user_id, recency, frequency, monetary,
         NTILE(5) OVER (ORDER BY recency DESC, user_id) AS r_score,
         NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
         NTILE(5) OVER (ORDER BY monetary, user_id) AS m_score
  FROM per_user
)
SELECT CAST(r_score AS INTEGER) AS r_score,
       CAST(f_score AS INTEGER) AS f_score,
       CAST(m_score AS INTEGER) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(SUM(monetary) / (COUNT(*) * 100.0), 2) AS avg_monetary
FROM scored GROUP BY r_score, f_score, m_score
"""


@register(
    "events_rfm_segmentation",
    _RFM_SQL,
    doc=(
        "RFM segmentation (the marketing-analytics workhorse): "
        "recency / frequency / monetary per purchasing user, each "
        "quintile-scored with NTILE(5) under a TOTAL order (metric "
        "+ user_id tie-break — ntile on a partial order is engine-"
        "arbitrary at bucket boundaries and could never be oracle-"
        "verified; the window_distribution lesson), then segments "
        "aggregated to (r, f, m) cells with user counts and average "
        "spend. Higher score = better on every axis (recency DESC "
        "because recent means a SMALLER day gap). One reduce to "
        "per-user metrics, three ntile windows over the reduced "
        "frame, one final aggregate; at 100 TB user counts the "
        "ntile swaps for the percentile-threshold join "
        "(feature_discretize's equi-depth pattern) to avoid the "
        "single-ordering bottleneck"
    ),
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        dround(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    mx = p.agg(F.max("day").alias("mxd"))
    per_user = (
        p.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(F.max("mxd"), F.max("day")).alias("recency"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("c").alias("monetary"),
        )
    )
    scored = per_user.select(
        "monetary",
        F.ntile(5)
        .over(W.orderBy(F.col("recency").desc(), "user_id"))
        .alias("r_score"),
        F.ntile(5).over(W.orderBy("frequency", "user_id")).alias("f_score"),
        F.ntile(5).over(W.orderBy("monetary", "user_id")).alias("m_score"),
    )
    return scored.groupBy(
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        dround(F.sum("monetary") / (F.count(F.lit(1)) * F.lit(100.0)), 2).alias(
            "avg_monetary"
        ),
    )


# ---------------------------------------------------------------------------
# Embedding centroid drift: distribution monitoring for vector corpora
# ---------------------------------------------------------------------------

_CD_SQL = """
WITH e AS (
  SELECT vec_id, CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS half,
         generate_subscripts(embedding, 1) AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cent AS (
  SELECT half, d, ROUND(AVG(x), 8) AS m FROM e GROUP BY half, d
),
j AS (
  SELECT a.d, a.m AS ma, b.m AS mb
  FROM (SELECT d, m FROM cent WHERE half = 'a') a
  JOIN (SELECT d, m FROM cent WHERE half = 'b') b ON b.d = a.d
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
       ROUND(SUM(ma * mb) / (SQRT(SUM(ma * ma)) * SQRT(SUM(mb * mb))), 4)
         AS centroid_cosine,
       ROUND(SQRT(SUM((ma - mb) * (ma - mb))), 6) AS centroid_l2
FROM j
"""


@register(
    "sim_centroid_drift",
    _CD_SQL,
    doc=(
        "embedding-distribution drift monitor: split the vector corpus "
        "into two cohorts (vec_id parity here; batch id / time window "
        "in production), compute each cohort's per-dimension centroid, "
        "and report the centroid cosine + L2 gap — the cheap early-"
        "warning that an embedding model or upstream corpus shifted "
        "(full drift runs profile_distribution_drift per dimension; "
        "the centroid is the one-number tripwire). Per-dim means come "
        "from one posexplode + groupBy(dim) aggregation — never a "
        "driver-side vector fold — and round to 8dp BEFORE the cosine "
        "(per-dim double sums are fold-order noisy across engines; "
        "the round re-synchronizes, then the 64-term cosine over "
        "identical rounded means is deterministic). At 100 TB: the "
        "explode is map-side, the aggregate carries cohorts x dims "
        "rows, the cosine runs on a 64-row frame"
    ),
)
def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.when(F.col("vec_id") % 2 == 0, F.lit("a")).otherwise(F.lit("b")).alias(
            "half"
        ),
        F.posexplode(F.col("embedding")).alias("d0", "x"),
    ).select("half", (F.col("d0") + 1).alias("d"), F.col("x").cast("double").alias("x"))
    cent = e.groupBy("half", "d").agg(dround(F.avg("x"), 8).alias("m"))
    a = cent.filter(F.col("half") == "a").select("d", F.col("m").alias("ma"))
    b = cent.filter(F.col("half") == "b").select("d", F.col("m").alias("mb"))
    j = a.join(b, "d")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        dround(
            F.sum(F.col("ma") * F.col("mb"))
            / (
                F.sqrt(F.sum(F.col("ma") * F.col("ma")))
                * F.sqrt(F.sum(F.col("mb") * F.col("mb")))
            ),
            4,
        ).alias("centroid_cosine"),
        dround(
            F.sqrt(F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))),
            6,
        ).alias("centroid_l2"),
    )


# ---------------------------------------------------------------------------
# Behavioral regularity: bot-likeness from inter-event gap dispersion
# ---------------------------------------------------------------------------

_BOT_MIN_EVENTS = 20

_BOT_SQL = f"""
WITH ue AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS es FROM events
),
gaps AS (
  SELECT user_id,
         es - LAG(es) OVER (PARTITION BY user_id ORDER BY es) AS g
  FROM ue
),
st AS (
  SELECT user_id, COUNT(*) AS n, SUM(g) AS s, SUM(g * g) AS ss
  FROM gaps WHERE g IS NOT NULL
  GROUP BY user_id HAVING COUNT(*) >= {_BOT_MIN_EVENTS}
)
SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
       ROUND(s * 1.0 / n, 2) AS mean_gap_s,
       CASE WHEN s = 0 THEN NULL
            ELSE ROUND(SQRT((ss - s * s * 1.0 / n) / n) / (s * 1.0 / n), 4)
       END AS cv,
       CAST(CASE WHEN s > 0
                  AND SQRT((ss - s * s * 1.0 / n) / n) / (s * 1.0 / n) < 0.3
            THEN 1 ELSE 0 END AS INTEGER) AS bot_like
FROM st
"""


@register(
    "events_bot_regularity",
    _BOT_SQL,
    doc=(
        "behavioral bot detection via inter-event-gap regularity: "
        "humans arrive bursty (coefficient of variation near or above "
        "1, the exponential-arrival signature); schedulers and "
        "scrapers tick (CV near 0) — the classic timing-regularity "
        "screen that needs no content features. Gaps come from one "
        "lag window per user over epoch-SECONDS (integer); mean and "
        "variance derive from exact integer SUM and SUM-of-squares "
        "(population variance via the ss - s^2/n identity — gap "
        "seconds square to ~1e8, x rows per user stays far inside "
        f"int64), with doubles only in the final CV division; "
        f">= {_BOT_MIN_EVENTS} gaps required so the CV is "
        "meaningful. The synthetic corpus is a Poisson-ish generator "
        "so everything lands human-side — the THRESHOLD contract "
        "(cv < 0.3) is what the oracle verifies; a production corpus "
        "sets it from the bimodal CV histogram"
    ),
)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # floor division, not truncating cast — matches DuckDB's // on
    # pre-epoch timestamps with sub-second remainders
    ue = ev.select(
        "user_id",
        F.floor(F.unix_micros("ts") / 1000000).cast("bigint").alias("es"),
    )
    gaps = ue.select(
        "user_id",
        (
            F.col("es")
            - F.lag("es").over(W.partitionBy("user_id").orderBy("es"))
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    st = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("g").alias("s"),
            F.sum(F.col("g") * F.col("g")).alias("ss"),
        )
        .filter(F.col("n") >= _BOT_MIN_EVENTS)
    )
    mean = F.col("s") * F.lit(1.0) / F.col("n")
    sd = F.sqrt((F.col("ss") - F.col("s") * F.col("s") * F.lit(1.0) / F.col("n")) / F.col("n"))
    cv = sd / mean
    # NULL cv when every gap is zero (mean 0: all events share one
    # timestamp) — Spark ANSI would throw where DuckDB returns NULL
    return st.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_gaps"),
        dround(mean, 2).alias("mean_gap_s"),
        F.when(F.col("s") != 0, dround(cv, 4)).alias("cv"),
        F.when((F.col("s") > 0) & (cv < 0.3), 1)
        .otherwise(0)
        .cast("int")
        .alias("bot_like"),
    )


# ---------------------------------------------------------------------------
# Corpus dedup report: the pipeline-level summary of the dedup stack
# ---------------------------------------------------------------------------


def _dedup_report_sql() -> str:
    from .queries_llm import _COMPONENTS_CTE

    return f"""{_COMPONENTS_CTE},
sizes AS (
  SELECT component, COUNT(*) AS sz FROM comp GROUP BY component
)
SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)
         AS n_clustered_docs,
       CAST(SUM(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) AS BIGINT)
         AS n_removable,
       CAST(MAX(sz) AS BIGINT) AS largest_cluster,
       ROUND(SUM(CASE WHEN sz > 1 THEN sz - 1 ELSE 0 END) * 1.0 /
             (SELECT COUNT(*) FROM documents), 6) AS dedup_ratio
FROM sizes
"""


@register(
    "curation_dedup_report",
    _dedup_report_sql(),
    doc=(
        "corpus dedup report — the one-row summary a pipeline "
        "operator actually reads before committing a dedup pass: "
        "total docs, near-dup clusters (size > 1 components of the "
        "jaccard pair graph, same guarded expansion as "
        "dedup_components), docs inside clusters, docs REMOVABLE "
        "(keep one canonical per cluster), the largest cluster "
        "(boilerplate blowups show up here first), and the overall "
        "dedup ratio. Composes the existing pair-graph + connected-"
        "components machinery and reduces it to cluster-size "
        "statistics — the marginal cost over dedup_components is one "
        "tiny aggregate, and at 100 TB the report IS the cheap "
        "artifact to persist per corpus snapshot (the full doc-to-"
        "component map only needs materializing when the ratio says "
        "the pass is worth it)"
    ),
)
def curation_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_llm import components_frame

    docs = load_table(spark, sf_dir, "documents")
    comp = components_frame(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    rep = sizes.agg(
        F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_clusters"),
        F.sum(F.when(F.col("sz") > 1, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("n_clustered_docs"),
        F.sum(F.when(F.col("sz") > 1, F.col("sz") - 1).otherwise(0))
        .cast("bigint")
        .alias("n_removable"),
        F.max("sz").cast("bigint").alias("largest_cluster"),
    )
    return n_docs.crossJoin(F.broadcast(rep)).select(
        "n_docs",
        "n_clusters",
        "n_clustered_docs",
        "n_removable",
        "largest_cluster",
        dround(
            F.col("n_removable") * F.lit(1.0) / F.col("n_docs"), 6
        ).alias("dedup_ratio"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities: mutual reinforcement on the bipartite graph
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 2


def _hits_sql() -> str:
    rounds = []
    ph, pa = "h0", "a0"
    for i in range(1, _HITS_ROUNDS + 1):
        rounds.append(f"""
ar{i} AS (
  SELECT e.dst AS node, SUM(h.s) AS raw
  FROM edges e JOIN {ph} h ON h.node = e.src GROUP BY e.dst
),
a{i} AS (
  SELECT node, ROUND(raw / (SELECT SUM(raw) FROM ar{i}), 6) AS s FROM ar{i}
),
hr{i} AS (
  SELECT e.src AS node, SUM(a.s) AS raw
  FROM edges e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
),
h{i} AS (
  SELECT node, ROUND(raw / (SELECT SUM(raw) FROM hr{i}), 6) AS s FROM hr{i}
)""")
        ph, pa = f"h{i}", f"a{i}"
    return f"""
WITH edges AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
h0 AS (SELECT DISTINCT src AS node, 1.0 AS s FROM edges),
{','.join(rounds)}
SELECT node, 'hub' AS role, s AS score FROM {ph}
UNION ALL
SELECT node, 'authority', s FROM {pa}
"""


@register(
    "graph_hits",
    _hits_sql(),
    doc=(
        f"HITS hubs & authorities ({_HITS_ROUNDS} rounds) on the "
        "DIRECTED customer->supplier purchase graph — the mutual-"
        "reinforcement ranking PageRank's single random walk cannot "
        "express, and the bipartite graph is its natural home "
        "(customers score as hubs of good suppliers, suppliers as "
        "authorities endorsed by good hubs). Each half-round is one "
        "O(E) join + aggregate; scores L1-normalize and ROUND TO "
        "1e-6 EVERY half-round (the graph_pagerank discipline — the "
        "round re-synchronizes float state across engines, and the "
        "normalizing sum is a broadcast 1-row aggregate). Rides the "
        "shared int64 node bijection with string decode at the end; "
        "the oracle unrolls the identical half-rounds as CTEs"
    ),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_analytics import decode_purchase_node, purchase_iedges

    edges = purchase_iedges(spark, sf_dir)
    h = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("s")
    )
    a = None
    for _ in range(_HITS_ROUNDS):
        ar = (
            edges.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("s").alias("raw"))
        )
        atot = ar.agg(F.sum("raw").alias("t"))
        a = pin(ar.crossJoin(F.broadcast(atot)).select(
            "node", dround(F.col("raw") / F.col("t"), 6).alias("s")
        ))
        hr = (
            edges.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("s").alias("raw"))
        )
        htot = hr.agg(F.sum("raw").alias("t"))
        h = pin(hr.crossJoin(F.broadcast(htot)).select(
            "node", dround(F.col("raw") / F.col("t"), 6).alias("s")
        ))
    return h.select(
        decode_purchase_node("node").alias("node"),
        F.lit("hub").alias("role"),
        F.col("s").alias("score"),
    ).unionByName(
        a.select(
            decode_purchase_node("node").alias("node"),
            F.lit("authority").alias("role"),
            F.col("s").alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U: the rank-sum test in exact doubled integers
# ---------------------------------------------------------------------------

_MWU_SQL = """
WITH s AS (
  SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS g
  FROM events WHERE event_type IN ('click', 'view')
),
pv AS (
  SELECT v,
         SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS a1,
         SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS a2
  FROM s GROUP BY v
),
cum AS (
  SELECT v, a1, a2, a1 + a2 AS t,
         COALESCE(SUM(a1 + a2) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         0) AS cl,
         SUM(a1) OVER () AS n1,
         SUM(a2) OVER () AS n2
  FROM pv
)
SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
       CAST(SUM(a1 * (2 * cl + t + 1)) - MAX(n1) * (MAX(n1) + 1)
            AS BIGINT) AS u1_x2,
       CAST(2 * MAX(n1) * MAX(n2)
            - (SUM(a1 * (2 * cl + t + 1)) - MAX(n1) * (MAX(n1) + 1))
            AS BIGINT) AS u2_x2,
       ROUND((SUM(a1 * (2 * cl + t + 1)) - MAX(n1) * (MAX(n1) + 1))
             / (2.0 * MAX(n1) * MAX(n2)), 6) AS auc
FROM cum
"""


@register(
    "stats_mann_whitney",
    _MWU_SQL,
    doc=(
        "Mann-Whitney U (the rank-sum companion to stats_ks_test — "
        "KS asks 'do the distributions differ anywhere', U asks 'is "
        "one stochastically larger'): with ties handled by midranks, "
        "DOUBLED ranks are integers — 2*midrank(v) = 2*count_less + "
        "count_tied + 1 — so 2*R1, U1*2, U2*2 and the identity check "
        "U1+U2 = n1*n2 are all exact int64; the only double is the "
        "final AUC = U1/(n1*n2), which IS the probability a random "
        "click value exceeds a random view value (the U/AUC "
        "equivalence). Same reduce-first shape as KS: per-distinct-"
        "value counts, one cumulative window over the merged "
        "support, one aggregate"
    ),
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "view")).select(
        dround(F.col("value") * 100, 0).cast("bigint").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(2).alias("g"),
    )
    pv = s.groupBy("v").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("a1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).alias("a2"),
    )
    w_lt = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = pv.select(
        "a1",
        (F.col("a1") + F.col("a2")).alias("t"),
        F.coalesce(
            F.sum(F.col("a1") + F.col("a2")).over(w_lt), F.lit(0)
        ).alias("cl"),
        F.sum("a1").over(w_all).alias("n1"),
        F.sum("a2").over(w_all).alias("n2"),
    )
    r1x2 = F.sum(F.col("a1") * (2 * F.col("cl") + F.col("t") + 1))
    u1x2 = r1x2 - F.max("n1") * (F.max("n1") + 1)
    return cum.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        u1x2.cast("bigint").alias("u1_x2"),
        (2 * F.max("n1") * F.max("n2") - u1x2).cast("bigint").alias("u2_x2"),
        dround(u1x2 / (F.lit(2.0) * F.max("n1") * F.max("n2")), 6).alias("auc"),
    )


# ---------------------------------------------------------------------------
# SPC control chart: Western-Electric-style run rules over daily totals
# ---------------------------------------------------------------------------

_SPC_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS c
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, day, c,
         SUM(c) OVER (PARTITION BY event_type) AS s,
         SUM(c * c) OVER (PARTITION BY event_type) AS ss,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
z AS (
  SELECT event_type, day,
         CASE WHEN ss - s * s * 1.0 / n = 0 THEN NULL
              ELSE ROUND((c - s * 1.0 / n) /
                         SQRT((ss - s * s * 1.0 / n) / n), 4) END AS z
  FROM st
),
rules AS (
  SELECT event_type, day, z,
         CASE WHEN ABS(z) > 3 THEN 1 ELSE 0 END AS r1_beyond_3s,
         CASE WHEN SUM(CASE WHEN z > 2 THEN 1 ELSE 0 END) OVER (
                PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2
                OR SUM(CASE WHEN z < -2 THEN 1 ELSE 0 END) OVER (
                PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2
              THEN 1 ELSE 0 END AS r2_two_of_three_2s,
         CASE WHEN SUM(CASE WHEN z > 0 THEN 1 ELSE 0 END) OVER (
                PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8
                OR SUM(CASE WHEN z < 0 THEN 1 ELSE 0 END) OVER (
                PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8
              THEN 1 ELSE 0 END AS r3_eight_one_side
  FROM z
)
SELECT event_type, day, z,
       CAST(r1_beyond_3s AS INTEGER) AS r1_beyond_3s,
       CAST(r2_two_of_three_2s AS INTEGER) AS r2_two_of_three_2s,
       CAST(r3_eight_one_side AS INTEGER) AS r3_eight_one_side
FROM rules
"""


@register(
    "events_anomaly_spc",
    _SPC_SQL,
    doc=(
        "SPC control chart with Western-Electric-style run rules — "
        "the process-monitoring family beyond point anomalies "
        "(events_anomaly's 3-sigma flags single points; run rules "
        "catch SUSTAINED shifts a process drifts into without any "
        "single point alarming): rule 1 = |z| > 3, rule 2 = two of "
        "three consecutive beyond 2-sigma same side, rule 3 = eight "
        "consecutive same side of center. z-scores derive from "
        "exact integer sum / sum-of-squares (population sigma via "
        "the ss - s^2/n identity) and ROUND TO 4dp FIRST; every "
        "rule then evaluates counting windows over the ROUNDED z, "
        "so rule decisions are bit-deterministic on both engines "
        "(comparing unrounded floats at the 2.0/3.0 boundaries "
        "would be fold-order fragile). All windows run over the "
        "reduced per-day frame"
    ),
)
def events_anomaly_spc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(dround(F.col("value") * 100, 0).cast("bigint")).alias("c"))
    wt = W.partitionBy("event_type")
    st = daily.select(
        "event_type",
        "day",
        "c",
        F.sum("c").over(wt).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(wt).alias("ss"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    mean = F.col("s") * F.lit(1.0) / F.col("n")
    sd = F.sqrt(
        (F.col("ss") - F.col("s") * F.col("s") * F.lit(1.0) / F.col("n"))
        / F.col("n")
    )
    # NULL z on a zero-variance series on BOTH engines (Spark ANSI
    # throws on /0 where DuckDB returns NULL — the stats_ab_test guard)
    z = st.select(
        "event_type",
        "day",
        F.when(
            F.col("ss") - F.col("s") * F.col("s") * F.lit(1.0) / F.col("n")
            != 0,
            dround((F.col("c") - mean) / sd, 4),
        ).alias("z"),
    )
    w3 = wt.orderBy("day").rowsBetween(-2, W.currentRow)
    w8 = wt.orderBy("day").rowsBetween(-7, W.currentRow)
    hi2 = F.sum(F.when(F.col("z") > 2, 1).otherwise(0)).over(w3)
    lo2 = F.sum(F.when(F.col("z") < -2, 1).otherwise(0)).over(w3)
    hi0 = F.sum(F.when(F.col("z") > 0, 1).otherwise(0)).over(w8)
    lo0 = F.sum(F.when(F.col("z") < 0, 1).otherwise(0)).over(w8)
    return z.select(
        "event_type",
        "day",
        "z",
        F.when(F.abs(F.col("z")) > 3, 1).otherwise(0).cast("int").alias(
            "r1_beyond_3s"
        ),
        F.when((hi2 >= 2) | (lo2 >= 2), 1).otherwise(0).cast("int").alias(
            "r2_two_of_three_2s"
        ),
        F.when((hi0 == 8) | (lo0 == 8), 1).otherwise(0).cast("int").alias(
            "r3_eight_one_side"
        ),
    )


# ---------------------------------------------------------------------------
# Sweep-line open-interval counting: the difference-array pattern
# ---------------------------------------------------------------------------

_SWEEP_SQL = """
WITH iv AS (
  SELECT CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE) + INTERVAL (o_orderkey % 30) DAY AS e
  FROM orders
),
deltas AS (
  SELECT s AS day, 1 AS d FROM iv
  UNION ALL
  SELECT CAST(e AS DATE) + INTERVAL 1 DAY, -1 FROM iv
),
byday AS (
  SELECT CAST(day AS DATE) AS day, SUM(d) AS net FROM deltas GROUP BY 1
  HAVING SUM(d) <> 0
)
SELECT day, CAST(SUM(net) OVER (ORDER BY day
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_orders
FROM byday
"""


@register(
    "events_interval_open_counts",
    _SWEEP_SQL,
    doc=(
        "sweep-line open-interval counting (orders open from "
        "placement through a deterministic orderkey-derived "
        "fulfillment date, inclusive): how many intervals cover each "
        "day — the backlog burn-down / concurrent-sessions / "
        "occupancy readout. THE difference-array pattern: each "
        "interval contributes +1 at its start and -1 the day AFTER "
        "its end, one aggregate nets the deltas per day, one "
        "cumulative window over the reduced per-day frame "
        "reconstructs the coverage — O(n + change points), where the "
        "naive interval⋈calendar join (the join_interval_overlap "
        "shape pointed at a calendar) is O(n·duration) rows; at "
        "100 TB with long-lived intervals the difference array is "
        "the only viable plan. The output is the step function's "
        "CHANGE POINTS (a row only where the count changes; the "
        "value holds until the next row — densifying against a "
        "calendar is exactly the join this pattern exists to avoid, "
        "and the step-lookup contract is tested). Integer +1/-1 "
        "deltas: bit-exact everywhere"
    ),
)
def events_interval_open_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    iv = orders.select(
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.col("o_orderkey") % 30).cast("int"),
        ).alias("e"),
    )
    deltas = iv.select(F.col("s").alias("day"), F.lit(1).alias("d")).unionByName(
        iv.select(F.date_add(F.col("e"), 1).alias("day"), F.lit(-1).alias("d"))
    )
    # net-zero days (equal starts and ends) are not change points —
    # dropping them before the cumulative sum changes no later value
    # and keeps the documented change-points-only contract exact
    byday = deltas.groupBy("day").agg(F.sum("d").alias("net")).filter(
        F.col("net") != 0
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return byday.select(
        "day", F.sum("net").over(w).cast("bigint").alias("open_orders")
    )


# ---------------------------------------------------------------------------
# Difference-in-differences: the two-group two-period causal estimator
# ---------------------------------------------------------------------------

_DID_SQL = """
WITH base AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'treat' ELSE 'control' END AS grp,
         CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16' THEN 'post'
              ELSE 'pre' END AS period,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
),
cells AS (
  SELECT grp, period, COUNT(*) AS n, SUM(c) AS s FROM base GROUP BY 1, 2
),
w AS (
  SELECT
    MAX(CASE WHEN grp = 'treat' AND period = 'post' THEN s * 1.0 / n END) AS tp,
    MAX(CASE WHEN grp = 'treat' AND period = 'pre' THEN s * 1.0 / n END) AS tr,
    MAX(CASE WHEN grp = 'control' AND period = 'post' THEN s * 1.0 / n END) AS cp,
    MAX(CASE WHEN grp = 'control' AND period = 'pre' THEN s * 1.0 / n END) AS cr,
    SUM(n) AS n_total
  FROM cells
)
SELECT ROUND((tp - tr) / 100.0, 4) AS treat_delta,
       ROUND((cp - cr) / 100.0, 4) AS control_delta,
       ROUND(((tp - tr) - (cp - cr)) / 100.0, 4) AS did,
       CAST(n_total AS BIGINT) AS n_obs
FROM w
"""


@register(
    "stats_diff_in_diff",
    _DID_SQL,
    doc=(
        "difference-in-differences (the workhorse two-group x "
        "two-period causal estimator): treatment split by user "
        "parity, periods split at the corpus midpoint, DiD = "
        "(treat_post - treat_pre) - (control_post - control_pre) — "
        "the control group's trend nets out the secular drift a "
        "naive before/after comparison absorbs (on this synthetic "
        "corpus the true effect is ~0, which is the right null "
        "readout and exactly what the parallel-trends assumption "
        "predicts for a parity split). Each cell mean is an exact "
        "integer-cents sum over one hash aggregation of the "
        "type-pruned scan divided once; the four cells pivot via "
        "conditional MAX on a 4-row frame. Pair with stats_ab_test "
        "(z on levels) and forecast_conformal (uncertainty) for the "
        "experimentation read-stack"
    ),
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type") == "purchase").select(
        F.when(F.col("user_id") % 2 == 0, "treat").otherwise("control").alias(
            "grp"
        ),
        F.when(
            F.col("ts").cast("date") >= F.lit("2024-01-16").cast("date"), "post"
        )
        .otherwise("pre")
        .alias("period"),
        dround(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    cells = base.groupBy("grp", "period").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )

    def cell(g: str, p: str) -> "F.Column":
        return F.max(
            F.when(
                (F.col("grp") == g) & (F.col("period") == p),
                F.col("s") * F.lit(1.0) / F.col("n"),
            )
        )

    w = cells.agg(
        cell("treat", "post").alias("tp"),
        cell("treat", "pre").alias("tr"),
        cell("control", "post").alias("cp"),
        cell("control", "pre").alias("cr"),
        F.sum("n").alias("n_total"),
    )
    return w.select(
        dround((F.col("tp") - F.col("tr")) / 100.0, 4).alias("treat_delta"),
        dround((F.col("cp") - F.col("cr")) / 100.0, 4).alias("control_delta"),
        dround(
            ((F.col("tp") - F.col("tr")) - (F.col("cp") - F.col("cr"))) / 100.0,
            4,
        ).alias("did"),
        F.col("n_total").cast("bigint").alias("n_obs"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation in exact doubled-rank integers
# ---------------------------------------------------------------------------

_SPEAR_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CASE WHEN event_type = 'view'
             THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS xv,
         SUM(CASE WHEN event_type = 'purchase'
             THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS yv
  FROM events GROUP BY 1
),
mid AS (
  SELECT day, xv, yv,
         2 * (SELECT COUNT(*) FROM daily d2 WHERE d2.xv < d.xv)
           + (SELECT COUNT(*) FROM daily d2 WHERE d2.xv = d.xv) + 1 AS x2,
         2 * (SELECT COUNT(*) FROM daily d2 WHERE d2.yv < d.yv)
           + (SELECT COUNT(*) FROM daily d2 WHERE d2.yv = d.yv) + 1 AS y2
  FROM daily d
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND((COUNT(*) * SUM(x2 * y2) - SUM(x2) * SUM(y2)) /
             (SQRT(COUNT(*) * SUM(x2 * x2) - SUM(x2) * SUM(x2)) *
              SQRT(COUNT(*) * SUM(y2 * y2) - SUM(y2) * SUM(y2))), 4)
         AS spearman_rho
FROM mid
"""


@register(
    "agg_spearman_corr",
    _SPEAR_SQL,
    doc=(
        "Spearman rank correlation between daily view and purchase "
        "totals — the monotone-association companion to agg_stats' "
        "Pearson corr (outlier-robust, invariant to any monotone "
        "rescaling): values convert to DOUBLED midranks (2*midrank = "
        "2*count_less + count_tied + 1, the stats_mann_whitney "
        "integer-tie trick), so every Pearson sum over the ranks "
        "(sum x2, x2*y2, x2^2 ...) is exact int64 and rho emerges "
        "from ONE double expression at the end — no float rank, no "
        "fold-order exposure. Runs over the reduced per-day frame; "
        "at scale the midranks come from the same cumulative-count "
        "reduction KS and U use instead of per-row count subqueries"
    ),
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = dround(F.col("value") * 100, 0).cast("bigint")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", cents).otherwise(0)).alias(
            "xv"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        ).alias("yv"),
    )

    # 2*midrank = 2*count_less + count_tied + 1; rank() returns
    # 1 + count_less, so 2*rank(value) - 1 + count_tied gives the
    # doubled midrank directly (ties share a rank() value)
    ranked = daily.select(
        (
            2 * F.rank().over(W.orderBy("xv"))
            - 1
            + F.count(F.lit(1)).over(W.partitionBy("xv"))
        ).alias("x2"),
        (
            2 * F.rank().over(W.orderBy("yv"))
            - 1
            + F.count(F.lit(1)).over(W.partitionBy("yv"))
        ).alias("y2"),
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x2"), F.sum("y2")
    sxy = F.sum(F.col("x2") * F.col("y2"))
    sxx = F.sum(F.col("x2") * F.col("x2"))
    syy = F.sum(F.col("y2") * F.col("y2"))
    return ranked.agg(
        n.cast("bigint").alias("n_days"),
        dround(
            (n * sxy - sx * sy)
            / (
                F.sqrt((n * sxx - sx * sx).cast("double"))
                * F.sqrt((n * syy - sy * sy).cast("double"))
            ),
            4,
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between source unigram distributions
# ---------------------------------------------------------------------------

_JSD_SRC_A = "src0"
_JSD_SRC_B = "src1"

_JSD_SQL = f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE source IN ('{_JSD_SRC_A}', '{_JSD_SRC_B}')
),
cnt AS (
  SELECT w,
         SUM(CASE WHEN source = '{_JSD_SRC_A}' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN source = '{_JSD_SRC_B}' THEN 1 ELSE 0 END) AS cb
  FROM tok GROUP BY w
),
tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM cnt),
terms AS (
  SELECT
    CASE WHEN ca > 0 THEN ca * (
      CAST(ROUND(LN(2.0 * ca * nb) * 100000000, 0) AS BIGINT)
      - CAST(ROUND(LN(ca * nb + cb * na) * 100000000, 0) AS BIGINT)
    ) ELSE 0 END AS ta,
    CASE WHEN cb > 0 THEN cb * (
      CAST(ROUND(LN(2.0 * cb * na) * 100000000, 0) AS BIGINT)
      - CAST(ROUND(LN(ca * nb + cb * na) * 100000000, 0) AS BIGINT)
    ) ELSE 0 END AS tb,
    na, nb
  FROM cnt CROSS JOIN tot
)
SELECT CAST(MAX(na) AS BIGINT) AS n_tokens_a,
       CAST(MAX(nb) AS BIGINT) AS n_tokens_b,
       ROUND((SUM(ta) * 1.0 / MAX(na) + SUM(tb) * 1.0 / MAX(nb))
             / (2 * 100000000.0 * LN(2.0)), 6) AS jsd_bits
FROM terms
"""


@register(
    "text_js_divergence",
    _JSD_SQL,
    doc=(
        f"Jensen-Shannon divergence between the '{_JSD_SRC_A}' and "
        f"'{_JSD_SRC_B}' unigram distributions, in bits — the "
        "SYMMETRIC, always-finite corpus-distance (KL explodes on "
        "any token one side lacks; JSD's mixture midpoint never "
        "does), the standard answer to 'how different are these two "
        "sources before I mix them'. The log-ratio trick keeps it "
        "integer-exact: each term p_a*ln(2*p_a/(p_a+p_b)) rewrites "
        "over COUNTS as ca*(ln(2*ca*nb) - ln(ca*nb + cb*na)) — "
        "denominators cancel — with each ln rounded once to integer "
        "1e-8 units (the profile_information_gain discipline), so "
        "both engines sum identical integers and divide once at the "
        "end. One token-count aggregation, one broadcast total, one "
        "reduce; JSD is bounded in [0, 1] bit, emitted at 6dp"
    ),
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.filter(F.col("source").isin(_JSD_SRC_A, _JSD_SRC_B)).select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    cnt = tok.groupBy("w").agg(
        F.sum(F.when(F.col("source") == _JSD_SRC_A, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("source") == _JSD_SRC_B, 1).otherwise(0)).alias("cb"),
    )
    tot = cnt.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))

    mix = iln(F.col("ca") * F.col("nb") + F.col("cb") * F.col("na"))
    terms = cnt.crossJoin(F.broadcast(tot)).select(
        F.when(
            F.col("ca") > 0,
            F.col("ca") * (iln(F.lit(2.0) * F.col("ca") * F.col("nb")) - mix),
        )
        .otherwise(0)
        .alias("ta"),
        F.when(
            F.col("cb") > 0,
            F.col("cb") * (iln(F.lit(2.0) * F.col("cb") * F.col("na")) - mix),
        )
        .otherwise(0)
        .alias("tb"),
        "na",
        "nb",
    )
    import math as _m

    return terms.agg(
        F.max("na").cast("bigint").alias("n_tokens_a"),
        F.max("nb").cast("bigint").alias("n_tokens_b"),
        dround(
            (
                F.sum("ta") * F.lit(1.0) / F.max("na")
                + F.sum("tb") * F.lit(1.0) / F.max("nb")
            )
            / F.lit(2 * 100000000.0 * _m.log(2.0)),
            6,
        ).alias("jsd_bits"),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown: the prefix-max identity in integer cents
# ---------------------------------------------------------------------------

_MDD_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
),
eq AS (
  SELECT event_type, day,
         SUM(v) OVER (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS equity
  FROM daily
),
dd AS (
  SELECT event_type, day, equity,
         MAX(equity) OVER (PARTITION BY event_type ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS peak
  FROM eq
)
SELECT event_type,
       CAST(MAX(peak - equity) AS BIGINT) AS max_drawdown_c,
       ROUND(MAX(peak - equity) / 100.0, 2) AS max_drawdown,
       ROUND(MAX((peak - equity) * 1.0 / peak), 6) AS max_drawdown_frac
FROM dd GROUP BY event_type
"""


@register(
    "events_max_drawdown",
    _MDD_SQL,
    doc=(
        "maximum drawdown of the cumulative daily value curve per "
        "event_type — the risk metric behind the CUSUM identity "
        "(events_cusum_changepoint documents s = P - min-prefix; "
        "drawdown is the mirror: max over days of prefix-MAX minus "
        "current equity): two cumulative windows (running sum, "
        "running max of it) over the reduced per-day frame, then one "
        "aggregate. Integer cents throughout — the only doubles are "
        "the emitted dollar value and the peak-relative fraction, "
        "each one division. The fraction's per-row division is safe "
        "on both engines because peak is a positive int64 (first "
        "day's equity > 0 on this corpus) and the ROUND happens "
        "after the MAX of exactly-equal doubles"
    ),
)
def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(dround(F.col("value") * 100, 0).cast("bigint")).alias("v"))
    wc = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    eq = daily.select(
        "event_type", "day", F.sum("v").over(wc).alias("equity")
    )
    dd = eq.select(
        "event_type",
        "equity",
        F.max("equity").over(wc).alias("peak"),
    )
    gap = F.col("peak") - F.col("equity")
    return dd.groupBy("event_type").agg(
        F.max(gap).cast("bigint").alias("max_drawdown_c"),
        dround(F.max(gap) / 100.0, 2).alias("max_drawdown"),
        dround(F.max(gap * F.lit(1.0) / F.col("peak")), 6).alias(
            "max_drawdown_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function in exact n²-scaled integers
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7

_ACF_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
ser AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS t, c FROM daily),
tot AS (SELECT COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS ss FROM ser),
ks AS (SELECT range AS k FROM range(1, {_ACF_MAX_LAG + 1})),
terms AS (
  SELECT ks.k,
         SUM(a.c * b.c) AS sxy,
         SUM(a.c) AS sh,
         SUM(b.c) AS st
  FROM ks JOIN ser a ON a.t > ks.k JOIN ser b ON b.t = a.t - ks.k
  GROUP BY ks.k
)
SELECT CAST(t.k AS INTEGER) AS lag,
       CAST(tot.n - t.k AS BIGINT) AS n_pairs,
       CASE WHEN tot.n * tot.ss - tot.s * tot.s <> 0 THEN
         ROUND((tot.n * tot.n * t.sxy - tot.n * tot.s * (t.sh + t.st)
                + (tot.n - t.k) * tot.s * tot.s) * 1.0
               / (tot.n * (tot.n * tot.ss - tot.s * tot.s)), 6)
       END AS acf
FROM terms t CROSS JOIN tot
"""


@register(
    "events_autocorrelation",
    _ACF_SQL,
    doc=(
        f"autocorrelation function of the daily purchase-count series "
        f"at lags 1..{_ACF_MAX_LAG} — the lag-structure diagnostic "
        "that motivates events_seasonal_decompose's period choice and "
        "forecast_backtest_smape's seasonal-naive baseline: the "
        "mean-centered lag-k product sum rewrites as n²·Σ(x_t·x_(t-k)) "
        "− n·S·(head+tail sums) + (n−k)·S², so every term is exact "
        "int64 over integer day-counts and acf emerges from ONE "
        "double division per lag (the agg_spearman_corr device). One "
        "window pass computes all lag columns (row_number + lag 1..k "
        "share a single O(days) sort), one aggregation produces the "
        "cross-lag sums, and a stack() unpivot emits the lag rows — "
        "reduce-first: events collapse to the per-day frame before "
        "any window. Zero-variance series yields NULL acf on both "
        "engines instead of an ANSI divide-by-zero"
    ),
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # O(days) frame: the single-partition window is over the reduced
    # series, the events_cumulative_uniques posture
    w = W.orderBy("day")
    lagged = daily.select(
        "c", *[F.lag("c", k).over(w).alias(f"l{k}") for k in range(1, _ACF_MAX_LAG + 1)]
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    ]
    for k in range(1, _ACF_MAX_LAG + 1):
        lk = F.col(f"l{k}")
        aggs += [
            F.sum(F.col("c") * lk).alias(f"sxy{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("c"))).alias(f"sh{k}"),
            F.sum(lk).alias(f"st{k}"),
        ]
    one = lagged.agg(*aggs)
    stack_args = ", ".join(
        f"{k}, sxy{k}, sh{k}, st{k}" for k in range(1, _ACF_MAX_LAG + 1)
    )
    rows = one.select(
        "n",
        "s",
        "ss",
        F.expr(
            f"stack({_ACF_MAX_LAG}, {stack_args}) AS (k, sxy, sh, st)"
        ),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    k, sxy = F.col("k"), F.col("sxy")
    num = n * n * sxy - n * s * (F.col("sh") + F.col("st")) + (n - k) * s * s
    den = n * (n * ss - s * s)
    return rows.select(
        k.cast("int").alias("lag"),
        (n - k).cast("bigint").alias("n_pairs"),
        F.when(n * ss - s * s != 0, dround(num * F.lit(1.0) / den, 6)).alias(
            "acf"
        ),
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding
# ---------------------------------------------------------------------------

_TE_SQL = """
WITH t AS (
  SELECT o_orderkey, c_mktsegment AS seg,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
),
g AS (
  SELECT o_orderkey, seg, cents,
         SUM(cents) OVER (PARTITION BY seg) AS s,
         COUNT(*) OVER (PARTITION BY seg) AS n
  FROM t
)
SELECT o_orderkey, seg,
       ROUND(cents / 100.0, 2) AS price,
       CASE WHEN n > 1
            THEN ROUND((s - cents) / ((n - 1) * 100.0), 4)
       END AS loo_mean_price
FROM g
"""


@register(
    "feature_target_encoding",
    _TE_SQL,
    doc=(
        "leave-one-out target encoding of the customer market segment "
        "against order value — the categorical-feature encoder beside "
        "feature_discretize/winsorize/quantile_normalize: each row is "
        "encoded as (segment_sum − own_value)/(segment_count − 1), so "
        "the encoding never leaks the row's own target (the "
        "train-time leakage the split_leakage_safe family guards at "
        "corpus level, here at feature level). Sums are exact int64 "
        "cents accumulated by an UNORDERED partition window (no sort "
        "— one hash shuffle on segment), the per-row encode is "
        "map-only, and the single double division happens last; "
        "singleton segments emit NULL instead of an ANSI /0. The "
        "customer dim broadcasts into the fact scan"
    ),
)
def feature_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    t = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("seg"),
        dround(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    wseg = W.partitionBy("seg")
    g = t.select(
        "o_orderkey",
        "seg",
        "cents",
        F.sum("cents").over(wseg).alias("s"),
        F.count(F.lit(1)).over(wseg).alias("n"),
    )
    return g.select(
        "o_orderkey",
        "seg",
        dround(F.col("cents") / 100.0, 2).alias("price"),
        F.when(
            F.col("n") > 1,
            dround(
                (F.col("s") - F.col("cents"))
                / ((F.col("n") - 1) * F.lit(100.0)),
                4,
            ),
        ).alias("loo_mean_price"),
    )


# ---------------------------------------------------------------------------
# Link prediction: common-neighbor / Jaccard scores on non-edges
# ---------------------------------------------------------------------------

_LP_TOP = 20

_LP_SQL = f"""
WITH {_CAPPED_PAIRS_SQL},
adj AS (
  SELECT ka AS src, kb AS dst FROM pairs
  UNION ALL SELECT kb, ka FROM pairs
),
deg AS (SELECT src AS node, COUNT(*) AS d FROM adj GROUP BY src),
cand AS (
  SELECT a1.dst AS a, a2.dst AS c, COUNT(*) AS cn
  FROM adj a1 JOIN adj a2 ON a1.src = a2.src AND a1.dst < a2.dst
  GROUP BY 1, 2
),
nonadj AS (
  SELECT cand.a, cand.c, cand.cn FROM cand
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p WHERE p.ka = cand.a AND p.kb = cand.c
  )
)
SELECT n.a AS node_a, n.c AS node_b,
       CAST(n.cn AS BIGINT) AS common_neighbors,
       CAST(da.d + dc.d - n.cn AS BIGINT) AS union_size,
       ROUND(n.cn * 1.0 / (da.d + dc.d - n.cn), 4) AS jaccard
FROM nonadj n
JOIN deg da ON da.node = n.a
JOIN deg dc ON dc.node = n.c
ORDER BY common_neighbors DESC, node_a, node_b LIMIT {_LP_TOP}
"""


@register(
    "graph_link_prediction",
    _LP_SQL,
    doc=(
        "link prediction over the blocked-similarity part graph — the "
        "missing-edge scorer beside the existing graph analytics (CC "
        "finds what IS connected; this ranks what is NOT yet "
        "connected but should be): candidate non-edges materialize "
        "through the same oriented wedge join graph_triangles uses "
        "(adj self-join on the shared middle node, a < c so each "
        "unordered pair counts once), scored by common-neighbor count "
        "and neighborhood Jaccard |N(a)∩N(c)| / (deg a + deg c − "
        "|∩|) — exact integers until one final double division (the "
        "Adamic-Adar Σ1/log(deg) variant is deliberately avoided: a "
        "float SUM's fold order is engine-dependent). Existing edges "
        "drop via an anti-join, the hot-node cap bounds wedge fan-out "
        "BEFORE the self-join (mirrored in the oracle), and output is "
        f"the deterministic top-{_LP_TOP} (cn desc, node ids) via "
        "TakeOrdered — never the full candidate set"
    ),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # consumers: adj (×2 wedge sides), degree aggregate, anti-join probe
    pairs = pin(_capped_pairs(spark, sf_dir))
    adj = pairs.unionByName(
        pairs.select(F.col("kb").alias("ka"), F.col("ka").alias("kb"))
    )
    a1 = adj.select(F.col("ka").alias("b"), F.col("kb").alias("a"))
    a2 = adj.select(F.col("ka").alias("b"), F.col("kb").alias("c"))
    cand = (
        a1.join(a2, "b")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonadj = cand.join(
        pairs.select(F.col("ka").alias("a"), F.col("kb").alias("c")),
        ["a", "c"],
        "left_anti",
    )
    deg = adj.groupBy("ka").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("ka").alias("a"), F.col("d").alias("da"))
    dc = deg.select(F.col("ka").alias("c"), F.col("d").alias("dc"))
    scored = nonadj.join(da, "a").join(dc, "c")
    union_size = F.col("da") + F.col("dc") - F.col("cn")
    return (
        scored.select(
            F.col("a").alias("node_a"),
            F.col("c").alias("node_b"),
            F.col("cn").cast("bigint").alias("common_neighbors"),
            union_size.cast("bigint").alias("union_size"),
            dround(F.col("cn") * F.lit(1.0) / union_size, 4).alias("jaccard"),
        )
        .orderBy(F.col("common_neighbors").desc(), "node_a", "node_b")
        .limit(_LP_TOP)
    )


# ---------------------------------------------------------------------------
# Pairwise covariance/correlation matrix in exact integers
# ---------------------------------------------------------------------------

_COV_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
dense AS (
  SELECT d.day, t.event_type, COALESCE(x.c, 0) AS c
  FROM days d CROSS JOIN types t
  LEFT JOIN daily x ON x.day = d.day AND x.event_type = t.event_type
),
j AS (
  SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n,
         SUM(a.c) AS sx, SUM(b.c) AS sy, SUM(a.c * b.c) AS sxy,
         SUM(a.c * a.c) AS sxx, SUM(b.c * b.c) AS syy
  FROM dense a JOIN dense b ON a.day = b.day AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT ta AS type_a, tb AS type_b, CAST(n AS BIGINT) AS n_days,
       ROUND((n * sxy - sx * sy) * 1.0 / (n * n), 4) AS cov,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         ROUND((n * sxy - sx * sy) /
               (SQRT((n * sxx - sx * sx) * 1.0) *
                SQRT((n * syy - sy * sy) * 1.0)), 4)
       END AS corr
FROM j
"""


@register(
    "agg_covariance_pairs",
    _COV_SQL,
    doc=(
        "pairwise covariance/correlation matrix of the daily count "
        "series across event types — the multivariate companion to "
        "agg_stats' single-pair corr and agg_spearman_corr's rank "
        "version: the per-(day,type) counts DENSE-fill through a "
        "days×types cross join (a missing day is a 0 observation, "
        "not an absent row — skipping it would silently compute "
        "covariance over misaligned series), then one self-join on "
        "day with type_a < type_b emits each unordered pair once. "
        "Population cov = (n·Σxy − Sx·Sy)/n² and Pearson corr keep "
        "every sum exact int64 (reduce-first: the joined frame is "
        "O(days·types²), never O(events²)); zero-variance series "
        "yield NULL corr on both engines. At scale the dense frame "
        "partitions by day so the pair join is co-located"
    ),
)
def agg_covariance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    days = daily.select("day").distinct()
    types = daily.select("event_type").distinct()
    dense = (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("c", F.lit(0)).alias("c"))
    )
    a = dense.select(
        "day", F.col("event_type").alias("ta"), F.col("c").alias("ca")
    )
    b = dense.select(
        "day", F.col("event_type").alias("tb"), F.col("c").alias("cb")
    )
    j = (
        a.join(b, "day")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ca").alias("sx"),
            F.sum("cb").alias("sy"),
            F.sum(F.col("ca") * F.col("cb")).alias("sxy"),
            F.sum(F.col("ca") * F.col("ca")).alias("sxx"),
            F.sum(F.col("cb") * F.col("cb")).alias("syy"),
        )
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    vy = n * F.col("syy") - sy * sy
    num = n * F.col("sxy") - sx * sy
    return j.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        n.cast("bigint").alias("n_days"),
        dround(num * F.lit(1.0) / (n * n), 4).alias("cov"),
        F.when(
            (vx > 0) & (vy > 0),
            dround(
                num
                / (
                    F.sqrt((vx * F.lit(1.0)))
                    * F.sqrt((vy * F.lit(1.0)))
                ),
                4,
            ),
        ).alias("corr"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa — chance-corrected rater agreement (declared
# lang label vs the rule-based lang-id heuristic)
# ---------------------------------------------------------------------------


def _kappa_sql() -> str:
    from .queries_llm import _langid_sql_parts
    from ..operators import text as TX

    counts, case = _langid_sql_parts()
    return f"""
WITH feats AS (
  SELECT lang,
         len(regexp_extract_all(text, '{TX.CJK_PATTERN}')) AS cjk_n,
         {counts}
  FROM documents
),
pred AS (
  SELECT lang AS a,
         CASE WHEN cjk_n > 0 THEN 'zh'
              {case}
              ELSE 'und' END AS b
  FROM feats
),
cell AS (SELECT a, b, COUNT(*)::BIGINT AS c FROM pred GROUP BY 1, 2),
n AS (SELECT SUM(c)::HUGEINT AS n FROM cell),
agree AS (SELECT COALESCE(SUM(CASE WHEN a = b THEN c END), 0)::HUGEINT AS agree FROM cell),
ra AS (SELECT a AS k, SUM(c)::HUGEINT AS row_n FROM cell GROUP BY 1),
rb AS (SELECT b AS k, SUM(c)::HUGEINT AS col_n FROM cell GROUP BY 1),
pe AS (
  SELECT COALESCE(SUM(row_n * col_n), 0)::HUGEINT AS sum_rc
  FROM ra JOIN rb USING (k)
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(agree AS BIGINT) AS n_agree,
       ROUND(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
       ROUND(CAST(sum_rc AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
       ROUND(CAST(n * agree - sum_rc AS DOUBLE)
             / CAST(n * n - sum_rc AS DOUBLE), 6) AS kappa
FROM n, agree, pe
"""


@register(
    "stats_cohens_kappa",
    _kappa_sql(),
    doc=(
        "Cohen's kappa — chance-corrected agreement between two "
        "labelers, THE number for 'is my cheap auto-labeler actually "
        "agreeing with ground truth beyond luck' (label-quality "
        "audits before training on weak labels): rater A = the "
        "declared lang column, rater B = the rule-based lang-id "
        "heuristic (ONE shared rendering with text_metrics via "
        "_langid_sql_parts, so the rule set cannot fork). "
        "kappa = (n·Σdiag − Σ row_k·col_k)/(n² − Σ row_k·col_k): the "
        "corpus reduces to the tiny (a, b) confusion frame in one "
        "partial-aggregated shuffle, marginals and the diagonal are "
        "exact integer sums over it (decimal/HUGEINT), and exactly "
        "one double division emits each of po/pe/kappa. At 100 TB "
        "the contingency frame is |classes|² rows — the scan "
        "dominates, the algebra is free. Honest corpus caveat: the "
        "synthetic declared labels are independent of the text, so "
        "kappa sits at chance (~0) by construction — the witness is "
        "the exact confusion algebra, replay-tested"
    ),
)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as TX

    docs = load_table(spark, sf_dir, "documents")
    pred = TX.lang_id(docs).select(
        F.col("lang").alias("a"), F.col("pred_lang").alias("b")
    )
    cell = pred.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
    cell = pin(cell)  # consumers: n/agree/marginals
    d38 = "decimal(38,0)"
    n_df = cell.agg(F.sum("c").cast(d38).alias("n"))
    agree_df = cell.agg(
        F.coalesce(
            F.sum(F.when(F.col("a") == F.col("b"), F.col("c"))), F.lit(0)
        )
        .cast(d38)
        .alias("agree")
    )
    ra = cell.groupBy("a").agg(F.sum("c").cast("decimal(19,0)").alias("row_n"))
    rb = cell.groupBy("b").agg(F.sum("c").cast("decimal(19,0)").alias("col_n"))
    pe_df = (
        ra.join(rb, ra["a"] == rb["b"])
        .agg(
            F.coalesce(
                F.sum((F.col("row_n") * F.col("col_n")).cast("decimal(26,0)")),
                F.lit(0),
            )
            .cast(d38)
            .alias("sum_rc")
        )
    )
    return (
        n_df.crossJoin(F.broadcast(agree_df))
        .crossJoin(F.broadcast(pe_df))
        .select(
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("agree").cast("bigint").alias("n_agree"),
            dround(F.col("agree").cast("double") / F.col("n").cast("double"), 6).alias(
                "po"
            ),
            dround(
                F.col("sum_rc").cast("double")
                / (F.col("n").cast("double") * F.col("n").cast("double")),
                6,
            ).alias("pe"),
            dround(
                (F.col("n") * F.col("agree") - F.col("sum_rc")).cast("double")
                / (F.col("n") * F.col("n") - F.col("sum_rc")).cast("double"),
                6,
            ).alias("kappa"),
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction
# ---------------------------------------------------------------------------

_RAKE_STOPS = ("the", "a", "of", "and", "is")
_RAKE_MAX_LEN = 6
_RAKE_TOP = 20


def _rake_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPS)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
marked AS (
  SELECT doc_id, pos, w,
         (w IN ({stops}) OR w = '') AS is_stop
  FROM tok
),
grp AS (
  SELECT doc_id, pos, w, is_stop,
         SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS pid
  FROM marked
),
phrases AS (
  SELECT doc_id, pid, string_agg(w, ' ' ORDER BY pos) AS phrase,
         COUNT(*) AS plen
  FROM grp WHERE NOT is_stop
  GROUP BY doc_id, pid
  HAVING COUNT(*) <= {_RAKE_MAX_LEN}
),
pw AS (SELECT plen, unnest(string_split(phrase, ' ')) AS w FROM phrases),
wsc AS (
  SELECT w, (SUM(plen) * 1000000) // COUNT(*) AS wscore
  FROM pw GROUP BY w
),
dp AS (SELECT DISTINCT phrase FROM phrases),
dpw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM dp),
score AS (
  SELECT d.phrase, COUNT(*)::BIGINT AS n_words,
         SUM(ws.wscore)::BIGINT AS score_micro
  FROM dpw d JOIN wsc ws USING (w) GROUP BY d.phrase
)
SELECT phrase, n_words, score_micro
FROM score ORDER BY score_micro DESC, phrase LIMIT {_RAKE_TOP}
"""


@register(
    "text_keyword_rake",
    _rake_sql(),
    doc=(
        "RAKE keyword extraction (Rose et al. 2010) — the classic "
        "unsupervised keyphrase method beside tf-idf/BM25's "
        "term-level scoring: candidate phrases are maximal "
        "non-stopword runs (gaps-and-islands over the stopword "
        "flags — one cumulative window per doc), word scores are "
        "degree/frequency where degree sums the lengths of phrases "
        "containing the word, and a phrase scores the sum of its "
        "member word scores. The division lands on the 1e-6 integer "
        "grid (floor micro-units — a documented deterministic "
        "variant of RAKE's exact ratio), so phrase scores are exact "
        "int64 sums and the top-" f"{_RAKE_TOP}" " is a TakeOrdered. "
        "Scale: phrase building is one window + one groupBy on "
        "(doc, run); word stats are vocabulary-sized; phrase "
        f"length caps at {_RAKE_MAX_LEN}"
    ),
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    marked = tok.select(
        "doc_id",
        "pos",
        "w",
        (F.col("w").isin(*_RAKE_STOPS) | (F.col("w") == "")).alias("is_stop"),
    )
    wrun = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    grp = marked.withColumn(
        "pid", F.sum(F.col("is_stop").cast("int")).over(wrun)
    )
    phrases = (
        grp.filter(~F.col("is_stop"))
        .groupBy("doc_id", "pid")
        .agg(
            F.expr(
                "array_join(transform(sort_array(collect_list(struct(pos, w))),"
                " x -> x.w), ' ')"
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_LEN)
    )
    phrases = pin(phrases)  # consumers: word
    # stats + distinct-phrase scoring
    pw = phrases.select("plen", F.explode(F.split("phrase", " ")).alias("w"))
    wsc = pw.groupBy("w").agg(
        F.expr("(SUM(plen) * 1000000) div COUNT(*)").alias("wscore")
    )
    dp = phrases.select("phrase").distinct()
    dpw = dp.select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
    score = (
        dpw.join(F.broadcast(wsc), "w")
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("wscore").cast("bigint").alias("score_micro"),
        )
    )
    return score.orderBy(F.col("score_micro").desc(), "phrase").limit(_RAKE_TOP)
