"""Round-6 analytics waves: capabilities, not witnesses.

Each query here adds an operator FAMILY the catalog did not have —
community detection, shortest-path distance, multi-touch attribution,
A/B significance testing, asymmetric containment dedup, OBV/ATR kline
indicators, winsorized feature statistics, k-anonymity enforcement,
linear trend forecasting, multi-resolution time downsampling; then
(wave 2) HLL set-algebra, wide→long unpivot, distribution windows,
MAD robust anomaly flags, rolling regression, the purged/embargoed
temporal split; then (wave 3) gaps-and-islands streaks, cohort LTV
curves, deterministic mode, the TVD distribution-drift monitor, the
PPJoin-style prefix-filtered similarity join, bag set operations; and
(wave 4) join incremental view maintenance and the referential-
integrity audit. Every query keeps the repo's
determinism discipline: integer arithmetic wherever a sum feeds a
compare, dround() on every emitted double, unrolled-CTE oracles for
the iterative operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.rounding import dround, iln
from ..operators import dedup as D
from ..session import pin, scratch_dir
from ..sources import load_table
from .catalog import register
from .queries_market import _daily_avg, _daily_close, _daily_pair, _ticks

# ---------------------------------------------------------------------------
# Label propagation: community detection (the non-CC, non-rank graph family)
# ---------------------------------------------------------------------------

_EDGES_CTE = """
e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer→supplier purchase graph every graph query shares."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )


def purchase_iedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The purchase graph with nodes dictionary-encoded to dense
    BIGINTs — customer c -> 2c, supplier s -> 2s+1 (disjoint, dense,
    < 2**33 at any TPC-H scale): every iterative round shuffles int64
    pairs instead of strings (~15% measured at sf0.1), and the two
    parities make the bipartite mirror provably collision-free
    (edges_dedup=False). :func:`decode_purchase_node` is the inverse;
    the pair is THE encode/decode bijection — change both or neither
    (graph_label_propagation, graph_pagerank and
    graph_pagerank_personalized all ride it)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return pin(
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            (2 * F.col("o_custkey")).alias("src"),
            (2 * F.col("l_suppkey") + 1).alias("dst"),
        )
        .distinct()
    )


def decode_purchase_node(col: str) -> "F.Column":
    """Inverse of :func:`purchase_iedges`'s encoding: even -> 'c'||n/2,
    odd -> 's'||(n-1)/2 — restores the readable string ids on output."""
    return F.when(
        F.col(col) % 2 == 0,
        F.concat(F.lit("c"), (F.col(col) / 2).cast("bigint").cast("string")),
    ).otherwise(
        F.concat(F.lit("s"), ((F.col(col) - 1) / 2).cast("bigint").cast("string"))
    )


# integer node encoding shared by the Spark query and the oracle:
# customer c -> 2c, supplier s -> 2s+1 (dense, disjoint, < 2**33 at any
# TPC-H scale); decoded back to the readable 'c…'/'s…' form on output
_IEDGES_CTE = """
iedges0 AS (
  SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
iedges AS (SELECT src, dst FROM iedges0 UNION SELECT dst, src FROM iedges0)
"""


_LPA_SHIFT = 2**33  # argmax packing: key = cnt * SHIFT + lbl, lbl < SHIFT


def _decode_sql(col: str) -> str:
    return (
        f"CASE WHEN {col} % 2 = 0 THEN 'c' || CAST(CAST({col} / 2 AS BIGINT) AS VARCHAR) "
        f"ELSE 's' || CAST(CAST(({col} - 1) / 2 AS BIGINT) AS VARCHAR) END"
    )


def _lpa_sql() -> str:
    rounds = []
    prev = "l0"
    for i in (1, 2, 3):
        rounds.append(f"""
l{i} AS (
  SELECT dst AS node,
         CAST(MAX(cnt * {_LPA_SHIFT} + lbl) % {_LPA_SHIFT} AS BIGINT) AS lbl
  FROM (
    SELECT e.dst, l.lbl, COUNT(*) AS cnt
    FROM iedges e JOIN {prev} l ON l.node = e.src
    GROUP BY e.dst, l.lbl
  ) c
  GROUP BY dst
)""")
        prev = f"l{i}"
    return f"""
WITH {_IEDGES_CTE},
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM iedges),
{','.join(rounds)}
SELECT {_decode_sql('node')} AS node,
       {_decode_sql('lbl')} AS community
FROM {prev}
"""


@register(
    "graph_label_propagation",
    _lpa_sql(),
    doc=(
        "label-propagation community detection (3 synchronous rounds, "
        "deterministic max-count/max-label tie-break) over the "
        "undirected purchase graph — the third iterative-graph family "
        "beside connected components (merges everything reachable) "
        "and PageRank (scores, doesn't partition): LPA keeps densely-"
        "connected cores apart when a bridge node's neighbor majority "
        "points elsewhere. Nodes dictionary-encode to dense BIGINTs "
        "(c->2c, s->2s+1; int64 pairs halve every round's shuffle "
        "bytes vs strings) and each round is one O(E) join + one "
        "(node,label)-keyed count shuffle + a per-node argmax PACKED "
        "into one bigint max (cnt*2^33 + lbl) so the whole round "
        "stays inside HashAggregate with map-side combine — the "
        "struct-max and row_number-window forms both fell back to "
        "per-round SortAggregate full sorts, measured 2-3x slower at "
        "sf0.1. Output decodes back to the readable c…/s… ids; "
        "oracle unrolls the identical integer rounds as CTEs"
    ),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 14: the r13 measured-width clone was REVERTED here
    (VERDICT r13 item 3). The r13 change rode one positive in-session
    proxy series, but the driver's own r13 record read it +24% and
    the round-14 fresh-subprocess interleaved A/B confirmed OLD wins
    (OLD mins 2.869/3.137 vs clone 3.512/3.173 across two alternating
    rounds — receipts in plans/r14/ab_receipts/). Consistent with the
    r13 §6 rule: LPA's per-round (node,label)-count shuffle is
    COMPUTE-bound (the count aggregate fans out per neighbor label),
    not scheduling-floor-bound like CC's label frames, so trimming
    width only gives up CPU parallelism — plus the clone's extra
    eager count job. graph_pagerank keeps its clone (its A/B stands
    on the winning side)."""
    from ..operators.graph import label_propagation

    labels = label_propagation(purchase_iedges(spark, sf_dir), edges_dedup=False)
    return labels.select(
        decode_purchase_node("node").alias("node"),
        decode_purchase_node("lbl").alias("community"),
    )


# ---------------------------------------------------------------------------
# Wave 37: whole-graph structure metrics — degree assortativity and
# community modularity (exact integer moments, one final division)
# ---------------------------------------------------------------------------

_ASSORT_SQL = """
WITH iedges0 AS (
  SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
iedges AS MATERIALIZED (
  SELECT src, dst FROM iedges0 UNION SELECT dst, src FROM iedges0
),
deg AS MATERIALIZED (
  SELECT src AS node, COUNT(*)::BIGINT AS d FROM iedges GROUP BY 1
),
ep AS (
  SELECT a.d AS dx, b.d AS dy
  FROM iedges e JOIN deg a ON a.node = e.src JOIN deg b ON b.node = e.dst
),
s AS (
  SELECT COUNT(*)::HUGEINT AS n,
         SUM(dx)::HUGEINT AS sx, SUM(dy)::HUGEINT AS sy,
         SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
         SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
         SUM(CAST(dy AS HUGEINT) * dy) AS syy
  FROM ep
)
SELECT CAST(n AS BIGINT) AS n_endpoints,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS assortativity
FROM s
"""


@register(
    "graph_assortativity",
    _ASSORT_SQL,
    doc=(
        "degree assortativity — Pearson correlation of endpoint "
        "degrees over the undirected purchase graph (Newman 2002), "
        "the one-number answer to 'do hubs link to hubs?' (bipartite "
        "purchase graphs are typically disassortative: high-degree "
        "customers buy from ordinary suppliers). Pure reduce shapes: "
        "one degree count (O(E) shuffle to O(V)), two joins of the "
        "degree frame back onto the symmetric edges (co-keyed on the "
        "node), and ONE global aggregate of five integer moments — "
        "per-row degree products cast to decimal BEFORE summing (the "
        "feature_pca_power overflow discipline; oracle sums HUGEINT), "
        "so the correlation is a ratio of exact integers with exactly "
        "one double division + two sqrts at the end, bit-identical "
        "across engines. No iteration, no windows: this is the "
        "graph-metric shape that runs at any scale for two shuffles"
    ),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ie = purchase_iedges(spark, sf_dir)
    sym = ie.unionByName(
        ie.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    ep = (
        sym.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("d", "dx")
        .join(
            deg.select(F.col("node").alias("dst"), F.col("d").alias("dy")),
            "dst",
        )
        .select("dx", "dy")
    )
    c19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    s = ep.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("dx").cast("decimal(38,0)").alias("sx"),
        F.sum("dy").cast("decimal(38,0)").alias("sy"),
        F.sum((c19("dx") * c19("dy")).cast("decimal(26,0)")).cast("decimal(38,0)").alias("sxy"),
        F.sum((c19("dx") * c19("dx")).cast("decimal(26,0)")).cast("decimal(38,0)").alias("sxx"),
        F.sum((c19("dy") * c19("dy")).cast("decimal(26,0)")).cast("decimal(38,0)").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").cast("bigint").alias("n_endpoints"),
        dround(
            num.cast("double")
            / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
            6,
        ).alias("assortativity"),
    )


def _mod_rounds() -> str:
    rounds = []
    prev = "l0"
    for i in (1, 2, 3):
        mat = " MATERIALIZED" if i == 3 else ""
        rounds.append(f"""
l{i} AS{mat} (
  SELECT dst AS node,
         CAST(MAX(cnt * {_LPA_SHIFT} + lbl) % {_LPA_SHIFT} AS BIGINT) AS lbl
  FROM (
    SELECT e.dst, l.lbl, COUNT(*) AS cnt
    FROM iedges e JOIN {prev} l ON l.node = e.src
    GROUP BY e.dst, l.lbl
  ) c
  GROUP BY dst
)""")
        prev = f"l{i}"
    return ",".join(rounds)


_MODULARITY_SQL = f"""
WITH iedges0 AS MATERIALIZED (
  SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
iedges AS MATERIALIZED (
  SELECT src, dst FROM iedges0 UNION SELECT dst, src FROM iedges0
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM iedges),
{_mod_rounds()},
labs AS MATERIALIZED (
  SELECT 'lpa' AS scheme, node, lbl FROM l3
  UNION ALL
  SELECT 'nation', 2 * c_custkey, c_nationkey::BIGINT FROM customer
  UNION ALL
  SELECT 'nation', 2 * s_suppkey + 1, s_nationkey::BIGINT FROM supplier
),
m AS (SELECT COUNT(*)::HUGEINT AS m FROM iedges0),
inside AS (
  SELECT a.scheme, COUNT(*)::HUGEINT AS inside
  FROM iedges0 e
  JOIN labs a ON a.node = e.src
  JOIN labs b ON b.node = e.dst AND b.scheme = a.scheme
  WHERE a.lbl = b.lbl
  GROUP BY 1
),
deg AS (SELECT src AS node, COUNT(*)::BIGINT AS d FROM iedges GROUP BY 1),
comm AS (
  SELECT l.scheme, l.lbl, SUM(d)::HUGEINT AS dc
  FROM deg JOIN labs l ON l.node = deg.node GROUP BY 1, 2
),
sums AS (
  SELECT scheme, COUNT(*)::BIGINT AS n_comm, SUM(dc * dc)::HUGEINT AS sum_dc2
  FROM comm GROUP BY 1
)
SELECT s.scheme,
       s.n_comm AS n_communities,
       CAST(m AS BIGINT) AS m_edges,
       CAST(COALESCE(i.inside, 0) AS BIGINT) AS inside_edges,
       ROUND(CAST(4 * m * COALESCE(i.inside, 0) - s.sum_dc2 AS DOUBLE)
             / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6) AS modularity
FROM sums s LEFT JOIN inside i ON i.scheme = s.scheme, m
"""


@register(
    "graph_modularity",
    _MODULARITY_SQL,
    doc=(
        "modularity Q — the number that tells you whether a candidate "
        "community structure is real (Q≈0: no better than random "
        "given the degree sequence) — evaluated for TWO partitions of "
        "the purchase graph in one pass: the LPA labels (composing "
        "the driver-verified 3-round packed-argmax; on a bipartite "
        "graph synchronous LPA bi-colors the two sides — the classic "
        "oscillation — so its Q is exactly −0.5, every edge crossing, "
        "and the query WITNESSES that known pathology rather than "
        "hiding it) and the nation-affinity partition (customers + "
        "suppliers labeled by nationkey — cross-side communities "
        "whose Q measures actual national purchase affinity and "
        "moves with the data). Three reduce-only passes per scheme: "
        "edges-inside-community (two label joins on the directed-"
        "unique edge list), per-community total degree, and ONE "
        "algebraic collapse — Q = Σc[mc/m − (Dc/2m)²] rearranges to "
        "(4·m·Σmc − ΣDc²)/(4m²), so every sum is an exact integer "
        "(decimal accumulators; oracle HUGEINT) and exactly one "
        "double division happens at the end. The labels frame is "
        "multi-use → checkpointed once; aggregates are O(C). Oracle "
        "unrolls the identical integer LPA rounds (final round "
        "MATERIALIZED — 3 consumers would re-inline the whole "
        "recursion, the documented DuckDB CTE blowup)"
    ),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

    ie = purchase_iedges(spark, sf_dir)
    lpa = label_propagation(ie, edges_dedup=False).select(
        F.lit("lpa").alias("scheme"), "node", "lbl"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.lit("nation").alias("scheme"),
        (2 * F.col("c_custkey")).alias("node"),
        F.col("c_nationkey").cast("bigint").alias("lbl"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.lit("nation").alias("scheme"),
        (2 * F.col("s_suppkey") + 1).alias("node"),
        F.col("s_nationkey").cast("bigint").alias("lbl"),
    )
    labels = pin(
        lpa.unionByName(cust).unionByName(supp)
    )  # consumers: two endpoint remaps + the degree join
    m_df = ie.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("m"))
    la = labels.select(
        F.col("scheme"), F.col("node").alias("src"), F.col("lbl").alias("la")
    )
    lb = labels.select(
        F.col("scheme").alias("scheme_b"),
        F.col("node").alias("dst"),
        F.col("lbl").alias("lb"),
    )
    inside_df = (
        ie.join(la, "src")
        .join(lb, "dst")
        .filter(
            (F.col("scheme") == F.col("scheme_b"))
            & (F.col("la") == F.col("lb"))
        )
        .groupBy("scheme")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("inside"))
    )
    sym = ie.unionByName(
        ie.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    comm = deg.join(labels, "node").groupBy("scheme", "lbl").agg(
        F.sum("d").cast("decimal(19,0)").alias("dc")
    )
    sums = comm.groupBy("scheme").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum((F.col("dc") * F.col("dc")).cast("decimal(26,0)"))
        .cast("decimal(38,0)")
        .alias("sum_dc2"),
    )
    return (
        sums.join(inside_df, "scheme", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "scheme",
            "n_communities",
            F.col("m").cast("bigint").alias("m_edges"),
            F.coalesce(F.col("inside"), F.lit(0).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("inside_edges"),
            dround(
                (
                    F.lit(4).cast("decimal(38,0)")
                    * F.col("m")
                    * F.coalesce(F.col("inside"), F.lit(0).cast("decimal(38,0)"))
                    - F.col("sum_dc2")
                ).cast("double")
                / (
                    F.lit(4.0)
                    * F.col("m").cast("double")
                    * F.col("m").cast("double")
                ),
                6,
            ).alias("modularity"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-source BFS: shortest-path hop distance from a seed set
# ---------------------------------------------------------------------------

_BFS_SEEDS = ("c1", "c2", "c3", "c4", "c5")
_BFS_HOPS = 3


def _bfs_sql() -> str:
    seeds = ", ".join(f"'{s}'" for s in _BFS_SEEDS)
    rounds = []
    prev = "d0"
    for i in range(1, _BFS_HOPS + 1):
        rounds.append(f"""
d{i} AS (
  SELECT n.node,
         CASE WHEN n.hops IS NULL THEN r.cand
              WHEN r.cand IS NULL THEN n.hops
              ELSE LEAST(n.hops, r.cand) END AS hops
  FROM {prev} n LEFT JOIN (
    SELECT e.dst AS node, MIN(p.hops) + 1 AS cand
    FROM {prev} p JOIN edges e ON e.src = p.node
    WHERE p.hops IS NOT NULL GROUP BY e.dst
  ) r ON r.node = n.node
)""")
        prev = f"d{i}"
    return f"""
WITH {_EDGES_CTE},
d0 AS (
  SELECT DISTINCT src AS node,
         CASE WHEN src IN ({seeds}) THEN 0 END AS hops
  FROM edges
),
{','.join(rounds)}
SELECT node, CAST(hops AS INTEGER) AS hops FROM {prev} WHERE hops IS NOT NULL
"""


@register(
    "graph_bfs_hops",
    _bfs_sql(),
    doc=(
        "multi-source BFS hop distance (<= 3 rounds from 5 seed "
        "customers) over the undirected purchase graph — the "
        "shortest-path family: CC answers 'same cluster?', PageRank "
        "'how central?', BFS 'how FAR?'. operators/graph.bfs_hops "
        "holds only reached (node, hops) rows; each round is one "
        "min-plus step — the state joined onto the mirrored edges "
        "plus a weight-0 self-loop per node, then one min per node (a "
        "fixed round count keeps the plan static and "
        "oracle-unrollable; the oracle's dense NULL-merge CTEs give "
        "the same distances). Unreached nodes never materialize a "
        "row — k rounds from a small seed set touch a local ball. "
        "Integer hop arithmetic: nothing to round, bit-exact on both "
        "engines"
    ),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_hops

    # Measured-width clone deliberately NOT applied (round 13): the
    # applied-form NEW/OLD A/B read NEW min 3.97 vs OLD min 3.44 at
    # sf0.1 — the per-hop frontier⋈edges join is COMPUTE-bound, so a
    # volume-sized width trim costs CPU parallelism (the in-session
    # conf proxy's win came from trimming the full-width ingest,
    # which the scale-safe form must keep). OPTIMIZATION_r13.md §6.
    return bfs_hops(_edges(spark, sf_dir), seeds=list(_BFS_SEEDS), max_hops=_BFS_HOPS)


# ---------------------------------------------------------------------------
# Multi-touch attribution: last-touch + linear credit within a lookback
# ---------------------------------------------------------------------------

_ATTR_LOOKBACK_DAYS = 3

_ATTR_SQL = f"""
WITH c AS (
  SELECT event_id, user_id, ts, event_id % 4 AS channel
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT p.p_id, c.channel, c.ts, c.event_id,
         COUNT(*) OVER (PARTITION BY p.p_id) AS n_touch,
         ROW_NUMBER() OVER (PARTITION BY p.p_id
                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
  FROM p JOIN c ON c.user_id = p.p_user
   AND c.ts <= p.p_ts
   AND c.ts >= p.p_ts - INTERVAL {_ATTR_LOOKBACK_DAYS} DAY
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last_touch,
       ROUND(SUM(CAST(FLOOR(1000000.0 / n_touch) AS BIGINT)) / 1000000.0, 4)
         AS linear_credit
FROM touch GROUP BY channel
"""


@register(
    "events_attribution",
    _ATTR_SQL,
    doc=(
        "multi-touch marketing attribution: each purchase credits the "
        "clicks of the same user within a 3-day lookback — last-touch "
        "(the final click takes the conversion, ties to the larger "
        "event id) and linear (1/n to each of the n touches) in one "
        "pass. The purchase-click range join shuffles once on "
        "user_id; the per-purchase touch count and the recency rank "
        "share one window exchange keyed on the purchase. The "
        "determinism move: linear credit accumulates as FLOOR(1e6/n) "
        "integer parts-per-million (exact int64, immune to float "
        "fold-order — the agg_gini discipline) and divides back once "
        "at the end. Channel derives from event_id % 4 — a "
        "deterministic stand-in for the acquisition-channel dimension"
    ),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", (F.col("event_id") % 4).alias("channel")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    touch = buys.join(
        clicks,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("ts") <= F.col("p_ts"))
        & (F.col("ts") >= F.col("p_ts") - F.expr(f"INTERVAL {_ATTR_LOOKBACK_DAYS} DAYS")),
    )
    wn = W.partitionBy("p_id")
    wr = W.partitionBy("p_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    t = touch.select(
        "p_id",
        "channel",
        F.count(F.lit(1)).over(wn).alias("n_touch"),
        F.row_number().over(wr).alias("rn"),
    )
    return t.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_last_touch"),
        dround(
            F.sum(F.floor(F.lit(1000000.0) / F.col("n_touch")).cast("bigint"))
            / 1000000.0,
            4,
        ).alias("linear_credit"),
    )


# ---------------------------------------------------------------------------
# A/B test: two-sample Welch z statistic over a hash-assigned split
# ---------------------------------------------------------------------------

_AB_SQL = """
WITH t AS (
  SELECT CASE WHEN substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS variant,
         value
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
g AS (
  SELECT variant, COUNT(*) AS n, AVG(value) AS mu, VAR_SAMP(value) AS v
  FROM t GROUP BY variant
)
SELECT a.n AS n_a, b.n AS n_b,
       ROUND(a.mu, 4) AS mean_a, ROUND(b.mu, 4) AS mean_b,
       ROUND(a.mu - b.mu, 4) AS diff,
       ROUND(SQRT(a.v / a.n + b.v / b.n), 4) AS se,
       CASE WHEN a.v / a.n + b.v / b.n = 0 THEN NULL
            ELSE ROUND((a.mu - b.mu) / SQRT(a.v / a.n + b.v / b.n), 4)
       END AS z
FROM (SELECT * FROM g WHERE variant = 'A') a
CROSS JOIN (SELECT * FROM g WHERE variant = 'B') b
"""


@register(
    "stats_ab_test",
    _AB_SQL,
    doc=(
        "two-sample A/B significance test (Welch z statistic) over a "
        "deterministic 50/50 hash split of users — the experimentation "
        "readout a training-data pipeline runs on every curation "
        "change: assignment is the first md5 hex digit of the user id "
        "(no RNG, the sample_stratified discipline, so any engine and "
        "any cluster size draws the same split), the per-variant "
        "moments reduce in ONE partial-aggregated shuffle over two "
        "groups, and the z = diff/sqrt(va/na + vb/nb) arithmetic runs "
        "on the two-row result. The z value is emitted rather than a "
        "p-value: erf implementations differ across engines, the "
        "statistic itself is the portable contract"
    ),
)
def stats_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.when(
            F.substring(
                F.md5(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))), 1, 1
            ).isin(*"01234567"),
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("variant"),
        "value",
    )
    g = t.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("mu"),
        F.var_samp("value").alias("v"),
    )
    a = g.filter(F.col("variant") == "A").select(
        F.col("n").alias("n_a"), F.col("mu").alias("mu_a"), F.col("v").alias("v_a")
    )
    b = g.filter(F.col("variant") == "B").select(
        F.col("n").alias("n_b"), F.col("mu").alias("mu_b"), F.col("v").alias("v_b")
    )
    se = F.sqrt(F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b"))
    return a.crossJoin(b).select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        dround("mu_a", 4).alias("mean_a"),
        dround("mu_b", 4).alias("mean_b"),
        dround(F.col("mu_a") - F.col("mu_b"), 4).alias("diff"),
        dround(se, 4).alias("se"),
        # NULL, not a crash, on a degenerate zero-variance split: Spark
        # (ANSI) throws on /0 while DuckDB returns NULL — guard both
        # sides identically
        F.when(
            F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b") != 0,
            dround((F.col("mu_a") - F.col("mu_b")) / se, 4),
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Containment dedup: the excerpt/sub-document signal Jaccard misses
# ---------------------------------------------------------------------------

_CONT_MAX_BUCKET = 1000
_CONT_MIN_OVERLAP = 3
_CONT_THRESHOLD = 0.8

# fixture augmentation (the _LINE_AUG pattern): the synthetic corpus has
# no true excerpts, so every 37th doc spawns a deterministic half-length
# prefix doc (id + 10,000,000) on BOTH engines before the operator runs —
# its shingles are a strict subset of the parent's, so containment ~1.0
# while Jaccard sits near 0.5 (below any near-dup threshold).
_CONT_SQL = f"""
WITH toks0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
ex AS (
  SELECT doc_id + 10000000 AS doc_id,
         array_to_string(
           t[1:CAST(GREATEST(3, FLOOR(len(t) / 2)) AS BIGINT)], ' ') AS text
  FROM toks0 WHERE doc_id % 37 = 0
),
aug AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM ex),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM toks
),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
ok AS (SELECT shingle FROM sh GROUP BY shingle
       HAVING COUNT(*) <= {_CONT_MAX_BUCKET}),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN ok ON ok.shingle = a.shingle
  GROUP BY 1, 2 HAVING COUNT(*) >= {_CONT_MIN_OVERLAP}
)
SELECT a, b,
       CASE WHEN ca.n_sh <= cb.n_sh THEN 'a' ELSE 'b' END AS contained,
       ROUND(CAST(n_inter AS DOUBLE) / LEAST(ca.n_sh, cb.n_sh), 6) AS containment
FROM inter
JOIN counts ca ON ca.doc_id = a
JOIN counts cb ON cb.doc_id = b
WHERE CAST(n_inter AS DOUBLE) / LEAST(ca.n_sh, cb.n_sh) >= {_CONT_THRESHOLD!r}
"""


@register(
    "dedup_containment",
    _CONT_SQL,
    doc=(
        "asymmetric shingle-containment dedup (Broder's resemblance "
        "vs containment split): |A∩B| / |smaller side| finds excerpts, "
        "quotes and sub-documents that Jaccard structurally cannot — "
        "a half-length prefix of a doc has containment 1.0 but "
        "Jaccard ~0.5, under every near-dup threshold. Same bucketed "
        "machinery as dedup_ngram_jaccard (shared-shingle pair "
        "expansion, 1000-doc hot-bucket cap, min-overlap 3 prune) via "
        "operators/dedup.pair_overlap; the 'contained' column "
        "names the smaller side. Deterministic excerpt fixture "
        "augmentation on both engines keeps the query non-vacuous on "
        "the synthetic corpus (the _LINE_AUG pattern)"
    ),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ex = docs.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.array_join(
            F.slice(
                toks,
                1,
                F.greatest(F.lit(3), F.floor(F.size(toks) / 2)).cast("int"),
            ),
            " ",
        ).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionByName(ex)
    pairs = D.pair_overlap(
        D.exploded_shingles(aug),
        min_overlap=_CONT_MIN_OVERLAP,
        max_bucket=_CONT_MAX_BUCKET,
    )
    cont = F.col("n_inter").cast("double") / F.least("n_a", "n_b")
    return pairs.filter(cont >= _CONT_THRESHOLD).select(
        "a",
        "b",
        F.when(F.col("n_a") <= F.col("n_b"), F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("contained"),
        dround(cont, 6).alias("containment"),
    )


# ---------------------------------------------------------------------------
# OBV: on-balance volume (signed cumulative volume by close direction)
# ---------------------------------------------------------------------------

_OBV_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         ROUND(AVG(value), 6) AS close, COUNT(*) AS vol
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
d AS (
  SELECT *, LAG(close) OVER (PARTITION BY event_type ORDER BY day) AS pc
  FROM daily
),
s AS (
  SELECT event_type, day, close,
         CASE WHEN pc IS NULL THEN 0
              WHEN close > pc THEN vol
              WHEN close < pc THEN -vol
              ELSE 0 END AS sv
  FROM d
)
SELECT event_type, day, close,
       CAST(sv AS BIGINT) AS signed_vol,
       CAST(SUM(sv) OVER (PARTITION BY event_type ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
FROM s
"""


@register(
    "events_obv",
    _OBV_SQL,
    doc=(
        "OBV (on-balance volume) — the volume-flow kline indicator "
        "beside the price family (EMA/Bollinger/RSI/MACD/KDJ): daily "
        "bars reduce FIRST (close = rounded avg, volume = count), the "
        "direction sign compares the 6dp-rounded closes (equal "
        "decimals are bit-equal doubles, so the zero case is exact), "
        "and the running total is a prefix sum of SIGNED INTEGER "
        "volumes — int64 all the way, nothing for fold-order to "
        "drift. Three chained windows share one partition+order "
        "exchange over the O(days) frame"
    ),
)
def events_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_avg(spark, sf_dir, F.count(F.lit(1)).alias("vol")).withColumnRenamed(
        "v", "close"
    )
    w = W.partitionBy("event_type").orderBy("day")
    d = daily.select("*", F.lag("close").over(w).alias("pc"))
    sv = (
        F.when(F.col("pc").isNull(), F.lit(0))
        .when(F.col("close") > F.col("pc"), F.col("vol"))
        .when(F.col("close") < F.col("pc"), -F.col("vol"))
        .otherwise(F.lit(0))
    )
    s = d.select("event_type", "day", "close", sv.alias("sv"))
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return s.select(
        "event_type",
        "day",
        "close",
        F.col("sv").cast("bigint").alias("signed_vol"),
        F.sum("sv").over(wcum).cast("bigint").alias("obv"),
    )


# ---------------------------------------------------------------------------
# ATR: average true range (volatility beside Bollinger's band width)
# ---------------------------------------------------------------------------

_ATR_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         ROUND(MAX(value), 6) AS high,
         ROUND(MIN(value), 6) AS low,
         ROUND(AVG(value), 6) AS close
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
d AS (
  SELECT *, LAG(close) OVER (PARTITION BY event_type ORDER BY day) AS pc
  FROM daily
),
tr_t AS (
  SELECT event_type, day, high, low, close,
         ROUND(CASE WHEN pc IS NULL THEN high - low
               ELSE GREATEST(high - low, ABS(high - pc), ABS(low - pc))
               END, 6) AS tr
  FROM d
)
SELECT event_type, day, high, low, close, tr,
       ROUND(AVG(tr) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS atr7
FROM tr_t
"""


@register(
    "events_atr",
    _ATR_SQL,
    doc=(
        "ATR (average true range, Wilder) — the gap-aware volatility "
        "kline indicator: true range = max(high-low, |high-prev_close|"
        ", |low-prev_close|) so an overnight gap counts as range even "
        "when the intraday bar is narrow, then a 7-day SMA (Cutler-"
        "style, like events_rsi — a recursive Wilder EMA would need "
        "the truncated-normalization treatment for no added signal). "
        "Daily OHLC reduces first; TR rounds to 6dp before the frame "
        "average so both engines smooth bit-identical inputs; the "
        "lag + frame windows share one exchange over the O(days) frame"
    ),
)
def events_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_avg(
        spark,
        sf_dir,
        dround(F.max("value"), 6).alias("high"),
        dround(F.min("value"), 6).alias("low"),
    ).select("event_type", "day", "high", "low", F.col("v").alias("close"))
    w = W.partitionBy("event_type").orderBy("day")
    d = daily.select("*", F.lag("close").over(w).alias("pc"))
    tr = F.when(F.col("pc").isNull(), F.col("high") - F.col("low")).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - F.col("pc")),
            F.abs(F.col("low") - F.col("pc")),
        )
    )
    t = d.select(
        "event_type", "day", "high", "low", "close", dround(tr, 6).alias("tr")
    )
    wf = w.rowsBetween(-6, 0)
    return t.select(
        "event_type",
        "day",
        "high",
        "low",
        "close",
        "tr",
        dround(F.avg("tr").over(wf), 4).alias("atr7"),
    )


# ---------------------------------------------------------------------------
# Winsorized feature statistics (outlier-robust normalization prep)
# ---------------------------------------------------------------------------

_WINS_LO, _WINS_HI = 0.05, 0.95

_WINS_SQL = f"""
WITH st AS (
  SELECT l_returnflag,
         ROUND(quantile_cont(l_extendedprice, {_WINS_LO!r}), 4) AS p05,
         ROUND(quantile_cont(l_extendedprice, {_WINS_HI!r}), 4) AS p95
  FROM lineitem GROUP BY 1
)
SELECT l.l_returnflag, st.p05, st.p95,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN l_extendedprice < p05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(SUM(CASE WHEN l_extendedprice > p95 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_hi,
       ROUND(AVG(l_extendedprice), 2) AS mean_raw,
       ROUND(AVG(LEAST(GREATEST(l_extendedprice, p05), p95)), 2) AS mean_wins
FROM lineitem l JOIN st ON st.l_returnflag = l.l_returnflag
GROUP BY 1, 2, 3
"""


@register(
    "feature_winsorize",
    _WINS_SQL,
    doc=(
        "winsorized feature statistics — the outlier-robust "
        "normalization prep (clip at p05/p95, then re-aggregate): "
        "per-group exact interpolated percentiles compute in one "
        "scan (Spark percentile() == DuckDB quantile_cont, the "
        "feature_discretize equivalence), broadcast back as a "
        "3-row bound table, and the clipped mean + clip counts "
        "reduce in a second single shuffle. Reports the BEFORE/AFTER "
        "means and how many rows each tail clipped — the numbers a "
        "feature pipeline logs to decide whether winsorization is "
        "distorting. At 100 TB the exact percentile swaps for "
        "approx_percentile with the agg_approx_quantiles bound "
        "contract; the clip pass is unchanged"
    ),
)
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    st = li.groupBy("l_returnflag").agg(
        dround(F.expr(f"percentile(l_extendedprice, {_WINS_LO!r})"), 4).alias("p05"),
        dround(F.expr(f"percentile(l_extendedprice, {_WINS_HI!r})"), 4).alias("p95"),
    )
    j = li.join(F.broadcast(st), "l_returnflag")
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95"))
    return j.groupBy("l_returnflag", "p05", "p95").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_extendedprice") < F.col("p05"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clip_lo"),
        F.sum(F.when(F.col("l_extendedprice") > F.col("p95"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clip_hi"),
        dround(F.avg("l_extendedprice"), 2).alias("mean_raw"),
        dround(F.avg(clipped), 2).alias("mean_wins"),
    ).select(
        "l_returnflag", "p05", "p95", "n", "n_clip_lo", "n_clip_hi",
        "mean_raw", "mean_wins",
    )


# ---------------------------------------------------------------------------
# k-anonymity ENFORCEMENT: generalize quasi-identifiers until classes pass
# ---------------------------------------------------------------------------

_KANON_APPLY_K = 5

_KANON_APPLY_SQL = f"""
WITH cls AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
  FROM customer GROUP BY 1, 2
),
g AS (
  SELECT c_nationkey,
         CASE WHEN n < {_KANON_APPLY_K} THEN '*' ELSE c_mktsegment END
           AS segment_gen,
         n
  FROM cls
)
SELECT c_nationkey, segment_gen,
       CAST(SUM(n) AS BIGINT) AS class_size,
       CAST(COUNT(*) AS BIGINT) AS n_merged,
       (SUM(n) < {_KANON_APPLY_K}) AS still_at_risk
FROM g GROUP BY 1, 2
"""


@register(
    "privacy_generalize",
    _KANON_APPLY_SQL,
    doc=(
        "k-anonymity ENFORCEMENT — profile_k_anonymity measures the "
        "risk, this applies the fix: quasi-identifier classes "
        "(nation, segment) below k=5 generalize their segment to '*' "
        "and re-aggregate, reporting the merged class sizes and "
        "whether the catch-all bucket itself still fails k (the "
        "signal to climb the generalization ladder another level, "
        "e.g. nation→region). Two partial-aggregated shuffles over "
        "the class table — the row-level generalization at corpus "
        "scale is a broadcast join of this tiny class-decision table "
        "back onto the rows, map-only"
    ),
)
def privacy_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cls = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    g = cls.select(
        "c_nationkey",
        F.when(F.col("n") < _KANON_APPLY_K, F.lit("*"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment_gen"),
        "n",
    )
    return g.groupBy("c_nationkey", "segment_gen").agg(
        F.sum("n").cast("bigint").alias("class_size"),
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
        (F.sum("n") < _KANON_APPLY_K).alias("still_at_risk"),
    )


# ---------------------------------------------------------------------------
# Linear trend forecast: regr fit per series, extrapolate h days
# ---------------------------------------------------------------------------

_FC_HORIZON = 7

_FC_SQL = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         ROUND(AVG(value), 6) AS v
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
idx AS (
  SELECT event_type, date_diff('day', DATE '1970-01-01', day) AS x, v
  FROM daily
),
base AS (SELECT event_type, MIN(x) AS x0 FROM idx GROUP BY event_type),
fit AS (
  SELECT i.event_type,
         ROUND(regr_slope(i.v, i.x - b.x0), 6) AS slope,
         ROUND(regr_intercept(i.v, i.x - b.x0), 6) AS icept,
         MAX(i.x - b.x0) AS xmax
  FROM idx i JOIN base b ON b.event_type = i.event_type
  GROUP BY i.event_type
)
SELECT event_type, h.h AS horizon,
       ROUND(icept + slope * (xmax + h.h), 4) AS forecast
FROM fit CROSS JOIN (SELECT unnest(range(1, {_FC_HORIZON + 1})) AS h) h
"""


@register(
    "forecast_linear",
    _FC_SQL,
    doc=(
        "linear trend forecast — fit slope/intercept per series with "
        "the regr_* aggregates over the reduced daily frame, then "
        "extrapolate 7 days past the last observation: the capacity-"
        "planning readout (is this series growing, and where will it "
        "be next week?). Day indexes CENTER on the per-series minimum "
        "(a broadcast 1-row-per-series join) so the regression sums "
        "multiply small integers, not epoch-scale ones — the same "
        "conditioning a numerically-careful fit does; slope and "
        "intercept round to 6dp BEFORE extrapolation so both engines "
        "forecast from bit-identical coefficients. The horizon fan-"
        "out is a literal 7-row explode against the tiny fit table"
    ),
)
def forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_avg(spark, sf_dir)
    idx = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).alias("x"),
        "v",
    )
    base = idx.groupBy("event_type").agg(F.min("x").alias("x0"))
    fit = (
        idx.join(F.broadcast(base), "event_type")
        .groupBy("event_type")
        .agg(
            dround(F.regr_slope(F.col("v"), F.col("x") - F.col("x0")), 6).alias(
                "slope"
            ),
            dround(
                F.regr_intercept(F.col("v"), F.col("x") - F.col("x0")), 6
            ).alias("icept"),
            F.max(F.col("x") - F.col("x0")).alias("xmax"),
        )
    )
    h = F.explode(F.sequence(F.lit(1), F.lit(_FC_HORIZON))).alias("horizon")
    return fit.select("event_type", "slope", "icept", "xmax", h).select(
        "event_type",
        F.col("horizon").cast("bigint").alias("horizon"),
        dround(
            F.col("icept") + F.col("slope") * (F.col("xmax") + F.col("horizon")), 4
        ).alias("forecast"),
    )


# ---------------------------------------------------------------------------
# Multi-resolution time rollup: hourly + daily bars in ONE Expand pass
# ---------------------------------------------------------------------------

_MULTIRES_SQL = """
WITH b AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         EXTRACT(hour FROM ts) AS hr, value
  FROM events WHERE event_type IN ('view', 'purchase')
)
SELECT event_type, day,
       CASE WHEN GROUPING(hr) = 0 THEN CAST(hr AS BIGINT) END AS hr,
       CASE WHEN GROUPING(hr) = 0 THEN '1h' ELSE '1d' END AS resolution,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(COALESCE(value, 0)), 2) AS v_sum
FROM b
GROUP BY event_type, GROUPING SETS ((day), (day, hr))
"""


@register(
    "events_multires_rollup",
    _MULTIRES_SQL,
    doc=(
        "multi-resolution time downsampling — hourly AND daily bars "
        "from ONE scan via GROUPING SETS over derived time buckets "
        "(the continuous-aggregate / hypertable-rollup shape: serve "
        "coarse resolutions without re-reading the raw events): one "
        "Expand node duplicates each row into its two grouping "
        "shapes, a single hash aggregate reduces both resolutions "
        "together, and GROUPING(hr) tags which resolution a row "
        "belongs to — versus two scans + union, half the reads and "
        "one shuffle. agg_grouping_sets witnesses the SQL construct "
        "over static dims; this applies it to the time hierarchy a "
        "storage pipeline actually downsamples on"
    ),
)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    raw = spark.sql(
        """
        WITH b AS (
          SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                 hour(ts) AS hr, value
          FROM events WHERE event_type IN ('view', 'purchase')
        )
        SELECT event_type, day,
               CASE WHEN GROUPING(hr) = 0 THEN CAST(hr AS BIGINT) END AS hr,
               CASE WHEN GROUPING(hr) = 0 THEN '1h' ELSE '1d' END AS resolution,
               COUNT(*) AS n,
               SUM(COALESCE(value, 0)) AS v_sum
        FROM b
        GROUP BY event_type, GROUPING SETS ((day), (day, hr))
        """
    )
    return raw.select(
        "event_type",
        "day",
        "hr",
        "resolution",
        F.col("n").cast("bigint").alias("n"),
        dround("v_sum", 2).alias("v_sum"),
    )


# ---------------------------------------------------------------------------
# Wave 2: sketch set-algebra, reshape, window distribution, robust stats,
# rolling regression, temporal split with embargo
# ---------------------------------------------------------------------------

_HLL_RSD = 0.05

_HLL_INTERSECT_SQL = f"""
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
u AS (SELECT user_id FROM a UNION SELECT user_id FROM b),
x AS (
  SELECT (SELECT COUNT(*) FROM a) AS n_a,
         (SELECT COUNT(*) FROM b) AS n_b,
         (SELECT COUNT(*) FROM u) AS n_union
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(n_union AS BIGINT) AS n_union,
       CAST(n_a + n_b - n_union AS BIGINT) AS n_intersect,
       TRUE AS est_within_bounds
FROM x
"""


@register(
    "agg_hll_intersect",
    _HLL_INTERSECT_SQL,
    doc=(
        "approximate SET INTERSECTION via HLL inclusion-exclusion — "
        "the sketch-algebra move behind overlap/retention questions "
        "at 100 TB (|A∩B| = |A|+|B|-|A∪B|, each term an O(1)-memory "
        "mergeable sketch; exact distinct would shuffle every user "
        "id): viewers ∩ purchasers over the events table. Like "
        "agg_approx_distinct, the emitted values are the EXACT counts "
        "plus a boolean contract asserting the three HLL estimates' "
        "inclusion-exclusion landed within the compounded 3·rsd·"
        "(|A|+|B|+|A∪B|) error budget — the estimates themselves are "
        "engine-specific and never cross the oracle boundary"
    ),
)
def agg_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = F.when(F.col("event_type") == "view", F.col("user_id"))
    b = F.when(F.col("event_type") == "purchase", F.col("user_id"))
    u = F.when(F.col("event_type").isin("view", "purchase"), F.col("user_id"))
    g = ev.agg(
        F.countDistinct(a).alias("n_a"),
        F.countDistinct(b).alias("n_b"),
        F.countDistinct(u).alias("n_union"),
        F.approx_count_distinct(a, _HLL_RSD).alias("e_a"),
        F.approx_count_distinct(b, _HLL_RSD).alias("e_b"),
        F.approx_count_distinct(u, _HLL_RSD).alias("e_u"),
    )
    est_inter = F.col("e_a") + F.col("e_b") - F.col("e_u")
    exact_inter = F.col("n_a") + F.col("n_b") - F.col("n_union")
    budget = F.lit(3 * _HLL_RSD) * (F.col("n_a") + F.col("n_b") + F.col("n_union"))
    return g.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_union").cast("bigint").alias("n_union"),
        exact_inter.cast("bigint").alias("n_intersect"),
        (F.abs(est_inter - exact_inter) <= budget).alias("est_within_bounds"),
    )


_UNPIVOT_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts)::DATE AS day,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase
  FROM events GROUP BY 1
)
SELECT day, metric, CAST(n AS BIGINT) AS n
FROM daily UNPIVOT (n FOR metric IN (n_view, n_click, n_purchase))
"""


@register(
    "reshape_unpivot",
    _UNPIVOT_SQL,
    doc=(
        "wide→long UNPIVOT — the reshape inverse of agg_pivot's "
        "wide-format output (metrics stored as columns melt back into "
        "(key, metric, value) rows for generic downstream tooling): "
        "the conditional-aggregation rollup computes the wide daily "
        "frame in one pass, then Spark's native unpivot (the Expand-"
        "style one-pass melt, no per-metric scan or union) emits one "
        "row per (day, metric). Integer counts throughout — nothing "
        "to round. Oracle uses DuckDB's standard UNPIVOT clause over "
        "the identical wide frame"
    ),
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "n_click"
        ),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchase"
        ),
    )
    return daily.unpivot(
        ids=["day"],
        values=["n_view", "n_click", "n_purchase"],
        variableColumnName="metric",
        valueColumnName="n_raw",
    ).select("day", "metric", F.col("n_raw").cast("bigint").alias("n"))


_WDIST_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         ROUND(AVG(value), 6) AS v
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
)
SELECT event_type, day, v,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY v, day)
"""


@register(
    "window_distribution",
    _WDIST_SQL,
    doc=(
        "distribution window functions — percent_rank / cume_dist / "
        "ntile, the relative-standing trio window_rank's ranking "
        "witnesses don't cover (rank says WHERE a row sorts; these "
        "say what FRACTION of the partition it beats, and which "
        "equal-count bucket it lands in): one window pass over the "
        "reduced O(days) daily frame, all three functions sharing "
        "the same partition+order so Catalyst plans one exchange + "
        "one sort. The (v, day) order key is total, making ntile's "
        "bucket boundaries deterministic on both engines"
    ),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_avg(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("v", "day")
    return daily.select(
        "event_type",
        "day",
        "v",
        dround(F.percent_rank().over(w), 6).alias("pct_rank"),
        dround(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


_MAD_K = 3.0
_MAD_SCALE = 1.4826  # consistency constant: MAD ≈ σ for a normal

_MAD_SQL = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         ROUND(AVG(value), 6) AS v
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
med AS (
  SELECT event_type, ROUND(quantile_cont(v, 0.5), 6) AS med
  FROM daily GROUP BY 1
),
dev AS (
  SELECT d.event_type, d.day, d.v, m.med,
         ROUND(ABS(d.v - m.med), 6) AS adev
  FROM daily d JOIN med m ON m.event_type = d.event_type
),
mad AS (
  SELECT event_type, ROUND(quantile_cont(adev, 0.5), 6) AS mad
  FROM dev GROUP BY 1
)
SELECT d.event_type, d.day, d.v, d.med, m.mad,
       (d.adev > {_MAD_K!r} * {_MAD_SCALE!r} * m.mad) AS is_anomaly
FROM dev d JOIN mad m ON m.event_type = d.event_type
"""


@register(
    "events_anomaly_mad",
    _MAD_SQL,
    doc=(
        "robust anomaly detection via MEDIAN absolute deviation — the "
        "outlier flag events_anomaly's 3-sigma variant cannot be "
        "trusted for (a single extreme day inflates the stddev and "
        "hides itself; the median/MAD pair has a 50% breakdown "
        "point): per-series median, absolute deviations, median of "
        "those, flag at |v-med| > 3·1.4826·MAD. Two exact-percentile "
        "reductions over the O(days) frame with the tiny per-series "
        "stat tables broadcast back; every intermediate rounds to "
        "6dp so the flag compares bit-identical quantities on both "
        "engines"
    ),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_avg(spark, sf_dir)
    med = daily.groupBy("event_type").agg(
        dround(F.expr("percentile(v, 0.5)"), 6).alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day",
        "v",
        "med",
        dround(F.abs(F.col("v") - F.col("med")), 6).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        dround(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        "v",
        "med",
        "mad",
        (F.col("adev") > F.lit(_MAD_K * _MAD_SCALE) * F.col("mad")).alias(
            "is_anomaly"
        ),
    )


_BETA_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts)::DATE AS day,
         ROUND(AVG(CASE WHEN event_type = 'view' THEN value END), 6) AS v_view,
         ROUND(AVG(CASE WHEN event_type = 'purchase' THEN value END), 6)
           AS v_purchase
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1
)
SELECT day, v_view, v_purchase,
       ROUND(regr_slope(v_purchase, v_view) OVER (
         ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW
       ), 4) AS beta14
FROM daily
"""


@register(
    "window_rolling_beta",
    _BETA_SQL,
    doc=(
        "14-day rolling regression slope (beta) of the purchase "
        "series on the view series — the rolling MODEL FIT beside "
        "window_rolling_corr's rolling association (corr says how "
        "tightly coupled; beta says how many purchase units per view "
        "unit, the hedge-ratio/elasticity readout): regr_slope runs "
        "as a frame-window aggregate over the conditionally-pivoted "
        "daily frame — one scan, one O(days) window, inputs rounded "
        "to 6dp so both engines regress bit-identical series"
    ),
)
def window_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_pair(spark, sf_dir)
    w = W.orderBy("day").rowsBetween(-13, 0)
    return daily.select(
        "day",
        "v_view",
        "v_purchase",
        dround(F.regr_slope(F.col("v_purchase"), F.col("v_view")).over(w), 4).alias(
            "beta14"
        ),
    )


_EMBARGO_DAYS = 2
_TEST_DAYS = 7

_SPLIT_TEMPORAL_SQL = f"""
WITH d AS (
  SELECT event_id, user_id, date_trunc('day', ts)::DATE AS day FROM events
),
cut AS (
  SELECT MAX(day) - INTERVAL {_TEST_DAYS} DAY AS t_cut FROM d
),
tagged AS (
  SELECT d.event_id, d.user_id, d.day,
         CASE WHEN d.day > t_cut THEN 'test'
              WHEN d.day > t_cut - INTERVAL {_EMBARGO_DAYS} DAY THEN 'embargo'
              ELSE 'train' END AS split
  FROM d CROSS JOIN cut
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
       MIN(day) AS d_min, MAX(day) AS d_max
FROM tagged GROUP BY split
"""


@register(
    "split_temporal_embargo",
    _SPLIT_TEMPORAL_SQL,
    doc=(
        "temporal train/test split WITH EMBARGO — the time-leakage "
        "guard for forecasting/backtest data (split_leakage_safe "
        "guards near-duplicate leakage across a random split; this "
        "guards LOOK-AHEAD leakage: test = the last 7 days, and the "
        "2 days before the cutoff are EMBARGOED out entirely so "
        "label windows and rolling features that straddle the "
        "boundary cannot leak future into train — the purged/"
        "embargoed split of financial ML). The cutoff derives from "
        "max(day) as a broadcast 1-row cross join; the per-split "
        "audit row (event/user/day counts + date range) is what a "
        "pipeline logs to prove the split held"
    ),
)
def split_temporal_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_id", "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    )
    cut = d.agg(F.date_sub(F.max("day"), _TEST_DAYS).alias("t_cut"))
    tagged = d.crossJoin(F.broadcast(cut)).select(
        "event_id",
        "user_id",
        "day",
        F.when(F.col("day") > F.col("t_cut"), F.lit("test"))
        .when(
            F.col("day") > F.date_sub(F.col("t_cut"), _EMBARGO_DAYS), F.lit("embargo")
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.countDistinct("day").cast("bigint").alias("n_days"),
        F.min("day").alias("d_min"),
        F.max("day").alias("d_max"),
    )


# ---------------------------------------------------------------------------
# Wave 3: gaps-and-islands streaks, cohort LTV curves, deterministic mode
# ---------------------------------------------------------------------------

_STREAKS_SQL = """
WITH d AS (
  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day FROM events
),
r AS (
  SELECT user_id, day,
         date_diff('day', DATE '1970-01-01', day)
         - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM d
),
s AS (SELECT user_id, grp, COUNT(*) AS len FROM r GROUP BY 1, 2)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM s GROUP BY user_id
"""


@register(
    "events_streaks",
    _STREAKS_SQL,
    doc=(
        "gaps-and-islands: per-user consecutive-active-day streaks via "
        "the classic epoch-day-minus-row-number island key (consecutive "
        "days share a constant difference; any gap shifts it) — the "
        "engagement-streak / uptime-window shape that needs neither a "
        "self-join nor a recursive walk: one distinct, one ranking "
        "window over the reduced (user, day) frame, two integer "
        "aggregations. All arithmetic is int64 day counts — nothing "
        "to round, bit-exact on both engines. events_sessionize cuts "
        "sessions on TIME gaps inside a day; this finds streaks "
        "across CALENDAR days — the other islands axis"
    ),
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    r = d.select(
        "user_id",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    s = r.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return s.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.max("len").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
    )


_LTV_SQL = """
WITH p AS (
  SELECT user_id, date_trunc('week', ts)::DATE AS w, value AS v
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
coh AS (SELECT user_id, MIN(w) AS cohort FROM p GROUP BY 1),
rev AS (
  SELECT c.cohort, date_diff('day', c.cohort, p.w) // 7 AS age,
         CAST(ROUND(SUM(p.v) * 100, 0) AS BIGINT) AS cents,
         COUNT(DISTINCT p.user_id) AS n_buyers
  FROM p JOIN coh c ON c.user_id = p.user_id
  GROUP BY 1, 2
)
SELECT cohort, CAST(age AS BIGINT) AS age_weeks,
       CAST(n_buyers AS BIGINT) AS n_buyers,
       ROUND(cents / 100.0, 2) AS revenue,
       ROUND(SUM(cents) OVER (PARTITION BY cohort ORDER BY age)
             / 100.0, 2) AS cum_ltv
FROM rev
"""


@register(
    "events_cohort_ltv",
    _LTV_SQL,
    doc=(
        "cohort lifetime-value curves — cumulative revenue per signup "
        "cohort by age-in-weeks, the LTV readout beside "
        "events_retention's presence matrix (retention says WHO came "
        "back; LTV says what they were WORTH): cohort = first "
        "purchase week (one aggregation), per-(cohort, age) revenue "
        "converts to INTEGER CENTS at the reduction (the agg_gini "
        "discipline) so the running LTV prefix sum is exact int64, "
        "divided back to currency once at the end; age counts in "
        "exact day-arithmetic sevenths (engines disagree on week-"
        "boundary date_diff semantics, never on day counts between "
        "week-truncated dates). The window runs over the O(cohorts x "
        "ages) reduced frame, never the raw purchases"
    ),
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("w"), "value"
    )
    coh = p.groupBy("user_id").agg(F.min("w").alias("cohort"))
    rev = (
        p.join(coh, "user_id")
        .groupBy(
            "cohort",
            F.floor(F.datediff(F.col("w"), F.col("cohort")) / 7)
            .cast("bigint")
            .alias("age"),
        )
        .agg(
            dround(F.sum("value") * 100, 0).cast("bigint").alias("cents"),
            F.countDistinct("user_id").alias("n_buyers"),
        )
    )
    w = (
        W.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return rev.select(
        "cohort",
        F.col("age").cast("bigint").alias("age_weeks"),
        F.col("n_buyers").cast("bigint").alias("n_buyers"),
        dround(F.col("cents") / 100.0, 2).alias("revenue"),
        dround(F.sum("cents").over(w) / 100.0, 2).alias("cum_ltv"),
    )


# value side gets 2^20 bits (guarded), leaving 2^43 for the count —
# ~8.8e12 rows PER (group, value) cell before overflow, comfortably
# past the 100 TB shapes (a 2^33 value shift left only 2^30 ≈ 1e9 for
# the count, which a hot cell at full scale could exceed)
_MODE_SHIFT = 2**20

_MODE_SQL = f"""
WITH c AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag,
       CAST({_MODE_SHIFT - 1} - (MAX(cnt * {_MODE_SHIFT}
            + ({_MODE_SHIFT - 1} - q)) % {_MODE_SHIFT}) AS BIGINT) AS mode_qty,
       CAST(MAX(cnt * {_MODE_SHIFT} + ({_MODE_SHIFT - 1} - q))
            // {_MODE_SHIFT} AS BIGINT) AS mode_count
FROM c GROUP BY l_returnflag
"""


@register(
    "agg_mode_exact",
    _MODE_SQL,
    doc=(
        "deterministic MODE — the most frequent value per group with a "
        "SPECIFIED tie rule (smallest value wins): built-in mode() "
        "leaves ties engine-arbitrary on both Spark and DuckDB, so it "
        "can never be oracle-verified; instead the (group, value) "
        "counts reduce once and the argmax packs into one bigint max "
        "— cnt * 2^20 + (2^20-1 - value) — maximizing count while "
        "MINIMIZING the value on ties, the integer-packing trick "
        "label_propagation uses for max-ties, flipped by the "
        "complement. The small value shift leaves 43 bits for the "
        "count (8.8e12 rows per cell before overflow) and the value "
        "range is RUNTIME-GUARDED with raise_error — a violation is "
        "loud, never a silently wrong mode. Two hash aggregations "
        "with map-side combine, no sort, no window"
    ),
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    shift = F.lit(_MODE_SHIFT)
    q_raw = F.col("l_quantity").cast("bigint")
    # loud precondition: values must fit the packed low bits
    q = F.when(
        (q_raw < 0) | (q_raw >= _MODE_SHIFT),
        F.raise_error(
            F.lit(f"agg_mode_exact: value out of packable range [0, {_MODE_SHIFT})")
        ).cast("bigint"),
    ).otherwise(q_raw)
    c = li.groupBy("l_returnflag", q.alias("q")).agg(F.count(F.lit(1)).alias("cnt"))
    key = F.max(F.col("cnt") * shift + (shift - 1 - F.col("q"))).alias("key")
    return (
        c.groupBy("l_returnflag")
        .agg(key)
        .select(
            "l_returnflag",
            (shift - 1 - F.pmod(F.col("key"), shift)).cast("bigint").alias("mode_qty"),
            # integral `div`, not floor(double /): keeps the unpack in
            # exact int64 arithmetic at any count magnitude
            F.expr(f"key div {_MODE_SHIFT}").cast("bigint").alias("mode_count"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution drift: binned total-variation distance between time halves
# ---------------------------------------------------------------------------

_DRIFT_QS = [round(0.1 * i, 1) for i in range(1, 10)]  # reference deciles

_DRIFT_SQL = f"""
WITH v AS (
  SELECT date_trunc('day', ts)::DATE AS day, value AS val
  FROM events WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
),
span AS (
  SELECT MIN(day) AS d0,
         MIN(day) + CAST(FLOOR(date_diff('day', MIN(day), MAX(day)) / 2)
                         AS BIGINT) * INTERVAL 1 DAY AS mid
  FROM v
),
halves AS (
  SELECT CASE WHEN v.day < span.mid THEN 'ref' ELSE 'cur' END AS half, v.val
  FROM v CROSS JOIN span
),
cuts AS (
  SELECT list_transform(
           quantile_cont(val, {_DRIFT_QS!r}), x -> ROUND(x, 4)) AS qs
  FROM halves WHERE half = 'ref'
),
binned AS (
  SELECT h.half,
         len(list_filter(cuts.qs, c -> c < ROUND(h.val, 4))) AS bin
  FROM halves h CROSS JOIN cuts
),
cells AS (
  SELECT bin,
         SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS n_r,
         SUM(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS n_c
  FROM binned GROUP BY bin
),
tot AS (SELECT SUM(n_r) AS t_r, SUM(n_c) AS t_c FROM cells),
shifts AS (
  SELECT c.bin, c.n_r, c.n_c,
         ABS(c.n_r * tot.t_c - c.n_c * tot.t_r) AS num, tot.t_r, tot.t_c
  FROM cells c CROSS JOIN tot
)
SELECT CAST(MAX(t_r) AS BIGINT) AS n_ref,
       CAST(MAX(t_c) AS BIGINT) AS n_cur,
       ROUND(0.5 * SUM(num) / (MAX(t_r) * MAX(t_c)), 6) AS tvd,
       CAST(MAX(t_r) * MAX(t_c) AS BIGINT) AS scale_denom,
       CAST((SELECT MIN(bin) FROM shifts s2
             WHERE s2.num = (SELECT MAX(num) FROM shifts)) AS BIGINT)
         AS max_shift_bin
FROM shifts
"""


@register(
    "profile_distribution_drift",
    _DRIFT_SQL,
    doc=(
        "distribution drift monitor — binned TOTAL-VARIATION distance "
        "between the first and second time halves of a feature (the "
        "train/serve skew alarm of ML monitoring, the PSI slot): bins "
        "are the REFERENCE half's deciles (exact percentiles, "
        "broadcast back, feature_discretize's bucketing move), and "
        "the drift statistic is computed ENTIRELY in integer "
        "arithmetic — per-bin |n_ref*tot_cur - n_cur*tot_ref| sums "
        "exactly in int64 and divides once at the end — because the "
        "textbook PSI needs ln(), and ln (like pow, the "
        "events_trending lesson) is 1-ulp engine-divergent; TVD "
        "ranks drift identically and is exactly portable. "
        "max_shift_bin names the decile that moved most (smallest "
        "index on ties)"
    ),
)
def profile_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(
        F.col("event_type").isin("view", "purchase") & F.col("value").isNotNull()
    ).select(F.date_trunc("day", "ts").cast("date").alias("day"), F.col("value").alias("val"))
    span = v.agg(
        F.min("day").alias("d0"),
        F.date_add(
            F.min("day"),
            F.floor(F.datediff(F.max("day"), F.min("day")) / 2).cast("int"),
        ).alias("mid"),
    )
    halves = v.crossJoin(F.broadcast(span)).select(
        F.when(F.col("day") < F.col("mid"), F.lit("ref"))
        .otherwise(F.lit("cur"))
        .alias("half"),
        "val",
    )
    qs_arr = ", ".join(repr(q) for q in _DRIFT_QS)
    cuts = halves.filter(F.col("half") == "ref").agg(
        F.transform(
            F.expr(f"percentile(val, array({qs_arr}))"), lambda x: dround(x, 4)
        ).alias("qs")
    )
    binned = halves.crossJoin(F.broadcast(cuts)).select(
        "half",
        F.size(F.filter(F.col("qs"), lambda c: c < dround(F.col("val"), 4))).alias(
            "bin"
        ),
    )
    cells = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == "ref", 1).otherwise(0)).alias("n_r"),
        F.sum(F.when(F.col("half") == "cur", 1).otherwise(0)).alias("n_c"),
    )
    # cell-count x total-count cross products go through decimal BEFORE
    # the abs/sum: n_r*t_c reaches ~1e24 at the 100 TB target while
    # DuckDB's SUM-produced totals are already HUGEINT — Spark's int64
    # would wrap silently (the feature_pca_power overflow discipline)
    tot = cells.agg(
        F.sum(F.col("n_r").cast("decimal(19,0)")).alias("t_r"),
        F.sum(F.col("n_c").cast("decimal(19,0)")).alias("t_c"),
    )
    shifts = cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_r",
        "n_c",
        F.abs(
            (F.col("n_r").cast("decimal(19,0)") * F.col("t_c")).cast("decimal(38,0)")
            - (F.col("n_c").cast("decimal(19,0)") * F.col("t_r")).cast("decimal(38,0)")
        ).alias("num"),
        "t_r",
        "t_c",
    )
    mx = shifts.agg(F.max("num").alias("mxnum"))
    top_bin = (
        shifts.crossJoin(F.broadcast(mx))
        .filter(F.col("num") == F.col("mxnum"))
        .agg(F.min("bin").alias("max_shift_bin"))
    )
    summary = shifts.agg(
        F.max("t_r").cast("bigint").alias("n_ref"),
        F.max("t_c").cast("bigint").alias("n_cur"),
        dround(
            F.lit(0.5) * F.sum("num") / (F.max("t_r") * F.max("t_c")), 6
        ).alias("tvd"),
        (F.max("t_r") * F.max("t_c")).cast("bigint").alias("scale_denom"),
    )
    return summary.crossJoin(F.broadcast(top_bin)).select(
        "n_ref", "n_cur", "tvd", "scale_denom",
        F.col("max_shift_bin").cast("bigint").alias("max_shift_bin"),
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-style candidate pruning)
# ---------------------------------------------------------------------------

_PF_T = 0.8  # Jaccard threshold the prefix guarantee is proven against

# positional-filter integers (round 13): with t = p/q exactly, the
# minimum overlap o of a qualifying pair satisfies o >= t·S/(1+t)
# (S = n_a + n_b) ⇔ o·(p+q) >= p·S — integer-exact, no float ceil.
# Fraction(str(0.8)) is 4/5, NOT the binary-float ratio.
from fractions import Fraction as _Fr

_PF_POS_P = _Fr(str(_PF_T)).numerator  # 4
_PF_POS_PQ = _Fr(str(_PF_T)).denominator + _PF_POS_P  # 9

# fixture augmentation: the corpus has few >=0.8-Jaccard pairs, so every
# 41st doc spawns a deterministic truncated twin (first ceil(9/10) of its
# tokens, id + 20,000,000) with J ~ 0.88 against its parent — both
# engines derive the identical rows (the dedup_containment pattern)
_PF_SQL = f"""
WITH toks0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
tw AS (
  SELECT doc_id + 20000000 AS doc_id,
         array_to_string(
           t[1:CAST(GREATEST(3, CEIL(len(t) * 9 / 10)) AS BIGINT)], ' ') AS text
  FROM toks0 WHERE doc_id % 41 = 0
),
aug AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM tw),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM toks
),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a, b, ROUND(n_inter / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = a
JOIN counts cb ON cb.doc_id = b
WHERE n_inter / (ca.n_sh + cb.n_sh - n_inter) >= {_PF_T!r}
"""


@register(
    "dedup_jaccard_prefix",
    _PF_SQL,
    doc=(
        "prefix-filtered set-similarity join (the PPJoin/AllPairs "
        "candidate-pruning move): under ANY fixed global order of "
        "shingles, two sets with Jaccard >= t MUST share an element "
        "inside their first |S| - ceil(t*|S|) + 1 shingles — so only "
        "the PREFIX (the rarest ~20% at t=0.8) enters the bucketed "
        "pair expansion, and the exact-Jaccard verify runs only on "
        "surviving candidates via per-pair array_intersect over "
        "compact sorted shingle arrays (no second expansion). The "
        "global order is ASCENDING DOCUMENT FREQUENCY with a shingle "
        "tie-break — the order choice IS the technique: the guarantee "
        "holds for any total order, but rarest-first makes prefix "
        "buckets small (a content-blind md5 order left corpus-common "
        "shingles in prefixes: 592k candidates for 390 true pairs at "
        "sf0.1, measured). The ORACLE is the EXHAUSTIVE all-shared-"
        "shingle join at the same threshold, so the hash match IS the "
        "no-false-negative proof of the prune. Honest corpus caveat: "
        "the synthetic documents table has a TINY vocabulary (27k "
        "distinct shingles over 5k docs, median df=10 at sf0.1), so "
        "no shingle is genuinely rare and the candidate set stays "
        "overlap-bound (~122k pairs) — on a real Zipfian corpus, "
        "rarest-first prefixes collapse candidates by orders of "
        "magnitude; here the query demonstrates (and proves) the "
        "algebra, and its bench cost tracks the corpus, not the "
        "technique. A deterministic truncated-twin fixture keeps the "
        ">= 0.8 pair set non-vacuous"
    ),
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    tw = docs.filter(F.col("doc_id") % 41 == 0).select(
        (F.col("doc_id") + 20000000).alias("doc_id"),
        F.array_join(
            F.slice(
                toks,
                1,
                F.greatest(
                    F.lit(3), F.ceil(F.size(toks) * 9 / 10)
                ).cast("int"),
            ),
            " ",
        ).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionByName(tw)
    # the exploded shingle set is consumed three times (counts, prefix,
    # exact verify) — materialize once; recomputing the split+explode
    # chain per consumer benched 2.4x slower (repo materialization
    # policy: shared derived frames use EAGER localCheckpoint)
    shingled = pin(D.exploded_shingles(aug))
    counts = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # prefix under ASCENDING DOCUMENT FREQUENCY (ties by shingle): the
    # prefix keeps each doc's RAREST shingles, so prefix buckets are
    # tiny and the candidate set collapses — with a content-blind md5
    # order the prefix still carried corpus-common shingles and
    # produced 592k candidates at sf0.1 vs 390 true pairs (measured);
    # df-ordering is the actual PPJoin/AllPairs move, not a tweak
    dfreq = shingled.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    wp = W.partitionBy("doc_id").orderBy("df", "shingle")
    # counts joins as a PLAIN shuffle join, never broadcast: it is one
    # row per DOCUMENT, so broadcasting it ships the whole corpus to
    # every executor — billions of rows at the 100 TB target (VERDICT
    # r6 item 3). The row_number window two lines down shuffles on
    # doc_id anyway, so the sort-merge join co-partitions for free and
    # the broadcast bought nothing even locally.
    pref = (
        shingled.join(dfreq, "shingle")
        .join(counts, "doc_id")
        .select(
            "doc_id",
            "shingle",
            "n_sh",
            F.row_number().over(wp).alias("rn"),
            (
                F.col("n_sh")
                - F.ceil(F.col("n_sh") * F.lit(_PF_T)).cast("bigint")
                + 1
            ).alias("plen"),
        )
        .filter(F.col("rn") <= F.col("plen"))
        .select("doc_id", "shingle", "rn", "n_sh")
    )
    # no hot-bucket cap here: the prefix IS the prune (df-ordered
    # prefixes keep buckets tiny), and a cap would break the
    # no-false-negative contract the exhaustive oracle checks; a
    # production deployment re-adds the drop-and-log cap as a guard.
    # Pair expansion is _bucket_pairs' one-aggregation combinator shape,
    # inlined because each entry carries (rn, n_sh) for the POSITIONAL
    # filter (PPJoin's second prune, round 13): for a pair with
    # J >= t, every shared shingle ranks at or after the FIRST shared
    # one in the global (df, shingle) order, and that first one is a
    # prefix-prefix collision (the prefix guarantee applied to it
    # directly) — so overlap <= 1 + min(n_a - rn_a, n_b - rn_b) AT that
    # collision, and a qualifying pair always has a collision whose
    # ubound reaches minoverlap = ceil(t/(1+t)·(n_a+n_b)). Keeping
    # only collisions with ubound >= minoverlap is therefore a pure
    # candidate prune (no false negatives — the exhaustive oracle and
    # test_positional_filter_never_drops_a_qualifying_pair both pin
    # it). Measured at sf0.1: 122,464 -> 13,205 candidate pairs
    # (-89%), which is 9x fewer rows through the distinct AND the
    # two per-side verify joins below. Integer-exact comparison via
    # the module-level _PF_POS_P/_PF_POS_PQ (derived from _PF_T):
    # o >= t·S/(1+t) ⇔ o·(p+q) >= p·S with t = p/q = 4/5.
    coll = (
        pref.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "rn", "n_sh")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids)),"
                    "  y -> if(x.doc_id < y.doc_id,"
                    "          struct(x AS p, y AS q),"
                    "          struct(y AS p, x AS q)))))"
                )
            ).alias("c")
        )
    )
    cands = (
        coll.filter(
            (
                F.lit(1)
                + F.least(
                    F.col("c.p.n_sh") - F.col("c.p.rn"),
                    F.col("c.q.n_sh") - F.col("c.q.rn"),
                )
            )
            * _PF_POS_PQ
            >= (F.col("c.p.n_sh") + F.col("c.q.n_sh")) * _PF_POS_P
        )
        .select(F.col("c.p.doc_id").alias("a"), F.col("c.q.doc_id").alias("b"))
        .distinct()
    )
    # exact verify WITHOUT a second pair expansion: candidate pairs join
    # each side's compact sorted shingle array and intersect map-side —
    # per-pair O(|A|+|B|), versus re-running the full bucketed expansion
    # doc-restricted (which prunes nothing when most docs have SOME
    # candidate; benched 7.5s -> the array path below)
    sets = shingled.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("shingle")).alias("sh"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    sa = sets.select(
        F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a")
    )
    sb = sets.select(
        F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b")
    )
    verified = (
        cands.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            "n_a",
            "n_b",
        )
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return verified.filter(jac >= _PF_T).select(
        "a", "b", dround(jac, 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# Bag-semantics set operations: INTERSECT ALL / EXCEPT ALL
# ---------------------------------------------------------------------------

_SETALL_SQL = """
WITH ra AS (SELECT l_partkey AS pk FROM lineitem WHERE l_returnflag = 'R'),
rb AS (SELECT l_partkey AS pk FROM lineitem WHERE l_linestatus = 'F')
SELECT 'intersect_all' AS op, pk FROM (SELECT pk FROM ra INTERSECT ALL SELECT pk FROM rb)
UNION ALL
SELECT 'except_all' AS op, pk FROM (SELECT pk FROM ra EXCEPT ALL SELECT pk FROM rb)
"""


@register(
    "set_ops_all",
    _SETALL_SQL,
    doc=(
        "bag-semantics set operations — INTERSECT ALL / EXCEPT ALL "
        "preserve MULTIPLICITY (a part returned 3 times and shipped "
        "twice intersects twice and excepts once), which the "
        "DISTINCT-semantics set_ops witness cannot express: Spark "
        "plans intersectAll/exceptAll as a counted aggregate + "
        "generate replay, not a distinct — one shuffle per side, no "
        "row-by-row matching. Both ops run over the same two scans "
        "and union into one tagged multiset output, hash-verified "
        "with full multiplicities"
    ),
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ra = li.filter(F.col("l_returnflag") == "R").select(F.col("l_partkey").alias("pk"))
    rb = li.filter(F.col("l_linestatus") == "F").select(F.col("l_partkey").alias("pk"))
    ia = ra.intersectAll(rb).select(F.lit("intersect_all").alias("op"), "pk")
    ea = ra.exceptAll(rb).select(F.lit("except_all").alias("op"), "pk")
    return ia.unionByName(ea)


# ---------------------------------------------------------------------------
# Wave 4: incremental view maintenance (join IVM) + referential integrity
# ---------------------------------------------------------------------------

# deterministic "late-arriving" splits: facts after the date cutoff are
# the fact delta; every 97th customer is a late dim row
_IVM_CUTOFF = "1997-01-01"

_IVM_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
         (o_orderdate < DATE '{_IVM_CUTOFF}') AS o_old
  FROM orders
),
c AS (
  SELECT c_custkey, c_mktsegment, (c_custkey % 97 <> 0) AS c_old
  FROM customer
)
SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment,
       ROUND(o.o_totalprice, 2) AS totalprice,
       CASE WHEN o.o_old AND c.c_old THEN 'base'
            WHEN NOT o.o_old AND c.c_old THEN 'dfact'
            WHEN o.o_old AND NOT c.c_old THEN 'ddim'
            ELSE 'dboth' END AS via
FROM o JOIN c ON c.c_custkey = o.o_custkey
"""


@register(
    "incremental_join_delta",
    _IVM_SQL,
    doc=(
        "incremental view maintenance for a JOIN — the delta algebra "
        "Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB that keeps a "
        "materialized join current without recomputing it "
        "(rollup_incremental is the aggregate IVM witness; joins need "
        "the three-way delta expansion because BOTH sides can grow): "
        "Spark evaluates the four disjoint delta joins explicitly and "
        "unions them, each tagged with its provenance lane; the "
        "oracle is the PLAIN full join with the lane derived by CASE "
        "— so the hash match proves the decomposition covers every "
        "row exactly once (no lost, no duplicated deltas). At scale "
        "each delta join is small-side-broadcast (ΔB, Δ-batch) or "
        "key-pruned; only the base⋈base term is ever large, and it "
        "is the term IVM never re-executes"
    ),
)
def incremental_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        (F.col("o_orderdate") < F.lit(_IVM_CUTOFF).cast("date")).alias("o_old"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_custkey") % 97 != 0).alias("c_old"),
    )
    o_old, o_new = orders.filter("o_old"), orders.filter("NOT o_old")
    c_old, c_new = cust.filter("c_old"), cust.filter("NOT c_old")

    def lane(o, c, tag):
        return o.join(c, o["o_custkey"] == c["c_custkey"]).select(
            "o_orderkey",
            "c_custkey",
            "c_mktsegment",
            dround("o_totalprice", 2).alias("totalprice"),
            F.lit(tag).alias("via"),
        )

    return (
        lane(o_old, c_old, "base")
        .unionByName(lane(o_new, c_old, "dfact"))
        .unionByName(lane(o_old, F.broadcast(c_new), "ddim"))
        .unionByName(lane(o_new, F.broadcast(c_new), "dboth"))
    )


# deterministic orphan injection: the synthetic tables are referentially
# clean, so every 53rd lineitem spawns a child row pointing at a key
# that cannot exist (offset by 10^9) — both engines derive the same rows
_RI_SQL = """
WITH li AS (
  SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
  UNION ALL
  SELECT l_orderkey + 1000000000, l_partkey + 1000000000,
         l_suppkey + 1000000000
  FROM lineitem WHERE l_orderkey % 53 = 0
),
edges AS (
  SELECT 'lineitem->orders' AS fk_edge, COUNT(*) AS n_child,
         SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_orphan
  FROM li LEFT JOIN orders o ON o.o_orderkey = li.l_orderkey
  UNION ALL
  SELECT 'lineitem->part', COUNT(*),
         SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
  FROM li LEFT JOIN part p ON p.p_partkey = li.l_partkey
  UNION ALL
  SELECT 'lineitem->supplier', COUNT(*),
         SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
  FROM li LEFT JOIN supplier s ON s.s_suppkey = li.l_suppkey
  UNION ALL
  SELECT 'orders->customer', COUNT(*),
         SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
  FROM orders o2 LEFT JOIN customer c ON c.c_custkey = o2.o_custkey
)
SELECT fk_edge, CAST(n_child AS BIGINT) AS n_child,
       CAST(n_orphan AS BIGINT) AS n_orphan,
       ROUND(CAST(n_orphan AS DOUBLE) / n_child, 6) AS orphan_rate
FROM edges
"""


@register(
    "audit_referential_integrity",
    _RI_SQL,
    doc=(
        "referential-integrity audit — orphan counts per foreign-key "
        "edge (the warehouse ingest gate profile_expectations' "
        "single-table constraints cannot express): each edge is one "
        "left join from child to parent counting unmatched keys; at "
        "scale the parent side reduces to its distinct key column "
        "first and the checks share the child scan. The synthetic "
        "tables are referentially clean, so a deterministic orphan "
        "fixture (every 53rd lineitem spawns a child pointing at an "
        "impossible +1e9 key, mirrored on both engines) keeps the "
        "audit non-vacuous. Counts are int64; the one rate divides "
        "once at the end"
    ),
)
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li0 = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    # the augmented child frame feeds three FK edges — materialize once
    # (Catalyst does not share subtrees across union branches, so
    # without this each edge would rescan lineitem and rebuild the
    # orphan union; repo materialization policy: eager localCheckpoint
    # for multi-consumer derived frames)
    li = pin(li0.unionByName(
        li0.filter(F.col("l_orderkey") % 53 == 0).select(
            (F.col("l_orderkey") + 1000000000).alias("l_orderkey"),
            (F.col("l_partkey") + 1000000000).alias("l_partkey"),
            (F.col("l_suppkey") + 1000000000).alias("l_suppkey"),
        )
    ))
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")

    def edge(child, ckey, parent, pkey, name):
        j = child.join(
            F.broadcast(parent.select(pkey).distinct()),
            child[ckey] == F.col(pkey),
            "left",
        )
        return j.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).cast("bigint").alias("n_child"),
            F.sum(F.when(F.col(pkey).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphan"),
        )

    out = (
        edge(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders")
        .unionByName(edge(li, "l_partkey", part, "p_partkey", "lineitem->part"))
        .unionByName(edge(li, "l_suppkey", sup, "s_suppkey", "lineitem->supplier"))
        .unionByName(edge(orders, "o_custkey", cust, "c_custkey", "orders->customer"))
    )
    return out.select(
        "fk_edge",
        "n_child",
        "n_orphan",
        dround(F.col("n_orphan").cast("double") / F.col("n_child"), 6).alias(
            "orphan_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Wave 5 — skyline, change-point, survival, apportionment, weighted SSSP,
# rolling median: classic analytics families the catalog did not have.
# ---------------------------------------------------------------------------

_SKYLINE_SQL = """
WITH p AS (
  SELECT p_partkey, p_size,
         CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS pc
  FROM part
)
SELECT a.p_partkey, ROUND(a.pc / 100.0, 2) AS price, a.p_size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.pc <= a.pc AND b.p_size >= a.p_size
    AND (b.pc < a.pc OR b.p_size > a.p_size)
)
"""


@register(
    "skyline_pareto",
    _SKYLINE_SQL,
    doc=(
        "2-D skyline (Pareto frontier): parts not dominated on "
        "(minimize price, maximize size) — dominance is <= on both "
        "dims with at least one strict. The Spark plan is O(n log n), "
        "not O(n^2): reduce to the best size PER DISTINCT PRICE "
        "first (hash aggregate), run one prefix-max window over that "
        "REDUCED frame (the repo's reduce-first-then-window "
        "discipline — the window input is |distinct prices|, not "
        "|parts|), then join back; a part is on the frontier iff it "
        "holds its price's best size and strictly beats every "
        "cheaper price's best. The ORACLE is the quadratic NOT "
        "EXISTS dominance definition itself, so the hash match "
        "proves the sort-based plan against the definition, not "
        "against a re-derivation. Integer-cents prices, no floats "
        "in any compare"
    ),
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        dround(F.col("p_retailprice") * 100, 0).cast("bigint").alias("pc"),
    )
    best = p.groupBy("pc").agg(F.max("p_size").alias("best_size"))
    w = W.orderBy("pc").rowsBetween(W.unboundedPreceding, -1)
    run = best.select(
        "pc", "best_size", F.max("best_size").over(w).alias("run_lt")
    )
    return (
        p.join(run, "pc")
        .filter(
            (F.col("p_size") == F.col("best_size"))
            & (F.col("run_lt").isNull() | (F.col("p_size") > F.col("run_lt")))
        )
        .select(
            "p_partkey",
            dround(F.col("pc") / 100.0, 2).alias("price"),
            "p_size",
        )
    )


_CUSUM_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, day, v,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(v) OVER (PARTITION BY event_type) AS tot
  FROM daily
),
cu AS (
  SELECT event_type, day, n, tot,
         SUM(n * v - tot) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM st
)
SELECT event_type, day,
       p - LEAST(0, MIN(p) OVER (
         PARTITION BY event_type ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum_scaled,
       CAST(CASE WHEN p - LEAST(0, MIN(p) OVER (
         PARTITION BY event_type ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) > tot
         THEN 1 ELSE 0 END AS INTEGER) AS breach
FROM cu
"""


@register(
    "events_cusum_changepoint",
    _CUSUM_SQL,
    doc=(
        "one-sided CUSUM change-point statistic per event_type over "
        "daily value totals: s_i = max(0, s_{i-1} + (x_i - mean)) — "
        "a RECURSION with a clamp, made window-expressible through "
        "the identity s_i = P_i - min(0, min_{j<=i} P_j) where P is "
        "the plain prefix sum of deviations (the max-drawdown "
        "telescoping trick), so the whole statistic is two cumulative "
        "windows over the reduced per-day frame, no UDF and no loop. "
        "Exactness: deviations are scaled by n (d_i = n*x_i - total, "
        "all integer cents) instead of subtracting the fractional "
        "mean, and the breach threshold compares s > n*mean = total "
        "on the same scale — bit-exact integers end to end, immune "
        "to float fold order on both engines. Breach marks days "
        "where the cumulated upward drift exceeds one mean day's "
        "value (h = mu in the scaled domain)"
    ),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(dround(F.col("value") * 100, 0).cast("bigint")).alias("v")
    )
    wt = W.partitionBy("event_type")
    st = daily.select(
        "event_type",
        "day",
        "v",
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("v").over(wt).alias("tot"),
    )
    wc = wt.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cu = st.select(
        "event_type",
        "day",
        "tot",
        F.sum(F.col("n") * F.col("v") - F.col("tot")).over(wc).alias("p"),
    )
    s = F.col("p") - F.least(F.lit(0).cast("bigint"), F.min("p").over(wc))
    return cu.select(
        "event_type",
        "day",
        s.alias("cusum_scaled"),
        F.when(s > F.col("tot"), 1).otherwise(0).cast("int").alias("breach"),
    )


_KM_SQL = """
WITH ud AS (
  SELECT user_id,
         DATE_TRUNC('hour', MIN(ts)) AS f,
         DATE_TRUNC('hour', MAX(ts)) AS l
  FROM events GROUP BY user_id
),
m AS (SELECT MAX(l) AS mx FROM ud),
obs AS (
  SELECT DATEDIFF('hour', f, l) AS t,
         CASE WHEN DATEDIFF('hour', l, mx) >= 72 THEN 1 ELSE 0 END AS ev
  FROM ud CROSS JOIN m
),
per_t AS (
  SELECT t, SUM(ev) AS d, SUM(1 - ev) AS c FROM obs GROUP BY t
),
risk AS (
  SELECT t, d, c,
         SUM(d + c) OVER () -
           COALESCE(SUM(d + c) OVER (
             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS n_risk
  FROM per_t
),
lf AS (
  SELECT t, d, n_risk,
         CASE WHEN d = 0 OR d = n_risk THEN 0
              ELSE CAST(ROUND(LN((n_risk - d) * 1.0 / n_risk) * 100000000, 0)
                        AS BIGINT) END AS lfac,
         CASE WHEN d = n_risk THEN 1 ELSE 0 END AS hit_zero
  FROM risk
)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d_events,
       CASE WHEN MAX(hit_zero) OVER (
              ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
            THEN 0.0
            ELSE ROUND(EXP(SUM(lfac) OVER (
              ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              / 100000000.0), 4) END AS surv
FROM lf
"""


@register(
    "events_survival_km",
    _KM_SQL,
    doc=(
        "Kaplan-Meier survival estimate over user lifetimes in HOURS "
        "(hour-truncated first to last event; lifetimes ending >= 72 "
        "hours before the corpus max count as observed churn, later "
        "ones as right-censored — hour granularity keeps the curve "
        "non-vacuous on the synthetic corpus, where day-level "
        "lifetimes collapse to 3 distinct values): S(t) = "
        "prod_{t_i <= t} (1 - d_i / n_i). The "
        "product-over-prefix has no window aggregate, so it runs in "
        "log space — per-duration factors ln((n-d)/n) are rounded to "
        "integer 1e-8 units FIRST (one libm call per row; the round "
        "re-synchronizes the engines), then an exact integer "
        "cumulative sum feeds one exp at the end. A d = n_risk step "
        "drives S to exactly 0 (ln would be -inf), handled by a "
        "cumulative hit-zero flag, not a sentinel value. Everything "
        "reduces to the O(distinct durations) frame before any "
        "window; risk sets come from one total minus a prefix sum, "
        "not a per-row >= self-join"
    ),
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_survival_greenwood(spark, sf_dir).select(
        "t", "n_risk", "d_events", "surv"
    )


_ALLOC_SEATS = 1000

_ALLOC_SQL = f"""
WITH rev AS (
  SELECT n_name,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS w
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name
),
q AS (
  SELECT n_name, w,
         ({_ALLOC_SEATS} * w) // SUM(w) OVER () AS base,
         ({_ALLOC_SEATS} * w) % SUM(w) OVER () AS rem
  FROM rev
),
r AS (
  SELECT n_name, w, base, rem,
         ROW_NUMBER() OVER (ORDER BY rem DESC, n_name) AS rn,
         {_ALLOC_SEATS} - SUM(base) OVER () AS leftover
  FROM q
)
SELECT n_name, ROUND(w / 100.0, 2) AS revenue,
       CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT) AS seats
FROM r
"""


@register(
    "alloc_largest_remainder",
    _ALLOC_SQL,
    doc=(
        f"largest-remainder (Hamilton) apportionment: {_ALLOC_SEATS} "
        "seats split across nations proportionally to integer-cents "
        "revenue — base = floor(K*w/W) per nation, then the K - "
        "sum(base) leftover seats go to the largest remainders "
        "(K*w mod W), name-ordered on ties so the allocation is a "
        "function of the data, never of engine sort stability. The "
        "entire allocation is exact int64 arithmetic (quotas never "
        "materialize as floats); K*w is RUNTIME-GUARDED with "
        "raise_error against int64 overflow (w < 2^63/K, i.e. ~9.2e15 "
        "cents per nation — beyond that, re-scale weights before "
        "apportioning: Hamilton is scale-invariant over a common "
        "divisor). Windows run over the 25-row reduced frame; the "
        "fact scan reduces per-custkey before any join"
    ),
)
def alloc_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(dround(F.col("o_totalprice") * 100, 0).cast("bigint")).alias("wc")
    )
    rev = (
        per_cust.join(F.broadcast(cust), per_cust["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum("wc").alias("w_raw"))
    )
    # loud precondition: K*w must fit int64 (see doc)
    w_ok = F.when(
        F.col("w_raw") >= (2**63) // _ALLOC_SEATS,
        F.raise_error(
            F.lit(
                f"alloc_largest_remainder: weight >= 2^63/{_ALLOC_SEATS}; "
                "rescale weights before apportioning"
            )
        ).cast("bigint"),
    ).otherwise(F.col("w_raw"))
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    k = F.lit(_ALLOC_SEATS).cast("bigint")
    q = rev.select(
        "n_name",
        w_ok.alias("w"),
    ).select(
        "n_name",
        "w",
        F.expr(f"div({_ALLOC_SEATS} * w, sum(w) over ())").alias("base"),
        ((k * F.col("w")) % F.sum("w").over(w_all)).alias("rem"),
    )
    wr = W.orderBy(F.col("rem").desc(), F.col("n_name"))
    r = q.select(
        "n_name",
        "w",
        "base",
        F.row_number().over(wr).alias("rn"),
        (k - F.sum("base").over(w_all)).alias("leftover"),
    )
    return r.select(
        "n_name",
        dround(F.col("w") / 100.0, 2).alias("revenue"),
        (
            F.col("base")
            + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("seats"),
    )


_SSSP_SEEDS = ("c1", "c2", "c3")
_SSSP_ROUNDS = 3


def _sssp_sql() -> str:
    seeds = ", ".join(f"'{s}'" for s in _SSSP_SEEDS)
    rounds = []
    prev = "d0"
    for i in range(1, _SSSP_ROUNDS + 1):
        rounds.append(f"""
d{i} AS (
  SELECT n.node,
         CASE WHEN n.dist IS NULL THEN r.cand
              WHEN r.cand IS NULL THEN n.dist
              ELSE LEAST(n.dist, r.cand) END AS dist
  FROM {prev} n LEFT JOIN (
    SELECT e.dst AS node, MIN(p.dist + e.w) AS cand
    FROM {prev} p JOIN edges e ON e.src = p.node
    WHERE p.dist IS NOT NULL GROUP BY e.dst
  ) r ON r.node = n.node
)""")
        prev = f"d{i}"
    return f"""
WITH we0 AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         's' || CAST(l_suppkey AS VARCHAR) AS dst,
         MIN(CAST(l_quantity AS BIGINT)) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
edges AS (SELECT src, dst, w FROM we0
          UNION ALL SELECT dst, src, w FROM we0),
d0 AS (
  SELECT DISTINCT src AS node,
         CASE WHEN src IN ({seeds}) THEN CAST(0 AS BIGINT) END AS dist
  FROM edges
),
{','.join(rounds)}
SELECT node, dist FROM {prev} WHERE dist IS NOT NULL
"""


@register(
    "graph_sssp_weighted",
    _sssp_sql(),
    doc=(
        "weighted multi-source shortest-path distance (bounded "
        "Bellman-Ford, 3 rounds from 3 seed customers) over the "
        "purchase graph with edge weight = MIN(l_quantity) per "
        "(customer, supplier) pair: the weighted generalization of "
        "graph_bfs_hops (operators/graph.sssp) — dist + w instead "
        "of hops + 1, the same min-plus round (state joined onto the "
        "mirrored edges plus weight-0 self-loops, one min per node), "
        "unrolled-CTE oracle. Rides the shared int64 node bijection "
        "(purchase_iedges); parallel mirrored weights fold to the "
        "cheapest in the round's min on both engines. Integer "
        "quantities as weights: distances are bit-exact, nothing to "
        "round"
    ),
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import sssp

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    wedges = pin(
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (2 * F.col("o_custkey")).alias("src"),
            (2 * F.col("l_suppkey") + 1).alias("dst"),
        )
        .agg(F.min(F.col("l_quantity").cast("bigint")).alias("w"))
    )
    iseeds = [2 * int(s[1:]) for s in _SSSP_SEEDS]
    d = sssp(wedges, seeds=iseeds, max_rounds=_SSSP_ROUNDS)
    return d.select(decode_purchase_node("node").alias("node"), "dist")


_ROLLMED_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS v
  FROM events GROUP BY 1, 2
)
SELECT event_type, day,
       ROUND(MEDIAN(v) OVER (
         PARTITION BY event_type ORDER BY day
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0, 4) AS med7
FROM daily
"""


@register(
    "window_rolling_median",
    _ROLLMED_SQL,
    doc=(
        "exact 7-day rolling MEDIAN of daily value totals per "
        "event_type — the one order statistic the frame-window family "
        "(bucketed_ma's avg, window_running's sum) cannot express as "
        "a distributive aggregate: Spark has no exact median window "
        "function, so the frame materializes as array_sort(collect_"
        "list) over the window and the middle element(s) are picked "
        "by position — O(frame log frame) per row, which is the "
        "honest cost of an exact sliding median and safe ONLY "
        "because it runs over the REDUCED per-day frame (31 rows per "
        "type), never the raw events (at 100 TB the reduce-first "
        "step is what keeps the collected frame 7 elements). "
        "Even-count medians average the two middles: integer cents "
        "sum exactly, /2.0 is a power-of-two division (exact), and "
        "the single /100 rounding matches DuckDB's MEDIAN-then-"
        "divide bit for bit"
    ),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(dround(F.col("value") * 100, 0).cast("bigint")).alias("v")
    )
    w7 = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, W.currentRow)
    )
    s = F.array_sort(F.collect_list("v").over(w7))
    n = F.size(s)
    m1 = F.element_at(s, ((n + 1) / 2).cast("int"))
    m2 = F.element_at(s, (n / 2 + 1).cast("int"))
    return daily.select(
        "event_type",
        "day",
        dround(((m1 + m2) / F.lit(2.0)) / F.lit(100.0), 4).alias("med7"),
    )


# ---------------------------------------------------------------------------
# Wave 6 — FD audit, median imputation, erasure cascade, bootstrap CI,
# CDC time travel: data-quality / governance / inference families.
# ---------------------------------------------------------------------------

_FD_SQL = """
WITH f1 AS (
  SELECT 'nation: n_regionkey -> n_name' AS fd,
         COUNT(*) AS n_lhs,
         SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating,
         MAX(nd) AS max_rhs
  FROM (SELECT n_regionkey, COUNT(DISTINCT n_name) AS nd
        FROM nation GROUP BY n_regionkey)
),
f2 AS (
  SELECT 'orders: o_custkey -> o_orderpriority',
         COUNT(*),
         SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END),
         MAX(nd)
  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS nd
        FROM orders GROUP BY o_custkey)
),
f3 AS (
  SELECT 'lineitem: l_orderkey -> l_returnflag',
         COUNT(*),
         SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END),
         MAX(nd)
  FROM (SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS nd
        FROM lineitem GROUP BY l_orderkey)
),
f4 AS (
  SELECT 'documents: doc_id -> lang',
         COUNT(*),
         SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END),
         MAX(nd)
  FROM (SELECT doc_id, COUNT(DISTINCT lang) AS nd
        FROM documents GROUP BY doc_id)
)
SELECT fd, CAST(n_lhs AS BIGINT) AS n_lhs,
       CAST(n_violating AS BIGINT) AS n_violating,
       CAST(max_rhs AS BIGINT) AS max_rhs,
       ROUND(CAST(n_violating AS DOUBLE) / n_lhs, 6) AS violation_rate
FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2
      UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
"""


@register(
    "audit_functional_dependency",
    _FD_SQL,
    doc=(
        "functional-dependency validation (the Metanome-style DQ "
        "profiling family): for each candidate FD X -> Y, group by X "
        "and count distinct Y — groups with more than one Y value "
        "violate; the audit emits group counts, violating-group "
        "counts, the worst fan-out, and the violation rate. Four "
        "candidates across four tables mix holding (doc_id -> lang, "
        "a key FD) and violated (region -> name fans out 5x) "
        "dependencies so both outcomes are exercised. Each check is "
        "one partial-aggregated groupBy + countDistinct reduced to a "
        "single row — at 100 TB each FD costs one shuffle on X and "
        "nothing is ever collected; candidate generation (the "
        "lattice search real FD miners do) stays driver-side over "
        "schema metadata, not data"
    ),
)
def audit_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    def check(df: DataFrame, lhs: str, rhs: str, name: str) -> DataFrame:
        per = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("nd"))
        return per.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_lhs"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating"),
            F.max("nd").cast("bigint").alias("max_rhs"),
        )

    out = (
        check(
            load_table(spark, sf_dir, "nation"),
            "n_regionkey",
            "n_name",
            "nation: n_regionkey -> n_name",
        )
        .unionByName(
            check(
                load_table(spark, sf_dir, "orders"),
                "o_custkey",
                "o_orderpriority",
                "orders: o_custkey -> o_orderpriority",
            )
        )
        .unionByName(
            check(
                load_table(spark, sf_dir, "lineitem"),
                "l_orderkey",
                "l_returnflag",
                "lineitem: l_orderkey -> l_returnflag",
            )
        )
        .unionByName(
            check(
                load_table(spark, sf_dir, "documents"),
                "doc_id",
                "lang",
                "documents: doc_id -> lang",
            )
        )
    )
    return out.select(
        "fd",
        "n_lhs",
        "n_violating",
        "max_rhs",
        dround(
            F.col("n_violating").cast("double") / F.col("n_lhs"), 6
        ).alias("violation_rate"),
    )


_IMPUTE_SQL = """
WITH tagged AS (
  SELECT event_type,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
         ('0x' || substr(md5('na|' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
           % 7 = 0 AS missing
  FROM events
),
st AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(CASE WHEN missing THEN 1 ELSE 0 END) AS n_imputed,
         SUM(CASE WHEN missing THEN 0 ELSE c END) AS sum_present,
         MEDIAN(CASE WHEN missing THEN NULL ELSE c END) AS med
  FROM tagged GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(n_imputed AS BIGINT) AS n_imputed,
       ROUND(med / 100.0, 4) AS fill_value,
       ROUND((sum_present + n_imputed * med) / (100.0 * n), 4) AS mean_after
FROM st
"""


@register(
    "impute_group_median",
    _IMPUTE_SQL,
    doc=(
        "data repair: impute missing values with the per-group EXACT "
        "median (robust to the skewed tails that make mean-fill "
        "distorting — the feature_winsorize argument applied to "
        "repair). Missingness is a deterministic md5-threshold mask "
        "(~1/7 of rows; the corpus ships no NULLs, so the fixture "
        "derives them reproducibly on both engines — the _PII_AUG "
        "pattern), values convert to integer cents first, and the "
        "group median interpolates the middle pair exactly (integer "
        "sum, power-of-two halving: Spark percentile() == DuckDB "
        "MEDIAN bit for bit, the feature_winsorize equivalence). "
        "Audit output only (n, imputed count, fill value, post-fill "
        "mean) — one aggregation per group, no per-row materialize; "
        "at 100 TB exact swaps for approx_percentile under the "
        "agg_approx_quantiles error contract"
    ),
)
def impute_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("na|"), F.col("event_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    tagged = ev.select(
        "event_type",
        dround(F.col("value") * 100, 0).cast("bigint").alias("c"),
        (h % 7 == 0).alias("missing"),
    )
    st = tagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("missing"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_imputed"),
        F.sum(F.when(F.col("missing"), 0).otherwise(F.col("c")))
        .cast("bigint")
        .alias("sum_present"),
        F.expr("percentile(CASE WHEN missing THEN NULL ELSE c END, 0.5)").alias(
            "med"
        ),
    )
    return st.select(
        "event_type",
        "n",
        "n_imputed",
        dround(F.col("med") / 100.0, 4).alias("fill_value"),
        dround(
            (F.col("sum_present") + F.col("n_imputed") * F.col("med"))
            / (F.lit(100.0) * F.col("n")),
            4,
        ).alias("mean_after"),
    )


_ERASE_SQL = """
WITH del_cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
aff_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
),
c AS (
  SELECT 'customer' AS tbl, COUNT(*) AS n_total,
         SUM(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS n_erase
  FROM customer
),
o AS (
  SELECT 'orders', COUNT(*),
         SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM del_cust)
             THEN 1 ELSE 0 END)
  FROM orders
),
l AS (
  SELECT 'lineitem', COUNT(*),
         SUM(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM aff_orders)
             THEN 1 ELSE 0 END)
  FROM lineitem
)
SELECT tbl, CAST(n_total AS BIGINT) AS n_total,
       CAST(n_erase AS BIGINT) AS n_erase,
       ROUND(CAST(n_erase AS DOUBLE) / n_total, 6) AS erase_rate
FROM (SELECT * FROM c UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l)
"""


@register(
    "privacy_erasure_cascade",
    _ERASE_SQL,
    doc=(
        "right-to-erasure cascade audit: a deterministic delete list "
        "of customers (custkey % 97) propagates along the FK chain "
        "customer -> orders -> lineitem, and the audit reports per "
        "table how many rows the erasure touches before anything is "
        "deleted — the dry-run every GDPR pipeline wants ahead of a "
        "destructive MERGE DELETE (which cdc_apply / merge_idempotent "
        "already exercise). Membership is a left-join flag summed in "
        "the same scan that counts the table, so each hop costs one "
        "join + one aggregate; the delete list is ~1% of customers "
        "and the affected-order keyset ~1% of orders — both sides "
        "AQE-sized (no forced broadcast: at 100 TB the affected "
        "keysets outgrow a broadcast and become shuffle joins, which "
        "is the correct plan)"
    ),
)
def privacy_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    del_cust = cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    # two consumers (the orders audit row AND aff_orders feeding the
    # lineitem hop) — materialize once or the orders⟕delete-list join
    # runs twice per action (repo two-consumer checkpoint policy)
    ord_flag = pin(orders.join(
        del_cust, orders["o_custkey"] == del_cust["c_custkey"], "left"
    ))
    aff_orders = ord_flag.filter(F.col("c_custkey").isNotNull()).select(
        "o_orderkey"
    )
    li_flag = li.join(
        aff_orders.withColumnRenamed("o_orderkey", "k"),
        li["l_orderkey"] == F.col("k"),
        "left",
    )

    def audit(flagged: DataFrame, flag_col: str, name: str) -> DataFrame:
        return flagged.agg(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.when(F.col(flag_col).isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_erase"),
        )

    c_audit = cust.agg(
        F.lit("customer").alias("tbl"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("c_custkey") % 97 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_erase"),
    )
    out = c_audit.unionByName(audit(ord_flag, "c_custkey", "orders")).unionByName(
        audit(li_flag, "k", "lineitem")
    )
    return out.select(
        "tbl",
        "n_total",
        "n_erase",
        dround(F.col("n_erase").cast("double") / F.col("n_total"), 6).alias(
            "erase_rate"
        ),
    )


_BOOT_B = 200  # resamples
_BOOT_LO = 5  # rank of the 2.5% bound in the sorted 200 means
_BOOT_HI = 195  # rank of the 97.5% bound

_BOOT_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS c
  FROM events GROUP BY 1
),
idx AS (
  SELECT day, c, ROW_NUMBER() OVER (ORDER BY day) - 1 AS i,
         COUNT(*) OVER () AS n
  FROM daily
),
grid AS (
  SELECT b.b, s.i AS slot, s.n,
         ('0x' || substr(md5('bs|' || CAST(b.b AS VARCHAR) || '|' ||
                              CAST(s.i AS VARCHAR)), 1, 8))::BIGINT
           % s.n AS draw
  FROM range({_BOOT_B}) b(b) CROSS JOIN idx s
),
means AS (
  SELECT g.b, SUM(d.c) * 1.0 / MAX(g.n) AS m
  FROM grid g JOIN idx d ON d.i = g.draw
  GROUP BY g.b
),
ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM means
),
pt AS (SELECT SUM(c) * 1.0 / COUNT(*) AS m0 FROM daily)
SELECT ROUND(pt.m0 / 100.0, 4) AS mean_daily,
       ROUND(lo.m / 100.0, 4) AS ci_lo,
       ROUND(hi.m / 100.0, 4) AS ci_hi
FROM pt
CROSS JOIN (SELECT m FROM ranked WHERE rn = {_BOOT_LO}) lo
CROSS JOIN (SELECT m FROM ranked WHERE rn = {_BOOT_HI}) hi
"""


@register(
    "stats_bootstrap_ci",
    _BOOT_SQL,
    doc=(
        f"bootstrap 95% confidence interval for the mean daily value: "
        f"{_BOOT_B} resamples of the 30-day reduced frame, each draw "
        "an md5-integer index modulo n (engine-reproducible, no RNG — "
        "the sample_importance discipline), resample means ranked and "
        f"the CI read at fixed ranks {_BOOT_LO}/{_BOOT_HI} with a "
        "deterministic (mean, b) tie order. The expensive reduction "
        "(raw events -> daily totals) happens ONCE; the resampling "
        "grid is B x n = 6000 rows of integer arithmetic over the "
        "already-reduced frame, so at 100 TB the bootstrap costs the "
        "same one scan as the point estimate plus an O(B*n) shuffle "
        "of integers — resampling-as-query, never a driver loop. "
        "Integer-cents sums keep every resample mean exactly "
        "sum/n on both engines"
    ),
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(dround(F.col("value") * 100, 0).cast("bigint")).alias("c")
    )
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    idx = pin(daily.select(
        "day",
        "c",
        (F.row_number().over(W.orderBy("day")) - 1).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    ))  # two consumers: grid + draw join
    bs = spark.range(_BOOT_B).select(F.col("id").alias("b"))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("bs|"),
                    F.col("b").cast("string"),
                    F.lit("|"),
                    F.col("i").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    grid = bs.crossJoin(idx.select("i", "n")).select(
        "b", "n", (h % F.col("n")).alias("draw")
    )
    means = (
        grid.join(
            idx.select(F.col("i").alias("draw"), F.col("c").alias("dc")), "draw"
        )
        .groupBy("b")
        .agg((F.sum("dc") * F.lit(1.0) / F.max("n")).alias("m"))
    )
    ranked = means.select(
        "m", F.row_number().over(W.orderBy("m", "b")).alias("rn")
    )
    # point estimate from the already-checkpointed idx — computing it
    # from `daily` would re-scan and re-reduce the raw events a second
    # time (the doc's one-scan claim)
    pt = idx.agg(
        (F.sum("c") * F.lit(1.0) / F.count(F.lit(1))).alias("m0")
    )
    lo = ranked.filter(F.col("rn") == _BOOT_LO).select(F.col("m").alias("m_lo"))
    hi = ranked.filter(F.col("rn") == _BOOT_HI).select(F.col("m").alias("m_hi"))
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            dround(F.col("m0") / 100.0, 4).alias("mean_daily"),
            dround(F.col("m_lo") / 100.0, 4).alias("ci_lo"),
            dround(F.col("m_hi") / 100.0, 4).alias("ci_hi"),
        )
    )


_TT_ASOF = 7  # the AS OF cut: apply only changes with change_seq <= 7

_TT_SQL = f"""
WITH snap AS (
  SELECT o_orderkey AS k, ROUND(o_totalprice, 2) AS price, o_orderstatus AS status
  FROM orders
),
log AS (
  SELECT k, 'U' AS op, ROUND(price + 1000, 2) AS price, status,
         k % 7 AS seq
  FROM snap WHERE k % 10 = 0
  UNION ALL
  SELECT k, 'U', ROUND(price + 2000, 2), status, k % 7 + 5 FROM snap WHERE k % 10 = 0
  UNION ALL
  SELECT k, 'D', NULL, NULL, k % 13 FROM snap WHERE k % 10 = 1
  UNION ALL
  SELECT k + 100000000, 'I', ROUND(k * 0.01, 2), 'N', k % 13 FROM snap WHERE k % 10 = 2
),
cut AS (SELECT * FROM log WHERE seq <= {_TT_ASOF}),
latest AS (
  SELECT k, op, price, status FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM cut) t
  WHERE rn = 1
)
SELECT s.k, s.price, s.status
FROM snap s LEFT JOIN latest l ON l.k = s.k
WHERE l.k IS NULL
UNION ALL
SELECT k, price, status FROM latest WHERE op <> 'D'
"""


@register(
    "cdc_time_travel",
    _TT_SQL,
    doc=(
        f"CDC time travel: reconstruct the table AS OF change-sequence "
        f"{_TT_ASOF} from a snapshot plus an ordered change log with "
        "MULTIPLE versions per key — filter the log to seq <= T, keep "
        "the latest surviving version per key (one row_number window "
        "over the filtered log, which is change-sized, never "
        "snapshot-sized), then the cdc_apply anti-join/append shape: "
        "unchanged snapshot rows pass through, latest non-delete "
        "versions replace, latest deletes suppress. Exercises what "
        "cdc_apply (latest state only) cannot: a key whose first "
        "update is inside the cut and second update beyond it must "
        "resurface the FIRST update; a delete sequenced after T must "
        "NOT delete. The log derives deterministically from the "
        "snapshot (the cdc_apply fixture pattern) with distinct seq "
        "values per key, so latest-per-key is unambiguous on both "
        "engines. At scale: log filter + window cost O(changes); the "
        "snapshot is touched by one join keyed on the (small) "
        "affected-key set"
    ),
)
def cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    snap = orders.select(
        F.col("o_orderkey").alias("k"),
        dround(F.col("o_totalprice"), 2).alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    # base columns renamed first: a same-select alias of "k"/"price"
    # can shadow the input column in the expression that reads it
    # (the _emb_augmented alias-shadowing trap) — bk/bp are unambiguous.
    # Loud precondition on the +1e8 synthetic-insert offset: snapshot
    # keys at or above it would make fabricated inserts COLLIDE with
    # real keys and silently overwrite them (both engines would agree,
    # so the hash match could never catch it) — raise instead; larger
    # corpora re-derive the fixture with a wider offset.
    k_ok = F.when(
        F.col("k") >= 100000000,
        F.raise_error(
            F.lit(
                "cdc_time_travel: snapshot key >= 1e8 collides with the "
                "synthetic insert-key offset; widen the offset"
            )
        ).cast("bigint"),
    ).otherwise(F.col("k"))
    base = snap.select(
        k_ok.alias("bk"), F.col("price").alias("bp"), "status"
    )
    u1 = base.filter(F.col("bk") % 10 == 0).select(
        F.col("bk").alias("k"),
        F.lit("U").alias("op"),
        dround(F.col("bp") + 1000, 2).alias("price"),
        "status",
        (F.col("bk") % 7).alias("seq"),
    )
    u2 = base.filter(F.col("bk") % 10 == 0).select(
        F.col("bk").alias("k"),
        F.lit("U").alias("op"),
        dround(F.col("bp") + 2000, 2).alias("price"),
        "status",
        (F.col("bk") % 7 + 5).alias("seq"),
    )
    dels = base.filter(F.col("bk") % 10 == 1).select(
        F.col("bk").alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("price"),
        F.lit(None).cast("string").alias("status"),
        (F.col("bk") % 13).alias("seq"),
    )
    ins = base.filter(F.col("bk") % 10 == 2).select(
        (F.col("bk") + 100000000).alias("k"),
        F.lit("I").alias("op"),
        dround(F.col("bk") * 0.01, 2).alias("price"),
        F.lit("N").alias("status"),
        (F.col("bk") % 13).alias("seq"),
    )
    log = u1.unionByName(u2).unionByName(dels).unionByName(ins)
    asof = log.filter(F.col("seq") <= _TT_ASOF)
    wk = W.partitionBy("k").orderBy(F.col("seq").desc())
    latest = (
        asof.select("k", "op", "price", "status", F.row_number().over(wk).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    untouched = snap.join(
        latest.select(F.col("k").alias("lk")), snap["k"] == F.col("lk"), "left"
    ).filter(F.col("lk").isNull()).select("k", "price", "status")
    return untouched.unionByName(
        latest.filter(F.col("op") != "D").select("k", "price", "status")
    )


# ---------------------------------------------------------------------------
# Wave 24: boolean retrieval over posting lists
# ---------------------------------------------------------------------------

_BOOL_ALL = ("data", "merge")  # every term required
_BOOL_ANY = ("spark", "window")  # at least one required
_BOOL_NOT = ("slow",)  # excluded

_BOOL_SQL = f"""
WITH terms AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
),
hits AS (
  SELECT doc_id,
         COUNT(DISTINCT CASE WHEN term IN ('data', 'merge')
                             THEN term END) AS n_all,
         COUNT(DISTINCT CASE WHEN term IN ('spark', 'window')
                             THEN term END) AS n_any,
         COUNT(DISTINCT CASE WHEN term IN ('slow')
                             THEN term END) AS n_not,
         array_to_string(list_sort(list(DISTINCT CASE WHEN term IN
           ('spark', 'window') THEN term END)), ',') AS any_matched
  FROM terms GROUP BY doc_id
)
SELECT doc_id, any_matched
FROM hits
WHERE n_all = {len(_BOOL_ALL)} AND n_any >= 1 AND n_not = 0
"""


@register(
    "text_boolean_retrieval",
    _BOOL_SQL,
    doc=(
        "boolean posting-list retrieval — the AND/OR/NOT query model "
        "under every lexical search engine, beside text_phrase_search "
        "(positional adjacency) and text_bm25 (ranked): docs matching "
        "ALL of {data, merge} AND ANY of {spark, window} AND NOT "
        "{slow}. The explode reduces immediately to distinct "
        "(doc, term) rows FILTERED to the five query terms (at scale "
        "this is the pre-built inverted index scanned by term — the "
        "filter IS the posting-list fetch), then ONE conditional "
        "aggregation per doc evaluates all three clauses as integer "
        "distinct-counts: AND = count equals clause size, OR = count "
        "≥ 1, NOT = count = 0. No self-joins, no per-clause passes; "
        "the matched OR-terms come from the same aggregation as a "
        "sorted csv"
    ),
)
def text_boolean_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    all_q = list(_BOOL_ALL + _BOOL_ANY + _BOOL_NOT)
    terms = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term").isin(all_q))
        .distinct()
    )
    t = F.col("term")
    hits = terms.groupBy("doc_id").agg(
        F.count_distinct(F.when(t.isin(list(_BOOL_ALL)), t)).alias("n_all"),
        F.count_distinct(F.when(t.isin(list(_BOOL_ANY)), t)).alias("n_any"),
        F.count_distinct(F.when(t.isin(list(_BOOL_NOT)), t)).alias("n_not"),
        F.array_join(
            F.array_sort(F.collect_set(F.when(t.isin(list(_BOOL_ANY)), t))), ","
        ).alias("any_matched"),
    )
    return hits.filter(
        (F.col("n_all") == len(_BOOL_ALL))
        & (F.col("n_any") >= 1)
        & (F.col("n_not") == 0)
    ).select("doc_id", "any_matched")


# ---------------------------------------------------------------------------
# Wave 24: pre-join fan-out audit (cardinality-explosion estimator)
# ---------------------------------------------------------------------------

_FANOUT_SQL = """
WITH sides AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY user_id
),
contrib AS (
  SELECT user_id, n_view, n_purchase,
         CAST(n_view AS BIGINT) * n_purchase AS pairs
  FROM sides
),
tot AS (
  SELECT CAST(SUM(pairs) AS BIGINT) AS total_pairs,
         CAST(SUM(n_view) AS BIGINT) AS total_view,
         CAST(SUM(n_purchase) AS BIGINT) AS total_purchase,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM contrib
)
SELECT c.user_id, CAST(c.n_view AS BIGINT) AS n_view,
       CAST(c.n_purchase AS BIGINT) AS n_purchase,
       c.pairs,
       t.total_pairs, t.n_keys,
       ROUND(c.pairs * 1.0 / t.total_pairs, 6) AS share,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT c.*, row_number() OVER (
    ORDER BY c.pairs DESC, c.user_id
  ) AS rnk
  FROM contrib c
) c CROSS JOIN tot t
WHERE rnk <= 10 AND c.pairs > 0
"""


@register(
    "audit_join_fanout",
    _FANOUT_SQL,
    doc=(
        "pre-join cardinality-explosion audit — the planning pass you "
        "run BEFORE a key join that might blow up (here the view× "
        "purchase per-user enrich, the stream_stream_join shape): "
        "per-key counts of both sides reduce in ONE conditional "
        "aggregation, the exact output size Σ n_a·n_b is pure int64, "
        "and the top-10 contributing keys (with their share of total "
        "pairs) name exactly which keys need the salting/cap "
        "treatment. profile_skew_report diagnoses one side's row "
        "skew; this audits the JOIN PRODUCT — the number that "
        "actually explodes. The window is a TakeOrdered top-k, never "
        "a global sort"
    ),
)
def audit_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ticks(spark, sf_dir)
    sides = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchase"
        ),
    )
    contrib = sides.select(
        "user_id",
        "n_view",
        "n_purchase",
        (F.col("n_view").cast("bigint") * F.col("n_purchase")).alias("pairs"),
    )
    tot = contrib.agg(
        F.sum("pairs").cast("bigint").alias("total_pairs"),
        F.sum("n_view").cast("bigint").alias("total_view"),
        F.sum("n_purchase").cast("bigint").alias("total_purchase"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
    )
    w = W.orderBy(F.col("pairs").desc(), "user_id")
    top = (
        contrib.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= 10) & (F.col("pairs") > 0))
        .crossJoin(F.broadcast(tot.select("total_pairs", "n_keys")))
    )
    return top.select(
        "user_id",
        F.col("n_view").cast("bigint").alias("n_view"),
        F.col("n_purchase").cast("bigint").alias("n_purchase"),
        "pairs",
        "total_pairs",
        "n_keys",
        dround(F.col("pairs") * F.lit(1.0) / F.col("total_pairs"), 6).alias("share"),
        F.col("rnk").cast("int").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# Wave 24: burst-episode detection (volume anomaly islands)
# ---------------------------------------------------------------------------

_BURST_SQL = """
WITH daily0 AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
daily AS (
  -- fixture augmentation (the _PII_AUG precedent): the synthetic
  -- corpus's daily volume is too smooth to burst organically at
  -- sf >= 0.01, so md5-selected days (~19%) get a deterministic 5x
  -- boost on BOTH engines before the detector runs
  SELECT event_type, day,
         CASE WHEN substring(md5('burst|' || event_type || '|' ||
                     strftime(day, '%Y-%m-%d')), 1, 1) < '3'
              THEN c * 5 ELSE c END AS c
  FROM daily0
),
framed AS (
  SELECT event_type, day, c,
         SUM(c) OVER w AS s7, COUNT(*) OVER w AS n7
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
),
bursts AS (
  SELECT event_type, day, c,
         date_diff('day', DATE '1970-01-01', day)
           - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS grp
  FROM framed
  WHERE n7 = 7 AND c * 7 > 2 * s7
)
SELECT event_type,
       MIN(day) AS start_day, MAX(day) AS end_day,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(c) AS BIGINT) AS peak_count,
       arg_max(day, c * 1000000 - date_diff('day', DATE '1970-01-01', day))
         AS peak_day
FROM bursts
GROUP BY event_type, grp
"""


@register(
    "events_burst_episodes",
    _BURST_SQL,
    doc=(
        "burst-episode detection (Kleinberg-lite volume anomaly): a "
        "day bursts when its count exceeds 2× the trailing 7-day "
        "average — evaluated as the integer cross-multiply 7c > 2·Σ7 "
        "over an EXCLUSIVE trailing frame (rows -7..-1, so the burst "
        "day never inflates its own baseline; warm-up days drop via "
        "the frame count), and consecutive burst days fuse into "
        "EPISODES via the epoch-day-minus-row-number island key "
        "(events_streaks' device pointed at anomalies instead of "
        "activity). Per-episode start/end/length/peak aggregate in "
        "one pass; the peak DAY ties deterministically to the "
        "earliest max via an integer composite arg_max key. Both "
        "windows run over the reduced O(days·types) frame. The "
        "synthetic corpus's volume is too smooth to burst organically "
        "past sf0.001, so md5-selected days carry a deterministic 5× "
        "boost on both engines (the fixture-augmentation contract) — "
        "the detector itself is untouched"
    ),
)
def events_burst_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily0 = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # fixture augmentation — see the oracle comment: deterministic 5x
    # boost on md5-selected days, identical on both engines
    boost = F.substring(
        F.md5(
            F.concat(
                F.lit("burst|"),
                F.col("event_type"),
                F.lit("|"),
                F.date_format("day", "yyyy-MM-dd"),
            )
        ),
        1,
        1,
    ) < "3"
    daily = daily0.select(
        "event_type",
        "day",
        F.when(boost, F.col("c") * 5).otherwise(F.col("c")).alias("c"),
    )
    w7 = W.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    framed = daily.select(
        "event_type",
        "day",
        "c",
        F.sum("c").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    )
    wr = W.partitionBy("event_type").orderBy("day")
    epoch_day = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    bursts = framed.filter(
        (F.col("n7") == 7) & (F.col("c") * 7 > F.lit(2) * F.col("s7"))
    ).select(
        "event_type",
        "day",
        "c",
        (epoch_day - F.row_number().over(wr)).alias("grp"),
    )
    return (
        bursts.groupBy("event_type", "grp")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.max("c").cast("bigint").alias("peak_count"),
            F.max_by(
                "day",
                F.col("c") * F.lit(1000000)
                - F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")),
            ).alias("peak_day"),
        )
        .drop("grp")
    )


# ---------------------------------------------------------------------------
# Wave 26: content-defined chunking dedup (the storage-dedup operator)
# ---------------------------------------------------------------------------

# Fixture augmentation (the _LINE_AUG precedent): the synthetic corpus
# has no repeated passages, so md5-selected docs (~25%) get the SAME
# 48-token boilerplate tail on BOTH engines. Content-defined chunking
# must then re-discover identical interior chunks across those docs
# even though every doc's preceding content differs — the shift-
# robustness property that makes CDC the storage-dedup primitive.
_CDC_TAIL = " ".join(
    ["spark merge data window batch stream the fast key order"] * 4
    + ["table scan join filter sort agg"]
)  # 46 tokens; expected chunk size 16 → ~3 interior boundaries

_CDC_MOD = 16  # boundary when md5(4-gram) % 16 == 0


_CDC_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN substring(md5('cdc|' || CAST(doc_id AS VARCHAR)), 1, 1)
                   < '4'
              THEN text || ' ' || '{_CDC_TAIL}' ELSE text END AS text
  FROM documents
),
toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM aug
),
pos AS (
  SELECT doc_id, ts, generate_subscripts(ts, 1) AS p, unnest(ts) AS tok
  FROM toks
),
flagged AS (
  SELECT doc_id, p, tok,
         CASE WHEN p = 1 OR
              (('0x' || substring(md5(array_to_string(
                   ts[p:LEAST(p + 3, len(ts))], ' ')), 1, 8))::BIGINT
               % {_CDC_MOD}) = 0
         THEN 1 ELSE 0 END AS boundary
  FROM pos
),
chunked AS (
  SELECT doc_id, p, tok,
         SUM(boundary) OVER (PARTITION BY doc_id ORDER BY p) AS chunk_idx
  FROM flagged
),
chunks AS (
  SELECT doc_id, chunk_idx,
         md5(string_agg(tok, ' ' ORDER BY p)) AS chunk_hash,
         COUNT(*) AS n_tok
  FROM chunked GROUP BY doc_id, chunk_idx
),
corpus AS (
  SELECT chunk_hash, COUNT(*) AS n_occ FROM chunks GROUP BY chunk_hash
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(c.n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN co.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_chunks,
       ROUND(SUM(CASE WHEN co.n_occ > 1 THEN c.n_tok ELSE 0 END) * 1.0
             / SUM(c.n_tok), 4) AS dup_token_share
FROM chunks c JOIN corpus co ON co.chunk_hash = c.chunk_hash
GROUP BY c.doc_id
"""


@register(
    "dedup_content_chunking",
    _CDC_SQL,
    doc=(
        "content-defined chunking dedup — the rsync/LBFS storage-"
        "dedup primitive beside dedup_substring's fixed-stride "
        "windows: chunk boundaries fall where md5(4-gram) ≡ 0 mod "
        f"{_CDC_MOD} (expected ~16-token chunks), so IDENTICAL "
        "passages chunk identically regardless of how much unrelated "
        "content precedes them — the shift-robustness fixed-stride "
        "schemes lack, proven here by the md5-selected docs sharing "
        "one boilerplate tail behind different prefixes (fixture-"
        "augmentation contract) whose interior chunks deduplicate "
        "across the corpus. Pipeline: one positional explode (rows, "
        "not array-append prefix sums — the winnowing O(m²) lesson), "
        "boundary flags map-side, chunk ids via ONE cumulative window "
        "per doc, ordered struct-sort reassembly per chunk, corpus "
        "chunk counts by hash, per-doc dup share with ONE division. "
        "Every stage keys on doc or chunk-hash — linear at any scale"
    ),
)
def dedup_content_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.substring(
                F.md5(F.concat(F.lit("cdc|"), F.col("doc_id").cast("string"))), 1, 1
            )
            < "4",
            F.concat(F.col("text"), F.lit(" " + _CDC_TAIL)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = aug.select("doc_id", F.split("text", " ").alias("ts"))
    pos = toks.select(
        "doc_id", "ts", F.posexplode("ts").alias("p0", "tok")
    ).select("doc_id", "ts", (F.col("p0") + 1).alias("p"), "tok")
    gram = F.array_join(
        F.slice(
            F.col("ts"),
            F.col("p"),
            F.least(F.lit(4), F.size("ts") - F.col("p") + 1),
        ),
        " ",
    )
    hash_mod = (
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("bigint") % _CDC_MOD
    )
    flagged = pos.select(
        "doc_id",
        "p",
        "tok",
        F.when((F.col("p") == 1) | (hash_mod == 0), 1).otherwise(0).alias("boundary"),
    )
    wc = W.partitionBy("doc_id").orderBy("p")
    chunked = flagged.select(
        "doc_id", "p", "tok", F.sum("boundary").over(wc).alias("chunk_idx")
    )
    chunks = chunked.groupBy("doc_id", "chunk_idx").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            )
        ).alias("chunk_hash"),
        F.count(F.lit(1)).alias("n_tok"),
    )
    corpus = chunks.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("n_occ"))
    dup = F.col("n_occ") > 1
    return (
        chunks.join(corpus, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum(F.when(dup, 1).otherwise(0)).cast("bigint").alias("dup_chunks"),
            dround(
                F.sum(F.when(dup, F.col("n_tok")).otherwise(0))
                * F.lit(1.0)
                / F.sum("n_tok"),
                4,
            ).alias("dup_token_share"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 28: dynamic partition pruning witness
# ---------------------------------------------------------------------------

_DPP_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
dim AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
  WHERE CAST(strftime(date_trunc('day', ts), '%d') AS INT) <= 3
)
SELECT d.day, daily.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(daily.cents) AS BIGINT) AS cents
FROM daily JOIN dim d ON d.day = daily.day
GROUP BY d.day, daily.event_type
"""


@register(
    "layout_dpp_join",
    _DPP_SQL,
    doc=(
        "dynamic partition pruning — the runtime sibling of "
        "sim_ann_index_scan's static PartitionFilters: the fact table "
        "is REWRITTEN partitioned by day (idempotent overwrite into "
        "the local warehouse; at scale the same partitionBy on an "
        "object store), then joined to a small filtered day-dim. "
        "Catalyst injects a dynamicpruning#N subquery into the fact "
        "scan so only the dim's surviving days are ever READ — the "
        "10-TB-fact × tiny-dim shape where DPP is the difference "
        "between scanning 3 partitions and scanning all of them. "
        "tests/test_plan_quality.py gates dynamicpruning/ "
        "PartitionFilters present in the executed plan; the oracle "
        "computes the same join on the raw table, proving the "
        "partitioned rewrite is lossless"
    ),
)
def layout_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_type",
        dround(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    path = scratch_dir(spark, "layout_dpp_join")
    daily.write.mode("overwrite").partitionBy("day").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        ev.select(F.date_trunc("day", "ts").cast("date").alias("day"))
        .distinct()
        .filter(F.dayofmonth("day") <= 3)
    )
    return (
        fact.join(dim.hint("broadcast"), "day")
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 28: interpolated bigram LM scoring
# ---------------------------------------------------------------------------

_LM2_LAMBDA = 0.75  # interpolation weight on the bigram term

_LM2_SQL = f"""
WITH pos AS (
  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS p,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
uni AS (SELECT tok, COUNT(*) AS c FROM pos GROUP BY tok),
n AS (SELECT COUNT(*) AS n_tok FROM pos),
big AS (
  SELECT a.doc_id, a.p, b.tok AS prev, a.tok
  FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p - 1
),
bigc AS (SELECT prev, tok, COUNT(*) AS c2 FROM big GROUP BY prev, tok),
scored AS (
  SELECT g.doc_id,
         CAST(FLOOR(({_LM2_LAMBDA} * c2.c2 / cp.c
                     + {1 - _LM2_LAMBDA} * cw.c / n.n_tok) * 1000000000)
              AS BIGINT) AS s
  FROM big g
  JOIN bigc c2 ON c2.prev = g.prev AND c2.tok = g.tok
  JOIN uni cp ON cp.tok = g.prev
  JOIN uni cw ON cw.tok = g.tok
  CROSS JOIN n
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(s) AS BIGINT) AS sum_ppb,
       ROUND(SUM(s) * 1.0 / COUNT(*) / 1000000000, 6) AS avg_prob
FROM scored GROUP BY doc_id
"""


@register(
    "text_bigram_lm_score",
    _LM2_SQL,
    doc=(
        "interpolated bigram LM quality scoring — the order-2 upgrade "
        "of text_lm_quality's unigram model: each bigram occurrence "
        "scores λ·c(w₂|w₁)/c(w₁) + (1−λ)·c(w₂)/N and the per-doc "
        "aggregate is computed over INTEGER ppb scores (floor of a "
        "fixed IEEE chain over exact corpus counts — the interpolated "
        "probability is bit-identical on both engines, and summation "
        "after the floor can never reorder-drift). Bigrams come from "
        "a positional self-join on (doc, p-1); the count tables are "
        "vocabulary- and vocab²-bounded broadcasts here — at open-"
        "vocabulary scale the same joins run as shuffle joins on the "
        "token/bigram keys with identical semantics. One division at "
        "emit"
    ),
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # consumers: unigram counts, total, both self-join sides
    pos = pin(
        docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("p0", "tok"))
        .select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    )
    uni = pos.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = pos.agg(F.count(F.lit(1)).alias("n_tok"))
    a = pos.select("doc_id", "p", "tok")
    b = pos.select(
        F.col("doc_id").alias("doc_id"), (F.col("p") + 1).alias("p"), F.col("tok").alias("prev")
    )
    big = a.join(b, ["doc_id", "p"])
    bigc = big.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("c2"))
    cp = uni.select(F.col("tok").alias("prev"), F.col("c").alias("c_prev"))
    cw = uni.select("tok", F.col("c").alias("c_tok"))
    s = F.floor(
        (
            F.lit(_LM2_LAMBDA) * F.col("c2") / F.col("c_prev")
            + F.lit(1 - _LM2_LAMBDA) * F.col("c_tok") / F.col("n_tok")
        )
        * F.lit(1000000000)
    ).cast("bigint")
    scored = (
        big.join(F.broadcast(bigc), ["prev", "tok"])
        .join(F.broadcast(cp), "prev")
        .join(F.broadcast(cw), "tok")
        .crossJoin(F.broadcast(n))
        .select("doc_id", s.alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("s").cast("bigint").alias("sum_ppb"),
        dround(
            F.sum("s") * F.lit(1.0) / F.count(F.lit(1)) / F.lit(1000000000), 6
        ).alias("avg_prob"),
    )


# ---------------------------------------------------------------------------
# Wave 28: Haar wavelet block transform
# ---------------------------------------------------------------------------

_HAAR_PIV = ",\n         ".join(
    f"MAX(CASE WHEN slot = {i} THEN close_c END) AS a{i}" for i in range(8)
)

_HAAR_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         arg_max(CAST(ROUND(value * 100, 0) AS BIGINT),
                 lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                 || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS close_c
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
slotted AS (
  SELECT event_type, day, close_c,
         date_diff('day', DATE '1970-01-01', day) // 8 AS blk,
         date_diff('day', DATE '1970-01-01', day) % 8 AS slot
  FROM daily
),
piv AS (
  SELECT event_type, blk, MIN(day) AS block_start, COUNT(*) AS n8,
         {_HAAR_PIV}
  FROM slotted GROUP BY event_type, blk
)
SELECT event_type, block_start,
       CAST(a0+a1+a2+a3+a4+a5+a6+a7 AS BIGINT) AS approx_c,
       CAST((a0+a1+a2+a3) - (a4+a5+a6+a7) AS BIGINT) AS d1_c,
       CAST((a0+a1) - (a2+a3) AS BIGINT) AS d2a_c,
       CAST((a4+a5) - (a6+a7) AS BIGINT) AS d2b_c,
       CAST(a0-a1 AS BIGINT) AS d3a_c, CAST(a2-a3 AS BIGINT) AS d3b_c,
       CAST(a4-a5 AS BIGINT) AS d3c_c, CAST(a6-a7 AS BIGINT) AS d3d_c
FROM piv
WHERE n8 = 8
"""


@register(
    "events_haar_transform",
    _HAAR_SQL,
    doc=(
        "unnormalized Haar wavelet transform of the daily close "
        "series in 8-day blocks — the multiresolution decomposition "
        "under time-series compression and multi-scale anomaly "
        "detection: one approximation + 3 detail levels per block, "
        "all EXACT int64-cents integer combinations (the unnormalized "
        "basis needs no √2 — the transform is losslessly invertible "
        "by integer arithmetic alone, so both engines agree bit-for-"
        "bit). The 8 slots pivot via conditional MAX in ONE "
        "aggregation over the reduced daily frame (epoch-day mod 8 "
        "slotting — calendar-aligned, data-independent blocks); "
        "partial blocks drop via the integer slot count. O(days) in, "
        "O(days/8) out"
    ),
)
def events_haar_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_close(spark, sf_dir)
    epoch = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    slotted = daily.select(
        "event_type",
        "day",
        "close_c",
        (epoch / 8).cast("bigint").alias("blk"),
        (epoch % 8).alias("slot"),
    )
    aggs = [F.min("day").alias("block_start"), F.count(F.lit(1)).alias("n8")]
    for i in range(8):
        aggs.append(F.max(F.when(F.col("slot") == i, F.col("close_c"))).alias(f"a{i}"))
    piv = slotted.groupBy("event_type", "blk").agg(*aggs).filter(F.col("n8") == 8)
    a = [F.col(f"a{i}") for i in range(8)]
    return piv.select(
        "event_type",
        "block_start",
        (a[0] + a[1] + a[2] + a[3] + a[4] + a[5] + a[6] + a[7])
        .cast("bigint")
        .alias("approx_c"),
        ((a[0] + a[1] + a[2] + a[3]) - (a[4] + a[5] + a[6] + a[7]))
        .cast("bigint")
        .alias("d1_c"),
        ((a[0] + a[1]) - (a[2] + a[3])).cast("bigint").alias("d2a_c"),
        ((a[4] + a[5]) - (a[6] + a[7])).cast("bigint").alias("d2b_c"),
        (a[0] - a[1]).cast("bigint").alias("d3a_c"),
        (a[2] - a[3]).cast("bigint").alias("d3b_c"),
        (a[4] - a[5]).cast("bigint").alias("d3c_c"),
        (a[6] - a[7]).cast("bigint").alias("d3d_c"),
    )


# ---------------------------------------------------------------------------
# Wave 29: interval union / coverage (merge overlapping intervals)
# ---------------------------------------------------------------------------

_COV_SQL = """
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) // 1000000 AS s,
         epoch_us(ts) // 1000000
           + 60 * (1 + CAST(json_extract_string(props, '$.k') AS BIGINT) % 30)
           AS e
  FROM events
),
marked AS (
  SELECT user_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ), -1) THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (
           PARTITION BY user_id ORDER BY s, e
         ) AS island
  FROM marked
),
merged AS (
  SELECT user_id, island, MIN(s) AS cov_s, MAX(e) AS cov_e
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_merged,
       CAST(SUM(cov_e - cov_s) AS BIGINT) AS covered_seconds,
       CAST(MAX(cov_e - cov_s) AS BIGINT) AS longest_seconds
FROM merged GROUP BY user_id
"""


@register(
    "events_interval_coverage",
    _COV_SQL,
    doc=(
        "interval UNION (merge-overlaps) per user — the other classic "
        "interval operator beside events_interval_open_counts' "
        "sweep-line COUNTING: each event opens a session interval "
        "(duration from the props payload, integer seconds), a new "
        "covered span starts exactly when an interval's start clears "
        "the running MAX of all previous ends (one exclusive-frame "
        "cummax window — the islands device generalized to "
        "overlapping ranges), and island aggregation yields merged "
        "span count, total covered time, and the longest span. All "
        "integer epoch-seconds; two windows + one aggregation over "
        "the same user-partitioned exchange — no self-join, no "
        "interval×interval blowup at any scale"
    ),
)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    s = (F.unix_micros("ts") / 1000000).cast("bigint")
    iv = ev.select(
        "user_id",
        s.alias("s"),
        (s + 60 * (1 + k % 30)).alias("e"),
    )
    wprev = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(wprev), F.lit(-1)), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    wrun = W.partitionBy("user_id").orderBy("s", "e")
    islands = marked.select(
        "user_id", "s", "e", F.sum("new_island").over(wrun).alias("island")
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("cov_s"), F.max("e").alias("cov_e")
    )
    span = F.col("cov_e") - F.col("cov_s")
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
        F.sum(span).cast("bigint").alias("covered_seconds"),
        F.max(span).cast("bigint").alias("longest_seconds"),
    )


# ---------------------------------------------------------------------------
# Wave 29: suffix/prefix stitch detection (chunk-boundary artifacts)
# ---------------------------------------------------------------------------

_STITCH_K = 8  # overlap length (tokens) that counts as a stitch joint
_STITCH_CAP = 32  # hot-joint cap: joints seen on > cap docs per side
# are boilerplate, not split artifacts — dropped (the LSH hot-bucket
# discipline; a single viral run must not quadratic-blow the output)

# Fixture augmentation: the corpus has no natural cross-document
# overlaps, so md5-selected docs get an 8-token run APPENDED (group
# A, ~12%) or PREPENDED (group B, ~12%) on both engines — A-docs'
# suffixes then equal B-docs' prefixes, the split-document artifact
# this operator exists to find. The run is BUCKET-PARAMETERIZED
# (16 variants, last token carries the bucket id) so the fixture
# produces many small joints instead of one corpus-wide mega-joint —
# matching the real artifact's shape, where each split point is
# shared by a handful of fragments, not by 12% of the corpus.
_STITCH_RUN7 = "alpha beta gamma delta epsilon zeta eta"  # + ' b<k>'

_STITCH_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN substring(md5('sa|' || CAST(doc_id AS VARCHAR)), 1, 1)
                   IN ('0', '1')
              THEN text || ' {_STITCH_RUN7} b' ||
                   CAST((('0x' || substring(md5('sk|' ||
                     CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16) AS VARCHAR)
              WHEN substring(md5('sb|' || CAST(doc_id AS VARCHAR)), 1, 1)
                   IN ('0', '1')
              THEN '{_STITCH_RUN7} b' ||
                   CAST((('0x' || substring(md5('sk|' ||
                     CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16) AS VARCHAR)
                   || ' ' || text
              ELSE text END AS text
  FROM documents
),
keyed AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM aug
),
edges AS (
  SELECT doc_id,
         md5(array_to_string(ts[1:{_STITCH_K}], ' ')) AS prefix_h,
         md5(array_to_string(ts[len(ts) - {_STITCH_K} + 1:len(ts)], ' '))
           AS suffix_h,
         len(ts) AS n_tok
  FROM keyed
  WHERE len(ts) >= {_STITCH_K}
),
lc AS (SELECT suffix_h AS joint, COUNT(*) AS nl FROM edges GROUP BY 1),
rc AS (SELECT prefix_h AS joint, COUNT(*) AS nr FROM edges GROUP BY 1)
SELECT a.doc_id AS left_doc, b.doc_id AS right_doc,
       CAST(a.n_tok AS BIGINT) AS left_tokens,
       CAST(b.n_tok AS BIGINT) AS right_tokens
FROM edges a
JOIN edges b ON b.prefix_h = a.suffix_h AND b.doc_id <> a.doc_id
JOIN lc ON lc.joint = a.suffix_h
JOIN rc ON rc.joint = a.suffix_h
WHERE lc.nl <= {_STITCH_CAP} AND rc.nr <= {_STITCH_CAP}
"""


@register(
    "dedup_suffix_prefix_stitch",
    _STITCH_SQL,
    doc=(
        f"suffix/prefix stitch detection — finds ordered doc pairs "
        f"where one document's last {_STITCH_K} tokens equal "
        f"another's first {_STITCH_K} (the chunk-boundary artifact "
        "left when a source was split mid-passage; stitch pairs feed "
        "document reassembly or boundary-dedup). Each doc reduces to "
        "TWO md5 edge fingerprints map-side, candidates come from "
        "ONE equi-join suffix-hash = prefix-hash, and joints seen on "
        f"more than {_STITCH_CAP} docs per side are dropped BEFORE "
        "the join (broadcast count filters — the LSH hot-bucket cap: "
        "a viral boilerplate run is not a split artifact, and without "
        "the cap one hot joint makes the output quadratic). "
        "Non-vacuous at every SF via the bucket-parameterized append/"
        "prepend fixture augmentation (identical on both engines)"
    ),
)
def dedup_suffix_prefix_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ga = F.substring(
        F.md5(F.concat(F.lit("sa|"), F.col("doc_id").cast("string"))), 1, 1
    ).isin("0", "1")
    gb = F.substring(
        F.md5(F.concat(F.lit("sb|"), F.col("doc_id").cast("string"))), 1, 1
    ).isin("0", "1")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sk|"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 16
    )
    run = F.concat(F.lit(_STITCH_RUN7 + " b"), bucket.cast("string"))
    aug = docs.select(
        "doc_id",
        F.when(ga, F.concat(F.col("text"), F.lit(" "), run))
        .when(gb, F.concat(run, F.lit(" "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    ts = F.split(F.col("text"), " ")
    keyed = aug.select("doc_id", ts.alias("ts")).filter(F.size("ts") >= _STITCH_K)
    edges = pin(keyed.select(
        "doc_id",
        F.md5(F.array_join(F.slice(F.col("ts"), 1, _STITCH_K), " ")).alias("prefix_h"),
        F.md5(
            F.array_join(
                F.slice(F.col("ts"), F.size("ts") - _STITCH_K + 1, _STITCH_K), " "
            )
        ).alias("suffix_h"),
        F.size("ts").cast("bigint").alias("n_tok"),
    ))  # consumers: both join sides + both
    # hot-joint count frames
    lc = edges.groupBy(F.col("suffix_h").alias("joint")).agg(
        F.count(F.lit(1)).alias("nl")
    )
    rc = edges.groupBy(F.col("prefix_h").alias("joint")).agg(
        F.count(F.lit(1)).alias("nr")
    )
    a = edges.select(
        F.col("doc_id").alias("left_doc"),
        F.col("suffix_h").alias("joint"),
        F.col("n_tok").alias("left_tokens"),
    )
    b = edges.select(
        F.col("doc_id").alias("right_doc"),
        F.col("prefix_h").alias("joint"),
        F.col("n_tok").alias("right_tokens"),
    )
    return (
        a.join(b, "joint")
        .join(F.broadcast(lc), "joint")
        .join(F.broadcast(rc), "joint")
        .filter(
            (F.col("left_doc") != F.col("right_doc"))
            & (F.col("nl") <= _STITCH_CAP)
            & (F.col("nr") <= _STITCH_CAP)
        )
        .select("left_doc", "right_doc", "left_tokens", "right_tokens")
    )


# ---------------------------------------------------------------------------
# Wave 32: incremental connected components (dynamic-graph IVM)
# ---------------------------------------------------------------------------

_CCI_CUTOFF = "1998-01-01"  # base = orders before; delta = on/after

# Node encoding: customers = 2·custkey, suppliers = 2·suppkey+1 —
# the k-core/pagerank int64-encode discipline (CC over int keys,
# measured ~2x vs string ids); labels decode at emit and the
# component id is the decoded min-ENCODED member on both engines.
_CCI_DECODE_SQL = (
    "CASE WHEN {x} % 2 = 0 THEN 'c' || CAST({x} // 2 AS VARCHAR) "
    "ELSE 's' || CAST({x} // 2 AS VARCHAR) END"
)

_CCI_SQL = f"""
WITH RECURSIVE e0 AS (
  SELECT DISTINCT 2 * o_custkey AS a, 2 * l_suppkey + 1 AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
sym AS (SELECT a AS src, b AS dst FROM e0 UNION SELECT b, a FROM e0),
nodes AS (SELECT DISTINCT src AS node FROM sym),
reach AS (
  SELECT src AS node, dst AS r FROM sym
  UNION
  SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src
),
comp AS (
  SELECT n.node,
         LEAST(n.node, COALESCE(MIN(reach.r), n.node)) AS component
  FROM nodes n LEFT JOIN reach ON reach.node = n.node
  GROUP BY n.node
)
SELECT {_CCI_DECODE_SQL.format(x='node')} AS node,
       {_CCI_DECODE_SQL.format(x='component')} AS component
FROM comp
"""


@register(
    "graph_cc_incremental",
    _CCI_SQL,
    doc=(
        "INCREMENTAL connected components — dynamic-graph view "
        "maintenance for the iterative operator family (the graph "
        "sibling of rollup_incremental/join IVM): the customer⇄"
        f"supplier co-purchase graph splits at {_CCI_CUTOFF} into a "
        "base (labeled once by connected_components) and a delta "
        "of NEW edges; instead of relabeling the world, delta edges "
        "CONTRACT to (base-label, base-label) pairs, a second CC runs "
        "on that contracted graph — sized by the DELTA's touched "
        "components, not the corpus — and one remap join produces the "
        "final labels. Because base labels are min-member ids and the "
        "contracted CC again takes min labels, the composition equals "
        "a full recompute EXACTLY (the oracle IS the full-graph "
        "closure; tests/test_analytics_ops pins incremental ≡ full on "
        "the Spark side too). Endpoints unseen in the base enter the "
        "contracted graph as themselves — no special case. Nodes ride "
        "as int64 (2k / 2k+1 bipartite encode, the k-core discipline) "
        "and decode only at emit, so every shuffle and the union-find "
        "kernel carry 8-byte keys instead of strings"
    ),
)
def graph_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cc_incremental_labels(spark, sf_dir, _CCI_CUTOFF)


def cc_incremental_labels(
    spark: SparkSession, sf_dir: str, cutoff: str
) -> DataFrame:
    """The incremental-CC pipeline with a caller-chosen base/delta
    cutoff — the catalog query pins ``_CCI_CUTOFF``; the property test
    varies the cutoff (including empty-base and empty-delta splits)
    and asserts label equality with a one-shot full CC each time,
    pinning the min-label composition argument at EVERY split, not one
    (VERDICT r6 item 8). Runs on the caller's session."""
    from ..operators.graph import connected_components

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges_all = pin(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.lit(2) * F.col("o_custkey")).alias("a"),
            (F.lit(2) * F.col("l_suppkey") + 1).alias("b"),
            (F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")).alias(
                "is_base"
            ),
        )
        .groupBy("a", "b")
        .agg(F.max(F.col("is_base")).alias("is_base"))  # an edge seen in
        # both eras is a base edge — the delta holds strictly NEW pairs;
        # consumers: base CC, delta remap, node frame
    )
    base_e = edges_all.filter(F.col("is_base")).select("a", "b")
    delta_e = edges_all.filter(~F.col("is_base")).select("a", "b")
    lab = connected_components(base_e).select("id", F.col("component").alias("lab"))
    # contract delta edges to base-label pairs; unseen endpoints keep
    # their own id as label
    da = delta_e.join(lab.withColumnRenamed("id", "a"), "a", "left").select(
        F.coalesce(F.col("lab"), F.col("a")).alias("la"), "b"
    )
    dl = da.join(lab.withColumnRenamed("id", "b"), "b", "left").select(
        "la", F.coalesce(F.col("lab"), F.col("b")).alias("lb")
    )
    contracted = dl.filter(F.col("la") != F.col("lb")).distinct()
    small_cc = connected_components(
        contracted.select(F.col("la").alias("a"), F.col("lb").alias("b"))
    ).select(F.col("id").alias("lab"), F.col("component").alias("final_lab"))
    # final labels over ALL nodes: base label (or own id), then the
    # contracted remap where one applies
    all_nodes = (
        edges_all.select(F.col("a").alias("node"))
        .unionByName(edges_all.select(F.col("b").alias("node")))
        .distinct()
    )
    with_base = all_nodes.join(
        lab.withColumnRenamed("id", "node"), "node", "left"
    ).select("node", F.coalesce(F.col("lab"), F.col("node")).alias("lab"))
    enc = with_base.join(F.broadcast(small_cc), "lab", "left").select(
        "node",
        F.coalesce(F.col("final_lab"), F.col("lab")).alias("component"),
    )
    return enc.select(
        decode_purchase_node("node").alias("node"),
        decode_purchase_node("component").alias("component"),
    )


# ---------------------------------------------------------------------------
# Wave 33: bucketed co-join — the zero-shuffle sort-merge join
# ---------------------------------------------------------------------------

_BKJOIN_SQL = """
SELECT o.o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'O'
GROUP BY o.o_custkey
"""


@register(
    "join_bucketed_zero_shuffle",
    _BKJOIN_SQL,
    doc=(
        "co-located bucketed join — BOTH fact tables rewritten "
        "bucketBy(8, orderkey) + sortBy into catalog tables, so the "
        "orders⋈lineitem sort-merge join runs with ZERO Exchange on "
        "either side (plan-gated: no shuffle before the SMJ) — the "
        "bucketing contract that turns the biggest recurring join of "
        "a warehouse into a map-side merge at any scale; bucketed_ma "
        "witnesses the same layout for windows, this is the JOIN "
        "half. Idempotent local-warehouse rewrite per call (the "
        "bucketed_ma discipline); revenue in exact integer cents. "
        "The final groupBy(custkey) still shuffles — only the join "
        "co-location is the claim"
    ),
)
def join_bucketed_zero_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    root = scratch_dir(spark, "join_bucketed_zero_shuffle")
    for tbl, df, key in (
        ("orders_bk", orders, "o_orderkey"),
        ("lineitem_bk", li, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        df.write.mode("overwrite").bucketBy(8, key).sortBy(key).option(
            "path", f"{root}/{tbl}"
        ).saveAsTable(tbl)
    o = spark.table("orders_bk").filter(F.col("o_orderstatus") == "O")
    lb = spark.table("lineitem_bk")
    # hint("merge") pins the SortMergeJoin path: at test SFs AQE would
    # broadcast the filtered orders side and never exercise the
    # co-location; at the 10-TB scale this query models, SMJ is what
    # the planner picks anyway and the hint is a no-op
    return (
        o.hint("merge").join(lb, lb.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(dround(F.col("l_extendedprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Entropy / recursive l-diversity (wave 61)
# ---------------------------------------------------------------------------

_LDIV_ILN2 = 69314718  # round(ln(2) * 1e8) — the entropy-l=2 bar

_LDIV_SQL = f"""
WITH cells AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS sv,
         COUNT(*)::BIGINT AS cs
  FROM customer GROUP BY 1, 2, 3
),
cls AS (
  SELECT c_nationkey, c_mktsegment,
         SUM(cs)::BIGINT AS n,
         COUNT(*)::BIGINT AS distinct_l,
         MAX(cs)::BIGINT AS r1,
         SUM(cs * CAST(ROUND(LN(cs) * 100000000, 0) AS BIGINT))::BIGINT AS slnl
  FROM cells GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, n, distinct_l, r1,
       ROUND((n * CAST(ROUND(LN(n) * 100000000, 0) AS BIGINT) - slnl)
             / (n * CAST(100000000 AS DOUBLE)), 6) AS entropy,
       (n * CAST(ROUND(LN(n) * 100000000, 0) AS BIGINT) - slnl)
         >= n * {_LDIV_ILN2} AS entropy_l2_ok,
       r1 < 2 * (n - r1) AS recursive_c2_ok
FROM cls
"""


@register(
    "privacy_l_diversity",
    _LDIV_SQL,
    doc=(
        "entropy and recursive (c,l)-diversity — the two published "
        "strengthenings of the distinct-count l-diversity that "
        "profile_k_anonymity reports (Machanavajjhala et al.): per "
        "equivalence class (nation, segment QIs; acctbal-thousand "
        "sensitive buckets), entropy H = ln(n) − Σ c_s·ln(c_s)/n on "
        "the 1e-8 integer-ln device — the scaled numerator "
        "n·iln(n) − Σ c_s·iln(c_s) is exact int64, ONE division at "
        "emit, and the H ≥ ln(2) test compares integers (numerator "
        "vs n·iln(2)) so the verdict column is float-free; recursive "
        "(2,2)-diversity is the pure-integer r1 < 2·(n − r1). Both "
        "shuffles are class-bounded: per-(class, sensitive) counts "
        "then per-class reduce — output is |QI-combinations| rows at "
        "any corpus scale"
    ),
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")

    cells = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("sv"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cs"))
    cls = cells.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cs").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_l"),
        F.max("cs").cast("bigint").alias("r1"),
        F.sum(F.col("cs") * iln(F.col("cs"))).cast("bigint").alias("slnl"),
    )
    hs = F.col("n") * iln(F.col("n")) - F.col("slnl")
    return cls.select(
        "c_nationkey",
        "c_mktsegment",
        "n",
        "distinct_l",
        "r1",
        dround(hs / (F.col("n") * F.lit(100000000).cast("double")), 6).alias(
            "entropy"
        ),
        (hs >= F.col("n") * _LDIV_ILN2).alias("entropy_l2_ok"),
        (F.col("r1") < 2 * (F.col("n") - F.col("r1"))).alias("recursive_c2_ok"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive forecast (wave 61)
# ---------------------------------------------------------------------------

_HW_M = 7      # weekly season
_HW_H = 7      # forecast horizon
# smoothing constants: written as literal doubles in BOTH engines (with
# their 1-x complements as literals too) so every step is the same
# IEEE op sequence — the recursion is then bit-identical cross-engine
_HW_ALPHA, _HW_BETA, _HW_GAMMA = "0.2", "0.1", "0.3"
_HW_IA, _HW_IB, _HW_IG = "0.8", "0.9", "0.7"

_HW_SQL = f"""
WITH RECURSIVE
daily AS (
  SELECT event_type, date_trunc('day', ts)::DATE AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS cents
  FROM events WHERE event_type IN ('view', 'purchase')
  GROUP BY 1, 2
),
seq AS (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
         cents,
         cents / CAST(100 AS DOUBLE) AS y
  FROM daily
),
n_t AS (
  SELECT event_type, MAX(t) AS n FROM seq GROUP BY 1
  HAVING MAX(t) >= {2 * _HW_M + 1}
),
agg AS (
  SELECT event_type,
         SUM(cents) FILTER (WHERE t BETWEEN 1 AND {_HW_M}) AS c1,
         SUM(cents) FILTER (WHERE t BETWEEN {_HW_M + 1} AND {2 * _HW_M}) AS c2
  FROM seq GROUP BY 1
),
s0 AS (
  SELECT s.event_type,
         list(s.y - a.c1 / CAST({_HW_M * 100} AS DOUBLE) ORDER BY s.t) AS slist
  FROM seq s JOIN agg a USING (event_type)
  WHERE s.t <= {_HW_M} GROUP BY 1
),
hw AS (
  SELECT a.event_type, CAST({_HW_M} AS BIGINT) AS t,
         a.c1 / CAST({_HW_M * 100} AS DOUBLE) AS l,
         (a.c2 / CAST({_HW_M * 100} AS DOUBLE)
          - a.c1 / CAST({_HW_M * 100} AS DOUBLE)) / CAST({_HW_M} AS DOUBLE) AS b,
         s0.slist AS s
  FROM agg a JOIN s0 USING (event_type) JOIN n_t USING (event_type)
  UNION ALL
  SELECT h.event_type, h.t + 1,
         {_HW_ALPHA}::DOUBLE * (q.y - h.s[1]) + {_HW_IA}::DOUBLE * (h.l + h.b),
         {_HW_BETA}::DOUBLE * (({_HW_ALPHA}::DOUBLE * (q.y - h.s[1])
                                + {_HW_IA}::DOUBLE * (h.l + h.b)) - h.l)
           + {_HW_IB}::DOUBLE * h.b,
         h.s[2:{_HW_M}] || [{_HW_GAMMA}::DOUBLE * (q.y
             - ({_HW_ALPHA}::DOUBLE * (q.y - h.s[1])
                + {_HW_IA}::DOUBLE * (h.l + h.b)))
           + {_HW_IG}::DOUBLE * h.s[1]]
  FROM hw h JOIN seq q ON q.event_type = h.event_type AND q.t = h.t + 1
),
fin AS (
  SELECT h.event_type, h.l, h.b, h.s
  FROM hw h JOIN n_t n ON n.event_type = h.event_type AND h.t = n.n
)
SELECT event_type, CAST(hz.h AS BIGINT) AS horizon,
       ROUND(l + hz.h * b + s[((hz.h - 1) % {_HW_M}) + 1], 6) AS forecast
FROM fin CROSS JOIN (SELECT unnest(range(1, {_HW_H + 1})) AS h) hz
"""

_HW_EXPR = f"""
aggregate(
  slice(tys, {_HW_M + 1}, size(tys) - {_HW_M}),
  named_struct(
    'l', aggregate(slice(tys, 1, {_HW_M}), 0L, (a, x) -> a + x.cents)
           / CAST({_HW_M * 100} AS DOUBLE),
    'b', (aggregate(slice(tys, {_HW_M + 1}, {_HW_M}), 0L, (a, x) -> a + x.cents)
            / CAST({_HW_M * 100} AS DOUBLE)
          - aggregate(slice(tys, 1, {_HW_M}), 0L, (a, x) -> a + x.cents)
            / CAST({_HW_M * 100} AS DOUBLE)) / CAST({_HW_M} AS DOUBLE),
    's', transform(slice(tys, 1, {_HW_M}),
          x -> x.cents / CAST(100 AS DOUBLE)
               - aggregate(slice(tys, 1, {_HW_M}), 0L, (a, y) -> a + y.cents)
                 / CAST({_HW_M * 100} AS DOUBLE))
  ),
  (st, x) -> named_struct(
    'l', {_HW_ALPHA}D * (x.cents / CAST(100 AS DOUBLE) - st.s[0])
           + {_HW_IA}D * (st.l + st.b),
    'b', {_HW_BETA}D * (({_HW_ALPHA}D * (x.cents / CAST(100 AS DOUBLE) - st.s[0])
                         + {_HW_IA}D * (st.l + st.b)) - st.l)
           + {_HW_IB}D * st.b,
    's', concat(slice(st.s, 2, {_HW_M - 1}),
          array({_HW_GAMMA}D * (x.cents / CAST(100 AS DOUBLE)
                    - ({_HW_ALPHA}D * (x.cents / CAST(100 AS DOUBLE) - st.s[0])
                       + {_HW_IA}D * (st.l + st.b)))
                + {_HW_IG}D * st.s[0]))
  )
)
"""


@register(
    "forecast_holt_winters",
    _HW_SQL,
    doc=(
        "additive Holt-Winters (triple exponential smoothing, weekly "
        "season m=7) — the classical seasonal forecaster beside "
        "forecast_linear's trend fit: per series the daily level "
        "(exact int64 cent totals — integer SUM is order-free, so "
        "both engines see the same doubles), textbook init (level = "
        "first-week mean, trend = week-over-week mean diff / m, "
        "seasonals = first-week residuals), then the l/b/s recursion "
        "folds ONCE over the remaining days. Spark runs it as an "
        "aggregate() lambda over the per-series day array (the "
        "series is days-bounded — the collect_list is calendar-, "
        "never corpus-sized); the oracle replays the identical "
        "IEEE op sequence in a recursive CTE, so the match is "
        "bit-stable with ONE rounding at emit (every constant is a "
        "literal double in both engines, the seasonal vector "
        "ROTATES so no index arithmetic enters the float path). "
        "Scale: one partial-aggregated shuffle to days, one "
        "per-series fold; h=7 forecasts per series"
    ),
)
def forecast_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ticks(spark, sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
            dround(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    seq = daily.select("event_type", F.row_number().over(w).alias("t"), "cents")
    ser = seq.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("t", "cents"))).alias("tys")
    ).filter(F.size("tys") >= 2 * _HW_M + 1)
    st = ser.select("event_type", F.expr(_HW_EXPR).alias("st"))
    h = F.col("horizon")
    season = F.element_at(
        F.col("st.s"), ((h - 1) % _HW_M + 1).cast("int")
    )
    return st.select(
        "event_type",
        F.explode(F.sequence(F.lit(1), F.lit(_HW_H))).alias("horizon"),
        "st",
    ).select(
        "event_type",
        h.cast("bigint").alias("horizon"),
        dround(F.col("st.l") + h * F.col("st.b") + season, 6).alias("forecast"),
    )


# ---------------------------------------------------------------------------
# Sampled-source bounded-horizon closeness centrality (wave 62)
# ---------------------------------------------------------------------------

_CLOSE_SEEDS = ("c1", "c2", "c3", "c4", "c5")
_CLOSE_HOPS = 3


def _close_bfs_sql() -> str:
    """The per-seed BFS CTEs, edges through d<_CLOSE_HOPS>, that both
    sampled-source oracles share; d0 holds every seed, so a seed on no
    edge still counts."""
    seeds = ", ".join(f"'{s}'" for s in _CLOSE_SEEDS)
    rounds = []
    prev = "d0"
    for i in range(1, _CLOSE_HOPS + 1):
        rounds.append(f"""
d{i} AS (
  SELECT seed, node, MIN(hops) AS hops FROM (
    SELECT seed, node, hops FROM {prev}
    UNION ALL
    SELECT p.seed, e.dst AS node, p.hops + 1 AS hops
    FROM {prev} p JOIN edges e ON e.src = p.node
  ) u GROUP BY 1, 2
)""")
        prev = f"d{i}"
    return f"""WITH {_EDGES_CTE},
seeds AS (SELECT unnest([{seeds}]) AS seed),
d0 AS (SELECT seed, seed AS node, 0 AS hops FROM seeds),
{','.join(rounds)}"""


def _close_reached(edges: DataFrame) -> DataFrame:
    """(seed, node, hops) for every node 1.._CLOSE_HOPS hops from a
    _CLOSE_SEEDS seed — the frame both sampled-source queries read. A
    seed's own hops-0 row is left to the caller, which counts it even
    when the seed is on no edge (as the oracles' d0 does)."""
    from ..operators.graph import bfs_hops

    d = bfs_hops(edges, list(_CLOSE_SEEDS), _CLOSE_HOPS, per_seed=True)
    return d.filter(F.col("hops") > 0)


_CLOSENESS_SQL = f"""
{_close_bfs_sql()}
SELECT seed,
       COUNT(*) FILTER (WHERE hops > 0)::BIGINT AS n_reached,
       COALESCE(SUM(hops) FILTER (WHERE hops > 0), 0)::BIGINT AS sum_hops,
       COALESCE(SUM(1000000 // hops) FILTER (WHERE hops > 0), 0)::BIGINT
         AS harmonic_micro
FROM d{_CLOSE_HOPS}
GROUP BY seed
"""


@register(
    "graph_closeness_sampled",
    _CLOSENESS_SQL,
    doc=(
        "sampled-source bounded-horizon closeness centrality — the "
        "distance-based centrality completing the family (PageRank = "
        "flow, HITS = endorsement, closeness = how NEAR everything "
        "is; exact betweenness is deliberately omitted: its "
        "all-pairs path counting has no bounded-output oracle). Per "
        f"seed ({len(_CLOSE_SEEDS)} fixed sources, the Eppstein-Wang "
        "sampling estimator shape), operators/graph.bfs_hops with "
        "per_seed=True keys its state by (seed, node) and runs the "
        f"same min-plus round as graph_bfs_hops for {_CLOSE_HOPS} "
        "rounds — ONE frame for all seeds, so k sources cost one join "
        "per round, not k. "
        "Harmonic closeness Σ 1/d accumulates as exact integer "
        "micro-units (1000000 div d — float-free and "
        "disconnection-safe); n_reached and sum_hops cover the "
        "classic variant. At corpus scale the bounded horizon is "
        "the honest estimator: k seeds × r rounds touches a local "
        "ball, never the full graph"
    ),
)
def graph_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Measured-width clone deliberately NOT applied (round 13): the
    # applied-form NEW/OLD A/B read NEW min 4.80 vs OLD min 4.20 at
    # sf0.1 — the per-hop seed-frontier⋈edges joins are COMPUTE-bound
    # (5 seeds × symmetrized 1.17M-edge probe), so the width trim
    # costs CPU parallelism. OPTIMIZATION_r13.md §6.
    per_seed = _close_reached(_edges(spark, sf_dir)).groupBy("seed").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reached"),
        F.sum("hops").cast("bigint").alias("sum_hops"),
        F.sum(F.expr("1000000 div hops")).cast("bigint").alias("harmonic_micro"),
    )
    seeds = spark.createDataFrame([(s,) for s in _CLOSE_SEEDS], "seed string")
    return seeds.join(per_seed, "seed", "left").select(
        "seed",
        F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
        F.coalesce("sum_hops", F.lit(0)).alias("sum_hops"),
        F.coalesce("harmonic_micro", F.lit(0)).alias("harmonic_micro"),
    )


# ---------------------------------------------------------------------------
# DP-shaped histogram release (wave 69)
# ---------------------------------------------------------------------------

# round(ln(2^32) * 1e8) — shared literal on both engines
_DP_ILN_2_32 = 2218070978
_DP_EPS = 1  # epsilon (sensitivity-1 count histogram)


def dp_laplace_noise_1e8(df: DataFrame) -> DataFrame:
    """Adds `noise_1e8`: Laplace(1/ε) noise in 1e-8 units for a
    sensitivity-1 count cell keyed by `segment`, inverted from a uniform via the
    integer-ln device — sign·(iln(2³²) − iln(m))/ε where m folds the
    uniform onto (0, 2³²].

    SECURITY SEAM — NOT PRIVATE AS SHIPPED. The "uniform" here is
    md5('dp|' || segment), a DETERMINISTIC function of the released cell
    key: reproducible on both engines (which is what the DuckDB oracle
    needs) and trivially re-computable by any adversary (which is what
    differential privacy forbids). A production deployment must swap
    THIS function — and only this function — for one drawing each
    uniform from a secure RNG at release time, and must drop the
    true_n column from the release. The mechanism algebra around it
    (sensitivity bookkeeping, ε scaling, integer truncation onto
    counts, post-processing clamp at 0) is the production shape and is
    pinned by tests/test_analytics_ops.py::
    test_dp_release_clamp_is_load_bearing."""
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("dp|"), F.col("segment"))), 1, 8), 16, 10
    ).cast("bigint")
    staged = df.withColumn(
        "__dp_sgn", F.when(F.lit(2) * hv - F.lit(4294967296) < 0, -1).otherwise(1)
    ).withColumn(
        "__dp_m",
        F.greatest(
            F.lit(4294967296) - F.abs(F.lit(2) * hv - F.lit(4294967296)), F.lit(1)
        ),
    )
    return (
        staged.withColumn("__dp_iln", iln("__dp_m"))
        .withColumn(
            "noise_1e8",
            F.expr(f"(__dp_sgn * ({_DP_ILN_2_32} - __dp_iln)) div {_DP_EPS}"),
        )
        .drop("__dp_sgn", "__dp_m", "__dp_iln")
    )


def dp_release_counts(noised: DataFrame) -> DataFrame:
    """The release step: integer-truncate the 1e-8 noise onto the raw
    count and clamp at zero (post-processing — the one property of the
    release the oracle CAN check, and the reason a negative noised
    count can never leak that a cell was small). Adds `released_n`."""
    return noised.withColumn(
        "released_n",
        F.greatest(
            F.col("true_n") + F.expr("noise_1e8 div 100000000"), F.lit(0)
        ).cast("bigint"),
    )

_DP_SQL = f"""
WITH h AS (
  SELECT c_mktsegment AS segment, COUNT(*)::BIGINT AS true_n
  FROM customer GROUP BY 1
),
u AS (
  SELECT segment, true_n,
         ('0x' || substr(md5('dp|' || segment), 1, 8))::BIGINT AS hv
  FROM h
),
lap AS (
  SELECT segment, true_n,
         CASE WHEN 2 * hv - 4294967296 < 0 THEN -1 ELSE 1 END AS sgn,
         GREATEST(4294967296 - ABS(2 * hv - 4294967296), 1) AS m
  FROM u
),
noise AS (
  SELECT segment, true_n,
         sgn * ({_DP_ILN_2_32} - CAST(ROUND(LN(m) * 100000000, 0) AS BIGINT))
           // {_DP_EPS} AS noise_1e8
  FROM lap
)
SELECT segment, true_n, noise_1e8,
       GREATEST(true_n + noise_1e8 // 100000000, 0)::BIGINT AS released_n
FROM noise
"""


@register(
    "privacy_dp_histogram",
    _DP_SQL,
    doc=(
        "differentially-private histogram release SHAPE — the "
        "Laplace mechanism on a sensitivity-1 count histogram "
        "(ε=1), completing the privacy family (erasure, "
        "generalization, k-anonymity, l-diversity, DP release): "
        "noise = (1/ε)·sign·ln(uniform) inverted from a "
        "deterministic md5 uniform via the INTEGER-ln device "
        "(iln(2³²) is a shared literal, m ≥ 1 guards ln(0)), "
        "integer-truncated onto counts, post-processing clamp at 0. "
        "HONEST STUB, stated plainly: the md5 'uniform' makes the "
        "release reproducible for the oracle, which is a feature "
        "here and a privacy bug in production — the swap point is "
        "the ONE named function dp_laplace_noise_1e8 (its docstring "
        "carries the security contract), and a real deployment also "
        "drops the true_n column; the mechanism algebra, sensitivity "
        "bookkeeping and clamp are exactly the production shape, the "
        "clamp pinned by test_dp_release_clamp_is_load_bearing. "
        "Scale: one segment-keyed reduce; noise math is per-cell "
        "literal arithmetic"
    ),
)
def privacy_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    h = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    noised = dp_laplace_noise_1e8(h)
    return dp_release_counts(noised).select(
        "segment", "true_n", "noise_1e8", "released_n"
    )


# ---------------------------------------------------------------------------
# Effective-diameter coverage curve (wave 70)
# ---------------------------------------------------------------------------


_EFF_DIAM_SQL = f"""
{_close_bfs_sql()},
n_nodes AS (SELECT COUNT(DISTINCT src)::BIGINT AS n FROM edges),
hs AS (SELECT unnest(range({_CLOSE_HOPS + 1})) AS h),
cov AS (
  SELECT hs.h, COUNT(*)::BIGINT AS n_pairs
  FROM hs JOIN d{_CLOSE_HOPS} d ON d.hops <= hs.h
  GROUP BY hs.h
)
SELECT CAST(c.h AS BIGINT) AS h, c.n_pairs,
       CAST((c.n_pairs * 1000000) // ({len(_CLOSE_SEEDS)} * n.n) AS BIGINT)
         AS frac_micro,
       (c.n_pairs * 1000000) // ({len(_CLOSE_SEEDS)} * n.n) >= 900000
         AS reaches_90pct
FROM cov c CROSS JOIN n_nodes n
"""


@register(
    "graph_effective_diameter",
    _EFF_DIAM_SQL,
    doc=(
        "effective-diameter coverage curve — the ANF/HyperANF "
        "question 'how many hops until ~everyone is reachable?' "
        "answered by the sampled-source estimator (the "
        "graph_closeness_sampled BFS frame, re-read per horizon): "
        "for each h, the fraction of (seed, node) pairs within h "
        "hops, in exact 1e-6 integer micro-units (count·10⁶ div "
        "(seeds·nodes)); the effective diameter is the first h "
        "whose flag trips 90%. The per-h counts come from ONE "
        "relaxation run — the final (seed, node, hops) state reduces "
        "to one count per hop and each h sums those up to h (plus "
        "the seeds themselves at hop 0), never re-running BFS. On "
        "the dense bipartite "
        "purchase graph the curve saturates by h=3 (customer→"
        "supplier→customer covers the giant component) — the "
        "expected small-world shape, asserted in the replay test"
    ),
)
def graph_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = pin(_edges(spark, sf_dir))
    n_nodes = edges.select("src").union(edges.select("dst")).distinct().count()
    denom = len(_CLOSE_SEEDS) * n_nodes
    per_hop = _close_reached(edges).groupBy("hops").agg(F.count(F.lit(1)).alias("n"))
    hs = spark.range(_CLOSE_HOPS + 1).select(F.col("id").cast("int").alias("h"))
    # every seed is its own hops-0 pair
    cov = (
        hs.join(per_hop, per_hop["hops"] <= hs["h"], "left")
        .groupBy("h")
        .agg(
            (F.coalesce(F.sum("n"), F.lit(0)) + len(_CLOSE_SEEDS))
            .cast("bigint")
            .alias("n_pairs")
        )
    )
    return cov.select(
        F.col("h").cast("bigint").alias("h"),
        "n_pairs",
        F.expr(f"CAST((n_pairs * 1000000) div {denom} AS BIGINT)").alias(
            "frac_micro"
        ),
        F.expr(f"(n_pairs * 1000000) div {denom} >= 900000").alias(
            "reaches_90pct"
        ),
    )


# ---------------------------------------------------------------------------
# Greenwood confidence band (wave 72): the KM curve with error bars
# ---------------------------------------------------------------------------

_GW_Z = 1.959964

_GW_SQL = f"""
WITH ud AS (
  SELECT user_id,
         DATE_TRUNC('hour', MIN(ts)) AS f,
         DATE_TRUNC('hour', MAX(ts)) AS l
  FROM events GROUP BY user_id
),
m AS (SELECT MAX(l) AS mx FROM ud),
obs AS (
  SELECT DATEDIFF('hour', f, l) AS t,
         CASE WHEN DATEDIFF('hour', l, mx) >= 72 THEN 1 ELSE 0 END AS ev
  FROM ud CROSS JOIN m
),
per_t AS (
  SELECT t, SUM(ev) AS d, SUM(1 - ev) AS c FROM obs GROUP BY t
),
risk AS (
  SELECT t, d, c,
         SUM(d + c) OVER () -
           COALESCE(SUM(d + c) OVER (
             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS n_risk
  FROM per_t
),
lf AS (
  SELECT t, d, n_risk,
         CASE WHEN d = 0 OR d = n_risk THEN 0
              ELSE CAST(ROUND(LN((n_risk - d) * 1.0 / n_risk) * 100000000, 0)
                        AS BIGINT) END AS lfac,
         CASE WHEN d = n_risk THEN 0.0
              ELSE d * 1.0 / (n_risk * (n_risk - d)) END AS gfac,
         CASE WHEN d = n_risk THEN 1 ELSE 0 END AS hit_zero
  FROM risk
),
curve AS (
  SELECT t, n_risk, d,
         MAX(hit_zero) OVER w AS z,
         EXP(SUM(lfac) OVER w / 100000000.0) AS s,
         SUM(gfac) OVER w AS g
  FROM lf
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d_events,
       CASE WHEN z = 1 THEN 0.0 ELSE ROUND(s, 4) END AS surv,
       CASE WHEN z = 1 THEN 0.0
            ELSE ROUND(GREATEST(s - {_GW_Z!r} * s * sqrt(g), 0.0), 4) END AS ci_low,
       CASE WHEN z = 1 THEN 0.0
            ELSE ROUND(LEAST(s + {_GW_Z!r} * s * sqrt(g), 1.0), 4) END AS ci_high
FROM curve
"""


@register(
    "events_survival_greenwood",
    _GW_SQL,
    doc=(
        "Kaplan-Meier with Greenwood confidence bands — the error "
        "bars events_survival_km ships without: var(S) = "
        "S²·Σ d/(n(n−d)), CI = S ± 1.96·S·√Σg clamped to [0,1]. The "
        "survival curve reuses KM's integer-log-space device; the "
        "Greenwood accumulator is a cumulative ORDERED window sum of "
        "per-duration rationals — ordered running sums fold "
        "sequentially in both engines, so the doubles agree, and "
        "the 1e-4 emit grid absorbs exp/sqrt last-ulp variation "
        "(the KM precedent). d = n_risk absorbing state zeroes the "
        "curve and both bands via the same cumulative flag. Same "
        "O(distinct durations) reduce-first shape as KM"
    ),
)
def events_survival_greenwood(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("f"),
        F.date_trunc("hour", F.max("ts")).alias("l"),
    )
    m = ud.agg(F.max("l").alias("mx"))
    # DuckDB DATEDIFF('hour', ...) counts hour-BOUNDARY crossings;
    # on hour-truncated inputs that equals elapsed seconds / 3600
    hours = lambda a, b: (  # noqa: E731
        (F.unix_timestamp(b) - F.unix_timestamp(a)) / 3600
    ).cast("bigint")
    obs = ud.crossJoin(F.broadcast(m)).select(
        hours(F.col("f"), F.col("l")).alias("t"),
        F.when(hours(F.col("l"), F.col("mx")) >= 72, 1).otherwise(0).alias("ev"),
    )
    per_t = obs.groupBy("t").agg(
        F.sum("ev").alias("d"), F.sum(F.lit(1) - F.col("ev")).alias("c")
    )
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_lt = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    risk = per_t.select(
        "t",
        "d",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_lt), F.lit(0))
        ).alias("n_risk"),
    )
    lf = risk.select(
        "t",
        "d",
        "n_risk",
        F.when((F.col("d") == 0) | (F.col("d") == F.col("n_risk")), F.lit(0))
        .otherwise(
            iln((F.col("n_risk") - F.col("d")) * F.lit(1.0) / F.col("n_risk"))
        )
        .alias("lfac"),
        F.when(F.col("d") == F.col("n_risk"), F.lit(0.0))
        .otherwise(
            F.col("d") * F.lit(1.0) / (F.col("n_risk") * (F.col("n_risk") - F.col("d")))
        )
        .alias("gfac"),
        F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0).alias("hit_zero"),
    )
    w_le = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    s = F.exp(F.sum("lfac").over(w_le) / F.lit(100000000.0))
    g = F.sum("gfac").over(w_le)
    z = F.max("hit_zero").over(w_le)
    curve = lf.select(
        "t",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        z.alias("z"),
        s.alias("s"),
        g.alias("g"),
    )
    zf = F.col("z") == 1
    return curve.select(
        "t",
        "n_risk",
        "d_events",
        F.when(zf, F.lit(0.0)).otherwise(dround(F.col("s"), 4)).alias("surv"),
        F.when(zf, F.lit(0.0))
        .otherwise(
            dround(
                F.greatest(
                    F.col("s") - F.lit(_GW_Z) * F.col("s") * F.sqrt("g"),
                    F.lit(0.0),
                ),
                4,
            )
        )
        .alias("ci_low"),
        F.when(zf, F.lit(0.0))
        .otherwise(
            dround(
                F.least(
                    F.col("s") + F.lit(_GW_Z) * F.col("s") * F.sqrt("g"),
                    F.lit(1.0),
                ),
                4,
            )
        )
        .alias("ci_high"),
    )


# ---------------------------------------------------------------------------
# Allen interval-algebra census (wave 73)
# ---------------------------------------------------------------------------

_ALLEN_SQL = """
WITH v AS (
  SELECT user_id, date_trunc('day', ts) AS day, MIN(ts) AS a_s, MAX(ts) AS a_e
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
c AS (
  SELECT user_id, date_trunc('day', ts) AS day, MIN(ts) AS b_s, MAX(ts) AS b_e
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
p AS (SELECT a_s, a_e, b_s, b_e FROM v JOIN c USING (user_id, day))
SELECT CASE
  WHEN a_e < b_s THEN 'precedes'
  WHEN a_e = b_s THEN 'meets'
  WHEN b_e < a_s THEN 'preceded_by'
  WHEN b_e = a_s THEN 'met_by'
  WHEN a_s = b_s AND a_e = b_e THEN 'equals'
  WHEN a_s = b_s AND a_e < b_e THEN 'starts'
  WHEN a_s = b_s THEN 'started_by'
  WHEN a_e = b_e AND a_s > b_s THEN 'finishes'
  WHEN a_e = b_e THEN 'finished_by'
  WHEN a_s > b_s AND a_e < b_e THEN 'during'
  WHEN a_s < b_s AND a_e > b_e THEN 'contains'
  WHEN a_s < b_s THEN 'overlaps'
  ELSE 'overlapped_by' END AS relation,
  COUNT(*)::BIGINT AS n
FROM p GROUP BY 1
"""


@register(
    "events_allen_relations",
    _ALLEN_SQL,
    doc=(
        "Allen interval-algebra census — the COMPLETE 13-relation "
        "temporal classification (Allen 1983) the interval family's "
        "overlap/anti/coverage queries each use one slice of: per "
        "(user, day), the view-activity span classifies against the "
        "click-activity span through one exhaustive, ORDER-DEPENDENT "
        "CASE chain over four microsecond-exact endpoint comparisons "
        "(the chain's ordering makes the 13 branches mutually "
        "exclusive without writing all 4-way conjunctions). Six "
        "relations occur at the fixture (precedes/preceded_by "
        "dominate, during/contains/overlaps/overlapped_by present); "
        "the measure-zero boundary relations (meets, equals, starts, "
        "finishes + inverses) are covered by the chain and absent at "
        "micro precision, as expected. One (user, day)-keyed join of "
        "two pre-reduced span frames — never a raw-event pair join"
    ),
)
def events_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def spans(et: str, s: str, e: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == et)
            .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
            .agg(F.min("ts").alias(s), F.max("ts").alias(e))
        )

    p = spans("view", "a_s", "a_e").join(
        spans("click", "b_s", "b_e"), ["user_id", "day"]
    )
    a_s, a_e, b_s, b_e = (F.col(c) for c in ("a_s", "a_e", "b_s", "b_e"))
    rel = (
        F.when(a_e < b_s, "precedes")
        .when(a_e == b_s, "meets")
        .when(b_e < a_s, "preceded_by")
        .when(b_e == a_s, "met_by")
        .when((a_s == b_s) & (a_e == b_e), "equals")
        .when((a_s == b_s) & (a_e < b_e), "starts")
        .when(a_s == b_s, "started_by")
        .when((a_e == b_e) & (a_s > b_s), "finishes")
        .when(a_e == b_e, "finished_by")
        .when((a_s > b_s) & (a_e < b_e), "during")
        .when((a_s < b_s) & (a_e > b_e), "contains")
        .when(a_s < b_s, "overlaps")
        .otherwise("overlapped_by")
    )
    return p.groupBy(rel.alias("relation")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
