"""Connected components over a pair graph (dedup clustering).

Near-dup pipelines end with "group the pairs into clusters, keep one
canonical doc per cluster" — that grouping is connected components on
the candidate-pair graph; entity resolution, DBSCAN's core-point graph
and the incremental co-purchase graph run the same operator. The
component is the minimum reachable node id: every DuckDB oracle
(recursive-CTE closure) and sweep.py's union-find replay rely on it.
The reference has nothing iterative (SURVEY.md §3: three linear
flows), so this is a pure [GAP] capability.

Shape — contract locally before any global round (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014):
- the operator takes only the (a, b) edges and labels every endpoint;
  the edge set is pinned once and its size rides that pin
  (``observe``), so sizing the next step costs no job of its own,
- a NumPy union-find kernel runs inside ``mapInArrow`` and labels a
  whole partition's edge set in ONE task: ``np.unique`` maps ids to
  sorted indices (index order = Spark's id order; for string ids
  Python's code-point order equals Spark's UTF-8 byte order), so the
  local min index is the min id; then rounds of root hooking
  (``np.minimum.at``) and pointer jumping (``lbl = lbl[lbl]``) until
  every edge joins equal roots, all inside the task (a shuffled
  4 M-node chain takes 14 rounds). It emits (node, local min) for
  every node it saw; the union of those stars has exactly the
  input's components,
- the edges spread over ``ceil(E / _KERNEL_EDGES)`` partitions. With
  one partition the kernel's labels are final, so the Spark job count
  does not depend on the graph's diameter. With more, hash-min rounds
  over the star forest finish the merge (each round one
  join + min-aggregate, pinned so lineage stays flat) and stop when
  no label moves — the moved count rides each round's pin; there is
  no round cap,
- a node on no edge is the caller's to add, as its own component (in
  a deduped corpus nearly every doc is one). With no edge the result
  is a false filter the optimizer plans as an empty relation, so the
  caller's join onto it folds away too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..session import pin

# pagerank/personalized_pagerank: cut the single-use rank chain's
# lineage every N unrolled rounds. Small fixed iteration counts (the
# catalog's 3) pipeline as one checkpoint-free job; a caller-supplied
# large ``iters`` no longer builds a join tower whose Catalyst
# analysis cost grows superlinearly with depth.
_CHECKPOINT_EVERY = 8

# connected_components: edges one kernel task labels. The task holds
# its partition as NumPy arrays (the Arrow input, both id columns,
# their concatenation, np.unique's sort and inverse, labels and each
# round's gathers), about 120 B per int64 edge: er_resolve at sf0.1,
# 3.89 M edges, peaks at 615 MB of Python worker RSS on a 4-vCPU host.
# 1 << 22 keeps a worker near that and every caller at sf0.1 in one
# task; splitting er_resolve four ways measured slower (more jobs,
# same answer).
_KERNEL_EDGES = 1 << 22


def connected_components(edges: DataFrame) -> DataFrame:
    """(id, component) for every endpoint of ``edges``; component = min
    reachable id.

    ``edges``: columns (a, b) of one id type, undirected, any
    orientation, duplicates allowed. A node on no edge is not in the
    output (see the module docstring for how callers add it).
    """
    pinned, seen = pin(edges.select("a", "b"), edges=F.count(F.lit(1)))
    parts = (seen["edges"] + _KERNEL_EDGES - 1) // _KERNEL_EDGES
    if parts == 0:
        return pinned.select(F.col("a").alias("id"), F.col("b").alias("component")).where(
            F.lit(False)
        )

    # NESTED so cloudpickle ships it by value: a Python worker cannot
    # be assumed to import this package
    def _union_find(it):
        import numpy as np
        import pyarrow as pa

        batches = list(it)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        a = t.column("a").to_numpy(zero_copy_only=False)
        b = t.column("b").to_numpy(zero_copy_only=False)
        ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ea, eb = inv[: len(a)], inv[len(a) :]
        lbl = np.arange(len(ids))
        while True:
            ra, rb = lbl[ea], lbl[eb]
            live = ra != rb
            if not live.any():
                break
            # an edge whose endpoints share a root keeps sharing it
            ea, eb, ra, rb = ea[live], eb[live], ra[live], rb[live]
            # hook every root onto the smallest root across its edges;
            # labels only fall, so no cycle can form
            np.minimum.at(lbl, ra, rb)
            np.minimum.at(lbl, rb, ra)
            while True:
                jumped = lbl[lbl]
                if np.array_equal(jumped, lbl):
                    break
                lbl = jumped
        typ = t.schema.field("a").type
        yield pa.record_batch(
            [pa.array(ids, type=typ), pa.array(ids[lbl], type=typ)], names=["node", "lbl"]
        )

    id_type = pinned.schema["a"].dataType
    schema = StructType([StructField("node", id_type), StructField("lbl", id_type)])
    if parts == 1:
        labels = pin(pinned.coalesce(1).mapInArrow(_union_find, schema))
    else:
        stars = pinned.repartition(parts, "a").mapInArrow(_union_find, schema)
        labels = _hash_min(pin(stars))
    return labels.select(F.col("node").alias("id"), F.col("lbl").alias("component"))


def _hash_min(stars: DataFrame) -> DataFrame:
    """(node, lbl) = min reachable node over the union of the kernel
    tasks' (node, local min) stars; a node seen by several tasks has
    one star row per task. Min-label propagation until no label moves."""
    sym = pin(
        stars.select(F.col("node").alias("src"), F.col("lbl").alias("dst"))
        .unionByName(stars.select(F.col("lbl").alias("src"), F.col("node").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
    )
    labels = pin(stars.groupBy("node").agg(F.min("lbl").alias("lbl")))
    while True:
        nbr = (
            sym.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nbr"))
        )
        labels, seen = pin(
            labels.join(nbr, "node", "left").select(
                "node",
                F.least("lbl", "nbr").alias("lbl"),
                (F.col("nbr") < F.col("lbl")).alias("moved"),
            ),
            moved=F.count_if("moved"),
        )
        labels = labels.drop("moved")
        if seen["moved"] == 0:
            return labels


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """PageRank over a directed edge list (src, dst), fixed iteration
    count, ranks rounded to ``round_to`` decimals EVERY round.

    The per-round rounding is part of the operator contract, not
    cosmetics: it re-synchronizes float state across engines (the
    DuckDB oracle unrolls the same rounds as CTEs) and across shuffle
    reorderings of the in-edge sums, exactly like the unrolled-Lloyd
    k-means oracle. Convergence is unaffected at 1e-6 granularity.

    Scale design (revised round 5 after the bench showed per-round
    eager localCheckpoints DEGRADING across reps — 9.1s → 18.0s as
    checkpointed RDD blocks accumulated; the fix is to need no
    per-round materialization at all):
    - the rank state is SINGLE-USE per round: out-degrees ride on the
      EDGES (``edges_w``: src, dst, outdeg — checkpointed once), and
      the dangling-node left join reads a STATIC (node, outdeg) frame
      (checkpointed once). Each round is then one join (ranks onto
      weighted edges) + one aggregate (sum by dst) + one left join
      onto the static node frame — O(E) shuffled bytes per round —
      and because ranks_i feeds ranks_{i+1} exactly once, lineage is
      a simple chain: no recompute fan-out, no per-round checkpoint,
      the whole unrolled iteration runs as ONE job with full stage
      pipelining. (A fixed small iteration count needs no
      per-round checkpoint. For large ``iters`` the loop cuts lineage
      every ``_CHECKPOINT_EVERY`` rounds — without the guard the unrolled
      join tower's Catalyst analysis cost grows superlinearly with
      caller-supplied ``iters``; with it, plan depth is bounded while
      small-iters callers still pay zero checkpoints.)
    - the simple-citation formulation r' = (1-d) + d·Σ r/outdeg is
      used (no dangling-mass redistribution): sinks absorb rank,
      sources hold (1-d) — deterministic and oracle-matched; the
      contribution divides rank/outdeg PER EDGE, the same expression
      the oracle's unrolled CTEs evaluate.
    """
    return _rank_chain(edges, F.lit(1.0), F.lit(1.0 - damping), damping, iters, round_to)


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[str],
    damping: float = 0.85,
    iters: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Personalized PageRank: teleport mass lands ONLY on ``seeds``
    (r' = (1-d)·1[seed] + d·Σ r/outdeg; r0 = the teleport vector), so
    rank concentrates in the seeds' neighborhoods — the recommendation
    / similarity-expansion variant of :func:`pagerank`. Unnormalized
    teleport (1 per seed, not 1/|S|) — deterministic and mirrored in
    the oracle; relative ordering is unaffected.

    Same rank chain as pagerank, with the seed indicator as r0 and
    the seed-only teleport term. Seeds enter as literals (an isin over
    the node column) — the seed SET is query-scoped and small by
    definition; seeds absent from the graph contribute nothing on
    either engine.
    """
    is_seed = F.col("node").isin(*seeds)
    r0 = F.when(is_seed, F.lit(1.0)).otherwise(F.lit(0.0))
    teleport = F.when(is_seed, F.lit(1.0 - damping)).otherwise(F.lit(0.0))
    return _rank_chain(edges, r0, teleport, damping, iters, round_to)


def _rank_chain(
    edges: DataFrame, r0: Column, teleport: Column, damping: float, iters: int, round_to: int
) -> DataFrame:
    """The PageRank iteration both variants share: ranks start at
    ``r0`` and each round sets r' = teleport + d·Σ r/outdeg (both
    columns are expressions over ``node``), rounded every round. The
    scale design is documented on :func:`pagerank`."""
    from ..functions.rounding import dround

    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # static frames, each consumed once per round: materialize once
    nodes_od = pin(
        nodes.join(outdeg, "node", "left")
        .select("node", F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
    )
    edges_w = pin(
        edges.join(outdeg.withColumnRenamed("node", "src"), "src")
        .select("src", "dst", "outdeg")
    )
    ranks = nodes_od.select("node", r0.alias("rank"))
    for i in range(iters):
        inflow = (
            edges_w.join(ranks, edges_w["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes_od.join(inflow, "node", "left").select(
            "node",
            dround(
                teleport + F.lit(damping) * F.coalesce("inflow", F.lit(0.0)),
                round_to,
            ).alias("rank"),
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and (i + 1) < iters:
            ranks = pin(ranks)
    return ranks.select("node", "rank")


def _symmetrize(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Undirected view of a directed edge list: both orientations,
    materialized once (multi-use across iteration rounds).

    ``dedup=False`` skips the distinct — a full 2E shuffle — for
    callers that can PROVE the mirror cannot collide: the input is
    already distinct AND no reverse pair exists (e.g. a bipartite
    graph whose two sides use disjoint id ranges, like the
    customer-even / supplier-odd purchase graph). Neighbor-count
    semantics (LPA) are correct only if the edge multiset is
    duplicate-free, so the flag is a caller-supplied proof, not a
    tolerance."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if dedup:
        sym = sym.distinct()
    return pin(sym)


def label_propagation(
    edges: DataFrame, iters: int = 3, edges_dedup: bool = True
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over an UNDIRECTED edge list: every node starts with its
    own id as label; each round every node adopts the most frequent
    label among its neighbors, ties broken by the LARGEST label — a
    deterministic variant (classic LPA tie-breaks randomly; a random
    tie-break cannot be oracle-verified and is irreproducible across
    cluster sizes). Fixed ``iters`` rounds, no convergence test, so
    the unrolled plan matches the oracle's unrolled CTEs exactly.

    Node ids MUST be non-negative BIGINTs below 2**33 — at corpus
    scale you dictionary-encode string entity keys to dense ints
    before any iterative graph work anyway (shuffling int64 pairs
    instead of strings roughly halves every round's shuffle bytes).
    The constraint exists because the per-node argmax packs
    (count, label) into ONE bigint — ``cnt * 2**33 + lbl`` — so the
    round reduces with a plain max() that stays inside
    HashAggregate with map-side partial aggregation. The first
    version used max(struct(cnt, lbl)) over string labels: struct
    and string aggregation buffers are not hash-aggregable, so
    every round fell back to SortAggregate (full sort of the E-sized
    count frame; measured 8-12s vs ~4s for the 3-round sf0.1 query),
    exactly like a row_number window would.

    Scale shape: each round is one O(E) join (labels onto edges) +
    one partial-aggregated count shuffle keyed on (node, label) +
    one hash-aggregated per-node max. Label state is a single-use
    chain like pagerank's rank state — no per-round materialization,
    lineage cut every _CHECKPOINT_EVERY rounds for large caller-
    supplied ``iters``. Communities differ from connected_components:
    CC merges everything reachable; LPA keeps densely-connected
    cores separate when a bridge node's neighbor majority points
    elsewhere."""
    shift = F.lit(2**33)
    sym = _symmetrize(edges, dedup=edges_dedup)
    # loud preconditions for the packed argmax (silent violations
    # would return wrong communities, not errors): labels live in the
    # low 33 bits, counts in the high bits — so ids must sit in
    # [0, 2^33) and no neighbor-label count may reach 2^30
    node_raw = F.col("src")
    node_ok = F.when(
        (node_raw < 0) | (node_raw >= 2**33),
        F.raise_error(
            F.lit("label_propagation: node ids must be bigints in [0, 2**33)")
        ).cast("long"),
    ).otherwise(node_raw)
    labels = (
        sym.select(node_ok.alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    for i in range(iters):
        nbr = sym.join(labels, sym["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "lbl"
        )
        cnt_raw = F.count(F.lit(1))
        cnt_ok = F.when(
            cnt_raw >= 2**30,
            F.raise_error(
                F.lit("label_propagation: neighbor-label count >= 2**30 "
                      "overflows the packed argmax")
            ).cast("long"),
        ).otherwise(cnt_raw)
        cnt = nbr.groupBy("node", "lbl").agg(cnt_ok.alias("cnt"))
        labels = (
            cnt.groupBy("node")
            .agg(F.max(F.col("cnt") * shift + F.col("lbl")).alias("key"))
            .select("node", F.pmod(F.col("key"), shift).alias("lbl"))
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and (i + 1) < iters:
            labels = pin(labels)
    return labels


def bfs_hops(
    edges: DataFrame,
    seeds: list,
    max_hops: int = 3,
    per_seed: bool = False,
) -> DataFrame:
    """BFS hop distance over an UNDIRECTED edge list (src, dst): it is
    :func:`sssp` with unit weight, ``hops`` in place of ``dist``."""
    unit = edges.select("src", "dst", F.lit(1).alias("w"))
    keys = ["seed", "node"] if per_seed else ["node"]
    return sssp(unit, seeds, max_rounds=max_hops, per_seed=per_seed).select(
        *keys, F.col("dist").cast("int").alias("hops")
    )


def sssp(
    edges: DataFrame,
    seeds: list,
    max_rounds: int = 3,
    per_seed: bool = False,
) -> DataFrame:
    """Bounded multi-source shortest paths (Bellman-Ford) over an
    UNDIRECTED weighted edge list (src, dst, w): ``dist`` is the
    minimum total weight along paths of at most ``max_rounds`` edges.
    By default it is the minimum over all seeds, one (node, dist) row
    per reached node; ``per_seed=True`` keeps each seed apart, one
    (seed, node, dist) row per pair. Unreached nodes emit no row, and
    a seed on no edge reaches nothing, not even itself.

    Only reached rows are held: the state is (seed, node, dist), with
    a constant seed key when seeds are merged. The mirrored edges plus
    a weight-0 self-loop on every node are pinned once, so one round
    is a min-plus step — the state joined onto those edges and one
    ``min`` per (seed, node). The self-loop carries every reached
    distance into the next round, so a round reads the state once and
    needs no union or NULL merge. Parallel or mirrored duplicate edges
    need no dedup: the ``min`` keeps the cheapest. Weights must be
    non-negative integers, so both engines stay bit-exact."""
    sym = edges.select("src", "dst", F.col("w").cast("bigint").alias("w"))
    sym = sym.unionByName(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    loops = sym.select("src").distinct().select(
        "src", F.col("src").alias("dst"), F.lit(0).cast("bigint").alias("w")
    )
    step = pin(sym.unionByName(loops).withColumnRenamed("src", "node"))
    is_seed = (F.col("node") == F.col("dst")) & (F.col("w") == 0) & F.col("node").isin(*seeds)
    dist = step.filter(is_seed).select(
        (F.col("node") if per_seed else F.lit(0)).alias("seed"),
        "node",
        F.col("w").alias("dist"),
    )
    for i in range(max_rounds):
        # shuffle_hash: without it AQE sees the edges' shuffle output
        # fit the broadcast threshold and collects and broadcasts all
        # of them every round (sf0.1, 4 vCPUs: bfs 7.4 -> 6.0 s)
        dist = (
            dist.join(step.hint("shuffle_hash"), "node")
            .groupBy("seed", F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("dist"))
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and (i + 1) < max_rounds:
            dist = pin(dist)
    return dist if per_seed else dist.drop("seed")
