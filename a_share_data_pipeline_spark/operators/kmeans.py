"""Distributed k-means (Lloyd's) over an embedding column.

The training-data use: cluster document embeddings to stratify corpus
sampling / spot near-dup groups. Reference has nothing iterative
(SURVEY.md §3); like operators/graph.py this is a driver-coordinated
fixed-point loop where each round is a pure DataFrame job.

Scale design (the part that must survive 100 TB):
- centroid state is k×d doubles — it lives on the DRIVER and enters
  the plan as literal arrays, so the assignment stage is map-only
  (zero shuffle, no join): each executor scores its rows against the
  broadcast-literal centroids inside whole-stage codegen,
- the update stage is ONE partial-aggregated shuffle keyed on
  (cluster, dim) — k*d groups, never proportional to row count,
- per-round driver collect is k*d rows (512 values at k=8, d=64),
  independent of table size.

Determinism across engines (for the DuckDB oracle): distances are
rounded to 6 decimals before the argmin (ties then break on cluster
id), and updated centroids are rounded to 6 decimals — so the
1e-12-scale summation-order noise of parallel float aggregation
cannot flip an assignment. Empty clusters drop out (both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import SCORE_DIGITS, dround, dround_py

LLOYD_ROUNDS = 2  # Lloyd rounds before kmeans_assignments' final assignment


def assign_clusters(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, vec, cluster, rd): nearest centroid per row, map-only.

    argmin via array_min over (rounded distance, cluster id) structs —
    deterministic under distance ties. The centroids enter as ONE 2-D
    literal array scored by a single transform+fold (same codegen shape
    as similarity.lsh_bucket): unrolling k separate 64-literal distance
    expressions makes whole-stage codegen emit and JIT k copies of the
    fold body, and that compile time dominates each Lloyd round at
    bench scale.
    """
    from .common import const_array2d

    # k×d per-element literal nodes tax driver-side analysis/codegen
    # EVERY Lloyd round — the folded constant keeps each round's plan
    # small (see common.const_array2d; same fix as random_project)
    cent_arr = const_array2d([c for _, c in centroids])
    cid_arr = F.array(*[F.lit(cid) for cid, _ in centroids])
    v = F.col(vec_col)

    def score(c, i):
        sq = F.zip_with(v, c, lambda x, y: (x - y) * (x - y))
        d = F.aggregate(sq, F.lit(0.0), lambda acc, s: acc + s)
        return F.struct(
            dround(d, SCORE_DIGITS).alias("d"),
            F.element_at(cid_arr, (i + F.lit(1)).cast("int")).alias("c"),
        )

    best = F.array_min(F.transform(cent_arr, score))
    v = vectors.select(
        F.col("vec_id"),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    )
    return v.select(
        "vec_id",
        vec_col,
        best["c"].alias("cluster"),
        best["d"].alias("rd"),
    )


def update_centroids(assigned: DataFrame, vec_col: str) -> list[tuple[int, list[float]]]:
    """New centroids = per-(cluster, dim) mean; one k*d-group shuffle,
    k*d-row collect. Rounded to 6 decimals (cross-engine stability)."""
    rows = (
        assigned.select("cluster", F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("cluster", "pos")
        .agg(F.avg("v").alias("m"))
        .collect()
    )
    by_cluster: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], {})[r["pos"]] = dround_py(r["m"], SCORE_DIGITS)
    return sorted(
        (cid, [dims[p] for p in sorted(dims)]) for cid, dims in by_cluster.items()
    )


def init_centroids(
    vectors: DataFrame,
    k: int,
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic init: the k lowest-id vectors, cluster ids 0..k-1.
    (Production would use k-means|| — init choice is orthogonal to the
    distributed iteration structure being exercised here.)"""
    rows = (
        vectors.select("vec_id", F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    return [(i, [dround_py(x, SCORE_DIGITS) for x in r["v"]]) for i, r in enumerate(rows)]


def kmeans_assignments(vectors: DataFrame, k: int = 8, vec_col: str = "embedding") -> DataFrame:
    """Run LLOYD_ROUNDS Lloyd rounds then a final assignment; returns
    (vec_id, cluster, rd). Empty clusters drop out between rounds."""
    # Each round re-scans the input. Measured at bench scale the scan
    # is NOT the cost (codegen compile of the k×d literal plans is), so
    # no persist here; at 100 TB wrap `vectors` in
    # .persist(StorageLevel.MEMORY_AND_DISK) at the call site — the
    # iteration structure is unchanged.
    cents = init_centroids(vectors, k, vec_col)
    for _ in range(LLOYD_ROUNDS):
        assigned = assign_clusters(vectors, cents, vec_col)
        cents = update_centroids(assigned, vec_col)
    return assign_clusters(vectors, cents, vec_col).select("vec_id", "cluster", "rd")
