"""Round-6 wave 21: the geospatial family — grid-blocked k-nearest-
neighbor search and neighborhood density, the blocking pattern every
distributed spatial join reduces to (same shape as LSH banding: bucket
by cell, probe only adjacent buckets, verify exactly inside the
candidate set).

The corpus has no coordinates, so each customer gets a deterministic
synthetic position from md5 arithmetic (the _PII_AUG /_emb_aug fixture-
augmentation precedent: both engines derive the SAME rows before the
operator under test). Positions are integer micro-units on a
[0, 1e6)² plane — squared distances are exact int64, so candidate
ranking never touches a float.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import pin
from ..sources import load_table
from .catalog import register

_PLANE = 1_000_000  # integer micro-unit plane edge
_CELL = 50_000  # grid cell edge → 20×20 cells
_KNN = 3

# md5-derived coordinate, identical on both engines: the first 8 hex
# chars of md5(tag|custkey) as a 32-bit int, reduced mod the plane.
_COORD_SQL = (
    "(('0x' || substring(md5('{tag}|' || CAST(c_custkey AS VARCHAR)), 1, 8))"
    f"::BIGINT % {_PLANE})"
)


def _coord(tag: str) -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{tag}|"), F.col("c_custkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _PLANE
    )


_POINTS_CTE = f"""
points AS (
  SELECT c_custkey AS id,
         {_COORD_SQL.format(tag='gx')} AS x,
         {_COORD_SQL.format(tag='gy')} AS y
  FROM customer
),
cells AS (
  SELECT id, x, y, x // {_CELL} AS cx, y // {_CELL} AS cy FROM points
),
offsets AS (
  SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                             (1,-1),(1,0),(1,1)) AS t(dx, dy)
)"""


def _cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"), _coord("gx").alias("x"), _coord("gy").alias("y")
    )
    return pts.select(
        "id",
        "x",
        "y",
        (F.col("x") / _CELL).cast("bigint").alias("cx"),
        (F.col("y") / _CELL).cast("bigint").alias("cy"),
    )


_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
# lexicographic upper half of the 3×3 neighborhood + the self cell:
# for any nonzero Δ exactly one of {Δ, -Δ} is in this set, so each
# cross-cell pair is probed by exactly one side (half-pair generation)
_HALF_OFFSETS = [(0, 0), (0, 1), (1, -1), (1, 0), (1, 1)]

# hot-cell salt guard (VERDICT r6 item 6): a cell with n points makes
# n×n candidate pairs land in ONE join task; above the cap the build
# side splits into _N_SALTS sub-buckets and the probe side replicates
# across them — same pairs, spread over _N_SALTS tasks. Salting (not
# drop-and-log) because kNN correctness requires EVERY candidate; the
# knob for density is the cell edge, not candidate loss.
_HOT_CELL_CAP = 1_000
_N_SALTS = 8
# kNN bound-participation cap (round 14): cells denser than this keep
# the full window path instead of the within-cell bound self-join
# (whose per-task block is n² — 256² = 65,536 rows, inside the salt
# guard's design envelope). Purely a cost knob: it changes WHICH ids
# get pruned, never the query result (the prune is output-invariant).
_UB_CELL_CAP = 256


def _grid_candidates(
    cells: DataFrame,
    hot_cap: int = _HOT_CELL_CAP,
    n_salts: int = _N_SALTS,
    offsets: list[tuple[int, int]] | None = None,
    cell_bound: DataFrame | None = None,
) -> DataFrame:
    """(id, neighbor, dist2) candidate pairs over the 3×3 cell
    neighborhood — the offset fan-out + ONE equi-join on the cell key,
    with the hot-cell salt guard: per-cell counts (O(cells), broadcast)
    mark cells above ``hot_cap``; build-side points in hot cells salt
    by ``pmod(id, n_salts)`` and probes targeting a hot cell replicate
    across all salts, so the join key (pcx, pcy, salt) caps any single
    task's pair block at ~(n/s)·n instead of n². Cold cells pay salt=0
    and exactly one probe row — identical to the unguarded plan. Output
    is pair-for-pair identical either way (property-tested), so the
    exhaustive SQL oracle is unchanged.

    ``offsets`` (round 14) restricts the probe ring: the default is the
    full half-neighborhood (_HALF_OFFSETS — all 3×3 pairs); ``[(0, 0)]``
    yields exactly the within-cell pairs (both directions, same salt
    guard) — the frame geo_grid_knn's upper-bound prune is built from.

    ``cell_bound`` (round 14, geo_grid_knn only): an optional
    (cx, cy, ubc) frame — GRID-bounded, hence always legitimately
    broadcastable, exactly like ``hot`` — giving each cell an upper
    bound on every member point's _KNN-th-NN dist². When present, each
    side of the half-pair join carries its OWN home cell's bound
    map-side, and a directed candidate (id → neighbor) is dropped when
    dist2 exceeds id's bound: at least _KNN strictly-closer candidates
    exist, so the row can never reach the top-_KNN window frame. Rows
    whose id sits in a cell without a bound are never dropped. The
    prune runs BEFORE the swap-explode and before any exchange of the
    pair volume (guide §2.3) — output equality with the unpruned frame
    is pinned by test_knn_ub_prune_matches_unpruned plus the unchanged
    exhaustive oracle."""
    if offsets is None:
        offsets = _HALF_OFFSETS
    per_cell = cells.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))
    # O(populated cells) rows — a legitimately broadcastable frame
    # (bounded by the grid, not the corpus)
    hot = per_cell.select(
        F.col("cx").alias("pcx"),
        F.col("cy").alias("pcy"),
        (F.col("n") > hot_cap).alias("is_hot"),
    )
    # HALF-PAIR generation (r8): each unordered pair joins exactly once
    # — same-cell pairs via the (0,0) probe with an id< filter,
    # cross-cell pairs from the lexicographically LOWER cell only (the
    # 4 upper-half offsets; Δ and -Δ are covered by exactly one side).
    # The directed view both geo consumers expect is restored by a
    # MAP-SIDE swap-explode after the join — never a union of two
    # projections, which would re-execute the join (the r7
    # triangle-corners lesson). Halves the probe fan-out (9→5 offsets)
    # and the join output.
    off = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in offsets
        ]
    )
    # fan out the offset struct first, then derive both probe
    # coordinates from it (explode appears once per select)
    a_src = cells.select("id", "x", "y", "cx", "cy", F.explode(off).alias("o")).select(
        F.col("id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        (F.col("cx") + F.col("o.dx")).alias("pcx"),
        (F.col("cy") + F.col("o.dy")).alias("pcy"),
        ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("same_cell"),
        # probe-side HOME cell — needed only to attach the bound
        F.col("cx").alias("acx"),
        F.col("cy").alias("acy"),
    )
    a_cols = ["a_id", "ax", "ay", "pcx", "pcy", "same_cell"]
    if cell_bound is not None:
        a_src = a_src.join(
            F.broadcast(
                cell_bound.select(
                    F.col("cx").alias("acx"),
                    F.col("cy").alias("acy"),
                    F.col("ubc").alias("ub_a"),
                )
            ),
            ["acx", "acy"],
            "left",
        )
        a_cols.append("ub_a")
    probes = (
        a_src.join(F.broadcast(hot), ["pcx", "pcy"], "left")
        .select(
            *a_cols,
            F.explode(
                F.when(
                    F.coalesce(F.col("is_hot"), F.lit(False)),
                    F.sequence(F.lit(0), F.lit(n_salts - 1)),
                ).otherwise(F.array(F.lit(0)))
            ).alias("salt"),
        )
    )
    b_src = cells.select(
        F.col("id").alias("neighbor"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("pcx"),
        F.col("cy").alias("pcy"),
    )
    b_cols = ["neighbor", "bx", "by", "pcx", "pcy"]
    if cell_bound is not None:
        # the build side sits in its own cell: home cell == (pcx, pcy)
        b_src = b_src.join(
            F.broadcast(
                cell_bound.select(
                    F.col("cx").alias("pcx"),
                    F.col("cy").alias("pcy"),
                    F.col("ubc").alias("ub_b"),
                )
            ),
            ["pcx", "pcy"],
            "left",
        )
        b_cols.append("ub_b")
    b = (
        b_src.join(F.broadcast(hot), ["pcx", "pcy"], "left")
        .select(
            *b_cols,
            F.when(
                F.coalesce(F.col("is_hot"), F.lit(False)),
                F.pmod(F.col("neighbor"), F.lit(n_salts)).cast("int"),
            )
            .otherwise(F.lit(0))
            .alias("salt"),
        )
    )
    dist2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    half = (
        probes.join(b, ["pcx", "pcy", "salt"])
        # same-cell pairs (only the (0,0) probe can produce them) keep
        # one orientation; cross-cell pairs are already unique because
        # only the lower cell probes
        .filter(
            F.when(F.col("same_cell"), F.col("a_id") < F.col("neighbor")).otherwise(
                F.col("neighbor") != F.col("a_id")
            )
        )
    )
    if cell_bound is None:
        return (
            half.select("a_id", "neighbor", dist2.alias("dist2"))
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("a_id").alias("id"),
                            F.col("neighbor").alias("neighbor"),
                        ),
                        F.struct(
                            F.col("neighbor").alias("id"),
                            F.col("a_id").alias("neighbor"),
                        ),
                    )
                ).alias("p"),
                "dist2",
            )
            .select("p.id", "p.neighbor", "dist2")
        )
    # bounded variant: each orientation carries ITS side's home-cell
    # bound; a half row dies before the explode when BOTH orientations
    # exceed their bounds, and each surviving orientation is filtered
    # exactly — all map-side, before any exchange of the pair volume
    return (
        half.select("a_id", "neighbor", "ub_a", "ub_b", dist2.alias("dist2"))
        .filter(
            (F.col("ub_a").isNull() | (F.col("dist2") <= F.col("ub_a")))
            | (F.col("ub_b").isNull() | (F.col("dist2") <= F.col("ub_b")))
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a_id").alias("id"),
                        F.col("neighbor").alias("neighbor"),
                        F.col("ub_a").alias("ub"),
                    ),
                    F.struct(
                        F.col("neighbor").alias("id"),
                        F.col("a_id").alias("neighbor"),
                        F.col("ub_b").alias("ub"),
                    ),
                )
            ).alias("p"),
            "dist2",
        )
        .filter(F.col("p.ub").isNull() | (F.col("dist2") <= F.col("p.ub")))
        .select("p.id", "p.neighbor", "dist2")
    )


_GRID_KNN_SQL = f"""
WITH {_POINTS_CTE},
cand AS (
  SELECT a.id AS id, b.id AS neighbor,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
  FROM cells a
  CROSS JOIN offsets o
  JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy AND b.id <> a.id
)
SELECT CAST(id AS BIGINT) AS id, CAST(neighbor AS BIGINT) AS neighbor,
       CAST(dist2 AS BIGINT) AS dist2, CAST(rnk AS INT) AS rnk
FROM (
  SELECT c.*, row_number() OVER (
    PARTITION BY id ORDER BY dist2, neighbor
  ) AS rnk
  FROM cand c
)
WHERE rnk <= {_KNN}
"""


def _knn_cell_bound(cells: DataFrame) -> DataFrame:
    """(cx, cy, ubc) — a per-CELL upper bound on every member point's
    _KNN-th-NN dist², for the map-side candidate prune (round 14,
    guide §2.3; stage receipt in OPTIMIZATION_r14.md: the candidate
    join was 0.87s, the row_number window over its 4.74M symmetrized
    rows ~5s of geo_grid_knn's 5.9s).

    Derivation: within one cell of n points, every member has n−1
    in-cell neighbors, all of which are real candidates; its _KNN-th
    smallest in-cell dist² therefore upper-bounds its _KNN-th-NN dist²
    overall. ubc = max of that over the cell's members bounds EVERY
    member. Exactness of the prune: a directed candidate (id, x) with
    dist2 > ubc(id's cell) has at least _KNN candidates with strictly
    smaller dist2 (id's in-cell top-_KNN), so its row_number under
    (dist2, neighbor) is ≥ _KNN+1 — dropping it cannot change the
    window output; ties at dist2 == ubc are KEPT (≤), preserving the
    tie-break exactly.

    Scale shape: only cells with _KNN+1 ≤ n ≤ _UB_CELL_CAP participate
    (below: no member has _KNN in-cell neighbors; above: the unsalted
    within-cell self-join would build an n² block in one task — those
    cells simply do not prune, they fall back to the full window, and
    the salted main join still guards them). The bound frame is
    GRID-bounded (≤ (plane/cell)² rows at any corpus size), hence
    always legitimately broadcastable — the same argument as the
    ``hot`` frame. Per-id collect_list is bounded by _UB_CELL_CAP."""
    per_cell = cells.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))
    eligible = per_cell.filter(
        (F.col("n") >= _KNN + 1) & (F.col("n") <= _UB_CELL_CAP)
    ).select("cx", "cy")
    pc = cells.join(F.broadcast(eligible), ["cx", "cy"])
    a = pc.select("cx", "cy", F.col("id").alias("a_id"), F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = pc.select("cx", "cy", F.col("id").alias("b_id"), F.col("x").alias("bx"), F.col("y").alias("by"))
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        a.join(b, ["cx", "cy"])
        .filter(F.col("a_id") != F.col("b_id"))
        .select("cx", "cy", "a_id", d2.alias("d2"))
        .groupBy("cx", "cy", "a_id")
        # the _KNN-th smallest dist² among in-cell neighbors — equal to
        # the window's rnk==_KNN dist2 (ties included in the multiset)
        .agg(F.element_at(F.array_sort(F.collect_list("d2")), _KNN).alias("ub"))
        .groupBy("cx", "cy")
        .agg(F.max("ub").alias("ubc"))
    )


@register(
    "geo_grid_knn",
    _GRID_KNN_SQL,
    doc=(
        "grid-blocked spatial kNN: points bucket into a uniform cell "
        "grid, each point probes only its 3×3 cell neighborhood (a "
        "constant 9-way map-side fan-out feeding ONE equi-join on the "
        "cell key — the spatial analogue of LSH banding, no all-pairs "
        "product anywhere), and the exact squared distance ranks "
        "candidates inside the bounded set. Coordinates are "
        "md5-derived integer micro-units so dist2 is exact int64 and "
        "the top-3 window needs no float tie-break. Per-point work is "
        "bounded by neighborhood density; cells above _HOT_CELL_CAP "
        "get the SALT guard (_grid_candidates: build side salted by "
        "pmod(id, s), probes replicated across salts — same pairs, "
        "1/s the per-task block; property-tested pair-identical on a "
        "deliberately hot fixture). The cell edge is PART OF THE CONTRACT — "
        "candidates are exactly the 3×3 neighborhood, so retuning it "
        "changes which far-away neighbors are reachable (unlike a "
        "pure cost knob); production callers fix the grid constant "
        "per dataset or widen the probe ring instead"
    ),
)
def geo_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _cells(spark, sf_dir)
    # Round-14 map-side bounded-candidate prune: the grid-bounded
    # per-cell bound rides both sides of the half-pair join inside
    # _grid_candidates, so candidates that provably cannot reach the
    # top-_KNN die BEFORE the swap-explode and before any exchange of
    # the pair volume — measured at sf0.1: 4,735,716 → ~60k rows into
    # the final window, identical output (pinned by
    # tests/test_analytics_ops.py::test_knn_ub_prune_matches_unpruned
    # and the unchanged exhaustive oracle). See _knn_cell_bound for the
    # exactness argument and the scale story (everything broadcast here
    # is grid-bounded; no corpus-sized frame is ever broadcast).
    cand = _grid_candidates(cells, cell_bound=_knn_cell_bound(cells))
    w = W.partitionBy("id").orderBy("dist2", "neighbor")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN)
        .select(
            F.col("id").cast("bigint").alias("id"),
            F.col("neighbor").cast("bigint").alias("neighbor"),
            F.col("dist2").cast("bigint").alias("dist2"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


_GRID_DENSITY_SQL = f"""
WITH {_POINTS_CTE},
per_cell AS (
  SELECT cx, cy, COUNT(*) AS n FROM cells GROUP BY cx, cy
)
SELECT CAST(a.cx AS BIGINT) AS cx, CAST(a.cy AS BIGINT) AS cy,
       CAST(a.n AS BIGINT) AS n,
       CAST(SUM(b.n) AS BIGINT) AS n_neighborhood
FROM per_cell a
CROSS JOIN offsets o
JOIN per_cell b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
GROUP BY a.cx, a.cy, a.n
"""


@register(
    "geo_cell_density",
    _GRID_DENSITY_SQL,
    doc=(
        "grid density with 3×3 neighborhood smoothing — the spatial "
        "rollup that sizes the kNN blocking (points/cell decides the "
        "cell edge) and the hot-cell report that triggers salting: "
        "points reduce to per-cell counts FIRST (one shuffle, "
        "O(cells) rows), then the 9-way offset fan-out convolves "
        "counts over the REDUCED frame — the neighborhood sum never "
        "touches point-level data. Empty neighbor cells contribute "
        "nothing (inner join ≡ +0); all counts exact int64"
    ),
)
def geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _cells(spark, sf_dir)
    per_cell = cells.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))
    off = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in _OFFSETS]
    )
    probes = per_cell.select("cx", "cy", "n", F.explode(off).alias("o")).select(
        "cx",
        "cy",
        "n",
        (F.col("cx") + F.col("o.dx")).alias("pcx"),
        (F.col("cy") + F.col("o.dy")).alias("pcy"),
    )
    b = per_cell.select(
        F.col("cx").alias("pcx"), F.col("cy").alias("pcy"), F.col("n").alias("bn")
    )
    return (
        probes.join(b, ["pcx", "pcy"])
        .groupBy("cx", "cy", "n")
        .agg(F.sum("bn").alias("n_neighborhood"))
        .select(
            F.col("cx").cast("bigint").alias("cx"),
            F.col("cy").cast("bigint").alias("cy"),
            F.col("n").cast("bigint").alias("n"),
            F.col("n_neighborhood").cast("bigint").alias("n_neighborhood"),
        )
    )


# ---------------------------------------------------------------------------
# Wave 40: point-in-polygon — integer ray casting against a broadcast
# polygon set (the second half of the spatial-join story: grid kNN is
# point×point, this is point×region)
# ---------------------------------------------------------------------------

# Literal polygons on the integer micro-unit plane (closed rings,
# vertices counter-clockwise); 12 edges total, so the per-point test is
# a constant map-side fan-out.
_POLYGONS: dict[int, list[tuple[int, int]]] = {
    1: [(100_000, 100_000), (400_000, 150_000), (200_000, 450_000)],
    2: [(500_000, 500_000), (900_000, 500_000), (900_000, 800_000), (500_000, 800_000)],
    3: [(100_000, 600_000), (300_000, 550_000), (400_000, 700_000),
        (250_000, 900_000), (50_000, 800_000)],
}


def _poly_edges() -> list[tuple[int, int, int, int, int]]:
    out = []
    for pid, ring in _POLYGONS.items():
        for i, (x1, y1) in enumerate(ring):
            x2, y2 = ring[(i + 1) % len(ring)]
            out.append((pid, x1, y1, x2, y2))
    return out


def _poly_area2(pid: int) -> int:
    ring = _POLYGONS[pid]
    s = 0
    for i, (x1, y1) in enumerate(ring):
        x2, y2 = ring[(i + 1) % len(ring)]
        s += x1 * y2 - x2 * y1
    return abs(s)


def _pip_sql() -> str:
    edges = ",\n    ".join(
        f"({pid}, {x1}, {y1}, {x2}, {y2})" for pid, x1, y1, x2, y2 in _poly_edges()
    )
    areas = ",\n    ".join(f"({pid}, {_poly_area2(pid)})" for pid in _POLYGONS)
    return f"""
WITH points AS (
  SELECT c_custkey AS id,
         {_COORD_SQL.format(tag='gx')} AS x,
         {_COORD_SQL.format(tag='gy')} AS y
  FROM customer
),
edges(pid, x1, y1, x2, y2) AS (
  SELECT * FROM (VALUES
    {edges}
  ) AS t(pid, x1, y1, x2, y2)
),
areas(pid, area2) AS (SELECT * FROM (VALUES {areas}) AS t(pid, area2)),
crossings AS (
  SELECT p.id, e.pid,
         SUM(CASE WHEN ((e.y1 <= p.y AND p.y < e.y2) OR (e.y2 <= p.y AND p.y < e.y1))
                   AND (
                     CASE WHEN e.y2 > e.y1
                          THEN (e.x2 - e.x1) * (p.y - e.y1) - (p.x - e.x1) * (e.y2 - e.y1) > 0
                          ELSE (e.x2 - e.x1) * (p.y - e.y1) - (p.x - e.x1) * (e.y2 - e.y1) < 0
                     END)
                  THEN 1 ELSE 0 END)::BIGINT AS n_cross
  FROM points p CROSS JOIN edges e
  GROUP BY 1, 2
)
SELECT c.pid AS polygon_id,
       CAST(a.area2 AS BIGINT) AS area2,
       COUNT(*) FILTER (WHERE n_cross % 2 = 1)::BIGINT AS n_inside
FROM crossings c JOIN areas a ON a.pid = c.pid
GROUP BY 1, 2
"""


@register(
    "geo_point_in_polygon",
    _pip_sql(),
    doc=(
        "point-in-polygon containment — the point×region half of the "
        "spatial-join story (geo_grid_knn is point×point): integer "
        "ray casting, entirely in exact int64 — the half-open edge "
        "rule (y1 <= py < y2) kills vertex double-counting, and the "
        "crossing test multiplies through by the edge's Δy so there "
        "is NO division anywhere (products bounded at 1e12 on the "
        "1e6 plane; sign-adjusted by Δy's direction). The polygon "
        "set is a LITERAL broadcast — per point the test is a "
        "constant 12-edge fan-out, map-side, one partial-aggregated "
        "count per (point, polygon), then odd-crossings decides "
        "containment. At scale this is the standard broadcast-side "
        "spatial join: regions are thousands, points are billions, "
        "and a per-region bounding-box prefilter (grid cells, the "
        "geo_grid_knn machinery) gates the exact test. Shoelace 2× "
        "areas ride along as exact integer literals"
    ),
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"), _coord("gx").alias("x"), _coord("gy").alias("y")
    )
    edges = F.array(
        *[
            F.struct(
                F.lit(pid).alias("pid"),
                F.lit(x1).alias("x1"),
                F.lit(y1).alias("y1"),
                F.lit(x2).alias("x2"),
                F.lit(y2).alias("y2"),
            )
            for pid, x1, y1, x2, y2 in _poly_edges()
        ]
    )
    fan = pts.select("id", "x", "y", F.explode(edges).alias("e")).select(
        "id",
        "x",
        "y",
        F.col("e.pid").alias("pid"),
        F.col("e.x1").alias("x1"),
        F.col("e.y1").alias("y1"),
        F.col("e.x2").alias("x2"),
        F.col("e.y2").alias("y2"),
    )
    spans = ((F.col("y1") <= F.col("y")) & (F.col("y") < F.col("y2"))) | (
        (F.col("y2") <= F.col("y")) & (F.col("y") < F.col("y1"))
    )
    t = (F.col("x2") - F.col("x1")) * (F.col("y") - F.col("y1")) - (
        F.col("x") - F.col("x1")
    ) * (F.col("y2") - F.col("y1"))
    crossing = spans & F.when(F.col("y2") > F.col("y1"), t > 0).otherwise(t < 0)
    cr = fan.groupBy("id", "pid").agg(
        F.sum(F.when(crossing, 1).otherwise(0)).alias("n_cross")
    )
    areas = {pid: _poly_area2(pid) for pid in _POLYGONS}
    area_col = F.create_map(
        *[F.lit(v) for kv in areas.items() for v in kv]
    )
    return (
        cr.groupBy("pid")
        .agg(
            F.sum(F.when(F.col("n_cross") % 2 == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_inside")
        )
        .select(
            F.col("pid").cast("int").alias("polygon_id"),
            F.element_at(area_col, F.col("pid")).cast("bigint").alias("area2"),
            "n_inside",
        )
    )


# ---------------------------------------------------------------------------
# Wave 50: grid-blocked DBSCAN — density-based spatial clustering, the
# geo capstone composing the cell grid with connected components
# ---------------------------------------------------------------------------

_DB_EPS = _CELL  # eps = one cell edge, so the 3x3 neighborhood is complete
_DB_EPS2 = _DB_EPS * _DB_EPS
_DB_MINPTS = 3  # core <=> at least (minPts - 1) eps-neighbors besides self
_DB_TOP = 20
# contraction subcell edge (round 14): the largest integer s with
# 2·s² ≤ eps², so any two points in one subcell are within eps —
# isqrt keeps the derivation integer-exact from eps itself
import math as _math

_DB_SUB = _math.isqrt(_DB_EPS2 // 2)
assert 2 * _DB_SUB * _DB_SUB <= _DB_EPS2

_DBSCAN_SQL = f"""
WITH RECURSIVE {_POINTS_CTE},
cand AS (
  SELECT a.id AS id, b.id AS neighbor
  FROM cells a
  CROSS JOIN offsets o
  JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy AND b.id <> a.id
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_DB_EPS2}
),
cnt AS (SELECT id, COUNT(*) AS n FROM cand GROUP BY id),
core AS (SELECT id FROM cnt WHERE n >= {_DB_MINPTS - 1}),
cedge AS (
  SELECT c.id AS src, c.neighbor AS dst
  FROM cand c
  JOIN core a ON a.id = c.id
  JOIN core b ON b.id = c.neighbor
),
reach(node, label) AS (
  SELECT id, id FROM core
  UNION
  SELECT e.dst, r.label FROM reach r JOIN cedge e ON e.src = r.node
),
comp AS (SELECT node, MIN(label) AS cluster FROM reach GROUP BY node),
border AS (
  SELECT c.id, MIN(p.cluster) AS cluster
  FROM cand c
  JOIN comp p ON p.node = c.neighbor
  WHERE c.id NOT IN (SELECT id FROM core)
  GROUP BY c.id
),
assigned AS (
  SELECT node AS id, cluster, TRUE AS is_core FROM comp
  UNION ALL
  SELECT id, cluster, FALSE AS is_core FROM border
),
summary AS (
  SELECT cluster,
         COUNT(*) FILTER (WHERE is_core)::BIGINT AS n_core,
         COUNT(*) FILTER (WHERE NOT is_core)::BIGINT AS n_border,
         COUNT(*)::BIGINT AS n_total
  FROM assigned GROUP BY cluster
),
gstat AS (
  SELECT COUNT(*)::BIGINT AS n_clusters,
         (SELECT COUNT(*) FROM points)::BIGINT
           - (SELECT COUNT(*) FROM assigned)::BIGINT AS n_noise
  FROM summary
)
SELECT s.cluster, s.n_core, s.n_border, s.n_total, g.n_clusters, g.n_noise
FROM summary s CROSS JOIN gstat g
ORDER BY s.n_total DESC, s.cluster LIMIT {_DB_TOP}
"""


@register(
    "geo_dbscan_grid",
    _DBSCAN_SQL,
    doc=(
        "grid-blocked DBSCAN — density-based spatial clustering "
        "composed entirely from machinery the repo already trusts: "
        "eps-neighbor candidate pairs come from the 3x3 cell "
        "fan-out + ONE equi-join (_grid_candidates, salt-guarded; "
        "eps = the cell edge, so the neighborhood is provably "
        "complete), core points are a count filter (>= minPts-1 "
        "neighbors), clusters are connected_components over the "
        "core-core eps-graph (min-label loop, per-round "
        "localCheckpoint), and border points attach "
        "DETERMINISTICALLY to the minimum cluster label among their "
        "core neighbors (classic DBSCAN is visit-order-dependent "
        "here — the min rule makes both engines agree). Noise = "
        "unassigned. The oracle replays the identical pipeline with "
        "a recursive reachability CTE (the er_resolve precedent). "
        "Output bounded: top-{top} clusters + global "
        "(n_clusters, n_noise). At scale: candidate stage is the "
        "geo_grid_knn plan, CC rounds are delta-sized, everything "
        "else is one count/one join per step"
    ).format(top=_DB_TOP),
)
def geo_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    cells = _cells(spark, sf_dir)
    neigh = pin(
        _grid_candidates(cells)
        .filter(F.col("dist2") <= _DB_EPS2)
        .select("id", "neighbor")
        # counts + core-edge + border consumers
    )
    cnt = neigh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    core = cnt.filter(F.col("n") >= _DB_MINPTS - 1).select("id")
    # a<b keeps ONE row per unordered core pair: connectivity needs
    # each pair once (the contraction below symmetrizes what's left)
    cedge = (
        neigh.filter(F.col("id") < F.col("neighbor"))
        .join(core.withColumnRenamed("id", "id"), "id")
        .join(core.withColumnRenamed("id", "neighbor"), "neighbor")
        .select(F.col("id").alias("a"), F.col("neighbor").alias("b"))
    )
    # Round-14 subcell contraction (guide §1.2/§2.4 — fix the
    # distributed algorithm; VERDICT r13 item 4; A/B + stage receipts
    # in plans/r14/): DBSCAN-specific geometry the CC operator cannot
    # see. Any two CORE points in the same subcell of edge
    # floor(eps/√2) are within eps of each other (max subcell
    # distance² = 2·_DB_SUB² ≤ eps², checked below), i.e. directly
    # density-reachable — one cluster. So each subcell's core points
    # CONTRACT to their minimum id before the iterative CC: the loop
    # runs over ≤ (plane/sub)² ≈ 800 grid-bounded representative
    # nodes and their deduped adjacency (corpus-size-INDEPENDENT — an
    # asymptotic win: the old loop re-shuffled the ~1.7M-row sym edge
    # frame every round at sf0.1, and that frame grows quadratically
    # with density). Exactness: the component partition is unchanged
    # (within-subcell merges are real eps-edges by the geometry;
    # cross-subcell rep edges come 1:1 from real core-core eps-pairs)
    # and labels are unchanged (a component's min core id IS one of
    # its subcell minima, so min-over-reps = min-over-members;
    # border/count/noise logic untouched). Exhaustive-reachability
    # oracle re-proved exact at 3 SFs post-change.
    core_pts = cells.join(core, "id", "left_semi").select(
        "id",
        (F.col("x") / _DB_SUB).cast("bigint").alias("sx"),
        (F.col("y") / _DB_SUB).cast("bigint").alias("sy"),
    )
    # one row per populated subcell — bounded by the FIXED grid
    # (≤ ceil(plane/sub)² = 29² at any SF), hence always broadcastable
    rep = core_pts.groupBy("sx", "sy").agg(F.min("id").alias("rep"))
    core_rep = core_pts.join(F.broadcast(rep), ["sx", "sy"]).select("id", "rep")
    contracted = (
        cedge.join(core_rep.withColumnRenamed("id", "a"), "a")
        .select(F.col("rep").alias("ra"), "b")
        .join(core_rep.withColumnRenamed("id", "b"), "b")
        .select(F.col("ra").alias("a"), F.col("rep").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    comp_rep = connected_components(rep.select(F.col("rep").alias("id")), contracted)
    # eager pin: comp feeds border + assigned + summary (and summary
    # feeds glob + the final join) — without it every consumer re-runs
    # the whole cnt/core/contraction chain (plan capture showed the
    # subtree duplicated; the old shape's CC labels were pinned too)
    comp = pin(
        core_rep.join(F.broadcast(comp_rep.withColumnRenamed("id", "rep")), "rep")
        .select(F.col("id").alias("node"), F.col("component").alias("cluster"))
    )
    border = (
        neigh.join(core, "id", "left_anti")
        .join(comp.withColumnRenamed("node", "neighbor"), "neighbor")
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
    )
    assigned = comp.select(
        F.col("node").alias("id"), "cluster", F.lit(True).alias("is_core")
    ).unionByName(border.select("id", "cluster", F.lit(False).alias("is_core")))
    summary = assigned.groupBy("cluster").agg(
        F.count(F.when(F.col("is_core"), F.lit(1))).cast("bigint").alias("n_core"),
        F.count(F.when(~F.col("is_core"), F.lit(1)))
        .cast("bigint")
        .alias("n_border"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
    )
    n_points = cells.agg(F.count(F.lit(1)).alias("np"))
    glob = summary.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("n_total").alias("n_assigned"),
    ).crossJoin(F.broadcast(n_points)).select(
        "n_clusters",
        (F.col("np") - F.coalesce(F.col("n_assigned"), F.lit(0)))
        .cast("bigint")
        .alias("n_noise"),
    )
    return (
        summary.crossJoin(F.broadcast(glob))
        .select("cluster", "n_core", "n_border", "n_total", "n_clusters", "n_noise")
        .orderBy(F.col("n_total").desc(), "cluster")
        .limit(_DB_TOP)
    )
