"""Skew mitigation for large equi-joins (SURVEY.md 'Optimize for scale').

AQE's skew-join splitting (on in session.py) handles most cases at
runtime; explicit salting remains the tool when:
- the join feeds an aggregation/window ON THE JOIN KEY: the downstream
  operator's required hash distribution pins the join's partitioning,
  so AQE refuses to split the skewed partition (splitting would break
  the reused Exchange) — the hot key still lands in one reducer. This
  is the common fact⋈dim → groupBy(fact key) shape; pinned as an
  executed-plan fact in tests/test_scale_ops.py::
  test_salted_join_wins_where_aqe_skew_split_cannot_apply.
- one join key dwarfs the others so badly that even split
  sub-partitions won't fit, or
- AQE is unavailable (e.g. inside a cached subtree).

`salted_join(big, small, keys)`:
- the BIG side gets a uniform salt in [0, salt_buckets);
- the SMALL side is exploded salt_buckets× (so every (key, salt) pair
  exists);
- the join runs on keys + salt, so one hot key spreads over
  salt_buckets reducers instead of one.

Join result is EXACTLY the plain join (salt is an internal column,
dropped on output); only the shuffle distribution changes. Supported:
inner and left joins (the exploded small side would duplicate
right-side-preserved rows under right/full).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Equi-join with the big side's hot keys spread over salt buckets."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted_big = big.withColumn(
        SALT_COL, F.floor(F.rand(42) * salt_buckets).cast("int")
    )
    salts = F.array(*[F.lit(i) for i in range(salt_buckets)])
    salted_small = small.withColumn(SALT_COL, F.explode(salts))
    return salted_big.join(salted_small, [*keys, SALT_COL], how).drop(SALT_COL)
