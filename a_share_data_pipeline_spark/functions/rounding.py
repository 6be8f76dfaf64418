"""Cross-engine-stable float rounding.

Spark's `round()` on doubles round-trips through the shortest decimal
string (BigDecimal HALF_UP on Double.toString), while DuckDB rounds
the binary value (`std::round(x * 10^n) / 10^n`). On boundary values
(e.g. avg = 152741.235) they disagree by one ulp of the last kept
digit — enough to flip the correctness hash.

`dround` reproduces DuckDB's binary semantics inside Spark with plain
IEEE ops (multiply, +0.5, floor, divide), so a query rounded with
`dround` in Spark and `ROUND` in DuckDB computes bit-identical
doubles whenever the pre-rounding inputs are bit-identical (always
true for deterministic window frames; within 1e-13 for reordered
parallel sums, where the shared rounding still lands on the same side
of the boundary except on exact-rational edge cases). `dround_py` is
the same rounding on one driver-side double (k-means centroids, PQ
codebooks), built from the same operations.

Valid for |x * 10^n| < 2^52 (far beyond every aggregate here) and
away from |x * 10^n| = 0.49999999999999994, where `x·s + 0.5` rounds
up to 1.0 before the floor.

`iln` is the integer-ln grid: ln(x) scaled by 10^digits and rounded
once to a BIGINT, the Spark twin of DuckDB's
`CAST(ROUND(ln(x) * 10^digits, 0) AS BIGINT)`. Log returns, entropies
and log-likelihoods are sums and differences of logs; on doubles those
sums depend on the order a shuffle delivers the rows in, while on the
integer grid each ln is rounded exactly once per input and everything
after it is exact int64 arithmetic, the same on both engines whatever
the order. A query divides back to a double once, at emit. `digits`
is 8 (the 1e-8 grid), or 5 where a product of counts and lns must
stay inside int64 (`agg_theil_decomposition`).

Scores, distances and centroid coordinates that operators compare or
rank across engines round to `SCORE_DIGITS` decimals.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

SCORE_DIGITS = 6


def dround(col: Column | str, n: int) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("double")
    s = F.lit(float(10**n))
    pos = F.floor(c * s + F.lit(0.5)) / s
    neg = -(F.floor((-c) * s + F.lit(0.5)) / s)
    return F.when(c < 0, neg).otherwise(pos)


def dround_py(x: float, n: int) -> float:
    s = float(10**n)
    if x < 0:
        return -(math.floor((-x) * s + 0.5) / s)
    return math.floor(x * s + 0.5) / s


def iln(col: Column | str, digits: int = 8) -> Column:
    if digits not in (5, 8):
        raise ValueError(f"iln grid is 1e-8 or 1e-5, not 1e-{digits}")
    return dround(F.log(col) * 10**digits, 0).cast("bigint")
