"""Deterministic hashing constants shared by the Spark queries and the
DuckDB oracle SQL.

Design constraint: the correctness oracle re-runs every query in DuckDB,
so any hash used in a query must be computable identically in BOTH
engines. We standardize on:

- md5 hex strings (lowercase hex in both Spark and DuckDB) — used for
  fingerprints and as the MinHash permutation family: for seed ``i``,
  ``h_i(shingle) = md5(i || '|' || shingle)``, and the minimum is taken
  over the *hex string* ordering (a uniform permutation; avoids
  hex→int conversions that differ between engines).
- integer-arithmetic pseudo-random hyperplanes for sign-LSH, generated
  by an exact integer congruence (no libm, no float divergence).
"""

from __future__ import annotations

MINHASH_SEEDS = tuple(range(8))  # 8 permutations
MINHASH_BAND_SIZE = 4  # → 2 bands of 4 rows

LSH_DIM = 64  # embedding dimensionality in testdata
LSH_N_PLANES = 8


def lsh_planes(n_planes: int = LSH_N_PLANES) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1).

    Pure integer congruence (Knuth multiplicative constants) then an
    exact division by a power-of-two-free denominator — both engines
    see the same double literals because we inline the computed values
    into the Spark plan and the SQL text from this single function.
    """
    return [
        [(((i * 2654435761 + j * 40503 + 12345) % 2000) / 1000.0) - 1.0 for i in range(LSH_DIM)]
        for j in range(n_planes)
    ]


LSH_PLANES = lsh_planes()
