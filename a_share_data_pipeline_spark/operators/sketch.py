"""Probabilistic-sketch operators: Bloom-filter join pruning and a
count-min sketch, both built from plain Catalyst expression trees.

Why hand-built sketches in a Spark engine that has runtime filtering
and ``count_min_sketch``? Two reasons:

- **Bounded driver state by construction.** The Bloom build collects at
  most ``BLOOM_M_BITS/64`` aggregated words (8 KiB for its 2^16-bit
  filter) no matter how many keys feed it — the collect is O(m), a
  constant, never O(keys). That is the property that makes the
  pattern usable when the build side is 10^9 keys: the raw key set is
  GBs and unbroadcastable, the Bloom bitset is KBs. Spark's own
  InSubqueryExec/bloom runtime filters do the same thing internally;
  building it explicitly makes the prune available to any probe
  expression (streaming batches, Python lanes, multi-use) and keeps
  it under test.
- **Oracle determinism.** The count-min sketch is keyed on md5 hex
  *prefixes* (strings), so DuckDB reproduces the identical sketch and
  the correctness harness hash-verifies the ESTIMATES, not just a
  contract bit. The Bloom filter may use xxhash64 (Spark-only)
  because its false positives are removed by an exact semi-join — the
  query result is exact regardless of the filter's contents.

Reference scope note: the reference pipeline (ellendan000/
a-share-data-pipeline, market/*.py) has no sketch surface; these are
§2.12 north-star operators for the 100 TB curation engine.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Bloom filter: expression-built, O(m)-bounded collect, literal broadcast
# ---------------------------------------------------------------------------

BLOOM_SEEDS: tuple[int, ...] = (0x51, 0x52, 0x53)
BLOOM_M_BITS = 1 << 16  # 65536 bits = 1024 longs = 8 KiB


def bloom_build(keys: DataFrame, key_col: str) -> list[int]:
    """Aggregate a Bloom bitset over ``keys[key_col]``.

    One shuffle of (word_index, partial-OR) pairs — the partial
    aggregation ORs map-side, so at most ``BLOOM_M_BITS/64`` rows per task
    reach the exchange regardless of input size — then a collect
    bounded at ``BLOOM_M_BITS/64`` rows. Returns the dense word list.
    """
    n_words = BLOOM_M_BITS // 64
    seeds = F.array(*[F.lit(s) for s in BLOOM_SEEDS])
    pos = keys.select(
        F.col(key_col).alias("k"), F.explode(seeds).alias("s")
    ).select(F.pmod(F.xxhash64("k", "s"), F.lit(BLOOM_M_BITS)).alias("pos"))
    words = (
        pos.select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, CAST(pmod(pos, 64) AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    dense = [0] * n_words
    for row in words:
        dense[row["w"]] = row["bits"]
    return dense


def bloom_might_contain(df: DataFrame, key_col: str, words: list[int]) -> DataFrame:
    """Filter ``df`` to rows whose ``key_col`` MIGHT be in the filter.

    Map-only: the bitset rides the plan as one array<bigint> literal
    (broadcast with the task binary), each probe is k hashes + k
    bit tests inside whole-stage codegen. No shuffle, no Python.
    False positives pass — follow with an exact semi-join when the
    result must be exact.
    """
    arr = F.lit(words)
    probed = df.withColumn("_bloom_words", arr)
    conds: list[Column] = []
    for i, s in enumerate(BLOOM_SEEDS):
        probed = probed.withColumn(
            f"_bp{i}", F.pmod(F.xxhash64(F.col(key_col), F.lit(s)), F.lit(BLOOM_M_BITS))
        )
        word = F.element_at("_bloom_words", (F.col(f"_bp{i}") / 64).cast("int") + 1)
        probed = probed.withColumn(f"_bw{i}", word)
        conds.append(
            F.expr(f"(_bw{i} & shiftleft(1L, CAST(pmod(_bp{i}, 64) AS INT))) != 0L")
        )
    out = probed.filter(reduce(lambda a, b: a & b, conds))
    drop = ["_bloom_words"] + [c for i in range(len(BLOOM_SEEDS)) for c in (f"_bp{i}", f"_bw{i}")]
    return out.drop(*drop)


# ---------------------------------------------------------------------------
# Count-min sketch: md5-prefix-keyed so DuckDB reproduces it exactly
# ---------------------------------------------------------------------------

CMS_SEEDS: tuple[int, ...] = (0, 1, 2, 3)  # d = 4 rows
CMS_PREFIX_LEN = 2  # w = 16^2 = 256 string-keyed counters per row


def _cms_bucket(seed: int, item: Column) -> Column:
    """Counter key for one sketch row: a 2-hex-char md5 prefix.

    String-keyed on purpose — both engines md5 identically and no
    hex→int conversion exists that they share; the bucket id is the
    prefix itself.
    """
    return F.substring(F.md5(F.concat(F.lit(f"{seed}|"), item)), 1, CMS_PREFIX_LEN)


def cms_build(items: DataFrame) -> DataFrame:
    """The sketch of ``items.term``: (seed, bucket) → total count. At
    most d·w rows (1024 default) regardless of input size; partial
    aggregation means each task emits at most d·w partial rows into the
    one shuffle."""
    seeds = F.array(*[F.lit(s) for s in CMS_SEEDS])
    return (
        items.select(F.col("term").alias("item"), F.explode(seeds).alias("seed"))
        .select(
            "seed",
            F.substring(
                F.md5(F.concat(F.col("seed").cast("string"), F.lit("|"), F.col("item"))),
                1,
                CMS_PREFIX_LEN,
            ).alias("bucket"),
        )
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(candidates: DataFrame, sketch: DataFrame) -> DataFrame:
    """Point-estimate counts for ``candidates.term``: min over the
    d rows of the counter each row hashes the item into.

    The sketch is ≤ d·w rows → broadcast; the probe is a map-side
    join per seed. Estimates never undercount (CMS guarantee) — the
    caller's contract column relies on that being deterministic.
    """
    out = candidates
    for s in CMS_SEEDS:
        row = sketch.filter(F.col("seed") == s).select(
            F.col("bucket").alias(f"_cb{s}"), F.col("cnt").alias(f"_ce{s}")
        )
        out = out.withColumn(f"_cb{s}", _cms_bucket(s, F.col("term"))).join(
            F.broadcast(row), f"_cb{s}", "left"
        )
    est = F.least(*[F.coalesce(F.col(f"_ce{s}"), F.lit(0)) for s in CMS_SEEDS])
    drop = [c for s in CMS_SEEDS for c in (f"_cb{s}", f"_ce{s}")]
    return out.withColumn("est_cnt", est).drop(*drop)


def cms_bucket_sql(seed: int, item_expr: str) -> str:
    """The DuckDB-side twin of `_cms_bucket` — one source of truth for
    the prefix length so the sketches cannot drift apart."""
    return (
        f"substr(md5('{seed}|' || {item_expr}), 1, {CMS_PREFIX_LEN})"
    )
