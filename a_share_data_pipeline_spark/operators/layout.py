"""Multi-dimensional storage layout: Z-order (Morton) clustering.

`write_native`'s `cluster_by` tightens parquet min/max stats on ONE
column; queries that filter on two independent columns (e.g.
`code = X AND totalprice > Y`) need locality in BOTH. Z-ordering
interleaves the bits of the (range-scaled) columns into a single sort
key, so any contiguous key range covers a small hyper-rectangle of the
value space — every z-clustered file/row-group gets narrow min/max
spans on EVERY participating column, and selective scans skip most of
the data regardless of which dimension the predicate hits.

Scale shape: one tiny min/max aggregation for the scaling bounds, then
the key is a pure codegen expression; the layout write is
`repartitionByRange` on the key (one shuffle — the same shuffle any
layout rewrite pays) + an in-task sort. This is the standard lakehouse
OPTIMIZE ZORDER BY shape, built from Spark primitives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ZORDER_COL = "__zorder"
ZORDER_BITS = 8  # Morton bits per column
ZORDER_FILES = 16  # files zorder_write rewrites a table into


def _input_file_bytes(df: DataFrame) -> int:
    """On-disk bytes of the frame's scanned files, summed driver-side
    from `df.inputFiles()` — the Spark Connect fallback for plan-stats
    sizing (and exact where plan stats would apply a compression
    factor). Only `file:` paths are walkable without a JVM FS client."""
    import os
    from urllib.parse import unquote, urlparse

    total = 0
    for p in df.inputFiles():
        u = urlparse(p)
        if u.scheme not in ("", "file"):
            raise NotImplementedError(
                f"compact_files sizing needs the JVM plan stats for scheme "
                f"{u.scheme!r}; only local files are walkable without it"
            )
        total += os.path.getsize(unquote(u.path))
    return total


def zorder_key(df: DataFrame, cols: list[str]) -> DataFrame:
    """Attach the Morton key for `cols` (numeric; cast to double for
    range scaling). ZORDER_BITS per column; ZORDER_BITS·len(cols) must
    fit a long.

    The min/max bounds come from one tiny aggregation job; at 100 TB
    use table-level statistics instead — only the literals change."""
    if ZORDER_BITS * len(cols) > 62:
        raise ValueError("ZORDER_BITS * len(cols) must fit in a signed long")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{j}") for j, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{j}") for j, c in enumerate(cols)],
    ).first()
    scaled: list[Column] = []
    top = (1 << ZORDER_BITS) - 1
    for j, c in enumerate(cols):
        mn, mx = stats[f"mn_{j}"], stats[f"mx_{j}"]
        rng = (mx - mn) if (mx is not None and mx > mn) else 1.0
        b = F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(rng) * (1 << ZORDER_BITS))
        scaled.append(F.greatest(F.least(b, F.lit(top)), F.lit(0)).cast("long"))
    key: Column | None = None
    for i in range(ZORDER_BITS):
        for j, b in enumerate(scaled):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            term = bit * F.lit(1 << (i * len(scaled) + j))
            key = term if key is None else key + term
    return df.withColumn(ZORDER_COL, key.cast("long"))


def compact_files(
    df: DataFrame,
    dst_path: str,
    target_bytes: int = 128 << 20,
    sort_col: str | None = None,
) -> int:
    """Small-file compaction (the lakehouse OPTIMIZE shape): rewrite a
    fragmented table as ceil(table_bytes / target_bytes) files.
    Streaming ingests and per-batch appends leave thousands of KB-MB
    files; at 100 TB the resulting task-scheduling and footer-read
    overhead dominates scans, so periodic compaction to ~128 MB files
    is standard table maintenance.

    The size estimate comes from Catalyst's plan statistics (file
    footer sizes — no driver-side FS walk, works on any scheme). That
    path reads the local JVM gateway (`df._jdf`); under Spark Connect
    there is no gateway, so it falls back to summing the scan's input
    file sizes (`df.inputFiles()` — exact on-disk bytes for local
    paths; non-local schemes without a JVM have no FS client and
    raise). With ``sort_col`` the rewrite range-partitions + sorts on
    it, so compaction and re-clustering (tight per-file min/max on the
    sort column) happen in the same single shuffle any rewrite pays.
    Returns the target file count."""
    import math

    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # Spark Connect / no local JVM gateway
        size = _input_file_bytes(df)
    n = max(1, math.ceil(size / target_bytes))
    if sort_col is not None:
        out = df.repartitionByRange(n, F.col(sort_col)).sortWithinPartitions(sort_col)
    else:
        out = df.repartition(n)
    out.write.mode("overwrite").parquet(dst_path)
    return n


def zorder_write(df: DataFrame, path: str, cols: list[str]) -> None:
    """Rewrite `df` as ZORDER_FILES z-clustered parquet files: range-
    partition on the Morton key (contiguous key ranges per file), sort
    within each task, drop the key before writing."""
    keyed = zorder_key(df, cols)
    (
        keyed.repartitionByRange(ZORDER_FILES, ZORDER_COL)
        .sortWithinPartitions(ZORDER_COL)
        .drop(ZORDER_COL)
        .write.mode("overwrite")
        .parquet(path)
    )
