"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition before an explode fan-out: document tables often
    arrive in a handful of file splits, and a 50-100× gram/window
    expansion would otherwise run with the input's file parallelism —
    often ONE task.

    The target is ``spark.sql.shuffle.partitions``, an integer (Spark
    rejects any other value when it is set). The current-parallelism
    probe reads ``df.rdd`` — a driver-side plan-to-RDD conversion (no
    job), which assumes a classic (non-Connect) session like the rest
    of this package's plan gates."""
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target, key)
    return df


def const_array2d(matrix: list[list[float]]) -> "Column":
    """A 2-D double matrix as ONE constant-folded plan literal.

    `F.array(F.array(F.lit(x)...))` materializes k·d Literal +
    CreateArray nodes — at 16×64 (random projection), 8×64 (k-means
    centroids) or 64×64 (banded LSH planes) the driver spends SECONDS
    per query in analysis/optimization/codegen walking those trees
    (measured: sim_random_projection 2.97s → 1.38s at sf0.1 from this
    change alone). Routing the matrix through `from_json` over one
    literal string collapses it: ConstantFolding evaluates the parse at
    optimization time into a single ArrayType Literal (verified against
    the optimized plan — no per-row parsing), and JSON round-trips the
    shortest double repr exactly, so the folded values are
    bit-identical to the literals the DuckDB oracles inline."""
    import json

    from pyspark.sql import functions as F

    return F.from_json(F.lit(json.dumps(matrix)), "array<array<double>>")
