"""Batch readers for the engine's at-rest formats.

Parquet is the native format (columnar, footer schema, predicate/column
pushdown for free). CSV is kept as a reference-compat format (the
reference stores everything as CSV — SURVEY.md §1.1) and always takes an
explicit schema, never inference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver testdata table. Parquet scan → Catalyst pushes
    filters/projections into the file scan (check .explain for
    PushedFilters/ReadSchema)."""
    # Defensive runtime confs — the caller may be a session built
    # outside session.py (e.g. the driver harness): timestamps must be
    # interpreted in UTC to match the (timezone-naive) DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) and
        # TIMESTAMP(MICROS) across testdata generations; nanosAsLong
        # covers the NANOS case (Spark cannot represent it natively and
        # would otherwise fail the scan).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) read as raw int64 nanos: truncate to
            # micros exactly like DuckDB. Integer `div`, not `/` —
            # float division of ~1.7e18 nanos loses precision past the
            # 53-bit double mantissa.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false): relabel to
            # TIMESTAMP — exact under the UTC session tz forced above,
            # and keeps every downstream query/oracle seeing one type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif ts_type == "timestamp":
            # TIMESTAMP(MICROS, isAdjustedToUTC=true): already the type
            # every downstream query expects.
            pass
        else:
            # fail at load time, not as a confusing oracle mismatch three
            # operators downstream, if a future testdata generation ships
            # events.ts as yet another physical type
            raise ValueError(f"unexpected events.ts dtype {ts_type}")
    return df


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Reference-compat CSV read with a fixed schema (reference re-reads
    its own CSVs at market/delta_non_fq_daily_kline.py:138,149)."""
    return spark.read.schema(schema).option("header", "true").csv(path)
