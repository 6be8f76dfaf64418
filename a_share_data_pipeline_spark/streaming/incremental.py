"""Watermark-driven incremental engine (T1-T3).

The reference hand-rolls incrementality: a `.last_update_date` text
file holding a yyyyMMdd high-water mark, a wall-clock day loop from
watermark+1 to today, per-day fetch/skip-if-empty, then
download→UNION ALL→overwrite→upload, and finally advance the watermark
(market/delta_non_fq_daily_kline.py:29-41, 63-108, 135-167).

Spark restatement (the cycle itself is `flows.delta_flow`):
- the day loop + per-day fetch become ONE range filter (wm, end] on
  each fact scan, optionally SEMI-joined with the trading calendar
  (the reference HAS the calendar but iterates wall-clock days and
  skips empties — we fix that, and keep the skip as a fallback); at
  100 TB this prunes to exactly the new date partitions,
- download→UNION ALL→overwrite becomes a byte splice in the driver
  (`flows.delta_flow` with `sinks.splice_csv`): the old published
  bytes pass through unparsed, the delta's lines are appended. 'compat'
  drops nothing — the reference's UNION ALL, a pure append, so a crash
  rerun can duplicate (code,date) rows (documented semantics, SURVEY.md
  §2.4 U1); 'merge' first drops the old lines whose (code,date) the
  delta carries (delta wins), so reruns are idempotent. A segment index
  beside the published file bounds that filter to the segments the
  delta's window can reach. Lines outside the delta's keys are never
  touched: duplicates an earlier compat rerun left there stay,
- `merge_increment` is the same two modes over DataFrames (UNION ALL /
  row_number dedup on the key, last-writer-wins), for frames that are
  not a published file (`merge_idempotent` in plans/queries_pipeline),
- the watermark advances only after the sink succeeds, mirroring the
  reference's ordering (upload, then watermark).

Late data: in compat mode a row landing before the watermark is lost
forever, exactly like the reference (SURVEY.md §2.9); `slack_days`
re-reads a trailing window to do strictly better when merge mode is on.
"""

from __future__ import annotations

import os
from datetime import date, datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WIRE_FMT = "%Y%m%d"  # yyyyMMdd, as the reference stores it


class WatermarkStore:
    """File-based high-water mark, wire-compatible with the reference's
    `.last_update_date` (one yyyyMMdd line)."""

    def __init__(self, path: str):
        self.path = path

    def read(self) -> date | None:
        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            raw = f.read().strip()  # F5: reference strips whitespace
        return datetime.strptime(raw, WIRE_FMT).date() if raw else None

    def write(self, day: date) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            f.write(day.strftime(WIRE_FMT))
        os.replace(tmp, self.path)  # atomic advance


def merge_increment(
    existing: DataFrame,
    delta: DataFrame,
    keys: list[str] | None = None,
    mode: str = "compat",
) -> DataFrame:
    """U1: 'compat' = bag UNION ALL (reference semantics, duplicates
    possible on rerun); 'merge' = idempotent, delta wins on key clash."""
    if mode == "compat":
        return existing.unionByName(delta)
    if mode == "merge":
        if not keys:
            raise ValueError("merge mode requires keys")
        marked = existing.withColumn("__gen", F.lit(0)).unionByName(
            delta.withColumn("__gen", F.lit(1))
        )
        w_cols = [F.col(k) for k in keys]
        from pyspark.sql import Window as W

        w = W.partitionBy(*w_cols).orderBy(F.col("__gen").desc())
        return (
            marked.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__gen")
        )
    raise ValueError(f"unknown mode: {mode}")
