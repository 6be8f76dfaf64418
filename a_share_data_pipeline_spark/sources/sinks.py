"""Sinks: reference-compat CSV (S9/S10), native partitioned Parquet, and
the publish step (S11) as a pluggable driver-side hook.

Reference semantics being reproduced:
- S9  append-mode CSV, header only on first write
      (market/non_fq_daily_kline.py:126-132;
       market/delta_non_fq_daily_kline.py:101-107)
- S10 overwrite CSV (market/delta_non_fq_daily_kline.py:151;
       market/trade_calendar.py:29)
- S11 publish artifact to a remote dataset repo
      (market/non_fq_daily_kline.py:141-146) — hub client is not part of
      the engine; modeled as a `Publisher` protocol with a local-dir
      implementation for tests and a stub for the real hub.

Scale note: the compat sinks intentionally produce ONE file because the
reference's contract is one canonical CSV; they stream partition files
driver-side without collecting rows into memory. The native sink is the
100 TB path: Parquet partitioned by `date` (partition pruning on the
incremental read path), append/overwrite via Spark's committer.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Iterable

from pyspark.sql import DataFrame

CSV_OPTS = {
    # match pandas to_csv defaults the reference relies on:
    # ISO dates, empty string for null, no quoting unless needed
    "dateFormat": "yyyy-MM-dd",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss",
    "emptyValue": "",
    "nullValue": "",
}


def _write_headerless_csv_dir(df: DataFrame, out_dir: str) -> list[str]:
    """Write df as headerless CSV part-files; return sorted part paths."""
    df.write.mode("overwrite").options(**CSV_OPTS).csv(out_dir)
    return sorted(glob.glob(os.path.join(out_dir, "part-*.csv")) or glob.glob(os.path.join(out_dir, "part-*")))


def _concat_into(parts: Iterable[str], target: str, mode: str, header: str | None) -> None:
    with open(target, mode, encoding="utf-8") as out:
        if header is not None:
            out.write(header + "\n")
        for p in parts:
            with open(p, encoding="utf-8") as src:
                shutil.copyfileobj(src, out)


def append_csv(df: DataFrame, path: str) -> None:
    """S9: append rows to ONE csv file; write the header only if the
    file does not exist yet (reference header-once semantics).

    Partition part-files are streamed into the target without a driver
    collect; ordering across partitions is unspecified, as in any
    distributed append (the reference appends per-stock sequentially —
    its order is an artifact of the driver loop, not a contract).
    """
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    first_write = not os.path.exists(path)  # header_once predicate
    with tempfile.TemporaryDirectory(dir=os.path.dirname(path) or ".") as tmp:
        parts = _write_headerless_csv_dir(df, os.path.join(tmp, "stage"))
        header = ",".join(df.columns) if first_write else None
        _concat_into(parts, path, "a", header)


def overwrite_csv(df: DataFrame, path: str) -> None:
    """S10: full single-file rewrite, header always."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.dirname(path) or ".") as tmp:
        parts = _write_headerless_csv_dir(df, os.path.join(tmp, "stage"))
        _concat_into(parts, path, "w", ",".join(df.columns))


def write_native(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = ("date",),
    cluster_by: tuple[str, ...] = (),
) -> None:
    """The scale path: Parquet partitioned by date. Incremental readers
    get static partition pruning on `date`; appends add new partitions
    without touching existing ones.

    `cluster_by` sorts rows WITHIN each task before writing (no extra
    shuffle) — parquet row-group min/max stats on the sorted column
    become tight, so selective scans (`WHERE code = X`) skip row groups
    instead of reading whole date partitions.

    mode='overwrite_partitions' is the IDEMPOTENT batch write: dynamic
    partition overwrite replaces exactly the partitions present in
    `df` and leaves every other partition untouched. Replaying the
    same batch (crash between sink write and offset commit) converges
    to the same bytes instead of duplicating rows — this is what turns
    an at-least-once foreachBatch sink into an effectively-exactly-once
    one."""
    if cluster_by:
        # prefix with the partition columns: the dynamic-partition writer
        # requires an ordering on them and would re-sort (unstably,
        # destroying the clustering) unless the input already satisfies it
        df = df.sortWithinPartitions(*partition_by, *cluster_by)
    if mode == "overwrite_partitions":
        if not partition_by:
            raise ValueError("overwrite_partitions requires partition_by")
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(*partition_by).parquet(path)
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


class Publisher:
    """S11 protocol: push a finished local artifact to a dataset repo."""

    def upload(self, local_path: str, repo_path: str) -> None:  # pragma: no cover
        raise NotImplementedError


class LocalDirPublisher(Publisher):
    """Test/compat implementation: 'publishing' = copy into a directory
    that stands in for the hub repo (download = read same path)."""

    def __init__(self, repo_dir: str):
        self.repo_dir = repo_dir
        os.makedirs(repo_dir, exist_ok=True)

    def upload(self, local_path: str, repo_path: str) -> None:
        dst = os.path.join(self.repo_dir, repo_path)
        os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
        shutil.copyfile(local_path, dst)

    def download(self, repo_path: str) -> str:
        return os.path.join(self.repo_dir, repo_path)

    def exists(self, repo_path: str) -> bool:
        return os.path.exists(os.path.join(self.repo_dir, repo_path))


class HubPublisher(Publisher):  # pragma: no cover - network client not in container
    """Real-hub stub: the huggingface_hub client is an external
    dependency, deliberately outside the engine (SURVEY.md §2.1 S11)."""

    def __init__(self, repo_id: str):
        self.repo_id = repo_id

    def upload(self, local_path: str, repo_path: str) -> None:
        raise NotImplementedError("hub client not available in this environment")
