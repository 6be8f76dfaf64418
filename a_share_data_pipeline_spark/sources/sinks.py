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

The compat sinks write text lines: `csv_lines` renders rows with the
CSV writer's own generator and options, so a line written once can be
passed through a later rewrite unparsed. The delta publish
(`flows.delta_flow`) is such a rewrite: `read_lines` filters the old
published file as text — header checked, lines whose (code, date)
prefix the delta replaces dropped by a broadcast anti-join — and
`overwrite_csv(delta, path, keep=...)` writes the kept lines followed
by the delta's lines. Nothing is parsed and nothing is shuffled.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CSV_OPTS = {
    # match pandas to_csv defaults the reference relies on:
    # ISO dates, empty string for null, no quoting unless needed
    "dateFormat": "yyyy-MM-dd",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss",
    "emptyValue": "",
    "nullValue": "",
}


def csv_lines(df: DataFrame) -> DataFrame:
    """df's rows as headerless CSV lines (one `value` column), rendered
    by the same generator and options as Spark's CSV writer."""
    return df.select(F.to_csv(F.struct(*df.columns), CSV_OPTS).alias("value"))


def read_lines(
    spark: SparkSession, path: str, header: str, drop: DataFrame | None = None
) -> DataFrame:
    """The data lines of a CSV file these sinks wrote, unparsed (one
    `value` column), ready to pass through `overwrite_csv(keep=...)`.

    Raises ValueError unless the file's first line is `header`: lines
    are only passed through under the header they were written with.
    `drop` holds rows of the file's leading columns, in order (its
    key); every line whose rendered prefix equals a rendered `drop` row
    is removed by a broadcast anti-join on the text. The key columns
    must never need CSV quoting (codes and ISO dates do not)."""
    with open(path, encoding="utf-8") as f:
        first = f.readline().rstrip("\n")
    if first != header:
        raise ValueError(f"{path}: header {first!r} is not {header!r}")
    lines = spark.read.text(path).filter(F.col("value") != header)
    if drop is None:
        return lines
    n = len(drop.columns)
    keys = csv_lines(drop).withColumnRenamed("value", "key")
    prefix = F.substring_index(lines["value"], ",", n)
    return lines.join(F.broadcast(keys), prefix == keys["key"], "left_anti")


def _write_lines(lines: DataFrame, path: str, mode: str, header: str | None) -> None:
    """Write text lines as part-files in a temp dir beside `path`, then
    stream them into `path` in part order (no driver collect)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.dirname(path) or ".") as tmp:
        stage = os.path.join(tmp, "stage")
        lines.write.text(stage)
        with open(path, mode, encoding="utf-8") as out:
            if header is not None:
                out.write(header + "\n")
            for p in sorted(glob.glob(os.path.join(stage, "part-*"))):
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
    first_write = not os.path.exists(path)  # header_once predicate
    _write_lines(csv_lines(df), path, "a", ",".join(df.columns) if first_write else None)


def overwrite_csv(df: DataFrame, path: str, keep: DataFrame | None = None) -> None:
    """S10: full single-file rewrite, header always. `keep` (lines from
    `read_lines`) is written first, byte-for-byte, then df's rows."""
    lines = csv_lines(df) if keep is None else keep.unionByName(csv_lines(df))
    _write_lines(lines, path, "w", ",".join(df.columns))


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
