"""Sinks: reference-compat CSV (S9/S10), native partitioned Parquet, and
the publish step (S11) as a pluggable driver-side hook.

Reference semantics being reproduced:
- S9  append-mode CSV, header only on first write
      (market/non_fq_daily_kline.py:126-132;
       market/delta_non_fq_daily_kline.py:101-107)
- S10 overwrite CSV (market/delta_non_fq_daily_kline.py:151;
       market/trade_calendar.py:29)
- S11 publish artifact to a remote dataset repo
      (market/non_fq_daily_kline.py:141-146) — the hub client is not
      part of the engine; modeled as a `Publisher` protocol, implemented
      by a local dir that stands in for the hub repo.

The compat sinks write text lines: `csv_line` renders a row with the
CSV writer's own generator and options, so a line written once can be
passed through a later rewrite unparsed. The delta publish
(`flows.delta_flow`) is such a rewrite, done by `splice_csv` in the
driver without a Spark job: the published file is a sequence of
segments (the backfill, then one tail per cycle), and a segment index
records each segment's byte offset and max date. Segments no merge can
touch are copied byte for byte, the later ones are filtered line by
line on their `code,date` prefix, and the delta's lines go last. Those
lines were collected on the delta's own pin; `append_lines` stages the
same bytes. Once the index describes the file, only the lines a merge
can reach are parsed (O(delta)); the rest is a byte copy plus the
sha256 that checks the index. Without a valid index every line is
parsed, in one pass.

Scale note: the compat sinks intentionally produce ONE file because the
reference's contract is one canonical CSV. `append_csv` and
`overwrite_csv` (the backfill and calendar writes, whose input is the
whole history) stream partition files driver-side without collecting
rows into memory; only `append_lines` takes bytes the driver already
holds, a delta bounded by its date window. The native sink is the
100 TB path: Parquet partitioned by `date` (partition pruning on the
incremental read path), append/overwrite via Spark's committer.
"""

from __future__ import annotations

import glob
import hashlib
import io
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CSV_OPTS = {
    # match pandas to_csv defaults the reference relies on:
    # ISO dates, empty string for null, no quoting unless needed
    "dateFormat": "yyyy-MM-dd",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss",
    "emptyValue": "",
    "nullValue": "",
}


def csv_line() -> Column:
    """A row, every column in order, as one headerless CSV line,
    rendered by the same generator and options as Spark's CSV writer."""
    return F.to_csv(F.struct(F.col("*")), CSV_OPTS)


def csv_lines(df: DataFrame) -> DataFrame:
    """df's rows as headerless CSV lines (one `value` column)."""
    return df.select(csv_line().alias("value"))


def _write_lines(lines: DataFrame, path: str, mode: str, header: str | None) -> None:
    """Write text lines as part-files in a temp dir beside `path`, then
    copy their bytes into `path` in part order (no driver collect)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.dirname(path) or ".") as tmp:
        stage = os.path.join(tmp, "stage")
        lines.write.text(stage)
        with open(path, mode + "b") as out:
            if header is not None:
                out.write((header + "\n").encode())
            for p in sorted(glob.glob(os.path.join(stage, "part-*"))):
                with open(p, "rb") as src:
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


def append_lines(data: bytes, path: str, header: str) -> None:
    """S9 for lines the driver already holds (rendered by `csv_line`):
    append `data` to `path`, writing `header` first only if the file
    does not exist yet. No Spark job runs."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    first_write = not os.path.exists(path)  # header_once predicate
    with open(path, "ab") as out:
        if first_write:
            out.write((header + "\n").encode())
        out.write(data)


def overwrite_csv(df: DataFrame, path: str) -> None:
    """S10: full single-file rewrite, header always."""
    _write_lines(csv_lines(df), path, "w", ",".join(df.columns))


def _key(line: bytes) -> tuple[bytes, bytes]:
    """A line's (code, date): its first two fields, which never need
    CSV quoting."""
    code, _, rest = line.partition(b",")
    return code, rest.partition(b",")[0]


def splice_csv(
    old: str | None,
    index: dict | None,
    delta: bytes,
    out: str,
    header: str,
    replace_after: str | None = None,
) -> dict:
    """Write `out` = the published CSV `old` (None: nothing published
    yet) followed by `delta`'s lines, and return `out`'s segment index.

    An index is `{"size", "sha256", "segments": [[offset, max_date]]}`
    over the file's bytes; each segment runs from its offset to the
    next one's (the last to the end of the file), and max_date bounds
    the ISO dates of its lines. `index` is `old`'s index as an earlier
    splice returned it; one that is missing or whose size or sha256
    does not match `old` counts as one segment after the header with an
    unknown max date, so every line is read.

    `replace_after` None (compat) drops nothing: `out` is `old` with the
    delta appended. A date (merge) drops every old line whose (code,
    date) the delta carries — the caller guarantees all such dates are
    after it, so segments whose max date is not are copied byte for
    byte; the rest are filtered line by line. Untouched leading
    segments merge into one index row; filtered segments keep a row
    each, bounded by the dates of their kept lines.

    Raises ValueError unless `old`'s first line is `header`: lines are
    only passed through under the header they were written with."""
    hdr = (header + "\n").encode()
    lines = delta.splitlines()
    keys = {_key(ln) for ln in lines} if replace_after else set()
    with open(old, "rb") if old else io.BytesIO(hdr) as src, open(out, "wb") as dst:
        if (first := src.readline()) != hdr:
            raise ValueError(f"{old}: header {first.decode(errors='replace')!r} is not {header!r}")
        size = src.seek(0, os.SEEK_END)
        trusted = bool(old and index and index.get("size") == size)
        rows = [(len(hdr), None)] if old else []  # unknown layout: one segment, all read
        if trusted:
            rows = [tuple(r) for r in index["segments"]]
        # the first segment that can hold a delta key; the ones before it are copied
        cut = next(
            (i for i, (_, top) in enumerate(rows) if top is None or (keys and top > replace_after)),
            len(rows),
        )
        ends = [off for off, _ in rows[1:]] + [size]
        segments = [[len(hdr), max(top for _, top in rows[:cut])]] if cut else []
        src.seek(0)
        read = hashlib.sha256()  # every byte of `old`, to check the index against
        prefix = ends[cut - 1] if cut else len(hdr)
        for chunk in iter(lambda: src.read(min(1 << 22, prefix - src.tell())), b""):
            read.update(chunk)
            dst.write(chunk)
        wrote = read.copy()  # every byte of `out`
        for end in ends[cut:]:
            start, top = dst.tell(), b""
            while src.tell() < end and (line := src.readline()):
                read.update(line)
                key = _key(line)
                if key not in keys:
                    line = line if line.endswith(b"\n") else line + b"\n"
                    dst.write(line)
                    wrote.update(line)
                    top = max(top, key[1])
            if top:
                segments.append([start, top.decode()])
        if lines:
            segments.append([dst.tell(), max(_key(ln)[1] for ln in lines).decode()])
            dst.write(delta)
            wrote.update(delta)
    if trusted and read.hexdigest() != index.get("sha256"):
        # same size, other bytes: the index's offsets mean nothing here
        return splice_csv(old, None, delta, out, header, replace_after)
    return {"size": os.path.getsize(out), "sha256": wrote.hexdigest(), "segments": segments}


def write_native(
    df: DataFrame,
    path: str,
    mode: str = "append",
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
        # prefix with the partition column: the dynamic-partition writer
        # requires an ordering on it and would re-sort (unstably,
        # destroying the clustering) unless the input already satisfies it
        df = df.sortWithinPartitions("date", *cluster_by)
    if mode == "overwrite_partitions":
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("date").parquet(path)
        return
    df.write.mode(mode).partitionBy("date").parquet(path)


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
        """Atomic: a copy that fails part-way leaves the old file whole."""
        dst = os.path.join(self.repo_dir, repo_path)
        os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
        tmp = dst + ".tmp"
        try:
            shutil.copyfile(local_path, tmp)
            os.replace(tmp, dst)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def download(self, repo_path: str) -> str:
        return os.path.join(self.repo_dir, repo_path)

    def exists(self, repo_path: str) -> bool:
        return os.path.exists(os.path.join(self.repo_dir, repo_path))

