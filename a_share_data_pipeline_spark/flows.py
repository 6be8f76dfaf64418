"""The reference's three flow entry points, re-expressed as Spark jobs.

Reference (SURVEY.md §3):
  1. fetch_non_fq_daily_kline  (market/non_fq_daily_kline.py:159-174)
     — full backfill: per-stock fetch → 3-way merge → dim enrich →
       CSV append → publish → set watermark
  2. fetch_delta_non_fq_daily_kline
     (market/delta_non_fq_daily_kline.py:170-181)
     — incremental: watermark → per-day fetch → merge → inner-join dim
       → append → download+UNION ALL+overwrite published → advance wm
       (here: a byte splice of the published file, see delta_flow)
  3. fetch_trade_calendar_flow (market/trade_calendar.py:45-50)
     — calendar: fetch open days → cast → sort → overwrite → publish

The per-stock / per-day driver loops become ONE lazy plan each: the
loop dimension is just a filter on the scan (Catalyst prunes it into
the source), and the reference's 3-thread fetch barrier disappears —
the three fact tables are three scans joined in one job, parallelism
comes from partitioning, not threads.

Sources arrive as plain DataFrames, read through the `ashare_api`
data source (`AShareApiDataSource`, sources/api_source.py) or from
parquet — the engine never knows whether rows came from Tushare,
fixtures, or parquet.
"""

from __future__ import annotations

import json
import os
import tempfile
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import assembly
from .schemas import CANONICAL
from .session import pin
from .sources import sinks
from .streaming.incremental import WatermarkStore

PRICES_FILE = "all-prices.csv"
CALENDAR_FILE = "calendar.csv"
WATERMARK_FILE = ".last_update_date"
SEGMENTS_FILE = ".all-prices.segments.json"  # PRICES_FILE's segment index


def backfill_flow(
    spark: SparkSession,
    daily: DataFrame,
    stk_limit: DataFrame,
    daily_basic: DataFrame,
    stock_basic: DataFrame,
    out_path: str,
    publisher: sinks.Publisher | None = None,
    watermark: WatermarkStore | None = None,
    end: date | None = None,
) -> DataFrame:
    """Entry point 1. The reference iterates filtered dim keys and
    appends per stock (market/non_fq_daily_kline.py:54-58); here the
    key-driven scan IS the left join against the filtered dim — same
    output set, one declarative plan (SURVEY.md §2.3 'key asymmetry')."""
    canonical = assembly.assemble_canonical(
        daily, stk_limit, daily_basic, stock_basic, mode="backfill"
    )
    sinks.append_csv(canonical, out_path)
    if publisher is not None:
        publisher.upload(out_path, PRICES_FILE)
    if watermark is not None and end is not None:
        watermark.write(end)  # initial watermark set, ref :148-156
        if publisher is not None:
            publisher.upload(watermark.path, WATERMARK_FILE)
    return canonical


def delta_flow(
    spark: SparkSession,
    daily: DataFrame,
    stk_limit: DataFrame,
    daily_basic: DataFrame,
    stock_basic: DataFrame,
    staging_path: str,
    publisher: sinks.LocalDirPublisher,
    watermark: WatermarkStore,
    end: date,
    calendar: DataFrame | None = None,
    mode: str = "compat",
    slack_days: int = 0,
) -> DataFrame | None:
    """Entry point 2. The reference's day loop + skip-empty + thread
    barrier (market/delta_non_fq_daily_kline.py:71-107) collapses to a
    date-range filter on each fact scan — at scale this is static
    partition pruning to exactly the pending date partitions.

    The delta is evaluated ONCE, in one ``pin``, and the staged lines
    ride the pin: its own job also collects every row's CSV line
    (``sinks.csv_line``), joined into one string. The empty check, the staging append, the
    publish and the returned frame all see the same rows, even from a
    nondeterministic source. The driver holds the whole delta, which
    its date window bounds.

    No Spark job runs after the pin. The flow appends the lines to the
    staging file itself (header once) and splices the same bytes into
    the publish, in the driver. The old published file's header is
    checked against CANONICAL (a mismatch raises before upload, so the
    watermark stays put), and the new file is the old lines followed by
    the delta's lines. A segment index (SEGMENTS_FILE) beside the
    published file tells `sinks.splice_csv` which leading bytes no
    merge can touch; those are copied as they are, the rest filtered
    line by line. The file is uploaded before its index and both before
    the watermark.

    mode='compat' (default) keeps reference semantics on purpose:
    published = old UNION ALL new with NO dedup (U1 — a crash rerun
    duplicates rows), and late rows before the watermark are lost
    forever (§2.9). The publish is a pure append.

    mode='merge' is the strictly-better upgrade the reference can't do:
    the delta window re-opens `slack_days` behind the watermark (so a
    source backfilling a recent past date is picked up), and every old
    line whose (code, date) the delta carries is dropped — reruns and
    the re-read slack window replace their keys, delta rows winning.
    Only segments with a date after the window's start can hold such
    a line. Lines outside the delta's keys are kept as they are:
    duplicates an earlier compat rerun left outside the window stay
    duplicated. A hub maintained in merge mode from a backfill stays
    key-unique."""
    if mode not in ("compat", "merge"):
        raise ValueError(f"unknown mode: {mode}")
    wm = watermark.read()
    if wm is None:
        raise ValueError("delta flow needs an existing watermark")

    slack_from = wm - timedelta(days=slack_days) if mode == "merge" else wm
    lo = F.lit(slack_from.strftime("%Y%m%d"))
    hi = F.lit(end.strftime("%Y%m%d"))
    in_range = lambda df: df.filter(  # noqa: E731
        (F.col("trade_date") > lo) & (F.col("trade_date") <= hi)
    )
    if calendar is not None:
        # improvement over the reference (which fetches wall-clock days
        # and skips empties): semi-join facts to open trading days
        cal = calendar.select(F.col("cal_date").alias("trade_date"))
        in_range_cal = lambda df: in_range(df).join(  # noqa: E731
            F.broadcast(cal), "trade_date", "left_semi"
        )
    else:
        in_range_cal = in_range

    delta, seen = pin(
        assembly.assemble_canonical(
            in_range_cal(daily),
            in_range_cal(stk_limit),
            in_range_cal(daily_basic),
            stock_basic,
            mode="delta",  # inner dim join doubles as the main-board filter (J3)
        ),
        lines=F.concat_ws("\n", F.collect_list(sinks.csv_line())),
    )
    if not seen["lines"]:  # P6: no new rows → no publish, no advance
        return None

    header = ",".join(CANONICAL.fieldNames())
    delta_lines = (seen["lines"] + "\n").encode()
    sinks.append_lines(delta_lines, staging_path, header)  # local delta CSV, ref :101-107

    old = index = None
    if publisher.exists(PRICES_FILE):
        old = publisher.download(PRICES_FILE)
        if publisher.exists(SEGMENTS_FILE):
            with open(publisher.download(SEGMENTS_FILE)) as f:
                index = json.load(f)
    with tempfile.TemporaryDirectory(dir=os.path.dirname(staging_path) or ".") as tmp:
        published_local = os.path.join(tmp, PRICES_FILE)
        segments_local = os.path.join(tmp, SEGMENTS_FILE)
        # compat: U1 bag union, nothing dropped; merge: delta keys replace old lines
        replace_after = slack_from.isoformat() if mode == "merge" else None
        index = sinks.splice_csv(old, index, delta_lines, published_local, header, replace_after)
        with open(segments_local, "w") as f:
            json.dump(index, f)
        # file before index: a crash between the two leaves an index that
        # no longer matches the file, which the next splice ignores
        publisher.upload(published_local, PRICES_FILE)
        publisher.upload(segments_local, SEGMENTS_FILE)

    watermark.write(end)  # advance ONLY after publish success (T1)
    publisher.upload(watermark.path, WATERMARK_FILE)
    return delta


def calendar_flow(
    spark: SparkSession,
    trade_cal: DataFrame,
    out_path: str,
    publisher: sinks.Publisher | None = None,
) -> DataFrame:
    """Entry point 3 (market/trade_calendar.py:24-29): open days only
    (the is_open='1' predicate is pushed into the source), cast, sort
    ascending, single-file overwrite, publish."""
    cal = (
        trade_cal.select(F.to_date(F.col("cal_date"), "yyyyMMdd").alias("cal_date"))
        .orderBy("cal_date")
    )
    sinks.overwrite_csv(cal, out_path)
    if publisher is not None:
        publisher.upload(out_path, CALENDAR_FILE)
    return cal
