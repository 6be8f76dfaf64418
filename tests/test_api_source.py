"""M1 API-source shim tests: Python DataSource partitions, filter
pushdown reaching the source (fewer API calls), retry and rate-limit
primitives, and the full backfill assembly running off the source."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

import fixtures_ashare as FX
from a_share_data_pipeline_spark.operators import assembly
from a_share_data_pipeline_spark.sources import api_source
from a_share_data_pipeline_spark.sources.api_source import TokenBucket, with_retry


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("api_fixtures")
    cal = FX.gen_trade_cal()
    basic = FX.gen_stock_basic()
    daily, limit, dbasic = FX.gen_facts(basic, cal)
    for name, pdf in {
        "trade_cal": cal,
        "stock_basic": basic,
        "daily": daily,
        "stk_limit": limit,
        "daily_basic": dbasic,
    }.items():
        pdf.to_csv(str(d / f"{name}.csv"), index=False)
    return str(d), {"cal": cal, "basic": basic, "daily": daily, "limit": limit, "dbasic": dbasic}


@pytest.fixture(scope="module")
def registered(spark):
    api_source.register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark


def _read(spark, fixture_dir, table, **opts):
    reader = (
        spark.read.format("ashare_api")
        .option("table", table)
        .option("fixture_dir", fixture_dir)
    )
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    return reader.load()


def test_by_key_scan(registered, fixture_dir):
    d, pdfs = fixture_dir
    codes = sorted(pdfs["basic"]["ts_code"])[:3]
    got = _read(registered, d, "daily", mode="by_key", keys=",".join(codes)).toPandas()
    want = pdfs["daily"][pdfs["daily"]["ts_code"].isin(codes)]
    assert len(got) == len(want)
    assert set(got["ts_code"]) == set(codes)
    # values arrive as declared doubles, not wire strings
    assert got["close"].dtype == "float64"


def test_by_date_scan_with_range(registered, fixture_dir):
    d, pdfs = fixture_dir
    days = sorted(pdfs["cal"]["cal_date"])
    got = _read(
        registered,
        d,
        "daily",
        mode="by_date",
        keys=",".join(days),
        start_date=days[5],
        end_date=days[9],
    ).toPandas()
    want = pdfs["daily"][
        (pdfs["daily"]["trade_date"] >= days[5]) & (pdfs["daily"]["trade_date"] <= days[9])
    ]
    assert len(got) == len(want)


def test_filter_pushdown_prunes_api_calls(registered, fixture_dir):
    """A WHERE ts_code = X on the scan must become ONE api call, not
    one per key — pushFilters prunes the partition list."""
    d, pdfs = fixture_dir
    codes = sorted(pdfs["basic"]["ts_code"])[:5]
    log = os.path.join(d, "call_log")
    if os.path.exists(log):
        os.remove(log)
    df = _read(
        registered, d, "daily", mode="by_key", keys=",".join(codes), log_calls="true"
    ).filter(F.col("ts_code") == codes[0])
    n = df.count()
    assert n == len(pdfs["daily"][pdfs["daily"]["ts_code"] == codes[0]])
    with open(log) as f:
        calls = [ln for ln in f.read().splitlines() if ln]
    assert len(calls) == 1, calls
    assert f"ts_code={codes[0]}" in calls[0]


def test_isin_pushdown(registered, fixture_dir):
    d, pdfs = fixture_dir
    codes = sorted(pdfs["basic"]["ts_code"])[:5]
    log = os.path.join(d, "call_log")
    if os.path.exists(log):
        os.remove(log)
    df = _read(
        registered, d, "daily", mode="by_key", keys=",".join(codes), log_calls="true"
    ).filter(F.col("ts_code").isin(codes[0], codes[1]))
    df.count()
    with open(log) as f:
        calls = [ln for ln in f.read().splitlines() if ln]
    assert len(calls) == 2, calls


def test_backfill_assembly_from_api_source(registered, fixture_dir):
    """End-to-end: the canonical assembly runs directly off the custom
    source and matches the pandas golden — fixture-backed stand-in for
    'switch the reference to this engine'."""
    d, pdfs = fixture_dir
    codes = ",".join(sorted(pdfs["basic"]["ts_code"]))
    daily = _read(registered, d, "daily", mode="by_key", keys=codes)
    limit = _read(registered, d, "stk_limit", mode="by_key", keys=codes)
    dbasic = _read(registered, d, "daily_basic", mode="by_key", keys=codes)
    # stock_basic is a single unkeyed driver-side fetch in the
    # reference (S1) — small dim, created directly
    from a_share_data_pipeline_spark.schemas import STOCK_BASIC

    basic = registered.createDataFrame(pdfs["basic"], STOCK_BASIC)
    out = assembly.assemble_canonical(daily, limit, dbasic, basic, mode="backfill")
    golden = FX.golden_backfill(pdfs["daily"], pdfs["limit"], pdfs["dbasic"], pdfs["basic"])
    assert out.count() == len(golden)


def test_with_retry_recovers():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retry(flaky, retries=3, backoff_s=0.001) == "ok"
    assert calls["n"] == 3


def test_with_retry_exhausts():
    def always_fails():
        raise RuntimeError("permanent")

    with pytest.raises(RuntimeError):
        with_retry(always_fails, retries=2, backoff_s=0.001)


def test_token_bucket_throttles():
    b = TokenBucket(rate=100.0, capacity=1.0)
    t0 = time.monotonic()
    for _ in range(6):
        b.acquire()
    elapsed = time.monotonic() - t0
    assert elapsed >= 0.04  # 5 refills at 100/s ≥ 50ms minus jitter slack


def test_stream_read_acquires_named_bucket(fixture_dir, monkeypatch):
    """A stream micro-batch's per-date fetch goes through the same
    rate limiter as a batch scan: each call takes a token from the
    named ``api:<table>`` bucket, sized by the ``rate``/``burst``
    options (R3)."""
    d, pdfs = fixture_dir
    made, acquired = [], []

    class Spy:
        def __init__(self, name):
            self.name = name

        def acquire(self):
            acquired.append(self.name)

    def named(cls, name, rate, capacity):
        made.append((name, rate, capacity))
        return Spy(name)

    monkeypatch.setattr(TokenBucket, "named", classmethod(named))
    reader = api_source.AShareApiStreamReader(
        api_source.TABLE_SCHEMAS["daily"],
        {"table": "daily", "fixture_dir": d, "start_date": "00000000", "rate": "5", "burst": "2"},
    )
    day = sorted(pdfs["daily"]["trade_date"].unique())[0]
    [batch] = list(reader.read(api_source._KeyPartition(day)))
    assert made == [("api:daily", 5.0, 2.0)]
    assert acquired == ["api:daily"]
    assert batch.num_rows == int((pdfs["daily"]["trade_date"] == day).sum())


def test_stream_reader_incremental_exactly_once(registered, fixture_dir, tmp_path):
    """The streaming access path: offsets are trade dates; run 1
    processes everything after start_date, appending new dates to the
    upstream and re-running the SAME checkpoint processes only the new
    dates (the native replacement for the reference's watermark file,
    market/delta_non_fq_daily_kline.py:29-41, 159-167)."""
    import pandas as pd

    d, pdfs = fixture_dir
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    daily = pdfs["daily"]
    dates = sorted(daily["trade_date"].unique())
    assert len(dates) >= 3
    first, rest = dates[:-1], dates[-1]
    daily[daily["trade_date"].isin(first)].to_csv(os.path.join(src, "daily.csv"), index=False)

    spark = registered
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_cycle():
        stream = (
            spark.readStream.format("ashare_api")
            .option("table", "daily")
            .option("fixture_dir", src)
            .option("start_date", "00000000")
            .load()
        )
        q = (
            stream.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out_dir)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).toPandas()

    got1 = run_cycle()
    assert sorted(got1["trade_date"].unique()) == first
    assert len(got1) == int((daily["trade_date"].isin(first)).sum())

    # upstream grows by one date; same checkpoint → only the delta lands
    daily.to_csv(os.path.join(src, "daily.csv"), index=False)
    got2 = run_cycle()
    new_rows = got2[~got2["trade_date"].isin(first)]
    assert sorted(new_rows["trade_date"].unique()) == [rest]
    assert len(got2) == len(daily)  # no duplicates of already-seen dates
