"""Golden pipeline tests (SURVEY.md §5.1): the Spark engine vs pandas
goldens computed with the reference's own operations — covering J1/J2/J3
join semantics, P4/P5 filters, P3 renames, S9/S10 sink semantics, U1
rerun duplication, and T1 watermark advance/late-data drop."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pytest

from a_share_data_pipeline_spark import flows
from a_share_data_pipeline_spark.operators import assembly
from a_share_data_pipeline_spark.schemas import (
    CANONICAL,
    DAILY,
    DAILY_BASIC,
    STK_LIMIT,
    STOCK_BASIC,
    TRADE_CAL,
)
from a_share_data_pipeline_spark.sources import sinks
from a_share_data_pipeline_spark.sources.readers import read_csv
from a_share_data_pipeline_spark.streaming.incremental import WatermarkStore

import fixtures_ashare as FX


@pytest.fixture(scope="module")
def fixture_pdfs():
    cal = FX.gen_trade_cal()
    basic = FX.gen_stock_basic()
    daily, limit, dbasic = FX.gen_facts(basic, cal)
    return {"cal": cal, "stock_basic": basic, "daily": daily, "limit": limit, "dbasic": dbasic}


@pytest.fixture(scope="module")
def fixture_sdfs(spark, fixture_pdfs):
    p = fixture_pdfs
    return {
        "cal": spark.createDataFrame(p["cal"], TRADE_CAL),
        "stock_basic": spark.createDataFrame(p["stock_basic"], STOCK_BASIC),
        "daily": spark.createDataFrame(p["daily"], DAILY),
        "limit": spark.createDataFrame(p["limit"], STK_LIMIT),
        "dbasic": spark.createDataFrame(p["dbasic"], DAILY_BASIC),
    }


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.sort_values(["code", "date"]).reset_index(drop=True)
    return out[FX.CANONICAL_ORDER]


def assert_matches_golden(spark_df, golden: pd.DataFrame):
    got = _norm(spark_df.toPandas())
    want = _norm(golden)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_backfill_matches_reference_golden(fixture_sdfs, fixture_pdfs):
    """J1+J2+P4+P5+P3 chain ≡ the reference's per-stock pandas dataflow."""
    s = fixture_sdfs
    out = assembly.assemble_canonical(
        s["daily"], s["limit"], s["dbasic"], s["stock_basic"], mode="backfill"
    )
    golden = FX.golden_backfill(
        fixture_pdfs["daily"],
        fixture_pdfs["limit"],
        fixture_pdfs["dbasic"],
        fixture_pdfs["stock_basic"],
    )
    assert len(golden) > 0
    assert_matches_golden(out, golden)


def test_delta_matches_reference_golden(fixture_sdfs, fixture_pdfs):
    """Inner dim join doubles as main-board filter (J3)."""
    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    after, until = cal_days[19], cal_days[-1]
    s = fixture_sdfs
    from pyspark.sql import functions as F

    rng = lambda df: df.filter(  # noqa: E731
        (F.col("trade_date") > after) & (F.col("trade_date") <= until)
    )
    out = assembly.assemble_canonical(
        rng(s["daily"]), rng(s["limit"]), rng(s["dbasic"]), s["stock_basic"], mode="delta"
    )
    golden = FX.golden_delta(
        fixture_pdfs["daily"],
        fixture_pdfs["limit"],
        fixture_pdfs["dbasic"],
        fixture_pdfs["stock_basic"],
        after,
        until,
    )
    assert len(golden) > 0
    assert_matches_golden(out, golden)


def test_nonmain_board_rows_excluded(fixture_sdfs):
    """P4: no 创业板/科创板 rows survive either mode."""
    s = fixture_sdfs
    for mode in ("backfill", "delta"):
        out = assembly.assemble_canonical(
            s["daily"], s["limit"], s["dbasic"], s["stock_basic"], mode=mode
        )
        assert out.filter(out.market != "主板").count() == 0


def test_csv_append_header_once(spark, fixture_sdfs, tmp_path):
    """S9: two appends → one header, sum of row counts."""
    out = assembly.assemble_canonical(
        fixture_sdfs["daily"],
        fixture_sdfs["limit"],
        fixture_sdfs["dbasic"],
        fixture_sdfs["stock_basic"],
    )
    n = out.count()
    path = str(tmp_path / "all-prices.csv")
    sinks.append_csv(out, path)
    sinks.append_csv(out, path)
    with open(path) as f:
        lines = f.readlines()
    header = ",".join(out.columns)
    assert lines[0].strip() == header
    assert sum(1 for ln in lines if ln.strip() == header) == 1
    assert len(lines) == 2 * n + 1
    # and it round-trips through the schema'd reader
    back = read_csv(spark, path, CANONICAL)
    assert back.count() == 2 * n


def test_backfill_flow_end_to_end(spark, fixture_sdfs, tmp_path):
    """Flow 1: append + publish + initial watermark (S9/S11/T1)."""
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    wm = WatermarkStore(str(tmp_path / ".last_update_date"))
    end = dt.date(2024, 2, 9)
    s = fixture_sdfs
    out = flows.backfill_flow(
        spark,
        s["daily"],
        s["limit"],
        s["dbasic"],
        s["stock_basic"],
        str(tmp_path / "all-prices.csv"),
        publisher=pub,
        watermark=wm,
        end=end,
    )
    assert pub.exists(flows.PRICES_FILE)
    assert pub.exists(flows.WATERMARK_FILE)
    assert wm.read() == end
    published = read_csv(spark, pub.download(flows.PRICES_FILE), CANONICAL)
    assert published.count() == out.count()


def test_delta_flow_rerun_duplicates_in_compat_mode(spark, fixture_sdfs, fixture_pdfs, tmp_path):
    """A9/U1: running the same delta twice duplicates (code,date) rows in
    the published artifact — the reference's documented crash-rerun
    semantics (UNION ALL, no dedup)."""
    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    wm_day = dt.datetime.strptime(cal_days[19], "%Y%m%d").date()
    end = dt.datetime.strptime(cal_days[-1], "%Y%m%d").date()
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    s = fixture_sdfs

    def run(i: int):
        wm = WatermarkStore(str(tmp_path / f".wm{i}"))
        wm.write(wm_day)  # reset watermark → simulated rerun
        return flows.delta_flow(
            spark,
            s["daily"],
            s["limit"],
            s["dbasic"],
            s["stock_basic"],
            str(tmp_path / f"delta{i}.csv"),
            pub,
            wm,
            end,
            calendar=s["cal"],
        )

    d1 = run(1)
    n = d1.count()
    assert n > 0
    run(2)
    published = read_csv(spark, pub.download(flows.PRICES_FILE), CANONICAL)
    assert published.count() == 2 * n  # bag union kept both runs
    dup = published.groupBy("code", "date").count().filter("count > 1")
    assert dup.count() > 0


def test_delta_flow_drops_late_data_in_compat(spark, fixture_sdfs, fixture_pdfs, tmp_path):
    """§2.9: rows at/before the watermark never enter the delta — the
    reference loses them forever; compat mode reproduces that."""
    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    wm_day = dt.datetime.strptime(cal_days[19], "%Y%m%d").date()
    end = dt.datetime.strptime(cal_days[-1], "%Y%m%d").date()
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    wm = WatermarkStore(str(tmp_path / ".wm"))
    wm.write(wm_day)
    s = fixture_sdfs
    delta = flows.delta_flow(
        spark,
        s["daily"],
        s["limit"],
        s["dbasic"],
        s["stock_basic"],
        str(tmp_path / "delta.csv"),
        pub,
        wm,
        end,
        calendar=s["cal"],
    )
    late_cutoff = wm_day.isoformat()
    assert delta.filter(delta.date <= late_cutoff).count() == 0
    assert wm.read() == end  # advanced only after publish


def test_delta_flow_empty_range_no_publish_no_advance(spark, fixture_sdfs, tmp_path):
    """P6/T3: nothing pending → no artifact, watermark unchanged."""
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    wm = WatermarkStore(str(tmp_path / ".wm"))
    frozen = dt.date(2030, 1, 1)
    wm.write(frozen)
    s = fixture_sdfs
    out = flows.delta_flow(
        spark,
        s["daily"],
        s["limit"],
        s["dbasic"],
        s["stock_basic"],
        str(tmp_path / "delta.csv"),
        pub,
        wm,
        dt.date(2030, 1, 5),
    )
    assert out is None
    assert not pub.exists(flows.PRICES_FILE)
    assert wm.read() == frozen


def test_calendar_flow_sorted(spark, fixture_sdfs, tmp_path):
    """Flow 3: published calendar is ascending dates (O1)."""
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    cal = flows.calendar_flow(
        spark, fixture_sdfs["cal"], str(tmp_path / "calendar.csv"), publisher=pub
    )
    pdf = cal.toPandas()
    assert list(pdf["cal_date"]) == sorted(pdf["cal_date"])
    assert pub.exists(flows.CALENDAR_FILE)


def test_cjk_literals_survive_csv_and_parquet_roundtrip(spark, fixture_sdfs, tmp_path):
    """SURVEY §4: the 主板 predicate must keep working after the data
    round-trips both at-rest formats (UTF-8 in CSV, dictionary-encoded
    parquet)."""
    out = assembly.assemble_canonical(
        fixture_sdfs["daily"],
        fixture_sdfs["limit"],
        fixture_sdfs["dbasic"],
        fixture_sdfs["stock_basic"],
    )
    n = out.count()
    assert n > 0

    csv_path = str(tmp_path / "roundtrip.csv")
    sinks.overwrite_csv(out, csv_path)
    back_csv = read_csv(spark, csv_path, CANONICAL)
    assert back_csv.filter(back_csv.market == "主板").count() == n
    assert back_csv.filter(back_csv.market != "主板").count() == 0

    pq_path = str(tmp_path / "roundtrip_parquet")
    out.write.mode("overwrite").parquet(pq_path)
    back_pq = spark.read.parquet(pq_path)
    assert back_pq.filter(back_pq.market == "主板").count() == n
    # CJK name/area/industry values intact after both round-trips
    sample_csv = {r.name for r in back_csv.select("name").distinct().collect()}
    sample_pq = {r.name for r in back_pq.select("name").distinct().collect()}
    assert sample_csv == sample_pq
    assert any("银行" in s or "茅台" in s or "万科" in s for s in sample_pq)


def test_delta_flow_merge_mode_recovers_late_data_idempotently(
    spark, fixture_sdfs, fixture_pdfs, tmp_path
):
    """A8 upgrade path (§2.9): merge mode with watermark slack re-reads
    a trailing window, picks up a late backfilled row the reference
    would lose, and dedups on (code, date) — rerunning changes nothing."""
    import pandas as pd
    from pyspark.sql import functions as F

    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    wm_day = dt.datetime.strptime(cal_days[19], "%Y%m%d").date()
    end = dt.datetime.strptime(cal_days[-1], "%Y%m%d").date()
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    s = fixture_sdfs

    def run(i, mode, daily, slack=0):
        wm = WatermarkStore(str(tmp_path / f".wm{i}"))
        wm.write(wm_day)
        return flows.delta_flow(
            spark, daily, s["limit"], s["dbasic"], s["stock_basic"],
            str(tmp_path / f"delta{i}.csv"), pub, wm, end,
            calendar=s["cal"], mode=mode, slack_days=slack,
        )

    base = run(1, "compat", s["daily"])
    n_base = read_csv(spark, pub.download(flows.PRICES_FILE), CANONICAL).count()
    assert base.count() == n_base

    # a "late" row lands for a day INSIDE the already-processed window:
    # day 18 < watermark (day 20) — compat would lose it forever
    main_board_code = (
        fixture_pdfs["stock_basic"]
        .loc[lambda d: d["market"] == "主板", "ts_code"]
        .iloc[0]
    )
    late_day = cal_days[17]
    late = pd.DataFrame(
        [{
            "ts_code": main_board_code, "trade_date": late_day,
            "open": 10.0, "high": 11.0, "low": 9.0, "close": 10.5,
            "pre_close": 10.0, "pct_chg": 5.0, "vol": 1000.0, "amount": 10500.0,
        }]
    )
    # the late row must not already exist in daily for that (code, day)
    daily_with_late = s["daily"].filter(
        ~((F.col("ts_code") == main_board_code) & (F.col("trade_date") == late_day))
    ).unionByName(spark.createDataFrame(late, DAILY))

    # slack window re-opens back past day 18 (wm - 5 calendar days)
    slack = (wm_day - dt.datetime.strptime(late_day, "%Y%m%d").date()).days + 1
    run(2, "merge", daily_with_late, slack=slack)
    published = read_csv(spark, pub.download(flows.PRICES_FILE), CANONICAL)
    late_date_iso = dt.datetime.strptime(late_day, "%Y%m%d").date().isoformat()
    got_late = published.filter(
        (published.code == main_board_code) & (published.date == late_date_iso)
    )
    assert got_late.count() == 1
    assert abs(got_late.collect()[0].close - 10.5) < 1e-9
    # idempotent: no (code, date) duplicates anywhere after the merge
    assert published.groupBy("code", "date").count().filter("count > 1").count() == 0

    # rerun the SAME merge → nothing changes (fixed point)
    n_after = published.count()
    run(3, "merge", daily_with_late, slack=slack)
    again = read_csv(spark, pub.download(flows.PRICES_FILE), CANONICAL)
    assert again.count() == n_after
    assert again.groupBy("code", "date").count().filter("count > 1").count() == 0


def _data_lines(path) -> list[str]:
    """A published/staged CSV's lines after its header, unparsed."""
    with open(path, encoding="utf-8") as f:
        header, *lines = f.read().splitlines()
    assert header == ",".join(CANONICAL.fieldNames())
    return lines


def test_delta_flow_merge_keeps_other_lines_byte_identical(
    spark, fixture_sdfs, fixture_pdfs, tmp_path
):
    """A merge publish rewrites lines, not rows: the new file is exactly
    the old lines whose (code, date) the delta does not carry, byte for
    byte, plus the staged delta lines; rerunning the same merge leaves
    the sorted file bytes unchanged."""
    from pyspark.sql import functions as F

    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    end = dt.datetime.strptime(cal_days[-1], "%Y%m%d").date()
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    s = fixture_sdfs
    # restated prices: every re-read row differs from its published line
    restated = s["daily"].withColumn("close", F.col("close") + 0.5)

    def run(i, wm_idx, mode, daily):
        wm = WatermarkStore(str(tmp_path / f".wm{i}"))
        wm.write(dt.datetime.strptime(cal_days[wm_idx], "%Y%m%d").date())
        return flows.delta_flow(
            spark, daily, s["limit"], s["dbasic"], s["stock_basic"],
            str(tmp_path / f"delta{i}.csv"), pub, wm, end,
            calendar=s["cal"], mode=mode, slack_days=3,
        )

    published = pub.download(flows.PRICES_FILE)
    run(1, 5, "compat", s["daily"])
    before = _data_lines(published)
    delta = run(2, 20, "merge", restated)
    keys = {(r.code, r.date.isoformat()) for r in delta.select("code", "date").collect()}
    assert 0 < len(keys) < len(before)
    kept = [ln for ln in before if tuple(ln.split(",")[:2]) not in keys]
    assert len(kept) == len(before) - len(keys)
    after = _data_lines(published)
    assert sorted(after) == sorted(kept + _data_lines(tmp_path / "delta2.csv"))

    with open(published, "rb") as f:
        first = sorted(f.read().splitlines())
    run(3, 20, "merge", restated)
    with open(published, "rb") as f:
        assert sorted(f.read().splitlines()) == first
    # no publish scratch file or temp dir is left beside the staging files
    assert sorted(os.listdir(tmp_path)) == [
        ".wm1", ".wm2", ".wm3", "delta1.csv", "delta2.csv", "delta3.csv", "hub"
    ]


def test_delta_flow_pins_a_nondeterministic_delta(spark, fixture_sdfs, fixture_pdfs, tmp_path):
    """The delta is evaluated once: with a source that changes on every
    evaluation, the staged CSV, the published file and the returned
    frame still hold the same rows."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    coin = F.udf(lambda: random.random() < 0.5, T.BooleanType()).asNondeterministic()
    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    wm = WatermarkStore(str(tmp_path / ".wm"))
    wm.write(dt.datetime.strptime(cal_days[5], "%Y%m%d").date())
    end = dt.datetime.strptime(cal_days[-1], "%Y%m%d").date()
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    s = fixture_sdfs
    delta = flows.delta_flow(
        spark, s["daily"].filter(coin()), s["limit"], s["dbasic"], s["stock_basic"],
        str(tmp_path / "delta.csv"), pub, wm, end, calendar=s["cal"], mode="merge",
    )
    returned = sorted(r.value for r in sinks.csv_lines(delta).collect())
    assert len(returned) > 10
    assert sorted(_data_lines(tmp_path / "delta.csv")) == returned
    assert sorted(_data_lines(pub.download(flows.PRICES_FILE))) == returned


_PIN_RETRY_SCRIPT = """
import datetime as dt, json, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F, types as T
import fixtures_ashare as FX
from a_share_data_pipeline_spark import flows, schemas
from a_share_data_pipeline_spark.sources import sinks
from a_share_data_pipeline_spark.streaming.incremental import WatermarkStore

work = sys.argv[1]
marks = work + "/marks"
spark = SparkSession.builder.master("local[4,2]").config("spark.ui.enabled", "false").getOrCreate()
cal, basic = FX.gen_trade_cal(), FX.gen_stock_basic()
daily, limit, dbasic = FX.gen_facts(basic, cal)
df = lambda pdf, schema: spark.createDataFrame(pdf, schema)  # noqa: E731
seen = {}


def pass_after_a_failure():
    # past the first 100-row batch a Python UDF evaluates, so the
    # failing attempt can pass rows on to the pin's metrics first
    ctx = TaskContext.get()
    n = seen[ctx.taskAttemptId()] = seen.get(ctx.taskAttemptId(), 0) + 1
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0 and n == 101:
        with open(marks, "a") as f:
            f.write("failed\\n")
        raise RuntimeError("injected failure of attempt 0")
    return True


flaky = F.udf(pass_after_a_failure, T.BooleanType()).asNondeterministic()
daily_sdf = df(daily, schemas.DAILY)
wm = WatermarkStore(work + "/.wm")
wm.write(dt.datetime.strptime(cal["cal_date"][5], "%Y%m%d").date())
delta = flows.delta_flow(
    spark, daily_sdf.filter(flaky()), df(limit, schemas.STK_LIMIT),
    df(dbasic, schemas.DAILY_BASIC), df(basic, schemas.STOCK_BASIC),
    work + "/delta.csv", sinks.LocalDirPublisher(work + "/hub"), wm,
    dt.datetime.strptime(cal["cal_date"].iloc[-1], "%Y%m%d").date(),
    calendar=df(cal, schemas.TRADE_CAL), mode="merge",
)
returned = [r.value for r in sinks.csv_lines(delta).collect()]
print(json.dumps([daily_sdf.rdd.getNumPartitions(), returned]))
"""


def test_delta_pin_retry_stages_each_line_once(tmp_path):
    """On local[4,2] a task may fail once: attempt 0 of partition 0 of
    the delta pin's job raises at its 101st row, and the lines
    collected on the pin still count that partition's rows once. The staged and published
    lines equal the returned frame's, with no duplicates."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    tests = Path(__file__).resolve().parent
    path = os.pathsep.join([str(tests.parent), str(tests), os.environ.get("PYTHONPATH", "")])
    proc = subprocess.run(
        [sys.executable, "-c", _PIN_RETRY_SCRIPT, str(tmp_path)],
        capture_output=True, text=True, env=dict(os.environ, PYTHONPATH=path), timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    partitions, returned = json.loads(proc.stdout.strip().splitlines()[-1])
    assert partitions > 1
    assert (tmp_path / "marks").read_text().count("failed") == 1
    staged = _data_lines(tmp_path / "delta.csv")
    assert len(returned) > 10
    assert len(set(staged)) == len(staged)
    assert sorted(staged) == sorted(returned)
    assert sorted(_data_lines(tmp_path / "hub" / flows.PRICES_FILE)) == sorted(returned)


def test_delta_flow_rejects_published_file_with_wrong_header(
    spark, fixture_sdfs, fixture_pdfs, tmp_path
):
    """The line-level publish passes old lines through unparsed, so it
    refuses a published file whose header is not CANONICAL's — raising
    before upload, so neither the file nor the watermark changes."""
    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    wm_day = dt.datetime.strptime(cal_days[19], "%Y%m%d").date()
    end = dt.datetime.strptime(cal_days[-1], "%Y%m%d").date()
    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    cols = CANONICAL.fieldNames()
    swapped = ",".join([cols[1], cols[0], *cols[2:]])
    stale = f"{swapped}\n2024-01-02,600000.SH\n"
    with open(pub.download(flows.PRICES_FILE), "w", encoding="utf-8") as f:
        f.write(stale)
    wm = WatermarkStore(str(tmp_path / ".wm"))
    wm.write(wm_day)
    s = fixture_sdfs
    for mode in ("compat", "merge"):
        with pytest.raises(ValueError, match="header"):
            flows.delta_flow(
                spark, s["daily"], s["limit"], s["dbasic"], s["stock_basic"],
                str(tmp_path / "delta.csv"), pub, wm, end, calendar=s["cal"], mode=mode,
            )
    assert wm.read() == wm_day
    with open(pub.download(flows.PRICES_FILE), encoding="utf-8") as f:
        assert f.read() == stale


def test_delta_skips_day_when_any_fact_empty(spark, fixture_sdfs, fixture_pdfs):
    """Reference parity (market/delta_non_fq_daily_kline.py:84): the
    per-day loop 'continue's when any of the three fetches is empty, so
    a date with zero stk_limit rows must vanish from the DELTA output
    entirely — while BACKFILL keeps it with null limit columns (the
    reference's outer concat does too)."""
    from pyspark.sql import functions as F

    s = fixture_sdfs
    drop_date = sorted(fixture_pdfs["limit"]["trade_date"].unique())[1]
    limit_missing_day = s["limit"].filter(F.col("trade_date") != drop_date)

    delta = assembly.assemble_canonical(
        s["daily"], limit_missing_day, s["dbasic"], s["stock_basic"], mode="delta"
    )
    gone = dt.datetime.strptime(drop_date, "%Y%m%d").date()
    assert delta.filter(F.col("date") == F.lit(gone)).count() == 0
    # other days unaffected
    assert delta.count() > 0

    backfill = assembly.assemble_canonical(
        s["daily"], limit_missing_day, s["dbasic"], s["stock_basic"], mode="backfill"
    )
    kept = backfill.filter(F.col("date") == F.lit(gone))
    assert kept.count() > 0
    assert kept.filter(F.col("high_limit").isNotNull()).count() == 0


def test_delta_assembly_plans_no_shuffle(fixture_sdfs):
    """The delta keeps a date present in both secondary facts with one
    broadcast semi-join per fact: the executed plan holds no
    hash-partitioning Exchange (a distinct of the date sets and a join
    of them would add two)."""
    s = fixture_sdfs
    delta = assembly.assemble_canonical(
        s["daily"], s["limit"], s["dbasic"], s["stock_basic"], mode="delta"
    )
    delta.collect()
    plan = delta._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan, plan


class _FailingPublisher(sinks.LocalDirPublisher):
    """upload() raises — models a hub outage mid-publish."""

    def upload(self, local_path: str, repo_path: str) -> None:
        raise IOError("hub unavailable")


def test_publish_failure_does_not_advance_watermark(spark, fixture_sdfs, tmp_path):
    """T1 transactional ordering (the reference's one real guarantee,
    market/delta_non_fq_daily_kline.py:159-167): the watermark advances
    ONLY after publish success. A failing publisher must surface the
    error and leave the watermark untouched, so the next run re-covers
    the same window."""
    pub = _FailingPublisher(str(tmp_path / "hub"))
    wm = WatermarkStore(str(tmp_path / ".wm"))
    frozen = dt.date(2024, 1, 2)
    wm.write(frozen)
    s = fixture_sdfs
    with pytest.raises(IOError, match="hub unavailable"):
        flows.delta_flow(
            spark,
            s["daily"],
            s["limit"],
            s["dbasic"],
            s["stock_basic"],
            str(tmp_path / "delta.csv"),
            pub,
            wm,
            dt.date(2030, 1, 1),
        )
    assert wm.read() == frozen  # not advanced past the failed publish
    # the publish scratch file lived in a temp dir that is gone again
    assert sorted(os.listdir(tmp_path)) == [".wm", "delta.csv", "hub"]


def test_upload_leaves_the_old_file_whole_when_the_copy_fails(tmp_path, monkeypatch):
    """LocalDirPublisher.upload is atomic: a copy that raises part-way
    leaves the published file byte-identical and no temp file behind."""
    import shutil

    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    old, new = tmp_path / "old.csv", tmp_path / "new.csv"
    old.write_bytes(b"a,b\n1,2\n")
    new.write_bytes(b"a,b\n" + b"3,4\n" * 1000)
    pub.upload(str(old), flows.PRICES_FILE)

    def torn_copy(src, dst):
        with open(src, "rb") as f, open(dst, "wb") as out:
            out.write(f.read(100))
        raise OSError("disk full")

    monkeypatch.setattr(shutil, "copyfile", torn_copy)
    with pytest.raises(OSError, match="disk full"):
        pub.upload(str(new), flows.PRICES_FILE)
    assert (tmp_path / "hub" / flows.PRICES_FILE).read_bytes() == old.read_bytes()
    assert os.listdir(tmp_path / "hub") == [flows.PRICES_FILE]


def _day(s: str) -> dt.date:
    return dt.datetime.strptime(s, "%Y%m%d").date()


def _backfilled_hub(spark, s, tmp_path, last: str):
    """A hub holding a backfill through `last`, and its watermark."""
    from pyspark.sql import functions as F

    pub = sinks.LocalDirPublisher(str(tmp_path / "hub"))
    wm = WatermarkStore(str(tmp_path / ".wm"))
    until = lambda df: df.filter(F.col("trade_date") <= last)  # noqa: E731
    flows.backfill_flow(
        spark, until(s["daily"]), until(s["limit"]), until(s["dbasic"]), s["stock_basic"],
        str(tmp_path / "backfill.csv"), pub, wm, _day(last),
    )
    return pub, wm


def _cycle(spark, s, tmp_path, pub, wm, end: str, mode="merge", daily=None) -> list[str]:
    """One delta cycle through `end`; the delta's lines, sorted."""
    delta = flows.delta_flow(
        spark, s["daily"] if daily is None else daily, s["limit"], s["dbasic"],
        s["stock_basic"], str(tmp_path / "delta.csv"), pub, wm, _day(end),
        calendar=s["cal"], mode=mode, slack_days=3,
    )
    return sorted(r.value for r in sinks.csv_lines(delta).collect())


def _key(line: str) -> tuple[str, str]:
    return tuple(line.split(",")[:2])


def _merged(before: list[str], delta: list[str]) -> list[str]:
    """The merge semantics: old lines minus the delta's keys, plus the delta."""
    keys = {_key(ln) for ln in delta}
    return sorted([ln for ln in before if _key(ln) not in keys] + delta)


def _index(pub) -> dict:
    """The published file's segment index, checked against its bytes."""
    import hashlib
    import json

    with open(pub.download(flows.SEGMENTS_FILE)) as f:
        index = json.load(f)
    with open(pub.download(flows.PRICES_FILE), "rb") as f:
        body = f.read()
    assert index["size"] == len(body)
    assert index["sha256"] == hashlib.sha256(body).hexdigest()
    return index


def test_compat_publish_is_a_pure_append(spark, fixture_sdfs, fixture_pdfs, tmp_path):
    """Compat drops nothing, so each publish appends: the old file's
    bytes are a prefix of the new file's, with or without an index."""
    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    pub, wm = _backfilled_hub(spark, fixture_sdfs, tmp_path, cal_days[14])
    published = pub.download(flows.PRICES_FILE)
    for end in cal_days[15:17]:  # first without an index, then with one
        with open(published, "rb") as f:
            before = f.read()
        delta = _cycle(spark, fixture_sdfs, tmp_path, pub, wm, end, mode="compat")
        with open(published, "rb") as f:
            after = f.read()
        assert after.startswith(before)
        assert sorted(after[len(before):].decode().splitlines()) == delta
    assert len(_index(pub)["segments"]) == 2  # the old file, then the delta


def test_merge_publish_ignores_a_stale_segment_index(
    spark, fixture_sdfs, fixture_pdfs, tmp_path
):
    """A missing index, an index whose size does not match the file, and
    a same-size file whose lines were permuted under a stale index each
    fall back to a full pass: the result is exactly the old lines minus
    the delta's keys plus the delta, with no duplicate (code, date)."""
    import random
    import shutil

    from pyspark.sql import functions as F

    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    s = fixture_sdfs
    pub, wm = _backfilled_hub(spark, s, tmp_path, cal_days[14])
    for end in cal_days[15:19]:
        _cycle(spark, s, tmp_path, pub, wm, end)
    # the index lets the next cycle copy a prefix, so trusting it stale would matter
    slack_from = (wm.read() - dt.timedelta(days=3)).isoformat()
    assert _index(pub)["segments"][0][1] <= slack_from
    restated = s["daily"].withColumn("close", F.col("close") + 0.5)
    header = ",".join(CANONICAL.fieldNames())

    for stale in ("missing", "size", "permuted"):
        case = tmp_path / stale
        shutil.copytree(tmp_path / "hub", case / "hub")
        shutil.copy(wm.path, case / ".wm")
        hub = sinks.LocalDirPublisher(str(case / "hub"))
        published = hub.download(flows.PRICES_FILE)
        lines = _data_lines(published)
        if stale == "missing":
            os.remove(hub.download(flows.SEGMENTS_FILE))
        else:
            random.Random(7).shuffle(lines)
            if stale == "size":
                lines = lines[1:]
            with open(published, "w", encoding="utf-8") as f:
                f.write("\n".join([header, *lines]) + "\n")
        delta = _cycle(
            spark, s, case, hub, WatermarkStore(str(case / ".wm")), cal_days[19],
            daily=restated,
        )
        after = _data_lines(published)
        assert sorted(after) == _merged(lines, delta), stale
        assert len({_key(ln) for ln in after}) == len(after), stale
        _index(hub)


def test_merge_publish_exact_after_a_watermark_reset(
    spark, fixture_sdfs, fixture_pdfs, tmp_path
):
    """Resetting the watermark back across earlier cycles' segments
    re-opens them: the splice filters every segment the wider window
    can touch, and the result is exact."""
    from pyspark.sql import functions as F

    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    s = fixture_sdfs
    pub, wm = _backfilled_hub(spark, s, tmp_path, cal_days[14])
    for end in cal_days[15:20]:
        _cycle(spark, s, tmp_path, pub, wm, end)
    reset = _day(cal_days[16])
    tops = [top for _, top in _index(pub)["segments"]]
    assert sum(top > reset.isoformat() for top in tops) >= 2
    wm.write(reset)
    before = _data_lines(pub.download(flows.PRICES_FILE))
    restated = s["daily"].withColumn("close", F.col("close") + 0.5)
    delta = _cycle(spark, s, tmp_path, pub, wm, cal_days[19], daily=restated)
    after = _data_lines(pub.download(flows.PRICES_FILE))
    assert sorted(after) == _merged(before, delta)
    assert len({_key(ln) for ln in after}) == len(after)
    _index(pub)


def test_segment_index_stays_small(spark, fixture_sdfs, fixture_pdfs, tmp_path):
    """Untouched leading segments merge into one index row, so after 10
    merge cycles the index holds at most slack-window + 2 rows."""
    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    s = fixture_sdfs
    pub, wm = _backfilled_hub(spark, s, tmp_path, cal_days[14])
    for end in cal_days[15:25]:
        _cycle(spark, s, tmp_path, pub, wm, end)
    assert len(_index(pub)["segments"]) <= 3 + 2
    lines = _data_lines(pub.download(flows.PRICES_FILE))
    assert len({_key(ln) for ln in lines}) == len(lines)


def test_merge_publish_runs_no_spark_job(
    spark, fixture_sdfs, fixture_pdfs, tmp_path, monkeypatch
):
    """After its pin returns, a merge delta_flow submits no Spark job:
    the delta's lines ride the pin, and the staging append and the
    publish run in the driver."""
    cal_days = list(fixture_pdfs["cal"]["cal_date"])
    s = fixture_sdfs
    pub, wm = _backfilled_hub(spark, s, tmp_path, cal_days[14])
    _cycle(spark, s, tmp_path, pub, wm, cal_days[15])
    sc = spark.sparkContext
    pin = flows.pin

    def pin_then_group(df, **metrics):
        out = pin(df, **metrics)
        sc.setJobGroup("after-pin", "delta_flow after its pin")
        return out

    monkeypatch.setattr(flows, "pin", pin_then_group)
    try:
        flows.delta_flow(
            spark, s["daily"], s["limit"], s["dbasic"], s["stock_basic"],
            str(tmp_path / "delta.csv"), pub, wm, _day(cal_days[16]),
            calendar=s["cal"], mode="merge", slack_days=3,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("after-pin")) == 0
