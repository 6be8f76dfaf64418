"""The benchmark's two workloads and their correctness checks.

Each workload is driven by one closed-loop client (the next op starts
when the previous one returned) on the process's single SparkSession:

- ``iterative_jobs``: catalog queries over the generated TPC-H-shaped
  tables. An op is one query: its builder call from
  ``plans.registry()`` followed by the full-evaluation action of
  ``bench.py`` (xxhash64 over every output column, then count + max).
  The seed shuffles the query order of every pass; a run times whole
  passes. Before timing, every query is built once, collected and
  compared with its DuckDB oracle (or ``sweep.py``'s union-find replay
  where the recursive oracle is too slow) -- that untimed pass is also
  the warm-up.
- ``daily_publish``: the reference's nightly ETL. One untimed backfill
  publishes the history of a generated market, then each op is one
  ``flows.delta_flow(mode="merge", slack_days=3)`` cycle that advances
  the watermark by one trading day through a ``LocalDirPublisher``.
  After the loop, the published CSV is compared with a pandas
  emulation of the reference's semantics.
"""

from __future__ import annotations

import contextlib
import gc
import os
import statistics
import sys
import time
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

import datagen
from tracing import TracedOp, Tracer, now

# Scheduler-bound multi-job queries: connected-components rounds and
# eager localCheckpoint / foreachBatch loops that run while building.
# geo_dbscan_grid repeats graph_cc_incremental's localCheckpoint loop
# and would add ~15 s per run (warm-up + one pass) to the time budget.
ITERATIVE = [
    "graph_cc_incremental",
    "dedup_components",
    "stream_incremental_dedup",
]
# A run reads only inside its checkout, so the tables are generated.
# At sf0.01 the warm-up pass and one timed pass fit in under a minute;
# at sf0.1 one pass alone takes 42 s.
QUERY_SF = 0.01
QUERY_DATA_SEED = 42  # the catalog tables are fixed; the run seed orders ops

N_STOCKS = 500
HISTORY_DAYS = 250
FUTURE_DAYS = 80  # more trading days than any run's cycles consume
SLACK_DAYS = 3
WARM_CYCLES = 3
PASS_CYCLES = 4  # a run times whole passes, like the query mix
STAGING_REPEATS = 3


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _stage_median(make_tables, out_dir: str) -> float:
    """Generate + stage the inputs STAGING_REPEATS times; median seconds."""
    return statistics.median(
        _timed(lambda: datagen.stage(make_tables(), out_dir)) for _ in range(STAGING_REPEATS)
    )


def isolate(spark) -> None:
    """Drop cached blocks and Python-side refs left by the previous op."""
    spark.catalog.clearCache()
    gc.collect()


def evaluate(df) -> int:
    """bench.py's full-evaluation action; returns the row count."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("__h")
    return df.select(h).agg(F.count("__h"), F.max("__h")).collect()[0][0]


@dataclass
class RunResult:
    """Timed ops of one closed-loop window."""

    ops: list[TracedOp]
    failed: int = 0
    wall: float = 0.0  # seconds the window took
    checks: int = 0  # correctness checks made after the window


@contextlib.contextmanager
def _span(tracer: Tracer | None, name: str):
    if tracer is None:
        yield
        return
    span = tracer.open(name)
    try:
        yield
    finally:
        tracer.close(span)


# --- query mix -----------------------------------------------------------------


def _sweep():
    """Import the repo's sweep.py (it reads argv at import time)."""
    argv, sys.argv = sys.argv, sys.argv[:1]
    try:
        import sweep
    finally:
        sys.argv = argv
    return sweep


class QueryMix:
    backfill_s = 0.0  # only daily_publish backfills

    def __init__(self, names: list[str], run_dir: str):
        self.names = names
        self.data_dir = os.path.join(run_dir, "tables")

    def stage(self) -> float:
        return _stage_median(lambda: datagen.tpch_tables(QUERY_SF, QUERY_DATA_SEED), self.data_dir)

    def warm_up(self, spark) -> dict[str, bool]:
        """Build, collect and check each query once: name -> correct."""
        import duckdb

        from a_share_data_pipeline_spark.plans import registry
        from a_share_data_pipeline_spark.schemas import TESTDATA_TABLES

        sweep = _sweep()
        reg = registry()
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.data_dir, t)}.parquet')"
            )
        checks = {}
        for name in self.names:
            isolate(spark)
            try:
                df = reg[name].fn(spark, self.data_dir)
                cols = [c.lower() for c in df.columns]
                rows = [tuple(r) for r in df.collect()]
                if name in sweep.REPLAY:
                    ok = sweep.REPLAY[name](con, rows, cols)[0]
                else:
                    cur = con.execute(reg[name].oracle)
                    dcols = [d[0].lower() for d in cur.description]
                    ok = sorted(cols) == sorted(dcols) and _canon(sweep, cols, rows) == _canon(
                        sweep, dcols, cur.fetchall()
                    )
            except Exception as e:  # noqa: BLE001 -- reported as a failed op
                print(f"{name}: {type(e).__name__}: {e}", file=sys.stderr)
                ok = False
            checks[name] = ok
        con.close()
        return checks

    def run(self, spark, seed: int, seconds: float, tracer: Tracer | None = None):
        """Whole seeded passes until ``seconds`` have elapsed."""
        from a_share_data_pipeline_spark.plans import registry

        reg = registry()
        rng = np.random.default_rng(seed)
        res = RunResult([])
        t0 = time.perf_counter()
        while not res.ops or time.perf_counter() - t0 < seconds:
            for name in rng.permutation(self.names):
                isolate(spark)
                op = TracedOp(len(res.ops), str(name), now(), 0.0)
                if tracer is not None:
                    tracer.op = op.id
                try:
                    with _span(tracer, f"plans.{name}"):
                        df = reg[name].fn(spark, self.data_dir)
                    op.build_end = now()
                    with _span(tracer, "plans.evaluate"):
                        op.result_rows = evaluate(df)
                except Exception as e:  # noqa: BLE001 -- counted, loop goes on
                    print(f"{name}: {type(e).__name__}: {e}", file=sys.stderr)
                    res.failed += 1
                op.end = now()
                res.ops.append(op)
        res.wall = time.perf_counter() - t0
        return res


def _canon(sweep, cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(sweep.canon(r[i]) for i in order) for r in rows)


# --- daily publish ------------------------------------------------------------------


def _day(s: str):
    return datetime.strptime(s, "%Y%m%d").date()


class DailyPublish:
    """One published hub per run: ``warm_up`` backfills the history and
    runs WARM_CYCLES cycles (the first cycles at full size run up to 2x
    slower than later ones); every ``run`` continues with the next
    trading days on the same hub."""

    def __init__(self, seed: int, run_dir: str):
        from a_share_data_pipeline_spark import flows

        self.seed = seed
        self.days = datagen.trading_days(seed, HISTORY_DAYS + FUTURE_DAYS)
        self.hist = self.days[:HISTORY_DAYS]
        self.market_dir = os.path.join(run_dir, "market")
        self.out = os.path.join(run_dir, "publish")
        self.published = os.path.join(self.out, "hub", flows.PRICES_FILE)
        self.market: dict[str, pd.DataFrame] = {}
        self.cycle_ends: list[str] = []
        self.backfill_s = 0.0

    def stage(self) -> float:
        def make():
            self.market = datagen.ashare_market(self.seed, N_STOCKS, self.days)
            return self.market

        return _stage_median(make, self.market_dir)

    def _inputs(self, spark):
        """daily, stk_limit, daily_basic, stock_basic; hub; watermark."""
        from a_share_data_pipeline_spark import flows
        from a_share_data_pipeline_spark.sources.readers import load_table
        from a_share_data_pipeline_spark.sources.sinks import LocalDirPublisher
        from a_share_data_pipeline_spark.streaming.incremental import WatermarkStore

        tables = [
            load_table(spark, self.market_dir, t)
            for t in ("daily", "stk_limit", "daily_basic", "stock_basic")
        ]
        hub = LocalDirPublisher(os.path.dirname(self.published))
        return tables, hub, WatermarkStore(os.path.join(self.out, flows.WATERMARK_FILE))

    def warm_up(self, spark) -> dict[str, bool]:
        """Backfill, then WARM_CYCLES cycles; all are checked after ``run``."""
        from pyspark.sql import functions as F

        from a_share_data_pipeline_spark import flows

        (daily, stk_limit, daily_basic, stock_basic), hub, wm = self._inputs(spark)
        until = lambda df: df.filter(F.col("trade_date") <= self.hist[-1])  # noqa: E731
        isolate(spark)
        t0 = time.perf_counter()
        flows.backfill_flow(
            spark, until(daily), until(stk_limit), until(daily_basic), stock_basic,
            os.path.join(self.out, "backfill", flows.PRICES_FILE), hub, wm,
            _day(self.hist[-1]),
        )
        self.backfill_s = time.perf_counter() - t0
        warm = self._cycles(spark, 1e9, WARM_CYCLES)
        if warm.failed:
            return {"warm_up": False}
        return {}

    def run(self, spark, seed: int, seconds: float, tracer: Tracer | None = None):
        """Whole passes of PASS_CYCLES cycles until ``seconds`` have
        elapsed, then the hub is checked."""
        res = self._cycles(spark, seconds, len(self.days), tracer)
        res.checks = 1
        if not self.check():
            res.failed += 1
        return res

    def _cycles(self, spark, seconds, limit, tracer=None):
        """Up to ``limit`` delta cycles, each over the next trading day,
        until whole passes have taken ``seconds``; each op is named after
        its day."""
        from a_share_data_pipeline_spark import flows

        (daily, stk_limit, daily_basic, stock_basic), hub, wm = self._inputs(spark)
        staging = os.path.join(self.out, "staging", "delta.csv")
        res = RunResult([])
        t0 = time.perf_counter()
        for end in self.days[HISTORY_DAYS + len(self.cycle_ends) :][:limit]:
            passed = res.ops and len(res.ops) % PASS_CYCLES == 0
            if passed and time.perf_counter() - t0 >= seconds:
                break
            isolate(spark)
            before, staged = os.path.getsize(self.published), _size(staging)
            op = TracedOp(len(res.ops), end, now(), 0.0)
            if tracer is not None:
                tracer.op = op.id
            try:
                flows.delta_flow(
                    spark, daily, stk_limit, daily_basic, stock_basic, staging, hub, wm,
                    _day(end), mode="merge", slack_days=SLACK_DAYS,
                )
            except Exception as e:  # noqa: BLE001 -- counted, loop goes on
                print(f"delta {end}: {type(e).__name__}: {e}", file=sys.stderr)
                res.failed += 1
            op.end = now()
            op.published_growth = os.path.getsize(self.published) - before
            op.result_rows = _lines_after(staging, staged)
            res.ops.append(op)
            self.cycle_ends.append(end)
        res.wall = time.perf_counter() - t0
        return res

    def check(self) -> bool:
        """Published CSV and watermark against the pandas emulation."""
        from a_share_data_pipeline_spark import flows

        expect = emulate_published(self.market, self.hist[-1], self.cycle_ends)
        got = pd.read_csv(
            self.published,
            dtype={c: str for c in _STRING_COLUMNS},
            keep_default_na=False,
            na_values={c: [""] for c in expect.columns if c not in _STRING_COLUMNS},
            float_precision="round_trip",
        )
        with open(os.path.join(os.path.dirname(self.published), flows.WATERMARK_FILE)) as f:
            watermark_ok = f.read().strip() == self.cycle_ends[-1]
        return watermark_ok and _frames_equal(expect, got)


def _size(path: str) -> int:
    return os.path.getsize(path) if os.path.exists(path) else 0


def _lines_after(path: str, offset: int) -> int:
    with open(path, "rb") as f:
        f.seek(offset)
        return f.read().count(b"\n")


# --- reference emulation (pandas, the reference's own idioms) -----------------------

RENAME_MAP = {
    "pre_close": "prev_close",
    "pct_chg": "quote_rate",
    "vol": "volume",
    "amount": "turnover",
    "up_limit": "high_limit",
    "down_limit": "low_limit",
}
CANONICAL_ORDER = [
    "code", "date",
    "open", "high", "low", "close", "prev_close", "quote_rate", "volume", "turnover",
    "high_limit", "low_limit",
    "turnover_rate", "turnover_rate_f", "volume_ratio",
    "pe", "pe_ttm", "pb", "ps", "ps_ttm", "dv_ratio", "dv_ttm",
    "total_share", "float_share", "free_share", "total_mv", "circ_mv",
    "name", "area", "industry", "market", "exchange", "list_date",
]  # fmt: skip
_STRING_COLUMNS = ["code", "date", "name", "area", "industry", "market", "exchange", "list_date"]


def _assemble(facts: list[pd.DataFrame], stock_basic: pd.DataFrame, how: str) -> pd.DataFrame:
    """concat(axis=1) on (ts_code, trade_date) -> join main-board dim ->
    dropna(close) -> rename -> re-key (code, date) -> ISO dates."""
    dim = stock_basic[stock_basic["market"] == datagen.MAIN_BOARD]
    if how == "left":  # backfill fetches only main-board keys
        facts = [f[f["ts_code"].isin(dim["ts_code"])] for f in facts]
    merged = pd.concat([f.set_index(["ts_code", "trade_date"]) for f in facts], axis=1)
    merged = merged.join(dim.set_index("ts_code"), how=how)
    merged = merged.dropna(subset=["close"]).rename(columns=RENAME_MAP)
    merged.index = merged.index.set_names(["code", "date"])
    out = merged.reset_index()
    iso = lambda s: s.str[:4] + "-" + s.str[4:6] + "-" + s.str[6:]  # noqa: E731
    out["date"], out["list_date"] = iso(out["date"]), iso(out["list_date"])
    return out[CANONICAL_ORDER]


def emulate_published(market: dict, hist_end: str, cycle_ends: list[str]) -> pd.DataFrame:
    """Backfill golden, then one delta golden per cycle over the slack
    window (watermark - SLACK_DAYS, end], deduplicated on (code, date)
    with the later delta winning."""
    facts = [market[t] for t in ("daily", "stk_limit", "daily_basic")]
    frames = [_assemble([f[f["trade_date"] <= hist_end] for f in facts], market["stock_basic"], "left")]
    wm = hist_end
    for end in cycle_ends:
        after = (_day(wm) - timedelta(days=SLACK_DAYS)).strftime("%Y%m%d")
        window = [f[(f["trade_date"] > after) & (f["trade_date"] <= end)] for f in facts]
        frames.append(_assemble(window, market["stock_basic"], "inner"))
        wm = end
    return pd.concat(frames).drop_duplicates(["code", "date"], keep="last")


def _frames_equal(expect: pd.DataFrame, got: pd.DataFrame) -> bool:
    if list(got.columns) != CANONICAL_ORDER or len(got) != len(expect):
        return False
    a = expect.sort_values(["code", "date"]).reset_index(drop=True)
    b = got.sort_values(["code", "date"]).reset_index(drop=True)
    for c in CANONICAL_ORDER:
        if c in _STRING_COLUMNS:
            if not (a[c].to_numpy() == b[c].to_numpy()).all():
                return False
        elif not np.array_equal(a[c].to_numpy(float), b[c].to_numpy(float), equal_nan=True):
            return False
    return True
