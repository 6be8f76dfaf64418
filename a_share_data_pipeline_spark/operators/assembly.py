"""Canonical-table assembly: the reference pipeline re-expressed as one
lazy Spark plan.

Reference dataflow (market/non_fq_daily_kline.py:87-132):
    3 per-key fetches → pd.concat(axis=1) on MultiIndex (ts_code,
    trade_date) [= FULL OUTER equi-join] → dropna(close) → left join
    stock dim → rename → re-key (code, date) → CSV append.

Spark restatement (SURVEY.md §3.1): because dropna(close) runs right
after the outer concat, the net semantics are "daily rows with non-null
close, LEFT OUTER joined to stk_limit and daily_basic" — so we declare
exactly that and let Catalyst order it. The dim join is a broadcast
hash join (the dim is ~2k rows vs billions of fact rows at scale).

Two dim-join modes preserve the reference's asymmetry (SURVEY.md §2.3):
- 'backfill': LEFT join against the pre-filtered dim
  (market/non_fq_daily_kline.py:104 — facts were fetched per filtered
  key, so every row matches),
- 'delta': INNER join, which doubles as the main-board filter
  (market/delta_non_fq_daily_kline.py:84 — the per-date fetch returns
  all stocks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import CANONICAL

# rename map, reference market/non_fq_daily_kline.py:113-120 (P3)
RENAME_MAP = {
    "pre_close": "prev_close",
    "pct_chg": "quote_rate",
    "vol": "volume",
    "amount": "turnover",
    "up_limit": "high_limit",
    "down_limit": "low_limit",
}
KEY_RENAME = {"ts_code": "code", "trade_date": "date"}

MAIN_BOARD = "主板"  # reference market/non_fq_daily_kline.py:48 (P4)


def filter_main_board(stock_basic: DataFrame) -> DataFrame:
    """P4: keep main-board stocks (client-side residual filter)."""
    return stock_basic.filter(F.col("market") == MAIN_BOARD)


def join_facts(daily: DataFrame, stk_limit: DataFrame, daily_basic: DataFrame) -> DataFrame:
    """J1+P5: anchor on non-null-close kline rows, left-join the other
    two facts on the composite key (ts_code, trade_date).

    At scale all three facts are co-partitioned by date → the joins
    shuffle on the same composite key once (or not at all with
    bucketed/cluster-by storage).
    """
    key = ["ts_code", "trade_date"]
    anchor = daily.filter(F.col("close").isNotNull())
    return anchor.join(stk_limit, key, "left").join(daily_basic, key, "left")


def enrich_dim(fact: DataFrame, stock_dim: DataFrame, mode: str = "backfill") -> DataFrame:
    """J2 (backfill, left) / J3 (delta, inner — doubles as P4 filter)."""
    how = {"backfill": "left", "delta": "inner"}[mode]
    return fact.join(F.broadcast(stock_dim), "ts_code", how)


def to_canonical(df: DataFrame) -> DataFrame:
    """P3+F1: rename, cast wire-format yyyyMMdd strings to dates, and
    project in the reference's column order (FIXTURES.md §A6).

    One projection from SQL text: each DataFrame call is a py4j round
    trip plus an analysis of the plan, and every delta cycle builds
    this plan anew."""
    source = {dst: src for src, dst in {**RENAME_MAP, **KEY_RENAME}.items()}
    cols = []
    for f in CANONICAL.fields:
        col = f"`{source.get(f.name, f.name)}`"
        if isinstance(f.dataType, T.DateType):
            col = f"to_date({col}, 'yyyyMMdd')"
        cols.append(f"{col} AS `{f.name}`")
    return df.selectExpr(*cols)


def assemble_canonical(
    daily: DataFrame,
    stk_limit: DataFrame,
    daily_basic: DataFrame,
    stock_basic: DataFrame,
    mode: str = "backfill",
) -> DataFrame:
    """Full reference pipeline as one declarative plan.

    Backfill mode re-expresses the reference's key-driven scan (it
    iterates ONLY filtered dim keys, market/non_fq_daily_kline.py:54-57)
    as a broadcast semi-join of each fact against the filtered dim —
    same output set, no driver loop; the subsequent dim join can then be
    LEFT as in the reference (:104) because every fact row matches.
    """
    dim = filter_main_board(stock_basic)
    if mode == "backfill":
        keys = dim.select("ts_code")
        sj = lambda df: df.join(F.broadcast(keys), "ts_code", "left_semi")  # noqa: E731
        daily, stk_limit, daily_basic = sj(daily), sj(stk_limit), sj(daily_basic)
    if mode == "delta":
        # Reference parity: the per-day loop skips a day ENTIRELY when
        # any of the three fetches returns empty
        # (market/delta_non_fq_daily_kline.py:84 'continue') — so the
        # anchor keeps only dates present in BOTH secondary facts.
        # Backfill keeps such rows with null limit/basic columns (the
        # reference's outer concat does too). One broadcast semi-join per
        # fact keeps a date present in both: the semi-join build ignores
        # duplicate keys and the date window bounds it, so no shuffle
        # and no distinct runs.
        for fact in (stk_limit, daily_basic):
            daily = daily.join(F.broadcast(fact.select("trade_date")), "trade_date", "left_semi")
    fact = join_facts(daily, stk_limit, daily_basic)
    return to_canonical(enrich_dim(fact, dim, mode))
