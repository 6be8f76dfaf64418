"""Seeded, vectorized input generators for the benchmark workloads.

Two input sets, both built from NumPy draws (no per-row Python loops)
and staged as parquet before any timed work:

- ``tpch_tables``: the TPC-H-shaped star schema plus ``events``,
  ``documents`` and ``embeddings`` that the query catalog reads. Column
  names, physical types, key ranges and value domains follow the
  catalog's testdata tables (``schemas.TESTDATA``); sizes scale with
  ``sf`` the same way (lineitem = 6M x sf rows).
- ``ashare_market``: a Tushare-shaped A-share market (``stock_basic``,
  ``daily``, ``stk_limit``, ``daily_basic``) with the edge cases the
  reference pipeline has to survive: ~3 % null ``close`` (suspended
  days), ~5 % of (stock, day) pairs missing from ``stk_limit`` and from
  ``daily_basic``, and null ``pe``/``pe_ttm`` for loss-making stocks.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- TPC-H-shaped catalog tables -------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "old", "red", "hot", "large", "cold", "small", "new"]
NOUNS = ["bolt", "plate", "anvil", "rod", "widget", "gizmo", "ring", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _pick(rng: np.random.Generator, pool: list[str], n: int) -> np.ndarray:
    return np.asarray(pool, dtype=object)[rng.integers(0, len(pool), n)]


def _numbered(prefix: str, ids: np.ndarray, width: int) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(ids.astype(str), width)).astype(object)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n) * np.timedelta64(86_400_000_000, "us")


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_events = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(int(15_000 * sf), 10), 500
    i32, i64 = pa.int32(), pa.int64()
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    cust = np.arange(n_cust)
    supp = np.arange(n_supp)
    part = np.arange(n_part)
    orders = np.arange(n_ord)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(cust, i64),
                "c_name": _numbered("Customer#", cust, 9),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(supp, i64),
                "s_name": _numbered("Supplier#", supp, 9),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(part, i64),
                "p_name": np.char.add(
                    np.char.add(_pick(rng, ADJECTIVES, n_part).astype(str), " "),
                    _pick(rng, NOUNS, n_part).astype(str),
                ).astype(object),
                "p_brand": np.char.add(
                    "Brand#", rng.integers(1, 26, n_part).astype(str)
                ).astype(object),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900.0 + (part % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(orders, i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": money(1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(float),
                "l_extendedprice": money(900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
            }
        ),
    }
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, n_events)) + np.datetime64("2024-01-01", "us")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": ts,
            "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}"
            ).astype(object),
        }
    )
    # documents: 10-99 words each, drawn from one flat word stream
    lengths = rng.integers(10, 100, n_docs)
    words = _pick(rng, VOCAB, int(lengths.sum())).astype(str)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    text = np.array(
        [" ".join(w) for w in np.split(words, starts[1:])], dtype=object
    )
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": text,
            "lang": np.asarray(LANGS, dtype=object)[rng.choice(5, n_docs, p=LANG_P)],
            "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)).astype(object),
            "n_chars": pa.array(np.char.str_len(text.astype(str)), i64),
        }
    )
    vec = rng.standard_normal((n_docs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs), i64),
            "embedding": pa.ListArray.from_arrays(
                np.arange(0, vec.size + 1, 64, dtype=np.int32), pa.array(vec.ravel())
            ),
            "label": pa.array(rng.integers(0, 10, n_docs), i32),
        }
    )
    return tables


# --- A-share market ---------------------------------------------------------

AREAS = ["上海", "深圳", "北京", "广东", "浙江"]
INDUSTRIES = ["银行", "软件", "医药", "汽车", "钢铁"]
NAMES = ["浦发银行", "万科A", "贵州茅台", "宁德时代", "中芯国际"]
MAIN_BOARD = "主板"


def trading_days(seed: int, n_days: int, start: str = "2023-01-02") -> list[str]:
    """Mon-Fri with ~2 % of weekdays dropped as holidays, yyyyMMdd."""
    rng = np.random.default_rng(seed)
    days = pd.bdate_range(start, periods=int(n_days * 1.05) + 10)
    days = days[rng.random(len(days)) >= 0.02][:n_days]
    return list(days.strftime("%Y%m%d"))


def ashare_market(seed: int, n_stocks: int, days: list[str]) -> dict[str, pd.DataFrame]:
    """stock_basic / daily / stk_limit / daily_basic over ``days``."""
    rng = np.random.default_rng(seed)
    n_days = len(days)
    i = np.arange(n_stocks)
    codes = np.char.add(
        np.char.zfill((600_000 + i).astype(str), 6), np.where(i % 2 == 0, ".SH", ".SZ")
    ).astype(object)
    board = rng.random(n_stocks)
    stock_basic = pd.DataFrame(
        {
            "ts_code": codes,
            "name": np.char.add(_pick(rng, NAMES, n_stocks).astype(str), i.astype(str)),
            "area": _pick(rng, AREAS, n_stocks),
            "industry": _pick(rng, INDUSTRIES, n_stocks),
            "market": np.where(
                board < 0.6, MAIN_BOARD, np.where(board < 0.8, "创业板", "科创板")
            ),
            "exchange": np.where(i % 2 == 0, "SSE", "SZSE"),
            "list_date": np.char.add(
                np.char.add(
                    rng.integers(1995, 2021, n_stocks).astype(str),
                    np.char.zfill(rng.integers(1, 13, n_stocks).astype(str), 2),
                ),
                np.char.zfill(rng.integers(1, 29, n_stocks).astype(str), 2),
            ),
        }
    )

    shape = (n_stocks, n_days)
    base = rng.uniform(5.0, 100.0, n_stocks)
    path = base[:, None] * np.cumprod(1.0 + rng.normal(0.0, 0.02, shape), axis=1)
    prev = np.concatenate([base[:, None], path[:, :-1]], axis=1)
    close = np.round(path, 2)
    close[rng.random(shape) < 0.03] = np.nan  # suspended day: no close
    key = {
        "ts_code": np.repeat(codes, n_days),
        "trade_date": np.tile(np.asarray(days, dtype=object), n_stocks),
    }
    flat = lambda a: a.ravel()  # noqa: E731
    daily = pd.DataFrame(
        {
            **key,
            "open": flat(np.round(prev * (1.0 + rng.normal(0.0, 0.005, shape)), 2)),
            "high": flat(np.round(np.maximum(prev, path) * 1.01, 2)),
            "low": flat(np.round(np.minimum(prev, path) * 0.99, 2)),
            "close": flat(close),
            "pre_close": flat(np.round(prev, 2)),
            "pct_chg": flat(np.round((path - prev) / prev * 100.0, 4)),
            "vol": flat(rng.integers(1_000, 500_000, shape).astype(float)),
            "amount": flat(np.round(rng.uniform(1e3, 1e6, shape), 3)),
        }
    )
    keep_limit = flat(rng.random(shape) >= 0.05)
    stk_limit = pd.DataFrame(
        {
            **key,
            "up_limit": flat(np.round(prev * 1.1, 2)),
            "down_limit": flat(np.round(prev * 0.9, 2)),
        }
    )[keep_limit]
    keep_basic = flat(rng.random(shape) >= 0.05)
    loss_making = np.repeat(rng.random(n_stocks) < 0.15, n_days)
    n = n_stocks * n_days
    u = lambda lo, hi, digits=4: np.round(rng.uniform(lo, hi, n), digits)  # noqa: E731
    pe, pe_ttm = u(5, 80), u(5, 80)
    pe[loss_making] = np.nan
    pe_ttm[loss_making] = np.nan
    daily_basic = pd.DataFrame(
        {
            **key,
            "turnover_rate": u(0.1, 5),
            "turnover_rate_f": u(0.1, 5),
            "volume_ratio": u(0.5, 3, 2),
            "pe": pe,
            "pe_ttm": pe_ttm,
            "pb": u(0.5, 10),
            "ps": u(0.5, 20),
            "ps_ttm": u(0.5, 20),
            "dv_ratio": u(0, 5),
            "dv_ttm": u(0, 5),
            "total_share": u(1e4, 1e6),
            "float_share": u(1e4, 1e6),
            "free_share": u(1e4, 1e6),
            "total_mv": u(1e5, 1e7),
            "circ_mv": u(1e5, 1e7),
        }
    )[keep_basic]
    return {
        "stock_basic": stock_basic,
        "daily": daily,
        "stk_limit": stk_limit.reset_index(drop=True),
        "daily_basic": daily_basic.reset_index(drop=True),
    }


def stage(tables: dict, out_dir: str) -> None:
    """Write each table as ``<out_dir>/<name>.parquet`` (one file)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        if isinstance(t, pd.DataFrame):
            t = pa.Table.from_pandas(t, preserve_index=False)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
