"""Python DataSource shim for the API-shaped sources (SURVEY.md §2.1
S1-S6, §4 "custom work item 1").

The reference fetches five Tushare REST tables with per-stock and
per-date access paths, 3 retries, a named rate limit, and server-side
projection (`fields=`) / predicates (`exchange=`, `is_open=`)
(market/non_fq_daily_kline.py:30-48, 62-84, 90;
 market/trade_calendar.py:24-29). Here that becomes a Spark 4
`pyspark.sql.datasource.DataSource`:

- one InputPartition per ts_code (backfill path, S2) or per trade_date
  (delta path, S3) — the reference's driver loops become Spark task
  parallelism;
- `pushFilters` receives Catalyst predicates and prunes the partition
  list (EqualTo/In on the partition key, range filters on trade_date)
  — a WHERE on the key now means fewer API calls, the custom-source
  analog of partition pruning;
- per-task retry with backoff (R1) and a token-bucket rate limiter
  (R3; per Python worker process — aggregate rate = workers × rate);
- rows are returned as ONE Arrow RecordBatch per partition (vectorized
  hand-off, no per-row Python loop).

The wire client is pluggable: `FixtureApiClient` serves the same
table shapes from local CSV fixtures (the real Tushare client is
network-dependent and deliberately out of the engine; same boundary as
the reference's `ts.pro_api()`).
"""

from __future__ import annotations

import os
import threading
import time
from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from .. import schemas

if TYPE_CHECKING:
    from collections.abc import Iterable, Iterator, Sequence

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "stock_basic": schemas.STOCK_BASIC,
    "daily": schemas.DAILY,
    "stk_limit": schemas.STK_LIMIT,
    "daily_basic": schemas.DAILY_BASIC,
    "trade_cal": schemas.TRADE_CAL,
}

# tables keyed by (ts_code, trade_date) with both access paths
FACT_TABLES = ("daily", "stk_limit", "daily_basic")


# ---------------------------------------------------------------------------
# reliability primitives (R1, R3)
# ---------------------------------------------------------------------------


class TokenBucket:
    """R3: thread-safe token bucket; `acquire` blocks until a token is
    available. One bucket per (name) per Python worker process."""

    _instances: dict[str, "TokenBucket"] = {}
    _lock = threading.Lock()

    def __init__(self, rate: float, capacity: float):
        self.rate = rate
        self.capacity = capacity
        self.tokens = capacity
        self.updated = time.monotonic()
        self.mu = threading.Lock()

    @classmethod
    def named(cls, name: str, rate: float, capacity: float) -> "TokenBucket":
        with cls._lock:
            if name not in cls._instances:
                cls._instances[name] = cls(rate, capacity)
            return cls._instances[name]

    def acquire(self) -> None:
        while True:
            with self.mu:
                now = time.monotonic()
                self.tokens = min(self.capacity, self.tokens + (now - self.updated) * self.rate)
                self.updated = now
                if self.tokens >= 1.0:
                    self.tokens -= 1.0
                    return
                wait = (1.0 - self.tokens) / self.rate
            time.sleep(wait)


def with_retry(fn, retries: int = 3, backoff_s: float = 0.05):
    """R1: call fn, retrying `retries` times on any exception with
    linear backoff (reference: @task(retries=3))."""
    attempt = 0
    while True:
        try:
            return fn()
        except Exception:
            attempt += 1
            if attempt > retries:
                raise
            time.sleep(backoff_s * attempt)


# ---------------------------------------------------------------------------
# wire clients
# ---------------------------------------------------------------------------


class FixtureApiClient:
    """Serves Tushare-shaped tables from `<root>/<table>.csv`, applying
    the same server-side parameters the real API supports: key/date
    selectors, `fields` projection, `exchange`/`is_open` predicates.

    Optionally appends one line per call to `<root>/call_log` — tests
    use it to assert partition pruning reached the source.
    """

    def __init__(self, root: str, log_calls: bool = False):
        self.root = root
        self.log_calls = log_calls

    def _log(self, line: str) -> None:
        if self.log_calls:
            # O_APPEND single-write: atomic enough across worker processes
            with open(os.path.join(self.root, "call_log"), "a") as f:
                f.write(line + "\n")

    def fetch(
        self,
        table: str,
        ts_code: str | None = None,
        trade_date: str | None = None,
        start_date: str | None = None,
        end_date: str | None = None,
        fields: "Sequence[str] | None" = None,
    ) -> pd.DataFrame:
        pdf = pd.read_csv(os.path.join(self.root, f"{table}.csv"), dtype=str)
        schema = TABLE_SCHEMAS[table]
        for f_ in schema.fields:  # wire strings → declared types
            if isinstance(f_.dataType, T.DoubleType):
                pdf[f_.name] = pd.to_numeric(pdf[f_.name], errors="coerce")
        if ts_code is not None:
            pdf = pdf[pdf["ts_code"] == ts_code]
        if trade_date is not None:
            pdf = pdf[pdf["trade_date"] == trade_date]
        if start_date is not None:
            col = "cal_date" if table == "trade_cal" else "trade_date"
            pdf = pdf[pdf[col] >= start_date]
        if end_date is not None:
            col = "cal_date" if table == "trade_cal" else "trade_date"
            pdf = pdf[pdf[col] <= end_date]
        if fields is not None:
            pdf = pdf[list(fields)]
        self._log(f"{table},ts_code={ts_code},trade_date={trade_date},n={len(pdf)}")
        return pdf


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------


class _KeyPartition(InputPartition):
    def __init__(self, value: str):
        self.value = value


def _fetch_arrow(options: dict, table: str, schema: T.StructType, query: dict) -> "Iterator":
    """One partition's fetch, shared by the batch and the stream reader:
    the ``query`` call (``ts_code``/date arguments) projected to
    ``schema``'s fields, each attempt taking a token from the named
    ``api:<table>`` bucket (R3) under retry (R1), returned as one
    vectorized Arrow batch — no per-row Python. Empty results yield
    nothing."""
    import pyarrow as pa

    client = FixtureApiClient(
        options["fixture_dir"], log_calls=options.get("log_calls", "false") == "true"
    )
    bucket = TokenBucket.named(
        f"api:{table}",
        rate=float(options.get("rate", "1e9")),
        capacity=float(options.get("burst", "1e9")),
    )
    fields = [f.name for f in schema.fields]

    def call() -> pd.DataFrame:
        bucket.acquire()
        return client.fetch(table, fields=fields, **query)

    pdf = with_retry(call, retries=int(options.get("retries", "3")))
    if len(pdf) == 0:
        return
    arrow_schema = pa.schema(
        [
            (f.name, pa.float64() if isinstance(f.dataType, T.DoubleType) else pa.string())
            for f in schema.fields
        ]
    )
    yield pa.RecordBatch.from_pandas(pdf[fields], schema=arrow_schema, preserve_index=False)


class AShareApiReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.schema_ = schema
        self.options = options
        self.table = options["table"]
        self.mode = options.get("mode", "by_key")  # by_key | by_date
        self._keys = [k for k in options.get("keys", "").split(",") if k]
        self._start = options.get("start_date") or None
        self._end = options.get("end_date") or None
        self._pruned_keys: set[str] | None = None

    # -- pushdown -----------------------------------------------------------
    def pushFilters(self, filters: "list[Filter]") -> "Iterable[Filter]":
        """Prune partitions from Catalyst predicates. Handled filters:
        EqualTo/In on the partition key column; range filters on
        trade_date in by_date mode tighten the date window. Everything
        else is returned for Spark to evaluate post-scan (residuals —
        same split as the reference's server vs client filters)."""
        key_col = "ts_code" if self.mode == "by_key" else "trade_date"
        residual: list[Filter] = []
        for f in filters:
            attr = f.attribute[-1] if getattr(f, "attribute", None) else None
            if isinstance(f, EqualTo) and attr == key_col:
                self._intersect_keys({str(f.value)})
            elif isinstance(f, In) and attr == key_col:
                self._intersect_keys({str(v) for v in f.value})
            elif self.mode == "by_date" and attr == "trade_date" and isinstance(
                f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ):
                v = str(f.value)
                if isinstance(f, GreaterThan | GreaterThanOrEqual):
                    self._start = max(self._start or v, v)
                else:
                    self._end = min(self._end or v, v)
                residual.append(f)  # keep exact bound semantics in Spark
            else:
                residual.append(f)
        return residual

    def _intersect_keys(self, vals: set[str]) -> None:
        self._pruned_keys = vals if self._pruned_keys is None else (self._pruned_keys & vals)

    # -- planning -----------------------------------------------------------
    def partitions(self) -> "Sequence[InputPartition]":
        if self.mode == "by_key":
            keys = self._keys
            if self._pruned_keys is not None:
                keys = [k for k in keys if k in self._pruned_keys]
            return [_KeyPartition(k) for k in keys]
        # by_date: enumerate yyyyMMdd days in [start, end], optionally
        # restricted to an explicit key list (e.g. trading days)
        days = self._keys or self._date_range()
        if self._pruned_keys is not None:
            days = [d for d in days if d in self._pruned_keys]
        if self._start:
            days = [d for d in days if d >= self._start]
        if self._end:
            days = [d for d in days if d <= self._end]
        return [_KeyPartition(d) for d in days]

    def _date_range(self) -> list[str]:
        if not (self._start and self._end):
            raise ValueError("by_date mode needs start_date/end_date or keys")
        days = pd.date_range(self._start, self._end, freq="D")
        return [d.strftime("%Y%m%d") for d in days]

    # -- execution ----------------------------------------------------------
    def read(self, partition: _KeyPartition) -> "Iterator":
        if self.mode == "by_key":
            query = {"ts_code": partition.value, "start_date": self._start, "end_date": self._end}
        else:
            query = {"trade_date": partition.value}
        yield from _fetch_arrow(self.options, self.table, self.schema_, query)


class AShareApiStreamReader(DataSourceStreamReader):
    """Streaming access path: the reference's delta loop
    (market/delta_non_fq_daily_kline.py:63-108 — wall-clock day
    iteration + a hand-rolled watermark file) as a NATIVE streaming
    source. Offsets are trade dates (`{"last_date": "yyyyMMdd"}`,
    exclusive); each micro-batch covers the dates that appeared since
    the committed offset, one InputPartition per date (same per-date
    fetch as batch by_date mode). Spark's checkpoint replaces
    `.last_update_date`: offsets commit transactionally after the sink
    epoch, so a crash rerun resumes instead of duplicating."""

    def __init__(self, schema: T.StructType, options: dict):
        self.schema_ = schema
        self.options = options
        self.table = options["table"]
        self._start = options["start_date"]  # stream begins AFTER this date

    def _available_dates(self) -> list[str]:
        client = FixtureApiClient(self.options["fixture_dir"])
        col = "cal_date" if self.table == "trade_cal" else "trade_date"
        pdf = client.fetch(self.table, fields=[col])
        return sorted(pdf[col].dropna().unique())

    def initialOffset(self) -> dict:
        return {"last_date": self._start}

    def latestOffset(self) -> dict:
        dates = self._available_dates()
        return {"last_date": dates[-1] if dates else self._start}

    def partitions(self, start: dict, end: dict) -> "Sequence[InputPartition]":
        days = [
            d for d in self._available_dates() if start["last_date"] < d <= end["last_date"]
        ]
        return [_KeyPartition(d) for d in days]

    def read(self, partition: _KeyPartition) -> "Iterator":
        yield from _fetch_arrow(
            self.options, self.table, self.schema_, {"trade_date": partition.value}
        )

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint


class AShareApiDataSource(DataSource):
    """spark.read.format("ashare_api")
        .option("table", "daily").option("mode", "by_key")
        .option("keys", "600000.SH,000001.SZ")
        .option("start_date", "20240101").option("end_date", "20240201")
        .option("fixture_dir", "/path/to/fixtures").load()
    """

    @classmethod
    def name(cls) -> str:
        return "ashare_api"

    def schema(self) -> T.StructType:
        return TABLE_SCHEMAS[self.options["table"]]

    def reader(self, schema: T.StructType) -> AShareApiReader:
        return AShareApiReader(schema, dict(self.options))

    def streamReader(self, schema: T.StructType) -> AShareApiStreamReader:
        return AShareApiStreamReader(schema, dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(AShareApiDataSource)
