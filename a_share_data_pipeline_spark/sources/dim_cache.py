"""TTL'd dimension snapshot cache (SURVEY.md §2.11 R2).

The reference caches its stock-dimension fetch keyed on inputs with a
1-hour TTL (market/non_fq_daily_kline.py:30-34 — Prefect
`cache_policy=INPUTS, cache_expiration=1h`). Spark's `persist()` has no
TTL, so the engine wraps it in a thin memo: a cached snapshot is served
until its age exceeds the TTL, then the loader runs again and the old
snapshot is unpersisted.

Scale note: dimensions are the broadcast sides of the canonical joins;
re-resolving them once per TTL window (not per query) keeps dim reads
off the hot path without letting a long-lived session serve stale
dimensions forever.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class _Entry:
    df: DataFrame
    fetched_at: float


class DimCache:
    def __init__(self, ttl_s: float = 3600.0, clock: Callable[[], float] = time.monotonic):
        self.ttl_s = ttl_s
        self._clock = clock
        self._entries: dict[str, _Entry] = {}

    def get(self, key: str, loader: Callable[[], DataFrame]) -> DataFrame:
        """Serve the persisted snapshot for `key`, reloading it (and
        unpersisting the stale one) when older than ttl_s."""
        now = self._clock()
        entry = self._entries.get(key)
        if entry is not None and (now - entry.fetched_at) < self.ttl_s:
            return entry.df
        if entry is not None:
            entry.df.unpersist()
        df = loader().persist()
        self._entries[key] = _Entry(df=df, fetched_at=now)
        return df

    def invalidate(self) -> None:
        """Drop (and unpersist) every snapshot; the next get reloads."""
        for e in self._entries.values():
            e.df.unpersist()
        self._entries.clear()
