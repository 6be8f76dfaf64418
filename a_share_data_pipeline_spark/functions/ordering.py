"""Cross-engine-stable tick order.

First/last-tick results (open/close, daily close, session paths) pick
one row per group by event time. `ts` ties, so both engines order by
one zero-padded (epoch-micros, event_id) string key: unique, and
ordered identically by Spark and DuckDB. `ordkey()` is the only place
the Spark side builds it; `ORDKEY_SQL` is the same key in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ORDKEY_SQL = (
    "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') "
    "|| lpad(CAST(event_id AS VARCHAR), 12, '0')"
)


def ordkey() -> Column:
    return F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
