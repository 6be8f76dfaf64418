"""SparkSession factory.

One place to configure the engine. Defaults are tuned for the test rig
(local[N], single JVM) but every knob is chosen so the same code runs
unchanged on a 1000-executor cluster:

- AQE on: runtime join-strategy switching, partition coalescing, and
  skew-join splitting replace hand-tuning at scale.
- Arrow on: all pandas interop (Pandas UDFs, applyInPandas) is
  Arrow-batched, never row-at-a-time pickling.
- shuffle.partitions sized from the env (driver runs local[$SPARK_GRAFT_CPUS]);
  on a real cluster AQE coalesces from a higher initial number.
- session timezone UTC so timestamp semantics match the DuckDB oracle.

Clones: a query that needs a different shuffle width runs on
:func:`clone_session` — a ``newSession()`` that shares the SparkContext
and cached blocks but has its own SQL conf (the clone inherits every
engine conf :func:`get_spark` sets). Package code sets no width or
write-mode conf on a session it did not create; per-write settings go
on the writer (``.option("partitionOverwriteMode", "dynamic")``).
Width follows data volume, not CPU count: frames far below the
session width make every stage task-scheduling-bound, so a clone may
narrow to a fixed small width or to :func:`volume_width`,
``min(session_width, max(8, ceil(rows / 64Ki)))`` — at scale the row
count dominates and the clone keeps the full width. Results are
partition-independent (``SWEEP_sf0.01_w7.jsonl`` re-checks the whole
catalog at width 7). A DataFrame runs at the width of the session it
was built on, so a query's result read on its clone runs at the
clone's width.

Pins: every eager materialization goes through :func:`pin` —
``localCheckpoint(eager=True)`` run as one Spark job whose description
is the calling function (``<module>.<qualname>``), so the event log
splits any query into named phases with no per-site name. A question
about the pinned frame (its row count, a moved-label count) is an
``observe`` metric that rides the pin's own job, never a second
``count()``/``isEmpty()`` job. Rows that a driver-side write needs
ride the pin the same way when a window bounds them:
``flows.delta_flow`` collects the delta's CSV lines, joined into one
string, on its pin instead of running a write job after it.
The scheduler applies a result task's metrics once, so a retried task
adds no duplicates. A lazy ``localCheckpoint(eager=False)`` submits no
job, so it stays inline.

Scratch: a query that writes its own files (stream landings and
checkpoints, interchange round-trips, stored indexes, layout tables)
writes them under :func:`scratch_dir`, ``<warehouse>/<name>`` for its
registry name, in subdirectories when it needs more than one. A
query's result may read its scratch directory lazily, and the next call
of the same query empties and replaces that directory, so collect a
result before calling its query again. Names are unique, so two queries
never share files, and disk use is bounded to one directory per query.
Processes that run at the same time need their own warehouse
(``bench.py`` and ``perfbench`` give each run one).
"""

from __future__ import annotations

import os
import shutil
import sys
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, Observation, SparkSession


_WIDTH = "spark.sql.shuffle.partitions"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def get_spark(
    app_name: str = "a_share_data_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(_WIDTH, str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs default to row-at-a-time pickling; keep every
        # Python lane Arrow-batched (plan shows ArrowEvalPythonUDTF)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.ts is parquet TIMESTAMP(NANOS) — Spark has no
        # nanos timestamp; read as long and convert at the source
        # (sources/readers.py truncates to micros, matching DuckDB)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the API-shaped Python DataSource implements pushFilters — the
        # partition-pruning-from-predicates path needs this flag
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def clone_session(spark: SparkSession, width: int | None = None) -> SparkSession:
    """A new session on ``spark``'s SparkContext, optionally at shuffle
    ``width`` (default: the caller's). Clones through ``newSession()``,
    which ``perfbench/tracing.py`` hooks to hear clone streams."""
    clone = spark.newSession()
    if width is not None:
        set_width(clone, width)
    return clone


def set_width(clone: SparkSession, width: int) -> None:
    """Set the shuffle width of a session made by :func:`clone_session`."""
    clone.conf.set(_WIDTH, str(width))


def volume_width(spark: SparkSession, rows: int) -> int:
    """The clone width for a frame of ``rows`` rows."""
    return min(int(spark.conf.get(_WIDTH)), max(8, -(-rows // 65536)))


def pin(df: DataFrame, **metrics: Column):
    """``df`` materialized once (eager ``localCheckpoint``), under the
    caller's name as the job description; the thread's previous
    description is restored after. With ``metrics`` (name=aggregate
    column, e.g. ``rows=F.count(F.lit(1))``) the aggregates are
    observed on the same job and ``(frame, {name: value})`` returns.

    Each value crosses from the JVM as py4j converts it: a number or a
    string comes back as one, an array would stay a JVM object. The
    public ``Observation.get`` pickles the row instead, and py4j
    decodes those bytes one at a time in Python, slow for the few
    hundred KB of a delta's lines."""
    caller = sys._getframe(1)
    sc = df.sparkSession.sparkContext
    prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"{caller.f_globals['__name__']}.{caller.f_code.co_qualname}")
    try:
        if metrics:
            seen = Observation()
            df = df.observe(seen, *(col.alias(name) for name, col in metrics.items()))
        pinned = df.localCheckpoint(eager=True)
        if not metrics:
            return pinned
        row = seen._jo.getRow()
        return pinned, {name: row.get(i) for i, name in enumerate(metrics)}
    finally:
        sc.setLocalProperty("spark.job.description", prior)


def scratch_dir(spark: SparkSession, name: str) -> str:
    """The query ``name``'s scratch directory, emptied (see Scratch
    above)."""
    d = os.path.join(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d
