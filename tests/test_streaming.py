"""M5 Structured Streaming tests: AvailableNow file-source streams over
the events fixture, checked against the equivalent batch plans, plus
exactly-once semantics of a checkpointed foreachBatch sink."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from a_share_data_pipeline_spark.sources.readers import load_table
from a_share_data_pipeline_spark.streaming import structured as ST

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_landing(spark, tmp_path_factory):
    """Events fixture re-written as micros-timestamp parquet files in a
    landing dir (the raw testdata file is TIMESTAMP(NANOS), which the
    file-source stream can't schema-infer)."""
    d = tmp_path_factory.mktemp("events_landing")
    ev = load_table(spark, SF, "events")
    ev.coalesce(2).write.mode("overwrite").parquet(str(d / "files"))
    schema = ev.schema
    return str(d / "files"), schema, ev


def _memory_df(spark, name):
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_matches_batch(spark, events_landing, tmp_path):
    path, schema, ev_batch = events_landing
    stream = ST.read_file_stream(spark, path, schema)
    result = ST.tumbling_counts(stream, watermark="2 hours")
    ST.run_available_now(result, str(tmp_path / "ckpt"), "tumb", output_mode="complete")
    got = {tuple(r) for r in _memory_df(spark, "tumb").collect()}
    want = {tuple(r) for r in ST.tumbling_counts(ev_batch).collect()}
    assert got == want
    assert len(got) > 0


def test_sliding_stream_matches_batch(spark, events_landing, tmp_path):
    path, schema, ev_batch = events_landing
    stream = ST.read_file_stream(spark, path, schema)
    result = ST.sliding_counts(stream, watermark="2 hours")
    ST.run_available_now(result, str(tmp_path / "ckpt"), "slide", output_mode="complete")
    got = {tuple(r) for r in _memory_df(spark, "slide").collect()}
    want = {tuple(r) for r in ST.sliding_counts(ev_batch).collect()}
    assert got == want
    # every event lands in 2 overlapping windows → sliding rows ≥ tumbling rows
    assert len(got) > 0


def test_session_stream_matches_batch(spark, events_landing, tmp_path):
    path, schema, ev_batch = events_landing
    stream = ST.read_file_stream(spark, path, schema)
    result = ST.session_aggregate(stream, watermark="2 hours")
    ST.run_available_now(result, str(tmp_path / "ckpt"), "sess", output_mode="complete")
    got = {tuple(r) for r in _memory_df(spark, "sess").collect()}
    want = {tuple(r) for r in ST.session_aggregate(ev_batch).collect()}
    assert got == want
    assert len(got) > 0


def test_stateful_running_totals(spark, events_landing, tmp_path):
    """applyInPandasWithState: last update per user equals the batch
    per-user totals."""
    path, schema, ev_batch = events_landing
    stream = ST.read_file_stream(spark, path, schema, max_files_per_trigger=1)
    result = ST.running_totals_stateful(stream)
    ST.run_available_now(result, str(tmp_path / "ckpt"), "runtot", output_mode="update")
    # memory sink in update mode appends each update; with >1 micro-batch
    # a user may appear multiple times — the LAST row per user is final
    updates = _memory_df(spark, "runtot").toPandas()
    final = updates.groupby("user_id").last()
    want = (
        ev_batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("sum_value"),
        )
        .toPandas()
        .set_index("user_id")
    )
    assert len(final) == len(want)
    joined = final.join(want, lsuffix="_got", rsuffix="_want")
    assert (joined["n_events_got"] == joined["n_events_want"]).all()
    assert (abs(joined["sum_value_got"] - joined["sum_value_want"]) < 1e-6).all()


@pytest.mark.slow  # round-14 tiering (VERDICT r13 item 2): measured 43s solo-class cost; slow tier, still run at round close
def test_stream_stream_join_state_expires_under_tight_watermark(spark, tmp_path):
    """VERDICT r4 item 3: the catalog's stream_stream_join runs with a
    replay-sized watermark (bounded input, one batch — expiry never
    exercised). This drives the SAME join shape with a TIGHT (30 min)
    watermark over 8 days landed as one file per day (one micro-batch
    each): (a) every in-window match still emits, (b) the join state
    store stays bounded — days that the watermark has passed are
    evicted instead of accumulating, the property that makes the
    operator deployable against an unbounded stream."""
    import datetime as dt
    import json as _json
    import shutil as _sh

    base = dt.datetime(2024, 1, 1)
    days, per_day = 8, 20
    rows, eid = [], 0
    for d in range(days):
        for k in range(per_day):
            t = base + dt.timedelta(days=d, minutes=3 * k)
            rows.append((eid, t, k % 5, "click", None))
            eid += 1
            rows.append((eid, t + dt.timedelta(minutes=10), k % 5, "purchase", float(k)))
            eid += 1
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    ev = spark.createDataFrame(rows, schema)

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for d in range(days):  # one file per day, landed in time order
        day_dir = str(tmp_path / f"day{d}")
        lo = base + dt.timedelta(days=d)
        hi = lo + dt.timedelta(days=1)
        ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))).coalesce(
            1
        ).write.parquet(day_dir)
        for f in os.listdir(day_dir):
            if f.endswith(".parquet"):
                # copy (not move) so mtimes ascend with event time — the
                # file source orders batches by file timestamp
                _sh.copy(os.path.join(day_dir, f), os.path.join(landing, f"d{d}_{f}"))

    def sides(src):
        clicks = src.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        purchases = src.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        if src.isStreaming:
            clicks = clicks.withWatermark("click_ts", "30 minutes")
            purchases = purchases.withWatermark("purchase_ts", "30 minutes")
        return clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        ).select("click_id", "purchase_id")

    stream = ST.read_file_stream(spark, landing, ev.schema, max_files_per_trigger=1)
    q = ST.run_available_now(sides(stream), str(tmp_path / "ckpt"), "ssj_wm")
    got = {tuple(r) for r in _memory_df(spark, "ssj_wm").collect()}
    want = {tuple(r) for r in sides(ev).collect()}
    # (a) nothing lost: files arrive in event-time order, so no row is
    # ever behind the watermark — every static match emits exactly once
    assert got == want
    assert len(got) >= days * per_day  # every click finds at least its purchase

    # (b) state bounded: by the final micro-batch the watermark has
    # passed days 0..6, so their buffered rows are evicted; the store
    # holds ~1 day of rows, never the 8-day replay
    progresses = [_json.loads(p.json) for p in q.recentProgress]
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progresses
        if p.get("stateOperators")
    ]
    total_rows = days * per_day * 2
    assert max(state_rows) < total_rows / 2
    assert state_rows[-1] <= 2 * per_day * 2  # ≤ ~2 days resident at the end


def test_foreach_batch_sink_resumes_checkpoint(spark, events_landing, tmp_path):
    """A foreachBatch sink run through the runner sees each landed file
    exactly once across reruns on one checkpoint — the idempotent
    upgrade of the reference's U1 rerun-duplication (same scenario as
    A9, opposite outcome)."""
    _, schema, ev_batch = events_landing
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    seen = []

    def sink(batch, _bid):
        seen.append(batch.count())

    def land(n, wave):
        staged = str(tmp_path / wave)
        ev_batch.limit(n).coalesce(1).write.parquet(staged)
        for f in os.listdir(staged):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(staged, f), os.path.join(landing, f"{wave}_{f}"))

    def run():
        ST.run_available_now(ST.read_file_stream(spark, landing, schema), ckpt, sink)
        return sum(seen)

    land(100, "w1")
    assert run() == 100
    # rerun with no new files → nothing replayed
    assert run() == 100
    # a second wave → only its rows reach the sink
    land(150, "w2")
    assert run() == 250


@pytest.mark.slow  # round-14 tiering (VERDICT r13 item 2): measured 21s solo-class cost; slow tier, still run at round close
def test_stream_canonical_delta_end_to_end(spark, tmp_path):
    """Reference flow 2 as ONE streaming query: API streaming source
    (trade-date offsets) → foreachBatch assembly → date-partitioned
    native sink. Output must equal the batch assembly of the same
    fixture range; a rerun on the same checkpoint must add nothing;
    new upstream dates land incrementally."""
    import os

    import fixtures_ashare as FX
    from a_share_data_pipeline_spark.operators import assembly
    from a_share_data_pipeline_spark.sources.api_source import TABLE_SCHEMAS
    from a_share_data_pipeline_spark.streaming.structured import stream_canonical_delta

    src = str(tmp_path / "api")
    os.makedirs(src)
    cal = FX.gen_trade_cal()
    basic = FX.gen_stock_basic()
    daily, limit, dbasic = FX.gen_facts(basic, cal)
    dates = sorted(daily["trade_date"].unique())
    head, tail = dates[:-1], dates[-1]

    def land(subset_dates):
        for name, pdf in {"daily": daily, "stk_limit": limit, "daily_basic": dbasic}.items():
            pdf[pdf["trade_date"].isin(subset_dates)].to_csv(
                os.path.join(src, f"{name}.csv"), index=False
            )
        basic.to_csv(os.path.join(src, "stock_basic.csv"), index=False)

    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def batch_golden(subset_dates):
        d = spark.createDataFrame(daily[daily["trade_date"].isin(subset_dates)], TABLE_SCHEMAS["daily"])
        li = spark.createDataFrame(limit[limit["trade_date"].isin(subset_dates)], TABLE_SCHEMAS["stk_limit"])
        db = spark.createDataFrame(dbasic[dbasic["trade_date"].isin(subset_dates)], TABLE_SCHEMAS["daily_basic"])
        bs = spark.createDataFrame(basic, TABLE_SCHEMAS["stock_basic"])
        return assembly.assemble_canonical(d, li, db, bs, mode="delta")

    land(head)
    stream_canonical_delta(spark, src, checkpoint_dir=ckpt, out_dir=out)
    want1 = batch_golden(head)
    got1 = spark.read.parquet(out).select(*want1.columns)
    assert sorted(map(tuple, got1.collect())) == sorted(map(tuple, want1.collect()))

    # rerun, nothing new upstream → no duplicates
    stream_canonical_delta(spark, src, checkpoint_dir=ckpt, out_dir=out)
    assert spark.read.parquet(out).count() == want1.count()

    # a new date arrives → only it is appended
    land(dates)
    stream_canonical_delta(spark, src, checkpoint_dir=ckpt, out_dir=out)
    want_all = batch_golden(dates)
    got3 = spark.read.parquet(out).select(*want_all.columns)
    assert sorted(map(tuple, got3.collect())) == sorted(map(tuple, want_all.collect()))


def test_write_native_overwrite_partitions_is_idempotent(spark, tmp_path):
    """mode='overwrite_partitions' replaces exactly the partitions in
    the batch and leaves others alone — the property that makes a
    foreachBatch replay converge instead of duplicate."""
    from a_share_data_pipeline_spark.sources.sinks import write_native

    out = str(tmp_path / "t")
    d1 = spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-02")], "v int, date string")
    write_native(d1, out, mode="overwrite_partitions")
    # replay the second day (same rows) plus an update — day 1 untouched
    d2 = spark.createDataFrame([(99, "2024-01-02")], "v int, date string")
    write_native(d2, out, mode="overwrite_partitions")
    # partition-column values come back type-inferred (DATE)
    got = {(r.v, str(r.date)) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "2024-01-01"), (99, "2024-01-02")}
    # exact replay converges (no duplicates)
    write_native(d2, out, mode="overwrite_partitions")
    assert spark.read.parquet(out).count() == 2
    # the write sets partitionOverwriteMode per write, not on the session
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic"


@pytest.mark.slow  # round-14 tiering (VERDICT r13 item 2): measured 17s solo-class cost; slow tier, still run at round close
def test_stream_canonical_delta_full_replay_no_duplicates(spark, tmp_path):
    """Crash-replay model: a foreachBatch whose offsets were lost
    (fresh checkpoint) replays every date; the idempotent partition
    overwrite must converge to the same rows, not append duplicates —
    this is what upgrades the sink from at-least-once to
    effectively-exactly-once."""
    import os

    import fixtures_ashare as FX
    from a_share_data_pipeline_spark.streaming.structured import stream_canonical_delta

    src = str(tmp_path / "api")
    os.makedirs(src)
    cal = FX.gen_trade_cal()
    basic = FX.gen_stock_basic()
    daily, limit, dbasic = FX.gen_facts(basic, cal)
    for name, pdf in {"daily": daily, "stk_limit": limit, "daily_basic": dbasic}.items():
        pdf.to_csv(os.path.join(src, f"{name}.csv"), index=False)
    basic.to_csv(os.path.join(src, "stock_basic.csv"), index=False)

    out = str(tmp_path / "out")
    stream_canonical_delta(
        spark, src,
        checkpoint_dir=str(tmp_path / "ckpt1"), out_dir=out,
    )
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    # lost checkpoint → full replay of all dates into the same out dir
    stream_canonical_delta(
        spark, src,
        checkpoint_dir=str(tmp_path / "ckpt2"), out_dir=out,
    )
    assert spark.read.parquet(out).count() == n1


def test_stream_cap_semantics_as_of_batch(spark):
    """Pins stream_incremental_dedup's mid-stream hot-bucket-cap
    semantics (VERDICT r7 item 3): the guard evaluates bucket sizes
    AS OF each micro-batch's (store + batch) band table, so

    - pairs verified while the bucket was still under the cap STAND
      (arrival-time verification is never retracted), and
    - members arriving after the bucket crossed the cap form NO pairs
      through it (their batch sees a hot bucket and drops it),

    which at a cap crossing makes the stream's union a strict SUPERSET
    of the one-shot batch guard (the one-shot sees the final size and
    drops every pair through the bucket). At 100 TB continuous
    ingestion hot buckets WILL cross mid-stream — this test is the
    documented-behavior contract for that regime, replaying the exact
    absorb-loop composition (lsh_incremental_candidates over
    store ∪ batch band tables, then absorb) with a 4-cap and
    identical-boilerplate docs that share every band bucket."""
    from a_share_data_pipeline_spark.operators import dedup as D

    CAP = 4
    text = "the same boilerplate paragraph repeated across mirrors " * 3

    def bands(ids):
        df = spark.createDataFrame(
            [(i, text) for i in ids], "doc_id long, text string"
        )
        return D.band_buckets(D.minhash_signatures(D.exploded_shingles(df)))

    store = bands([0, 1, 2]).localCheckpoint(eager=True)  # 3 < CAP
    found: set[tuple[int, int]] = set()
    for batch_ids in ([3], [4, 5]):  # bucket hits 4 (= CAP), then 6 (> CAP)
        band_batch = bands(batch_ids).localCheckpoint(eager=True)
        all_bands = store.unionByName(band_batch)
        cand = D.lsh_incremental_candidates(all_bands, band_batch, max_bucket=CAP)
        found |= {(r.a, r.b) for r in cand.collect()}
        store = all_bands.localCheckpoint(eager=True)  # absorb after pairing
    # batch 1 paired doc 3 against the whole store; batch 2's docs met
    # only a hot bucket and paired with nothing
    assert found == {(0, 3), (1, 3), (2, 3)}
    # the one-shot guard over the final corpus drops the bucket entirely
    new_bands = store.filter(F.col("doc_id") >= 3)
    one_shot = D.lsh_incremental_candidates(store, new_bands, max_bucket=CAP)
    assert one_shot.count() == 0
    # sanity: unguarded, the corpus is fully pairable (the divergence
    # is the guard's, not an artifact of the fixture)
    assert (
        D.lsh_incremental_candidates(store, new_bands, max_bucket=None).count()
        > 0
    )


def test_scd2_stream_maintenance_is_order_insensitive(spark, tmp_path):
    """stream_scd2_apply's docstring claims the per-key REBUILD makes
    the maintenance order-insensitive: drive the same absorb closure
    with batches split by event_id parity (so a key's changes arrive
    interleaved and out of event-time order across batches) and assert
    the final dimension equals the one-shot batch SCD2."""
    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_streaming import (
        _SCD2_DIM_SCHEMA,
        _scd2_make_absorb,
    )
    from a_share_data_pipeline_spark.sources.readers import load_table
    from a_share_data_pipeline_spark.functions.rounding import dround
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    upd = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", dround(F.col("value"), 2).alias("tier")
    )
    dim = str(tmp_path / "dim")
    absorb = _scd2_make_absorb(spark, dim)
    # 3 scrambled batches: event_id % 3 interleaves every key's history
    for bid in range(3):
        absorb(upd.filter(F.col("event_id") % 3 == bid), bid)
    # an empty micro-batch leaves the dimension's files untouched
    before = sorted((str(p), p.stat().st_mtime_ns) for p in (tmp_path / "dim").rglob("*"))
    absorb(upd.limit(0), 3)
    assert sorted((str(p), p.stat().st_mtime_ns) for p in (tmp_path / "dim").rglob("*")) == before
    got = (
        spark.read.schema(_SCD2_DIM_SCHEMA)
        .parquet(dim)
        .select("user_id", "tier", "valid_from", "valid_to", "is_current")
    )
    want = registry()["scd2_dim_history"].fn(spark, sf)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_incdedup_absorb_retry_replaces_pairs_and_parts(spark, tmp_path):
    """ADVICE r12 (medium): foreachBatch re-delivers a failed batch
    under the SAME _bid — the retry must REPLACE the earlier attempt
    everywhere the run reads back: the in-memory parts (r12 fix) AND
    the bid-keyed pairs directory (r13 fix; the old plain append into
    out_dir wrote a retried batch's pairs twice, breaking the oracle
    equality in exactly the failure scenario the parts fix defends
    against). Drives the factored-out absorb closure twice with the
    same _bid and asserts the read-back output converges."""
    from a_share_data_pipeline_spark.plans.queries_streaming import (
        _incdedup_make_absorb,
        _incdedup_store,
    )

    text = "a shared near duplicate paragraph body across mirrors " * 4
    standing = spark.createDataFrame(
        [(0, text), (1, text + " tail zero")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, text), (11, text + " tail zero")], "doc_id long, text string"
    )
    out_dir = str(tmp_path / "pairs")
    parts = _incdedup_store(standing)
    absorb = _incdedup_make_absorb(parts, out_dir)
    absorb(batch, 0)

    def pairs():
        return sorted(
            map(
                tuple,
                spark.read.option("recursiveFileLookup", "true")
                .parquet(out_dir)
                .collect(),
            )
        )

    first = pairs()
    assert first, "fixture must pair across store and batch"
    # simulated foreachBatch retry: same batch, same _bid
    absorb(batch, 0)
    assert pairs() == first, "retried batch doubled its pairs"
    # in-memory parts singly registered (one entry per _bid, not a pile)
    assert set(parts) <= {-1, 0}
    # an empty micro-batch registers no part and writes no pairs
    keys = set(parts)
    absorb(batch.limit(0), 1)
    assert set(parts) == keys
    assert not os.path.exists(os.path.join(out_dir, "bid_1"))


# width-scoped query -> whether its result is read on the clone
_RESULT_ON_CLONE = {
    "graph_pagerank": True,
    "stream_dedup": True,
    "stream_incremental_dedup": False,
    "stream_scd2_apply": False,
}


@pytest.mark.parametrize("name", list(_RESULT_ON_CLONE))
def test_clone_width_leaves_caller_width(spark, sf_smoke, monkeypatch, name):
    """Each width-scoped query runs in exactly one clone at width 8 —
    fixed, or the volume rule's floor for the measured-width graph
    query at smoke scale, so the width derives from the data, not
    the CPU count — while the caller keeps its distinctive width 12,
    also mid-stream (spied via D.verify_pairs, which runs inside every
    stream_incremental_dedup micro-batch). The result comes back on
    the clone or on the caller, as the query documents."""
    from pyspark.sql import SparkSession

    from a_share_data_pipeline_spark.operators import dedup as D
    from a_share_data_pipeline_spark.plans.catalog import registry

    pkey = "spark.sql.shuffle.partitions"
    clones, observed = [], []
    new_session, real = SparkSession.newSession, D.verify_pairs

    def recording_new_session(session):
        clones.append(new_session(session))
        return clones[-1]

    def spy(*a, **k):
        observed.append(spark.conf.get(pkey))
        return real(*a, **k)

    monkeypatch.setattr(SparkSession, "newSession", recording_new_session)
    monkeypatch.setattr(D, "verify_pairs", spy)
    before = spark.conf.get(pkey)
    spark.conf.set(pkey, "12")  # distinctive caller width
    try:
        out = registry()[name].fn(spark, sf_smoke)
        assert out.count() > 0
        assert spark.conf.get(pkey) == "12"
        assert len(clones) == 1
        assert clones[0].conf.get(pkey) == "8"
        assert out.sparkSession is (clones[0] if _RESULT_ON_CLONE[name] else spark)
        if name == "stream_incremental_dedup":
            assert observed, "spy never fired — absorb loop did not run"
        assert all(w == "12" for w in observed), observed
    finally:
        spark.conf.set(pkey, before)


@pytest.mark.parametrize("name", ["stream_dedup", "stream_curation_gates"])
def test_stream_queries_leave_caller_catalog_unchanged(spark, sf_smoke, name):
    """The memory-sink view ``_run_to_table`` reads its result from is
    dropped once read, whether the stream ran on a clone (stream_dedup)
    or on the caller (stream_curation_gates): repeated runs leave the
    caller's catalog as it was, and the returned frame still reads."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    before = sorted(t.name for t in spark.catalog.listTables())
    for _ in range(3):
        assert registry()[name].fn(spark, sf_smoke).count() > 0
    assert sorted(t.name for t in spark.catalog.listTables()) == before


def test_conf_changes_stay_in_session_py():
    """Sessions are cloned, and width/overwrite/no-data-batch conf set,
    only through session.py; elsewhere package code sets conf only by
    a literal key outside those three (readers.load_table's defensive
    timezone/nanos sets)."""
    import ast
    from pathlib import Path

    import a_share_data_pipeline_spark as pkg

    root = Path(pkg.__file__).parent
    forbidden = ("shuffle.partitions", "partitionOverwriteMode", "noDataMicroBatches")
    bad = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "newSession":
                bad.append(f"{path.name}:{node.lineno} newSession")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "set"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
            ):
                key = node.args[0] if node.args else None
                if not (
                    isinstance(key, ast.Constant)
                    and isinstance(key.value, str)
                    and not any(f in key.value for f in forbidden)
                ):
                    bad.append(f"{path.name}:{node.lineno} conf.set")
    assert not bad, bad


def test_streams_start_only_in_run_available_now():
    """``streaming/structured.run_available_now`` is the package's one
    stream start: the package has exactly one ``writeStream`` attribute,
    inside that function."""
    import ast
    from pathlib import Path

    import a_share_data_pipeline_spark as pkg

    root = Path(pkg.__file__).parent
    sites, runner = [], None
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                sites.append((rel, node.lineno))
            if isinstance(node, ast.FunctionDef) and node.name == "run_available_now":
                runner = (rel, range(node.lineno, node.end_lineno + 1))
    assert len(sites) == 1, sites
    rel, line = sites[0]
    assert runner and rel == runner[0] and line in runner[1], (sites, runner)
