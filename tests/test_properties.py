"""Property-based tests (SURVEY.md §5.4): invariants that must hold for
ANY input, generated by hypothesis — join-order invariance of the fact
merge, sink idempotency vs compat duplication, salted-join equivalence,
and merge-mode last-writer-wins."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from a_share_data_pipeline_spark.operators.skew import salted_join
from a_share_data_pipeline_spark.streaming.incremental import merge_increment

# Round-14 tiering (VERDICT r13 item 2): hypothesis property suites (hundreds of drawn examples over Spark jobs) — slow tier,
# excluded from the default driver-gate run (see pytest.ini).
pytestmark = pytest.mark.slow

CODES = ["600000.SH", "600001.SH", "000001.SZ"]
DATES = ["20240101", "20240102", "20240103"]


def key_rows(draw_keys, values):
    return [
        {"ts_code": c, "trade_date": d, "v": v}
        for (c, d), v in zip(draw_keys, values, strict=False)
    ]


fact_strategy = st.lists(
    st.tuples(st.sampled_from(CODES), st.sampled_from(DATES)),
    min_size=0,
    max_size=6,
    unique=True,
).flatmap(
    lambda keys: st.tuples(
        st.just(keys),
        st.lists(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            min_size=len(keys),
            max_size=len(keys),
        ),
    )
)


@st.composite
def three_facts(draw):
    out = []
    for _ in range(3):
        keys, vals = draw(fact_strategy)
        out.append(key_rows(keys, vals))
    return out


def _df(spark, rows, vcol):
    pdf = pd.DataFrame(rows or [], columns=["ts_code", "trade_date", "v"]).rename(
        columns={"v": vcol}
    )
    return spark.createDataFrame(pdf, f"ts_code string, trade_date string, {vcol} double")


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(facts=three_facts())
def test_left_join_chain_order_invariant_on_secondary_facts(spark, facts):
    """J1: anchored on the kline side, the order of the two secondary
    left joins never changes the result set."""
    a, b, c = facts
    daily = _df(spark, a, "close")
    limit = _df(spark, b, "up_limit")
    basic = _df(spark, c, "pe")
    key = ["ts_code", "trade_date"]
    anchor = daily.filter(F.col("close").isNotNull())
    r1 = anchor.join(limit, key, "left").join(basic, key, "left")
    r2 = anchor.join(basic, key, "left").join(limit, key, "left")
    cols = ["ts_code", "trade_date", "close", "up_limit", "pe"]
    assert sorted(map(tuple, r1.select(cols).collect())) == sorted(
        map(tuple, r2.select(cols).collect())
    )


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(facts=three_facts())
def test_merge_modes_compat_duplicates_merge_idempotent(spark, facts):
    """U1: applying the same delta twice — compat mode doubles the
    rows; merge mode is a fixed point (idempotent)."""
    rows = facts[0]
    df = _df(spark, rows, "close")
    compat_twice = merge_increment(df, df, mode="compat")
    assert compat_twice.count() == 2 * df.count()
    merged_twice = merge_increment(df, df, keys=["ts_code", "trade_date"], mode="merge")
    assert sorted(map(tuple, merged_twice.collect())) == sorted(map(tuple, df.collect()))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(facts=three_facts(), salt=st.integers(min_value=1, max_value=7))
def test_salted_join_always_equals_plain_join(spark, facts, salt):
    big = _df(spark, facts[0], "close")
    small = _df(spark, facts[1], "up_limit").select("ts_code", "up_limit").dropDuplicates(
        ["ts_code"]
    )
    plain = big.join(small, "ts_code", "inner")
    salted = salted_join(big, small, keys=["ts_code"], salt_buckets=salt)
    cols = ["ts_code", "trade_date", "close", "up_limit"]
    assert sorted(map(tuple, plain.select(cols).collect())) == sorted(
        map(tuple, salted.select(cols).collect())
    )


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(facts=three_facts())
def test_merge_mode_last_writer_wins(spark, facts):
    """merge mode: on key clash the DELTA row's values replace the
    existing row's."""
    rows = facts[0]
    if not rows:
        return
    existing = _df(spark, rows, "close")
    bumped = [{**r, "v": r["v"] + 1.0} for r in rows]
    delta = _df(spark, bumped, "close")
    out = merge_increment(existing, delta, keys=["ts_code", "trade_date"], mode="merge")
    got = {(r.ts_code, r.trade_date): r.close for r in out.collect()}
    want = {(r["ts_code"], r["trade_date"]): r["v"] for r in bumped}
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C"]),
            st.floats(min_value=-1e5, max_value=1e5, allow_nan=False),
        ),
        min_size=1,
        max_size=20,
    ),
    split_at=st.integers(min_value=0, max_value=20),
)
def test_rollup_merge_equals_full_aggregation(spark, vals, split_at):
    """⊕ correctness for ANY split point: partial(left) ⊕ partial(right)
    ≡ partial(full), finalized — rounded to absorb float-order noise."""
    from a_share_data_pipeline_spark.operators.rollup import (
        finalize_rollup,
        merge_rollups,
        partial_rollup,
    )

    rows = [{"k": k, "v": v} for k, v in vals]
    split_at = min(split_at, len(rows))
    df_all = spark.createDataFrame(pd.DataFrame(rows), "k string, v double")
    df_a = spark.createDataFrame(
        pd.DataFrame(rows[:split_at], columns=["k", "v"]), "k string, v double"
    )
    df_b = spark.createDataFrame(
        pd.DataFrame(rows[split_at:], columns=["k", "v"]), "k string, v double"
    )
    keys, measures = ["k"], ["v"]
    merged = finalize_rollup(
        merge_rollups(
            partial_rollup(df_a, keys, measures),
            partial_rollup(df_b, keys, measures),
            keys,
            measures,
        ),
        keys,
        measures,
    )
    full = finalize_rollup(partial_rollup(df_all, keys, measures), keys, measures)

    def canon(df):
        return sorted(
            (r.k, round(r.sum_v, 6), r.count_v, round(r.avg_v, 6), r.min_v, r.max_v)
            for r in df.collect()
        )

    assert canon(merged) == canon(full)


words_strategy = st.lists(
    st.sampled_from(["the", "fast", "spark", "row", "table", "x1", "zz", "of"]),
    min_size=1,
    max_size=40,
)


@given(docs=st.lists(words_strategy, min_size=1, max_size=8))
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_pack_sequences_invariants(spark, docs):
    """Packing invariants for ANY corpus: start offsets are the
    exclusive running sum within a shard, bins are contiguous from 0,
    and a doc crosses a boundary iff its span straddles a multiple of
    the context length."""
    from a_share_data_pipeline_spark.operators.curation import pack_sequences

    rows = [(i % 2, i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "source int, doc_id long, text string")
    out = pack_sequences(df, context_len=16).collect()
    by_shard: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.source, r.doc_id)):
        by_shard.setdefault(r.source, []).append(r)
    for shard_rows in by_shard.values():
        cum = 0
        for r in shard_rows:
            assert r.start_tok == cum
            assert r.bin_id == r.start_tok // 16
            crosses = (r.start_tok + r.n_tokens - 1) // 16 > r.bin_id
            assert r.crosses_boundary == crosses
            cum += r.n_tokens


@given(docs=st.lists(words_strategy, min_size=1, max_size=8))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_chunk_documents_invariants(spark, docs):
    """Chunking invariants for ANY corpus: every doc emits >= 1 chunk;
    chunk 0 starts at token 0; starts advance by exactly the stride;
    token coverage is gapless (each chunk begins inside or adjacent to
    the previous chunk's span); and re-splitting every chunk's text
    reproduces the doc's token stream slice-for-slice."""
    from a_share_data_pipeline_spark.operators.curation import chunk_documents

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_len=8, overlap=2).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, ws in enumerate(docs):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert chunks[0].start_tok == 0
        for j, r in enumerate(chunks):
            assert r.chunk_idx == j
            assert r.start_tok == j * 6  # stride = 8 - 2
            assert r.n_chunk_tokens == min(8, len(ws) - r.start_tok)
            assert r.chunk_text.split(" ") == ws[r.start_tok : r.start_tok + 8]
        # gapless coverage: last chunk reaches the end of the doc
        last = chunks[-1]
        assert last.start_tok + last.n_chunk_tokens == len(ws)


@given(docs=st.lists(words_strategy, min_size=1, max_size=8))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_dedup_lines_roundtrip_when_nothing_is_hot(spark, docs):
    """With min_count above any possible line frequency, line dedup is
    the identity: n_removed == 0 everywhere and the reassembled text
    equals the input. With min_count=1 EVERY line is hot and every doc
    collapses to the empty string — the two extremes pin both the
    counting and the ordered reassembly."""
    from a_share_data_pipeline_spark.operators.curation import dedup_lines

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    keep_all = {r.doc_id: r for r in dedup_lines(df, seg_tokens=4, min_count=10**6).collect()}
    for i, ws in enumerate(docs):
        assert keep_all[i].n_removed == 0
        assert keep_all[i].text_clean == " ".join(ws)
    drop_all = {r.doc_id: r for r in dedup_lines(df, seg_tokens=4, min_count=1).collect()}
    for i in range(len(docs)):
        assert drop_all[i].n_removed == drop_all[i].n_lines
        assert drop_all[i].text_clean == ""


@given(docs=st.lists(words_strategy, min_size=1, max_size=8))
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_repetition_signal_bounds(spark, docs):
    """For ANY document set: fractions live in (0, 1], n_words matches,
    and a doc that is ONE word repeated N>1 times always fails the
    repetition gate."""
    from a_share_data_pipeline_spark.operators.curation import repetition_signals

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    rows.append((len(rows), " ".join(["dup"] * 10)))  # pathological doc
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    for i, ws in enumerate(docs):
        r = out[i]
        assert r.n_words == len(ws)
        assert 0 < r.top_word_frac <= 1
        assert 0 <= r.dup_bigram_frac <= 1
    patho = out[len(docs)]
    assert patho.top_word_frac == 1.0
    assert not patho.passes_repetition


def test_funnel_stage_counts_monotone(spark):
    """Funnel invariant: each stage's user count is <= the previous
    stage's (a stage-N user by construction passed stage N-1)."""
    from a_share_data_pipeline_spark.plans import registry

    rows = {r.stage: r.users for r in registry()["events_funnel"].fn(
        spark, "/root/testdata/sf0.001").collect()}
    assert rows["signup"] >= rows["view"] >= rows["purchase"]
    assert rows["purchase"] >= 0


def test_retention_week0_equals_cohort_size(spark):
    """Retention invariant: every signup user is active in their own
    cohort week (the signup event IS week-0 activity), so the offset-0
    cell of each cohort equals the cohort's size."""
    from pyspark.sql import functions as F

    from a_share_data_pipeline_spark.plans import registry
    from a_share_data_pipeline_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    ret = {
        (r.cohort_week, r.week_offset): r.active_users
        for r in registry()["events_retention"].fn(spark, sf).collect()
    }
    cohorts = (
        load_table(spark, sf, "events")
        .filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week"))
        .groupBy("cohort_week")
        .count()
        .collect()
    )
    for c in cohorts:
        assert ret[(c.cohort_week, 0)] == c["count"], (c, ret)


def test_expectations_all_pass_on_clean_fixture(spark):
    """The TPC-H orders fixture satisfies every constraint — a failing
    row here means a check is miswired, not that the data broke."""
    from a_share_data_pipeline_spark.plans import registry

    rows = registry()["profile_expectations"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 6
    assert all(r.passed for r in rows), rows


def test_leakage_safe_split_is_cluster_coherent(spark):
    """split_leakage_safe invariant: no near-dup component straddles
    train/holdout (the whole point of hashing the component id), and
    the train fraction tracks the 0.9 rate."""
    from a_share_data_pipeline_spark.plans import registry

    rows = registry()["split_leakage_safe"].fn(spark, "/root/testdata/sf0.001").collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, set()).add(r.split)
    assert all(len(s) == 1 for s in by_comp.values())
    frac = sum(1 for r in rows if r.split == "train") / len(rows)
    assert 0.8 <= frac <= 0.97, frac


def test_cdc_apply_semantics(spark):
    """CDC invariants: deleted keys (k%10==1) vanish, updated keys
    (k%10==0) carry price+1000, inserted keys (k+1e8) appear, and
    untouched keys are byte-identical to the snapshot."""
    from pyspark.sql import functions as F

    from a_share_data_pipeline_spark.plans import registry
    from a_share_data_pipeline_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    out = {r.k: r for r in registry()["cdc_apply"].fn(spark, sf).collect()}
    snap = {
        r.k: r
        for r in load_table(spark, sf, "orders")
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        .collect()
    }
    for k, s in snap.items():
        if k % 10 == 1:
            assert k not in out
        elif k % 10 == 0:
            assert abs(out[k].price - (s.price + 1000)) < 1e-6
        else:
            assert out[k].price == s.price and out[k].status == s.status
        if k % 10 == 2:
            assert out[k + 100000000].status == "N"


# ---------------------------------------------------------------------------
# Winnowing guarantee (Schleimer et al. §2): any shared token run of
# length >= w + k - 1 between two documents yields at least one shared
# selected fingerprint hash; and every doc with >= one full window has
# >= one fingerprint.
# ---------------------------------------------------------------------------

_WORDS = ["alpha", "bravo", "carol", "delta", "echo", "fox", "golf", "hotel"]


@given(
    left=st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8),
    right=st.lists(st.sampled_from(_WORDS), min_size=0, max_size=8),
    shared=st.lists(st.sampled_from(_WORDS), min_size=6, max_size=10),
    seed=st.integers(min_value=0, max_value=7),
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_winnow_guarantee_shared_run_yields_shared_fp(spark, left, right, shared, seed):
    from a_share_data_pipeline_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fp_rows,
        winnow_fingerprints,
    )

    # guarantee threshold t = W + K - 1 = 6 tokens; `shared` is >= 6
    doc_a = " ".join(left + shared + ["zulu"] * seed)
    doc_b = " ".join(["yank"] * seed + shared + right)
    df = spark.createDataFrame(
        [(0, doc_a), (1, doc_b)], "doc_id long, text string"
    )
    rows = winnow_fp_rows(df).collect()
    fps = {0: set(), 1: set()}
    for r in rows:
        fps[r.doc_id].add(r.fp)
    assert fps[0] & fps[1], (doc_a, doc_b, fps)
    # coverage floor: every doc (all have >= W shingle positions here)
    # selects at least one fingerprint
    summary = {r.doc_id: r.n_fp for r in winnow_fingerprints(df).collect()}
    assert summary.get(0, 0) >= 1 and summary.get(1, 0) >= 1


def test_ema_matches_pure_python_reference(spark):
    """events_ema vs an independent pure-Python implementation of the
    normalized truncated EMA — a third witness beyond the DuckDB
    oracle, so a formula mis-encoding shared by both SQL engines
    cannot hide (the union-find-golden pattern applied to the
    indicator lane)."""
    from a_share_data_pipeline_spark.plans import registry
    from a_share_data_pipeline_spark.plans.queries_pipeline import (
        _EMA_ALPHA,
        _EMA_LAGS,
    )

    sf = "/root/testdata/sf0.001"
    out = registry()["events_ema"].fn(spark, sf).collect()

    # independent daily series (pandas over the same parquet)
    pdf = pd.read_parquet(f"{sf}/events.parquet")
    pdf = pdf[pdf.event_type.isin(["view", "purchase"])]
    pdf["day"] = pdf.ts.dt.floor("D")
    daily = pdf.groupby(["event_type", "day"]).value.mean().round(6)

    def ema_at(series, i):
        num = den = 0.0
        for lag in range(_EMA_LAGS):
            j = i - lag
            if j < 0:
                break
            w = (1.0 - _EMA_ALPHA) ** lag
            num += series[j] * w
            den += w
        return num / den

    got = {(r.event_type, pd.Timestamp(r.day)): r.ema for r in out}
    checked = 0
    for etype, grp in daily.groupby(level=0):
        vals = list(grp.droplevel(0).sort_index().items())
        for i, (day, _) in enumerate(vals):
            expect = round(ema_at([v for _, v in vals], i), 6)
            assert abs(got[(etype, day)] - expect) <= 1e-6, (etype, day)
            checked += 1
    assert checked == len(got) and checked > 20


def test_macd_matches_pure_python_reference(spark):
    """events_macd vs an independent pure-Python MACD (normalized
    truncated fast/slow EMAs -> DIF -> signal EMA over the ROUNDED
    DIF -> histogram) — the third-witness pattern of the EMA golden,
    covering the two-stage chaining the single-EMA test cannot."""
    from a_share_data_pipeline_spark.plans import registry
    from a_share_data_pipeline_spark.plans.queries_pipeline import (
        _MACD_FAST_ALPHA,
        _MACD_LAGS,
        _MACD_SIG_ALPHA,
        _MACD_SIG_LAGS,
        _MACD_SLOW_ALPHA,
    )

    sf = "/root/testdata/sf0.001"
    out = registry()["events_macd"].fn(spark, sf).collect()

    pdf = pd.read_parquet(f"{sf}/events.parquet")
    pdf = pdf[pdf.event_type.isin(["view", "purchase"])]
    pdf["day"] = pdf.ts.dt.floor("D")
    daily = pdf.groupby(["event_type", "day"]).value.mean().round(6)

    def wavg(series, i, alpha, lags):
        num = den = 0.0
        for lag in range(lags):
            j = i - lag
            if j < 0:
                break
            w = (1.0 - alpha) ** lag
            num += series[j] * w
            den += w
        return num / den

    got = {
        (r.event_type, pd.Timestamp(r.day)): (r.dif, r.dea, r.macd) for r in out
    }
    checked = 0
    for etype, grp in daily.groupby(level=0):
        vals = [v for _, v in grp.droplevel(0).sort_index().items()]
        days = [d for d, _ in grp.droplevel(0).sort_index().items()]
        difs = [
            round(
                wavg(vals, i, _MACD_FAST_ALPHA, _MACD_LAGS)
                - wavg(vals, i, _MACD_SLOW_ALPHA, _MACD_LAGS),
                6,
            )
            for i in range(len(vals))
        ]
        for i, day in enumerate(days):
            dea_raw = wavg(difs, i, _MACD_SIG_ALPHA, _MACD_SIG_LAGS)
            dea = round(dea_raw, 6)
            # histogram subtracts the UNROUNDED signal (both engines do)
            macd = round(2 * (difs[i] - dea_raw), 6)
            g = got[(etype, day)]
            assert abs(g[0] - difs[i]) <= 1e-6, (etype, day, "dif")
            assert abs(g[1] - dea) <= 1e-6, (etype, day, "dea")
            assert abs(g[2] - macd) <= 1e-6, (etype, day, "macd")
            checked += 1
    assert checked == len(got) and checked > 20


def test_kdj_matches_pure_python_reference(spark):
    """events_kdj vs an independent pure-Python KDJ over
    ordkey-deterministic daily bars (9-day RSV -> SMA3 K -> SMA3 D ->
    J) — pins the three-stage chaining and the NULL-RSV warm-up
    averaging semantics (AVG skips NULLs in both engines)."""
    from a_share_data_pipeline_spark.plans import registry

    sf = "/root/testdata/sf0.001"
    out = registry()["events_kdj"].fn(spark, sf).collect()

    pdf = pd.read_parquet(f"{sf}/events.parquet")
    pdf = pdf[pdf.event_type.isin(["view", "purchase"])].copy()
    pdf["day"] = pdf.ts.dt.floor("D")
    pdf["ordkey"] = pdf.ts.astype("int64").astype(str).str.zfill(20) + pdf[
        "event_id"
    ].astype(str).str.zfill(12)

    got = {(r.event_type, pd.Timestamp(r.day)): r for r in out}
    checked = 0
    for etype, grp in pdf.groupby("event_type"):
        bars = []
        for day, g in sorted(grp.groupby("day"), key=lambda kv: kv[0]):
            close = g.loc[g.ordkey.idxmax()].value
            bars.append(
                (day, round(g.value.max(), 6), round(g.value.min(), 6), round(close, 6))
            )
        rsvs, ks = [], []
        for i, (day, _, _, close) in enumerate(bars):
            w9 = bars[max(0, i - 8) : i + 1]
            hh, ll = max(b[1] for b in w9), min(b[2] for b in w9)
            rsv = round(100.0 * (close - ll) / (hh - ll), 6) if hh > ll else None
            rsvs.append(rsv)
            w3 = [r for r in rsvs[max(0, i - 2) : i + 1] if r is not None]
            k = round(sum(w3) / len(w3), 6) if w3 else None
            ks.append(k)
            kw = [x for x in ks[max(0, i - 2) : i + 1] if x is not None]
            d = round(sum(kw) / len(kw), 6) if kw else None
            j = round(3 * k - 2 * d, 4) if (k is not None and d is not None) else None
            r = got[(etype, pd.Timestamp(day))]
            for name, mine, theirs in (
                ("rsv", rsv, r.rsv),
                ("k", k, r.k),
                ("d", d, r.d),
                ("j", j, r.j),
            ):
                if mine is None:
                    assert theirs is None, (etype, day, name)
                else:
                    assert theirs is not None and abs(mine - theirs) <= 2e-4, (
                        etype,
                        day,
                        name,
                    )
            checked += 1
    assert checked == len(got) and checked > 20


# ---------------------------------------------------------------------------
# Round-6 determinism pins (VERDICT r5 item 7): the three closing-wave
# docstring ARGUMENTS become executable properties — integer-cents Gini
# fold-order immunity, MACD's off-grid alpha rounding stability, and
# sample_importance's integer hash-threshold draw.
# ---------------------------------------------------------------------------


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    revs=st.lists(
        st.floats(min_value=0.01, max_value=9999.99, allow_nan=False),
        min_size=2,
        max_size=12,
    ),
    nparts=st.integers(min_value=1, max_value=7),
)
def test_gini_integer_cents_fold_order_invariant(spark, revs, nparts):
    """agg_gini's claim: converting revenue to INTEGER CENTS before any
    summation makes sum(i*x_i) and sum(x) exact int64, so the gini
    value is identical under ANY partitioning / aggregation fold order.
    Vary row order and partition count; the rounded output must be
    bit-identical, and must equal an exact Fraction-arithmetic replay."""
    from fractions import Fraction

    from a_share_data_pipeline_spark.functions.rounding import dround
    from pyspark.sql import Window as W

    rows = [("N", f"s{i:03d}", round(v, 2)) for i, v in enumerate(revs)]

    def gini(row_order, n):
        df = (
            spark.createDataFrame(row_order, "nation string, supp string, r double")
            .repartition(n)
            .select(
                "nation",
                "supp",
                dround(F.col("r") * 100, 0).cast("bigint").alias("cents"),
            )
        )
        wr = W.partitionBy("nation").orderBy("cents", "supp")
        ranked = df.select("nation", "cents", F.row_number().over(wr).alias("i"))
        cnt = F.count(F.lit(1))
        g = (
            (2 * F.sum(F.col("i") * F.col("cents"))).cast("double")
            / (cnt * F.sum("cents"))
            - (cnt + 1).cast("double") / cnt
        )
        [row] = ranked.groupBy("nation").agg(dround(g, 6).alias("gini")).collect()
        return row.gini

    a = gini(rows, 1)
    b = gini(list(reversed(rows)), nparts)
    assert a == b  # exact float equality, not approx: ints cannot drift

    # exact rational replay
    cents = sorted((round(v, 2) * 100, f"s{i:03d}") for i, v in enumerate(revs))
    cents = [int(round(c)) for c, _ in cents]
    n = len(cents)
    tot = sum(cents)
    if tot:
        exact = Fraction(2 * sum((i + 1) * c for i, c in enumerate(cents)), n * tot) - (
            Fraction(n + 1, n)
        )
        assert abs(a - float(exact)) <= 5e-7  # one dround(…, 6) step


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vs=st.lists(
        st.integers(min_value=-10**9, max_value=10**9).map(lambda n: n / 1e6),
        min_size=1,
        max_size=30,
    )
)
def test_macd_alpha_choice_rounding_stable_under_fold_order(vs):
    """events_macd's claim: with alphas 2/7 and 2/13 (factors 7/13/3 in
    every weight denominator) the normalized truncated-EMA difference
    of 6-decimal inputs never lands close enough to the ROUND(_,6)
    half-way boundary for float fold-order to flip the rounded value.
    Replay DIF over the same series with forward AND reverse summation
    order of the lag terms; the 6dp roundings must agree at every row
    (with spans 5/10 the docstring records 3/120 rows flipping)."""
    from a_share_data_pipeline_spark.plans.queries_pipeline import (
        _MACD_FAST_ALPHA,
        _MACD_LAGS,
        _MACD_SLOW_ALPHA,
        _macd_weights,
    )

    def dif(series, reverse):
        fw = _macd_weights(_MACD_FAST_ALPHA, _MACD_LAGS)
        sw = _macd_weights(_MACD_SLOW_ALPHA, _MACD_LAGS)
        out = []
        for t in range(len(series)):
            terms = [(series[t - i], i) for i in range(_MACD_LAGS) if t - i >= 0]
            if reverse:
                terms = list(reversed(terms))
            fn = sum(v * fw[i] for v, i in terms)
            fd = sum(fw[i] for _, i in terms)
            sn = sum(v * sw[i] for v, i in terms)
            sd = sum(sw[i] for _, i in terms)
            out.append(round(fn / fd - sn / sd, 6))
        return out

    assert dif(vs, False) == dif(vs, True)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40),
    rate=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
def test_sample_importance_integer_threshold_draw_matches_duckdb(ids, rate):
    """sample_importance's claim: the keep decision is an INTEGER
    compare — int(md5('imp|'+id)[:8], 16) < floor(rate * 2^32) — so
    any engine evaluating it draws the identical sample (no RNG, no
    float comparison). Replay the draw in pure Python and in DuckDB
    for the same ids and rate; membership must match exactly."""
    import duckdb
    from hashlib import md5 as _md5

    py = {
        i
        for i in ids
        if int(_md5(f"imp|{i}".encode()).hexdigest()[:8], 16)
        < int(rate * 4294967296.0)
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in set(ids)])
    duck = {
        r[0]
        for r in con.execute(
            "SELECT i FROM t WHERE "
            "('0x' || substr(md5('imp|' || CAST(i AS VARCHAR)), 1, 8))::BIGINT "
            # CAST the literal: a bare decimal literal is DECIMAL(18) in
            # DuckDB and overflows the multiply; the real query's rate is
            # already a computed DOUBLE column
            f"< CAST(floor(CAST({rate!r} AS DOUBLE) * 4294967296.0) AS BIGINT)"
        ).fetchall()
    }
    con.close()
    assert py == duck


@settings(max_examples=120, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sets=st.lists(
        st.sets(st.integers(min_value=0, max_value=60), min_size=1, max_size=20),
        min_size=2,
        max_size=8,
    )
)
def test_prefix_filter_never_drops_a_qualifying_pair(sets):
    """dedup_jaccard_prefix's guarantee, on arbitrary random sets: under
    ANY fixed global element order, two sets with Jaccard >= t MUST
    share an element within their first |S| - ceil(t*|S|) + 1 elements —
    so the prefix-restricted candidate set is a superset of the true
    >= t pairs (no false negatives; false positives are fine, the
    exact verify removes them). The guarantee holds for ANY total
    order; this replay uses an md5 order — the query itself orders by
    ascending document frequency for candidate-count reasons, which
    this property is deliberately blind to."""
    import math
    from hashlib import md5 as _md5

    t = 0.5
    key = lambda x: _md5(str(x).encode()).hexdigest()  # noqa: E731

    def prefix(s):
        n = len(s)
        p = n - math.ceil(t * n) + 1
        return set(sorted(s, key=key)[:p])

    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            a, b = sets[i], sets[j]
            jac = len(a & b) / len(a | b)
            if jac >= t:
                assert prefix(a) & prefix(b), (a, b, jac)


def _positional_filter_passes(a, b, key, p, pq):
    """Replay of dedup_jaccard_prefix's round-13 positional filter on
    two plain Python sets under the total order ``key``: True iff SOME
    prefix-prefix collision (shared element within both prefixes) has
    ubound = 1 + min(|A| - rn_a, |B| - rn_b) with ubound·pq >= p·S
    (S = |A| + |B|) — the exact integer predicate the query applies
    before its candidate distinct (t = p/(pq - p))."""
    import math

    t = p / (pq - p)
    ra = {e: i + 1 for i, e in enumerate(sorted(a, key=key))}
    rb = {e: i + 1 for i, e in enumerate(sorted(b, key=key))}
    pa = len(a) - math.ceil(t * len(a)) + 1
    pb = len(b) - math.ceil(t * len(b)) + 1
    s = len(a) + len(b)
    return any(
        ra[e] <= pa
        and rb[e] <= pb
        and (1 + min(len(a) - ra[e], len(b) - rb[e])) * pq >= p * s
        for e in a & b
    )


@settings(max_examples=120, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sets=st.lists(
        st.sets(st.integers(min_value=0, max_value=40), min_size=1, max_size=25),
        min_size=2,
        max_size=8,
    )
)
def test_positional_filter_never_drops_a_qualifying_pair(sets):
    """Round-13 PPJoin positional filter, on arbitrary random sets at
    the query's real threshold t = 0.8 (p=4, pq=9): every pair with
    Jaccard >= t must pass the collision-level ubound predicate,
    because the FIRST shared element under the global order is a
    prefix-prefix collision (prefix guarantee) and all shared elements
    rank at or after it, bounding overlap by 1 + min of the two
    suffix lengths at that collision. False positives are fine (the
    exact verify removes them); a false negative here would be a
    wrong query result."""
    from hashlib import md5 as _md5

    key = lambda x: _md5(str(x).encode()).hexdigest()  # noqa: E731
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            a, b = sets[i], sets[j]
            jac = len(a & b) / len(a | b)
            if jac >= 0.8:
                assert _positional_filter_passes(a, b, key, 4, 9), (a, b, jac)


def test_positional_filter_boundary_pairs_survive():
    """Deterministic boundary coverage for the positional filter's
    integer arithmetic (docstring corrected per ADVICE r13): B keeps
    the first n-k of A and swaps in k fresh elements, so |B| = n,
    |A∩B| = n-k, |A∪B| = n+k and J = (n-k)/(n+k) exactly — the
    J = 0.8 ties therefore occur at n = 9k (n = 9, 18, 27, 36 inside
    the loop ranges), the cases a float ceil would misround. Also
    runs an md5 order so positions are adversarial, and asserts the
    filter DOES prune at least one sub-threshold pair (it is a
    filter, not a tautology)."""
    from hashlib import md5 as _md5

    key_id = lambda x: x  # noqa: E731
    key_md5 = lambda x: _md5(str(x).encode()).hexdigest()  # noqa: E731
    pruned_any = False
    for key in (key_id, key_md5):
        for n in range(5, 41):
            for k in range(0, n):
                a = set(range(n))
                b = set(sorted(a, key=key)[: n - k]) | set(
                    range(1000, 1000 + k)
                )  # same size, k swapped out
                jac = len(a & b) / len(a | b)
                passes = _positional_filter_passes(a, b, key, 4, 9)
                if jac >= 0.8:
                    assert passes, (n, k, jac)
                elif not passes:
                    pruned_any = True
    assert pruned_any


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(
            st.sampled_from("abcdefgh"), st.sampled_from("abcdefgh")
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=10,
        unique=True,
    ),
    n_seeds=st.integers(min_value=1, max_value=2),
)
def test_bfs_hops_matches_reference_python_bfs(spark, edges, n_seeds):
    """bfs_hops on arbitrary small graphs equals a plain Python BFS
    truncated at max_hops — distances, multi-source minima, and the
    drop-unreached contract all at once."""
    from collections import deque

    from a_share_data_pipeline_spark.operators.graph import bfs_hops

    nodes = sorted({x for e in edges for x in e})
    seeds = nodes[:n_seeds]
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expected = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if expected[u] >= 3:
            continue
        for v in adj[u]:
            if v not in expected:
                expected[v] = expected[u] + 1
                q.append(v)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.hops for r in bfs_hops(df, seeds=seeds, max_hops=3).collect()}
    assert got == expected


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=12),
            st.integers(min_value=1, max_value=12),
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=10,
        unique=True,
    )
)
def test_label_propagation_translation_invariant(spark, edges):
    """Adding a constant to every node id must translate the community
    assignment by the same constant: the max-count/max-label tie rule
    depends only on the ids' relative order, which translation
    preserves. Pins that the integer argmax packing carries no hidden
    dependence on absolute id values."""
    from a_share_data_pipeline_spark.operators.graph import label_propagation

    def run(off):
        df = spark.createDataFrame(
            [(a + off, b + off) for a, b in edges], "src long, dst long"
        )
        return {
            r.node - off: r.lbl - off
            for r in label_propagation(df).collect()
        }

    assert run(0) == run(1000)


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    xs=st.lists(
        st.integers(min_value=0, max_value=10**6), min_size=1, max_size=60
    )
)
def test_cusum_window_identity_equals_clamped_recursion(xs):
    """events_cusum_changepoint's claim: the clamped CUSUM recursion
    s_i = max(0, s_{i-1} + d_i) equals the window-expressible identity
    s_i = P_i - min(0, min_{j<=i} P_j) for ANY integer deviation
    series (here d_i = n*x_i - total, the query's scaled deviations).
    Replay both forms in pure Python; must agree at every step."""
    n, tot = len(xs), sum(xs)
    ds = [n * x - tot for x in xs]
    s, rec = 0, []
    for d in ds:
        s = max(0, s + d)
        rec.append(s)
    p, runmin, ident = 0, 0, []
    for d in ds:
        p += d
        runmin = min(runmin, p)
        ident.append(p - min(0, runmin))
    assert rec == ident


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    obs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # duration
            st.booleans(),  # event observed (vs censored)
        ),
        min_size=1,
        max_size=80,
    )
)
def test_km_prefix_risk_set_equals_naive_count(obs):
    """events_survival_km's claim: the risk set n_t = N - prefix-sum of
    (d+c) over durations < t equals the naive 'count of subjects with
    duration >= t' definition, and the resulting survival curve
    matches the textbook per-step product (compared in exact
    fractions via the log-free reference; the query's log-space
    rounding is a separate, engine-sync concern)."""
    from collections import Counter
    from fractions import Fraction

    N = len(obs)
    d = Counter(t for t, ev in obs if ev)
    c = Counter(t for t, ev in obs if not ev)
    ts = sorted(set(d) | set(c))
    # query formula: prefix subtraction
    seen = 0
    surv_q, s = [], Fraction(1)
    for t in ts:
        n_risk = N - seen
        naive = sum(1 for tt, _ in obs if tt >= t)
        assert n_risk == naive
        if d[t]:
            s *= Fraction(n_risk - d[t], n_risk)
        surv_q.append((t, s))
        seen += d[t] + c[t]
    # textbook reference: recompute risk sets naively
    s_ref = Fraction(1)
    for t, s_q in surv_q:
        n_risk = sum(1 for tt, _ in obs if tt >= t)
        if d[t]:
            s_ref *= Fraction(n_risk - d[t], n_risk)
        assert s_q == s_ref


# ---------------------------------------------------------------------------
# wave 26: content-defined chunking shift-robustness (the CDC claim)
# ---------------------------------------------------------------------------


def _cdc_boundaries(tokens: list[str]) -> list[int]:
    """Pure-Python replay of dedup_content_chunking's boundary rule:
    position p (1-based) is a boundary iff p == 1 or
    md5(4-gram at p) % 16 == 0."""
    import hashlib

    out = []
    for p in range(1, len(tokens) + 1):
        gram = " ".join(tokens[p - 1 : p + 3])
        h = int(hashlib.md5(gram.encode()).hexdigest()[:8], 16)
        if p == 1 or h % 16 == 0:
            out.append(p)
    return out


def _cdc_chunks(tokens: list[str]) -> list[tuple[str, ...]]:
    bs = _cdc_boundaries(tokens) + [len(tokens) + 1]
    return [tuple(tokens[bs[i] - 1 : bs[i + 1] - 1]) for i in range(len(bs) - 1)]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.sampled_from("data merge spark window slow fast key".split()),
             min_size=12, max_size=40),
    st.lists(st.sampled_from("alpha beta gamma delta row col".split()),
             min_size=0, max_size=20),
)
def test_cdc_chunks_are_shift_robust(tail, prefix):
    """The operator's core claim: chunks of PREFIX+TAIL that start at
    or after the first boundary inside the TAIL region equal the
    corresponding chunks of TAIL alone — identical passages chunk
    identically regardless of preceding content (modulo the splice
    window: boundaries within 3 tokens of the seam may differ, since
    the 4-gram spans it)."""
    full = prefix + tail
    off = len(prefix)
    # boundaries strictly inside the tail, past the 4-gram splice
    # window (positions whose gram starts >= 4 tokens into the tail
    # never see prefix tokens; the final 3 grams are also truncated
    # identically in both views, so only the seam region differs)
    tail_bs = [p for p in _cdc_boundaries(tail) if p >= 4]
    full_bs = [p - off for p in _cdc_boundaries(full) if p - off >= 4]
    assert tail_bs == full_bs
    # and the chunk CONTENT between shared interior boundaries matches
    if len(tail_bs) >= 2:
        chunks_tail = {
            tuple(tail[tail_bs[i] - 1 : tail_bs[i + 1] - 1])
            for i in range(len(tail_bs) - 1)
        }
        fb = [p + off for p in tail_bs]
        chunks_full = {
            tuple(full[fb[i] - 1 : fb[i + 1] - 1]) for i in range(len(fb) - 1)
        }
        assert chunks_tail == chunks_full


# ---------------------------------------------------------------------------
# wave 29: interval union via exclusive-frame cummax ≡ brute force
# ---------------------------------------------------------------------------


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.integers(1, 120)),
        min_size=1,
        max_size=25,
    )
)
def test_interval_coverage_islands_equal_brute_force_union(iv):
    """events_interval_coverage's islands rule (new span when start >
    running max of previous ends) must produce exactly the classic
    merged-interval union: same span count, same covered length."""
    ivs = sorted((s, s + d) for s, d in iv)
    # islands replay (the query's rule)
    spans = []
    run_max = -1
    for s, e in ivs:
        if s > run_max:
            spans.append([s, e])
        else:
            spans[-1][1] = max(spans[-1][1], e)
        run_max = max(run_max, e)
    # brute force: mark covered integer points on a line
    covered = set()
    for s, e in ivs:
        covered.update(range(s, e))
    assert sum(e - s for s, e in spans) == len(covered)
    # span count == number of maximal runs in the covered set
    runs = 0
    prev = None
    for x in sorted(covered):
        if prev is None or x > prev + 1:
            runs += 1
        prev = x
    assert len(spans) == runs


# ---------------------------------------------------------------------------
# round 7: geo hot-cell salt guard — pair-identical, and the hot cell's
# join key actually spreads across salts (VERDICT r6 item 6)
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.integers(0, 7), min_size=20, max_size=60),
    st.integers(2, 4),
)
def test_geo_salt_guard_is_pair_identical_and_spreads_hot_cells(spark, cold, n_salts):
    """_grid_candidates with the salt guard must emit EXACTLY the pairs
    of the unguarded join (salting spreads work, never changes it), and
    a deliberately hot fixture cell's build side must occupy every salt
    bucket — the n² single-task block becomes s blocks of ~n/s."""
    from a_share_data_pipeline_spark.plans.queries_geo import _grid_candidates

    # 40 points crammed into cell (5,5) (hot), plus arbitrary cold
    # points scattered over cells (0..7, 0..7) by the drawn values
    rows = []
    for i in range(40):
        rows.append((i, 5 * 50 + i % 25, 5 * 50 + (i * 7) % 25, 5, 5))
    for j, c in enumerate(cold):
        rows.append((1000 + j, c * 50 + j % 50, ((j * 3) % 8) * 50 + j % 50, c, (j * 3) % 8))
    cells = spark.createDataFrame(
        rows, "id long, x long, y long, cx long, cy long"
    )
    ref = {
        (r.id, r.neighbor, r.dist2)
        for r in _grid_candidates(cells, hot_cap=10**9, n_salts=1).collect()
    }
    guarded = _grid_candidates(cells, hot_cap=30, n_salts=n_salts)
    got = {(r.id, r.neighbor, r.dist2) for r in guarded.collect()}
    assert got == ref and ref
    # the guard's plan joins on (pcx, pcy, salt) — the salt is a real
    # join key, not a dropped column
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan
    # build-side spread: the hot cell's 40 points occupy every salt
    # bucket under pmod(id, s) with ids 0..39
    assert {i % n_salts for i in range(40)} == set(range(n_salts))
