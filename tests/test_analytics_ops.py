"""Hand-verifiable fixtures for the round-6 analytics wave operators —
the oracle harness proves Spark==DuckDB; these prove both equal the
SEMANTICS (hand-walked LPA rounds, BFS distances on a known graph,
containment on a constructed prefix doc, exact attribution credit)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "src string, dst string"
    )


def _iedges(spark, pairs):
    return spark.createDataFrame([(a, b) for a, b in pairs], "src long, dst long")


def test_label_propagation_separates_two_bridged_cliques(spark):
    """Two triangles joined by a single bridge edge: connected
    components would merge everything into one cluster; LPA (3 rounds,
    max-count/max-label ties) must keep the cliques apart — the
    community semantics that make it a distinct family. Expected labels
    hand-walked round by round: {1,2,3}→4, {4,5,6}→6."""
    from a_share_data_pipeline_spark.operators.graph import label_propagation

    e = _iedges(
        spark, [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    )
    got = {r.node: r.lbl for r in label_propagation(e).collect()}
    assert got == {1: 4, 2: 4, 3: 4, 4: 6, 5: 6, 6: 6}


def test_bfs_hops_chain_distances_and_unreached_dropped(spark):
    """Chain a-b-c-d-e with seed a, 3 rounds: hops a=0 b=1 c=2 d=3 and
    e (4 hops away) plus the disconnected x-y pair never emit a row."""
    from a_share_data_pipeline_spark.operators.graph import bfs_hops

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")])
    got = {r.node: r.hops for r in bfs_hops(e, seeds=["a"], max_hops=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_bfs_hops_multi_source_takes_minimum(spark):
    """Two seeds at both ends of a 4-chain: the middle nodes take the
    nearer seed's distance; with per_seed each seed keeps its own
    distances. A seed on no edge (z) yields no row either way."""
    from a_share_data_pipeline_spark.operators.graph import bfs_hops

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {r.node: r.hops for r in bfs_hops(e, seeds=["a", "d", "z"], max_hops=3).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 0}
    got = {
        (r.seed, r.node): r.hops
        for r in bfs_hops(e, seeds=["a", "d", "z"], max_hops=3, per_seed=True).collect()
    }
    assert got == {
        ("a", "a"): 0, ("a", "b"): 1, ("a", "c"): 2, ("a", "d"): 3,
        ("d", "d"): 0, ("d", "c"): 1, ("d", "b"): 2, ("d", "a"): 3,
    }


def test_pair_containment_prefix_doc_is_fully_contained(spark):
    """A 10-token prefix of a 20-token doc: every one of its 8
    3-gram shingles appears in the parent, so n_inter == n_b == 8 and
    containment on the smaller side is exactly 1.0 — while Jaccard
    (8 / (18+8-8) = 0.444) sits below any near-dup threshold. This is
    the excerpt signal the containment operator exists for."""
    from a_share_data_pipeline_spark.operators.dedup import (
        exploded_shingles,
        pair_overlap,
    )

    words = [f"w{i}" for i in range(20)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(words[:10]))],
        "doc_id long, text string",
    )
    [row] = pair_overlap(exploded_shingles(docs), min_overlap=3).collect()
    assert (row.a, row.b) == (1, 2)
    assert row.n_a == 18 and row.n_b == 8 and row.n_inter == 8
    assert row.n_inter / min(row.n_a, row.n_b) == 1.0


def test_attribution_credit_is_exact_integer_ppm(spark, tmp_path):
    """One purchase preceded by three clicks on distinct channels:
    each channel's linear credit is floor(1e6/3)/1e6 = 0.3333, the
    last click (latest ts) takes the last-touch conversion, and a
    click outside the 3-day lookback is never a touch."""
    from a_share_data_pipeline_spark.plans.queries_analytics import (
        events_attribution,
    )
    import datetime as dt

    base = dt.datetime(2024, 3, 10, 12, 0, 0)
    rows = [
        # clicks: channels event_id % 4 = 1, 2, 3; one stale click (id 8)
        (1, base - dt.timedelta(hours=3), 7, "click", None, "{}"),
        (2, base - dt.timedelta(hours=2), 7, "click", None, "{}"),
        (3, base - dt.timedelta(hours=1), 7, "click", None, "{}"),
        (8, base - dt.timedelta(days=10), 7, "click", None, "{}"),
        (9, base, 7, "purchase", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.channel: r for r in events_attribution(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3}  # stale click's channel 0 absent
    for ch in (1, 2, 3):
        assert out[ch].n_touches == 1
        assert out[ch].linear_credit == 0.3333
    assert out[3].n_last_touch == 1
    assert out[1].n_last_touch == 0 and out[2].n_last_touch == 0


def test_multires_rollup_daily_equals_sum_of_hourly(spark):
    """The Expand-pass invariant: for every (event_type, day), the 1d
    row's n equals the sum of its 1h rows' n — one scan produced both
    resolutions consistently."""
    from a_share_data_pipeline_spark.plans.queries_analytics import (
        events_multires_rollup,
    )

    out = events_multires_rollup(spark, "/root/testdata/sf0.001")
    daily = out.filter(F.col("resolution") == "1d").select(
        "event_type", "day", F.col("n").alias("n_d")
    )
    hourly = (
        out.filter(F.col("resolution") == "1h")
        .groupBy("event_type", "day")
        .agg(F.sum("n").alias("n_h"))
    )
    j = daily.join(hourly, ["event_type", "day"]).collect()
    assert j and all(r.n_d == r.n_h for r in j)


def test_sssp_weighted_prefers_longer_cheaper_path(spark):
    """Diamond a-b-d (weights 10+10) vs a-c-d (1+1): 3 rounds must
    route d through c at dist 2, and also settle b at min(10, 1+1+10
    needs 3 edges = 12 within budget... b stays 10 via the direct
    edge). Hand-walked: a=0, c=1, b=10, d=2."""
    from a_share_data_pipeline_spark.operators.graph import sssp

    e = spark.createDataFrame(
        [("a", "b", 10), ("b", "d", 10), ("a", "c", 1), ("c", "d", 1)],
        "src string, dst string, w long",
    )
    got = {r.node: r.dist for r in sssp(e, seeds=["a"], max_rounds=3).collect()}
    assert got == {"a": 0, "b": 10, "c": 1, "d": 2}


def test_sssp_round_budget_bounds_path_length(spark):
    """Chain a-b-c-d-e with unit weights, 2 rounds: e is 4 edges out
    and must not emit a row; d settles at 3? No — 2 rounds reach only
    2 edges deep: a=0 b=1 c=2, d and e absent."""
    from a_share_data_pipeline_spark.operators.graph import sssp

    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "d", 1), ("d", "e", 1)],
        "src string, dst string, w long",
    )
    got = {r.node: r.dist for r in sssp(e, seeds=["a"], max_rounds=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_sssp_parallel_edges_keep_cheapest(spark):
    """Duplicate (a, b) edges with different weights: the round's min
    must keep w=3, not double-count or pick arbitrarily. A cheaper
    mirrored (b, a) copy then wins from either seed, per_seed too."""
    from a_share_data_pipeline_spark.operators.graph import sssp

    e = spark.createDataFrame(
        [("a", "b", 7), ("a", "b", 3)], "src string, dst string, w long"
    )
    got = {r.node: r.dist for r in sssp(e, seeds=["a"], max_rounds=1).collect()}
    assert got == {"a": 0, "b": 3}
    e = e.union(spark.createDataFrame([("b", "a", 2)], e.schema))
    got = {r.node: r.dist for r in sssp(e, seeds=["a"], max_rounds=1).collect()}
    assert got == {"a": 0, "b": 2}
    got = {
        (r.seed, r.node): r.dist
        for r in sssp(e, seeds=["a", "b"], max_rounds=1, per_seed=True).collect()
    }
    assert got == {("a", "a"): 0, ("a", "b"): 2, ("b", "b"): 0, ("b", "a"): 2}


def test_skyline_dominance_on_constructed_frontier(spark, tmp_path):
    """Five parts where the frontier is known by inspection: (100, 5)
    and (200, 9) survive; (150, 5) loses to the equal-size cheaper
    (100, 5); (200, 9) duplicates BOTH survive (no strict inequality
    between them); (300, 9) loses to the same-size cheaper (200, 9)."""
    import pyspark.sql.functions as F  # noqa: F811

    from a_share_data_pipeline_spark.plans.catalog import registry

    rows = [
        (1, 1.00, 5),
        (2, 1.50, 5),
        (3, 2.00, 9),
        (4, 2.00, 9),
        (5, 3.00, 9),
    ]
    spark.createDataFrame(
        rows, "p_partkey long, p_retailprice double, p_size long"
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    got = sorted(
        (r.p_partkey, r.price, r.p_size)
        for r in registry()["skyline_pareto"].fn(spark, str(tmp_path)).collect()
    )
    assert got == [(1, 1.00, 5), (3, 2.00, 9), (4, 2.00, 9)]


def test_largest_remainder_seats_sum_exactly_to_k(spark):
    """Apportionment invariant on the real table: seats sum to exactly
    K and every nation's seats differ from its exact float quota by
    less than 1 (the Hamilton quota property)."""
    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_analytics import _ALLOC_SEATS

    rows = registry()["alloc_largest_remainder"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sum(r.seats for r in rows) == _ALLOC_SEATS
    tot = sum(r.revenue for r in rows)
    for r in rows:
        quota = _ALLOC_SEATS * r.revenue / tot
        assert abs(r.seats - quota) < 1.0


def test_cdc_time_travel_resurfaces_mid_cut_versions(spark):
    """AS OF seq 7 on the derived log: a k%10==0 key whose first
    update sits at seq k%7 <= 7 but whose second update sits at
    k%7+5 > 7 must surface the FIRST update (price+1000); a key whose
    second update is also inside the cut (k%7+5 <= 7, i.e. k%7 <= 2)
    surfaces the second (price+2000); a k%10==1 delete sequenced past
    the cut (k%13 > 7) must NOT delete."""
    from pyspark.sql import functions as F  # noqa: F811

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    out = {r.k: r for r in registry()["cdc_time_travel"].fn(spark, sf).collect()}
    snap = {
        r.k: round(r.price, 2)
        for r in load_table(spark, sf, "orders")
        .select(
            F.col("o_orderkey").alias("k"),
            F.round("o_totalprice", 2).alias("price"),
        )
        .collect()
    }
    checked_mid = checked_both = checked_survivor = 0
    for k, orig in snap.items():
        if k % 10 == 0:
            second_in = k % 7 + 5 <= 7
            want = round(orig + (2000 if second_in else 1000), 2)
            assert abs(out[k].price - want) < 0.015, (k, out[k].price, want)
            checked_both += second_in
            checked_mid += not second_in
        elif k % 10 == 1 and k % 13 > 7:
            assert k in out, f"future-sequenced delete erased key {k}"
            checked_survivor += 1
        elif k % 10 == 1 and k % 13 <= 7:
            assert k not in out, f"in-cut delete failed to erase key {k}"
    assert checked_mid and checked_both and checked_survivor


def test_fd_audit_key_dependency_has_zero_violations(spark):
    """doc_id is a key, so doc_id -> lang must report zero violating
    groups and max fan-out 1; n_regionkey -> n_name must fan out to
    5 nations per region with every group violating."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    rows = {
        r.fd: r
        for r in registry()["audit_functional_dependency"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    key_fd = rows["documents: doc_id -> lang"]
    assert key_fd.n_violating == 0 and key_fd.max_rhs == 1
    fan = rows["nation: n_regionkey -> n_name"]
    assert fan.n_lhs == 5 and fan.n_violating == 5 and fan.max_rhs == 5


def test_window_funnel_later_signup_can_convert(spark, tmp_path):
    """The per-occurrence claim: u1 converts A->B->C inside one window
    (depth 3); u2's view arrives outside the 12h window (depth 1); u3's
    FIRST signup leads nowhere but the SECOND converts — windowFunnel
    must report 3 where a first-signup-only chain would report 1."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def ts(h):
        return base + dt.timedelta(hours=h)

    rows = [
        (1, ts(0), "signup"), (1, ts(1), "view"), (1, ts(2), "purchase"),
        (2, ts(0), "signup"), (2, ts(20), "view"),
        (3, ts(0), "signup"), (3, ts(100), "signup"),
        (3, ts(101), "view"), (3, ts(102), "purchase"),
    ]
    df = spark.createDataFrame(
        [(i, u, t, et, 1.0, "{}") for i, (u, t, et) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        r.depth: r.n_users
        for r in registry()["events_window_funnel"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {3: 2, 1: 1}


def test_rollup_retractions_repairs_only_delete_touched_keys(spark):
    """Deletes hit only March keys, so exactly the mth==3 rows carry
    repaired=1 — the scoped-rescan contract (everything else must ride
    the insert-only merge)."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    rows = registry()["rollup_retractions"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert any(r.repaired == 1 for r in rows)
    for r in rows:
        assert (r.repaired == 1) == (r.mth == 3), (r.prio, r.mth, r.repaired)


def test_random_walks_are_deterministic_and_replicas_diverge(spark):
    """Two invocations return the identical path set (pure function of
    the graph); the two replicas of at least one seed must diverge
    (the walk_id is in the draw hash)."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    fn = registry()["graph_random_walks"].fn
    p1 = sorted(map(tuple, fn(spark, "/root/testdata/sf0.001").collect()))
    p2 = sorted(map(tuple, fn(spark, "/root/testdata/sf0.001").collect()))
    assert p1 == p2
    by_walk = {}
    for wid, step, node in p1:
        by_walk.setdefault(wid, []).append((step, node))
    diverged = any(
        sorted(by_walk.get(f"{s}|0", [])) != sorted(by_walk.get(f"{s}|1", []))
        for s in ("c1", "c2", "c3", "c4", "c5")
        if len(by_walk.get(f"{s}|0", [])) > 1
    )
    assert diverged, "replicas never diverged — walk_id missing from the hash?"


def test_kcore_matches_pure_python_peeling(spark):
    """Replay graph_kcore's bounded peeling in pure Python over the
    sf0.001 purchase graph and compare surviving nodes + degrees."""
    from collections import Counter

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_analytics import _edges
    from a_share_data_pipeline_spark.plans.queries_quality import (
        _KCORE_K,
        _KCORE_ROUNDS,
    )

    sf = "/root/testdata/sf0.001"
    e0 = [(r.src, r.dst) for r in _edges(spark, sf).collect()]
    edges = e0 + [(b, a) for a, b in e0]
    for _ in range(_KCORE_ROUNDS):
        deg = Counter(a for a, _ in edges)
        keep = {n for n, d in deg.items() if d >= _KCORE_K}
        edges = [(a, b) for a, b in edges if a in keep and b in keep]
    want = Counter(a for a, _ in edges)
    got = {
        r.node: r.degree
        for r in registry()["graph_kcore"].fn(spark, sf).collect()
    }
    assert got == dict(want)


def test_ks_statistic_matches_pure_python_ecdf(spark):
    """Replay the two-sample KS D in pure Python (integer cross-
    multiplied form) over sf0.001 events and compare all four outputs."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT CAST(ROUND(value * 100, 0) AS BIGINT), event_type "
        "FROM read_parquet('/root/testdata/sf0.001/events.parquet') "
        "WHERE event_type IN ('click', 'view')"
    ).fetchall()
    s1 = sorted(v for v, t in rows if t == "click")
    s2 = sorted(v for v, t in rows if t == "view")
    n1, n2 = len(s1), len(s2)
    support = sorted(set(s1) | set(s2))
    import bisect

    d = max(
        abs(bisect.bisect_right(s1, v) * n2 - bisect.bisect_right(s2, v) * n1)
        for v in support
    )
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = registry()["stats_ks_test"].fn(spark, "/root/testdata/sf0.001").collect()[0]
    assert (got.n1, got.n2, got.d_scaled) == (n1, n2, d)
    assert abs(got.ks_d - d / (n1 * n2)) < 1e-6


def test_conformal_interval_invariants(spark):
    """The emitted interval must be symmetric around pred and the
    covered flag must agree with the (unrounded-tolerant) containment
    of actual in [lo, hi]."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    rows = registry()["forecast_conformal"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert abs((r.pred - r.lo) - (r.hi - r.pred)) < 0.03, r
        if r.covered == 1:
            # covered rows must sit inside the (rounding-tolerant) band
            assert r.lo - 0.011 <= r.actual <= r.hi + 0.011, r
        else:
            # uncovered rows must NOT sit strictly inside it
            assert not (r.lo + 0.011 <= r.actual <= r.hi - 0.011), r


def test_quantile_normalize_makes_value_multisets_identical(spark):
    """After quantile normalization every series must carry the exact
    same multiset of normalized values — the defining property."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    rows = registry()["feature_quantile_normalize"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r.normalized)
    sets = [sorted(v) for v in by_type.values()]
    assert len(sets) > 1 and all(s == sets[0] for s in sets[1:])


def test_weighted_median_matches_pure_python(spark):
    """Replay the weighted-median definition (smallest v with
    2*cumweight >= total) in pure Python from the raw parquet."""
    import duckdb

    rows = duckdb.connect().execute(
        "SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT), "
        "CAST(l_quantity AS BIGINT) "
        "FROM read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
    ).fetchall()
    from collections import defaultdict

    per = defaultdict(list)
    for flag, v, w in rows:
        per[flag].append((v, w))
    want = {}
    for flag, vw in per.items():
        vw.sort()
        tot = sum(w for _, w in vw)
        cum = 0
        for v, w in vw:
            cum += w
            if 2 * cum >= tot:
                want[flag] = (round(v / 100.0, 2), tot)
                break
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        r.flag: (r.wmedian, r.total_weight)
        for r in registry()["agg_weighted_median"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want


def test_interval_anti_counts_complement_the_funnel_positive(spark):
    """A view is either followed up within the window or abandoned —
    per user, n_views must equal abandoned + followed (recount the
    positive side with the correlated definition in DuckDB)."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_quality import _TAJ_US

    followed = dict(
        duckdb.connect().execute(f"""
WITH v AS (SELECT user_id, epoch_us(ts) AS e
           FROM read_parquet('/root/testdata/sf0.001/events.parquet')
           WHERE event_type = 'view'),
p AS (SELECT user_id, epoch_us(ts) AS e
      FROM read_parquet('/root/testdata/sf0.001/events.parquet')
      WHERE event_type = 'purchase')
SELECT v.user_id, SUM(CASE WHEN EXISTS (
  SELECT 1 FROM p WHERE p.user_id = v.user_id
    AND p.e > v.e AND p.e <= v.e + {_TAJ_US}) THEN 1 ELSE 0 END)
FROM v GROUP BY v.user_id
""").fetchall()
    )
    rows = registry()["join_interval_anti"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r.n_views == r.n_abandoned + followed[r.user_id], r


def test_theil_decomposition_is_additive(spark):
    """The decomposition property that justifies Theil over Gini:
    sum_g (S_g/S)*T_g + sum_g between_contrib_g must reconstruct the
    directly-computed total Theil index (within float tolerance of
    the 1e-5 ln rounding)."""
    import math as m

    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    rows = registry()["agg_theil_decomposition"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    raw = duckdb.connect().execute("""
SELECT n_name, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
FROM read_parquet('/root/testdata/sf0.001/orders.parquet') o
JOIN read_parquet('/root/testdata/sf0.001/customer.parquet') c ON c_custkey = o_custkey
JOIN read_parquet('/root/testdata/sf0.001/nation.parquet') n ON n_nationkey = c_nationkey
""").fetchall()
    xs = [x for _, x in raw]
    S, N = sum(xs), len(xs)
    mu = S / N
    t_direct = sum((x / S) * m.log(x / mu) for x in xs)
    shares = {}
    for g, x in raw:
        shares[g] = shares.get(g, 0) + x
    recon = sum(
        (shares[r.n_name] / S) * r.theil_within + r.between_contrib for r in rows
    )
    assert abs(recon - t_direct) < 2e-4, (recon, t_direct)


def test_rfm_scores_partition_users_into_balanced_quintiles(spark):
    """Each score axis must distribute users across exactly 5 buckets
    with sizes differing by at most 1 (the NTILE contract under a
    total order)."""
    from collections import Counter

    from a_share_data_pipeline_spark.plans.catalog import registry

    rows = registry()["events_rfm_segmentation"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    for axis in ("r_score", "f_score", "m_score"):
        per = Counter()
        for r in rows:
            per[getattr(r, axis)] += r.n_users
        assert set(per) == {1, 2, 3, 4, 5}, (axis, per)
        assert max(per.values()) - min(per.values()) <= 1, (axis, per)


def test_dedup_report_consistent_with_components(spark):
    """The one-row report must recount dedup_components' own output:
    clusters = size>1 components, removable = clustered - clusters."""
    from collections import Counter

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    comp = registry()["dedup_components"].fn(spark, sf).collect()
    sizes = Counter(r.component for r in comp)
    big = {c: s for c, s in sizes.items() if s > 1}
    rep = registry()["curation_dedup_report"].fn(spark, sf).collect()[0]
    assert rep.n_clusters == len(big)
    assert rep.n_clustered_docs == sum(big.values())
    assert rep.n_removable == sum(big.values()) - len(big)
    assert rep.largest_cluster == max(sizes.values())


def test_bot_regularity_cv_replay(spark):
    """Replay one user's gap CV in pure Python (integer seconds, the
    ss - s^2/n identity) and compare against the query row."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    rows = registry()["events_bot_regularity"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    r0 = sorted(rows, key=lambda r: r.user_id)[0]
    es = [
        int(x[0])
        for x in duckdb.connect().execute(
            "SELECT epoch_us(ts) // 1000000 FROM "
            "read_parquet('/root/testdata/sf0.001/events.parquet') "
            f"WHERE user_id = {r0.user_id} ORDER BY 1"
        ).fetchall()
    ]
    gaps = [b - a for a, b in zip(es, es[1:])]
    n, s, ss = len(gaps), sum(gaps), sum(g * g for g in gaps)
    mean = s / n
    cv = ((ss - s * s / n) / n) ** 0.5 / mean
    assert r0.n_gaps == n
    assert abs(r0.mean_gap_s - round(mean, 2)) < 0.011
    assert abs(r0.cv - cv) < 1e-3


def test_hits_scores_sum_to_one_per_role(spark):
    """After the final L1 normalization each role's scores must sum to
    1 (within the 1e-6 per-node rounding), and every hub is a customer
    node, every authority a supplier node."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    rows = registry()["graph_hits"].fn(spark, "/root/testdata/sf0.001").collect()
    for role, prefix in (("hub", "c"), ("authority", "s")):
        part = [r for r in rows if r.role == role]
        assert part and all(r.node.startswith(prefix) for r in part)
        assert abs(sum(r.score for r in part) - 1.0) < 1e-3


def test_mann_whitney_identities(spark):
    """U1 + U2 = n1*n2 (doubled form), and AUC replayed in pure Python
    from the raw values must match."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    got = registry()["stats_mann_whitney"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert got.u1_x2 + got.u2_x2 == 2 * got.n1 * got.n2
    rows = duckdb.connect().execute(
        "SELECT CAST(ROUND(value * 100, 0) AS BIGINT), event_type "
        "FROM read_parquet('/root/testdata/sf0.001/events.parquet') "
        "WHERE event_type IN ('click', 'view')"
    ).fetchall()
    s1 = [v for v, t in rows if t == "click"]
    s2 = [v for v, t in rows if t == "view"]
    wins = sum(
        (1.0 if a > b else 0.5 if a == b else 0.0) for a in s1 for b in s2
    )
    assert abs(got.auc - wins / (len(s1) * len(s2))) < 1e-5


def test_spc_rule2_fires_on_constructed_shift(spark, tmp_path):
    """A series with two big spikes in three days must flag rule 2 on
    the day the second spike lands even though neither point breaches
    3-sigma on its own. With near-constant quiet days ANY two-spike
    series puts the spikes at z = 3.74 (the z of 2-in-30 outliers is
    configuration-fixed), so the quiet days alternate 95/105 to give
    sigma a floor; spikes at 118 then sit at z ~ +2.56."""
    import datetime as dt

    vals = [95.0 if i % 2 else 105.0 for i in range(27)]
    vals += [118.0, 100.0, 118.0]
    rows = []
    for i, v in enumerate(vals):
        rows.append(
            (i, dt.datetime(2024, 1, 1 + i % 28, 12, 0, 0)
             + dt.timedelta(days=(i // 28) * 28), 1, "click", v, "{}")
        )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from a_share_data_pipeline_spark.plans.catalog import registry

    out = sorted(
        registry()["events_anomaly_spc"].fn(spark, str(tmp_path)).collect(),
        key=lambda r: r.day,
    )
    assert out[-1].r2_two_of_three_2s == 1, out[-3:]
    assert all(r.r1_beyond_3s == 0 for r in out), "no single point should hit 3s"


def test_sweep_line_matches_naive_interval_count(spark):
    """The difference-array coverage must equal the naive per-day
    'count intervals covering this day' (inclusive ends), replayed in
    pure Python from the raw orders."""
    import datetime as dt
    from collections import Counter

    import duckdb

    rows = duckdb.connect().execute(
        "SELECT CAST(o_orderdate AS DATE), o_orderkey % 30 "
        "FROM read_parquet('/root/testdata/sf0.001/orders.parquet')"
    ).fetchall()
    cover = Counter()
    for s, dur in rows:
        for i in range(int(dur) + 1):
            cover[s + dt.timedelta(days=i)] += 1
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        r.day: r.open_orders
        for r in registry()["events_interval_open_counts"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    # the output is the STEP FUNCTION's change points (rows only on
    # delta days; the value holds until the next row) — check every
    # emitted day exactly, and every covered day via step lookup
    for day, n in got.items():
        assert cover.get(day, 0) == n, (day, n, cover.get(day, 0))
    emitted = sorted(got)
    import bisect

    for day, n in cover.items():
        i = bisect.bisect_right(emitted, day) - 1
        assert i >= 0 and got[emitted[i]] == n, (day, n)


def test_did_nets_out_common_trend(spark, tmp_path):
    """Constructed fixture: both groups drift +10 post; treatment adds
    +5 on top. The naive treat delta reads 15; DiD must read exactly
    5.00."""
    import datetime as dt

    rows, eid = [], 0
    for u in range(20):
        grp_treat = u % 2 == 0
        for period, day in (("pre", 5), ("post", 25)):
            v = 100.0 + (10.0 if period == "post" else 0.0)
            if grp_treat and period == "post":
                v += 5.0
            rows.append(
                (eid, dt.datetime(2024, 1, day, 12), u, "purchase", v, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from a_share_data_pipeline_spark.plans.catalog import registry

    [r] = registry()["stats_diff_in_diff"].fn(spark, str(tmp_path)).collect()
    assert r.treat_delta == 15.0 and r.control_delta == 10.0 and r.did == 5.0


def test_spearman_matches_pure_python_midranks(spark):
    """Replay rho in pure Python with textbook midranks from the raw
    daily totals."""
    import duckdb

    rows = duckdb.connect().execute("""
SELECT SUM(CASE WHEN event_type = 'view'
       THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END),
       SUM(CASE WHEN event_type = 'purchase'
       THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END)
FROM read_parquet('/root/testdata/sf0.001/events.parquet')
GROUP BY CAST(ts AS DATE)
""").fetchall()
    xs = [x for x, _ in rows]
    ys = [y for _, y in rows]

    def midranks(vs):
        return [
            (sum(1 for u in vs if u < v) + (sum(1 for u in vs if u <= v) + 1))
            / 2.0
            for v in vs
        ]

    rx, ry = midranks(xs), midranks(ys)
    n = len(rx)
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx = sum(a * a for a in rx)
    syy = sum(b * b for b in ry)
    rho = (n * sxy - sx * sy) / (
        (n * sxx - sx * sx) ** 0.5 * (n * syy - sy * sy) ** 0.5
    )
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = registry()["agg_spearman_corr"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert got.n_days == n
    assert abs(got.spearman_rho - rho) < 1e-3


def test_jsd_identical_halves_is_zero_and_bounded(spark, tmp_path):
    """JSD of a corpus against itself must be 0; on the real corpus it
    must land in [0, 1] bit."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    real = registry()["text_js_divergence"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert 0.0 <= real.jsd_bits <= 1.0
    rows = [
        (1, "the quick brown fox", "en", "src0", 19),
        (2, "the quick brown fox", "en", "src1", 19),
        (3, "jumps over the dog", "en", "src0", 18),
        (4, "jumps over the dog", "en", "src1", 18),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    same = registry()["text_js_divergence"].fn(spark, str(tmp_path)).collect()[0]
    assert same.jsd_bits == 0.0


def test_max_drawdown_matches_pure_python(spark):
    """Replay peak-minus-equity in pure Python from the raw parquet."""
    import duckdb

    rows = duckdb.connect().execute("""
SELECT event_type, CAST(ts AS DATE) AS day,
       SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS v
FROM read_parquet('/root/testdata/sf0.001/events.parquet')
GROUP BY 1, 2 ORDER BY 1, 2
""").fetchall()
    from collections import defaultdict

    series = defaultdict(list)
    for t, _, v in rows:
        series[t].append(v)
    want = {}
    for t, vs in series.items():
        eq = 0
        peak = None
        mdd = 0
        for v in vs:
            eq += v
            peak = eq if peak is None else max(peak, eq)
            mdd = max(mdd, peak - eq)
        want[t] = mdd
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        r.event_type: r.max_drawdown_c
        for r in registry()["events_max_drawdown"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want


def test_autocorrelation_matches_pure_python(spark):
    """Replay the textbook mean-centered ACF from the raw daily
    purchase counts at every lag the query emits."""
    import duckdb

    rows = duckdb.connect().execute("""
SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
FROM read_parquet('/root/testdata/sf0.001/events.parquet')
WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1
""").fetchall()
    c = [n for _, n in rows]
    n = len(c)
    m = sum(c) / n
    den = sum((x - m) ** 2 for x in c)
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        r.lag: r
        for r in registry()["events_autocorrelation"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert set(got) == set(range(1, 8))
    for k in range(1, 8):
        want = sum((c[t] - m) * (c[t - k] - m) for t in range(k, n)) / den
        assert got[k].n_pairs == n - k
        assert abs(got[k].acf - want) < 1e-4, (k, got[k].acf, want)


def test_target_encoding_loo_excludes_own_row(spark, tmp_path):
    """Three orders in one segment: each row's encoding is the mean of
    the OTHER two; a singleton segment yields NULL."""
    import datetime as dt

    cust = [(1, "a", 0, 0.0, "BIG"), (2, "b", 0, 0.0, "BIG"),
            (3, "c", 0, 0.0, "BIG"), (4, "d", 0, 0.0, "LONE")]
    orders = [
        (10, 1, "O", 100.0, dt.datetime(2024, 1, 1), "1-URGENT"),
        (11, 2, "O", 200.0, dt.datetime(2024, 1, 2), "1-URGENT"),
        (12, 3, "O", 300.0, dt.datetime(2024, 1, 3), "1-URGENT"),
        (13, 4, "O", 999.0, dt.datetime(2024, 1, 4), "1-URGENT"),
    ]
    spark.createDataFrame(
        cust,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        r.o_orderkey: r
        for r in registry()["feature_target_encoding"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert got[10].loo_mean_price == 250.0
    assert got[11].loo_mean_price == 200.0
    assert got[12].loo_mean_price == 150.0
    assert got[13].loo_mean_price is None


def test_link_prediction_matches_bruteforce_on_crafted_parts(spark, tmp_path):
    """Four part names crafted into a known fuzzy graph; expected
    non-edge scores derived by an in-test brute force over the SAME
    blocking + levenshtein + wedge rules, so the assertion is
    self-verifying rather than hand-waved."""
    names = {1: "x aaaaaa", 2: "x aaabbb", 3: "x bbbbbb", 4: "x aaaccc"}
    rows = [(k, v, "B", "T", 1, 1.0) for k, v in names.items()]
    spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    def blk(s):
        return s.split(" ")[0] + "|" + str(len(s) // 4)

    edges = {
        (a, b)
        for a in names
        for b in names
        if a < b and blk(names[a]) == blk(names[b])
        and lev(names[a], names[b]) <= 3
    }
    nbr = {k: {b for a, b in edges if a == k} | {a for a, b in edges if b == k}
           for k in names}
    want = {}
    for a in names:
        for c in names:
            if a < c and (a, c) not in edges:
                cn = len(nbr[a] & nbr[c])
                if cn:
                    want[(a, c)] = (cn, cn / len(nbr[a] | nbr[c]))
    assert want, "fixture must produce at least one scored non-edge"
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        (r.node_a, r.node_b): (r.common_neighbors, r.jaccard)
        for r in registry()["graph_link_prediction"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert got == want


def test_covariance_pairs_dense_fills_missing_days(spark, tmp_path):
    """Type X misses day 2 entirely; the dense fill must treat it as a
    0 count, giving the hand-computed cov/corr of the aligned series
    X=(2,0), Y=(1,3): cov -1, corr -1."""
    import datetime as dt

    rows = []
    eid = 0
    for day, typ, cnt in [(1, "X", 2), (1, "Y", 1), (2, "Y", 3)]:
        for _ in range(cnt):
            eid += 1
            rows.append(
                (eid, dt.datetime(2024, 3, day, 9, 0, 0), 1, typ, 1.0, "{}")
            )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from a_share_data_pipeline_spark.plans.catalog import registry

    out = registry()["agg_covariance_pairs"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b, r.n_days) == ("X", "Y", 2)
    assert r.cov == -1.0
    assert r.corr == -1.0


def test_market_basket_hand_fixture(spark, tmp_path):
    """Four baskets over three items; every support/confidence/lift
    value checked against the hand computation."""
    part = [(1, "pa", "X", "t", 1, 1.0), (2, "pb", "Y", "t", 1, 1.0),
            (3, "pc", "Z", "t", 1, 1.0)]
    # baskets: {X,Y}, {X,Y}, {X,Z}, {Y}  (duplicate lines collapse)
    li = [(100, 1), (100, 2), (101, 1), (101, 2), (101, 2),
          (102, 1), (102, 3), (103, 2)]
    import datetime as dt

    spark.createDataFrame(
        part,
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    spark.createDataFrame(
        [(ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
          dt.datetime(2024, 1, 1)) for ok, pk in li],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    from a_share_data_pipeline_spark.plans.catalog import registry

    rows = {(r.item_a, r.item_b): r
            for r in registry()["assoc_market_basket"]
            .fn(spark, str(tmp_path)).collect()}
    # N=4; c(X)=3 c(Y)=3 c(Z)=1; c(XY)=2 c(XZ)=1; YZ never co-occurs
    assert set(rows) == {("X", "Y"), ("X", "Z")}
    xy = rows[("X", "Y")]
    assert (xy.pair_count, xy.count_a, xy.count_b, xy.n_baskets) == (2, 3, 3, 4)
    assert xy.support == 0.5
    assert abs(xy.conf_a_to_b - round(2 / 3, 4)) < 1e-9
    assert abs(xy.lift - round(4 * 2 / 9, 4)) < 1e-9
    xz = rows[("X", "Z")]
    assert (xz.pair_count, xz.count_a, xz.count_b) == (1, 3, 1)
    assert xz.conf_b_to_a == 1.0
    assert abs(xz.lift - round(4 / 3, 4)) < 1e-9


def test_ndcg_matches_pure_python(spark):
    """Replay NDCG@10 from the raw documents with hashlib md5 grades
    and a float log2 discount — the integer discount table must land
    within rounding distance of the textbook value, and the exact
    integer DCGs must match the replayed integer sums."""
    import hashlib
    import math

    import duckdb

    docs = duckdb.connect().execute("""
SELECT doc_id, n_chars
FROM read_parquet('/root/testdata/sf0.001/documents.parquet')
""").fetchall()
    disc = [round(1e8 / math.log2(i + 1)) for i in range(1, 11)]
    groups = {}
    for doc_id, n_chars in docs:
        rel = int(hashlib.md5(f"rel|{doc_id}".encode()).hexdigest()[:4], 16) % 4
        groups.setdefault(doc_id % 8, []).append((doc_id, n_chars, rel))
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        r.qid: r
        for r in registry()["search_ndcg_eval"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert set(got) == set(groups)
    for qid, items in groups.items():
        ret = sorted(items, key=lambda x: (-x[1], x[0]))[:10]
        ideal = sorted(items, key=lambda x: (-x[2], x[0]))[:10]
        dcg = sum(r * disc[i] for i, (_, _, r) in enumerate(ret))
        idcg = sum(r * disc[i] for i, (_, _, r) in enumerate(ideal))
        assert got[qid].dcg_int == dcg, qid
        assert got[qid].idcg_int == idcg, qid
        if idcg:
            # vs the float-log2 textbook value: the 1e8 discount table
            # quantizes at ~1e-8 relative error
            f_dcg = sum(r / math.log2(i + 2) for i, (_, _, r) in enumerate(ret))
            f_idcg = sum(r / math.log2(i + 2) for i, (_, _, r) in enumerate(ideal))
            assert abs(got[qid].ndcg - f_dcg / f_idcg) < 1e-6, qid


def test_auc_roc_matches_bruteforce_pairs(spark):
    """The rank-sum AUC must equal the O(n1*n0) pairwise definition
    (wins + 0.5*ties) / (n1*n0) replayed in pure Python."""
    import duckdb

    units = duckdb.connect().execute("""
SELECT SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS score,
       MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS label
FROM read_parquet('/root/testdata/sf0.001/events.parquet')
GROUP BY user_id, CAST(ts AS DATE)
""").fetchall()
    pos = [s for s, l in units if l]
    neg = [s for s, l in units if not l]
    wins = sum(1 for p in pos for q in neg if p > q)
    ties = sum(1 for p in pos for q in neg if p == q)
    from a_share_data_pipeline_spark.plans.catalog import registry

    row = (
        registry()["events_auc_roc"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()[0]
    )
    assert (row.n_pos, row.n_neg, row.wins, row.ties) == (
        len(pos), len(neg), wins, ties)
    want = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(row.auc - want) < 1e-6


def test_mad_outliers_matches_statistics_median(spark):
    """med/mad/flag replayed with statistics.median per event type."""
    import statistics

    import duckdb

    daily = duckdb.connect().execute("""
SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
FROM read_parquet('/root/testdata/sf0.001/events.parquet') GROUP BY 1, 2
""").fetchall()
    series = {}
    for et, day, c in daily:
        series.setdefault(et, {})[day] = c
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        (r.event_type, r.day): r
        for r in registry()["profile_mad_outliers"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert len(got) == len(daily)
    for et, days in series.items():
        med = statistics.median(days.values())
        mad = statistics.median(abs(c - med) for c in days.values())
        for day, c in days.items():
            r = got[(et, day)]
            assert r.c == c
            assert r.med == med and r.mad == mad, (et, day)
            assert r.is_outlier == (abs(c - med) > 3 * mad), (et, day)


def test_zorder_stats_matches_python_morton(spark):
    """Replay the Morton interleave and per-bucket spans in pure
    Python from the raw lineitem keys."""
    import duckdb

    rows = duckdb.connect().execute("""
SELECT l_partkey, l_suppkey
FROM read_parquet('/root/testdata/sf0.001/lineitem.parquet')
""").fetchall()
    buckets = {}
    for pk, sk in rows:
        p8, s8 = pk & 255, sk & 255
        z = 0
        for i in range(8):
            z += (((p8 >> i) & 1) + 2 * ((s8 >> i) & 1)) * 4 ** i
        buckets.setdefault(z // 1024, []).append((p8, s8))
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        r.bucket: r
        for r in registry()["layout_zorder_stats"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert set(got) == set(buckets)
    for b, pts in buckets.items():
        ps = [p for p, _ in pts]
        ss = [s for _, s in pts]
        r = got[b]
        assert (r.n, r.p_min, r.p_max, r.s_min, r.s_max) == (
            len(pts), min(ps), max(ps), min(ss), max(ss))
        assert r.span == (max(ps) - min(ps)) + (max(ss) - min(ss))
        # the z-order promise: a 1024-wide z range bounds BOTH dims to
        # a 32-aligned window (interleaved high bits fixed)
        assert max(ps) - min(ps) <= 63 and max(ss) - min(ss) <= 31


def test_pmi_matches_pure_python(spark):
    """PMI replayed with float math.log from raw bigram counts —
    the integer-ln device must land within quantization distance."""
    import math

    import duckdb

    texts = duckdb.connect().execute("""
SELECT text FROM read_parquet('/root/testdata/sf0.001/documents.parquet')
""").fetchall()
    from collections import Counter

    big = Counter()
    for (t,) in texts:
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] += 1
    head, tail = Counter(), Counter()
    for (a, b), c in big.items():
        head[a] += c
        tail[b] += c
    n = sum(big.values())
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        (r.wa, r.wb): r
        for r in registry()["text_pmi_bigrams"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    want_keys = {k for k, c in big.items() if c >= 5}
    assert set(got) == want_keys
    for (a, b), r in got.items():
        assert (r.pair_count, r.head_count, r.tail_count, r.n_bigrams) == (
            big[(a, b)], head[a], tail[b], n)
        want = math.log(big[(a, b)] * n) - math.log(head[a] * tail[b])
        assert abs(r.pmi - want) < 1e-5, (a, b)


def test_feature_hashing_matches_hashlib(spark):
    """Bucket, sign, and weight replayed with hashlib md5."""
    import hashlib

    import duckdb

    rows = duckdb.connect().execute("""
SELECT doc_id, text FROM read_parquet('/root/testdata/sf0.001/documents.parquet')
""").fetchall()
    want = {}
    for doc_id, text in rows:
        for w in text.split(" "):
            h = hashlib.md5(f"fh|{w}".encode()).hexdigest()
            bucket = int(h[:8], 16) % 64
            sign = 1 - 2 * (int(h[8:12], 16) % 2)
            want[(doc_id, bucket)] = want.get((doc_id, bucket), 0) + sign
    want = {k: v for k, v in want.items() if v != 0}
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        (r.doc_id, r.bucket): r.weight
        for r in registry()["feature_hashing"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want


def test_calibration_bins_match_pure_python(spark):
    """Per-bin reliability and integer-exact Brier replayed from the
    raw user-day units."""
    import duckdb

    units = duckdb.connect().execute("""
SELECT SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS score,
       MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS label
FROM read_parquet('/root/testdata/sf0.001/events.parquet')
GROUP BY user_id, CAST(ts AS DATE)
""").fetchall()
    from collections import defaultdict

    g = defaultdict(lambda: [0, 0])
    for s, y in units:
        g[s][0] += 1
        g[s][1] += y
    maxs = max(g)
    from a_share_data_pipeline_spark.plans.catalog import registry

    got = {
        r.score: r
        for r in registry()["events_calibration_bins"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert set(got) == set(g)
    for s, (n, pos) in g.items():
        r = got[s]
        assert (r.n, r.n_pos) == (n, pos)
        assert abs(r.mean_pred - s / maxs) < 1e-6
        assert abs(r.frac_pos - pos / n) < 1e-6
        brier = sum(
            (s / maxs - y) ** 2
            for ss, y in units if ss == s
        ) / n
        assert abs(r.brier - brier) < 1e-6, s


# ---------------------------------------------------------------------------
# waves 18-20: market indicators, recommender, classical inference
# ---------------------------------------------------------------------------


def _daily_closes_py(sf="/root/testdata/sf0.001"):
    """Pure-Python daily closes in cents keyed (event_type, day) —
    last tick by the (epoch_us, event_id) ordkey, the query's rule."""
    import duckdb

    rows = duckdb.connect().execute(
        "SELECT event_type, CAST(date_trunc('day', ts) AS DATE), "
        "CAST(ROUND(value*100,0) AS BIGINT), epoch_us(ts), event_id "
        f"FROM read_parquet('{sf}/events.parquet') "
        "WHERE event_type IN ('view','purchase')"
    ).fetchall()
    best = {}
    for et, day, c, us, eid in rows:
        k = (et, day)
        ok = (us, eid)
        if k not in best or ok > best[k][0]:
            best[k] = (ok, c)
    return {k: v[1] for k, v in best.items()}


def test_golden_cross_replay(spark):
    """Replay the MA(3)/MA(7) integer cross-multiply state machine in
    pure Python and compare the exact cross days + directions."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    closes = _daily_closes_py()
    expect = set()
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in closes if t == et)
        cs = [closes[(et, d)] for d in days]
        prev = None
        for i in range(len(cs)):
            if i >= 6:
                s3, s7 = sum(cs[i - 2 : i + 1]), sum(cs[i - 6 : i + 1])
                state = 1 if s3 * 7 > s7 * 3 else (-1 if s3 * 7 < s7 * 3 else 0)
            else:
                state = None
            if state is not None and prev is not None and state * prev == -1:
                expect.add((et, days[i], "golden" if state == 1 else "death"))
            prev = state
    got = {
        (r.event_type, r.day, r.direction)
        for r in registry()["events_golden_cross"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == expect and expect


def test_donchian_position_bounds_and_replay(spark):
    """pct_position ∈ [0,1] (NULL only on zero width) and hi/lo match a
    pure-Python rolling min/max over the replayed daily closes."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    closes = _daily_closes_py()
    rows = (
        registry()["events_donchian"].fn(spark, "/root/testdata/sf0.001").collect()
    )
    assert rows
    for r in rows:
        days = sorted(d for (t, d) in closes if t == r.event_type and d <= r.day)
        win = [closes[(r.event_type, d)] for d in days[-7:]]
        assert len(win) == 7
        assert r.channel_hi == round(max(win) / 100.0, 2)
        assert r.channel_lo == round(min(win) / 100.0, 2)
        if r.pct_position is not None:
            assert 0.0 <= r.pct_position <= 1.0
        else:
            assert max(win) == min(win)


def test_welch_ttest_replay(spark):
    """Replay Welch's t, Satterthwaite dof, and Cohen's d in pure
    Python floats from the raw cents and compare to 1e-3."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    r = (
        registry()["stats_welch_ttest"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()[0]
    )
    con = duckdb.connect()
    gs = {}
    for g in ("purchase", "click"):
        gs[g] = [
            x[0]
            for x in con.execute(
                "SELECT CAST(ROUND(value*100,0) AS BIGINT) FROM "
                "read_parquet('/root/testdata/sf0.001/events.parquet') "
                f"WHERE event_type = '{g}'"
            ).fetchall()
        ]
    import statistics

    x1 = [c / 100.0 for c in gs["purchase"]]
    x2 = [c / 100.0 for c in gs["click"]]
    n1, n2 = len(x1), len(x2)
    m1, m2 = statistics.fmean(x1), statistics.fmean(x2)
    v1, v2 = statistics.variance(x1), statistics.variance(x2)
    t = (m1 - m2) / (v1 / n1 + v2 / n2) ** 0.5
    dof = (v1 / n1 + v2 / n2) ** 2 / (
        (v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1)
    )
    d = (m1 - m2) / (((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)) ** 0.5
    assert (r.n1, r.n2) == (n1, n2)
    assert abs(r.t_stat - t) < 1e-3
    assert abs(r.welch_dof - dof) < 0.1
    assert abs(r.cohens_d - d) < 1e-3


def test_anova_f_replay(spark):
    """Replay one-way ANOVA SSB/SSW/F in pure Python floats."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    r = (
        registry()["stats_anova_oneway"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()[0]
    )
    rows = duckdb.connect().execute(
        "SELECT event_type, CAST(ROUND(value*100,0) AS BIGINT) FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    ).fetchall()
    groups = {}
    for g, c in rows:
        groups.setdefault(g, []).append(c / 100.0)
    n = sum(len(v) for v in groups.values())
    k = len(groups)
    gm = sum(sum(v) for v in groups.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - gm) ** 2 for v in groups.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in groups.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert (r.k, r.n_total) == (k, n)
    assert abs(r.ss_between - ssb) / ssb < 1e-6
    assert abs(r.ss_within - ssw) / ssw < 1e-6
    assert abs(r.f_stat - f) < 1e-3


def test_permutation_flip_replay_one_perm(spark):
    """Replay permutation p=0's md5-parity labels with hashlib and
    pin that the add-one p-value is in its lawful range."""
    import duckdb
    import hashlib

    from a_share_data_pipeline_spark.plans.catalog import registry

    r = (
        registry()["stats_permutation_test"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()[0]
    )
    assert r.n_perms == 100
    assert 0 <= r.n_exceed <= 100
    assert abs(r.p_value - round((r.n_exceed + 1) / 101, 4)) < 1e-9
    # the md5-parity flip is engine-reproducible: recompute group-1
    # size for p=0 in Python and compare against a DuckDB re-run
    ids = [
        x[0]
        for x in duckdb.connect().execute(
            "SELECT event_id FROM "
            "read_parquet('/root/testdata/sf0.001/events.parquet') "
            "WHERE event_type IN ('purchase','click')"
        ).fetchall()
    ]
    n1_py = sum(
        1
        for i in ids
        if int(hashlib.md5(f"0|{i}".encode()).hexdigest()[:8], 16) % 2 == 0
    )
    n1_duck = duckdb.connect().execute(
        "SELECT COUNT(*) FROM read_parquet("
        "'/root/testdata/sf0.001/events.parquet') "
        "WHERE event_type IN ('purchase','click') AND "
        "(('0x' || substring(md5('0|' || CAST(event_id AS VARCHAR)), 1, 8))"
        "::BIGINT % 2) = 0"
    ).fetchone()[0]
    assert n1_py == n1_duck > 0


def test_rec_set_based_sims_equal_join_based(spark):
    """Round-14 rec rewrite pin: the set-based sims builder
    (_item_sims_from_sets — map-side pair explode from per-user
    collect_set arrays) must produce the EXACT rows of the r13
    join-based builder (_item_sims over the distinct interaction
    frame) — counts are the same int64s, so even the cosine doubles
    compare bit-equal."""
    from a_share_data_pipeline_spark.plans.queries_rec import (
        _interactions,
        _item_sims,
        _item_sims_from_sets,
        _user_item_sets,
    )

    sf = "/root/testdata/sf0.001"
    old = {
        (r.item_a, r.item_b): (r.c_ab, r.c_a, r.c_b, r.cosine)
        for r in _item_sims(_interactions(spark, sf)).collect()
    }
    new = {
        (r.item_a, r.item_b): (r.c_ab, r.c_a, r.c_b, r.cosine)
        for r in _item_sims_from_sets(_user_item_sets(spark, sf)).collect()
    }
    assert old == new and len(new) > 100


def test_rec_user_topn_contract(spark):
    """Recommendations never include already-interacted items; scores
    equal the hand-summed ppm sims of the user's history neighbors."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    recs = registry()["rec_user_topn"].fn(spark, sf).collect()
    assert recs
    knn = {
        (r.item_a, r.item_b): r.cosine
    for r in registry()["rec_item_cooccur"].fn(spark, sf).collect()}
    hist_rows = duckdb.connect().execute(
        "SELECT DISTINCT o.o_custkey, p.p_brand FROM "
        f"read_parquet('{sf}/orders.parquet') o JOIN "
        f"read_parquet('{sf}/lineitem.parquet') l ON l.l_orderkey = o.o_orderkey "
        f"JOIN read_parquet('{sf}/part.parquet') p ON p.p_partkey = l.l_partkey"
    ).fetchall()
    hist = {}
    for u, b in hist_rows:
        hist.setdefault(u, set()).add(b)
    import math as _m

    for r in recs[:50]:
        assert r.item not in hist[r.user_id]
        expect = sum(
            _m.floor(round(knn[(j, r.item)], 6) * 1_000_000)
            for j in hist[r.user_id]
            if (j, r.item) in knn
        )
        # knn stores the 6dp-rounded cosine; floor(rounded·1e6) can sit
        # one ppm off floor(raw·1e6) per contributing neighbor
        assert abs(r.score_ppm - expect) <= len(hist[r.user_id])


def test_geo_grid_knn_matches_neighborhood_brute_force(spark):
    """Replay the grid kNN in pure Python: md5 coords, 3×3 cell
    candidate set, exact integer dist² ranking — identical rows."""
    import duckdb
    import hashlib

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    ids = [
        x[0]
        for x in duckdb.connect()
        .execute(f"SELECT c_custkey FROM read_parquet('{sf}/customer.parquet')")
        .fetchall()
    ]

    def coord(tag, i):
        return int(hashlib.md5(f"{tag}|{i}".encode()).hexdigest()[:8], 16) % 1_000_000

    pts = {i: (coord("gx", i), coord("gy", i)) for i in ids}
    cell = {i: (x // 50_000, y // 50_000) for i, (x, y) in pts.items()}
    by_cell = {}
    for i, c in cell.items():
        by_cell.setdefault(c, []).append(i)
    expect = set()
    for i, (x, y) in pts.items():
        cx, cy = cell[i]
        cands = [
            j
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            for j in by_cell.get((cx + dx, cy + dy), [])
            if j != i
        ]
        ranked = sorted(
            ((pts[j][0] - x) ** 2 + (pts[j][1] - y) ** 2, j) for j in cands
        )[:3]
        for rnk, (d2, j) in enumerate(ranked, start=1):
            expect.add((i, j, d2, rnk))
    got = {
        (r.id, r.neighbor, r.dist2, r.rnk)
        for r in registry()["geo_grid_knn"].fn(spark, sf).collect()
    }
    assert got == expect and expect


def test_geo_cell_density_neighborhood_sum(spark):
    """n_neighborhood equals the hand-summed 3×3 counts and total n
    over cells equals the customer count."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = registry()["geo_cell_density"].fn(spark, sf).collect()
    n_cust = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{sf}/customer.parquet')"
    ).fetchone()[0]
    assert sum(r.n for r in rows) == n_cust
    counts = {(r.cx, r.cy): r.n for r in rows}
    for r in rows:
        hand = sum(
            counts.get((r.cx + dx, r.cy + dy), 0)
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        assert r.n_neighborhood == hand


def test_pca_power_matches_numpy_integer_replay(spark):
    """Replay the ENTIRE integer-grid power iteration in numpy —
    quantize, exact covariance numerator, ppm rescale, 8 rounds —
    and require bit-identical loadings + the delta_ppm diagnostic."""
    import duckdb
    import numpy as np

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    X = np.array(
        [
            r[0]
            for r in duckdb.connect()
            .execute(f"SELECT embedding FROM read_parquet('{sf}/embeddings.parquet')")
            .fetchall()
        ],
        dtype=np.float64,
    )
    Xq = np.round(X * 1e6)
    n = len(Xq)
    S = Xq.sum(axis=0)
    G = (n * (Xq.T @ Xq) - np.outer(S, S)).astype(object)  # exact ints
    cmax = max(abs(int(x)) for x in G.flat)
    g = np.array(
        [[round(float(int(x)) / float(cmax) * 1e6) for x in row] for row in G],
        dtype=np.int64,
    )
    v = np.full(64, 10**6, dtype=np.int64)
    for _ in range(8):
        prev = v
        u = g @ v
        m = np.abs(u).max()
        v = np.array([round(float(x) / float(m) * 1e6) for x in u], dtype=np.int64)
    delta = int(np.abs(v - prev).max())
    rows = registry()["feature_pca_power"].fn(spark, sf).collect()
    got = {r.dim: (r.loading_ppm, r.delta_ppm) for r in rows}
    assert len(got) == 64
    for d in range(64):
        assert got[d + 1] == (int(v[d]), delta), d


def test_naive_bayes_confusion_replay(spark):
    """Replay the full NB train/apply in pure Python (hashlib split,
    Laplace counts, fixed-chain scores, literal-order argmax) and
    compare the exact confusion matrix."""
    import duckdb
    import hashlib

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, "
        "CAST(l_quantity AS BIGINT) // 10, "
        "CAST(ROUND(l_discount*100,0) AS BIGINT) // 2 "
        f"FROM read_parquet('{sf}/lineitem.parquet')"
    ).fetchall()
    data = []
    for ok, ln, lab, f1, f2, f3 in rows:
        h = int(hashlib.md5(f"nb|{ok}|{ln}".encode()).hexdigest()[:8], 16)
        data.append((lab, f1, int(f2), int(f3), h % 5 == 0))
    train = [d for d in data if not d[4]]
    classes = ("A", "N", "R")
    tot = {c: sum(1 for d in train if d[0] == c) for c in classes}
    n_train = len(train)
    cnt = {}
    vs = {}
    for k in (1, 2, 3):
        vals = {d[k] for d in train}
        vs[k] = len(vals)
        for c in classes:
            for v in vals:
                cnt[(k, v, c)] = sum(
                    1 for d in train if d[0] == c and d[k] == v
                )
    conf = {}
    for lab, f1, f2, f3, is_test in data:
        if not is_test:
            continue
        s = {}
        for c in classes:
            s[c] = (
                (tot[c] * 1.0 / n_train)
                * ((cnt.get((1, f1, c), 0) + 1.0) / (tot[c] + vs[1]))
                * ((cnt.get((2, f2, c), 0) + 1.0) / (tot[c] + vs[2]))
                * ((cnt.get((3, f3, c), 0) + 1.0) / (tot[c] + vs[3]))
            )
        if s["A"] >= s["N"] and s["A"] >= s["R"]:
            p = "A"
        elif s["N"] >= s["R"]:
            p = "N"
        else:
            p = "R"
        conf[(lab, p)] = conf.get((lab, p), 0) + 1
    got = {
        (r.label, r.prediction): r.n
        for r in registry()["ml_naive_bayes_confusion"].fn(spark, sf).collect()
    }
    assert got == conf and sum(conf.values()) > 0


def test_decision_stump_gini_replay(spark):
    """Replay each candidate's weighted Gini from the raw cents and
    pin that rnk orders by it (threshold tie-break)."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    xy = duckdb.connect().execute(
        "SELECT CAST(ROUND(l_extendedprice*100,0) AS BIGINT), "
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END "
        f"FROM read_parquet('{sf}/lineitem.parquet')"
    ).fetchall()
    rows = registry()["ml_decision_stump"].fn(spark, sf).collect()
    assert len(rows) == 10
    for r in rows:
        nl = sum(1 for x, y in xy if x < r.threshold_cents)
        pl = sum(y for x, y in xy if x < r.threshold_cents)
        nr = len(xy) - nl
        pr = sum(y for x, y in xy) - pl
        assert (r.n_left, r.pos_left, r.n_right, r.pos_right) == (nl, pl, nr, pr)
        gl = pl * (nl - pl) / nl if nl else 0.0
        gr = pr * (nr - pr) / nr if nr else 0.0
        g = 2.0 * (gl + gr) / (nl + nr)
        assert abs(r.gini_weighted - g) < 1e-7
    order = sorted(rows, key=lambda r: (r.gini_weighted, r.threshold_cents))
    assert [r.rnk for r in order] == list(range(1, 11))


def test_haar_transform_is_losslessly_invertible(spark):
    """The unnormalized Haar coefficients must reconstruct all 8
    daily closes exactly by integer arithmetic — the lossless claim."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    coef = registry()["events_haar_transform"].fn(spark, sf).collect()
    assert coef
    closes = _daily_closes_py(sf)
    for r in coef:
        # invert: sums at each level are recoverable top-down
        s03 = (r.approx_c + r.d1_c) // 2
        s47 = (r.approx_c - r.d1_c) // 2
        assert s03 + s47 == r.approx_c
        s01, s23 = (s03 + r.d2a_c) // 2, (s03 - r.d2a_c) // 2
        s45, s67 = (s47 + r.d2b_c) // 2, (s47 - r.d2b_c) // 2
        a = [
            (s01 + r.d3a_c) // 2, (s01 - r.d3a_c) // 2,
            (s23 + r.d3b_c) // 2, (s23 - r.d3b_c) // 2,
            (s45 + r.d3c_c) // 2, (s45 - r.d3c_c) // 2,
            (s67 + r.d3d_c) // 2, (s67 - r.d3d_c) // 2,
        ]
        import datetime as _dt

        epoch0 = _dt.date(1970, 1, 1)
        base = (r.block_start - epoch0).days
        blk = base // 8
        for slot in range(8):
            day = epoch0 + _dt.timedelta(days=blk * 8 + slot)
            assert a[slot] == closes[(r.event_type, day)], (r.event_type, day)


def test_multiple_regression_matches_numpy_lstsq(spark):
    """The closed-form normal-equation solve must agree with numpy's
    least squares on the same (quantity, discount_pct) design."""
    import duckdb
    import numpy as np

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT CAST(l_quantity AS BIGINT), "
        "CAST(ROUND(l_discount*100,0) AS BIGINT), "
        "CAST(ROUND(l_extendedprice*100,0) AS BIGINT) "
        f"FROM read_parquet('{sf}/lineitem.parquet')"
    ).fetchall()
    X = np.array([[1.0, r[0], r[1]] for r in rows])
    y = np.array([r[2] / 100.0 for r in rows])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    pred = X @ beta
    ss_res = ((y - pred) ** 2).sum()
    ss_tot = ((y - y.mean()) ** 2).sum()
    r2 = 1 - ss_res / ss_tot
    got = registry()["ml_multiple_regression"].fn(spark, sf).collect()[0]
    assert got.n == len(rows)
    assert abs(got.intercept - beta[0]) < max(1e-3, abs(beta[0]) * 1e-5)
    assert abs(got.beta_quantity - beta[1]) < 1e-4
    assert abs(got.beta_discount_pct - beta[2]) < 1e-3
    assert abs(got.r2 - r2) < 1e-6
    # the synthetic price is independent of quantity/discount, so the
    # fit is near-zero by construction — the witness is the exact
    # solve, which the five asserts above pin against numpy
    assert 0.0 <= got.r2 < 0.05


def test_periodogram_matches_numpy_fourier_sum(spark):
    """Replay one frequency's centered Fourier amplitude in numpy
    from the replayed daily closes."""
    import numpy as np

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import _pg_lits

    closes = _daily_closes_py()
    rows = registry()["events_periodogram"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert {r.freq_k for r in rows} == {1, 2, 3}
    import datetime as _dt

    epoch0 = _dt.date(1970, 1, 1)
    for r in rows:
        cos, sin = _pg_lits(r.freq_k)
        days = sorted(d for (t, d) in closes if t == r.event_type)
        c = [closes[(r.event_type, d)] for d in days]
        slots = [(d - epoch0).days % 16 for d in days]
        n = len(c)
        s_tot = sum(c)
        c_raw = sum(ci * cos[s] for ci, s in zip(c, slots))
        s_raw = sum(ci * sin[s] for ci, s in zip(c, slots))
        kc = sum(cos[s] for s in slots)
        ks = sum(sin[s] for s in slots)
        cc = float(n * c_raw - s_tot * kc)
        ss = float(n * s_raw - s_tot * ks)
        amp = (cc * cc + ss * ss) ** 0.5 / (n * n * 1e6 * 100.0)
        assert r.n_days == n
        assert abs(r.amplitude - amp) < 1e-5, r.freq_k


def test_kcenter_init_matches_greedy_replay(spark):
    """Replay farthest-first traversal in pure Python over the
    quantized vectors — identical center sequence (as a set; the
    query emits the chosen ids)."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf}/embeddings.parquet')"
    ).fetchall()
    q = {vid: [round(float(x) * 1e6) for x in emb] for vid, emb in rows}
    centers = [min(q)]
    for _ in range(3):
        best = None
        for vid, v in q.items():
            mind = min(
                sum((a - b) ** 2 for a, b in zip(v, q[c])) for c in centers
            )
            key = (-mind, vid)
            if best is None or key < best[0]:
                best = (key, vid)
        centers.append(best[1])
    got = {
        r.center_id
        for r in registry()["ml_kcenter_init"].fn(spark, sf).collect()
    }
    assert got == set(centers)


def test_lttb_keeps_one_point_per_interior_bucket(spark):
    """Every interior 4-day bucket emits exactly one kept point and it
    maximizes the exact scaled triangle area (python replay)."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    closes = _daily_closes_py()
    rows = registry()["events_lttb_downsample"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    import datetime as _dt

    epoch0 = _dt.date(1970, 1, 1)
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in closes if t == et)
        by_b = {}
        for d in days:
            by_b.setdefault((d - epoch0).days // 4, []).append(d)
        bs = sorted(by_b)
        interior = bs[1:-1]
        got = {
            (r.day - epoch0).days // 4: r.day
            for r in rows
            if r.event_type == et
        }
        assert set(got) == set(interior)
        for b in interior:
            prev, nxt = by_b[b - 1] if b - 1 in by_b else None, by_b.get(b + 1)
            # buckets are consecutive in this dataset
            sxp = sum((d - epoch0).days for d in by_b[b - 1])
            syp = sum(closes[(et, d)] for d in by_b[b - 1])
            np_ = len(by_b[b - 1])
            sxn = sum((d - epoch0).days for d in by_b[b + 1])
            syn = sum(closes[(et, d)] for d in by_b[b + 1])
            nn = len(by_b[b + 1])
            best = None
            for d in by_b[b]:
                x, y = (d - epoch0).days, closes[(et, d)]
                a2 = abs(
                    (x * np_ - sxp) * (syn * np_ - syp * nn)
                    - (sxn * np_ - sxp * nn) * (y * np_ - syp)
                )
                key = (-a2, d)
                if best is None or key < best[0]:
                    best = (key, d)
            assert got[b] == best[1], (et, b)


def test_cc_incremental_equals_full_recompute(spark, monkeypatch):
    """The incremental path (base CC + contracted delta CC + remap)
    must equal a one-shot CC over the full edge set, label for label
    (same int64 bipartite encoding + decode as the query). The query
    runs on the caller's session: it makes no clone."""
    from pyspark.sql import SparkSession

    from a_share_data_pipeline_spark.operators.graph import connected_components
    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.sources import load_table

    clones = []
    new_session = SparkSession.newSession

    def recording_new_session(session):
        clones.append(new_session(session))
        return clones[-1]

    monkeypatch.setattr(SparkSession, "newSession", recording_new_session)
    sf = "/root/testdata/sf0.001"
    out = registry()["graph_cc_incremental"].fn(spark, sf)
    assert out.sparkSession is spark and not clones
    inc = {(r.node, r.component) for r in out.collect()}
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (2 * F.col("o_custkey")).alias("a"),
            (2 * F.col("l_suppkey") + 1).alias("b"),
        )
        .distinct()
    )

    def dec(x):
        return ("c" if x % 2 == 0 else "s") + str(x // 2)

    full = {
        (dec(r.id), dec(r.component))
        for r in connected_components(edges).collect()
    }
    assert inc == full and inc


def test_cc_incremental_equals_full_recompute_string_ids(spark):
    """Same incremental ≡ full equivalence, but with the reference
    string node ids ("c<custkey>"/"s<suppkey>") instead of the int64
    bipartite encoding — pins that connected_components itself is
    id-type agnostic and the query's encode/decode is a pure bijection.
    (This was the shadowing duplicate ADVICE r6 flagged; both variants
    now run under distinct names.)"""
    from a_share_data_pipeline_spark.operators.graph import connected_components
    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    inc = {
        (r.node, r.component)
        for r in registry()["graph_cc_incremental"].fn(spark, sf).collect()
    }
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    full = {
        (r.id, r.component)
        for r in connected_components(edges).collect()
    }
    assert inc == full and inc


def test_theil_sen_matches_statistics_median_of_slopes(spark):
    """Replay the median-of-pairwise-slopes in pure Python (lower
    median, matching the 2·rn ≥ n+1 pick)."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    closes = _daily_closes_py()
    rows = registry()["events_theil_sen"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    import datetime as _dt

    epoch0 = _dt.date(1970, 1, 1)
    for r in rows:
        pts = sorted(
            ((d - epoch0).days, closes[(r.event_type, d)])
            for (t, d) in closes
            if t == r.event_type
        )
        slopes = sorted(
            (y2 - y1) / (x2 - x1)
            for i, (x1, y1) in enumerate(pts)
            for (x2, y2) in pts[i + 1 :]
            if x2 > x1
        )
        n = len(slopes)
        med = slopes[(n + 1) // 2 - 1]  # lower median, 1-indexed rank
        assert r.n_slopes == n
        assert abs(r.theil_sen_slope - med / 100.0) < 1e-6


@pytest.mark.parametrize(
    "cutoff",
    ["1992-06-01", "1995-01-01", "1997-06-01", "1999-01-01"],
)
def test_cc_incremental_equals_full_at_any_cutoff(spark, cutoff):
    """Incremental ≡ full must hold at EVERY base/delta split, not just
    the catalog's pinned cutoff (VERDICT r6 item 8) — including the
    degenerate splits: 1992-06-01 leaves the base (near-)empty so
    everything flows through the contracted path, 1999-01-01 leaves
    the delta empty so the remap must be the identity. Label equality
    pins the min-label composition argument (base labels are
    min-member ids; the contracted CC again takes min labels; the
    composition is the global min)."""
    from a_share_data_pipeline_spark.operators.graph import connected_components
    from a_share_data_pipeline_spark.plans.queries_analytics import (
        cc_incremental_labels,
    )
    from a_share_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    inc = {
        (r.node, r.component)
        for r in cc_incremental_labels(spark, sf, cutoff).collect()
    }
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (2 * F.col("o_custkey")).alias("a"),
            (2 * F.col("l_suppkey") + 1).alias("b"),
        )
        .distinct()
    )

    def dec(x):
        return ("c" if x % 2 == 0 else "s") + str(x // 2)

    full = {
        (dec(r.id), dec(r.component))
        for r in connected_components(edges).collect()
    }
    assert inc == full and inc


def test_assortativity_matches_numpy_corrcoef(spark):
    """The five-integer-moment assortativity must equal numpy's Pearson
    correlation over the same endpoint-degree pairs."""
    import duckdb
    import numpy as np

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    edges = con.execute(
        f"""SELECT DISTINCT 2*o_custkey AS a, 2*l_suppkey+1 AS b
            FROM read_parquet('{sf}/orders.parquet') o
            JOIN read_parquet('{sf}/lineitem.parquet') l
              ON o.o_orderkey = l.l_orderkey"""
    ).fetchall()
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs, ys = [], []
    for a, b in edges:  # both orientations = the symmetric edge list
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    want = np.corrcoef(np.array(xs, dtype=float), np.array(ys, dtype=float))[0, 1]
    got = registry()["graph_assortativity"].fn(spark, sf).collect()[0]
    assert got.n_endpoints == len(xs)
    assert abs(got.assortativity - want) < 1e-6


def test_mann_kendall_matches_python_replay(spark):
    """S, the tie-corrected variance and the continuity-corrected z
    replayed in pure Python over the replayed daily closes."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    closes = _daily_closes_py()
    rows = registry()["stats_mann_kendall"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert {r.event_type for r in rows} == {"view", "purchase"}
    for r in rows:
        ys = [
            closes[(t, d)]
            for (t, d) in sorted(closes, key=lambda k: k[1])
            if t == r.event_type
        ]
        n = len(ys)
        s = sum(
            (1 if ys[j] > ys[i] else -1 if ys[j] < ys[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        tie_counts: dict[int, int] = {}
        for y in ys:
            tie_counts[y] = tie_counts.get(y, 0) + 1
        var18 = n * (n - 1) * (2 * n + 5) - sum(
            t * (t - 1) * (2 * t + 5) for t in tie_counts.values()
        )
        sd = (var18 / 18.0) ** 0.5
        z = (s - 1) / sd if s > 0 else (s + 1) / sd if s < 0 else 0.0
        assert r.n_days == n and r.s_stat == s
        assert abs(r.z_score - z) < 1e-6


def test_modularity_matches_python_replay(spark):
    """Q for both schemes replayed naively (per-community mc and Dc,
    float formula) — and the LPA scheme must sit at exactly -0.5, the
    documented synchronous-LPA bipartite bi-coloring."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = {r.scheme: r for r in registry()["graph_modularity"].fn(spark, sf).collect()}
    assert rows["lpa"].modularity == -0.5 and rows["lpa"].inside_edges == 0
    con = duckdb.connect()
    edges = con.execute(
        f"""SELECT DISTINCT 2*o_custkey AS a, 2*l_suppkey+1 AS b
            FROM read_parquet('{sf}/orders.parquet') o
            JOIN read_parquet('{sf}/lineitem.parquet') l
              ON o.o_orderkey = l.l_orderkey"""
    ).fetchall()
    nat = dict(
        con.execute(
            f"SELECT 2*c_custkey, c_nationkey FROM read_parquet('{sf}/customer.parquet') "
            f"UNION ALL SELECT 2*s_suppkey+1, s_nationkey FROM read_parquet('{sf}/supplier.parquet')"
        ).fetchall()
    )
    m = len(edges)
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    inside = sum(1 for a, b in edges if nat[a] == nat[b])
    dc: dict[int, int] = {}
    for node, d in deg.items():
        dc[nat[node]] = dc.get(nat[node], 0) + d
    q = inside / m - sum(v * v for v in dc.values()) / (4.0 * m * m)
    r = rows["nation"]
    assert r.m_edges == m and r.inside_edges == inside
    assert r.n_communities == len(dc)
    assert abs(r.modularity - q) < 1e-6


_FEATURES_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])  # the driver's path only, as sweep.py sets it
from a_share_data_pipeline_spark.operators import multimodal as MM
from a_share_data_pipeline_spark.session import get_spark

spark = get_spark("features-outside-the-repo")
docs = spark.createDataFrame(
    [(1, "hello world", "web"), (2, "", "news"), (3, "沪深" * 400, "web")],
    "doc_id long, text string, source string",
)
rows = MM.extract_features(MM.documents_as_binary(docs)).collect()
print(json.dumps(sorted([list(r) for r in rows])))
"""


def test_extract_features_needs_no_package_on_the_worker(tmp_path):
    """Started outside the repo with the package on the driver's
    sys.path only, `extract_features` still runs: its mapInPandas
    function carries everything it calls, so the Python worker never
    imports the package."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _FEATURES_SCRIPT, root],
        capture_output=True, text=True, cwd=tmp_path, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    want = [
        [i, len(b), b[:8].hex().upper(), len(b) % 640]
        for i, b in ((1, b"hello world"), (2, b""), (3, ("沪深" * 400).encode()))
    ]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == want


def test_blockhash_finds_every_frame_identical_twin(spark):
    """Any truncated twin whose cut lands at/beyond the 256-char
    fingerprint frame is bit-identical inside the frame — the query
    must report it at hamming 0; and every emitted pair must satisfy
    the hamming <= 16 contract with a hashlib replay of both
    fingerprints."""
    import duckdb
    import hashlib

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_llm import (
        _BH_BLOCK_HEX,
        _BH_BLOCKS,
        _BH_HAMMING_MAX,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.a, r.b): r.hamming
        for r in registry()["multimodal_blockhash_dedup"].fn(spark, sf).collect()
    }
    texts = dict(
        duckdb.connect().execute(
            f"SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')"
        ).fetchall()
    )

    def fp(text: str) -> list[int]:
        hx = text.encode().hex().upper()
        bits = []
        for k in range(_BH_BLOCKS):
            block = hx[k * _BH_BLOCK_HEX : (k + 1) * _BH_BLOCK_HEX]
            bits.append(int(hashlib.md5(block.encode()).hexdigest()[0], 16) % 2)
        return bits

    frame_chars = _BH_BLOCKS * _BH_BLOCK_HEX // 2
    n_frame_twins = 0
    for doc_id, text in texts.items():
        if doc_id % 37 != 0:
            continue
        cut = max(32, len(text) * 9 // 10)
        if cut >= frame_chars:  # twin identical inside the frame
            assert got.get((doc_id, doc_id + 30000000)) == 0, doc_id
            n_frame_twins += 1
    assert n_frame_twins > 0  # the fixture is non-vacuous
    for (a, b), h in got.items():
        ta = texts.get(a) if a < 30000000 else None
        tb = texts[b - 30000000] if b >= 30000000 else texts[b]
        if b >= 30000000:
            tb = tb[: max(32, len(tb) * 9 // 10)]
        if ta is None:
            continue
        bits_a, bits_b = fp(ta), fp(tb)
        replay = sum(x != y for x, y in zip(bits_a, bits_b))
        assert replay == h <= _BH_HAMMING_MAX, (a, b)


def test_cohens_kappa_matches_python_replay(spark):
    """kappa replayed from a pure-Python confusion matrix built with
    the same marker rules (via the Spark lang_id output itself being
    deterministic, the replay recomputes po/pe/kappa from raw cells)."""
    from a_share_data_pipeline_spark.operators.text import lang_id
    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    pairs = [
        (r.lang, r.pred_lang)
        for r in lang_id(load_table(spark, sf, "documents")).select("lang", "pred_lang").collect()
    ]
    n = len(pairs)
    agree = sum(1 for a, b in pairs if a == b)
    row: dict[str, int] = {}
    col: dict[str, int] = {}
    for a, b in pairs:
        row[a] = row.get(a, 0) + 1
        col[b] = col.get(b, 0) + 1
    sum_rc = sum(row[k] * col.get(k, 0) for k in row)
    kappa = (n * agree - sum_rc) / (n * n - sum_rc)
    got = registry()["stats_cohens_kappa"].fn(spark, sf).collect()[0]
    assert got.n_docs == n and got.n_agree == agree
    assert abs(got.po - agree / n) < 1e-6
    assert abs(got.pe - sum_rc / (n * n)) < 1e-6
    assert abs(got.kappa - kappa) < 1e-6
    # the synthetic corpus's declared lang labels are independent of
    # the text (the documented fixture property: labels are feature-
    # independent, classifiers sit at chance), so kappa ~ 0 IS the
    # honest value here — the witness is the exact algebra above, and
    # this pin would catch a fixture change that made it meaningful
    assert abs(got.kappa) < 0.1 and got.po > 0


def test_url_canonical_rules_hold_on_every_row(spark):
    """Every canonical URL obeys all six rules, every identity group
    collapses its 7 dirty variants, and the survivor is the min id."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = registry()["dedup_url_canonical"].fn(spark, sf).collect()
    n_docs = duckdb.connect().execute(
        f"SELECT COUNT(*), MAX(doc_id) FROM read_parquet('{sf}/documents.parquet')"
    ).fetchone()
    assert sum(r.n_variants for r in rows) == n_docs[0]
    for r in rows:
        u = r.canonical_url
        assert u == u.lower() or "?" in u  # scheme+host+path lowercase…
        host = u.split("://")[1].split("/")[0]
        assert host == host.lower() and not host.startswith("www.")
        assert "#" not in u and "utm_" not in u
        path = u.split("://")[1].split("?")[0][len(host):]
        assert not path.endswith("/")
        if "?" in u:
            params = u.split("?")[1].split("&")
            assert params == sorted(params)
        # full identity groups (7 consecutive ids) collapse completely
        if r.kept_doc_id + 6 <= n_docs[1] and r.kept_doc_id % 7 == 0:
            assert r.n_variants == 7, r
        assert r.kept_doc_id % 7 == 0 or r.kept_doc_id < 7


def test_poisson_bootstrap_matches_python_replay(spark):
    """Full pure-Python replay: md5 draws -> Poisson(1) inverse-CDF
    weights -> 50 replicate weighted means -> fixed-rank CI picks."""
    import duckdb
    import hashlib

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_stats import (
        _PB_B,
        _PB_HI,
        _PB_LO,
        _PB_THRESH,
    )

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        f"""SELECT l_orderkey * 10 + l_linenumber,
                   CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
            FROM read_parquet('{sf}/lineitem.parquet')"""
    ).fetchall()
    means = []
    for b in range(_PB_B):
        skx = sk = 0
        for rid, cents in rows:
            u = int(hashlib.md5(f"pb|{b}|{rid}".encode()).hexdigest()[:8], 16) % 10**8
            k = sum(1 for t in _PB_THRESH if u >= t)
            skx += k * cents
            sk += k
        means.append((skx / sk, b))
    means.sort()
    got = registry()["stats_poisson_bootstrap"].fn(spark, sf).collect()[0]
    assert got.n_replicates == _PB_B
    assert abs(got.ci_lo - round(means[_PB_LO - 1][0] / 100.0, 4)) < 1e-9
    assert abs(got.ci_hi - round(means[_PB_HI - 1][0] / 100.0, 4)) < 1e-9
    point = sum(c for _, c in rows) / len(rows) / 100.0
    assert abs(got.mean_price - point) < 0.01
    # the interval brackets the point estimate
    assert got.ci_lo < got.mean_price < got.ci_hi


def test_dollar_bars_match_python_replay(spark):
    """Bar assignment (exclusive cumsum // threshold) and per-bar OHLC
    replayed in pure Python over the ordered tick stream."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import _DB_THRESHOLD

    sf = "/root/testdata/sf0.001"
    ticks = duckdb.connect().execute(
        f"""SELECT event_type,
                   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                   || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ok,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS c
            FROM read_parquet('{sf}/events.parquet')
            WHERE event_type IN ('view', 'purchase')
            ORDER BY event_type, ok"""
    ).fetchall()
    bars: dict[tuple, dict] = {}
    cum: dict[str, int] = {}
    for et, ok, c in ticks:
        bar = cum.get(et, 0) // _DB_THRESHOLD
        cum[et] = cum.get(et, 0) + c
        b = bars.setdefault((et, bar), {"n": 0, "v": 0, "o": c, "h": c, "l": c, "c": c})
        b["n"] += 1
        b["v"] += c
        b["h"] = max(b["h"], c)
        b["l"] = min(b["l"], c)
        b["c"] = c
    got = {
        (r.event_type, r.bar): (r.n_ticks, r.bar_cents, r.open_c, r.high_c, r.low_c, r.close_c)
        for r in registry()["events_dollar_bars"].fn(spark, sf).collect()
    }
    want = {k: (v["n"], v["v"], v["o"], v["h"], v["l"], v["c"]) for k, v in bars.items()}
    assert got == want and len(got) > 10
    # every full bar carries at least the threshold in value
    for (et, bar), (n, v, *_rest) in got.items():
        if (et, bar + 1) in got:  # not the trailing partial bar
            assert v >= _DB_THRESHOLD - 10_000  # crossing tick closes the bar


def test_point_in_polygon_matches_python_ray_cast(spark):
    """Every customer point's containment replayed with the textbook
    float ray-cast (shapely-free) — integer rule must agree exactly."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_geo import _POLYGONS, _poly_area2

    sf = "/root/testdata/sf0.001"
    pts = duckdb.connect().execute(
        f"""SELECT (('0x' || substring(md5('gx|' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 1000000),
                   (('0x' || substring(md5('gy|' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 1000000)
            FROM read_parquet('{sf}/customer.parquet')"""
    ).fetchall()

    def inside(px, py, ring):
        n = 0
        for i, (x1, y1) in enumerate(ring):
            x2, y2 = ring[(i + 1) % len(ring)]
            if (y1 <= py < y2) or (y2 <= py < y1):
                t = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
                if (y2 > y1 and t > 0) or (y2 < y1 and t < 0):
                    n += 1
        return n % 2 == 1

    want = {
        pid: sum(1 for px, py in pts if inside(px, py, ring))
        for pid, ring in _POLYGONS.items()
    }
    got = {
        r.polygon_id: (r.n_inside, r.area2)
        for r in registry()["geo_point_in_polygon"].fn(spark, sf).collect()
    }
    assert {k: v[0] for k, v in got.items()} == want
    assert sum(want.values()) > 0
    for pid in _POLYGONS:
        assert got[pid][1] == _poly_area2(pid)


def test_temperature_mixture_matches_math_sqrt_replay(spark):
    """sqrt(p) weights on the 1e8 grid, integer normalizer, replayed
    with math.sqrt; tail languages must be boosted, the head damped."""
    import duckdb
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    counts = dict(duckdb.connect().execute(
        f"SELECT lang, COUNT(*) FROM read_parquet('{sf}/documents.parquet') GROUP BY 1"
    ).fetchall())
    n = sum(counts.values())
    sp = {k: round(m.sqrt(v / n) * 1e8) for k, v in counts.items()}
    z = sum(sp.values())
    rows = {r.lang: r for r in registry()["curation_temperature_mixture"].fn(spark, sf).collect()}
    for k, v in counts.items():
        r = rows[k]
        assert r.n_docs == v
        assert abs(r.p_temp - sp[k] / z) < 1e-6
        assert abs(r.boost - round(sp[k] * n / (z * v), 4)) < 1e-9
    head = max(counts, key=lambda k: counts[k])
    assert rows[head].boost < 1.0
    assert all(rows[k].boost > 1.0 for k in counts if k != head)


def test_vpin_matches_python_replay(spark):
    """Tick-rule sign carry, bar bucketing, and the trailing-5-bar
    VPIN ratio replayed in pure Python."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import (
        _DB_THRESHOLD,
        _VPIN_W,
    )

    sf = "/root/testdata/sf0.001"
    ticks = duckdb.connect().execute(
        f"""SELECT event_type,
                   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                   || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ok,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS c
            FROM read_parquet('{sf}/events.parquet')
            WHERE event_type IN ('view', 'purchase')
            ORDER BY event_type, ok"""
    ).fetchall()
    bars: dict[tuple, list] = {}
    state: dict[str, tuple] = {}
    for et, ok, c in ticks:
        cum, prev, sgn = state.get(et, (0, None, 1))
        if prev is not None and c > prev:
            sgn = 1
        elif prev is not None and c < prev:
            sgn = -1
        bar = cum // _DB_THRESHOLD
        b = bars.setdefault((et, bar), [0, 0])
        b[0 if sgn == 1 else 1] += c
        state[et] = (cum + c, c, sgn)
    want = {}
    for et in {k[0] for k in bars}:
        seq = sorted(k[1] for k in bars if k[0] == et)
        for i, bar in enumerate(seq):
            if i >= _VPIN_W - 1:
                win = seq[i - _VPIN_W + 1 : i + 1]
                imb = sum(abs(bars[(et, b)][0] - bars[(et, b)][1]) for b in win)
                vol = sum(bars[(et, b)][0] + bars[(et, b)][1] for b in win)
                want[(et, bar)] = (
                    bars[(et, bar)][0],
                    bars[(et, bar)][1],
                    round(imb / vol, 6),
                )
    got = {
        (r.event_type, r.bar): (r.buy_c, r.sell_c, r.vpin)
        for r in registry()["events_vpin"].fn(spark, sf).collect()
    }
    assert got == want and len(got) > 10
    assert all(0.0 <= v[2] <= 1.0 for v in got.values())


def test_moments_merge_matches_numpy(spark):
    """Merged-power-sum skewness/kurtosis must equal numpy's direct
    population moments over the same dollar-grid values — and equal a
    shard-merge replay (additivity)."""
    import duckdb
    import numpy as np

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    vals = [
        r[0]
        for r in duckdb.connect().execute(
            f"SELECT CAST(ROUND(l_extendedprice, 0) AS BIGINT) FROM read_parquet('{sf}/lineitem.parquet')"
        ).fetchall()
    ]
    a = np.array(vals, dtype=float)
    m2 = ((a - a.mean()) ** 2).mean()
    m3 = ((a - a.mean()) ** 3).mean()
    m4 = ((a - a.mean()) ** 4).mean()
    got = registry()["agg_moments_merge"].fn(spark, sf).collect()[0]
    assert got.n == len(vals) and got.n_shards == 3
    assert abs(got.mean - a.mean()) < 1e-4
    assert abs(got.variance_pop - m2) < max(1e-3, m2 * 1e-9)
    assert abs(got.skewness - m3 / m2**1.5) < 1e-6
    assert abs(got.excess_kurtosis - (m4 / m2**2 - 3)) < 1e-6


def test_model_filter_matches_hashlib_replay(spark):
    """Hashed-feature linear score replayed per doc with hashlib md5 and
    the literal weight table; the keep flag splits the corpus."""
    import duckdb
    import hashlib

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_curation import (
        _MF_BIAS,
        _MF_BUCKETS,
        _MF_THRESHOLD,
        _MF_WEIGHTS,
    )

    sf = "/root/testdata/sf0.001"
    texts = dict(duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall())
    got = {
        r.doc_id: (r.n_tokens, r.score_micro, r.keep)
        for r in registry()["curation_model_filter"].fn(spark, sf).collect()
    }
    n_keep = 0
    for doc_id, text in texts.items():
        dot = n = 0
        for tok in text.split(" "):
            b = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % _MF_BUCKETS
            dot += _MF_WEIGHTS[b]
            n += 1
        # truncation toward zero, matching SQL `div` / DuckDB `//`
        q = abs(dot) // n
        score = _MF_BIAS + (q if dot >= 0 else -q)
        want = (n, score, score >= _MF_THRESHOLD)
        assert got[doc_id] == want, (doc_id, got[doc_id], want)
        n_keep += want[2]
    assert 0 < n_keep < len(texts)


def test_hodges_lehmann_matches_python_replay(spark):
    """Median of Walsh averages (i <= j, lower-median pick) replayed in
    pure Python over the replayed daily closes."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    closes = _daily_closes_py()
    rows = registry()["stats_hodges_lehmann"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    for r in rows:
        ys = sorted(v for (t, _), v in closes.items() if t == r.event_type)
        walsh = sorted(
            ys[i] + ys[j] for i in range(len(ys)) for j in range(i, len(ys))
        )
        assert r.n_walsh == len(walsh)
        lower_med = walsh[(len(walsh) + 1) // 2 - 1]
        assert abs(r.hl_estimate - round(lower_med / 200.0, 6)) < 1e-9


def test_zipf_fit_matches_numpy_polyfit(spark):
    """The integer-grid log-log OLS must agree with numpy.polyfit over
    the same (rounded-ln) points."""
    import duckdb
    import math as m
    import numpy as np

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_text2 import _ZIPF_K, _ZIPF_SCALE

    sf = "/root/testdata/sf0.001"
    freqs = duckdb.connect().execute(
        f"""SELECT freq FROM (
              SELECT tok, COUNT(*) AS freq
              FROM (SELECT unnest(string_split(text, ' ')) AS tok
                    FROM read_parquet('{sf}/documents.parquet')) GROUP BY 1)
            ORDER BY freq DESC, tok LIMIT {_ZIPF_K}"""
    ).fetchall()
    xs = np.array([round(m.log(i + 1) * _ZIPF_SCALE) for i in range(len(freqs))])
    ys = np.array([round(m.log(f[0]) * _ZIPF_SCALE) for f in freqs])
    slope, _ = np.polyfit(xs.astype(float), ys.astype(float), 1)
    got = registry()["text_zipf_fit"].fn(spark, sf).collect()[0]
    # the synthetic vocabulary is smaller than K — the fit adapts
    assert got.k_top == len(freqs) <= _ZIPF_K
    assert abs(got.zipf_exponent - (-slope)) < 1e-6
    assert 0.0 <= got.r2 <= 1.0


def test_roll_spread_matches_python_replay(spark):
    """Roll's 2·sqrt(-cov) implied spread replayed in pure Python over
    the replayed daily closes (population covariance of consecutive
    price changes, sign guard for the undefined region)."""
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry

    closes = _daily_closes_py()
    got = {
        r.event_type: (r.n_pairs, r.autocov_dollars2, r.roll_spread)
        for r in registry()["events_roll_spread"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in closes if t == et)
        deltas = [
            closes[(et, days[i])] - closes[(et, days[i - 1])]
            for i in range(1, len(days))
        ]
        pairs = list(zip(deltas[1:], deltas[:-1]))
        n = len(pairs)
        sx = sum(d for d, _ in pairs)
        sy = sum(p for _, p in pairs)
        sxy = sum(d * p for d, p in pairs)
        num = n * sxy - sx * sy
        cov = num / (float(n) * float(n))
        want_spread = (
            round(2.0 * m.sqrt(-cov) / 100.0, 6) if num < 0 else None
        )
        assert got[et][0] == n
        assert abs(got[et][1] - round(cov / 10000.0, 6)) < 1e-9
        if want_spread is None:
            assert got[et][2] is None
        else:
            assert abs(got[et][2] - want_spread) < 1e-9


def test_pairs_spread_zscore_matches_python_replay(spark):
    """Trailing-window z-score of the view/purchase close spread
    replayed in pure Python via the same integer-moment identity."""
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import _PAIRS_Z_W

    closes = _daily_closes_py()
    days = sorted(
        d for (t, d) in closes if t == "view" and ("purchase", d) in closes
    )
    spreads = [closes[("view", d)] - closes[("purchase", d)] for d in days]
    got = {
        r.day: (r.spread_c, r.zscore)
        for r in registry()["events_pairs_spread_zscore"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    n_expected = 0
    for i, d in enumerate(days):
        if i + 1 < _PAIRS_Z_W:
            assert d not in got
            continue
        win = spreads[i - _PAIRS_Z_W + 1 : i + 1]
        n = len(win)
        s1 = sum(win)
        s2 = sum(v * v for v in win)
        rad = n * s2 - s1 * s1
        if rad <= 0:
            assert d not in got
            continue
        n_expected += 1
        want = round((n * win[-1] - s1) / m.sqrt(float(rad)), 6)
        assert got[d][0] == win[-1]
        assert abs(got[d][1] - want) < 1e-9
    assert len(got) == n_expected > 0


def test_variance_ratio_matches_python_replay(spark):
    """Lo-MacKinlay VR(5) + homoskedastic z replayed in pure Python
    over the replayed daily closes (integer-ln-grid returns)."""
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import _VR_COEF, _VR_K

    closes = _daily_closes_py()
    got = {
        r.event_type: (r.n_ret, r.vr, r.z_homo)
        for r in registry()["events_variance_ratio"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in closes if t == et)
        ilns = [round(m.log(closes[(et, d)]) * 1e8) for d in days]
        r = [ilns[i] - ilns[i - 1] for i in range(1, len(ilns))]
        n1 = len(r)
        rk = [sum(r[i : i + _VR_K]) for i in range(n1 - _VR_K + 1)]
        nk = len(rk)
        var1 = (n1 * sum(v * v for v in r) - sum(r) ** 2) / (float(n1) * float(n1))
        vark = (nk * sum(v * v for v in rk) - sum(rk) ** 2) / (
            float(nk) * float(nk)
        )
        vr = vark / (_VR_K * var1)
        z = (vr - 1.0) / m.sqrt(_VR_COEF / float(n1))
        assert got[et][0] == n1
        assert abs(got[et][1] - round(vr, 6)) < 1e-9
        assert abs(got[et][2] - round(z, 6)) < 1e-9


def test_hurst_exponent_matches_python_replay(spark):
    """R/S analysis replayed in pure Python: per-block rescaled range
    on the integer device, 1e-6-floored, cross-block averaged, then the
    two-point ln-2 slope."""
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import (
        _HURST_DEN,
        _HURST_NS,
    )

    closes = _daily_closes_py()
    got = {
        r.event_type: r
        for r in registry()["events_hurst_exponent"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in closes if t == et)
        ilns = [round(m.log(closes[(et, d)]) * 1e8) for d in days]
        r = [ilns[i] - ilns[i - 1] for i in range(1, len(ilns))]
        rs_avg = {}
        n_blocks = 0
        for n in _HURST_NS:
            rs_us = []
            for b in range(len(r) // n):
                blk = r[b * n : (b + 1) * n]
                sb, qb = sum(blk), sum(v * v for v in blk)
                rad = n * qb - sb * sb
                if rad <= 0:
                    continue
                cum = 0
                devs = []
                for t, v in enumerate(blk, start=1):
                    cum += v
                    devs.append(n * cum - t * sb)
                rs_us.append(
                    m.floor((max(devs) - min(devs)) / m.sqrt(float(rad)) * 1e6)
                )
            if rs_us:
                rs_avg[n] = sum(rs_us) * 1.0 / len(rs_us) / 1e6
                n_blocks += len(rs_us)
        want_h = (
            round(m.log(rs_avg[28]) * 1e8) - round(m.log(rs_avg[7]) * 1e8)
        ) / _HURST_DEN
        g = got[et]
        assert g.n_blocks == n_blocks
        for n, col in ((7, g.rs7), (14, g.rs14), (28, g.rs28)):
            assert abs(col - round(rs_avg[n], 6)) < 1e-9
        assert abs(g.hurst - round(want_h, 6)) < 1e-9


def test_benjamini_hochberg_matches_python_replay(spark):
    """The full BH chain — integer-moment Welch z, A&S erfc p on the
    1e-10 grid, step-up adjusted p — replayed in pure Python."""
    import duckdb
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_stats import (
        _BH_INV_SQRT2,
        _BH_Q,
    )

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT event_type, isodow(ts), CAST(ROUND(value*100,0) AS BIGINT) "
        f"FROM read_parquet('{sf}/events.parquet')"
    ).fetchall()
    grp, tot = {}, {}
    for et, dow, c in rows:
        n, s, q = grp.get((et, dow), (0, 0, 0))
        grp[(et, dow)] = (n + 1, s + c, q + c * c)
        n, s, q = tot.get(et, (0, 0, 0))
        tot[et] = (n + 1, s + c, q + c * c)
    def dr(x, n):  # DuckDB binary ROUND (dround twin) for x >= 0
        return m.floor(x * 10**n + 0.5) / 10**n

    hyps = []
    for (et, dow), (na, sa, qa) in sorted(grp.items()):
        nt, st, qt = tot[et]
        nb, sb, qb = nt - na, st - sa, qt - qa
        rada, radb = na * qa - sa * sa, nb * qb - sb * sb
        if not (na > 1 and nb > 1 and (rada > 0 or radb > 0)):
            continue
        z = (sa / na - sb / nb) / m.sqrt(
            (rada / (float(na) * na)) / na + (radb / (float(nb) * nb)) / nb
        )
        x = abs(z) * _BH_INV_SQRT2
        t = 1.0 / (1.0 + 0.3275911 * x)
        poly = (
            (((1.061405429 * t - 1.453152027) * t + 1.421413741) * t - 0.284496736)
            * t
            + 0.254829592
        ) * t
        p = dr(poly * m.exp(-(x * x)), 10)
        hyps.append((p, et, dow, na, z))
    hyps.sort()
    mm = len(hyps)
    padj = [None] * mm
    cur = 1.0
    for i in range(mm - 1, -1, -1):
        cur = min(cur, hyps[i][0] * mm / (i + 1))
        padj[i] = min(cur, 1.0)
    got = {
        (r.event_type, r.dow): r
        for r in registry()["stats_benjamini_hochberg"].fn(spark, sf).collect()
    }
    assert len(got) == mm
    for i, (p, et, dow, na, z) in enumerate(hyps):
        g = got[(et, dow)]
        assert g.n_dow == na
        assert abs(g.z - round(z, 6)) < 1e-9
        assert abs(g.p_raw - p) < 1e-12
        assert abs(g.p_adj - dr(padj[i], 10)) < 1e-12
        assert g.reject == (padj[i] <= _BH_Q)


def test_clustering_coeff_matches_python_replay(spark):
    """Local clustering over the capped similarity graph replayed in
    pure Python (blocking, DP edit distance, triangle sets, exact
    integer cc lane)."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_profile import (
        _CC_TOP,
        _TRI_MAX_DEGREE,
    )

    sf = "/root/testdata/sf0.001"
    parts = duckdb.connect().execute(
        f"SELECT p_partkey, p_name FROM read_parquet('{sf}/part.parquet')"
    ).fetchall()

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    blocks = {}
    for k, name in parts:
        blk = (name.split(" ")[0], len(name) // 4)
        blocks.setdefault(blk, []).append((k, name))
    raw = set()
    for members in blocks.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                if lev(members[i][1], members[j][1]) <= 3:
                    raw.add((members[i][0], members[j][0]))
    deg0 = {}
    for a, b in raw:
        deg0[a] = deg0.get(a, 0) + 1
        deg0[b] = deg0.get(b, 0) + 1
    ok = {n for n, d in deg0.items() if d <= _TRI_MAX_DEGREE}
    pairs = {(a, b) for a, b in raw if a in ok and b in ok}
    adj = {}
    deg = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    tri = {}
    for a, b in pairs:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c: count once per node of each triangle
                for v in (a, b, c):
                    tri[v] = tri.get(v, 0) + 1
    want = []
    for v, d in deg.items():
        if d < 2:
            continue
        cc_u = (2 * tri.get(v, 0) * 10**9) // (d * (d - 1))
        want.append((v, d, tri.get(v, 0), cc_u))
    n_nodes = len(want)
    avg = sum(w[3] for w in want) * 1.0 / n_nodes / 1e9
    want.sort(key=lambda w: (-w[3], w[0]))
    got = registry()["graph_clustering_coeff"].fn(spark, sf).collect()
    assert len(got) == min(_CC_TOP, n_nodes)
    for g, (v, d, t, cc_u) in zip(got, want[: len(got)]):
        assert (g.node, g.degree, g.tri_cnt, g.cc_u) == (v, d, t, cc_u)
        assert abs(g.local_cc - round(cc_u / 1e9, 6)) < 1e-9
        assert g.n_nodes == n_nodes
        assert abs(g.avg_clustering - round(avg, 6)) < 1e-9


def test_ewma_volatility_matches_python_replay(spark):
    """RiskMetrics adjust-form EWMA variance replayed in pure Python
    with the identical left-associative weight chain."""
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import (
        _EWMA_LAGS,
        _EWMA_LAMBDA,
    )

    closes = _daily_closes_py()
    got = {
        (r.event_type, r.day): (r.ewma_vol, r.ann_vol)
        for r in registry()["events_ewma_volatility"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    ws = [_EWMA_LAMBDA**i for i in range(_EWMA_LAGS)]
    n_checked = 0
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in closes if t == et)
        ilns = [round(m.log(closes[(et, d)]) * 1e8) for d in days]
        r2 = [(ilns[i] - ilns[i - 1]) ** 2 for i in range(1, len(ilns))]
        for t_i in range(len(r2)):
            num = den = 0.0
            for i, w in enumerate(ws):
                if t_i - i >= 0:
                    num = num + float(r2[t_i - i]) * w
                    den = den + w
            vol = m.floor(m.sqrt(num / den) / 1e8 * 1e10 + 0.5) / 1e10
            ann = m.floor(m.sqrt(num / den * 252.0) / 1e8 * 1e10 + 0.5) / 1e10
            g = got[(et, days[t_i + 1])]
            assert abs(g[0] - vol) < 1e-12 and abs(g[1] - ann) < 1e-12
            n_checked += 1
    assert n_checked == len(got) > 0


def test_permutation_entropy_matches_python_replay(spark):
    """Ordinal-pattern entropy replayed in pure Python; the infeasible
    code-2 column must be zero and counts must sum to n."""
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import _PE_NORM

    closes = _daily_closes_py()
    got = {
        r.event_type: r
        for r in registry()["events_permutation_entropy"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in closes if t == et)
        xs = [closes[(et, d)] for d in days]
        counts = {}
        for i in range(2, len(xs)):
            x0, x1, x2 = xs[i - 2], xs[i - 1], xs[i]
            code = 4 * (x1 < x0) + 2 * (x2 < x0) + (x2 < x1)
            counts[code] = counts.get(code, 0) + 1
        n = len(xs) - 2
        h = -sum(
            counts[k] / n * m.log(counts[k] / n)
            for k in sorted(counts)
            if counts[k] > 0
        )
        g = got[et]
        assert g.n == n
        assert g.c2 == 0 and counts.get(2, 0) == 0 and counts.get(5, 0) == 0
        assert (
            g.c0 + g.c1 + g.c2 + g.c3 + g.c4 + g.c6 + g.c7 == n
        )
        assert abs(g.entropy - round(h, 6)) < 1e-6
        assert abs(g.pe_normalized - round(h / _PE_NORM, 6)) < 1e-6


def test_brown_forsythe_matches_python_replay(spark):
    """BF = one-way ANOVA on |x - lower-median_g|, replayed in pure
    Python with the identical fixed-order group chain."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_stats import _TYPES

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT event_type, CAST(ROUND(value*100,0) AS BIGINT) "
        f"FROM read_parquet('{sf}/events.parquet')"
    ).fetchall()
    groups = {}
    for g, c in rows:
        groups.setdefault(g, []).append(c)
    piv = {}
    for g, xs in groups.items():
        xs.sort()
        med = xs[(len(xs) + 1) // 2 - 1]
        zs = [abs(x - med) for x in xs]
        piv[g] = (len(zs), float(sum(zs)), float(sum(z * z for z in zs)))
    n_total = s_total = q_total = ssb_terms = None
    for t in _TYPES:
        n, s, q = piv[t]
        n_total = n if n_total is None else n_total + n
        s_total = s if s_total is None else s_total + s
        q_total = q if q_total is None else q_total + q
        term = s * s / n
        ssb_terms = term if ssb_terms is None else ssb_terms + term
    ssb = (ssb_terms - s_total * s_total / n_total) / 10000.0
    ssw = (q_total - ssb_terms) / 10000.0
    k = len(_TYPES)
    w = (ssb / (k - 1)) / (ssw / (n_total - k))
    got = registry()["stats_brown_forsythe"].fn(spark, sf).collect()[0]
    assert got.k == k and got.n_total == n_total
    assert abs(got.ssb_z - round(ssb, 4)) < 1e-6
    assert abs(got.ssw_z - round(ssw, 4)) < 1e-6
    assert abs(got.bf_stat - round(w, 4)) < 1e-6


def test_average_precision_matches_python_replay(spark):
    """Grouped AP on the integer precision grid + the exact MAP fold,
    replayed in pure Python."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_eval import _AP_SCALE

    sf = "/root/testdata/sf0.001"
    units = duckdb.connect().execute(
        "SELECT isodow(CAST(ts AS DATE)), user_id, CAST(ts AS DATE), "
        " SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END), "
        " MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
        f"FROM read_parquet('{sf}/events.parquet') GROUP BY 1, 2, 3"
    ).fetchall()
    per_dow = {}
    for dow, uid, day, score, label in units:
        per_dow.setdefault(dow, []).append((-score, uid, day, label))
    want = {}
    map_u = 0
    n_groups = 0
    for dow, rows in per_dow.items():
        rows.sort()
        cum = 0
        ap_u = 0
        for k, (_, _, _, label) in enumerate(rows, start=1):
            cum += label
            if label == 1:
                ap_u += (cum * _AP_SCALE) // k
        n_pos = cum
        if n_pos == 0:
            continue
        n_groups += 1
        map_u += ap_u // n_pos
        want[dow] = (len(rows), n_pos, round(ap_u * 1.0 / n_pos / _AP_SCALE, 6))
    got = {
        r.dow: r
        for r in registry()["ml_average_precision"].fn(spark, sf).collect()
    }
    assert set(got) == set(want)
    for dow, (n_units, n_pos, ap) in want.items():
        g = got[dow]
        assert (g.n_units, g.n_pos) == (n_units, n_pos)
        assert abs(g.ap - ap) < 1e-9
        assert g.n_groups == n_groups
        assert abs(g.mean_ap - round(map_u * 1.0 / n_groups / _AP_SCALE, 6)) < 1e-9


def test_amihud_matches_python_replay(spark):
    """Amihud illiquidity replayed in pure Python over per-day
    (close, dollar-volume) reduces on the integer ratio grid."""
    import duckdb
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import _AMIHUD_SCALE

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT event_type, CAST(date_trunc('day', ts) AS DATE), "
        "CAST(ROUND(value*100,0) AS BIGINT), epoch_us(ts), event_id "
        f"FROM read_parquet('{sf}/events.parquet') "
        "WHERE event_type IN ('view','purchase')"
    ).fetchall()
    daily = {}
    for et, day, c, us, eid in rows:
        k = (et, day)
        close, best, dv = daily.get(k, (None, None, 0))
        ok = (us, eid)
        if best is None or ok > best:
            close, best = c, ok
        daily[k] = (close, best, dv + c)
    got = {
        r.event_type: (r.n_days, r.illiq_u, r.illiq_x1e6)
        for r in registry()["events_amihud_illiquidity"].fn(spark, sf).collect()
    }
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in daily if t == et)
        ilns = {d: round(m.log(daily[(et, d)][0]) * 1e8) for d in days}
        us = []
        for i in range(1, len(days)):
            dv = daily[(et, days[i])][2]
            if dv > 0:
                us.append(abs(ilns[days[i]] - ilns[days[i - 1]]) * _AMIHUD_SCALE // dv)
        n, tot = len(us), sum(us)
        assert got[et][0] == n and got[et][1] == tot
        assert abs(got[et][2] - round(tot * 1.0 / n / 1e12, 8)) < 1e-12


def test_grubbs_matches_python_replay(spark):
    """Grubbs G and the deterministic suspect point replayed in pure
    Python via the integer |n*x - s| argmax device."""
    import duckdb
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT event_type, CAST(ROUND(value*100,0) AS BIGINT) "
        f"FROM read_parquet('{sf}/events.parquet')"
    ).fetchall()
    groups = {}
    for g, c in rows:
        groups.setdefault(g, []).append(c)
    got = {
        r.event_type: r
        for r in registry()["stats_grubbs_outlier"].fn(spark, sf).collect()
    }
    for g, xs in groups.items():
        n, s, q = len(xs), sum(xs), sum(x * x for x in xs)
        rad = n * q - s * s
        if not (n > 2 and rad > 0):
            assert g not in got
            continue
        suspect = max(xs, key=lambda x: (abs(n * x - s), x))
        gstat = (abs(n * suspect - s) / n) / m.sqrt(rad / (n * float(n - 1)))
        r = got[g]
        assert r.n == n
        assert abs(r.mean_val - m.floor(s / n / 100.0 * 1e6 + 0.5) / 1e6) < 1e-12
        assert abs(r.suspect_val - suspect / 100.0) < 1e-9
        assert abs(r.g_stat - round(gstat, 6)) < 1e-6


def test_dbscan_matches_python_replay(spark):
    """Grid-blocked DBSCAN replayed in pure Python: md5 coords,
    exact eps-neighborhoods, union-find clusters over core-core
    edges, min-label border attachment."""
    import duckdb
    import hashlib

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_geo import (
        _DB_EPS2,
        _DB_MINPTS,
        _DB_TOP,
        _PLANE,
    )

    sf = "/root/testdata/sf0.001"
    keys = [
        r[0]
        for r in duckdb.connect().execute(
            f"SELECT c_custkey FROM read_parquet('{sf}/customer.parquet')"
        ).fetchall()
    ]

    def coord(tag, k):
        return int(hashlib.md5(f"{tag}|{k}".encode()).hexdigest()[:8], 16) % _PLANE

    pts = {k: (coord("gx", k), coord("gy", k)) for k in keys}
    neigh = {k: set() for k in keys}
    ks = sorted(keys)
    for i, a in enumerate(ks):
        ax, ay = pts[a]
        for b in ks[i + 1 :]:
            bx, by = pts[b]
            if (ax - bx) ** 2 + (ay - by) ** 2 <= _DB_EPS2:
                neigh[a].add(b)
                neigh[b].add(a)
    core = {k for k in ks if len(neigh[k]) >= _DB_MINPTS - 1}
    parent = {k: k for k in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in core:
        for b in neigh[a]:
            if b in core:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp = {k: find(k) for k in core}
    # canonical min-id labels
    lab = {}
    for k, r in comp.items():
        lab.setdefault(r, min(k2 for k2, r2 in comp.items() if r2 == r))
    cluster = {k: lab[r] for k, r in comp.items()}
    border = {}
    for k in ks:
        if k in core:
            continue
        cand = [cluster[b] for b in neigh[k] if b in core]
        if cand:
            border[k] = min(cand)
    summary = {}
    for k, c in cluster.items():
        nc, nb = summary.get(c, (0, 0))
        summary[c] = (nc + 1, nb)
    for k, c in border.items():
        nc, nb = summary.get(c, (0, 0))
        summary[c] = (nc, nb + 1)
    n_noise = len(ks) - len(cluster) - len(border)
    n_clusters = len(summary)
    want = sorted(
        ((c, nc, nb, nc + nb) for c, (nc, nb) in summary.items()),
        key=lambda r: (-r[3], r[0]),
    )[:_DB_TOP]
    got = registry()["geo_dbscan_grid"].fn(spark, sf).collect()
    assert len(got) == len(want)
    for g, (c, nc, nb, nt) in zip(got, want):
        assert (g.cluster, g.n_core, g.n_border, g.n_total) == (c, nc, nb, nt)
        assert g.n_clusters == n_clusters and g.n_noise == n_noise
    assert n_clusters > 1 and n_noise > 0  # the fixture is non-degenerate


def test_dbscan_dense_matches_plain_union_find(spark):
    """DENSE regime: at sf0.01 the plane is one large percolation
    component (every point core), so replay it in Python with a
    union-find over the raw core-core eps-pairs and assert the query's
    clusters/labels are identical. sf0.001 (sparse, real border+noise)
    is covered by test_dbscan_matches_python_replay above; together
    the two pins bracket both regimes."""
    import duckdb
    import hashlib

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_geo import (
        _CELL,
        _DB_EPS2,
        _DB_MINPTS,
        _DB_TOP,
        _PLANE,
    )

    sf = "/root/testdata/sf0.01"
    keys = [
        r[0]
        for r in duckdb.connect().execute(
            f"SELECT c_custkey FROM read_parquet('{sf}/customer.parquet')"
        ).fetchall()
    ]

    def coord(tag, k):
        return int(hashlib.md5(f"{tag}|{k}".encode()).hexdigest()[:8], 16) % _PLANE

    pts = {k: (coord("gx", k), coord("gy", k)) for k in keys}
    # grid-blocked neighborhoods (the engine's own candidate contract:
    # only the 3x3 cell ring is reachable)
    from collections import defaultdict

    by_cell = defaultdict(list)
    for k, (x, y) in pts.items():
        by_cell[(x // _CELL, y // _CELL)].append(k)
    neigh = {k: set() for k in keys}
    for (cx, cy), ids in by_cell.items():
        for dx in (0, 1):
            for dy in ((-1, 0, 1) if dx else (0, 1)):
                for b in by_cell.get((cx + dx, cy + dy), []):
                    for a in ids:
                        if a >= b and (dx, dy) == (0, 0):
                            continue
                        ax, ay = pts[a]
                        bx, by_ = pts[b]
                        if (ax - bx) ** 2 + (ay - by_) ** 2 <= _DB_EPS2:
                            neigh[a].add(b)
                            neigh[b].add(a)
    core = {k for k in keys if len(neigh[k]) >= _DB_MINPTS - 1}
    parent = {k: k for k in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in core:
        for b in neigh[a]:
            if b in core:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp_root = {k: find(k) for k in core}
    roots = set(comp_root.values())
    lab = {r: min(k for k, rr in comp_root.items() if rr == r) for r in roots}
    cluster = {k: lab[r] for k, r in comp_root.items()}
    border = {}
    for k in keys:
        if k in core:
            continue
        cand = [cluster[b] for b in neigh[k] if b in core]
        if cand:
            border[k] = min(cand)
    summary = {}
    for k, c in cluster.items():
        nc, nb = summary.get(c, (0, 0))
        summary[c] = (nc + 1, nb)
    for k, c in border.items():
        nc, nb = summary.get(c, (0, 0))
        summary[c] = (nc, nb + 1)
    n_noise = len(keys) - len(cluster) - len(border)
    n_clusters = len(summary)
    want = sorted(
        ((c, nc, nb, nc + nb) for c, (nc, nb) in summary.items()),
        key=lambda r: (-r[3], r[0]),
    )[:_DB_TOP]
    got = registry()["geo_dbscan_grid"].fn(spark, sf).collect()
    assert len(got) == len(want)
    for g, (c, nc, nb, nt) in zip(got, want):
        assert (g.cluster, g.n_core, g.n_border, g.n_total) == (c, nc, nb, nt)
        assert g.n_clusters == n_clusters and g.n_noise == n_noise


def test_frac_diff_matches_python_replay(spark):
    """FFD(d=0.5) fixed-width dot product replayed in pure Python with
    the identical binomial-weight chain."""
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import (
        _FD_LAGS,
        _fd_weights,
    )

    closes = _daily_closes_py()
    ws = _fd_weights()
    got = {
        (r.event_type, r.day): r.frac_diff
        for r in registry()["events_frac_diff"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    n_checked = 0
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in closes if t == et)
        xs = [round(m.log(closes[(et, d)]) * 1e8) for d in days]
        for t_i in range(_FD_LAGS - 1, len(xs)):
            fd = None
            for k, wk in enumerate(ws):
                term = float(xs[t_i - k]) * wk
                fd = term if fd is None else fd + term
            want = (
                m.floor(fd / 1e8 * 1e8 + 0.5) / 1e8
                if fd >= 0
                else -(m.floor(-(fd / 1e8) * 1e8 + 0.5) / 1e8)
            )
            assert abs(got[(et, days[t_i])] - want) < 1e-12
            n_checked += 1
    assert n_checked == len(got) > 0


def test_kyle_lambda_matches_python_replay(spark):
    """Tick-rule signed daily flow + integer-moment regression slope
    replayed in pure Python."""
    import duckdb
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT event_type, CAST(ROUND(value*100,0) AS BIGINT), "
        "CAST(date_trunc('day', ts) AS DATE), epoch_us(ts), event_id "
        f"FROM read_parquet('{sf}/events.parquet') "
        "WHERE event_type IN ('view','purchase')"
    ).fetchall()
    got = {
        r.event_type: r
        for r in registry()["events_kyle_lambda"].fn(spark, sf).collect()
    }
    for et in ("view", "purchase"):
        ticks = sorted(
            ((us, eid), c, day) for t, c, day, us, eid in rows if t == et
        )
        q = {}
        close = {}
        sgn = 1
        prev = None
        for ok, c, day in ticks:
            if prev is not None and c != prev:
                sgn = 1 if c > prev else -1
            prev = c
            q[day] = q.get(day, 0) + sgn * c
            close[day] = c  # ticks sorted by ordkey: last write wins
        days = sorted(q)
        ilns = {d: round(m.log(close[d]) * 1e8) for d in days}
        pts = [
            (q[days[i]], ilns[days[i]] - ilns[days[i - 1]])
            for i in range(1, len(days))
        ]
        n = len(pts)
        sq = sum(p[0] for p in pts)
        sr = sum(p[1] for p in pts)
        sqr = sum(p[0] * p[1] for p in pts)
        sqq = sum(p[0] * p[0] for p in pts)
        srr = sum(p[1] * p[1] for p in pts)
        num, dq, dr = n * sqr - sq * sr, n * sqq - sq * sq, n * srr - sr * sr
        g = got[et]
        assert g.n_days == n
        assert abs(g.kyle_lambda - round(num / dq, 6)) < 1e-6
        assert abs(g.flow_ret_corr - round(num / m.sqrt(dq * float(dr)), 6)) < 1e-9


def test_jarque_bera_matches_python_replay(spark):
    """JB statistic replayed in pure Python from exact power sums with
    the identical central-moment chain."""
    import duckdb
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT event_type, CAST(ROUND(value, 0) AS BIGINT) "
        f"FROM read_parquet('{sf}/events.parquet')"
    ).fetchall()
    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    got = {
        r.event_type: r
        for r in registry()["stats_jarque_bera"].fn(spark, sf).collect()
    }
    for g, xs in groups.items():
        n = len(xs)
        s1 = sum(xs)
        s2 = sum(v * v for v in xs)
        s3 = sum(v**3 for v in xs)
        s4 = sum(v**4 for v in xs)
        mu, r2, r3, r4 = s1 / n, s2 / n, s3 / n, s4 / n
        m2 = r2 - mu * mu
        m3 = r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu
        m4 = r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu
        skew = m3 / m.sqrt(m2 * m2 * m2)
        kurt = m4 / (m2 * m2)
        jb = n / 6.0 * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0)
        r = got[g]
        assert r.n == n
        assert abs(r.skewness - round(skew, 6)) < 1e-9
        assert abs(r.kurtosis - round(kurt, 6)) < 1e-9
        assert abs(r.jb_stat - round(jb, 4)) < 1e-6


def test_lift_gains_matches_python_replay(spark):
    """Decile lift/gains replayed in pure Python with the same ntile
    remainder rule (earlier buckets get the extra rows)."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_eval import _LIFT_BUCKETS

    sf = "/root/testdata/sf0.001"
    units = duckdb.connect().execute(
        "SELECT user_id, CAST(ts AS DATE), "
        " SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END), "
        " MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
        f"FROM read_parquet('{sf}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    rows = sorted((-s, u, d, lab) for u, d, s, lab in units)
    n = len(rows)
    base, extra = divmod(n, _LIFT_BUCKETS)
    per = {}
    i = 0
    for dec in range(1, _LIFT_BUCKETS + 1):
        size = base + (1 if dec <= extra else 0)
        chunk = rows[i : i + size]
        i += size
        per[dec] = (len(chunk), sum(r[3] for r in chunk))
    n_total = sum(v[0] for v in per.values())
    pos_total = sum(v[1] for v in per.values())
    got = {r.decile: r for r in registry()["ml_lift_gains"].fn(spark, sf).collect()}
    cum = 0
    for dec in range(1, _LIFT_BUCKETS + 1):
        nd, pd = per[dec]
        cum += pd
        g = got[dec]
        assert (g.n, g.n_pos) == (nd, pd)
        assert abs(g.response_rate - round(pd / nd, 6)) < 1e-9
        assert abs(g.lift - round(pd * n_total / (nd * pos_total), 6)) < 1e-9
        assert abs(g.cum_gain - round(cum / pos_total, 6)) < 1e-9
    # the table is non-degenerate (the synthetic score is in fact
    # ANTI-predictive — low-activity user-days are purchase-only days —
    # which is itself signal; direction is the analyst's call)
    lifts = [got[d].lift for d in range(1, _LIFT_BUCKETS + 1)]
    assert max(lifts) > 1.0 > min(lifts)


def test_cross_correlation_matches_python_replay(spark):
    """Lead-lag CCF replayed in pure Python from the aligned
    integer-ln-grid return series."""
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import _CCF_MAX_LAG

    closes = _daily_closes_py()
    series = {}
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in closes if t == et)
        ilns = [round(m.log(closes[(et, d)]) * 1e8) for d in days]
        series[et] = {
            days[i]: ilns[i] - ilns[i - 1] for i in range(1, len(days))
        }
    common = sorted(set(series["view"]) & set(series["purchase"]))
    rv = [series["view"][d] for d in common]
    rp = [series["purchase"][d] for d in common]
    got = {
        r.lag: (r.n_pairs, r.ccf)
        for r in registry()["events_cross_correlation"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for lg in range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1):
        pts = [
            (rv[t], rp[t + lg])
            for t in range(len(common))
            if 0 <= t + lg < len(common)
        ]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        syy = sum(y * y for _, y in pts)
        dx, dy = n * sxx - sx * sx, n * syy - sy * sy
        if not (dx > 0 and dy > 0):
            assert lg not in got
            continue
        ccf = (n * sxy - sx * sy) / m.sqrt(dx * float(dy))
        assert got[lg][0] == n
        assert abs(got[lg][1] - round(ccf, 6)) < 1e-9
    assert len(got) == 2 * _CCF_MAX_LAG + 1


def test_ulcer_index_matches_python_replay(spark):
    """Ulcer index replayed in pure Python on the integer drawdown
    grid over replayed daily closes."""
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry

    closes = _daily_closes_py()
    got = {
        r.event_type: r
        for r in registry()["events_ulcer_index"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in closes if t == et)
        peak = 0
        dds = []
        for d in days:
            c = closes[(et, d)]
            peak = max(peak, c)
            if peak > 0:
                dds.append(((peak - c) * 1000000) // peak)
        g = got[et]
        assert g.n_days == len(dds)
        assert g.max_dd_u == max(dds)
        assert abs(g.max_drawdown_pct - round(max(dds) / 10000.0, 4)) < 1e-9
        ui = m.sqrt(sum(v * v for v in dds) / len(dds)) / 10000.0
        assert abs(g.ulcer_pct - round(ui, 6)) < 1e-9
        assert g.max_dd_u > 0  # the fixture draws down somewhere


def test_two_hop_reach_matches_python_replay(spark):
    """Friends-of-friends reach replayed in pure Python over the same
    capped similarity graph as the clustering-coefficient replay."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_profile import (
        _REACH_TOP,
        _TRI_MAX_DEGREE,
    )

    sf = "/root/testdata/sf0.001"
    parts = duckdb.connect().execute(
        f"SELECT p_partkey, p_name FROM read_parquet('{sf}/part.parquet')"
    ).fetchall()

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    blocks = {}
    for k, name in parts:
        blocks.setdefault((name.split(" ")[0], len(name) // 4), []).append((k, name))
    raw = set()
    for members in blocks.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                if lev(members[i][1], members[j][1]) <= 3:
                    raw.add((members[i][0], members[j][0]))
    deg0 = {}
    for a, b in raw:
        deg0[a] = deg0.get(a, 0) + 1
        deg0[b] = deg0.get(b, 0) + 1
    ok = {n for n, d in deg0.items() if d <= _TRI_MAX_DEGREE}
    adj = {}
    for a, b in raw:
        if a in ok and b in ok:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = []
    for v, ns in adj.items():
        two = set()
        for u in ns:
            two |= adj[u]
        two -= ns
        two.discard(v)
        want.append((v, len(ns), len(two)))
    want.sort(key=lambda r: (-r[2], r[0]))
    got = registry()["graph_two_hop_reach"].fn(spark, sf).collect()
    assert len(got) == min(_REACH_TOP, len(want))
    for g, (v, n1, n2) in zip(got, want[: len(got)]):
        assert (g.node, g.n_1hop, g.n_2hop) == (v, n1, n2)
        assert abs(g.amplification - round(n2 / n1, 6)) < 1e-9


def test_wilcoxon_signed_rank_matches_python_replay(spark):
    """W+ / W- / z replayed in pure Python with tie-averaged ranks on
    the doubled-integer device."""
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry

    closes = _daily_closes_py()
    days = sorted(
        d for (t, d) in closes if t == "view" and ("purchase", d) in closes
    )
    ds = [
        closes[("view", d)] - closes[("purchase", d)]
        for d in days
        if closes[("view", d)] != closes[("purchase", d)]
    ]
    srt = sorted(abs(d) for d in ds)
    # tie-averaged rank of |d|, doubled: 2a = 2r - 1 + t
    first = {}
    count = {}
    for i, ad in enumerate(srt, start=1):
        first.setdefault(ad, i)
        count[ad] = count.get(ad, 0) + 1
    w2p = sum(
        2 * first[abs(d)] - 1 + count[abs(d)] for d in ds if d > 0
    )
    w2m = sum(
        2 * first[abs(d)] - 1 + count[abs(d)] for d in ds if d < 0
    )
    n = len(ds)
    n_tied = sum(1 for d in ds if count[abs(d)] > 1)
    wp = w2p / 2.0
    z = (wp - n * (n + 1.0) / 4.0) / m.sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0)
    g = registry()["stats_wilcoxon_signed_rank"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert g.n_pairs == n and g.n_tied == n_tied
    assert abs(g.w_plus - round(wp, 1)) < 1e-9
    assert abs(g.w_minus - round(w2m / 2.0, 1)) < 1e-9
    assert abs(g.z_approx - round(z, 6)) < 1e-9
    # rank-sum identity: W+ + W- = n(n+1)/2
    assert w2p + w2m == n * (n + 1)


def test_trimmed_mean_matches_python_replay(spark):
    """10% positional trim replayed in pure Python per group."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT event_type, CAST(ROUND(value*100,0) AS BIGINT) "
        f"FROM read_parquet('{sf}/events.parquet')"
    ).fetchall()
    groups = {}
    for g, c in rows:
        groups.setdefault(g, []).append(c)
    got = {
        r.event_type: r
        for r in registry()["agg_trimmed_mean"].fn(spark, sf).collect()
    }
    for g, xs in groups.items():
        xs.sort()
        n = len(xs)
        k = n // 10
        kept = xs[k : n - k]
        tm = sum(kept) / len(kept) / 100.0
        fm = sum(xs) / n / 100.0
        r = got[g]
        assert (r.n, r.n_trimmed_each, r.n_kept) == (n, k, len(kept))
        assert abs(r.trimmed_mean - round(tm, 6)) < 1e-6
        assert abs(r.shift_vs_mean - round(tm - fm, 6)) < 1e-6


def test_kendall_tau_matches_python_replay(spark):
    """tau-b replayed in pure Python over the aligned return series."""
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry

    closes = _daily_closes_py()
    series = {}
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in closes if t == et)
        ilns = [round(m.log(closes[(et, d)]) * 1e8) for d in days]
        series[et] = {days[i]: ilns[i] - ilns[i - 1] for i in range(1, len(days))}
    common = sorted(set(series["view"]) & set(series["purchase"]))
    xs = [series["view"][d] for d in common]
    ys = [series["purchase"][d] for d in common]
    C = D = Tx = Ty = 0
    n = len(common)
    for i in range(n):
        for j in range(i + 1, n):
            cx = (xs[i] > xs[j]) - (xs[i] < xs[j])
            cy = (ys[i] > ys[j]) - (ys[i] < ys[j])
            if cx * cy == 1:
                C += 1
            elif cx * cy == -1:
                D += 1
            elif cx == 0 and cy != 0:
                Tx += 1
            elif cy == 0 and cx != 0:
                Ty += 1
    tau = (C - D) / m.sqrt((C + D + Tx) * float(C + D + Ty))
    g = registry()["events_kendall_tau"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert (g.n_pairs, g.c, g.d, g.tx, g.ty) == (n * (n - 1) // 2, C, D, Tx, Ty)
    assert abs(g.tau_b - round(tau, 6)) < 1e-9


def test_beyond_accuracy_consistent_with_topn(spark):
    """ILD/coverage recomputed in pure Python from the (already
    oracle-verified) rec_user_topn output."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    recs = {}
    for r in registry()["rec_user_topn"].fn(spark, sf).collect():
        recs.setdefault(r.user_id, []).append(r.item)
    ild_us = []
    for items in recs.values():
        pairs = [
            (a, b) for i, a in enumerate(items) for b in items[i + 1 :]
        ]
        pairs = [(min(a, b), max(a, b)) for a, b in pairs]
        if not pairs:
            continue
        diff = sum(1 for a, b in pairs if a[6] != b[6])
        ild_us.append((diff * 1000000) // len(pairs))
    n_users = len(ild_us)
    avg_ild = sum(ild_us) / n_users / 1e6
    n_rec = len({i for items in recs.values() for i in items})
    g = registry()["rec_beyond_accuracy"].fn(spark, sf).collect()[0]
    assert g.n_users == n_users
    assert abs(g.avg_ild - round(avg_ild, 6)) < 1e-9
    assert g.n_items_recommended == n_rec
    assert g.n_items_catalog == 25
    assert abs(g.coverage - round(n_rec / 25, 6)) < 1e-9


def test_friedman_matches_python_replay(spark):
    """Friedman chi2 replayed in pure Python with tie-averaged
    within-block ranks over per-(type, day) means."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT event_type, CAST(date_trunc('day', ts) AS DATE), "
        "CAST(ROUND(value*100,0) AS BIGINT) "
        f"FROM read_parquet('{sf}/events.parquet')"
    ).fetchall()
    cells = {}
    for g, day, c in rows:
        s, n = cells.get((g, day), (0, 0))
        cells[(g, day)] = (s + c, n + 1)
    days = {}
    for (g, day), (s, n) in cells.items():
        days.setdefault(day, []).append((g, s / n))
    r2sum = {}
    n_blocks = 0
    for day, pairs in days.items():
        if len(pairs) != 5:
            continue
        n_blocks += 1
        vals = sorted(v for _, v in pairs)
        first = {}
        count = {}
        for i, v in enumerate(vals, start=1):
            first.setdefault(v, i)
            count[v] = count.get(v, 0) + 1
        for g, v in pairs:
            r2sum[g] = r2sum.get(g, 0) + 2 * first[v] - 1 + count[v]
    k = 5.0
    n = float(n_blocks)
    rr = sum((v / 2.0) * (v / 2.0) for v in r2sum.values())
    chi2 = 12.0 / (n * k * (k + 1.0)) * rr - 3.0 * n * (k + 1.0)
    g = registry()["stats_friedman"].fn(spark, sf).collect()[0]
    assert g.n_blocks == n_blocks and g.k == 5
    assert abs(g.friedman_chi2 - round(chi2, 4)) < 1e-6


def test_mcc_matches_python_replay(spark):
    """Confusion cells + MCC replayed in pure Python."""
    import duckdb
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_eval import _MCC_THRESHOLD

    sf = "/root/testdata/sf0.001"
    units = duckdb.connect().execute(
        "SELECT SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END), "
        " MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
        f"FROM read_parquet('{sf}/events.parquet') "
        "GROUP BY user_id, CAST(ts AS DATE)"
    ).fetchall()
    tp = fp = fn = tn = 0
    for score, label in units:
        if score < _MCC_THRESHOLD:
            tp, fp = tp + (label == 1), fp + (label == 0)
        else:
            fn, tn = fn + (label == 1), tn + (label == 0)
    mcc = (tp * tn - fp * fn) / m.sqrt(
        (tp + fp) * (tp + fn) * float((tn + fp) * (tn + fn))
    )
    g = registry()["ml_mcc_confusion"].fn(spark, sf).collect()[0]
    assert (g.tp, g.fp, g.fn, g.tn) == (tp, fp, fn, tn)
    assert abs(g.accuracy - round((tp + tn) / len(units), 6)) < 1e-9
    assert abs(g.mcc - round(mcc, 6)) < 1e-9


def test_half_life_matches_python_replay(spark):
    """AR(1) rho + OU half-life replayed in pure Python over the
    replayed close spread."""
    import math as m

    from a_share_data_pipeline_spark.plans.catalog import registry

    closes = _daily_closes_py()
    days = sorted(
        d for (t, d) in closes if t == "view" and ("purchase", d) in closes
    )
    s = [closes[("view", d)] - closes[("purchase", d)] for d in days]
    pts = list(zip(s[:-1], s[1:]))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    rho = (n * sxy - sx * sy) / float(n * sxx - sx * sx)
    g = registry()["events_half_life"].fn(spark, "/root/testdata/sf0.001").collect()[0]
    assert g.n_pairs == n
    assert abs(g.ar1_rho - round(rho, 6)) < 1e-9
    if 0 < rho < 1:
        assert abs(g.half_life_days - round(-m.log(2.0) / m.log(rho), 4)) < 1e-9
    else:
        assert g.half_life_days is None


def test_ljung_box_matches_python_replay(spark):
    """Q statistic replayed in pure Python on the n-scaled centered
    integer device."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import _LB_LAGS

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT CAST(ts AS DATE) AS day, COUNT(*) FROM read_parquet("
        f"'{sf}/events.parquet') WHERE event_type = 'purchase' "
        "GROUP BY 1 ORDER BY 1"
    ).fetchall()
    xs = [c for _, c in rows]
    n = len(xs)
    s = sum(xs)
    ys = [n * x - s for x in xs]
    denom = sum(y * y for y in ys)
    g = registry()["events_ljung_box"].fn(spark, sf).collect()[0]
    assert g.n_days == n
    q = 0.0
    for k in range(1, _LB_LAGS + 1):
        num = sum(ys[t] * ys[t - k] for t in range(k, n))
        rho = num / denom
        assert abs(getattr(g, f"rho{k}") - round(rho, 6)) < 1e-9
        q = q + rho * rho / (n - float(k))
    assert abs(g.ljung_box_q - round(n * (n + 2.0) * q, 4)) < 1e-6


def test_chow_test_matches_python_replay(spark):
    """Three-regression Chow F replayed in pure Python from exact
    integer moments."""
    import datetime

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import _CHOW_BREAK

    closes = _daily_closes_py()
    days = sorted(d for (t, d) in closes if t == "view")
    pts = [(i + 1, closes[("view", d)], d) for i, d in enumerate(days)]
    brk = datetime.date.fromisoformat(_CHOW_BREAK)

    def ssr(sub):
        n = len(sub)
        sx = sum(t for t, _, _ in sub)
        sy = sum(c for _, c, _ in sub)
        sxy = sum(t * c for t, c, _ in sub)
        sxx = sum(t * t for t, _, _ in sub)
        syy = sum(c * c for _, c, _ in sub)
        num = float(n * sxy - sx * sy)
        return (float(n * syy - sy * sy) - num * num / float(n * sxx - sx * sx)) / n

    s_p = ssr(pts)
    s_1 = ssr([p for p in pts if p[2] < brk])
    s_2 = ssr([p for p in pts if p[2] >= brk])
    n = len(pts)
    f = ((s_p - (s_1 + s_2)) / 2.0) / ((s_1 + s_2) / (n - 4.0))
    g = registry()["events_chow_test"].fn(spark, "/root/testdata/sf0.001").collect()[0]
    assert g.n_days == n
    assert abs(g.ssr_pooled - round(s_p / 10000.0, 4)) < 1e-6
    assert abs(g.ssr_split - round((s_1 + s_2) / 10000.0, 4)) < 1e-6
    assert abs(g.chow_f - round(f, 4)) < 1e-6


def test_underwater_duration_matches_python_replay(spark):
    """Below-peak spell lengths replayed in pure Python."""
    from a_share_data_pipeline_spark.plans.catalog import registry

    closes = _daily_closes_py()
    got = {
        r.event_type: r
        for r in registry()["events_underwater_duration"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for et in ("view", "purchase"):
        days = sorted(d for (t, d) in closes if t == et)
        peak = 0
        spells = []
        cur_len = 0
        cur_start = None
        first = None
        for d in days:
            c = closes[(et, d)]
            peak = max(peak, c)
            if c < peak:
                if cur_len == 0:
                    cur_start = d
                cur_len += 1
                if first is None:
                    first = d
            else:
                if cur_len:
                    spells.append(cur_len)
                cur_len = 0
        if cur_len:
            spells.append(cur_len)
        g = got[et]
        assert g.n_spells == len(spells)
        assert g.max_underwater_days == max(spells)
        assert g.total_underwater_days == sum(spells)
        assert g.first_underwater_day == first


def test_dsir_importance_matches_python_replay(spark):
    """DSIR hashed-bigram importance weights replayed in pure Python
    (Counter models + math.log on the 1e-8 integer grid)."""
    import duckdb
    import hashlib
    import math
    from collections import Counter

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_curation import (
        _DSIR_BUCKETS,
        _DSIR_TARGET_LANG,
        _DSIR_TOP,
    )

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        f"SELECT doc_id, lang, text FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall()

    def iln8(x: int) -> int:
        return math.floor(math.log(x) * 1e8 + 0.5)

    ct, cr = Counter(), Counter()
    per_doc = {}
    lang_of = {}
    for doc_id, lang, text in rows:
        toks = text.split(" ")
        lang_of[doc_id] = lang
        if len(toks) < 2:
            continue
        c = Counter(
            int(hashlib.md5(f"{a}|{b}".encode()).hexdigest()[:8], 16)
            % _DSIR_BUCKETS
            for a, b in zip(toks, toks[1:])
        )
        per_doc[doc_id] = c
        (ct if lang == _DSIR_TARGET_LANG else cr).update(c)
    t_tot, r_tot = sum(ct.values()), sum(cr.values())
    wgt = {
        f: iln8(ct[f] + 1)
        - iln8(t_tot + _DSIR_BUCKETS)
        - iln8(cr[f] + 1)
        + iln8(r_tot + _DSIR_BUCKETS)
        for f in set(ct) | set(cr)
    }
    scores = {
        d: sum(n * wgt[f] for f, n in c.items()) for d, c in per_doc.items()
    }
    top = sorted(scores, key=lambda d: (-scores[d], d))[:_DSIR_TOP]
    got = registry()["curation_dsir_importance"].fn(spark, sf).collect()
    assert [r.doc_id for r in got] == top
    for r in got:
        assert r.lang == lang_of[r.doc_id]
        assert r.n_bigrams == sum(per_doc[r.doc_id].values())
        # emit rounding is dround (floor(x*1e6+0.5)) of an exact ratio
        want = scores[r.doc_id] / 1e8
        assert abs(r.dsir_weight - want) < 1e-6
    # the target slice should score higher on average than the raw
    # slice (the models were fit to separate exactly these two)
    t_scores = [s for d, s in scores.items() if lang_of[d] == _DSIR_TARGET_LANG]
    r_scores = [s for d, s in scores.items() if lang_of[d] != _DSIR_TARGET_LANG]
    assert sum(t_scores) / len(t_scores) > sum(r_scores) / len(r_scores)


def test_bottom_k_merge_equals_global_bottom_k(spark):
    """Per-shard bottom-k sketches merged == one-shot global bottom-k
    (the mergeability property), replayed with hashlib."""
    import duckdb
    import hashlib

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_profile import _BK_K

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        f"SELECT doc_id, source FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    pri = {d: hashlib.md5(f"bk|{d}".encode()).hexdigest() for d, _ in rows}
    want = sorted(rows, key=lambda r: (pri[r[0]], r[0]))[:_BK_K]
    got = registry()["sample_bottom_k_merge"].fn(spark, sf).collect()
    assert [(r.doc_id, r.source) for r in got] == want
    assert [r.rank for r in got] == list(range(1, len(want) + 1))


def test_l_diversity_matches_python_replay(spark):
    """Entropy / recursive (c,l)-diversity replayed with Counter +
    math.log on the integer grid."""
    import duckdb
    import math
    from collections import Counter

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT c_nationkey, c_mktsegment, CAST(floor(c_acctbal/1000) AS BIGINT) "
        f"FROM read_parquet('{sf}/customer.parquet')"
    ).fetchall()
    classes = {}
    for nk, seg, sv in rows:
        classes.setdefault((nk, seg), Counter())[sv] += 1

    def iln8(x: int) -> int:
        return math.floor(math.log(x) * 1e8 + 0.5)

    got = {
        (r.c_nationkey, r.c_mktsegment): r
        for r in registry()["privacy_l_diversity"].fn(spark, sf).collect()
    }
    assert set(got) == set(classes)
    for key, cnt in classes.items():
        n = sum(cnt.values())
        r1 = max(cnt.values())
        hs = n * iln8(n) - sum(c * iln8(c) for c in cnt.values())
        r = got[key]
        assert (r.n, r.distinct_l, r.r1) == (n, len(cnt), r1)
        assert abs(r.entropy - hs / (n * 1e8)) < 1e-6
        assert r.entropy_l2_ok == (hs >= n * 69314718)
        assert r.recursive_c2_ok == (r1 < 2 * (n - r1))


def test_holt_winters_matches_python_replay(spark):
    """The additive Holt-Winters recursion replayed in pure Python —
    same IEEE op order, so equality holds to the emit rounding."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_analytics import (
        _HW_H,
        _HW_M,
    )

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT event_type, date_trunc('day', ts)::DATE AS day, "
        "SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS cents "
        f"FROM read_parquet('{sf}/events.parquet') "
        "WHERE event_type IN ('view','purchase') GROUP BY 1,2 ORDER BY 1,2"
    ).fetchall()
    series = {}
    for et, _, cents in rows:
        series.setdefault(et, []).append(cents)
    want = {}
    for et, cs in series.items():
        if len(cs) < 2 * _HW_M + 1:
            continue
        m = _HW_M
        l = sum(cs[:m]) / (m * 100.0)
        b = (sum(cs[m:2 * m]) / (m * 100.0) - sum(cs[:m]) / (m * 100.0)) / float(m)
        s = [c / 100.0 - sum(cs[:m]) / (m * 100.0) for c in cs[:m]]
        for c in cs[m:]:
            y = c / 100.0
            l_new = 0.2 * (y - s[0]) + 0.8 * (l + b)
            b_new = 0.1 * ((0.2 * (y - s[0]) + 0.8 * (l + b)) - l) + 0.9 * b
            s_new = 0.3 * (y - (0.2 * (y - s[0]) + 0.8 * (l + b))) + 0.7 * s[0]
            s = s[1:] + [s_new]
            l, b = l_new, b_new
        want[et] = (l, b, s)
    got = registry()["forecast_holt_winters"].fn(spark, sf).collect()
    assert {r.event_type for r in got} == set(want)
    assert sorted(r.horizon for r in got if r.event_type == "view") == list(
        range(1, _HW_H + 1)
    )
    for r in got:
        l, b, s = want[r.event_type]
        f = l + r.horizon * b + s[(r.horizon - 1) % _HW_M]
        assert abs(r.forecast - f) < 1e-6, (r, f)


def test_audio_vad_matches_python_replay(spark):
    """Frame energies replayed with numpy over the utf-8 payloads."""
    import duckdb
    import numpy as np

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_llm import _VAD_THRESHOLD

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    want = {}
    for did, text in rows:
        buf = np.frombuffer(text.encode(), dtype=np.uint8).astype(np.int64)
        for fi in range(4):
            fr = buf[fi * 256 : (fi + 1) * 256]
            if len(fr) == 0:
                break
            e = int(((fr - 128) ** 2).sum())
            want[(did, fi)] = (len(fr), e, e > _VAD_THRESHOLD)
    got = registry()["multimodal_audio_vad"].fn(spark, sf).collect()
    assert {(r.doc_id, r.frame_idx) for r in got} == set(want)
    for r in got:
        assert (r.n_samples, r.energy, r.voiced) == want[(r.doc_id, r.frame_idx)]
    # non-degenerate: both voiced and unvoiced frames exist
    assert 0 < sum(r.voiced for r in got) < len(got)


def test_closeness_matches_python_replay(spark):
    """Per-seed bounded BFS + harmonic micro-sum replayed in Python."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_analytics import (
        _CLOSE_HOPS,
        _CLOSE_SEEDS,
    )

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR), "
        "'s' || CAST(l_suppkey AS VARCHAR) "
        f"FROM read_parquet('{sf}/orders.parquet') o "
        f"JOIN read_parquet('{sf}/lineitem.parquet') l ON o_orderkey = l_orderkey"
    ).fetchall()
    adj = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    got = {r.seed: r for r in registry()["graph_closeness_sampled"].fn(spark, sf).collect()}
    assert set(got) == set(_CLOSE_SEEDS)
    for seed in _CLOSE_SEEDS:
        dist = {seed: 0}
        frontier = [seed]
        for d in range(1, _CLOSE_HOPS + 1):
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = d
                        nxt.append(v)
            frontier = nxt
        reached = [h for h in dist.values() if h > 0]
        r = got[seed]
        assert r.n_reached == len(reached)
        assert r.sum_hops == sum(reached)
        assert r.harmonic_micro == sum(1000000 // h for h in reached)


def test_page_hinkley_matches_python_replay(spark):
    """PH recursion replayed in pure integer Python."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import (
        _PH_DELTA,
        _PH_LAMBDA,
    )

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(f"""
      WITH d AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               arg_max(CAST(ROUND(value*100,0) AS BIGINT),
                       lpad(CAST(epoch_us(ts) AS VARCHAR),20,'0')
                       || lpad(CAST(event_id AS VARCHAR),12,'0')) AS c
        FROM read_parquet('{sf}/events.parquet')
        WHERE event_type IN ('view','purchase') GROUP BY 1,2)
      SELECT event_type, list(c ORDER BY day), list(day ORDER BY day)
      FROM d GROUP BY 1""").fetchall()
    got = {r.event_type: r for r in registry()["events_page_hinkley"].fn(spark, sf).collect()}
    assert set(got) == {et for et, _, _ in rows}
    for et, cs, days in rows:
        S = m = mn = mx = alarms = 0
        first = None
        for i, (x, day) in enumerate(zip(cs, days), 1):
            S += x
            m += x - S // i - _PH_DELTA
            mn = min(mn, m)
            ph = m - mn
            mx = max(mx, ph)
            if ph > _PH_LAMBDA:
                alarms += 1
                first = day if first is None else first
        r = got[et]
        assert (r.n_days, r.max_ph, r.n_alarm_days) == (len(cs), mx, alarms)
        want_day = first.date() if hasattr(first, "date") else first
        assert r.first_alarm_day == want_day
    # both verdicts exercised across the table at the fixture
    assert any(r.n_alarm_days > 0 for r in got.values())


def test_txn_log_time_travel_sees_pre_delete_rows(spark):
    """Replaying the transaction log only through v1 must expose b1's
    pre-delete rows and not yet the v2 rewrite — the snapshot-
    isolation property the docstring claims."""
    from urllib.parse import urlparse

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    register_out = registry()["source_txn_log_snapshot"].fn(spark, sf)
    n_latest = register_out.agg(F.sum("n")).collect()[0][0]
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    root = f"{wh}/source_txn_log_snapshot"
    log = spark.read.schema("v long, action string, file string").json(
        f"{root}/_log"
    )
    for v_as_of, expect_pred in ((0, "k % 4 IN (0, 1, 2)"), (1, "k % 4 IN (0, 2, 3)")):
        wlast = W.partitionBy("file").orderBy(F.col("v").desc())
        live = (
            log.filter(F.col("v") <= v_as_of)
            .withColumn("rn", F.row_number().over(wlast))
            .filter((F.col("rn") == 1) & (F.col("action") == "add"))
            .collect()
        )
        snap = spark.read.parquet(*[f"{root}/{r.file}" for r in live])
        import duckdb

        want = duckdb.connect().execute(
            f"SELECT COUNT(*) FROM (SELECT o_orderkey AS k FROM "
            f"read_parquet('{sf}/orders.parquet')) WHERE {expect_pred}"
        ).fetchone()[0]
        assert snap.count() == want, (v_as_of, want)
    # and the latest snapshot differs from both (the delete applied)
    assert n_latest not in (None, 0)


def test_nemenyi_matches_python_replay(spark):
    """Rank sums + CD chain replayed in Python; pins pair count and
    that significance agrees with the float chain."""
    import duckdb
    import math
    from collections import defaultdict

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(f"""
      WITH cents AS (
        SELECT event_type AS g, date_trunc('day', ts) AS day,
               CAST(ROUND(value*100,0) AS BIGINT) AS c
        FROM read_parquet('{sf}/events.parquet')),
      cell AS (SELECT g, day, SUM(c)*1.0/COUNT(*) AS m FROM cents GROUP BY 1,2),
      complete AS (SELECT day FROM cell GROUP BY day HAVING COUNT(*)=5)
      SELECT c.g, c.day, c.m FROM cell c JOIN complete USING (day)
    """).fetchall()
    by_day = defaultdict(list)
    for g, day, m in rows:
        by_day[day].append((g, m))
    r2sum = defaultdict(int)
    nb = defaultdict(int)
    for day, cells in by_day.items():
        svals = sorted(m for _, m in cells)
        for g, m in cells:
            lo = 1 + sum(1 for x in svals if x < m)
            t = sum(1 for x in svals if x == m)
            r2sum[g] += 2 * lo - 1 + t  # doubled tie-averaged rank
            nb[g] += 1
    got = registry()["stats_nemenyi_posthoc"].fn(spark, sf).collect()
    assert len(got) == 10  # C(5,2)
    for r in got:
        n = nb[r.g_a]
        diff = abs(r2sum[r.g_a] - r2sum[r.g_b]) / (2.0 * n)
        cd = 2.727774 * math.sqrt(5.0 * 6.0 / (12.0 * n))
        assert abs(r.rank_diff - diff) < 1e-6
        assert abs(r.cd - cd) < 1e-6
        assert r.significant == (diff > cd)


def test_matryoshka_matches_python_replay(spark):
    """Full vs truncated top-k overlap replayed with numpy rankings
    under the same rounded-cosine + id tie-break."""
    import duckdb
    import numpy as np

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_llm import _MRL_DIM, _MRL_K

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM read_parquet('{sf}/embeddings.parquet')"
    ).fetchall()
    vecs = {vid: np.array(v, dtype=np.float64) for vid, v in rows}

    def topk(dim):
        out = {}
        for q in [v for v in vecs if v < 8]:
            qv = vecs[q][:dim]
            scored = []
            for c, cv in vecs.items():
                if c == q:
                    continue
                cv = cv[:dim]
                cos = float(qv @ cv) / (
                    np.sqrt(float(qv @ qv)) * np.sqrt(float(cv @ cv))
                )
                scored.append((-np.floor(cos * 1e6 + 0.5) / 1e6, c))
            scored.sort()
            out[q] = {c for _, c in scored[:_MRL_K]}
        return out

    full, tr = topk(64), topk(_MRL_DIM)
    got = registry()["embedding_matryoshka_truncate"].fn(spark, sf).collect()
    assert {r.q_id for r in got} == set(full)
    for r in got:
        assert r.n_overlap == len(full[r.q_id] & tr[r.q_id]), r
        assert abs(r.recall_at_k - r.n_overlap / _MRL_K) < 1e-6
    # non-degenerate: truncation costs SOME recall but not all
    total = sum(r.n_overlap for r in got)
    assert 0 < total < _MRL_K * len(got)


def test_bloom_decontaminate_matches_exact_stage(spark):
    """The Bloom prefilter must not change the flagged-doc answer —
    compare the summary to curation_decontaminate's per-doc rows, and
    check the bitset actually prunes at the gram level."""
    from pyspark.sql import functions as F

    from a_share_data_pipeline_spark.operators import sketch as SK
    from a_share_data_pipeline_spark.operators.dedup import word_shingles_col
    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_curation import (
        _BENCH_MOD,
        _DECON_N,
    )
    from a_share_data_pipeline_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    got = registry()["curation_bloom_decontaminate"].fn(spark, sf).collect()[0]
    exact = registry()["curation_decontaminate"].fn(spark, sf).collect()
    assert got.n_flagged_docs == len(exact)
    assert got.total_hits == sum(r.n_hits for r in exact)
    # bloom prune factor at the gram level: survivors ≤ corpus grams,
    # and ≥ the exact hits (no false negatives by construction)
    docs = load_table(spark, sf, "documents")
    bench_grams = (
        docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode(word_shingles_col(_DECON_N)).alias("g"))
        .distinct()
    )
    corpus_grams = docs.filter(F.col("doc_id") % _BENCH_MOD != 0).select(
        "doc_id", F.explode(word_shingles_col(_DECON_N)).alias("g")
    )
    words = SK.bloom_build(bench_grams, "g")
    n_total = corpus_grams.count()
    n_cand = SK.bloom_might_contain(corpus_grams, "g", words).count()
    assert got.total_hits <= n_cand <= n_total
    assert got.total_corpus_grams == n_total


def test_crossmodal_retrieval_matches_python_replay(spark):
    """Hashing-trick text embedding + integer cosine rank replayed in
    Python for every query doc."""
    import duckdb
    import hashlib

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_llm import (
        _XM_DIMS,
        _XM_QUERIES,
    )

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet') "
        f"WHERE doc_id < {_XM_QUERIES}"
    ).fetchall()
    embs = con.execute(
        "SELECT vec_id, list_transform(embedding::DOUBLE[], "
        "x -> CAST(ROUND(x*1000,0) AS BIGINT)) "
        f"FROM read_parquet('{sf}/embeddings.parquet')"
    ).fetchall()

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    got = {r.doc_id: r for r in registry()["multimodal_crossmodal_retrieval"].fn(spark, sf).collect()}
    assert set(got) == {d for d, _ in docs}
    for did, text in docs:
        comp = [0] * _XM_DIMS
        for tok in text.split(" "):
            for d in range(_XM_DIMS):
                comp[d] += h(f"{tok}|{d}") % 2001 - 1000
        nq = sum(c * c for c in comp)
        scored = []
        for vid, ei in embs:
            dot = sum(c * e for c, e in zip(comp, ei))
            ne = sum(e * e for e in ei)
            cos = dot / (nq**0.5 * ne**0.5)
            import math

            scored.append((-math.floor(cos * 1e6 + 0.5) / 1e6, vid))
        scored.sort()
        rank = 1 + [v for _, v in scored].index(did)
        r = got[did]
        assert (r.true_rank, r.rr_micro) == (rank, 1000000 // rank), (did, rank)


def test_kruskal_wallis_matches_python_replay(spark):
    """KW H with tie correction replayed in Python over day cells."""
    import duckdb
    from collections import Counter

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(f"""
      WITH cents AS (
        SELECT event_type AS g, date_trunc('day', ts) AS day,
               CAST(ROUND(value*100,0) AS BIGINT) AS c
        FROM read_parquet('{sf}/events.parquet'))
      SELECT g, SUM(c)*1.0/COUNT(*) FROM cents GROUP BY g, day
    """).fetchall()
    vals = sorted(m for _, m in rows)
    r2 = {}
    for m in set(vals):
        lo = 1 + sum(1 for x in vals if x < m)
        t = sum(1 for x in vals if x == m)
        r2[m] = 2 * lo - 1 + t
    groups = {}
    for g, m in rows:
        groups.setdefault(g, []).append(m)
    n = len(rows)
    rr = sum(
        (sum(r2[m] for m in ms) / 2.0) ** 2 / len(ms) for ms in groups.values()
    )
    tc = Counter(vals)
    tsum = sum(t**3 - t for t in tc.values() if t > 1)
    h = (12.0 / (n * (n + 1.0)) * rr - 3.0 * (n + 1.0)) / (
        1.0 - tsum / (float(n) ** 3 - n)
    )
    r = registry()["stats_kruskal_wallis"].fn(spark, sf).collect()[0]
    assert (r.n_cells, r.k, r.tie_term) == (n, len(groups), tsum)
    assert abs(r.kw_h - h) < 1e-3


def test_shapley_attribution_efficiency_axiom(spark):
    """Σ φ_c == v(all channels) — the Shapley efficiency axiom — plus
    a full Python replay of the coalition algebra."""
    import duckdb
    from collections import Counter
    from itertools import combinations
    from math import factorial

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_market import (
        _SHAP_LOOKBACK_DAYS,
        _SHAP_N_CH,
    )

    sf = "/root/testdata/sf0.001"
    masks = duckdb.connect().execute(f"""
      WITH c AS (SELECT event_id, user_id, ts, event_id % {_SHAP_N_CH} AS ch
                 FROM read_parquet('{sf}/events.parquet') WHERE event_type='click'),
      p AS (SELECT event_id p_id, user_id, ts p_ts
            FROM read_parquet('{sf}/events.parquet') WHERE event_type='purchase')
      SELECT BIT_OR(1 << c.ch) FROM p JOIN c ON c.user_id = p.user_id
        AND c.ts <= p.p_ts AND c.ts >= p.p_ts - INTERVAL {_SHAP_LOOKBACK_DAYS} DAY
      GROUP BY p.p_id
    """).fetchall()
    mc = Counter(m for (m,) in masks)

    def v(S):
        sm = sum(1 << ch for ch in S)
        return sum(n for m, n in mc.items() if m & ~sm & 15 == 0)

    got = {r.channel: r for r in registry()["events_shapley_attribution"].fn(spark, sf).collect()}
    phis = {}
    for ch in range(_SHAP_N_CH):
        others = [x for x in range(_SHAP_N_CH) if x != ch]
        p24 = 0
        for size in range(_SHAP_N_CH):
            for S in combinations(others, size):
                w = factorial(size) * factorial(_SHAP_N_CH - size - 1)
                p24 += w * (v(S + (ch,)) - v(S))
        phis[ch] = p24
        assert got[ch].shapley_x24 == p24
        assert got[ch].credit_micro == (p24 * 1000000) // 24
    assert sum(phis.values()) == 24 * v(tuple(range(_SHAP_N_CH)))


def test_proportion_power_matches_python_replay(spark):
    """Power chain (A&S erfc Φ) replayed in Python; sanity: power is
    monotone in the MDE and in (0, 1)."""
    import duckdb
    import math

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_stats import (
        _POW_MDES,
        _POW_ZCRIT,
    )

    sf = "/root/testdata/sf0.001"
    n, conv = duckdb.connect().execute(
        "SELECT COUNT(*), SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) "
        f"FROM read_parquet('{sf}/events.parquet')"
    ).fetchone()

    def phi(x):
        t = 1.0 / (1.0 + 0.3275911 * (abs(x) * 0.7071067811865476))
        e = (
            ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
              - 0.284496736) * t + 0.254829592) * t
            * math.exp(-((abs(x) * 0.7071067811865476) ** 2))
        )
        return 1.0 - e / 2.0 if x >= 0 else e / 2.0

    p0 = conv / n
    n_arm = float(n // 2)
    got = sorted(
        registry()["stats_proportion_power"].fn(spark, sf).collect(),
        key=lambda r: r.mde,
    )
    assert [r.mde for r in got] == [float(m) for m in _POW_MDES]
    prev = -1.0
    for r in got:
        se = math.sqrt(p0 * (1 - p0) * 2.0 / n_arm)
        want = phi(float(r.mde) / se - _POW_ZCRIT)
        assert abs(r.power - want) < 1e-6
        assert 0.0 < r.power < 1.0
        assert r.power > prev  # monotone in MDE
        prev = r.power
        assert (r.n_events, r.n_conv) == (n, conv)


def test_dp_histogram_matches_python_replay(spark):
    """Laplace-inverse-CDF integer algebra replayed with hashlib; both
    noise signs must occur at the fixture (5 segments)."""
    import duckdb
    import hashlib
    import math

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_analytics import (
        _DP_EPS,
        _DP_ILN_2_32,
    )

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT c_mktsegment, COUNT(*) FROM "
        f"read_parquet('{sf}/customer.parquet') GROUP BY 1"
    ).fetchall()
    got = {r.segment: r for r in registry()["privacy_dp_histogram"].fn(spark, sf).collect()}
    assert set(got) == {s for s, _ in rows}
    signs = set()
    for seg, n in rows:
        hv = int(hashlib.md5(f"dp|{seg}".encode()).hexdigest()[:8], 16)
        sgn = -1 if 2 * hv - 2**32 < 0 else 1
        m = max(2**32 - abs(2 * hv - 2**32), 1)
        iln_m = math.floor(math.log(m) * 1e8 + 0.5)
        noise = sgn * (_DP_ILN_2_32 - iln_m)
        noise = int(noise / _DP_EPS) if noise >= 0 else -((-noise) // _DP_EPS)
        r = got[seg]
        assert (r.true_n, r.noise_1e8) == (n, noise)
        step = noise // 10**8 if noise >= 0 else -((-noise) // 10**8)
        assert r.released_n == max(n + step, 0)
        signs.add(sgn)
    assert signs == {-1, 1}


def test_dp_release_clamp_is_load_bearing(spark):
    """The clamp at 0 is the one privacy-relevant property of the DP
    release the harness can actually check: a cell whose noised count
    goes negative must release 0, never a negative value that leaks
    how small the raw count was (VERDICT r8 item 6 — the caveat is
    load-bearing, not prose). Drive the seam function over cells
    engineered so BOTH negative-noise-below-zero and positive paths
    occur, and pin that the swap point carries its security contract."""
    from a_share_data_pipeline_spark.plans.queries_analytics import (
        dp_laplace_noise_1e8,
        dp_release_counts,
    )

    # 40 cells with raw count 1: the md5-derived noise is ~symmetric,
    # so some cells draw noise <= -1e8 and would release negative
    cells = spark.createDataFrame(
        [(f"cell{i}", 1) for i in range(40)], "segment string, true_n bigint"
    )
    rel = dp_release_counts(dp_laplace_noise_1e8(cells)).collect()
    assert len(rel) == 40

    def trunc_step(n: int) -> int:  # SQL div truncates toward zero
        return -((-n) // 10**8) if n < 0 else n // 10**8

    would_go_negative = [r for r in rel if r.true_n + trunc_step(r.noise_1e8) < 0]
    assert would_go_negative, "fixture must exercise the clamp"
    assert all(r.released_n >= 0 for r in rel)
    for r in rel:
        assert r.released_n == max(r.true_n + trunc_step(r.noise_1e8), 0)
    # the seam's security contract is part of the interface, and the
    # registered query routes through the seam (one swap point)
    assert "NOT PRIVATE AS SHIPPED" in dp_laplace_noise_1e8.__doc__
    import inspect

    from a_share_data_pipeline_spark.plans.catalog import registry

    src = inspect.getsource(registry()["privacy_dp_histogram"].fn)
    assert "dp_laplace_noise_1e8" in src and "dp_release_counts" in src


def test_rake_matches_python_replay(spark):
    """RAKE phrase scoring replayed in Python."""
    import duckdb
    from collections import Counter, defaultdict

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_quality import (
        _RAKE_MAX_LEN,
        _RAKE_STOPS,
        _RAKE_TOP,
    )

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        f"SELECT text FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    phrases = []
    for (text,) in rows:
        run = []
        for w in text.split(" "):
            if w in _RAKE_STOPS or w == "":
                if run and len(run) <= _RAKE_MAX_LEN:
                    phrases.append(tuple(run))
                run = []
            else:
                run.append(w)
        if run and len(run) <= _RAKE_MAX_LEN:
            phrases.append(tuple(run))
    deg, freq = defaultdict(int), Counter()
    for p in phrases:
        for w in p:
            deg[w] += len(p)
            freq[w] += 1
    wscore = {w: (deg[w] * 1000000) // freq[w] for w in deg}
    scores = {
        " ".join(p): sum(wscore[w] for w in p) for p in set(phrases)
    }
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:_RAKE_TOP]
    got = registry()["text_keyword_rake"].fn(spark, sf).collect()
    assert [(r.phrase, r.score_micro) for r in got] == want
    for r in got:
        assert r.n_words == len(r.phrase.split(" "))


def test_effective_diameter_is_monotone_and_saturates(spark):
    """Coverage curve replayed via BFS; monotone in h and (on the
    dense bipartite purchase graph) reaches 90% by h=3."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_analytics import (
        _CLOSE_HOPS,
        _CLOSE_SEEDS,
    )

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        "SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR), "
        "'s' || CAST(l_suppkey AS VARCHAR) "
        f"FROM read_parquet('{sf}/orders.parquet') o "
        f"JOIN read_parquet('{sf}/lineitem.parquet') l ON o_orderkey = l_orderkey"
    ).fetchall()
    adj = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n_nodes = len(adj)
    denom = len(_CLOSE_SEEDS) * n_nodes
    per_h = {h: 0 for h in range(_CLOSE_HOPS + 1)}
    for seed in _CLOSE_SEEDS:
        dist = {seed: 0}
        frontier = [seed]
        for dd in range(1, _CLOSE_HOPS + 1):
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = dd
                        nxt.append(v)
            frontier = nxt
        for h in per_h:
            per_h[h] += sum(1 for x in dist.values() if x <= h)
    got = {r.h: r for r in registry()["graph_effective_diameter"].fn(spark, sf).collect()}
    assert set(got) == set(per_h)
    prev = -1
    for h in sorted(per_h):
        r = got[h]
        assert r.n_pairs == per_h[h]
        assert r.frac_micro == (per_h[h] * 1000000) // denom
        assert r.n_pairs >= prev
        prev = r.n_pairs
    assert got[_CLOSE_HOPS].reaches_90pct
    assert not got[0].reaches_90pct


def test_shot_boundaries_matches_python_replay(spark):
    """Frame L1 distances replayed with numpy; both cut verdicts live."""
    import duckdb
    import numpy as np

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_llm import _SHOT_THRESHOLD

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    want = {}
    for did, text in rows:
        buf = np.frombuffer(text.encode(), dtype=np.uint8).astype(np.int64)
        frames = []
        for fi in range(4):
            fr = buf[fi * 256 : fi * 256 + 64]
            if len(fr) < 64:
                break
            frames.append(fr)
        for bi, (a, b) in enumerate(zip(frames, frames[1:])):
            de = int(np.abs(a - b).sum())
            want[(did, bi)] = (de, de > _SHOT_THRESHOLD)
    got = registry()["multimodal_shot_boundaries"].fn(spark, sf).collect()
    assert {(r.doc_id, r.boundary_idx) for r in got} == set(want)
    for r in got:
        assert (r.diff_energy, r.is_cut) == want[(r.doc_id, r.boundary_idx)]
    assert 0 < sum(r.is_cut for r in got) < len(got)


def test_cochran_q_matches_python_replay(spark):
    """Cochran's Q replayed in exact integer Python."""
    import duckdb
    from collections import defaultdict

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(f"""
      WITH cents AS (
        SELECT event_type AS g, date_trunc('day', ts) AS day,
               CAST(ROUND(value*100,0) AS BIGINT) AS c
        FROM read_parquet('{sf}/events.parquet'))
      SELECT g, day, SUM(c) FROM cents GROUP BY 1, 2
    """).fetchall()
    by_day = defaultdict(dict)
    for g, day, s in rows:
        by_day[day][g] = s
    complete = {d: cells for d, cells in by_day.items() if len(cells) == 5}
    stot, dtot = defaultdict(int), defaultdict(int)
    for cells in complete.values():
        for g, s in cells.items():
            stot[g] += s
            dtot[g] += 1
    x = {
        (g, d): 1 if cells[g] * dtot[g] > stot[g] else 0
        for d, cells in complete.items()
        for g in cells
    }
    cj = defaultdict(int)
    ri = defaultdict(int)
    for (g, d), v in x.items():
        cj[g] += v
        ri[d] += v
    k = len(cj)
    n = sum(cj.values())
    c2 = sum(v * v for v in cj.values())
    r2 = sum(v * v for v in ri.values())
    q = (k * (k - 1)) * (k * c2 - n * n) / (k * n - r2)
    r = registry()["stats_cochran_q"].fn(spark, sf).collect()[0]
    assert (r.k, r.n_blocks, r.n_success) == (k, len(complete), n)
    assert abs(r.cochran_q - q) < 1e-3


def test_greenwood_matches_python_replay(spark):
    """KM + Greenwood bands replayed in Python; bands bracket the
    curve and widen the band relative to a taller risk set."""
    import duckdb
    import math

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_analytics import _GW_Z

    sf = "/root/testdata/sf0.001"
    rows = duckdb.connect().execute(f"""
      WITH ud AS (
        SELECT user_id, DATE_TRUNC('hour', MIN(ts)) AS f,
               DATE_TRUNC('hour', MAX(ts)) AS l
        FROM read_parquet('{sf}/events.parquet') GROUP BY user_id),
      m AS (SELECT MAX(l) AS mx FROM ud)
      SELECT DATEDIFF('hour', f, l),
             CASE WHEN DATEDIFF('hour', l, mx) >= 72 THEN 1 ELSE 0 END
      FROM ud CROSS JOIN m ORDER BY 1
    """).fetchall()
    from collections import Counter

    d_at = Counter()
    all_at = Counter()
    for t, e in rows:
        all_at[t] += 1
        d_at[t] += e
    n = len(rows)
    got = {r.t: r for r in registry()["events_survival_greenwood"].fn(spark, sf).collect()}
    assert set(got) == set(all_at)
    lsum = 0
    gsum = 0.0
    zero = False
    n_risk = n
    for t in sorted(all_at):
        d = d_at[t]
        if d == n_risk:
            zero = True
        elif d > 0:
            lsum += math.floor(math.log((n_risk - d) / n_risk) * 1e8 + 0.5)
            gsum += d * 1.0 / (n_risk * (n_risk - d))
        r = got[t]
        assert r.n_risk == n_risk and r.d_events == d
        if zero:
            assert (r.surv, r.ci_low, r.ci_high) == (0.0, 0.0, 0.0)
        else:
            s = math.exp(lsum / 1e8)
            se = _GW_Z * s * math.sqrt(gsum)
            assert abs(r.surv - s) < 1e-3
            assert abs(r.ci_low - max(s - se, 0.0)) < 1e-3
            assert abs(r.ci_high - min(s + se, 1.0)) < 1e-3
            assert r.ci_low <= r.surv <= r.ci_high
        n_risk -= all_at[t]


def test_late_data_audit_matches_batch_survivors(spark):
    """The streamed window counts equal the SQL survivor
    reconstruction (on-time rows + late rows whose window end beats
    the standing watermark) — and some late rows genuinely dropped."""
    import duckdb

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_streaming import (
        _LATE_CUT,
        _LATE_DELAY_DAYS,
    )

    sf = "/root/testdata/sf0.001"
    got = registry()["stream_late_data_audit"].fn(spark, sf)
    n_streamed = got.agg({"n_events": "sum"}).collect()[0][0]
    con = duckdb.connect()
    total, kept = con.execute(f"""
      WITH wm AS (SELECT MAX(ts) - INTERVAL {_LATE_DELAY_DAYS} DAY AS w
                  FROM read_parquet('{sf}/events.parquet')
                  WHERE ts >= TIMESTAMP '{_LATE_CUT}')
      SELECT (SELECT COUNT(*) FROM read_parquet('{sf}/events.parquet')),
             (SELECT COUNT(*) FROM read_parquet('{sf}/events.parquet') e, wm
              WHERE e.ts >= TIMESTAMP '{_LATE_CUT}'
                 OR date_trunc('hour', e.ts) + INTERVAL 1 HOUR > wm.w)
    """).fetchone()
    assert n_streamed == kept
    assert kept < total  # late rows actually dropped


def test_allen_relations_matches_python_replay(spark):
    """13-relation classification replayed in Python; six relations
    live at the fixture and the census sums to the joined pair count."""
    import duckdb
    from collections import Counter

    from a_share_data_pipeline_spark.plans.catalog import registry

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    spans = {}
    for et in ("view", "click"):
        for u, d, s, e in con.execute(
            f"SELECT user_id, date_trunc('day', ts), MIN(ts), MAX(ts) "
            f"FROM read_parquet('{sf}/events.parquet') "
            f"WHERE event_type = '{et}' GROUP BY 1, 2"
        ).fetchall():
            spans.setdefault(et, {})[(u, d)] = (s, e)

    def classify(a_s, a_e, b_s, b_e):
        if a_e < b_s:
            return "precedes"
        if a_e == b_s:
            return "meets"
        if b_e < a_s:
            return "preceded_by"
        if b_e == a_s:
            return "met_by"
        if a_s == b_s and a_e == b_e:
            return "equals"
        if a_s == b_s and a_e < b_e:
            return "starts"
        if a_s == b_s:
            return "started_by"
        if a_e == b_e and a_s > b_s:
            return "finishes"
        if a_e == b_e:
            return "finished_by"
        if a_s > b_s and a_e < b_e:
            return "during"
        if a_s < b_s and a_e > b_e:
            return "contains"
        if a_s < b_s:
            return "overlaps"
        return "overlapped_by"

    want = Counter()
    for key, (a_s, a_e) in spans["view"].items():
        if key in spans["click"]:
            b_s, b_e = spans["click"][key]
            want[classify(a_s, a_e, b_s, b_e)] += 1
    got = {r.relation: r.n for r in registry()["events_allen_relations"].fn(spark, sf).collect()}
    assert got == dict(want)
    assert sum(got.values()) == sum(want.values())
    assert len(got) >= 4  # several relations live at the fixture


# ---------------------------------------------------------------------------
# Round-14 optimization pins: each rewrite must equal the shape it replaced
# ---------------------------------------------------------------------------


def test_pca_gram_arrow_matches_explode(spark):
    """Round-14 PCA pin: the Arrow int64-matmul Gram builder
    (_pca_gram_marg) must produce the EXACT (i, j, sxy) decimal rows of
    the r13 double-posexplode + decimal-sum aggregate it replaced —
    integer arithmetic end to end, so equality is bitwise."""
    from a_share_data_pipeline_spark.functions.rounding import dround
    from a_share_data_pipeline_spark.plans.queries_ml import _Q, _pca_gram_marg
    from a_share_data_pipeline_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    q = emb.select(
        "vec_id", "embedding", F.posexplode("embedding").alias("i0", "x")
    ).select(
        "embedding",
        (F.col("i0") + 1).alias("i"),
        dround(F.col("x").cast("double") * _Q, 0).cast("bigint").alias("qi"),
    )
    pairs = q.select("i", "qi", F.posexplode("embedding").alias("j0", "xj")).select(
        "i",
        "qi",
        (F.col("j0") + 1).alias("j"),
        dround(F.col("xj").cast("double") * _Q, 0).cast("bigint").alias("qj"),
    )
    gram_old = pairs.groupBy("i", "j").agg(
        F.sum(
            (F.col("qi").cast("decimal(19,0)") * F.col("qj")).cast("decimal(26,0)")
        )
        .cast("decimal(38,0)")
        .alias("sxy")
    )
    gram_new, marg_new = _pca_gram_marg(emb)
    old = {(r.i, r.j): r.sxy for r in gram_old.collect()}
    new = {(r.i, r.j): r.sxy for r in gram_new.collect()}
    assert old == new and len(new) == 64 * 64
    # marg sanity: n equals the embedding count for every dimension
    n_emb = emb.count()
    assert all(int(r.n) == n_emb for r in marg_new.collect())


def test_perm_flip_parity_rewrite(spark):
    """Round-14 permutation-test pin: the single-hex-char parity test
    equals conv(substring(md5,1,8),16,10) % 2 on every row (the parity
    of a base-16 number is the parity of its least-significant digit),
    and the pre-exploded string perm ids render identically to
    CAST(sequence int AS STRING)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 5000).select(
        F.concat(
            (F.col("id") % 100).cast("string"),
            F.lit("|"),
            (F.col("id") * 7919).cast("string"),
        ).alias("s")
    )
    old = (
        F.conv(F.substring(F.md5(F.col("s")), 1, 8), 16, 10).cast("bigint") % 2 == 0
    )
    new = F.substring(F.md5(F.col("s")), 8, 1).isin(
        "0", "2", "4", "6", "8", "a", "c", "e"
    )
    assert df.filter(old != new).count() == 0
    # and both label sets are non-degenerate on this fixture
    n_even = df.filter(new).count()
    assert 0 < n_even < 5000


def test_knn_ub_prune_matches_unpruned(spark):
    """Round-14 kNN pin: the in-cell upper-bound prune must leave the
    row_number window's output untouched — compare the optimized query
    against the plain window over the FULL candidate set."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.plans.queries_geo import (
        _KNN,
        _cells,
        _grid_candidates,
    )

    sf = "/root/testdata/sf0.001"
    w = W.partitionBy("id").orderBy("dist2", "neighbor")
    plain = (
        _grid_candidates(_cells(spark, sf))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN)
        .select(
            F.col("id").cast("bigint").alias("id"),
            F.col("neighbor").cast("bigint").alias("neighbor"),
            F.col("dist2").cast("bigint").alias("dist2"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
    got = {tuple(r) for r in registry()["geo_grid_knn"].fn(spark, sf).collect()}
    want = {tuple(r) for r in plain.collect()}
    # sf0.001 is SPARSE (1500 points / 400 cells): 341 rows, most ids
    # lack an in-cell ub — the no-ub (keep everything) branch is
    # genuinely exercised here; the dense regime is pinned at sf0.1 by
    # the A/B receipt and the unchanged exhaustive oracle
    assert got == want and len(want) > 300


def test_grid_candidates_offsets_incell_subset(spark):
    """offsets=[(0,0)] yields exactly the same-cell directed pairs of
    the full candidate set (both orientations, dist2 preserved)."""
    from a_share_data_pipeline_spark.plans.queries_geo import (
        _cells,
        _grid_candidates,
    )

    sf = "/root/testdata/sf0.001"
    cells = _cells(spark, sf)
    cell_of = {r.id: (r.cx, r.cy) for r in cells.collect()}
    incell = {
        (r.id, r.neighbor, r.dist2)
        for r in _grid_candidates(cells, offsets=[(0, 0)]).collect()
    }
    full_incell = {
        (r.id, r.neighbor, r.dist2)
        for r in _grid_candidates(cells).collect()
        if cell_of[r.id] == cell_of[r.neighbor]
    }
    assert incell == full_incell and incell
    # directed symmetry
    assert all((b, a, d) in incell for a, b, d in incell)
