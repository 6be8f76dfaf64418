"""Pins sweep.py's REPLAY lane (VERDICT r9 item 3: the union-find
replay that adjudicates super-linear oracles at sf0.1 must be
committed, tested code — not SCALE.md prose).

The replay device derives candidate pairs from the oracle's OWN cheap
CTE prefix and re-runs the recursive min-label closure as a
plain-Python union-find. Here, at the SFs where the recursive CTE is
affordable, we prove three things per replay query:

1. replay verdict on the real Spark rows is exact (the lane would
   have said "replay-exact"),
2. the replay-derived rows equal the DIRECT recursive oracle's rows
   (replay ≡ oracle, so at sf0.1 — where only the replay runs — it
   stands in for the same contract),
3. the compare is load-bearing: a perturbed row set is rejected.
"""

from __future__ import annotations

import duckdb
import pytest

import sweep
from a_share_data_pipeline_spark.plans.catalog import registry

REPLAY_NAMES = sorted(sweep.REPLAY)


@pytest.fixture(scope="module")
def duck(sf_smoke):
    con = duckdb.connect()
    for t in sweep.TABLES.split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_smoke}/{t}.parquet')"
        )
    yield con
    con.close()


def _spark_rows(spark, sf, name):
    df = registry()[name].fn(spark, sf)
    return [c.lower() for c in df.columns], [tuple(r) for r in df.collect()]


# slow tier: re-runs the recursive oracle and the union-find per query
@pytest.mark.slow
@pytest.mark.parametrize("name", REPLAY_NAMES)
def test_replay_matches_spark_and_direct_oracle(spark, sf_smoke, duck, name):
    scols, srows = _spark_rows(spark, sf_smoke, name)
    ok, info = sweep.REPLAY[name](duck, srows, scols)
    assert ok, f"replay lane rejected the Spark rows for {name}: {info}"
    assert info["rows"] == len(srows)
    # direct recursive oracle agrees (affordable at sf0.001) — so the
    # replay is a faithful stand-in where the CTE is not affordable
    cur = duck.execute(registry()[name].oracle)
    dcols = [d[0].lower() for d in cur.description]
    drows = cur.fetchall()
    ok2, _ = sweep.REPLAY[name](duck, [tuple(r) for r in drows], dcols)
    assert ok2, f"replay lane disagrees with the direct oracle for {name}"


# slow tier: re-runs the recursive oracle and the union-find per query
@pytest.mark.slow
@pytest.mark.parametrize("name", REPLAY_NAMES)
def test_replay_compare_is_load_bearing(spark, sf_smoke, duck, name):
    scols, srows = _spark_rows(spark, sf_smoke, name)
    assert srows, name
    broken = list(srows)
    r0 = list(broken[0])
    # perturb the first integer-ish field; every replay schema has one
    for i, v in enumerate(r0):
        if isinstance(v, int):
            r0[i] = v + 1
            break
    else:  # string schema (graph_cc_incremental decodes to 'c<k>'/'s<k>')
        r0[0] = str(r0[0]) + "x"
    broken[0] = tuple(r0)
    ok, _ = sweep.REPLAY[name](duck, broken, scols)
    assert not ok, f"replay lane accepted perturbed rows for {name}"


def test_uf_min_label_matches_closure_semantics():
    """LEAST/MIN min-label convention incl. isolated seeds."""
    label = sweep._uf_min_label([(5, 3), (3, 9), (20, 21)], seeds=[7])
    assert label == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 7: 7}


def test_resume_drops_stale_failures(tmp_path):
    """ADVICE r9: a rerun must re-probe recorded failures (the r9
    artifact kept a stale spark-error row); green rows are kept."""
    import json

    p = tmp_path / "sweep.jsonl"
    rows = [
        {"name": "a", "status": "exact"},
        {"name": "b", "status": "spark-error", "why": "transient"},
        {"name": "c", "status": "replay-exact"},
        {"name": "d", "status": "MISMATCH"},
    ]
    p.write_text("".join(json.dumps(r) + "\n" for r in rows))
    done = sweep._load_resume(str(p))
    assert done == {"a", "c"}
    kept = [json.loads(line)["name"] for line in p.read_text().splitlines()]
    assert kept == ["a", "c"]  # stale failures dropped from the artifact


def test_null_sentinel_cannot_collide():
    """ADVICE r9: canon(None) must differ from any literal string —
    '~' collided; the NUL-prefixed sentinel cannot appear in data."""
    assert sweep.canon(None) != "~"
    assert sweep.canon("~") == "~"
    assert sweep.canon(None) != sweep.canon("")


def test_resume_reprobes_legacy_preskip_rows(tmp_path):
    """ADVICE r10: 'preskip' is a status the sweep no longer emits
    (pre-skipped oracles go straight to the replay lane). A legacy
    pre-r10 artifact row carrying it must be RE-PROBED on resume, not
    kept as verified without a replay verdict."""
    import json

    p = tmp_path / "sweep.jsonl"
    rows = [
        {"name": "a", "status": "exact"},
        {"name": "b", "status": "preskip", "why": "legacy r9 row"},
    ]
    p.write_text("".join(json.dumps(r) + "\n" for r in rows))
    done = sweep._load_resume(str(p))
    assert done == {"a"}
    assert "preskip" not in sweep.GREEN


def test_replay_prefix_marker_must_be_unique():
    """ADVICE r10: _prefix slices at the FIRST marker occurrence; an
    oracle edit that repeats the marker text (comment, alias) must
    fail loudly instead of silently replaying a wrong prefix."""
    sql = "WITH base AS (SELECT 1), sym AS (SELECT 2) SELECT * FROM sym"
    out = sweep._prefix(sql, "sym AS (", "SELECT * FROM base")
    assert out.endswith("SELECT * FROM base") and "sym AS (" not in out
    dup = "WITH sym AS (SELECT 1), x AS (SELECT 2) SELECT 3 -- sym AS ( note"
    with pytest.raises(ValueError, match="occurs 2x"):
        sweep._prefix(dup, "sym AS (", "SELECT * FROM base")
    with pytest.raises(ValueError, match="occurs 0x"):
        sweep._prefix(sql, "absent AS (", "SELECT * FROM base")


def test_retry_timing_reflects_successful_attempt():
    """ADVICE r10: on a retried Spark side, spark_s must reflect the
    attempt that produced the rows, not include the failed first
    attempt's wall time. Behavioral (ADVICE r11 — the old source-text
    grep broke on benign refactors and could miss a real timing bug):
    a fake clock advances 10s across the failing first attempt and 2s
    across the succeeding retry; spark_s must read 2, not 12."""
    ticks = iter([0.0, 10.0, 12.0])  # t0 #1, t0 reset, success stamp
    attempts = {"n": 0}

    def runner():
        attempts["n"] += 1
        if attempts["n"] == 1:
            raise RuntimeError("transient python-worker crash")
        return ["c"], [(1,)]

    rec, result = sweep._run_with_retry(runner, clock=lambda: next(ticks))
    assert result == (["c"], [(1,)])
    assert rec["retries"] == 1
    assert rec["spark_s"] == 2.0  # NOT 12.0


def test_retry_double_failure_records_spark_error():
    """The second failure is recorded, not raised: the sweep must keep
    walking the catalog (VERDICT r9 item 7)."""

    def runner():
        raise ValueError("boom")

    rec, result = sweep._run_with_retry(runner, clock=lambda: 0.0)
    assert result is None
    assert rec["status"] == "spark-error"
    assert rec["retries"] == 1
    assert "ValueError: boom" in rec["why"]


def test_result_hash_ignores_order_and_sees_values():
    """A sweep row's sha256 is of the canonical result (columns sorted
    by name, values through canon, rows sorted), so two runs compare by
    hash: row and column order do not change it; a NULL turned into the
    string '~', a float's last bit, a changed string, a dropped row and
    a renamed column do."""
    cols, rows = ["b", "a"], [(2.5, "x"), (None, "y"), (True, "z")]
    h = sweep.result_hash(cols, rows)
    assert h == sweep.result_hash(cols, rows[::-1])
    assert h == sweep.result_hash(["a", "b"], [(a, b) for b, a in rows])
    assert len(h) == 64 and int(h, 16) >= 0
    changed = [
        [(2.5, "x"), ("~", "y"), (True, "z")],
        [(2.5000000000000004, "x"), (None, "y"), (True, "z")],
        [(2.5, "x"), (None, "y"), (True, "w")],
        [(2.5, "x"), (None, "y")],
    ]
    for other in changed:
        assert sweep.result_hash(cols, other) != h, other
    assert sweep.result_hash(["b", "c"], rows) != h  # a renamed column
