"""Masked optimized logical plans of the catalog's queries, for
showing that a refactor leaves every plan as it was.

Builds each registered query twice in one fresh Spark session (its own
warehouse in a temporary directory) and appends one JSON line per
query to ``out``: the optimized logical plan of the first build with
the names Spark numbers per session masked (``#123`` → ``#<id>``,
``lambda x_7`` → ``lambda x_<n>``, and so on), its sha256, and
whether the second build's masked plan is the same (``stable``). A
checkpointed frame shows in the plan of its consumer as a bare
``LogicalRDD``, so the plan text starts with the plan of every frame
the build checkpointed, in the order it did so. A plan that differs
between two builds in one session (Spark may list the parts of some
rewrites in a different order) is ``stable: false`` and cannot be
compared.

``--compare PARENT CHANGE`` reads two such files (say, one made in a
checkout of the parent commit and one of the change) and prints one
line per query: the two hashes, whether each side is stable, and
whether the plans are equal, judged only where both sides are stable.

Usage::

    python plan_probe.py /path/to/sf0.001 PLANS_parent.jsonl
    python plan_probe.py --compare PLANS_parent.jsonl PLANS_change.jsonl
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
# names Spark numbers per session: expression ids, lambda variables,
# common subexpressions, and an observation's name and plan id
_MASKS = [
    (re.compile(r"#\d+"), "#<id>"),
    (re.compile(r"\b(lambda [a-z]+)_\d+"), r"\1_<n>"),
    (re.compile(r"\b_common_expr_\d+"), "_common_expr_<n>"),
    (re.compile(r"(CollectMetrics) [0-9a-f-]{36}, (.*), \d+$", re.M), r"\1 <name>, \2, <id>"),
]


def masked_plan(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for pattern, repl in _MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def built_plan(build) -> str:
    """The masked plans of the frames ``build()`` checkpoints, then of
    the frame it returns."""
    from pyspark.sql.classic.dataframe import DataFrame

    pinned, checkpoint = [], DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        pinned.append(masked_plan(self))
        return checkpoint(self, *args, **kwargs)

    DataFrame.localCheckpoint = recording
    try:
        final = masked_plan(build())
    finally:
        DataFrame.localCheckpoint = checkpoint
    return "\n".join(f"checkpoint {i}:\n{p}" for i, p in enumerate(pinned)) + "\nresult:\n" + final


def probe(sf_dir: str, out: str) -> None:
    from a_share_data_pipeline_spark.plans.catalog import registry
    from a_share_data_pipeline_spark.session import get_spark

    warehouse = tempfile.mkdtemp(prefix="plan_probe_")
    try:
        spark = get_spark("plan_probe", extra_conf={"spark.sql.warehouse.dir": warehouse})
        reg = registry()
        for name in sorted(reg):
            plans = [built_plan(lambda: reg[name].fn(spark, sf_dir)) for _ in range(2)]
            rec = {
                "name": name,
                "sha256": hashlib.sha256(plans[0].encode()).hexdigest(),
                "stable": plans[0] == plans[1],
                "plan": plans[0],
            }
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(name, rec["sha256"][:16], "stable" if rec["stable"] else "UNSTABLE", flush=True)
        spark.stop()
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)


def compare(parent: str, change: str) -> None:
    def read(path):
        with open(path) as f:
            return {r["name"]: r for r in map(json.loads, f)}

    p, c = read(parent), read(change)
    for name in sorted(p.keys() & c.keys()):
        a, b = p[name], c[name]
        stable = a["stable"] and b["stable"]
        print(json.dumps({
            "name": name,
            "parent": a["sha256"][:16],
            "change": b["sha256"][:16],
            "parent_stable": a["stable"],
            "change_stable": b["stable"],
            "equal": a["sha256"] == b["sha256"] if stable else None,
        }))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", help="the tables' directory")
    ap.add_argument("out", nargs="?", help="append one JSON line per query to this file")
    ap.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"))
    args = ap.parse_args()
    if args.compare:
        compare(*args.compare)
        return
    if args.sf_dir is None or args.out is None:
        ap.error("probing needs sf_dir and out")
    sys.path.insert(0, HERE)
    probe(args.sf_dir, args.out)


if __name__ == "__main__":
    main()
