"""Generate PLANS.md: one-line physical-plan summary per contract query
(join strategies, exchange count, scan pushdown) -- the `.explain` audit
the plan-hygiene tests pin, in reviewable form.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FEATURES = [
    ("BroadcastHashJoin", "bcast-hash-join"),
    ("SortMergeJoin", "sort-merge-join"),
    ("BroadcastNestedLoopJoin", "bcast-nl-join"),
    ("ShuffledHashJoin", "shuffled-hash-join"),
    ("MapInPandas", "mapInPandas"),
    ("WindowGroupLimit", "window-group-limit"),
    ("Window", "window"),
    ("HashAggregate", "hash-agg"),
    ("ObjectHashAggregate", "obj-hash-agg"),
    ("SortAggregate", "sort-agg"),
    ("Generate", "explode"),
]


def main() -> None:
    import __spark_entry__ as entry_mod
    from languagedetection_spark.plans.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(master="local[4]", shuffle_partitions=4)

    lines = [
        "# PLANS — physical-plan audit per contract query",
        "",
        f"Generated by tools/plan_report.py on {sf_dir}; plan features from",
        "`executedPlan` (AQE initial). Pinned assertions live in",
        "tests/test_plans.py.",
        "",
        "| query | exchanges | features | pushed filters |",
        "|---|---|---|---|",
    ]
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            lines.append(f"| {name} | — | ERROR: {str(e)[:60]} | — |")
            continue
        n_ex = plan.count("Exchange")
        feats = sorted({
            label for token, label in FEATURES if token in plan
        })
        pushed = sorted(set(re.findall(r"PushedFilters: \[([^\]]*)\]", plan)))
        pushed = [p for p in pushed if p]
        lines.append(
            f"| {name} | {n_ex} | {', '.join(feats) or '—'} | "
            f"{('; '.join(pushed)[:80] or '—')} |"
        )
    spark.stop()

    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(entry_mod.queries())} queries)")


if __name__ == "__main__":
    main()
