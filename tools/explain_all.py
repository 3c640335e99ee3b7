"""Generate PLANS.md: physical-plan evidence for every registry query.

For each query: join strategies, exchange count, WindowGroupLimit
presence, Python-in-the-loop markers, and pushed filters on the largest
scan — the things that decide whether a plan survives a 100 TB scale-up.

Usage: python tools/explain_all.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from kafka_streams_examples_spark.registry import QUERIES
from kafka_streams_examples_spark.session import get_spark

FEATURES = [
    ("BroadcastHashJoin", "broadcast-join"),
    ("SortMergeJoin", "sort-merge-join"),
    ("BroadcastNestedLoopJoin", "broadcast-nested-loop"),
    ("CartesianProduct", "CARTESIAN"),
    ("WindowGroupLimit", "window-group-limit"),
    ("ArrowEvalPython", "arrow-python"),
    ("BatchEvalPython", "ROW-AT-A-TIME-PYTHON"),
    ("FlatMapGroupsInPandas", "pandas-groups"),
    ("MapInPandas", "pandas-map"),
    ("TakeOrderedAndProject", "take-ordered"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-all", cpus=8)
    lines = [
        "# PLANS — physical-plan evidence per registry query",
        "",
        f"Auto-generated by `tools/explain_all.py` against `{sf_dir}`.",
        "Exchanges = `Exchange hashpartitioning` count (shuffles); every",
        "query lists the plan features that matter at 100 TB. Regenerate",
        "after operator changes.",
        "",
        "| query | shuffles | plan features | pushed filters |",
        "|---|---|---|---|",
    ]
    for name, spec in QUERIES.items():
        df = spec.spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        nexch = len(re.findall("Exchange hashpartitioning", plan))
        feats = []
        for pat, tag in FEATURES:
            n = len(re.findall(pat, plan))
            if n:
                feats.append(f"{tag}×{n}" if n > 1 else tag)
        # capture to end of line, then drop one trailing ']' if the list
        # actually closed: an In(...)-list filter nests ']' (so a
        # [^\]]* capture cuts mid-bracket) AND Spark truncates long
        # lists to "..." with NO closing bracket (so requiring a ']'
        # drops the entry entirely) — both forms must survive
        pushed = [p.split("], ReadSchema")[0]
                  for p in re.findall(r"PushedFilters: \[([^\n]*)", plan)]
        pushed = [p[:-1] if p.endswith("]") else p for p in pushed]
        pushed = sorted({p for p in pushed if p})
        pf = "; ".join(p[:60] for p in pushed[:2]) or "—"
        lines.append(f"| {name} | {nexch} | {', '.join(feats) or '—'} | {pf} |")
    out = "\n".join(lines) + "\n"
    with open("PLANS.md", "w") as f:
        f.write(out)
    print(f"wrote PLANS.md ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()
