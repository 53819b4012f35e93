"""Per-query physical-plan fingerprints, and plan printing for A/B work.

A fingerprint counts the plan-shape nodes of a query's AQE initial plan
(``executedPlan()``): exchanges by partitioning kind, broadcast
exchanges, join strategies, Python evaluation nodes and scans. Column
ids, partition counts and expressions are left out, so the string only
changes when the plan's shape does. ``tests/plan_fingerprints.json``
holds one per declared query, built on the test suite's session
(``local[8]``, 8 shuffle partitions, sf0.001), and
``tests/test_entry.py`` checks every query against it.

Usage:
    python tools/plan_fingerprint.py                   # regenerate the JSON
    python tools/plan_fingerprint.py [sf_dir] query... # print explain("formatted")
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FINGERPRINTS = os.path.join(REPO, "tests", "plan_fingerprints.json")
REGENERATE = "python tools/plan_fingerprint.py"

JOINS = {
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
}
PYTHON = {
    "ArrowEvalPython", "ArrowEvalPythonUDTF", "BatchEvalPython",
    "BatchEvalPythonUDTF", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
    "ArrowAggregatePython", "ArrowWindowPython",
}
COUNTED = JOINS | PYTHON | {"BroadcastExchange"}
EXCHANGES = {
    "hashpartitioning": "hash", "rangepartitioning": "range",
    "RoundRobinPartitioning": "RoundRobin",
    "SinglePartition": "SinglePartition",
}

# One tree line: connector ("+- " or ":- ") behind any indent, then an
# optional missing-input mark and codegen stage id, the node name and
# the first word of its arguments.
_NODE = re.compile(r"[ :]*([+:]- )?!?(?:\*\(\d+\) )?(\w+)(?: (\w+))?")


def fingerprint(df) -> str:
    """``"Kind=count ..."`` over the plan-shape nodes, sorted by kind."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts: Counter[str] = Counter()
    for i, line in enumerate(plan.splitlines()):
        m = _NODE.match(line)
        if m is None or (i and not m.group(1)):
            continue  # a continuation line of a multi-line expression
        name, arg = m.group(2), m.group(3)
        if name == "Exchange":
            counts[f"Exchange.{EXCHANGES.get(arg, arg)}"] += 1
        elif name in ("FileScan", "Scan"):
            counts[f"{name}.{arg}"] += 1
        elif name in COUNTED or name.endswith("Scan"):
            counts[name] += 1
    return " ".join(f"{k}={n}" for k, n in sorted(counts.items()))


def main(args: list[str]) -> None:
    from __spark_entry__ import SMOKE_SF_DIR as SF_DIR
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark import registry
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.session import get_spark

    # the same session shape as tests/conftest.py's fixture
    spark = get_spark("plan_fingerprint", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()
    if not args:
        fps = {name: fingerprint(fn(spark, SF_DIR)) for name, fn in queries.items()}
        with open(FINGERPRINTS, "w") as f:
            f.write(json.dumps(fps, indent=0, sort_keys=True) + "\n")
        print(f"wrote {FINGERPRINTS} ({len(fps)} queries, {len(set(fps.values()))} shapes)")
        return
    sf_dir, names = (args[0], args[1:]) if os.path.isdir(args[0]) else (SF_DIR, args)
    for name in names:
        print(f"## {name} at {sf_dir}\n", flush=True)
        queries[name](spark, sf_dir).explain("formatted")


if __name__ == "__main__":
    main(sys.argv[1:])
