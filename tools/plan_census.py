"""Physical-plan census over the ENTIRE contract registry: for every
`__spark_entry__.queries()` entry, build the DataFrame at a small SF and
count the plan operators that matter at 100 TB —

    exchanges (shuffles), broadcast exchanges, join strategies (flagging
    BroadcastNestedLoopJoin / CartesianProduct), Python stages (flagging
    per-row BatchEvalPython — the engine bans it), WholeStageCodegen spans.

Building a DataFrame does not execute it, so the census is cheap. A few
builders still fire Spark jobs while building (sampling splits, histogram
and edge collects); each row records them as ``build_jobs``, counted in a
job group around the builder. Every table of ``sf_dir`` is loaded before
the first row, so a table's one-time schema-inference job is charged to no
row. Output: one JSON line per query to stdout and the aggregate artifact
BENCH/plan_census.json.

Usage: python tools/plan_census.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# operators that should usually be zero; crossJoin/BNLJ appear only in the
# documented broadcast-bounded brute-force ANN baseline and grid skeletons
FLAG_OPS = ("BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin")

COUNT_OPS = (
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "WholeStageCodegen",
)


def census(plan: str) -> dict:
    out = {}
    for op in COUNT_OPS:
        # word-boundary match so "Exchange" doesn't count "BroadcastExchange"
        # or "ReusedExchange" and joins don't match inside codegen labels
        n = len(re.findall(rf"(?<![A-Za-z]){op}(?![a-z])", plan))
        if n:
            out[op] = n
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from timeseriestokenizer_spark.contract import load
    from timeseriestokenizer_spark.session import get_spark

    spark = get_spark("plan-census", master="local[8]", shuffle_partitions=8)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    sc = spark.sparkContext
    # the first load of a table runs its schema-inference job and the load
    # memo hides it afterwards; load every table up front so no row's
    # build_jobs count carries it
    for fname in sorted(os.listdir(sf_dir)):
        if fname.endswith(".parquet"):
            load(spark, sf_dir, fname[: -len(".parquet")])
    results, flagged = {}, []
    for name, fn in entry.queries().items():
        if only and name not in only:
            continue
        group = f"plan-census/{name}"
        try:
            sc.setLocalProperty("spark.jobGroup.id", group)
            try:
                df = fn(spark, sf_dir)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # a census must not die on one row
            results[name] = {"error": str(e)[:200]}
            flagged.append((name, "error"))
            continue
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        c = census(plan)
        c["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        results[name] = c
        for op in FLAG_OPS:
            if c.get(op):
                flagged.append((name, op))
        print(json.dumps({"query": name, **c}))

    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "flagged": [f"{n}:{op}" for n, op in flagged],
        "queries": results,
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH", "plan_census.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps({"n_queries": len(results), "flagged": summary["flagged"]}))


if __name__ == "__main__":
    main()
