"""Regenerate PLANS.md: condensed physical-plan evidence per query.

For every `queries()` entry this prints the plan-shape summary the
scale design cares about — join strategies, exchanges, Python eval
nodes — plus the full formatted plan for the flagship queries, its
ids renumbered so that two runs print the same bytes. Run:

    python scripts/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"
FLAGSHIPS = ["spatial_join_pip", "asof_time_nearest", "cell_rollup", "embedding_neardup"]

NODE_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|"
    r"CartesianProduct|Exchange hashpartitioning|Exchange rangepartitioning|"
    r"Exchange RoundRobinPartitioning|Exchange SinglePartition|ArrowEvalPython|"
    r"BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|Window|HashAggregate|"
    r"ObjectHashAggregate|SortAggregate)"
)
# Spark's expression ids (``#17243``, ``#17243L``) and exchange
# ``plan_id=``s count up with everything the session ran before
ID_RE = re.compile(r"(#|plan_id=)(\d+)")


def masked(plan: str) -> str:
    """``plan`` with its expression ids and plan ids renumbered from 0
    in order of first appearance, so the same plan prints the same text
    in every run while references between its nodes stay readable."""
    seen: dict[str, dict[str, int]] = {"#": {}, "plan_id=": {}}

    def renumber(m: re.Match) -> str:
        ids = seen[m.group(1)]
        return m.group(1) + str(ids.setdefault(m.group(2), len(ids)))

    return ID_RE.sub(renumber, plan)


def main() -> None:
    from pyspark.sql import SparkSession

    from smart_geocubes_spark import queries

    # see through the store queries' result checkpoint — without this
    # every store-path row shows an empty plan (bare ExistingRDD). Only
    # this process is affected; the frames are explained, never executed
    queries._result_ckpt = lambda df: df

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    qs = e.queries()
    print("# PLANS — physical-plan shape per query (sf0.001, auto-generated)")
    print()
    print("Regenerate with `python scripts/dump_plans.py > PLANS.md`.")
    print("Node counts per executed plan; the scale rules these encode are")
    print("in SCALE.md and are pinned by tests/test_plan_quality.py.")
    print()
    print("| query | join strategy | exchanges | python nodes | aggs/windows |")
    print("|---|---|---|---|---|")
    rows = {}
    for name in sorted(qs):
        plan = qs[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
        rows[name] = plan
        counts: dict[str, int] = {}
        for m in NODE_RE.finditer(plan):
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1

        def fmt(keys):
            parts = [f"{k.split()[-1]}×{v}" for k, v in counts.items() if k in keys]
            return " ".join(parts) or "—"

        joins = fmt({"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                     "BroadcastNestedLoopJoin", "CartesianProduct"})
        exch = fmt({"Exchange hashpartitioning", "Exchange rangepartitioning",
                    "Exchange RoundRobinPartitioning", "Exchange SinglePartition"})
        py = fmt({"ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                  "FlatMapGroupsInPandas"})
        aggs = fmt({"HashAggregate", "ObjectHashAggregate", "SortAggregate", "Window"})
        print(f"| {name} | {joins} | {exch} | {py} | {aggs} |")
    print()
    print("Notes: BroadcastNestedLoopJoin appears only on sides that are")
    print("sample/driver-sized by contract (ANN query sets, candidate-chunk")
    print("enumeration, kNN fallback); every big-side join is a hash join or")
    print("a projection. RoundRobin exchanges are the single-file fixture")
    print("spread (Iceberg split stand-in at production scale).")
    for name in FLAGSHIPS:
        print()
        print(f"## {name} (full executed plan)")
        print()
        print("```")
        print(masked(rows[name]).rstrip()[:4000])
        print("```")
    spark.stop()


if __name__ == "__main__":
    main()
