"""Plan inspection utilities (mini-lab-hdfs+spark-local explain()
parity, SURVEY §3.1 step 4 / §4).

`plan_summary` distills the executed plan into the facts that matter
for scale review: join strategies chosen, exchange (shuffle) count,
scan pushdown/pruning, codegen coverage. Used by tests/test_plan_shapes
and available to users as the engine's plan-review hook.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def plan_summary(df: DataFrame) -> dict:
    plan = plan_string(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "shuffle_hash_joins": plan.count("ShuffledHashJoin"),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "hash_aggregates": plan.count("HashAggregate"),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "pushed_filters": [p for p in pushed if p],
        "scan_columns": [
            [c.split(":")[0] for c in rs.split(",") if c] for rs in read_schemas
        ],
        "generators": plan.count("Generate "),
    }
