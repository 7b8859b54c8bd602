"""Structural plan audit across the whole query registry — the
noise-immune evidence base for optimization rounds (this sandbox VM has
CPU-steal waves, so wall-clock single runs cannot adjudicate changes;
plan shape and driver round-trip counts can).

For every registered query (or the names given) record:

- ``build_calls``: py4j commands issued while *building* the DataFrame,
  counted by ``perfbench.tracing.Py4JCounter`` (memory deletes, which
  the garbage collector sends at arbitrary times, are not counted; each
  command is ~2-4 ms of serialized driver latency on a 4-core VM — the
  structural proxy for driver-side query-construction cost);
- ``plan_bytes``: len of ``explain('formatted')`` text (Catalyst
  re-analyzes the tree on every fresh execution, so bytes ~ driver
  planning cost);
- ``shuffles`` / ``broadcasts`` / ``reused``: Exchange,
  BroadcastExchange and ReusedExchange nodes (:func:`exchange_counts`);
- ``joins``: physical join strategies used;
- ``py_eval``: BatchEvalPython/ArrowEvalPython/MapInArrow/MapInPandas/
  FlatMapGroupsInPandas nodes (the JVM<->Python boundary);
- ``scans`` / ``widest_read``: parquet scans and the widest ReadSchema.

Usage: python tools/plan_audit.py [--json OUT] [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def exchange_counts(plan: str) -> dict:
    """Shuffle, broadcast and reused exchange nodes of an
    ``explain('formatted')`` text. Each node is counted once, by its
    numbered detail header ``(N) Exchange``; the tree section names
    every node a second time and is not counted."""
    kinds = {"shuffles": "Exchange", "broadcasts": "BroadcastExchange",
             "reused": "ReusedExchange"}
    return {
        key: len(set(re.findall(rf"^\((\d+)\) {node}\b", plan, re.M)))
        for key, node in kinds.items()
    }


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]

    from perfbench.tracing import Py4JCounter
    from promi_spark.queries import QUERIES
    from promi_spark.session import get_spark

    spark = get_spark("plan_audit")
    counter = Py4JCounter()
    counter.install()

    names = args or list(QUERIES)
    rows = {}
    for name in names:
        fn, _ = QUERIES[name]
        try:
            before = counter.n
            df = fn(spark, SF_DIR)
            build_calls = counter.n - before
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # rows-only queries needing fixtures etc.
            rows[name] = {"err": f"{type(exc).__name__}: {exc}"[:200]}
            spark.catalog.clearCache()
            continue
        joins = sorted(
            set(
                re.findall(
                    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                    r"BroadcastNestedLoopJoin|CartesianProduct)",
                    plan,
                )
            )
        )
        py_eval = sorted(
            set(
                re.findall(
                    r"(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|"
                    r"FlatMapGroupsInPandas)",
                    plan,
                )
            )
        )
        reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        widest = max((r.count(",") + 1 for r in reads), default=0)
        rows[name] = {
            "build_calls": build_calls,
            "plan_bytes": len(plan),
            **exchange_counts(plan),
            "joins": joins,
            "py_eval": py_eval,
            "scans": len(reads),
            "widest_read": widest,
        }
        print(name, json.dumps(rows[name]), flush=True)
        spark.catalog.clearCache()
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(rows, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
