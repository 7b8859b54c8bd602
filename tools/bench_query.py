"""Time or explain one registered query — the per-query developer loop
behind `bench.py`'s round-level numbers, and the audit surface for the
plan-shape properties that tests/test_plan_shapes.py gates.

Usage:
    python tools/bench_query.py <query_name> [sf_dir] [--runs N]
    python tools/bench_query.py <query_name> [sf_dir] --mode formatted|extended|cost
    python tools/bench_query.py --list

Timing runs the query `--runs` times (default 3: first = cold, rest =
warm) against `sf_dir` (default `bench.SF_DIR`: $SPARK_GRAFT_SF_DIR,
else the sf0.1 test tables) and prints one JSON line: wall seconds per run,
the build layer per run (py4j calls and seconds spent constructing the
DataFrame, counted at the gateway by perfbench's `Py4JCounter`), the
Spark jobs and tasks per run (perfbench's `stage_rollup` over the run's
job group) and the physical-plan exchange counts. Each run is one
lifetime scope: what the query pins, checkpoints included, is freed
before the next run. `--mode` prints the plan in that explain
mode instead of timing; `--list` prints the registry.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> int:
    from bench import SF_DIR

    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("name", nargs="?")
    ap.add_argument("sf_dir", nargs="?", default=SF_DIR)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--mode", choices=("formatted", "extended", "cost"))
    ap.add_argument("--list", action="store_true")
    # Intermixed, so flags may sit between the two optional positionals
    # (`q --runs 5 sf_dir`) without `sf_dir` being rejected as extra.
    args = ap.parse_intermixed_args()

    from promi_spark.queries import QUERIES

    if args.list:
        for name, (_, sql) in QUERIES.items():
            print(("oracled  " if sql else "rows-only") + "  " + name)
        return 0
    if args.name is None:
        ap.print_help()
        return 2
    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; --list shows the registry", file=sys.stderr)
        return 2

    from perfbench.tracing import Py4JCounter, stage_rollup
    from promi_spark.lifetime import scope
    from promi_spark.session import get_spark
    from tools.plan_audit import exchange_counts

    spark = get_spark("bench_query")
    fn = QUERIES[args.name][0]
    explain_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    if args.mode:
        df = fn(spark, args.sf_dir)
        print(df._jdf.queryExecution().explainString(explain_mode.fromString(args.mode)))
        return 0

    counter = Py4JCounter()
    counter.install()
    times, build_sec, build_py4j, jobs, tasks = [], [], [], [], []
    for run in range(max(1, args.runs)):
        group = f"bench_query_{args.name}_{run}"
        spark.sparkContext.setJobGroup(group, args.name)
        with scope():
            calls0, t0 = counter.n, time.monotonic()
            df = fn(spark, args.sf_dir)
            build_sec.append(round(time.monotonic() - t0, 3))
            build_py4j.append(counter.n - calls0)
            df.count()
            times.append(round(time.monotonic() - t0, 3))
        rollup = stage_rollup(spark, group)
        jobs.append(int(rollup["jobs"]))
        tasks.append(int(rollup["tasks"]))
    counter.uninstall()
    plan = df._jdf.queryExecution().explainString(explain_mode.fromString("formatted"))
    warm = times[1:]
    print(
        json.dumps(
            {
                "query": args.name,
                "sf_dir": args.sf_dir,
                "cold_sec": times[0],
                "warm_sec": round(sum(warm) / len(warm), 3) if warm else None,
                "runs": times,
                "build_sec": build_sec,
                "build_py4j_calls": build_py4j,
                "jobs": jobs,
                "tasks": tasks,
                **exchange_counts(plan),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
