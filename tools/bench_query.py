"""Time a single registered query: cold then warm wall-clock, with the
physical-plan exchange counts — the per-query developer loop behind
`bench.py`'s round-level numbers.

Usage:
    python tools/bench_query.py <query_name> [sf_dir] [--runs N]

Runs the query `--runs` times (default 3: first = cold, rest = warm)
against `sf_dir` (default $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1)
and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> int:
    # Hand-rolled so `--runs N` and `--runs=N` both work (the bare N
    # after a space must be consumed as the flag's value, not left to
    # become a positional sf_dir).
    argv = sys.argv[1:]
    args: list[str] = []
    runs = 3
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--runs"):
            if "=" in a:
                runs = int(a.split("=", 1)[1])
            elif i + 1 < len(argv):
                i += 1
                runs = int(argv[i])
            else:
                print("--runs needs a value", file=sys.stderr)
                return 2
        else:
            args.append(a)
        i += 1
    if not args:
        print(__doc__)
        return 2
    name = args[0]
    sf_dir = (
        args[1]
        if len(args) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )

    from promi_spark.queries import QUERIES
    from promi_spark.session import get_spark
    from tools.plan_audit import exchange_counts

    if name not in QUERIES:
        print(f"unknown query {name!r}", file=sys.stderr)
        return 2
    spark = get_spark("bench_query")
    fn = QUERIES[name][0]
    times = []
    for _ in range(max(1, runs)):
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        df.count()
        times.append(round(time.monotonic() - t0, 3))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    print(
        json.dumps(
            {
                "query": name,
                "sf_dir": sf_dir,
                "cold_sec": times[0],
                "warm_sec": (
                    round(sum(times[1:]) / len(times[1:]), 3)
                    if len(times) > 1
                    else None
                ),
                "runs": times,
                **exchange_counts(plan),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
