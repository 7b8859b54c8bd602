"""Local mirror of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the same sf, compare row count, column names, and an order-insensitive
value hash (floats normalized via repr of rounded values, timestamps
via isoformat).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py [sf_dir] --all-oracled [--json OUT]

``--all-oracled`` sweeps every query that HAS an oracle (skipping the
rows-only iterative/media entries) and, with ``--json``, records the
per-query verdicts as an artifact — the cross-scale evidence file
(e.g. ``CROSSSCALE_r5.json`` at sf0.1).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v) -> str:
    import datetime
    import decimal
    import math

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    # Driver-faithful decimal handling: the driver converts DuckDB
    # decimals to FLOAT before hashing (r9 evidence: value_histogram's
    # decimal(22,1) `lo` vs Spark double was green, temperature_rates'
    # decimal(38,0) `nt` vs Spark bigint was red — the mismatch axis is
    # int-vs-float, not decimal-vs-anything). So an un-cast DuckDB
    # integer SUM lands on the float side ('474985.0') and can never
    # silently match a Spark bigint ('474985') — as long as rows are
    # fetched through Arrow (fetchall() converts HUGEINT to plain int,
    # which is how the r9 red row slipped past 4 green local sweeps).
    if isinstance(v, decimal.Decimal):
        return norm_cell(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    args = sys.argv[1:]
    all_oracled = "--all-oracled" in args
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args) or args[i + 1].startswith("--"):
            sys.exit("usage: --json requires an output path argument")
        json_out = args[i + 1]
        del args[i: i + 2]
    args = [a for a in args if a != "--all-oracled"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import duckdb

    from promi_spark.queries import QUERIES
    from promi_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    results: dict[str, dict] = {}
    for name, (fn, sql) in QUERIES.items():
        if only and name not in only:
            continue
        if all_oracled and sql is None:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            results[name] = {"ok": False, "err": f"spark: {e}"}
            continue
        if sql is None:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            # fetch through Arrow, NOT fetchall(): DuckDB's Python
            # fetchall converts HUGEINT to plain int, so an un-cast
            # integer SUM is invisible on the tuple path — while the
            # driver sees decimal128(38,0) through Arrow and
            # hash-mismatches it against Spark's bigint (the r9
            # temperature_rates red row). Arrow's to_pydict preserves
            # Decimal cells, which norm_cell tags type-faithfully.
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            dtbl = res.fetch_arrow_table()
            drows = (
                list(zip(*(dtbl[c].to_pylist() for c in dcols)))
                if dtbl.num_rows
                else []
            )
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            results[name] = {"ok": False, "err": f"duckdb: {e}"}
            continue
        problems = []
        rows_match = len(srows) == len(drows)
        if not rows_match:
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        cols_match = sorted(scols) == sorted(dcols)
        hash_match = False
        if not cols_match:
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        else:
            hash_match = table_hash(scols, srows) == table_hash(dcols, drows)
            if not hash_match:
                problems.append("value-hash mismatch")
        results[name] = {
            "ok": not problems,
            "rows_match": rows_match,
            "cols_match": cols_match,
            "hash_match": hash_match,
            "rows": len(srows),
            "sec": round(time.time() - t0, 2),
            "err": "; ".join(problems) or None,
        }
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
            if len(srows) == len(drows) and sorted(scols) == sorted(dcols):
                # show a few differing lines for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted("|".join(norm_cell(r[i]) for i in order_s) for r in srows)
                ld = sorted("|".join(norm_cell(r[i]) for i in order_d) for r in drows)
                diffs = [(a, b) for a, b in zip(ls, ld) if a != b][:3]
                for a, b in diffs:
                    print(f"    spark: {a[:200]}\n    duck : {b[:200]}")
        else:
            print(f"OK   {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        ok = sum(1 for r in results.values() if r["ok"])
        hash_matched = sum(1 for r in results.values() if r.get("hash_match"))
        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "oracled_checked": len(results),
                    "ok": ok,
                    "hash_matched": hash_matched,
                    "failures": failures,
                    "queries": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}: {ok}/{len(results)} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
