"""Scale soak: run the oracled registry at a big scale factor (default
the sf1 slice from tools/make_scale_slice.py — 10x the bench scale),
hash-verify against DuckDB where the oracle can keep up, and record
per-query Spark runtimes next to their sf0.1 reference so scaling
ratios are explicit.

Per query it records:
- ``sf1_sec`` / ``rows``   — Spark wall clock at the soak scale
- ``sf01_sec``             — same query, same session, at sf0.1
- ``ratio``                — sf1_sec / sf01_sec (10x data; linear-ish
                             scaling means ratio <= ~10; constant-work
                             queries sit near 1)
- ``oracle``               — "match" | "MISMATCH: ..." |
                             "timeout(<budget>s)" | "skipped"

DuckDB gets a per-oracle interrupt budget (``--oracle-budget``,
default 120 s): some oracles deliberately replay Spark's md5/minhash
arithmetic in SQL and are fine at the correctness scale (sf0.01) but
quadratically-ish slow in DuckDB at sf1 — those time out and are
recorded as rows+runtime-only evidence, exactly as the round brief
allows ("hash-verify where DuckDB can keep up").

Usage:
    python tools/soak.py [--sf1 DIR] [--out FILE] [--oracle-budget S]
                         [--no-oracle] [--sample-keys P]
                         [--slice-fallback P] [--compare PRIOR.json]
                         [query ...]

``--compare PRIOR.json`` diffs this run's per-query wall times against
a prior round's artifact and records a ``drift`` section in the output
(every query whose sf1_sec moved by more than DRIFT_FLAG_RATIO in
either direction, with both numbers) — so a 4x regression like the r11
``rfm_segments`` outlier surfaces in the artifact itself instead of by
hand-diffing JSON (r11 VERDICT demand #3).

``--sample-keys P`` (e.g. 0.01) hash-verifies on a deterministic
FK-complete key-slice of the soak data (see SLICE_COINS) — the sf10
correctness mechanism: DuckDB replays ~P of the rows, every surviving
row/pair is an exact cross-engine comparison on source-scale data.

``--no-oracle`` records rows+runtime only (for scales where DuckDB
cannot be asked to replay the quadratic oracles at all — e.g. the
sf10 slice); hash verification at sf0.01/sf0.1/sf1 stands as the
correctness witness.

``--slice-fallback P`` keeps the FULL-data run as the runtime/rows
evidence but, whenever an oracle exceeds its budget on the full soak
data, re-runs BOTH engines on the deterministic key-slice and
hash-compares there — so every query leaves the soak with a
cross-engine value witness: ``oracle: "match"`` on full data where
DuckDB can keep up, ``"match(keyslice pP)"`` where only the sliced
replay is feasible (inherently-quadratic oracles: all-pairs cosine,
the 19M-row interval self-join).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# check_oracle parses argv at import; neutralize before importing its
# hashing helpers.
_real_argv = sys.argv
sys.argv = [sys.argv[0]]
from tools.check_oracle import norm_cell, table_hash  # noqa: E402

sys.argv = _real_argv
from tools.witness import duck_witness, spark_witness  # noqa: E402

SF01 = "/root/testdata/sf0.1"

# Key-slice plan (--sample-keys P): deterministically keep an md5-coin
# fraction P of each table's independent entity key, preserving the FK
# chains that the registry's joins ride (kept customers keep ALL their
# orders; kept orders keep ALL their lineitems; kept users keep WHOLE
# traces). Both engines then read the SAME sliced parquet, so every
# query's result is exactly comparable — the slice IS sf10 rows (its
# key ranges, text dialects, and embedding offsets span the full 100
# replicas), but DuckDB only replays ~P of them. Pair-emitting queries
# (near-dups) see ~P^2 of the pairs; the surviving pairs are still
# exact twins across engines.
SLICE_COINS = {
    "customer": "c_custkey",
    "orders": "o_custkey",  # rides the customer coin: FK-complete
    "events": "user_id",  # whole traces survive
    "documents": "doc_id",
    "embeddings": "vec_id",
}
SLICE_FULL = ("region", "nation", "part", "supplier")  # dims: keep all


def make_key_slice(spark, src: str, dst: str, p: float) -> None:
    """Materialize the deterministic key-slice of ``src`` into ``dst``.

    xxhash64(key, 42) coin — bit-stable across runs and partition
    layouts. lineitem is semi-joined on the kept orders so l_orderkey
    FK chains stay complete.
    """
    import glob
    import shutil

    from pyspark.sql import functions as F

    os.makedirs(dst, exist_ok=True)
    bar = int(p * 10_000)
    if bar <= 0:
        raise ValueError(
            f"key-slice p={p:g} rounds to a zero coin bar — the slice "
            "would be empty and every hash comparison on it vacuous; "
            "use p >= 0.0001"
        )

    def coin(col: str):
        return F.pmod(F.xxhash64(F.col(col), F.lit(42)), F.lit(10_000)) < bar

    def write(df, name: str) -> None:
        tmp = os.path.join(dst, f"_tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(dst, f"{name}.parquet"))
        shutil.rmtree(tmp)

    def read(name: str):
        path = f"{src}/{name}.parquet"
        return spark.read.parquet(
            f"{path}/*.parquet" if os.path.isdir(path) else path
        )

    for name in SLICE_FULL:
        write(read(name), name)
    for name, key in SLICE_COINS.items():
        write(read(name).filter(coin(key)), name)
    kept_orders = spark.read.parquet(os.path.join(dst, "orders.parquet")).select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    write(read("lineitem").join(kept_orders, "l_orderkey", "left_semi"), "lineitem")
    for t in list(SLICE_FULL) + list(SLICE_COINS) + ["lineitem"]:
        n = spark.read.parquet(os.path.join(dst, f"{t}.parquet")).count()
        print(f"slice {t}: {n} rows", flush=True)
        if n == 0 and t in SLICE_COINS:
            raise ValueError(
                f"key-slice p={p:g} left table '{t}' EMPTY — any hash "
                "comparison on this slice would be a vacuous witness"
            )


def duck_with_budget(con, sql: str, budget: float):
    """Run an oracle with an interrupt timer; None on timeout.

    Rows come back through Arrow, not fetchall(): DuckDB's fetchall
    converts HUGEINT (an un-cast integer SUM) to plain Python int,
    which silently matches a Spark bigint — while the driver sees the
    decimal and hash-mismatches on the int-vs-float axis (the r9
    temperature_rates red row). Arrow's to_pylist preserves Decimal
    cells, which norm_cell then normalizes driver-faithfully (to
    float)."""
    timer = threading.Timer(budget, con.interrupt)
    timer.start()
    try:
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        tbl = res.fetch_arrow_table()
        rows = (
            list(zip(*(tbl[c].to_pylist() for c in cols)))
            if tbl.num_rows
            else []
        )
        return cols, rows
    except Exception as e:
        if "INTERRUPT" in str(e).upper() or "interrupted" in str(e).lower():
            return None
        raise
    finally:
        timer.cancel()


# Results at or above this row count never leave their engine: both
# sides aggregate an order-insensitive per-row hash (count + two
# 60-bit md5-half sums over a canonical row string — tools/witness.py)
# and the soak compares three scalars. This replaces the r8-r12 Arrow
# collect path, whose driver-side materialization was the witness's
# own scale ceiling (r12: winnow_fingerprints' 30.7M-row collect blew
# spark.driver.maxResultSize on the boiler slice while the engine
# query itself ran fine). The Arrow-collect compare remains only as
# the fallback for result types the witness lanes don't canonicalize
# (nested/binary), where results are model-sized anyway.
DIST_COMPARE_ROWS = 2_000_000

# --compare flags any per-query wall-time move beyond this factor in
# either direction. 2x is the adjudication band the r5/r11 idle-box
# re-runs established for shared-box variance at the single-query
# level; beyond it a drift deserves a re-measure or a bisect.
DRIFT_FLAG_RATIO = 2.0
# sub-floor wall times are measurement noise (timer resolution +
# artifact rounding to 0.01 s); clamp both sides of the drift ratio so
# a 0.0s prior neither divides by zero nor exempts the query.
DRIFT_TIME_FLOOR = 0.05

# untimed warm-up depth before the timed loop (see the warm-up note in
# main): deep enough to cover the JIT ramp the r13 adjudication
# measured across the first ~11 slots. Capped BOTH by query count and
# by wall time: warm-up exists to exercise the JVM, not to pre-run the
# workload, and on a regime whose early slots are 100s+ near-dup
# queries (the boiler skew soak) an uncapped 10-query warm-up would
# silently double the most expensive part of the run.
WARMUP_SLOTS = 10
WARMUP_MAX_SEC = 120.0


def drift_section(results: dict, prior_path: str) -> dict:
    """Per-query wall-time drift vs a prior soak artifact: every query
    present in both runs whose sf1_sec ratio falls outside
    [1/DRIFT_FLAG_RATIO, DRIFT_FLAG_RATIO] is flagged with both
    numbers. Only MISSING times are skipped (a query can't drift from
    nothing); a recorded 0.0 is clamped to DRIFT_TIME_FLOOR so a
    formerly-instant query that regresses to seconds still flags (the
    old truthiness check silently exempted sub-5ms queries — r12
    ADVICE)."""
    try:
        with open(prior_path) as f:
            prior = json.load(f).get("queries", {})
    except (OSError, ValueError) as e:
        return {"compared_to": prior_path, "error": f"unreadable: {e}"}
    flagged = {}
    compared = 0
    for name, rec in results.items():
        now = rec.get("sf1_sec")
        was = prior.get(name, {}).get("sf1_sec")
        if now is None or was is None:
            continue
        compared += 1
        ratio = max(now, DRIFT_TIME_FLOOR) / max(was, DRIFT_TIME_FLOOR)
        if ratio > DRIFT_FLAG_RATIO or ratio < 1 / DRIFT_FLAG_RATIO:
            flagged[name] = {
                "prior_sec": was,
                "now_sec": round(now, 2),
                "ratio": round(ratio, 2),
            }
    return {
        "compared_to": prior_path,
        "threshold": DRIFT_FLAG_RATIO,
        "queries_compared": compared,
        "flagged": dict(
            sorted(
                flagged.items(),
                key=lambda kv: kv[1]["ratio"],
                reverse=True,
            )
        ),
    }


def arrow_hash(tbl) -> str:
    """Order-insensitive engine-neutral value hash of an Arrow table
    of numeric/timestamp/string columns. Nullable columns are
    supported (r8 advice — the old version raised, and the soak loop's
    generic ``except`` turned a legitimately-null 2M-row result into a
    false failure): each nullable column contributes an explicit null
    -indicator companion column, then nulls are filled with a fixed
    sentinel — the indicator participates in both the canonical row
    sort and the hash, so a null never collides with a real sentinel
    value and both engines canonicalize identically. Raises
    ``ValueError`` only on unsupported TYPES (nested/binary/...), where
    the caller falls back to the tuple-compare path."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc

    arrays = {}
    for c in sorted(tbl.column_names):
        col = tbl[c]
        t = col.type
        nulls = col.null_count
        if nulls:
            arrays[c + "\x00isnull"] = pc.is_null(col).cast(pa.int8())
        if pa.types.is_timestamp(t):
            # unit-normalize then take epoch micros; tz-aware and naive
            # (both engines run UTC) land on the same instant value
            unit = pa.timestamp("us", t.tz) if t.tz else pa.timestamp("us")
            col = col.cast(unit).cast(pa.int64())
        elif pa.types.is_integer(t):
            col = col.cast(pa.int64())
        elif pa.types.is_boolean(t):
            col = col.cast(pa.int64())
        elif pa.types.is_decimal(t) or pa.types.is_floating(t):
            # decimal joins the FLOAT lane — driver-faithful: the driver
            # converts DuckDB decimals to float before hashing (r9
            # evidence: decimal(22,1) vs double green, decimal(38,0) vs
            # bigint red), so a decimal column matches a double column of
            # equal values but can never match an int column — exactly
            # how an un-cast DuckDB integer SUM (HUGEINT) gets caught.
            col = pc.round(col.cast(pa.float64()), ndigits=6)
            # canonicalize -0.0 -> 0.0 BEFORE the sort and the buffer
            # hash: round() can land either side of zero on values
            # within +/-5e-7, the two compare equal but have different
            # byte patterns (false "value-hash mismatch"), and their
            # relative sort order among ties is engine-arrival order
            col = pc.add(col, pa.scalar(0.0))
        elif not (pa.types.is_string(t) or pa.types.is_large_string(t)):
            raise ValueError(f"arrow_hash: unsupported type {t} in {c}")
        if nulls:
            if pa.types.is_string(col.type) or pa.types.is_large_string(
                col.type
            ):
                col = pc.fill_null(col, "")
            else:
                col = pc.fill_null(col, pa.scalar(0, col.type) if
                                   pa.types.is_integer(col.type)
                                   else pa.scalar(0.0))
        arrays[c] = col
    cols = list(arrays)
    canon = pa.table(arrays).sort_by([(c, "ascending") for c in cols])
    h = hashlib.md5()
    for c in cols:
        arr = canon[c].combine_chunks()
        h.update(str(arr.type).encode())
        if pa.types.is_string(arr.type) or pa.types.is_large_string(
            arr.type
        ):
            h.update(
                "\x1f".join(arr.to_pylist()).encode("utf-8", "surrogatepass")
            )
        else:
            h.update(arr.to_numpy(zero_copy_only=False).tobytes())
    return h.hexdigest()


def _arrow_rows(tbl, cols):
    """Arrow table -> list of row tuples in the given column order (the
    tuple-compare fallback's input; avoids a second collect/fetchall)."""
    data = tbl.to_pydict()
    return list(zip(*(data[c] for c in cols))) if cols else []


def duck_arrow_with_budget(con, sql: str, budget: float):
    """Arrow-path twin of duck_with_budget: (cols, pa.Table) or None."""
    timer = threading.Timer(budget, con.interrupt)
    timer.start()
    try:
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return cols, res.fetch_arrow_table()
    except Exception as e:
        if "INTERRUPT" in str(e).upper() or "interrupted" in str(e).lower():
            return None
        raise
    finally:
        timer.cancel()


def main() -> int:
    import duckdb

    from promi_spark.queries import QUERIES
    from promi_spark.session import get_spark

    args = sys.argv[1:]

    def opt(flag, default):
        if flag in args:
            i = args.index(flag)
            v = args[i + 1]
            del args[i : i + 2]
            return v
        return default

    sf1 = opt("--sf1", "/root/repo/.soak/sf1")
    compare_to = opt("--compare", None)
    out_path = opt("--out", "CROSSSCALE_sf1_r7.json")
    budget = float(opt("--oracle-budget", "120"))
    sample_keys = float(opt("--sample-keys", "0"))
    slice_fallback = float(opt("--slice-fallback", "0"))
    # r7 advice: with --sample-keys P1 the fallback slices the ORIGINAL
    # data at the composed rate P1*P2. The coin is deterministic and
    # idempotent, so P2 >= 1 would reproduce the main slice exactly and
    # its oracle would time out identically — the precise failure mode
    # the fallback exists to escape. Reject it at parse time.
    if slice_fallback and not (0 < slice_fallback < 1):
        raise SystemExit(
            f"--slice-fallback must be in (0, 1), got {slice_fallback:g}: "
            "the fallback key-slice must be a STRICT subset of the main "
            "data (the md5 coin is idempotent — a rate >= 1 re-selects "
            "the identical rows and the fallback oracle times out "
            "exactly like the main one)"
        )
    no_oracle = "--no-oracle" in args
    args = [a for a in args if a != "--no-oracle"]
    only = set(args)

    # sf>=10 soaks OOM at the 8g default driver heap (the r6 finding,
    # recorded in BASELINE.md); size it to the data before the JVM comes
    # up so no env var is required. Rough rule: >=500 MB on disk (~sf10)
    # -> 48g, >=100 MB (~sf1) -> 16g.
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        try:
            sz = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(sf1)
                for f in fs
            )
        except OSError:
            sz = 0
        if sz >= 500 * 1024 * 1024:
            os.environ["SPARK_GRAFT_DRIVER_MEM"] = "48g"
        elif sz >= 100 * 1024 * 1024:
            os.environ["SPARK_GRAFT_DRIVER_MEM"] = "16g"

    spark = get_spark("soak")

    # --sample-keys P: hash-verify on a deterministic key-slice of the
    # soak data instead of the full slice (the sf10 correctness witness
    # — see SLICE_COINS above). Both engines read the sliced parquet.
    slice_src = None
    if sample_keys > 0:
        slice_src = sf1
        sliced = sf1.rstrip("/") + f"_keyslice_p{sample_keys:g}"
        if not os.path.exists(os.path.join(sliced, "lineitem.parquet")):
            print(f"materializing key-slice p={sample_keys} -> {sliced}", flush=True)
            make_key_slice(spark, sf1, sliced, sample_keys)
        sf1 = sliced

    def duck_views(dirpath: str):
        c = duckdb.connect()
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings".split()
        ):
            p = f"{dirpath}/{t}.parquet"
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        return c

    con = duck_views(sf1)

    # --slice-fallback P: lazily-built key-slice + DuckDB connection,
    # used to hash-verify the queries whose oracle can't replay the
    # full soak data inside the budget.
    # With --sample-keys the main run already sits on a key slice, and
    # the coin is DETERMINISTIC — re-slicing the slice with the same
    # predicate keeps every row (coin < P is idempotent), so a naive
    # fallback would be the same data and its oracle would time out
    # identically (seen in the first r7 sf10 run as
    # "+keyslice-timeout"). Carve the fallback from the ORIGINAL data
    # at the composed rate instead: coin < P1*P2 is a strict subset of
    # coin < P1, so the fallback remains a subset of the main slice.
    fb_dir: str | None = None
    fb_con = None
    if sample_keys > 0:
        fb_base, fb_p = slice_src, sample_keys * slice_fallback
    else:
        fb_base, fb_p = sf1, slice_fallback

    def fallback_slice():
        nonlocal fb_dir, fb_con
        if fb_con is None:
            fb_dir = fb_base.rstrip("/") + f"_keyslice_p{fb_p:g}"
            if not os.path.exists(os.path.join(fb_dir, "lineitem.parquet")):
                print(
                    f"materializing fallback key-slice p={fb_p:g}"
                    f" -> {fb_dir}",
                    flush=True,
                )
                make_key_slice(spark, fb_base, fb_dir, fb_p)
            fb_con = duck_views(fb_dir)
        return fb_dir, fb_con

    def keyslice_fallback(rec: dict, fn, sql: str, name: str) -> None:
        """After a full-data oracle timeout: re-run BOTH engines on the
        deterministic fallback key-slice and hash-compare there, so the
        query still leaves with a cross-engine value witness. Shared by
        the tuple path and the distributed-witness path (the r12 boiler
        minhash_near_dups timeout went unverified precisely because the
        big-result branch had no fallback)."""
        if slice_fallback <= 0:
            return
        sdir, scon = fallback_slice()
        t0 = time.time()
        sduck = duck_with_budget(scon, sql, budget)
        if sduck is None:
            rec["oracle"] += "+keyslice-timeout"
            return
        fcols, frows = sduck
        fdf = fn(spark, sdir)
        fsrows = [tuple(r) for r in fdf.collect()]
        probs = []
        if len(fsrows) != len(frows):
            probs.append(f"rows {len(fsrows)} vs {len(frows)}")
        if sorted(fdf.columns) != sorted(fcols):
            probs.append("cols differ")
        elif table_hash(fdf.columns, fsrows) != table_hash(fcols, frows):
            probs.append("value-hash mismatch")
        if probs:
            rec["oracle"] = "KEYSLICE-MISMATCH: " + "; ".join(probs)
            failures.append(name)
        else:
            rec["oracle"] = f"match(keyslice p{fb_p:g})"
            rec["hash_match"] = True
            rec["keyslice_rows"] = len(fsrows)
        rec["oracle_sec"] = round(time.time() - t0, 2)

    results: dict[str, dict] = {}
    failures: list[str] = []
    t_start = time.time()
    # Untimed warm-up: run the first WARMUP_SLOTS selected queries once
    # before the timed loop. Slot 1 absorbs JVM/codegen/scan-index
    # startup (~5-8 s; the r12 per_trace_counts 0.5 -> 7.9 s finding),
    # and the r13 adjudication showed slots ~2-11 still pay 1.5-3x of
    # residual JIT warm-up (8 fresh-session idle re-measures stayed
    # elevated; the same queries AFTER 20 warm queries in one session
    # were back at their r11 times) — so a single-query warm-up leaves
    # every rotation stamping phantom drift on its new early slots.
    warmed = 0
    t_warm = time.time()
    for name, (fn, sql) in QUERIES.items():
        if (only and name not in only) or (not only and sql is None):
            continue
        # budget gate BEFORE starting each query, not only after: a
        # single expensive query in an early slot previously ran to
        # completion untimed and unbounded (the r13 failure mode the
        # cap was added for). The cap can still overshoot by at most
        # ONE query's duration (the one already running when the budget
        # expires).
        if warmed >= WARMUP_SLOTS or time.time() - t_warm > WARMUP_MAX_SEC:
            break
        try:
            fn(spark, sf1).count()
            spark.catalog.clearCache()
        except Exception:
            pass  # the timed loop will record the real error
        warmed += 1
    print(
        f"warm-up: {warmed} queries untimed in "
        f"{time.time() - t_warm:.0f}s",
        flush=True,
    )
    for name, (fn, sql) in QUERIES.items():
        if only and name not in only:
            continue
        if not only and sql is None:
            continue  # rows-only ops are suite-covered; soak the oracled set
        rec: dict = {}
        try:
            # Engine metric first: count() only, comparable to the
            # sf0.1 reference below and to bench.py (collecting a
            # multi-million-row result to Python is harness cost, not
            # engine cost — it is timed inside the oracle phase).
            t0 = time.time()
            sdf = fn(spark, sf1)
            rec["rows"] = sdf.count()
            rec["sf1_sec"] = round(time.time() - t0, 2)
            scols = sdf.columns
        except Exception as e:
            rec["err"] = f"spark: {e}"
            results[name] = rec
            failures.append(name)
            print(f"FAIL {name}: spark: {e}", flush=True)
            continue
        try:
            spark.catalog.clearCache()  # dedup/minhash persist shared rels
        except Exception:
            pass
        try:
            t0 = time.time()
            fn(spark, SF01).count()
            rec["sf01_sec"] = round(time.time() - t0, 2)
            rec["ratio"] = (
                round(rec["sf1_sec"] / rec["sf01_sec"], 1)
                if rec["sf01_sec"] > 0
                else None
            )
            spark.catalog.clearCache()
        except Exception:
            rec["sf01_sec"] = None
        if sql is None or no_oracle:
            rec["oracle"] = "rows-only" if sql is None else "skipped(--no-oracle)"
        elif rec["rows"] >= DIST_COMPARE_ROWS:
            # huge result: distributed witness — three scalars cross
            # the engine boundary, never a row (DIST_COMPARE_ROWS note)
            try:
                t0 = time.time()
                try:
                    dw = duck_witness(con, sql, budget)
                    compare = "distributed"
                    sw = spark_witness(sdf) if dw is not None else None
                except ValueError:
                    # a result type the witness lanes don't canonicalize
                    # (nested/binary): Arrow-collect fallback, with the
                    # tuple path behind it for types arrow_hash can't
                    # take either (r8 advice)
                    dw = sw = None
                    compare = None
                if compare == "distributed":
                    if dw is None:
                        rec["oracle"] = f"timeout({int(budget)}s)"
                        keyslice_fallback(rec, fn, sql, name)
                    else:
                        probs = []
                        if sorted(scols) != sorted(con.sql(sql).columns):
                            probs.append("cols differ")
                        elif sw[0] != dw[0]:
                            probs.append(f"rows {sw[0]} vs {dw[0]}")
                        elif sw != dw:
                            probs.append("value-hash mismatch")
                        rec["compare"] = "distributed"
                        rec["oracle"] = "match" if not probs else (
                            "MISMATCH: " + "; ".join(probs)
                        )
                        rec["hash_match"] = not probs
                        rec["oracle_sec"] = round(time.time() - t0, 2)
                        if probs:
                            failures.append(name)
                else:
                    duck = duck_arrow_with_budget(con, sql, budget)
                    if duck is None:
                        rec["oracle"] = f"timeout({int(budget)}s)"
                    else:
                        dcols, dtbl = duck
                        stbl = sdf.toArrow()
                        probs = []
                        if stbl.num_rows != dtbl.num_rows:
                            probs.append(
                                f"rows {stbl.num_rows} vs {dtbl.num_rows}"
                            )
                        if sorted(sdf.columns) != sorted(dcols):
                            probs.append("cols differ")
                        elif not probs:
                            try:
                                if arrow_hash(stbl) != arrow_hash(dtbl):
                                    probs.append("value-hash mismatch")
                                rec["compare"] = "arrow"
                            except ValueError:
                                if table_hash(
                                    sdf.columns, _arrow_rows(stbl, sdf.columns)
                                ) != table_hash(dcols, _arrow_rows(dtbl, dcols)):
                                    probs.append("value-hash mismatch")
                                rec["compare"] = "arrow+tuple-fallback"
                        rec["oracle"] = "match" if not probs else (
                            "MISMATCH: " + "; ".join(probs)
                        )
                        rec["hash_match"] = not probs
                        rec["oracle_sec"] = round(time.time() - t0, 2)
                        if probs:
                            failures.append(name)
            except Exception as e:
                rec["oracle"] = f"oracle error: {e}"
                failures.append(name)
        else:
            try:
                t0 = time.time()
                duck = duck_with_budget(con, sql, budget)
                if duck is None:
                    rec["oracle"] = f"timeout({int(budget)}s)"
                    keyslice_fallback(rec, fn, sql, name)
                else:
                    dcols, drows = duck
                    srows = [tuple(r) for r in sdf.collect()]
                    probs = []
                    if len(srows) != len(drows):
                        probs.append(f"rows {len(srows)} vs {len(drows)}")
                    if sorted(scols) != sorted(dcols):
                        probs.append("cols differ")
                    elif table_hash(scols, srows) != table_hash(dcols, drows):
                        probs.append("value-hash mismatch")
                    rec["oracle"] = "match" if not probs else (
                        "MISMATCH: " + "; ".join(probs)
                    )
                    rec["hash_match"] = not probs
                    # duckdb + spark-collect + hash compare time: the
                    # harness cost, kept separate from sf1_sec
                    rec["oracle_sec"] = round(time.time() - t0, 2)
                    if probs:
                        failures.append(name)
            except Exception as e:
                rec["oracle"] = f"oracle error: {e}"
                failures.append(name)
        results[name] = rec
        print(
            f"{name}: sf1 {rec.get('sf1_sec')}s ({rec.get('rows')} rows, "
            f"ratio {rec.get('ratio')}x) oracle={rec.get('oracle')}",
            flush=True,
        )

    matched = sum(
        1 for r in results.values() if str(r.get("oracle", "")).startswith("match")
    )
    timed_out = sum(
        1 for r in results.values() if str(r.get("oracle", "")).startswith("timeout")
    )
    summary = {
        "sf_dir": sf1,
        "generator": "tools/make_scale_slice.py (key-shifted sf0.1 "
        "replicas, per-replica text dialect + embedding offset)",
        "queries_run": len(results),
        "hash_matched": matched,
        "oracle_timeouts": timed_out,
        "failures": failures,
        "wall_sec": round(time.time() - t_start, 1),
        "queries": results,
    }
    if compare_to is not None:
        summary["drift"] = drift_section(results, compare_to)
        flg = summary["drift"].get("flagged", {})
        for name, d in flg.items():
            print(
                f"DRIFT {name}: {d['prior_sec']}s -> {d['now_sec']}s "
                f"({d['ratio']}x)",
                flush=True,
            )
        if not flg and "error" not in summary["drift"]:
            print(
                f"drift: none beyond {DRIFT_FLAG_RATIO}x vs {compare_to} "
                f"({summary['drift']['queries_compared']} compared)",
                flush=True,
            )
    if slice_src is not None:
        summary["key_slice"] = {
            "p": sample_keys,
            "source": slice_src,
            "note": "both engines read the same deterministic "
            "xxhash64-coin key-slice (FK-complete); hash_match rows are "
            "exact-comparison witnesses on source-scale data",
        }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1)
    print(
        f"wrote {out_path}: {matched} matched, {timed_out} oracle-timeout, "
        f"{len(failures)} failures, wall {summary['wall_sec']}s"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
