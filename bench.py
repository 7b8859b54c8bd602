"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line the driver records as BENCH_r{N}.json.

Each query is forced with a count() (no driver-side materialization of
result rows beyond the aggregate) after a warm-up pass builds the scans'
file indexes; timings are per-query wall clock.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family (SURVEY §2) — filters, stats,
# windows/validation, DFG mining, split, relational joins, dedup, text,
# similarity.
HEADLINE = [
    "stats_counts",
    "filter_concept_in",
    "filter_trace_scope",
    "cnf_filter",
    "event_gaps",
    "chronology_violations_injected",
    "dfg_endpoints",
    "trace_variants",
    "heuristic_dependency",
    "split_train",
    "tpch_q1",
    "tpch_q6",
    "revenue_by_nation",
    "order_priority_counts",
    "dedup_exact_docs",
    "minhash_near_dups",
    "text_quality",
    "lang_id_docs",
    "knn_cosine",
    "knn_join_topk",
    "top_traces_by_events",
    "token_replay_fitness",
    "media_decode_stats",
]


def timed_count(spark, fn) -> float:
    """Seconds to build and count one registered query. The query runs
    inside a lifetime scope, so what it pins — checkpoints too, which
    ``clearCache()`` cannot free — is freed before the next one; the
    release is not timed."""
    from promi_spark.lifetime import scope

    with scope():
        t0 = time.time()
        fn(spark, SF_DIR).count()
        return round(time.time() - t0, 3)


def bench_neardup_pipeline(spark) -> dict:
    """The production dedup path as ONE headline: minhash_dedup (banded
    candidates + exact-Jaccard verify) -> dedup_components (transitive
    clustering) -> keep-representative anti-join — the NearDupDedup
    transitive=true segment, end to end. Reports wall time plus the
    plan-note counters (verified pairs, components, star-rewrite rounds
    — 0 when the pair graph already is a star forest — and surviving
    docs)."""
    from pyspark.sql import functions as F

    from promi_spark.io import load_table
    from promi_spark.lifetime import scope
    from promi_spark.operators.dedup import dedup_components, minhash_dedup

    docs = load_table(spark, "documents", SF_DIR)
    with scope():
        t0 = time.time()
        pairs = minhash_dedup(docs, threshold=0.7)
        comp = dedup_components(pairs)
        drop = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
        kept = docs.join(drop, "doc_id", "left_anti").count()
        sec = round(time.time() - t0, 3)
        return {
            "sec": sec,
            "verified_pairs": pairs.count(),
            "components": comp.select("component").distinct().count(),
            "rounds_to_convergence": comp.n_rounds,
            "kept_docs": kept,
        }


def drain_streaming(
    spark, sf_dir: str, n_files: int, files_per_trigger: int, label: str
) -> dict:
    """Streaming throughput measurement shared by the bench's streaming
    section and ``tools/stream_soak.py`` (one implementation so the two
    artifacts can never disagree about how the metric is computed):
    replay the sf events table through a file source (``n_files``
    replay files, ``files_per_trigger`` per micro-batch) and drain
    sessionize + stateful_dfg with availableNow triggers; rows/sec =
    input rows over drain wall time. This measures the micro-batch
    engine + state-store path, not a socket's arrival rate. Also
    drains a single availableNow batch of stateful_dfg — the amortized
    steady-state bound (r6 profiling: per-trigger fixed cost, not
    per-row Python, dominates small batches)."""
    import shutil
    import tempfile

    from promi_spark.io import load_event_log
    from promi_spark.streaming import (
        read_event_stream,
        run_to_memory,
        sessionize,
        stateful_dfg,
    )

    replay = tempfile.mkdtemp(prefix=f"{label}_replay_")
    try:
        log = load_event_log(spark, sf_dir)
        log.df.repartition(n_files).write.mode("overwrite").parquet(replay)
        n_rows = spark.read.parquet(replay).count()
        out = {"input_rows": n_rows}
        for name, build in (
            ("sessionize", lambda ev: sessionize(ev, key_col="resource")),
            ("stateful_dfg", stateful_dfg),
        ):
            ev = read_event_stream(
                spark, replay, max_files_per_trigger=files_per_trigger
            )
            t0 = time.time()
            q = run_to_memory(build(ev), f"{label}_{name}")
            sec = time.time() - t0
            q.stop()
            out[f"{name}_sec"] = round(sec, 3)
            out[f"{name}_rows_per_sec"] = round(n_rows / sec)
        ev = read_event_stream(spark, replay)
        t0 = time.time()
        q = run_to_memory(stateful_dfg(ev), f"{label}_dfg_1batch")
        sec = time.time() - t0
        q.stop()
        out["stateful_dfg_1batch_sec"] = round(sec, 3)
        out["stateful_dfg_1batch_rows_per_sec"] = round(n_rows / sec)
        return out
    finally:
        shutil.rmtree(replay, ignore_errors=True)


def bench_streaming(spark) -> dict:
    return drain_streaming(spark, SF_DIR, n_files=16, files_per_trigger=4,
                           label="bench")


# Second headline (r11): the r8-r10 operator growth — Bloom/DSIR/PQ/
# temperature/semantic-dedup families — recorded as its own total
# (value2/queries2 on stdout) so regressions in the newer stack are
# driver-visible WITHOUT breaking the historical 23-query comparison
# line against the round-1 31.1s gate. Cold+warm per query, cache
# cleared between entries (several persist shared relations).
HEADLINE2 = [
    "decontaminate",
    "bloom_decontaminate",
    "dsir_select",
    "token_heavy_hitters",
    "temperature_mixture",
    "weighted_sample_docs",
    "pq_topk",
    "pq_rerank_topk",
    "ivfpq_indexed_topk",
    "semantic_dedup",
    "simhash_near_dups",
    "incremental_dedup",
]


def bench_headline2(spark) -> dict:
    from promi_spark.queries import QUERIES

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    rep3: dict[str, float] = {}
    for name in HEADLINE2:
        fn, _ = QUERIES[name]
        cold[name] = timed_count(spark, fn)
        warm[name] = timed_count(spark, fn)
        rep3[name] = timed_count(spark, fn)
        spark.catalog.clearCache()  # drops what was cached outside a scope
    # clearCache above wiped EVERYTHING, including relations the earlier
    # headline passes warmed — re-warm the fixture scans so the sections
    # that follow (neardup/streaming/extras) run under the same cache
    # state they had before headline2 existed (pre-r11 comparability;
    # r11 ADVICE).
    QUERIES["stats_counts"][0](spark, SF_DIR).count()
    QUERIES["media_decode_stats"][0](spark, SF_DIR).count()
    min3 = {
        n: round(min(cold[n], warm[n], rep3[n]), 3) for n in HEADLINE2
    }
    return {
        "queries2": cold,
        "queries2_warm": warm,
        "queries2_rep3": rep3,
        "queries2_min3": min3,
        "value2": round(sum(cold.values()), 3),
        "warm2_total": round(sum(warm.values()), 3),
        "min3_total2": round(sum(min3.values()), 3),
    }


def bench_index_serving(spark) -> dict:
    """Split the persisted-ANN paths into their two real phases: index
    BUILD (train + write, an offline batch job) and SERVE (answer one
    query from the on-disk index, the production-critical latency).
    The composed ivf_indexed_topk / ivfpq_indexed_topk headline2
    entries time build+serve together, so a serving regression — the
    number that matters for a query node — would hide under ~4 s of
    build noise (r11 VERDICT demand). Uses fresh index paths so the
    build is never satisfied by a previous run's artifacts."""
    import hashlib
    import shutil

    from pyspark.sql import functions as F

    from promi_spark.operators import pq
    from promi_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk_indexed,
        write_ivf_index,
    )
    from promi_spark.io import load_table
    from promi_spark.queries import _query_vec

    emb = load_table(spark, "embeddings", SF_DIR)
    qid, qvec = _query_vec(emb)
    corp = emb.filter(F.col("vec_id") != qid)
    tag = hashlib.md5(SF_DIR.encode()).hexdigest()[:8]
    out: dict[str, dict[str, float]] = {}

    path = f"/tmp/promi_spark_bench_ivf_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.time()
    cents = ivf_centroids(corp, 8, init="lowest_ids", n_iter=0)
    write_ivf_index(corp, cents, path)
    build = round(time.time() - t0, 3)
    t0 = time.time()
    ivf_topk_indexed(spark, path, qvec, k=10, nprobe=3).count()
    out["ivf"] = {"build": build, "serve": round(time.time() - t0, 3)}

    path = f"/tmp/promi_spark_bench_ivfpq_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.time()
    cents = ivf_centroids(corp, 8, init="lowest_ids", n_iter=0)
    books = pq.pq_codebooks(
        corp, dim=64, m_subspaces=4, n_codes=16, init="lowest_ids", n_iter=0
    )
    pq.write_ivfpq_index(corp, cents, books, path)
    build = round(time.time() - t0, 3)
    t0 = time.time()
    pq.ivfpq_topk_indexed(spark, path, qvec, k=10, nprobe=3).count()
    out["ivfpq"] = {"build": build, "serve": round(time.time() - t0, 3)}
    spark.catalog.clearCache()
    return out


# Round-5 additions, timed in their own section so the 23-query totals
# stay comparable round-over-round. Cold+warm per query.
EXTRAS = [
    "asof_attribution",
    "cross_doc_substrings",
    "mixture_sample",
    "leakage_safe_split",
    "quality_classifier",
    "tpch_q3",
    "bpe_learned_tokens",
    "dfg_alignment_fitness",
]


def bench_extras(spark) -> dict:
    from promi_spark.queries import QUERIES

    out: dict[str, float] = {}
    for name in EXTRAS:
        fn, _ = QUERIES[name]
        out[name] = timed_count(spark, fn)
        out[f"{name}_warm"] = timed_count(spark, fn)
        spark.catalog.clearCache()  # drops what was cached outside a scope
    return out


def _steal_ticks() -> int | None:
    """Cumulative hypervisor steal ticks from /proc/stat (column 8 of
    the aggregate cpu line) — the direct signature of the box-noise
    waves that invalidated single wall-clock runs in r14 (VERDICT r14
    item 1). None where the kernel does not expose it."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) if parts[0] == "cpu" and len(parts) > 8 else None
    except (OSError, ValueError, IndexError):
        return None


def canary_probe(spark, reps: int = 3) -> float:
    """Steal canary (r14 VERDICT item 1): min-of-``reps`` wall time of
    a fixed, trivial, purely-JVM workload (no parquet, no Python) —
    ~0.1 s on a quiet box at any core count that matters. A probe far
    above its same-run siblings stamps that section of the bench as
    storm-time; the probes rise and fall with the hypervisor steal
    waves, not with any query's code."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        spark.range(20_000_000).selectExpr(
            # bit_xor, not sum: the session runs ANSI mode and a sum of
            # 2e7 xxhash64 longs overflows
            "bit_xor(xxhash64(id))"
        ).collect()
        best = min(best, time.time() - t0)
    return round(best, 3)


def stdout_line(detail: dict) -> str:
    """The ONE-line stdout JSON the driver parses. It must stay well
    under the driver's 2000-char tail window (the r5/r6 artifacts had
    ``"parsed": null`` because the full detail line blew past it), so
    it carries only the contract's required fields — cold per-query
    timings, totals, sf — plus the compact streaming rows/s, and
    points at the BENCH_SELF.json sidecar for everything else.
    Length is pinned by ``tests/test_bench_contract.py``."""
    streaming = detail.get("streaming", {})
    return json.dumps(
        {
            "metric": "headline_queries_total",
            "value": detail["value"],
            "unit": "sec",
            "queries": detail["queries"],
            "warm_total": detail["warm_total"],
            # r15 noise defense (ADDITIONS ONLY — the historical keys
            # above keep their exact prior semantics): per-query
            # min-of-3 inside the one JVM (cold pass, warm pass, third
            # pass), compacted to a float array in HEADLINE order so
            # the line stays inside the driver's 2000-char tail window
            # (named maps live in BENCH_SELF.json); canary = steal
            # probes (canary_probe docstring) bracketing the sections
            # plus the /proc/stat steal share over the whole run.
            "min3_total": detail.get("min3_total"),
            "min3": detail.get("min3_compact"),
            "canary": detail.get("canary"),
            "value2": detail.get("headline2", {}).get("value2"),
            "queries2": detail.get("headline2", {}).get("queries2"),
            "min3_total2": detail.get("headline2", {}).get("min3_total2"),
            # ANN serving split (r11 VERDICT demand): build is the
            # offline job, serve the production query-node latency
            "index_serving": detail.get("index_serving"),
            "streaming_rps": {
                "sessionize": streaming.get("sessionize_rows_per_sec"),
                "stateful_dfg": streaming.get("stateful_dfg_rows_per_sec"),
                "stateful_dfg_1batch": streaming.get(
                    "stateful_dfg_1batch_rows_per_sec"
                ),
            },
            "sf": detail["sf"],
            "detail": "BENCH_SELF.json",
        }
    )


def main() -> int:
    from promi_spark.queries import QUERIES
    from promi_spark.session import get_spark

    spark = get_spark("promi_spark_bench")

    sf = None
    try:
        import re

        m = re.search(r"sf([\d.]+)", SF_DIR)
        sf = float(m.group(1).rstrip(".")) if m else None
    except Exception:
        pass

    # Warm-up: JVM + parquet footer reads, not counted. The media
    # fixture build (one-time parquet write of the synthetic blob
    # corpus) also happens here so timed passes measure scan+decode.
    QUERIES["stats_counts"][0](spark, SF_DIR).count()
    QUERIES["media_decode_stats"][0](spark, SF_DIR).count()

    def run_pass() -> dict[str, float]:
        return {name: timed_count(spark, QUERIES[name][0]) for name in HEADLINE}

    # Pass 1 = cold (fresh JVM; comparable round-over-round). Pass 2 =
    # warm (code/codegen caches hot) — closer to steady-state cluster
    # throughput, where JVM startup amortizes away. Pass 3 (r15, noise
    # defense per r14 VERDICT item 1): a third rep so each query's
    # min-of-3-in-one-JVM is reported alongside — a steal wave inflates
    # any single wall-clock pass, but rarely all three reps of all
    # queries, so the min-of-3 total is the adjudicable headline on a
    # steal-prone box. Canary probes bracket the sections; /proc/stat
    # steal ticks are sampled across the whole run.
    steal0, t_run0 = _steal_ticks(), time.time()
    canary = {"start": canary_probe(spark)}
    timings = run_pass()
    warm = run_pass()
    pass3 = run_pass()
    canary["mid"] = canary_probe(spark)
    min3 = {
        n: round(min(timings[n], warm[n], pass3[n]), 3) for n in HEADLINE
    }

    # extra headline sections (separate keys so the 23-query totals stay
    # comparable round-over-round)
    headline2 = bench_headline2(spark)
    index_serving = bench_index_serving(spark)
    neardup = bench_neardup_pipeline(spark)
    streaming = bench_streaming(spark)
    extras = bench_extras(spark)
    canary["end"] = canary_probe(spark)
    steal1 = _steal_ticks()
    if steal0 is not None and steal1 is not None:
        # steal share of the run: steal ticks (USER_HZ = 10 ms) over
        # wall time x all cpus — >1-2% marks a storm window
        wall = time.time() - t_run0
        ncpu = os.cpu_count() or 1
        canary["steal_pct"] = round(
            100.0 * (steal1 - steal0) * 0.01 / (wall * ncpu), 2
        )

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_warm": warm,
        "queries_pass3": pass3,
        "queries_min3": min3,
        "min3_total": round(sum(min3.values()), 3),
        # compact form for the stdout line: floats in HEADLINE order
        "min3_compact": [min3[n] for n in HEADLINE],
        "canary": canary,
        "warm_total": round(sum(warm.values()), 3),
        "headline2": headline2,
        "index_serving": index_serving,
        "neardup_pipeline": neardup,
        "streaming": streaming,
        "extras": extras,
        "sf": sf,
    }
    # Full detail goes to the sidecar; the stdout line stays SHORT. The
    # r5/r6 artifacts had "parsed": null because the driver's tail
    # window truncated the head of the multi-KB detail line — so the
    # final stdout JSON carries only the per-query cold timings (the
    # contract's required "queries" map) plus totals and a pointer, and
    # the warm/neardup/streaming/extras sections live in BENCH_SELF.json.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SELF.json"),
            "w",
        ) as fh:
            fh.write(json.dumps(detail) + "\n")
    except OSError:
        pass
    line = stdout_line(detail)
    sys.stderr.flush()
    sys.stdout.flush()
    sys.stdout.write("\n" + line + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
