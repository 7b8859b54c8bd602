"""Adversarial-skew soak (r11 VERDICT demand #1): run the oracled
registry on the deterministic skew slices from
``tools/make_skew_slice.py`` and record one merged artifact.

Regimes:
  - ``hot``     (.soak/skew_hot): one user holds ~10% of 1M events
    (per-case-window straggler regime) + a 90/10 document source mix
    (heavy-tail mixture regime). Row counts match uniform sf1, so
    per-query wall times are directly comparable to the uniform sf1
    sweep — the runner computes that drift itself (``skew_vs_uniform``
    per query) from ``--uniform CROSSSCALE_sf1_r{N}.json``.
  - ``boiler``  (.soak/skew_boiler): the 50k uniform docs + 100k
    byte-identical boilerplate copies (200 classes x 500) + 2k
    distinct near-variants sharing MinHash bands. Near-dup candidate
    generation must stay banded/bucketed (class collapse); the OUTPUT
    of pair-emitting operators is inherently quadratic per class
    (~2.5e7 true pairs here), so the soak ALSO measures the capped
    (``max_bucket_size``) and cluster-then-keep paths a production
    pipeline uses on such a corpus.

Each regime reuses soak.py's per-query machinery via subprocess
(same oracle budgets, key-slice fallback, Arrow compare), then this
runner merges the regime artifacts, computes hot-vs-uniform drift, and
appends the ``boiler_special`` section (capped-minhash bound + recall,
signature-class stats).

Usage:
    python tools/skew_soak.py [--out CROSSSCALE_skew_r13.json]
                              [--uniform CROSSSCALE_sf1_r12.json]
                              [--budget 300] [--skip-build]
                              [--regime hot|boiler|special ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOT_DIR = os.path.join(REPO, ".soak", "skew_hot")
BOILER_DIR = os.path.join(REPO, ".soak", "skew_boiler")

# Same-volume-as-sf1 regime: every oracled query that reads events (the
# windowed/per-case/per-user families the hot key stresses) plus the
# source-mixture family the 90/10 documents stress.
HOT_QUERIES = [
    "stats_counts", "activity_stats", "per_trace_counts", "event_gaps",
    "trace_variants", "trace_intervals", "trace_starts_ends_in", "dfg",
    "dfg_endpoints", "eventually_follows", "handover_network",
    "heuristic_dependency", "heuristic_net", "footprint",
    "chronology_violations", "chronology_violations_injected",
    "filter_trace_scope", "top_traces_by_events", "path_prefixes",
    "user_sessions", "session_overlaps", "rolling_user_activity",
    "user_event_pivot", "value_outliers", "value_histogram",
    "value_hour_corr", "state_islands", "funnel_counts",
    "cohort_retention", "split_train", "sample_events", "zorder_events",
    "activity_dow_cube", "classifier_counts", "trace_clusters",
    # 90/10 source-mix family (documents)
    "source_mix", "temperature_rates", "temperature_mixture",
    "dsir_bucket_weights", "dsir_select", "per_source_cap",
    "mixture_sample", "weighted_sample_docs", "shard_assignment",
    "doc_length_quantiles", "corpus_shuffle", "pack_index",
]

# Boilerplate-corpus regime: the text/dedup families. Pair-emitting
# near-dup queries run at their REGISTRY config (uncapped) — the class
# collapse must keep candidate generation linear per identical class;
# output size is the contract (all true pairs).
BOILER_QUERIES = [
    "dedup_exact_docs", "line_dedup_docs", "doc_fingerprint",
    "minhash_near_dups", "simhash_near_dups",
    "simhash_signatures", "winnow_fingerprints", "cross_doc_substrings",
    "dedup_components", "dedup_keep_best", "leakage_safe_split",
    "incremental_dedup", "tfidf_terms", "top_bigrams",
    "token_counts_docs", "text_quality", "lang_id_docs",
    "repetition_stats", "lm_quality", "phrase_search_docs",
    "token_heavy_hitters", "bpe_token_counts", "pii_scrub", "chunk_docs",
    "decontaminate", "corpus_cardinality",
]


def run_soak(sf_dir: str, out: str, queries: list[str], budget: float,
             slice_fallback: float | None) -> dict:
    # a stale partial from an interrupted prior run must never be
    # mistaken for this run's results (r12 ADVICE): remove it up
    # front, and fail loudly if the subprocess dies before writing.
    out_abs = os.path.join(REPO, out)
    if os.path.exists(out_abs):
        os.remove(out_abs)
    cmd = [
        sys.executable, os.path.join(REPO, "tools", "soak.py"),
        "--sf1", sf_dir, "--out", out, "--oracle-budget", str(budget),
    ]
    if slice_fallback:
        cmd += ["--slice-fallback", str(slice_fallback)]
    cmd += queries
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=REPO, env=env)
    print(f"soak({sf_dir}) rc={proc.returncode} "
          f"wall={time.time() - t0:.0f}s", flush=True)
    if not os.path.exists(out_abs):
        raise RuntimeError(
            f"soak subprocess (rc={proc.returncode}) wrote no artifact "
            f"at {out}: regime results unavailable"
        )
    with open(out_abs) as f:
        regime = json.load(f)
    regime["soak_rc"] = proc.returncode
    return regime


def hot_vs_uniform(hot: dict, uniform_path: str) -> None:
    """Annotate each hot-regime query with its wall-time ratio vs the
    SAME query on the uniform sf1 slice (identical row counts, skewed
    keys) — the number that isolates pure key-skew cost."""
    try:
        with open(uniform_path) as f:
            uni = json.load(f).get("queries", {})
    except (OSError, ValueError):
        return
    for name, rec in hot.get("queries", {}).items():
        u = uni.get(name, {}).get("sf1_sec")
        s = rec.get("sf1_sec")
        if u and s:
            rec["uniform_sf1_sec"] = u
            rec["skew_vs_uniform"] = round(s / u, 2)


def boiler_special(budget: float) -> dict:
    """The bounded production paths on the boilerplate corpus:

    - ``capped_minhash``: registry minhash config + max_bucket_size=32
      (counts CLASSES per band bucket). Records wall, pair count, and
      recall vs the uncapped run — the documented bound for residual
      near-identical skew.
    - ``signature_classes``: corpus signature-class profile (classes,
      largest class, docs in >1-member classes) — the numbers that
      prove candidate generation collapsed the mega-cluster.
    """
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    from promi_spark.io import load_table
    from promi_spark.lifetime import scope
    from promi_spark.operators import dedup
    from promi_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("skew_special")
    docs = load_table(spark, "documents", BOILER_DIR)
    out: dict = {}

    t0 = time.time()
    sigs = dedup.minhash_signatures(docs)
    classes = (
        sigs.groupBy("sig").count()
        .agg(
            F.count("*").alias("n_classes"),
            F.max("count").alias("largest_class"),
            F.sum(F.when(F.col("count") > 1, F.col("count"))).alias(
                "docs_in_multi_classes"
            ),
        )
        .first()
    )
    out["signature_classes"] = {
        "n_docs": docs.count(),
        "n_classes": classes["n_classes"],
        "largest_class": classes["largest_class"],
        "docs_in_multi_member_classes": int(
            classes["docs_in_multi_classes"] or 0
        ),
        "profile_sec": round(time.time() - t0, 1),
    }
    spark.catalog.clearCache()

    t0 = time.time()
    uncapped = dedup.minhash_dedup(docs, threshold=0.5).count()
    un_sec = round(time.time() - t0, 1)
    spark.catalog.clearCache()
    t0 = time.time()
    capped = dedup.minhash_dedup(
        docs, threshold=0.5, max_bucket_size=32
    ).count()
    cap_sec = round(time.time() - t0, 1)
    spark.catalog.clearCache()
    out["capped_minhash"] = {
        "max_bucket_size": 32,
        "uncapped_pairs": uncapped,
        "uncapped_sec": un_sec,
        "capped_pairs": capped,
        "capped_sec": cap_sec,
        "recall_vs_uncapped": round(capped / uncapped, 4) if uncapped else None,
        "note": "cap counts CLASSES per band bucket; identical-copy "
        "classes collapse before banding so the cap only prunes the "
        "distinct near-variant tier's residual buckets",
    }

    # cluster-then-keep: the production answer to a mega-cluster — one
    # survivor per near-dup component instead of 2.5e7 pairs downstream
    with scope():
        t0 = time.time()
        pairs = dedup.minhash_dedup(docs, threshold=0.5)
        kept = dedup.dedup_keep_best(docs, pairs, "n_chars")
        n_kept = kept.count()
        out["cluster_then_keep"] = {
            "survivors": n_kept,
            "dropped": out["signature_classes"]["n_docs"] - n_kept,
            "sec": round(time.time() - t0, 1),
        }
    spark.catalog.clearCache()
    return out


def main() -> int:
    args = sys.argv[1:]

    def opt(flag, default):
        if flag in args:
            i = args.index(flag)
            v = args[i + 1]
            del args[i : i + 2]
            return v
        return default

    out_path = opt("--out", "CROSSSCALE_skew_r13.json")
    uniform = opt("--uniform", "CROSSSCALE_sf1_r13.json")
    budget = float(opt("--budget", "300"))
    skip_build = "--skip-build" in args
    args = [a for a in args if a != "--skip-build"]
    regimes = [a for a in args if not a.startswith("--")] or [
        "hot", "boiler", "special"
    ]

    if not skip_build and not (
        os.path.exists(os.path.join(HOT_DIR, "events.parquet"))
        and os.path.exists(os.path.join(BOILER_DIR, "documents.parquet"))
    ):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "make_skew_slice.py")],
            cwd=REPO, check=True,
        )

    summary: dict = {
        "generator": "tools/make_skew_slice.py (deterministic md5 coins "
        "over the uniform sf1 slice)",
        "regimes": {},
    }
    if os.path.exists(out_path):  # resume/merge partial regime runs
        try:
            with open(out_path) as f:
                summary = json.load(f)
        except ValueError:
            pass

    t_start = time.time()
    if "hot" in regimes:
        hot = run_soak(HOT_DIR, "_skew_hot_part.json", HOT_QUERIES,
                       budget, slice_fallback=None)
        hot_vs_uniform(hot, uniform)
        summary["regimes"]["hot"] = hot
    if "boiler" in regimes:
        boiler = run_soak(BOILER_DIR, "_skew_boiler_part.json",
                          BOILER_QUERIES, budget, slice_fallback=0.02)
        summary["regimes"]["boiler"] = boiler
    if "special" in regimes:
        summary["regimes"]["boiler_special"] = boiler_special(budget)

    summary["wall_sec"] = round(time.time() - t_start, 1)
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1)
    for part in ("_skew_hot_part.json", "_skew_boiler_part.json"):
        p = os.path.join(REPO, part)
        if os.path.exists(p):
            os.remove(p)
    fails = [
        n
        for r in ("hot", "boiler")
        for n in summary["regimes"].get(r, {}).get("failures", [])
    ]
    print(f"wrote {out_path}; failures: {fails or 'none'}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
