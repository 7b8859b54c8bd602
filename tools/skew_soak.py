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
#
# mllib_minhash_near_dups is handled SEPARATELY (boiler_special's
# ``mllib_minhash`` section, capped + keyslice-witnessed) and is
# deliberately NOT in this list: MLlib's MinHashLSH is a single-hash
# OR-construction (collision probability per table == the pair's
# Jaccard itself) with no identical-signature collapse, so on a corpus
# that is 2/3 byte-identical boilerplate with heavy cross-class
# shingle overlap its candidate space is effectively quadratic — an
# uncapped run blocks the whole regime (observed r13: >14 min with no
# output where the class-collapsed default path takes 35 s). That
# asymmetry is a finding, not an accident; the special section records
# it as numbers.
BOILER_QUERIES = [
    "dedup_exact_docs", "line_dedup_docs", "doc_fingerprint",
    "minhash_near_dups", "simhash_near_dups",
    "simhash_signatures", "winnow_fingerprints", "cross_doc_substrings",
    "dedup_components", "dedup_components_stars", "dedup_keep_best",
    "leakage_safe_split", "incremental_dedup", "tfidf_terms",
    "top_bigrams", "token_counts_docs", "text_quality", "lang_id_docs",
    "repetition_stats", "lm_quality", "phrase_search_docs",
    "token_heavy_hitters", "bpe_token_counts", "pii_scrub", "chunk_docs",
    "decontaminate", "corpus_cardinality",
]

# Engine-side wall cap for the full-slice MLlib probe (seconds): long
# enough that a healthy run would finish several times over (the
# class-collapsed path emits the same 27.9M pairs in 35 s), short
# enough to bound the regime.
MLLIB_CAP_SEC = 1200


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


def mllib_probe(budget: float) -> dict:
    """mllib_minhash_near_dups on the boilerplate corpus, in two parts:

    - ``full_slice``: the uncapped-registry config under a HARD wall
      cap (``timeout`` on a subprocess). MLlib's single-hash
      OR-construction has no identical-signature collapse, so on this
      corpus the candidate join is effectively quadratic; if the cap
      fires, the recorded bound IS the measurement — the number that
      justifies the class-collapsed default path (35 s for the same
      27.9M true pairs).
    - ``keyslice``: the same query hash-verified against its exact
      -Jaccard oracle on the deterministic 2% key-slice of the SAME
      corpus (classes of ~10 copies) — boiler-distribution correctness
      evidence at a size where the MLlib join is tractable.
    """
    out: dict = {}
    probe = "_mllib_probe.json"
    probe_abs = os.path.join(REPO, probe)
    if os.path.exists(probe_abs):
        os.remove(probe_abs)
    t0 = time.time()
    proc = subprocess.run(
        ["timeout", str(MLLIB_CAP_SEC), sys.executable,
         os.path.join(REPO, "tools", "soak.py"), "--sf1", BOILER_DIR,
         "--no-oracle", "--out", probe, "mllib_minhash_near_dups"],
        cwd=REPO, env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "16g"},
    )
    wall = round(time.time() - t0, 1)
    if proc.returncode == 0 and os.path.exists(probe_abs):
        with open(probe_abs) as f:
            rec = json.load(f)["queries"]["mllib_minhash_near_dups"]
        rec["harness_wall_sec"] = wall
        out["full_slice"] = rec
    else:
        out["full_slice"] = {
            "exceeded_cap": proc.returncode == 124,
            "cap_sec": MLLIB_CAP_SEC,
            "rc": proc.returncode,
            "wall_sec": wall,
            "note": "single-hash OR-construction LSH with no "
            "identical-signature collapse: candidate space is "
            "~quadratic on a 2/3-boilerplate corpus; the class-"
            "collapsed default path emits the same true-pair set in "
            "~35 s (see the boiler regime's minhash_near_dups row)",
        }
    if os.path.exists(probe_abs):
        os.remove(probe_abs)

    ks_dir = BOILER_DIR + "_keyslice_p0.02"
    ks_out = "_mllib_keyslice.json"
    ks_abs = os.path.join(REPO, ks_out)
    if os.path.exists(ks_abs):
        os.remove(ks_abs)
    if not os.path.exists(os.path.join(ks_dir, "lineitem.parquet")):
        # completion marker, not bare isdir: make_key_slice mkdirs the
        # target before writing tables, so an interrupted build would
        # otherwise permanently satisfy the existence check and poison
        # every later run with a partial slice (same guard soak.py's
        # lazy path uses)
        # soak.py only materializes this slice lazily when a full-data
        # oracle times out during the boiler regime — running
        # `--regime special` alone (or a boiler run with no oracle
        # timeouts, or a fresh checkout) used to silently record
        # {"err": "no artifact"} and quietly drop the advertised MLlib
        # correctness witness. Build the slice explicitly instead.
        if not os.path.isdir(BOILER_DIR):
            out["keyslice"] = {
                "err": "boiler corpus missing — run the boiler regime "
                "first to materialize " + BOILER_DIR
            }
            return out
        build = (
            "import sys; sys.path.insert(0, %r); "
            "from tools.soak import make_key_slice; "
            "from promi_spark.session import get_spark; "
            "make_key_slice(get_spark('keyslice_build'), %r, %r, 0.02)"
            % (REPO, BOILER_DIR, ks_dir)
        )
        proc = subprocess.run(
            [sys.executable, "-c", build], cwd=REPO,
            env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "16g"},
        )
        if proc.returncode != 0 or not os.path.exists(
            os.path.join(ks_dir, "lineitem.parquet")
        ):
            out["keyslice"] = {
                "err": "keyslice build failed rc=%s" % proc.returncode
            }
            return out
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "soak.py"),
         "--sf1", ks_dir, "--oracle-budget", str(budget),
         "--out", ks_out, "mllib_minhash_near_dups"],
        cwd=REPO, env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "16g"},
    )
    if os.path.exists(ks_abs):
        with open(ks_abs) as f:
            rec = json.load(f)["queries"]["mllib_minhash_near_dups"]
        rec["slice"] = "boiler keyslice p0.02 (classes of ~10 copies)"
        out["keyslice"] = rec
        os.remove(ks_abs)
    else:
        out["keyslice"] = {"rc": proc.returncode, "err": "no artifact"}
    return out


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
        special = boiler_special(budget)
        special["mllib_minhash"] = mllib_probe(budget)
        summary["regimes"]["boiler_special"] = special

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
