"""Repetition quality signals + benchmark decontamination
(training-data pipeline operators beyond the reference surface)."""

from pyspark.sql import functions as F

from promi_spark.operators.text import ngram_overlap, repetition_stats


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_repetition_flags_repeated_text(spark):
    rows = {
        r["doc_id"]: r
        for r in repetition_stats(
            _docs(
                spark,
                [
                    "spam spam spam spam spam spam",   # all one 2-gram
                    "one two three four five six",      # no repetition
                    "",                                 # empty
                ],
            )
        ).collect()
    }
    assert rows[0]["dup_2gram_frac"] > 0.7
    assert rows[0]["top_2gram_token_frac"] > 0.9
    assert rows[1]["dup_2gram_frac"] == 0.0
    assert rows[1]["top_2gram_count"] == 1
    assert rows[2]["top_2gram_count"] == 0


def test_overlap_flags_contaminated_docs(spark):
    bench = _docs(spark, ["the quick brown fox jumps over the lazy dog"])
    train = spark.createDataFrame(
        [
            (10, "copied text the quick brown fox jumps over it all"),
            (11, "completely unrelated words with no shared grams here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in ngram_overlap(train, bench, n=5, min_shared=1).collect()
    }
    assert got[10]["contaminated"] and got[10]["n_shared"] >= 1
    assert not got[11]["contaminated"] and got[11]["n_shared"] == 0


def test_overlap_benchmark_side_is_broadcast(spark):
    """The benchmark gram set must broadcast — the corpus side of the
    probe join never shuffles."""
    bench = _docs(spark, ["a b c d e f g h"])
    train = _docs(spark, ["a b c d e x y z"])
    df = ngram_overlap(train, bench, n=5)
    je = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in je


def test_pack_index_boundary_spans(spark):
    """A doc crossing the window boundary appears in every chunk it
    spans; chunk token loads never exceed budget except via the
    crossing doc itself."""
    from pyspark.sql import functions as F

    from promi_spark.operators.text import pack_index

    # 4 docs x 6 tokens, budget 10, one shard -> doc at tokens [6,12)
    # must appear in chunks 0 and 1
    docs = _docs(spark, ["a b c d e f"] * 4)
    out = pack_index(docs, budget=10, n_shards=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["chunk"])
    spanning = [d for d, cs in by_doc.items() if len(cs) > 1]
    assert spanning, "expected at least one boundary-crossing doc"
    for cs in by_doc.values():
        assert cs == sorted(cs) and cs == list(range(cs[0], cs[-1] + 1))
    # total token mass conserved: sum over docs (not chunk copies)
    assert sum(6 for _ in by_doc) == 24


def test_pack_index_default_shards_scale_with_parallelism(spark, monkeypatch):
    """The n_shards default derives from cluster parallelism (4x max of
    defaultParallelism and shuffle.partitions), so the cumsum window
    never funnels the corpus into a fixed handful of partitions at
    scale; and the conf guard tolerates non-numeric shuffle.partitions
    values (e.g. 'auto' on AQE-auto platforms)."""
    from promi_spark.operators.scale import parallelism_units
    from promi_spark.operators.text import pack_index

    units = parallelism_units(spark)
    assert units == 4 * max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    assert units >= 4 * spark.sparkContext.defaultParallelism

    # non-numeric conf value (local Spark rejects setting it, so stub
    # the getter the way a Databricks AQE-auto session would answer)
    # falls back to defaultParallelism instead of raising ValueError
    monkeypatch.setattr(
        spark.conf, "get", lambda key, default=None: "auto"
    )
    assert (
        parallelism_units(spark)
        == 4 * spark.sparkContext.defaultParallelism
    )
    monkeypatch.undo()

    # the derived default actually lands in the plan: distinct shard
    # count is bounded by units, and the index is well-formed
    docs = _docs(spark, ["a b c"] * 20)
    out = pack_index(docs, budget=5)
    assert out.select("shard").distinct().count() <= units


def test_dedup_components_chain_and_isolation(spark):
    """A chain a-b, b-c collapses to one component labeled by the min
    id; an unrelated pair forms its own component; non-paired docs do
    not appear."""
    from promi_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in dedup_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_components_mixed_graph_and_long_path(spark):
    """The exact (doc_id, component) map on a graph mixing a chain, a
    star, an isolated pair, and a cycle; and a path graph of diameter
    200 converges under the DEFAULT max_iter in O(log n) rounds — <= 12
    large+small rounds, not the ~200 an O(diameter) loop needs."""
    from promi_spark.lifetime import scope
    from promi_spark.operators.dedup import dedup_components

    mixed = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 5), (7, 6), (7, 8), (10, 11), (20, 21),
         (21, 22), (22, 20)],
        "a long, b long",
    )
    with scope():
        got = {
            r["doc_id"]: r["component"]
            for r in dedup_components(mixed).collect()
        }
    assert got == {
        1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 5, 8: 5, 10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "a long, b long"
    )
    with scope():
        out = dedup_components(chain)
        got = {r["doc_id"]: r["component"] for r in out.collect()}
    assert got == {i: 0 for i in range(201)}
    assert out.n_rounds <= 12, out.n_rounds


def test_dedup_components_star_forest_stop(spark):
    """A pair set that already is a star forest (isolated pairs, one doc
    paired with larger ones) takes no rewrite round and keeps the
    component-minimum labels."""
    from promi_spark.lifetime import scope
    from promi_spark.operators.dedup import dedup_components

    forest = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 1), (10, 11), (20, 22), (21, 20)],
        "a long, b long",
    )
    with scope():
        out = dedup_components(forest)
        got = {r["doc_id"]: r["component"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20,
                   21: 20, 22: 20}
    assert out.n_rounds == 0


def test_bigram_lm_scores_rank_noise_below_fluent(spark):
    """Cross-entropy under the corpus-trained bigram LM ranks a
    gibberish document above (= less probable than) the fluent
    repetitive ones; cross-corpus scoring reports OOV bigrams."""
    from promi_spark.operators.text import bigram_lm_scores

    fluent = "the cat sat on the mat and the dog sat on the rug"
    docs = _docs(
        spark, [fluent, fluent, fluent, "zq xv qj wk vx jq kz qq ww zz"]
    )
    ce = {
        r["doc_id"]: r["avg_neg_log_p"]
        for r in bigram_lm_scores(docs, cross_entropy=True).collect()
    }
    assert ce[3] == max(ce.values()) and ce[3] > ce[0]

    # train on the fluent docs only; the noise doc is fully OOV
    train = docs.filter("doc_id < 3")
    rows = {
        r["doc_id"]: r
        for r in bigram_lm_scores(docs, train_df=train).collect()
    }
    assert rows[3]["oov_rate"] == 1.0
    assert rows[0]["oov_rate"] == 0.0
    assert rows[3]["mean_bigram_p"] < rows[0]["mean_bigram_p"]


def test_incremental_dedup_composes_with_batch(spark, tmp_path):
    """Index 80% of the corpus, probe the remaining 20% as a batch:
    within-index pairs + incremental pairs must equal the full batch
    minhash_dedup pair set (same signatures, same banding — identical
    recall), and the meta sidecar pins the geometry."""
    from pyspark.sql import functions as F

    from promi_spark.io import load_table
    from promi_spark.lifetime import scope
    from promi_spark.operators.dedup import (
        minhash_dedup,
        minhash_dedup_incremental,
        write_minhash_index,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "mh_index")
    write_minhash_index(old, path)

    with scope():
        full = {
            (r["a"], r["b"]): r["jaccard_sim"]
            for r in minhash_dedup(docs, threshold=0.5).collect()
        }
        old_only = {
            (r["a"], r["b"]): r["jaccard_sim"]
            for r in minhash_dedup(old, threshold=0.5).collect()
        }
    inc = {
        (r["a"], r["b"]): r["jaccard_sim"]
        for r in minhash_dedup_incremental(
            new, path, threshold=0.5, cache=False
        ).collect()
    }
    assert inc  # the injected duplicates cross the split
    assert set(old_only).isdisjoint(inc)
    merged = {**old_only, **inc}
    assert merged == full


def test_source_mix_shares_sum_to_one(spark):
    """Token shares across sources partition the corpus: they sum to 1
    (within rounding) and every aggregate is integer-exact."""
    from promi_spark.io import load_table
    from promi_spark.operators.text import source_mix

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    rows = source_mix(docs).collect()
    assert len(rows) > 1
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-4
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert 0.0 <= r["punct_rate"] <= 1.0 and r["mean_chars"] > 0


def test_dedup_components_nonconvergence_releases_cache(spark):
    """The non-convergence RuntimeError path frees every round's state —
    a failed run must leave no cached relation or checkpoint pinned in
    the session, inside a scope or outside one. Only RDDs created by
    the call count: Spark's cleaner may free RDDs that earlier unscoped
    callers left stored, so the stored set may shrink meanwhile."""
    import pytest

    from promi_spark.lifetime import scope
    from promi_spark.operators.dedup import dedup_components

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in jsc.getRDDStorageInfo()}
    # a 6-node chain is not a star: one round cannot confirm stability
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(chain, max_iter=1)
    assert {i.id() for i in jsc.getRDDStorageInfo()} - before == set()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    with pytest.raises(RuntimeError, match="did not converge"):
        with scope():
            dedup_components(chain, max_iter=1)
    assert {i.id() for i in jsc.getRDDStorageInfo()} - before == set()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dedup_components_string_keys(spark):
    """Keys keep their input type — string/UUID doc ids cluster the
    same way as integer ids (ordering by the key type's own order)."""
    from promi_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [("doc-a", "doc-b"), ("doc-b", "doc-c"), ("x", "y")],
        "a string, b string",
    )
    got = {
        r["doc_id"]: r["component"]
        for r in dedup_components(pairs).collect()
    }
    assert got == {
        "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
        "x": "x", "y": "x",
    }


def test_length_quantiles_approx_matches_exact_at_small_scale(spark):
    """percentile_approx at high accuracy equals the exact percentile
    on a corpus far smaller than the sketch budget — the approx path is
    a drop-in (same schema, same values here; divergence only appears
    when group sizes exceed the sketch accuracy)."""
    from promi_spark.io import load_table
    from promi_spark.operators.text import length_quantiles

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    exact = {
        r["lang"]: (r["n_docs"], r["p50"], r["p95"])
        for r in length_quantiles(docs).collect()
    }
    approx = {
        r["lang"]: (r["n_docs"], r["p50"], r["p95"])
        for r in length_quantiles(docs, approx=True, accuracy=100000).collect()
    }
    assert set(exact) == set(approx)
    for lang, (n, p50, p95) in exact.items():
        an, a50, a95 = approx[lang]
        assert an == n
        # percentile_approx returns an observed value; exact
        # interpolates between them, so allow one observed-gap of slack
        # (~100 docs/group here -> neighbor gaps can reach a few %)
        assert abs(a50 - p50) <= max(5.0, 0.1 * p50)
        assert abs(a95 - p95) <= max(5.0, 0.1 * p95)


def test_line_dedup_removes_corpus_boilerplate(spark):
    """C4-style: a nav/footer line repeated across >= min_count docs is
    stripped from every document; unique lines survive in order; a doc
    that is all boilerplate degrades to empty text."""
    from promi_spark.operators.text import line_dedup

    nav = "home | products | contact"
    docs = _docs(
        spark,
        [
            f"{nav}\nunique article one\nmore text",
            f"intro line\n{nav}\nunique article two",
            f"{nav}",                      # all boilerplate
            "standalone doc with no nav",
        ],
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, min_count=3).collect()}
    assert out[0]["text"] == "unique article one\nmore text"
    assert out[1]["text"] == "intro line\nunique article two"
    assert out[1]["n_removed"] == 1 and out[1]["n_lines"] == 3
    assert out[2]["text"] == "" and out[2]["n_removed"] == 1
    assert out[3]["text"] == "standalone doc with no nav"
    # below the threshold nothing is removed
    out2 = {r["doc_id"]: r for r in line_dedup(docs, min_count=4).collect()}
    assert all(r["n_removed"] == 0 for r in out2.values())


def test_line_dedup_regex_special_separator(spark):
    """A separator that is also a regex metacharacter ('.', '|') must
    split literally — F.split takes a regex, so the operator escapes."""
    from promi_spark.operators.text import line_dedup

    docs = _docs(spark, ["keep me|spam|more", "x|spam|y", "a|spam|b"])
    out = {r["doc_id"]: r for r in line_dedup(docs, sep="|", min_count=3).collect()}
    assert out[0]["text"] == "keep me|more" and out[0]["n_removed"] == 1
    assert out[1]["text"] == "x|y"


def test_corpus_cardinality_approx_within_rsd(spark, sf_dir):
    from promi_spark.operators.text import corpus_cardinality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {r["source"]: r for r in corpus_cardinality(docs).collect()}
    approx = {
        r["source"]: r
        for r in corpus_cardinality(docs, approx=True, rsd=0.05).collect()
    }
    assert set(exact) == set(approx)
    for src, e in exact.items():
        a = approx[src]
        assert a["total_tokens"] == e["total_tokens"]  # count stays exact
        for c in ("n_docs", "distinct_texts", "distinct_tokens"):
            assert abs(a[c] - e[c]) <= max(5, 0.15 * e[c]), (src, c, a[c], e[c])


def test_corpus_cardinality_counts_empty_docs(spark):
    from promi_spark.operators.text import corpus_cardinality

    df = spark.createDataFrame(
        [(1, "a b a", "s"), (2, "   ", "s"), (3, "", "s")],
        "doc_id long, text string, source string",
    )
    row = corpus_cardinality(df).collect()[0]
    assert row["n_docs"] == 3
    assert row["total_tokens"] == 3
    assert row["distinct_tokens"] == 2


def test_chunk_docs_windows_and_narrow_plan(spark):
    import re

    from promi_spark.operators.text import chunk_docs

    text = "".join(chr(97 + (i % 26)) for i in range(1000))
    df = spark.createDataFrame(
        [(1, text), (2, "short"), (3, "")], "doc_id long, text string"
    )
    out = chunk_docs(df, chunk_chars=512, stride=384)
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_start"], r["chunk_text"])
        for r in out.collect()
    )
    # doc 1: starts 0, 384, 768; doc 2: one short chunk; doc 3: none
    assert [(d, c, s) for d, c, s, _ in rows] == [
        (1, 0, 0), (1, 1, 384), (1, 2, 768), (2, 0, 0)
    ]
    for d, c, s, t in rows:
        src = text if d == 1 else "short"
        assert t == src[s:s + 512]
    je = out._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = je.explainString(mode.fromString("formatted"))
    assert "Exchange" not in plan  # chunks born in the doc's own task


def test_top_ngrams_counts_and_order(spark):
    from promi_spark.operators.text import top_ngrams

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "THE  cat  ran"), (3, "a cat sat here"), (4, "")],
        "doc_id long, text string",
    )
    out = [(r["gram"], r["n_occurrences"]) for r in top_ngrams(df, n=2, k=3).collect()]
    # normalization folds case/spacing; ties order gram-ascending
    assert out[0] == ("cat sat", 2)
    assert out[1] == ("the cat", 2)
    assert len(out) == 3 and out[2][1] == 1
    uni = {r["gram"]: r["n_occurrences"] for r in top_ngrams(df, n=1, k=10).collect()}
    assert uni["cat"] == 3 and uni["the"] == 2


def test_tfidf_top_terms_ranks_distinctive_words(spark):
    import math

    from promi_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "common zebra zebra"), (2, "common yak"), (3, "common emu")],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["term"]): (r["tf"], r["score"])
           for r in tfidf_top_terms(df, k=1).collect()}
    # 'common' appears in all docs (idf ln(4/4)=0); uniques win
    assert set(out) == {(1, "zebra"), (2, "yak"), (3, "emu")}
    tf, score = out[(1, "zebra")]
    assert tf == 2
    assert abs(score - round(2 * math.log(4 / 2), 6)) < 1e-9


def test_phrase_search_positions_and_overlaps(spark):
    from promi_spark.operators.text import phrase_search

    df = _docs(spark, [
        "a b a b a b",          # 'a b' occurs 3 times (overlapping starts)
        "b a b a",              # 'a b' once (pos 2)
        "a a a",                # 'a a' twice but 'a b' never
        "",
    ])
    got = {r["doc_id"]: r["n_matches"]
           for r in phrase_search(df, "a b").collect()}
    assert got == {0: 3, 1: 1}
    tri = {r["doc_id"]: r["n_matches"]
           for r in phrase_search(df, "a b a").collect()}
    assert tri == {0: 2, 1: 1}
    aa = {r["doc_id"]: r["n_matches"]
          for r in phrase_search(df, "a a").collect()}
    assert aa == {2: 2}


def test_corpus_cardinality_null_text_parity_with_oracle(spark, tmp_path):
    """A NULL-text doc must count in n_docs on BOTH engines: Spark's
    explode_outer keeps the row, and the oracle CASE has an explicit
    `text IS NULL` branch (a bare unnest(NULL) would emit zero rows and
    silently drop the doc — round-5 ADVICE item)."""
    import duckdb

    from promi_spark.operators.text import corpus_cardinality
    from promi_spark.queries import QUERIES

    df = spark.createDataFrame(
        [(1, "a b a", "s"), (2, None, "s"), (3, "", "s"), (4, None, "t")],
        "doc_id long, text string, source string",
    )
    p = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)

    got = {r["source"]: r for r in corpus_cardinality(df).collect()}
    assert got["s"]["n_docs"] == 3 and got["t"]["n_docs"] == 1
    assert got["s"]["total_tokens"] == 3 and got["t"]["total_tokens"] == 0

    sql = QUERIES["corpus_cardinality"][1]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    oracle = {
        r[0]: r
        for r in con.execute(sql).fetchall()
    }
    for src in ("s", "t"):
        g, o = got[src], oracle[src]
        assert (g["n_docs"], g["distinct_texts"], g["total_tokens"],
                g["distinct_tokens"]) == (o[1], o[2], o[3], o[4]), (src, g, o)


def test_null_text_gram_stats_parity_with_oracle(spark, tmp_path):
    """A NULL-text doc has no token array, so it has no grams: both
    engines report NULL gram counts and ratios for it, and no top
    gram. Gram-building that turns the NULL into a one-element [NULL]
    gram array instead reports one gram with containment 0.0 and a
    top-2-gram count of 1. No committed fixture has NULL text, so the
    oracle sweep cannot see this."""
    import duckdb

    from promi_spark.oracles import ngram_overlap_sql, repetition_stats_sql

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps again"),
            (2, None),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    p = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )

    def rows(frame, cols):
        return sorted(tuple(r[c] for c in cols) for r in frame.collect())

    overlap_cols = ["doc_id", "n_grams", "n_shared", "containment", "contaminated"]
    want = sorted(con.execute(ngram_overlap_sql(n=5, modulus=10)).fetchall())
    assert want[1] == (2, None, 0, None, False)
    got = ngram_overlap(
        df.filter(F.col("doc_id") % 10 != 0),
        df.filter(F.col("doc_id") % 10 == 0),
        n=5,
    )
    assert rows(got, overlap_cols) == want

    rep_cols = [
        "doc_id", "n_tokens", "dup_2gram_frac", "dup_3gram_frac",
        "top_2gram_count", "top_2gram_token_frac",
    ]
    want = sorted(con.execute(repetition_stats_sql()).fetchall())
    assert want[2] == (2, None, None, None, 0, None)
    assert rows(repetition_stats(df), rep_cols) == want


def test_dedup_components_releases_checkpoint_storage(spark):
    """r15 (r14 ADVICE): the loop's checkpoint leaves — the input edge
    list and every superseded round — are released EXPLICITLY as the
    loop advances, not left to driver GC + ContextCleaner timing.
    After a run the only surviving storage entry is the final round's
    edges, which back the result, and the scope's exit frees that
    too."""
    from promi_spark.lifetime import scope
    from promi_spark.operators.dedup import dedup_components

    sc = spark.sparkContext

    def stored():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (7, 8)], "a long, b long"
    )
    base = stored()
    with scope():
        out = dedup_components(pairs)
        got = {r["doc_id"]: r["component"] for r in out.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 5, 8: 5}
        leaked = stored() - base
        assert len(leaked) <= 1, leaked  # only the final edges checkpoint
    assert stored() - base == set()


def test_dedup_components_high_diameter_bounded_plan(spark):
    """Path graphs of diameter 16 and 200 must converge AND hand out a
    result whose plan is lineage-TRUNCATED: un-checkpointed, each star
    round nests its input several times, so the returned plan would
    grow exponentially many copies of the upstream pair pipeline and
    every downstream consumer would re-pay Catalyst analysis of all of
    it (round-5 VERDICT item). The optimized plan must have the same
    size at both diameters and read only checkpoint leaves — no scan of
    the upstream pair pipeline (here a ``Range``)."""
    from pyspark.sql import functions as F

    from promi_spark.lifetime import _leaf_rdd_ids, scope
    from promi_spark.operators.dedup import dedup_components

    def run(n, tag):
        pairs = spark.range(n - 1).select(
            F.col("id").alias("a"), (F.col("id") + 1).alias("b")
        )
        with scope():
            out = dedup_components(pairs)
            got = {r["doc_id"]: r["component"] for r in out.collect()}
            assert got == {i: 0 for i in range(n)}, tag
            plan = out._jdf.queryExecution().optimizedPlan()
            leaves = plan.collectLeaves()
            kinds = {
                leaves.apply(i).getClass().getSimpleName()
                for i in range(leaves.size())
            }
            pinned = spark.sparkContext._jsc.sc().getPersistentRDDs()
            assert kinds == {"LogicalRDD"}, (tag, kinds)
            assert all(pinned.contains(r) for r in _leaf_rdd_ids(out)), tag
            text = plan.toString()
            assert "Range" not in text, (tag, text)
            return len(text.splitlines())

    assert run(17, "diameter 16") == run(201, "diameter 200")


def test_incremental_dedup_scope_releases_all_caches(spark, tmp_path, pinned_rdds):
    """r8 advice (medium): with include_new_pairs=True and cache=True
    the within-batch candidate generator persists a signature-class
    tagging relation next to the batch's gram rows — a long-lived
    ingest session pinned one more relation per batch until clearCache.
    Both must be pinned while the scope is open and gone when it exits;
    cache=False must pin nothing."""
    from pyspark.sql import functions as F

    from promi_spark.io import load_table
    from promi_spark.lifetime import scope
    from promi_spark.operators.dedup import (
        minhash_dedup_incremental,
        write_minhash_index,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "mh_index_caches")
    write_minhash_index(old, path)

    spark.catalog.clearCache()
    base = pinned_rdds()
    for include_new_pairs, n_pinned in ((True, 2), (False, 1)):
        with scope():
            pairs = minhash_dedup_incremental(
                new, path, threshold=0.5, include_new_pairs=include_new_pairs
            )
            pairs.count()  # materialize
            assert len(pinned_rdds() - base) == n_pinned
        leaked = pinned_rdds() - base
        assert not leaked, f"persisted relations survived the scope: {leaked}"
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    nocache = minhash_dedup_incremental(new, path, threshold=0.5, cache=False)
    nocache.count()
    assert not (pinned_rdds() - base)
