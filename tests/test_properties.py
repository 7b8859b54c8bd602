"""Property-based tests (hypothesis) for the engine's algebraic
invariants: split partitioning/determinism, dedup bounds, hex-coin
thresholds, XES round-trip on generated logs."""

import string

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

# Driver-side properties (no Spark) ------------------------------------------


@given(st.floats(min_value=0.0, max_value=1.0))
def test_hex_threshold_monotone(ratio):
    from promi_spark.operators.split import HEX_SPACE, hex_threshold

    t = hex_threshold(ratio)
    if ratio >= 1.0:
        assert t == "g"  # sorts after every hex digit
    else:
        assert len(t) == 8
        assert int(t, 16) == int(ratio * HEX_SPACE)


@given(
    st.floats(min_value=0.0, max_value=0.999),
    st.floats(min_value=0.0, max_value=0.999),
)
def test_hex_threshold_order_preserving(a, b):
    from promi_spark.operators.split import hex_threshold

    if a <= b:
        assert hex_threshold(a) <= hex_threshold(b)


# xs:Name keys: start with letter/underscore/colon, then name chars
_KEY = st.builds(
    lambda h, t: h + t,
    st.text(string.ascii_letters + "_:", min_size=1, max_size=1),
    st.text(string.ascii_letters + string.digits + ":_-.", max_size=11),
)
_VAL = st.text(
    st.characters(min_codepoint=32, max_codepoint=0x7E), max_size=20
)


@settings(max_examples=25, deadline=None)
@given(
    st.dictionaries(_KEY, _VAL, max_size=6),
)
def test_xes_attr_xml_round_trips(attrs):
    """Any string attribute map survives write -> parse (quoting,
    escaping, sorted-key determinism)."""
    import io

    from promi_spark.io.xes import _attr_xml, parse_xes

    body = "".join(
        _attr_xml(k, "string", v, [], "\t") for k, v in sorted(attrs.items())
    )
    doc = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<log xes.version="1849.2016" xes.features="">\n'
        f"{body}</log>\n"
    )
    meta, rows = parse_xes(io.BytesIO(doc.encode()))
    assert meta.attributes == attrs
    assert rows == []


# Spark-backed properties (session-scoped fixture, smaller example sets) ------


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ratio=st.floats(min_value=0.1, max_value=0.9),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_split_partitions_exactly(spark, event_log, ratio, seed):
    """train + test == whole log, disjoint, deterministic, trace-atomic."""
    from pyspark.sql import functions as F

    from promi_spark.operators.split import split

    train, test = split(event_log, ratio, seed=seed)
    n, tr, te = event_log.df.count(), train.df.count(), test.df.count()
    assert tr + te == n
    # deterministic re-execution
    train2, _ = split(event_log, ratio, seed=seed)
    assert train2.df.count() == tr
    # trace-atomic: no case appears on both sides
    both = train.df.select("case_id").distinct().join(
        test.df.select("case_id").distinct(), "case_id", "inner"
    )
    assert both.count() == 0
    _ = F  # quiet linters


def test_split_ratio_statistical(spark, event_log):
    """Mean kept-fraction over seeds approaches the ratio (the
    reference's own acceptance criterion: rel-tol 1.5e-2 over 5 seeds,
    split.rs:221-222 — applied to the trace coin)."""
    from promi_spark.operators.split import sample

    total = event_log.df.select("case_id").distinct().count()
    ratio = 0.7
    fracs = []
    for seed in range(5):
        kept = (
            sample(event_log, ratio, seed=seed)
            .df.select("case_id")
            .distinct()
            .count()
        )
        fracs.append(kept / total)
    mean = sum(fracs) / len(fracs)
    assert abs(mean - ratio) < 0.08  # 15 cases/side at sf0.001 -> loose


def test_dedup_partitions_docs(spark):
    """Exact-dedup groups partition the corpus: sum(n_dups) == rows."""
    from promi_spark.operators.dedup import dedup_exact
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    groups = dedup_exact(docs)
    assert groups.agg(F.sum("n_dups")).first()[0] == docs.count()


def test_minhash_identical_docs_are_candidates(spark):
    """Exact duplicates always share every band -> always candidates,
    with jaccard 1.0."""
    from promi_spark.operators.dedup import minhash_dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "a completely different document about spark execution plans"),
        (4, "total nonsense text with unique words zebra quartz vortex"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["a"], r["b"]): r["jaccard_sim"] for r in minhash_dedup(df, threshold=0.5).collect()}
    assert out == {(1, 2): 1.0}


def test_simhash_hamming_zero_for_identical(spark):
    from promi_spark.operators.dedup import simhash_signatures

    rows = [(1, "same text body"), (2, "same text body"), (3, "other words entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    assert all(len(s) == 16 for s in sigs.values())  # 64 bits = 16 hex


def test_md5_bit_decode_parity(spark):
    """The production two-long md5 decode in simhash_bits_df must agree
    bit-for-bit with the per-digit _md5_bit specification form (the
    engine-portable contract the DuckDB oracle replays) on every bit of
    a batch of real token hashes."""
    from pyspark.sql import functions as F

    from promi_spark.operators.dedup import _md5_bit

    toks = spark.createDataFrame(
        [(w,) for w in ["alpha", "beta", "Gamma!", "", "42", "x" * 50]],
        "tok string",
    ).withColumn("m", F.md5("tok"))
    spec = F.array(*[_md5_bit(F.col("m"), i) for i in range(64)])
    fast = toks.selectExpr(
        "tok",
        "cast(conv(substring(m, 1, 8), 16, 10) as bigint) AS hi",
        "cast(conv(substring(m, 9, 8), 16, 10) as bigint) AS lo",
        "m",
    ).selectExpr(
        "tok",
        "array("
        + ",".join(
            f"(shiftright({'hi' if i < 32 else 'lo'}, "
            f"{4 * (7 - (i // 4 if i < 32 else i // 4 - 8)) + i % 4}) & 1)"
            for i in range(64)
        )
        + ") AS bits",
    )
    spec_rows = {
        r["tok"]: r["b"] for r in toks.select("tok", spec.alias("b")).collect()
    }
    for r in fast.collect():
        assert r["bits"] == spec_rows[r["tok"]], r["tok"]


def test_cosine_bounds_and_self_similarity(spark):
    from promi_spark.operators.similarity import cosine_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = list(emb.filter(F.col("vec_id") == 3).first()["embedding"])
    top = cosine_topk(emb, qvec, k=5).collect()
    assert len(top) == 5
    # self-match ranks first with sim ~1
    assert top[0]["vec_id"] == 3
    assert abs(top[0]["cosine_sim"] - 1.0) < 1e-4
    assert all(-1.0001 <= r["cosine_sim"] <= 1.0001 for r in top)


@given(
    st.lists(st.text(min_size=1, max_size=20), min_size=1, max_size=30, unique=True),
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=25, deadline=None)
def test_shard_id_bounds_and_determinism(keys, n_shards, seed):
    """Pure-Python mirror of the shard hash: ids land in [0, n_shards)
    and are a function of (key, seed) only."""
    import hashlib

    def py_shard(k: str) -> int:
        h = int(hashlib.md5(f"{k}:{seed}".encode()).hexdigest()[:8], 16)
        return h % n_shards

    for k in keys:
        s = py_shard(k)
        assert 0 <= s < n_shards
        assert s == py_shard(k)


def test_shard_id_spark_matches_python_mirror(spark):
    """The Spark column computes the same md5-prefix shard id as the
    Python mirror (and therefore the same value as the DuckDB oracle)."""
    import hashlib

    from pyspark.sql import functions as F

    from promi_spark.operators.scale import shard_id

    keys = [f"doc{i}" for i in range(50)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["k"]: r["s"]
        for r in df.select("k", shard_id("k", 16, seed=7).alias("s")).collect()
    }
    for k in keys:
        h = int(hashlib.md5(f"{k}:7".encode()).hexdigest()[:8], 16)
        assert got[k] == h % 16


def test_inductive_miner_deterministic(spark):
    """Same log -> identical tree rows across repeated runs (sorted
    recursion, no iteration-order leakage)."""
    from promi_spark.io import load_event_log
    from promi_spark.operators.mining import inductive_miner, tree_rows

    log = load_event_log(spark, "/root/testdata/sf0.001")
    a = tree_rows(inductive_miner(log))
    b = tree_rows(inductive_miner(log))
    assert a == b


@settings(deadline=None, max_examples=12,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.text(alphabet=string.ascii_lowercase + " .,!", max_size=60),
        min_size=1,
        max_size=8,
    )
)
def test_gram_hash_rows_matches_python_model(spark, texts):
    """The single-pass zip-slice-explode gram pipeline must produce
    exactly the word-3-gram multiset a straightforward Python model
    predicts: count = max(#tokens - 2, 1) rows per doc (one whole-text
    gram for short docs, via the null-padded struct whose hash equals
    xxhash64(joined text)), and documents with identical normalized
    text get identical hash multisets."""
    import re as _re

    from promi_spark.operators.dedup import gram_hash_rows

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in gram_hash_rows(df).collect():
        got.setdefault(r["k"], []).append(r["h"])

    for i, t in rows:
        # mirror text.tokens(): trim + collapse whitespace + split on
        # single spaces; empty text yields one empty token
        norm = _re.sub(r"\s+", " ", t.strip().lower())
        toks = norm.split(" ")
        expect_n = max(len(toks) - 2, 1)
        assert len(got.get(i, [])) == expect_n, (t, toks, got.get(i))

    by_norm: dict[str, list] = {}
    for i, t in rows:
        norm = _re.sub(r"\s+", " ", t.strip().lower())
        by_norm.setdefault(norm, []).append(sorted(got.get(i, [])))
    for same in by_norm.values():
        assert all(h == same[0] for h in same[1:])


@settings(deadline=None, max_examples=12,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.none() | st.text(alphabet="ab \t\n", max_size=24),
        min_size=1,
        max_size=8,
    )
)
@example(["", None, "a", " a \t\n b  ", "a b a b a b"])
def test_word_ngrams_matches_python_model(spark, texts):
    """``word_ngrams`` over ``tokens`` gives exactly the Python model's
    space-joined windows for n = 1..5: empty for documents shorter than
    n (empty text is the one token ``[""]``), empty tokens from
    whitespace runs at the edges kept as tokens, and NULL for NULL
    text."""
    import re as _re

    from pyspark.sql import functions as F

    from promi_spark.operators.text import tokens, word_ngrams

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    toks_df = df.select("doc_id", tokens(F.col("text")).alias("toks"))
    got = {
        r["doc_id"]: r
        for r in toks_df.select(
            "doc_id", "toks", *[word_ngrams("toks", n).alias(f"g{n}") for n in range(1, 6)]
        ).collect()
    }
    for i, t in enumerate(texts):
        # text.tokens(): Spark's trim strips spaces only, then split on \s+
        toks = None if t is None else _re.split(r"\s+", t.strip(" "))
        assert got[i]["toks"] == toks, (t, got[i]["toks"])
        for n in range(1, 6):
            want = None if toks is None else [
                " ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)
            ]
            assert got[i][f"g{n}"] == want, (t, n, got[i][f"g{n}"])


def test_leakage_safe_split_never_straddles(spark):
    """Every near-dup pair lands on one side; split is deterministic;
    singleton docs route like the plain md5-coin split."""
    from pyspark.sql import functions as F

    from promi_spark.lifetime import scope
    from promi_spark.operators.dedup import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    # hand-built pair graph: a chain {0,1,2}, a star {10,11}, singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "a long, b long"
    )
    with scope():
        sides = {
            r["doc_id"]: r["split"]
            for r in leakage_safe_split(docs, pairs, ratio=0.5).collect()
        }
        again = {
            r["doc_id"]: r["split"]
            for r in leakage_safe_split(docs, pairs, ratio=0.5).collect()
        }
    assert len(sides) == 40
    assert sides[0] == sides[1] == sides[2]
    assert sides[10] == sides[11]
    assert set(sides.values()) == {"train", "test"}  # both sides populated
    assert sides == again


def test_capped_and_weighted_sample_nested_in_size(spark):
    """Rank-based selections are prefix-nested: the kept set at size k
    is a subset of the kept set at k+1 (deterministic retuning — raise
    the budget, keep everything already selected)."""
    from pyspark.sql import functions as F

    from promi_spark.operators.split import per_key_cap, weighted_sample

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(1 + i % 7)) for i in range(300)],
        "doc_id long, source string, w double",
    )
    prev_cap, prev_ws = set(), set()
    for k in (5, 10, 20):
        cap = {r["doc_id"] for r in per_key_cap(df, "source", k, "doc_id").collect()}
        ws = {r["doc_id"] for r in
              weighted_sample(df, k, "w", "doc_id", key_col="source").collect()}
        assert prev_cap <= cap and prev_ws <= ws
        prev_cap, prev_ws = cap, ws


def test_minhash_megabucket_guard_10k_identical_docs(spark):
    """r7 verdict: a boilerplate-heavy corpus (10k byte-identical docs)
    put m docs in one bucket of EVERY band; the within-bucket self-join
    emitted O(m² × bands) rows before the distinct (~800M here). The
    exact-signature class collapse bands one representative per class,
    emits each within-class pair exactly once (50M output rows — the
    true candidate set, no band multiplicity, no distinct shuffle), and
    this test completes in seconds where the old shape took minutes."""
    from pyspark.sql import functions as F

    from promi_spark.operators.dedup import minhash_candidates

    n_dup, n_uniq = 10_000, 20
    df = (
        spark.range(n_dup + n_uniq)
        .select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") < n_dup,
                F.lit(
                    "the same boilerplate terms of service text that "
                    "appears on every scraped page of this crawl corpus"
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("unique document number "),
                    F.col("id"),
                    F.lit(" carrying distinct content token "),
                    (F.col("id") * 7919).cast("string"),
                )
            )
            .alias("text"),
        )
    )
    cands = minhash_candidates(df)
    n = cands.count()
    expected_within = n_dup * (n_dup - 1) // 2
    # all within-class pairs present; at most a handful of incidental
    # unique-doc band collisions on top
    assert expected_within <= n <= expected_within + 500, n
    # the unique docs never collide with the boilerplate class
    cross = cands.filter(
        (F.col("a") < n_dup) != (F.col("b") < n_dup)
    ).count()
    assert cross == 0


def test_minhash_max_bucket_size_cap(spark):
    """max_bucket_size counts CLASSES per band bucket (identical docs
    collapse first, so they cannot trip it): cap=0 drops every bucket —
    only within-class pairs survive; a huge cap is a no-op."""
    from pyspark.sql import functions as F

    from promi_spark.io import load_table
    from promi_spark.operators.dedup import minhash_candidates

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    base = {
        (r["a"], r["b"]) for r in minhash_candidates(docs).collect()
    }
    uncapped = {
        (r["a"], r["b"])
        for r in minhash_candidates(docs, max_bucket_size=10**6).collect()
    }
    assert uncapped == base
    # cap=0: every (band, bucket) is oversized -> cross-class candidates
    # gone; identical-signature classes still pair (the collapse path
    # does not ride the banded join)
    sig_pairs = {
        (r["a"], r["b"])
        for r in minhash_candidates(docs, max_bucket_size=0).collect()
    }
    assert sig_pairs <= base
    # sf0.001 documents contain injected exact duplicates -> non-empty
    assert sig_pairs


def test_minhash_candidates_match_python_banding_replay(spark):
    """Independent replay: collect the signatures, recompute band
    buckets and the share-a-bucket pair set in plain Python, and
    assert the operator's candidate set (class collapse + rep banding
    + expansion) equals banding every doc individually — the output
    contract the r8 rewrite must preserve."""
    from promi_spark.io import load_table
    from promi_spark.operators.dedup import (
        band_buckets,
        minhash_candidates,
        minhash_signatures,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    num_hashes, bands = 64, 16
    sigs = minhash_signatures(docs, num_hashes=num_hashes)
    banded = sigs.select(
        "k", band_buckets("sig", num_hashes, bands).alias("bks")
    ).collect()
    from collections import defaultdict

    buckets = defaultdict(set)
    for r in banded:
        for band, bk in enumerate(r["bks"]):
            buckets[(band, bk)].add(r["k"])
    expected = set()
    for members in buckets.values():
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                expected.add((a, b))
    got = {(r["a"], r["b"]) for r in minhash_candidates(docs).collect()}
    assert got == expected


def test_simhash_and_lsh_share_the_megabucket_guard(spark):
    """The class collapse covers the whole banded family: byte-identical
    docs (identical simhash bits) and identical embeddings (identical
    sign bits) band one representative each; member pairs reconstruct
    exactly — hamming 0 / cosine 1.0 within the class."""
    from pyspark.sql import functions as F

    from promi_spark.operators.dedup import simhash_candidates
    from promi_spark.operators.similarity import lsh_near_dups

    # 600 identical docs is still a mega-bucket by orders of magnitude
    # (179,700 within-class pairs vs 16 bands); the 2000-doc version
    # proved the same m(m-1)/2 property for ~40 s more of the suite's
    # driver budget (r14 VERDICT item 2)
    n_dup = 600
    docs = spark.range(n_dup + 3).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < n_dup,
            F.lit("identical boilerplate page body text for every crawl"),
        )
        .otherwise(
            F.concat(
                F.lit("distinct page "),
                (F.col("id") * 104729).cast("string"),
            )
        )
        .alias("text"),
    )
    sh = simhash_candidates(docs, max_hamming=0)
    within = sh.filter((F.col("a") < n_dup) & (F.col("b") < n_dup))
    assert within.count() == n_dup * (n_dup - 1) // 2
    assert within.agg(F.max("hamming")).first()[0] == 0

    vecs = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.when(
            F.col("id") < 400,
            F.array(F.lit(1.0), F.lit(2.0), F.lit(-0.5), F.lit(0.25)),
        )
        .otherwise(
            F.array(
                (F.col("id") % 7).cast("double") + 0.1,
                -(F.col("id") % 5).cast("double") - 0.2,
                (F.col("id") % 3).cast("double") - 1.0,
                F.lit(0.5),
            )
        )
        .alias("embedding"),
    )
    ld = lsh_near_dups(vecs, threshold=0.999, bits=8, bands=2, dim=4)
    dup_pairs = ld.filter((F.col("a") < 400) & (F.col("b") < 400))
    assert dup_pairs.count() == 400 * 399 // 2
    assert dup_pairs.agg(F.min("cosine_sim")).first()[0] == 1.0


def test_incremental_cross_probe_rides_the_class_guard(spark, tmp_path):
    """The cross probe against a persisted index bands one doc per
    exact-signature class on BOTH sides (index classes computed at
    build time — the r8.5 closure of the last unguarded banding path):
    a boilerplate-heavy batch probing a boilerplate-heavy index must
    produce the complete cross pair set, the index must carry a
    collapsed ``rep`` column, and the probe's pair set must equal the
    full guarded batch run restricted to batch-touching pairs."""
    from pyspark.sql import functions as F

    from promi_spark.lifetime import scope
    from promi_spark.operators.dedup import (
        minhash_dedup,
        minhash_dedup_incremental,
        write_minhash_index,
    )

    boiler = (
        "the same boilerplate terms of service text that appears on "
        "every scraped page of this crawl corpus"
    )
    n_idx, n_new, n_uniq = 800, 200, 30
    total = n_idx + n_new + n_uniq
    df = spark.range(total).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < n_idx + n_new, F.lit(boiler))
        .otherwise(
            F.concat(
                F.lit("unique document number "),
                F.col("id"),
                F.lit(" carrying distinct content token "),
                (F.col("id") * 7919).cast("string"),
            )
        )
        .alias("text"),
    )
    old = df.filter((F.col("doc_id") >= n_idx + n_new) | (F.col("doc_id") < n_idx))
    new = df.filter(
        (F.col("doc_id") >= n_idx) & (F.col("doc_id") < n_idx + n_new)
    )
    path = str(tmp_path / "mh_guard_index")
    write_minhash_index(old, path)

    idx = spark.read.parquet(path)
    assert "rep" in idx.columns
    # the boilerplate class collapsed to ONE representative at build
    n_reps = (
        idx.filter(F.col("k") < n_idx)
        .select("rep")
        .distinct()
        .count()
    )
    assert n_reps == 1

    inc = minhash_dedup_incremental(new, path, cache=False)
    # complete cross set (n_idx x n_new) + complete within-batch set
    expected = n_idx * n_new + n_new * (n_new - 1) // 2
    assert inc.count() == expected
    # set-equality with the guarded full batch run restricted to pairs
    # touching the batch — distributed exceptAll, no driver collect
    with scope():
        full = minhash_dedup(df).filter(
            ((F.col("a") >= n_idx) & (F.col("a") < n_idx + n_new))
            | ((F.col("b") >= n_idx) & (F.col("b") < n_idx + n_new))
        )
        assert inc.exceptAll(full).count() == 0
        assert full.exceptAll(inc).count() == 0


# r9: alpha-temperature sampling invariants -----------------------------------


@settings(
    deadline=None, max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.tuples(
        st.floats(min_value=0.05, max_value=0.95),
        st.floats(min_value=0.05, max_value=0.95),
    ).map(sorted)
)
def test_temperature_mixture_superset_chain(spark, alphas):
    """For alpha_lo <= alpha_hi <= 1, every per-source keep rate is
    monotone in alpha ((n_i/n_min)^(alpha-1) with n_i/n_min >= 1), and
    the md5-coin contract turns that into a row-level SUPERSET chain —
    the incremental-retuning guarantee mixture_sample documents,
    inherited by the temperature form."""
    from pyspark.sql import functions as F

    from promi_spark.io import load_table
    from promi_spark.operators.scale import temperature_mixture

    a_lo, a_hi = alphas
    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    lo = {r["doc_id"] for r in temperature_mixture(docs, a_lo).collect()}
    hi = {r["doc_id"] for r in temperature_mixture(docs, a_hi).collect()}
    assert lo <= hi


@settings(
    deadline=None, max_examples=6,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet=string.ascii_lowercase + " ", min_size=1,
                max_size=40),
        min_size=1, max_size=60, unique=True,
    )
)
def test_bloom_never_false_negative(spark, values):
    """Classic Bloom guarantee under arbitrary inserted strings: every
    inserted value probes positive, whatever the geometry."""
    from pyspark.sql import functions as F

    from promi_spark.operators.bloom import (
        bloom_build,
        bloom_params,
        bloom_probe,
    )

    df = spark.createDataFrame([(v,) for v in values], "val string")
    m, k = bloom_params(len(values), 0.05)
    bf = bloom_build(df, "val", m, k)
    res = bloom_probe(df, bf, "val", m, k)
    assert res.filter(~F.col("maybe_member")).count() == 0


def test_band_buckets_rejects_non_identifier(spark):
    """band_buckets and jaccard splice column names into a parsed
    expression, so anything but a plain identifier is refused up front
    with a ValueError — never handed to ``F.expr`` to fail as a parse
    error or, worse, parse as a different expression."""
    import pytest
    from pyspark.sql import functions as F

    from promi_spark.operators.dedup import band_buckets, jaccard

    for bad in ("sig + 1", "`sig`", "s.sig", "", F.col("sig")):
        with pytest.raises(ValueError, match="plain column name"):
            band_buckets(bad, 64, 16)
        with pytest.raises(ValueError, match="plain column names"):
            jaccard("sh_a", bad)


def test_sql_collapsed_builds_plan_identical_to_column_forms(spark):
    """r15 driver-latency collapse: gram_hash_rows / band_buckets /
    jaccard / the sig-window rep are now built as parsed SQL strings
    (one py4j round trip per stage). Catalyst must see the SAME
    semantic plan as the unrolled Column forms — pinned with
    ``optimizedPlan().sameResult`` against inline reconstructions of
    the r14 builds, which is a stronger guarantee than row equality."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from promi_spark.operators.dedup import (
        _MAX,
        band_buckets,
        gram_hash_rows,
        jaccard,
        norm_text,
    )
    from promi_spark.operators.text import tokens

    def same(new_df, old_df):
        return (
            new_df._jdf.queryExecution()
            .optimizedPlan()
            .sameResult(old_df._jdf.queryExecution().optimizedPlan())
        )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def gram_old(df, key_col="doc_id", text_col="text", n=3):
        toks_df = df.select(
            F.col(key_col).alias("k"), tokens(norm_text(text_col)).alias("toks")
        )
        toks = F.col("toks")
        shifted = toks_df.select(
            "k",
            F.size(toks).alias("n_toks"),
            *[F.slice(toks, j + 1, _MAX).alias(f"t{j}") for j in range(n)],
            F.array_join(toks, " ").alias("whole"),
        )
        zipped = F.when(
            F.col("n_toks") >= n,
            F.slice(
                F.arrays_zip(*[f"t{j}" for j in range(n)]),
                1,
                F.col("n_toks") - (n - 1),
            ),
        ).otherwise(
            F.array(
                F.struct(
                    F.col("whole").alias("t0"),
                    *[
                        F.lit(None).cast("string").alias(f"t{j}")
                        for j in range(1, n)
                    ],
                )
            )
        )
        return shifted.select("k", F.explode(zipped).alias("g")).select(
            "k", F.xxhash64(*[f"g.t{j}" for j in range(n)]).alias("h")
        )

    assert same(gram_hash_rows(docs), gram_old(docs))
    assert same(gram_hash_rows(docs, n=5), gram_old(docs, n=5))

    sigs = spark.createDataFrame(
        [(1, list(range(64)))], "k long, sig array<bigint>"
    )

    def bb_old(sig_col, num_hashes, bands):
        rows = num_hashes // bands
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.xxhash64(b, F.slice(sig_col, b * rows + 1, rows)),
        )

    assert same(
        sigs.select(band_buckets("sig", 64, 16).alias("x")),
        sigs.select(bb_old(F.col("sig"), 64, 16).alias("x")),
    )

    jd = spark.createDataFrame(
        [([1, 2], [2, 3])], "sh_a array<bigint>, sh_b array<bigint>"
    )

    def jac_old(a, b):
        inter = F.size(F.array_intersect(a, b))
        union = F.size(F.array_union(a, b))
        return F.when(union == 0, F.lit(0.0)).otherwise(
            inter.cast("double") / union
        )

    assert same(
        jd.select(jaccard("sh_a", "sh_b").alias("j")),
        jd.select(jac_old(F.col("sh_a"), F.col("sh_b")).alias("j")),
    )

    assert same(
        sigs.selectExpr("k", "sig", "min(k) OVER (PARTITION BY sig) AS rep"),
        sigs.select("k", "sig").withColumn(
            "rep", F.min("k").over(Window.partitionBy("sig"))
        ),
    )
