"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Not in the reference (whose only sampling-ish op is Split,
``src/stream/split.rs``); these are the training-data-pipeline
operators this engine adds as first-class citizens.

Scale design: every variant is shuffle-bounded by the *candidate* set,
never all-pairs. Exact dedup is one hash aggregation. MinHash/LSH
shuffles once on the doc key (signature build) and once on band-bucket
keys; only same-bucket pairs are verified. All hashing uses
``xxhash64`` with fixed seeds — deterministic across runs/retries,
which matters when a 100 TB job re-executes a lost partition.

Expression-shape note (hard-won): signatures must NOT be built as a
nested higher-order-function loop over the shingle expression —
``transform(sequence(0,63), i -> array_min(transform(shingles, ...)))``
re-evaluates the whole shingle subtree (regex split + slices +
array_join) per outer iteration on the *interpreted* (CodegenFallback)
HOF path: observed ~1 s/row at 300 chars/doc. Instead we explode
shingles to rows and aggregate ``min(xxhash64(shingle, seed_i))`` per
doc — every expression stays in whole-stage codegen, partial (map-side)
aggregation collapses each partition to one row per doc before the
shuffle, and the shuffle payload is just docs × num_hashes longs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from promi_spark.io import read_parquet
from promi_spark.lifetime import checkpoint, own, persist, release
from promi_spark.operators.text import tokens


def norm_text(text_col: str | Column) -> Column:
    """Canonical text normalization every dedup variant keys on (lower,
    trim, collapse whitespace) — public so pipeline stages fingerprint
    identically to these operators. Accepts a column name or a Column
    expression (callers that need NULL coalescing pass the expression)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


_norm = norm_text


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the min-key representative per identical (normalized) text.

    One hash aggregation (partial map-side combine, single shuffle on
    the md5 fingerprint). Returns (fp, keep_id, n_dups).
    """
    return df.groupBy(F.md5(_norm(text_col)).alias("fp")).agg(
        F.min(key_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# Shingles + MinHash + LSH banding
# ---------------------------------------------------------------------------


def shingle_arrays(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(k, sh): distinct word n-gram shingles per document.

    Two-step projection on purpose: ``toks`` is materialized as its own
    column first and referenced several times by the shingle expression,
    so CollapseProject keeps the boundary and the regex tokenization
    runs once per row (not once per shingle).
    """
    toks_df = df.select(
        F.col(key_col).alias("k"), tokens(_norm(text_col)).alias("toks")
    )
    toks = F.col("toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.array_distinct(
        F.when(F.size(toks) < n, F.array(F.array_join(toks, " "))).otherwise(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
        )
    )
    return toks_df.select("k", sh.alias("sh"))


_MAX = 2147483647


def gram_hash_rows(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(k, h) rows: one LONG hash per word-n-gram position,
    ``xxhash64(tok_i, .., tok_{i+n-1})``. Duplicates retained.

    The whole pipeline stays in whole-stage codegen AND scans the input
    exactly once: n shifted ``slice`` views of the token array are
    zipped, the zip is trimmed to ``size - n + 1`` entries (no null
    tails to filter), exploded by Generate, and the n struct fields
    hashed — no higher-order-function lambdas, which run interpreted at
    ~1 ms/doc and dominated the old plan. Documents shorter than n
    tokens take the ``otherwise`` branch of the same expression: one
    struct ``(whole_text, NULL, ...)``, which hashes identically to
    ``xxhash64(whole_text)`` because Spark's hash functions skip null
    inputs — so no second scan/union for the short-doc case (the
    previous two-branch union tokenized the corpus twice). Long-hash
    shingle identity makes every downstream op (explode, MIN aggregate,
    array_intersect) operate on longs; collisions (~2^-64/pair) are
    negligible for dedup.
    """
    # Built as selectExpr strings — ONE py4j round trip per projection
    # stage instead of one per Column operation (the r14 literal-collapse
    # lever applied to the hottest build path in the repo: this function
    # is issued per batch by every minhash/index/probe query, and the
    # unrolled Column form cost ~440 round trips / ~0.15 s of pure
    # driver latency per issue). The parsed expressions are the same
    # functions in the same order, so the analyzed plan — and therefore
    # every row — is unchanged (pinned by
    # test_gram_hash_rows_sql_build_same_plan).
    norm = (
        f"regexp_replace(lower(trim(`{text_col}`)), '\\\\s+', ' ')"
    )
    toks_df = df.selectExpr(
        f"`{key_col}` AS k", f"split(trim({norm}), '\\\\s+') AS toks"
    )
    shifted = toks_df.selectExpr(
        "k",
        "size(toks) AS n_toks",
        *[f"slice(toks, {j + 1}, {_MAX}) AS t{j}" for j in range(n)],
        "array_join(toks, ' ') AS whole",
    )
    zip_cols = ", ".join(f"t{j}" for j in range(n))
    null_tail = ", ".join(
        f"'t{j}', CAST(NULL AS STRING)" for j in range(1, n)
    )
    struct_sql = (
        f"named_struct('t0', whole{', ' + null_tail if null_tail else ''})"
    )
    zipped = (
        f"CASE WHEN n_toks >= {n} THEN "
        f"slice(arrays_zip({zip_cols}), 1, n_toks - {n - 1}) "
        f"ELSE array({struct_sql}) END"
    )
    hash_args = ", ".join(f"g.t{j}" for j in range(n))
    return shifted.selectExpr("k", f"explode({zipped}) AS g").selectExpr(
        "k", f"xxhash64({hash_args}) AS h"
    )


def _sig_agg_expr(num_hashes: int) -> Column:
    """The 64-way MIN signature as ONE parsed aggregate expression,
    ``array(min(xxhash64(h, 0)), ..., min(xxhash64(h, n-1)))`` — the
    same aggregates and final array the old unrolled per-slot
    ``F.min(F.xxhash64(...)).alias(...)`` list + array projection
    produced, built with a single py4j round trip instead of ~5 per
    hash slot (~2-4 ms each in-sandbox: ~0.8 s of pure driver time per
    signature build at 64 hashes)."""
    return F.expr(
        "array("
        + ",".join(f"min(xxhash64(h, {i}))" for i in range(num_hashes))
        + ")"
    ).alias("sig")


def minhash_signatures(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(k, sig): MinHash signature per document, element ``i`` =
    ``min(xxhash64(shingle_hash, i))``.

    explode → hash → groupBy(k) with ``num_hashes`` unrolled MIN
    aggregates: all codegen, map-side combine, one shuffle keyed on the
    doc id carrying 64 longs per doc. Duplicate grams cannot change a
    MIN, so no distinct pass.
    """
    rows = gram_hash_rows(df, key_col, text_col, shingle_n)
    return _sigs_from_rows(rows, num_hashes)


def _sigs_from_rows(rows: DataFrame, num_hashes: int) -> DataFrame:
    """(k, sig) from a (k, h) gram-row relation — the shared signature
    build used by the standalone path and :func:`minhash_dedup`."""
    return rows.groupBy("k").agg(_sig_agg_expr(num_hashes))


def band_buckets(
    sig_col: Column | str, num_hashes: int, bands: int
) -> Column:
    """Array of ``bands`` bucket ids: xxhash64 over (band index, the
    band's signature slice). Cheap — operates on a materialized
    64-element array attribute, never on an expression subtree. Built
    as ONE parsed expression (the transform/lambda Column form cost
    ~80 py4j round trips per issue); accepts the signature column as a
    Column only when it is a plain attribute reference (its SQL is its
    name) — callers pass ``"sig"``."""
    name = sig_col if isinstance(sig_col, str) else sig_col._jc.toString()
    return F.expr(_band_buckets_sql(name, num_hashes, bands))


def _band_buckets_sql(name: str, num_hashes: int, bands: int) -> str:
    """The :func:`band_buckets` expression as its SQL source — for
    callers embedding it inside a larger parsed expression (the
    pre-banded index write)."""
    rows = num_hashes // bands
    return (
        f"transform(sequence(0, {bands - 1}), "
        f"b -> xxhash64(b, slice({name}, b * {rows} + 1, {rows})))"
    )


def minhash_candidates(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of the MinHash
    signature. Returns (a, b) with a < b, distinct.

    Plan shape: signature build (one doc-key shuffle) → exact-signature
    class collapse → explode REPRESENTATIVES to ``bands`` rows/class →
    shuffle on (band, bucket) → within-bucket equi-join → expand class
    pairs back to member pairs (see :func:`_banded_pairs` for why the
    collapse is the mega-bucket guard). Residual bucket skew among
    DISTINCT signatures is spread by the band hash (it includes the
    band index) and split by AQE skew-join; ``max_bucket_size``
    additionally caps it hard.

    The (k, sig, rep) signature-class tagging relation is persisted
    (:func:`_sig_classes`). Relation lifetime: README "Relation
    lifetime".
    """
    sigs = minhash_signatures(df, key_col, text_col, num_hashes, shingle_n)
    return _banded_pairs(_sig_classes(sigs), num_hashes, bands, max_bucket_size)


def _sig_classes(sigs: DataFrame, cache: bool = True) -> DataFrame:
    """(k, sig, rep): each row of a (k, sig) relation tagged with its
    exact-signature class representative (min key) — the relation every
    banding core reads, persisted unless ``cache=False``: the
    collapse/expansion plan reads it four times, and without the
    persist each read re-runs the signature pipeline (measured 2.7x on
    the LSH sibling at sf1). Verify sides may read it as their (k, sig)
    source instead of recomputing the signature pipeline."""
    # rep via a sig-partitioned window, NOT groupBy(sig) + self-join:
    # the join form evaluates the upstream signature pipeline once per
    # side (measured 2.7x on lsh_near_dups at sf1, whose 64-hyperplane
    # sign pipeline is the costliest expression in the family); the
    # window form is one evaluation and one exchange on sig, then the
    # persist makes every downstream reference a cache read
    tagged = sigs.selectExpr(
        "k", "sig", "min(k) OVER (PARTITION BY sig) AS rep"
    )
    return persist(tagged) if cache else tagged


def _banded_pairs(
    tagged: DataFrame,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(a, b) distinct candidate pairs from a (k, sig, rep) relation
    (:func:`_sig_classes`): exact-signature class collapse, band-bucket
    self-equi-join on class representatives, then expansion back to
    member pairs.

    The collapse is the boilerplate-corpus guard (r7 verdict): a crawl
    corpus with m byte-identical (or shingle-identical) docs puts all m
    in the SAME bucket of EVERY band, and banding them individually
    made the within-bucket self-join emit O(m² × bands) rows before
    the distinct — AQE splits the partitions but not the pair count.
    Docs with identical signatures are provably candidates of each
    other (same bucket in all bands) and have identical collision
    behavior against everyone else, so: group by the full signature,
    band ONE representative per class (min key), and reconstruct the
    member pair set afterwards — within-class pairs directly (each
    emitted exactly once, no distinct, no band multiplicity) and
    cross-class pairs by expanding the distinct representative pairs
    over the two classes' members (classes are disjoint, so expansion
    introduces no duplicates). The output pair SET is identical to
    banding every doc individually; the DuckDB oracle bounds its
    replay with the same class-collapse technique, so both engines
    mirror each other's structure.

    ``max_bucket_size`` (optional, counts CLASSES per band bucket —
    identical docs can no longer inflate it) is the hard cap for
    near-identical-but-distinct boilerplate: buckets holding more
    classes than the cap are dropped from candidate generation. That
    trades recall for a bound — a true near-dup pair typically
    collides in several bands, so it survives unless ALL its buckets
    are over the cap — and is OFF by default because dropping
    candidates changes the output contract.

    Cost when the corpus has no duplicate signatures (the common
    case): classes == docs, and the extra collapse/expansion joins are
    doc-count-sized shuffles of (key, rep) pairs — noise next to the
    tokenize/explode/signature stages. The (k, sig, rep) tagging
    relation is persisted (docs × ~0.5 KB) so the signature aggregate
    upstream runs once, not once per downstream reference.
    """
    return _collapsed_banded_pairs(
        tagged,
        lambda s: band_buckets(s, num_hashes, bands),
        max_bucket_size,
    )


def _collapsed_banded_pairs(
    tagged: DataFrame,
    band_codes,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Shared banding core for every LSH family (MinHash bands,
    SimHash chunk bands, hyperplane sign-bit bands): exact-signature
    class collapse → band one representative per class with
    ``band_codes`` (a Column function: sig column → array<long> of
    per-band bucket codes) → within-bucket self-equi-join on
    representatives → expand back to member pairs. See
    :func:`_banded_pairs` for the full semantics/guard discussion.
    ``tagged`` is the (k, sig, rep) relation of :func:`_sig_classes`."""
    # joins/selects below are parsed expressions where the arguments
    # are plain attribute references — same analyzed plans as the
    # Column forms (test_sql_collapsed_builds_plan_identical_to_
    # column_forms pins the representative cases), ~40% fewer py4j
    # round trips per issue across the minhash/simhash/lsh family
    reps = tagged.filter("k = rep").select("k", "sig")
    mem = tagged.select("k", "rep")

    banded = reps.select(
        "k",
        F.posexplode(band_codes(F.col("sig"))).alias("band", "bucket"),
    )
    if max_bucket_size is not None:
        ok_buckets = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("bsz"))
            .filter(F.col("bsz") <= max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(ok_buckets, ["band", "bucket"], "left_semi")
    a = banded.alias("a")
    b = banded.alias("b")
    rep_pairs = (
        a.join(
            b,
            F.expr("a.band = b.band AND a.bucket = b.bucket AND a.k < b.k"),
        )
        .selectExpr("a.k AS a", "b.k AS b")
        .distinct()
    )
    cross = (
        rep_pairs.join(mem.selectExpr("rep AS a", "k AS ka"), "a")
        .join(mem.selectExpr("rep AS b", "k AS kb"), "b")
        .selectExpr("least(ka, kb) AS a", "greatest(ka, kb) AS b")
    )
    x = mem.alias("x")
    y = mem.alias("y")
    within = x.join(
        y, F.expr("x.rep = y.rep AND x.k < y.k")
    ).selectExpr("x.k AS a", "y.k AS b")
    return within.unionByName(cross)


def jaccard(a_shingles: Column | str, b_shingles: Column | str) -> Column:
    """Exact Jaccard over shingle arrays (verification step). One
    parsed expression when both sides are plain attribute references
    (the Column form cost ~90 py4j round trips per issue — paid once
    per verify join across the minhash family); falls back to the
    Column build for computed arguments."""
    if not isinstance(a_shingles, (str, Column)):
        raise TypeError("jaccard: pass Columns or column names")
    a_sql = (
        a_shingles
        if isinstance(a_shingles, str)
        else a_shingles._jc.toString()
    )
    b_sql = (
        b_shingles
        if isinstance(b_shingles, str)
        else b_shingles._jc.toString()
    )
    if a_sql.isidentifier() and b_sql.isidentifier():
        return F.expr(
            f"CASE WHEN size(array_union({a_sql}, {b_sql})) = 0 THEN 0.0D "
            f"ELSE CAST(size(array_intersect({a_sql}, {b_sql})) AS DOUBLE) "
            f"/ size(array_union({a_sql}, {b_sql})) END"
        )
    a_c = F.col(a_shingles) if isinstance(a_shingles, str) else a_shingles
    b_c = F.col(b_shingles) if isinstance(b_shingles, str) else b_shingles
    inter = F.size(F.array_intersect(a_c, b_c))
    union = F.size(F.array_union(a_c, b_c))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter.cast("double") / union)


def minhash_dedup(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified by exact Jaccard
    >= threshold. Returns (a, b, jaccard_sim).

    Candidate generation collapses exact-signature classes before
    banding (see :func:`_banded_pairs`) so byte-identical boilerplate
    cannot blow up the bucket join; ``max_bucket_size`` optionally
    hard-caps residual near-identical skew (recall trade, off by
    default).

    Single-scan by construction: the (k, gram-hash) row relation — the
    output of the dominant tokenize→explode stage — is persisted
    (memory, disk-spill) and feeds BOTH aggregations: the 64-way MIN
    signature build (codegen HashAggregate) and the ``collect_set``
    verify side (ObjectHashAggregate). The two are deliberately NOT one
    combined groupBy: a single ``collect_set`` aggregate would drag the
    64 MIN updates onto the non-codegen object-hash path (measured 5x
    slower cold). The two doc-level aggregates are each referenced
    twice (banding / verify self-join sides) and deliberately NOT
    persisted themselves: both re-aggregate from the gram-row cache,
    which measures faster than stacking nested InMemoryRelations (the
    aggs are cheap once tokenization is paid), and the self-join form —
    rather than a collect_list-per-bucket pair generator — keeps
    pathological LSH buckets splittable by AQE skew-join at scale.
    Cached gram rows are ~(corpus tokens × 16 B)
    — at 100 TB that spills to executor disk, which still beats paying
    the tokenize+explode stage twice; a production pipeline would
    persist it as the dedup index anyway. The verify join itself touches
    only candidate keys.

    Relation lifetime: README "Relation lifetime".
    """
    rows = persist(gram_hash_rows(df, key_col, text_col, shingle_n))
    cands = _banded_pairs(
        _sig_classes(_sigs_from_rows(rows, num_hashes)),
        num_hashes,
        bands,
        max_bucket_size,
    )
    sh = rows.groupBy("k").agg(F.collect_set("h").alias("sh"))
    return (
        cands.join(sh.withColumnsRenamed({"k": "a", "sh": "sh_a"}), "a")
        .join(sh.withColumnsRenamed({"k": "b", "sh": "sh_b"}), "b")
        .select(
            "a",
            "b",
            F.round(jaccard("sh_a", "sh_b"), 4).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


def write_minhash_index(
    df: DataFrame,
    path: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> None:
    """Persist the corpus dedup index: one row per document carrying its
    MinHash signature (the banding side), its distinct gram-hash set
    (the verify side), and its exact-signature class representative
    ``rep`` (the skew-guard side: probes band one doc per class) — the
    artifact an ingest pipeline probes so each incoming batch pays
    tokenization for ITS OWN docs only, never a corpus rescan. One
    tokenize pass, one doc-key shuffle plus one signature-class shuffle
    (both amortized over every future probe); the geometry rides
    alongside as ``_index_meta.json`` so probes fail fast on a
    mismatched configuration instead of silently missing pairs.
    """
    import json

    from promi_spark.operators.similarity import _hadoop_write_text

    rows = gram_hash_rows(df, key_col, text_col, shingle_n).persist()
    try:
        sigs = _sigs_from_rows(rows, num_hashes)
        sh = rows.groupBy("k").agg(F.collect_set("h").alias("sh"))
        # exact-signature class representative, computed once at build
        # time so probes can band one doc per class (the r8 boilerplate
        # guard) without an index-proportional shuffle per batch. The
        # rep comes from a sig-partitioned window, NOT groupBy(sig) +
        # self-join: the join form re-aggregates the signature relation
        # for the second join side and adds a shuffle + join, the
        # window form is one exchange on sig — the same rewrite
        # _collapsed_banded_pairs carries (identical rep values:
        # min(k) per exact signature either way).
        tagged = sigs.selectExpr(
            "*", "min(k) OVER (PARTITION BY sig) AS rep"
        )
        # pre-banded bucket codes for the REP rows (r14 deferred-idea
        # re-measured r15: computing band_buckets over the index reps
        # cost ~0.12 s per probe at sf0.1 vs ~0.03 s once at build;
        # every future probe reads the stored array instead). NULL for
        # non-rep member rows — compresses away; probes on an index
        # written before this column existed recompute it (fallback in
        # minhash_dedup_incremental).
        bb = _band_buckets_sql("sig", num_hashes, bands)
        tagged = tagged.selectExpr(
            "*", f"CASE WHEN k = rep THEN {bb} ELSE NULL END AS bb"
        )
        tagged.join(sh, "k").write.mode("overwrite").parquet(path)
    finally:
        rows.unpersist()
    _hadoop_write_text(
        df.sparkSession,
        f"{path.rstrip('/')}/_index_meta.json",
        json.dumps(
            {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n}
        ),
    )


def minhash_dedup_incremental(
    new_df: DataFrame,
    index_path: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    include_new_pairs: bool = True,
    cache: bool = True,
) -> DataFrame:
    """Ingest-time near-dup pairs: an incoming batch probed against the
    persisted corpus index (:func:`write_minhash_index`), plus — with
    ``include_new_pairs`` — the within-batch pairs. Returns
    (a, b, jaccard_sim) with a < b, so results compose directly with
    :func:`dedup_components` / the batch :func:`minhash_dedup` output.

    Scale shape: cost is proportional to the BATCH (its tokenize pass +
    banding) plus a banded equi-join against the index — the corpus is
    never re-tokenized, and the index scan prunes to (k, sig) for
    banding and joins gram sets back for verified candidates only.
    Signatures are per-doc deterministic, so a cross pair (new, old)
    collides on exactly the bands it would have collided on in a full
    :func:`minhash_dedup` over the combined corpus — identical recall.
    The banding geometry comes from the index's ``_index_meta.json``;
    the batch is hashed with the same parameters by construction.

    Skew note: BOTH pair generators run through the r8 class-collapse
    guard. The within-batch side collapses exact-signature classes
    per batch; the cross probe bands one representative per class on
    each side — the index's classes were computed at build time
    (:func:`write_minhash_index` writes a ``rep`` column), so the
    probe stays batch-proportional, and the batch's classes cost one
    batch-sized shuffle. A boilerplate-heavy batch probing a
    boilerplate-heavy index thus emits ONE banded collision per
    (class, class) pair instead of m_batch x m_index x bands
    pre-distinct rows; the true m_batch x m_index member pairs are
    reconstructed losslessly only for classes that actually collide
    (they all still verify — that output size is the real answer, as
    everywhere in this family). An index written before the ``rep``
    column existed degrades to per-doc banding through the same code
    path. ExactDedup before the ingest gate (as in
    ``examples/clean_corpus.yml``) remains the cheapest front line.

    ``cache=True`` persists the batch's gram rows and, with
    ``include_new_pairs``, its signature-class tagging (relation
    lifetime: README "Relation lifetime"); ``cache=False`` (the
    streaming gate) pins nothing at the cost of re-evaluating the batch
    pipeline per downstream reference.
    """
    import json

    spark = new_df.sparkSession
    from promi_spark.operators.similarity import _hadoop_read_text

    meta = json.loads(
        _hadoop_read_text(spark, f"{index_path.rstrip('/')}/_index_meta.json")
    )
    num_hashes, bands = meta["num_hashes"], meta["bands"]

    idx = read_parquet(spark, index_path)
    rows_new = gram_hash_rows(new_df, key_col, text_col, meta["shingle_n"])
    if cache:
        rows_new = persist(rows_new)
    sigs_new = _sigs_from_rows(rows_new, num_hashes)
    sh_new = rows_new.groupBy("k").agg(F.collect_set("h").alias("sh"))

    def banded(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            "k",
            F.posexplode(
                band_buckets(F.col("sig"), num_hashes, bands)
            ).alias("band", "bucket"),
        )

    # band ONE doc per exact-signature class on both probe sides (the
    # r8 boilerplate guard, extended to the cross probe): the index
    # carries its class representative from build time, so no
    # index-proportional shuffle happens here; the batch computes its
    # own classes (batch-proportional). Identical signatures collide on
    # exactly the same buckets, so expanding representative collisions
    # back to member pairs reproduces the per-doc join's pair set.
    if "rep" not in idx.columns:
        # pre-class index: every doc is its own class — same code path,
        # per-doc banding exactly as before the guard
        idx = idx.withColumn("rep", F.col("k"))
    # the within-batch pair generator and the cross probe read the
    # same (k, sig, rep) tagging relation, persisted only when both do
    tag_n = _sig_classes(sigs_new, cache and include_new_pairs)
    reps_n = tag_n.filter("k = rep").select("k", "sig")
    mem_n = tag_n.select("k", "rep")
    mem_i = idx.select("k", "rep")
    if "bb" in idx.columns:
        # r15 pre-banded index: the reps' band-bucket codes were
        # computed once at build time (write_minhash_index stores them
        # on rep rows only) — every probe reads the array instead of
        # re-hashing |classes| x bands slices. Identical codes by
        # construction: the stored expression IS band_buckets(sig).
        banded_i = idx.filter("k = rep").select(
            "k", F.posexplode("bb").alias("band", "bucket")
        )
    else:
        banded_i = banded(idx.filter("k = rep").select("k", "sig"))
    rep_cross = (
        banded(reps_n)
        .alias("n")
        .join(
            banded_i.alias("i"),
            F.expr("n.band = i.band AND n.bucket = i.bucket"),
        )
        .selectExpr("n.k AS rn", "i.k AS ri")
        .distinct()
    )
    cross = (
        rep_cross.join(mem_n.selectExpr("rep AS rn", "k AS nk"), "rn")
        .join(mem_i.selectExpr("rep AS ri", "k AS ik"), "ri")
        .filter("nk != ik")
        .selectExpr(
            "least(nk, ik) AS a", "greatest(nk, ik) AS b", "nk", "ik"
        )
        .distinct()
    )
    verified = (
        cross.join(
            sh_new.withColumnsRenamed({"k": "nk", "sh": "sh_n"}), "nk"
        )
        .join(
            idx.select(F.col("k").alias("ik"), F.col("sh").alias("sh_i")),
            "ik",
        )
        .select(
            "a",
            "b",
            F.round(jaccard("sh_n", "sh_i"), 4).alias(
                "jaccard_sim"
            ),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )
    if include_new_pairs:
        cands_new = _banded_pairs(tag_n, num_hashes, bands)
        within = (
            cands_new.join(
                sh_new.withColumnsRenamed({"k": "a", "sh": "sh_a"}), "a"
            )
            .join(sh_new.withColumnsRenamed({"k": "b", "sh": "sh_b"}), "b")
            .select(
                "a",
                "b",
                F.round(jaccard("sh_a", "sh_b"), 4).alias(
                    "jaccard_sim"
                ),
            )
            .filter(F.col("jaccard_sim") >= threshold)
        )
        verified = verified.unionByName(within)
    return verified


def dedup_components(
    pairs: DataFrame, max_iter: int = 30, checkpoint_every: int = 5
) -> DataFrame:
    """(doc_id, component): connected components of the near-dup pair
    graph — the canonical clustering step after pair generation in a
    production dedup pipeline (keep ``min(doc_id)`` per component, drop
    the rest). ``component`` is the smallest doc id reachable from the
    node.

    Iterative min-label propagation over the symmetric edge list: each
    round joins labels to neighbors, takes the per-node min, and stops
    when no label changed — O(graph diameter) rounds, and near-dup
    clusters are shallow (most are stars around one canonical doc), so
    this converges in 2-3 rounds in practice. Each round is one
    shuffle join + one map-side-combined min aggregation; round state
    is (id, label) pairs only, so it stays tiny regardless of corpus
    size. Keys keep their input type (any orderable type works — ids
    may be strings/UUIDs). At extreme graph scale swap in
    large-star/small-star (Kiveris et al.) — the round structure below
    is the small-star half.

    Raises ``RuntimeError`` if the graph has not converged after
    ``max_iter`` rounds (diameter > max_iter) instead of returning
    silently-wrong intermediate labels. The final label relation is
    handed out as an eager ``localCheckpoint`` leaf (rows were already
    materialized by the convergence check); relation lifetime: README
    "Relation lifetime". Round state is released as the loop advances,
    and on the error path.

    Every ``checkpoint_every`` rounds the label relation is
    ``localCheckpoint``-ed: although each round's inputs are persisted,
    the LOGICAL plan still nests the previous round's join, so a
    high-diameter graph (a long chain of near-dups) would otherwise
    build an O(diameter)-deep lineage with a superlinear planning tail
    near ``max_iter``. The checkpoint truncates lineage to the
    materialized label rows; plan depth stays O(checkpoint_every)
    regardless of diameter. (On a real cluster prefer
    ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` if
    executor loss during the loop matters; localCheckpoint trades that
    fault-tolerance for zero-copy speed, the right call for an
    interactive dedup pass.)
    """
    edges = pairs.select("a", "b")
    # eager localCheckpoint, not a bare persist: every round's nbr join
    # references sym, and each round's labels nest the previous round's
    # plan twice, so with sym as a live pipeline the round-r analysis
    # re-walks ~2^r copies of the whole upstream pair generation
    # (minhash tokenize/band/verify). As a checkpointed leaf the loop's
    # plans stay KB-sized regardless of the pair source (the rows were
    # going to be materialized by round 1's action anyway; same
    # fault-tolerance trade as dedup_components_stars' edge list).
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .persist()
    )
    n_rounds = 0
    converged = False
    try:
        for _ in range(max_iter):
            n_rounds += 1
            nbr = (
                sym.join(
                    labels.withColumnsRenamed({"id": "b", "comp": "nbr_comp"}),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("nbr_comp").alias("nbr_min"))
                .withColumnRenamed("a", "id")
            )
            new_labels = (
                labels.join(nbr, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("comp"), F.coalesce("nbr_min", F.col("comp"))
                    ).alias("comp"),
                )
                .persist()
            )
            try:
                changed = (
                    new_labels.alias("n")
                    .join(labels.alias("o"), "id")
                    .filter(F.col("n.comp") != F.col("o.comp"))
                    .count()
                )
            except BaseException:
                # the action failed mid-round: new_labels would escape
                # the `labels` rotation below and stay pinned forever
                new_labels.unpersist()
                raise
            # right after a checkpoint rotation the outgoing `labels`
            # is a localCheckpoint leaf: release frees its blocks (the
            # new round's labels are already materialized)
            release(labels)
            labels = new_labels
            if changed == 0:
                converged = True
                break
            if checkpoint_every and n_rounds % checkpoint_every == 0:
                # truncate the round-over-round join lineage (see
                # docstring); eager so the persisted new_labels can be
                # released immediately after.
                cp = labels.localCheckpoint(eager=True)
                labels.unpersist()
                labels = cp
        if not converged:
            raise RuntimeError(
                f"dedup_components did not converge in {max_iter} rounds "
                "(pair-graph diameter exceeds max_iter); raise max_iter"
            )
    finally:
        # sym's checkpoint blocks (the full symmetric pair graph — the
        # LARGEST relation this loop pins) are released explicitly the
        # moment the loop is over (r14 ADVICE: GC + ContextCleaner
        # timing could otherwise hold them for the life of a long
        # session); on the failure path the current round's labels must
        # not stay pinned either
        release(sym)
        if not converged:
            release(labels)
    # Truncate the final lineage before handing the labels out: the
    # round-over-round plan references the previous round's labels
    # TWICE per round (the nbr join and the left join), so the
    # RETURNED relation's logical plan grows ~2^rounds copies of the
    # upstream pair-generation pipeline — measured 5.4 MB of formatted
    # plan after 3 rounds on the minhash pair graph, and every
    # downstream consumer (keep-best window, split join, the caller's
    # own action) re-pays Catalyst analysis of all of it. The rows are
    # already materialized by the convergence check, so the eager
    # localCheckpoint is a cache-to-checkpoint copy of the (tiny)
    # label relation and the handed-out plan is a leaf.
    final = checkpoint(labels)
    labels.unpersist()
    out = final.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )
    out.n_rounds = n_rounds  # label-propagation rounds to convergence
    return out


def dedup_components_stars(
    pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(doc_id, component): connected components via alternating
    large-star / small-star edge rewriting (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — public
    formulation). Same output contract as :func:`dedup_components`
    (``component`` = smallest reachable doc id; only paired nodes
    appear — degenerate self-pairs (a == b) carry no connectivity and
    are dropped entirely), different round complexity: O(log n)
    rounds instead of
    O(graph diameter), which is the right trade on adversarial
    pair graphs — a chain of 10^6 chained near-dups converges in ~20
    star rounds where min-label propagation needs 10^6. For the
    shallow star-shaped clusters real near-dup graphs produce,
    :func:`dedup_components` converges in 2-3 cheaper rounds — keep it
    as the default and reach for this on high-diameter graphs.

    Round shape: edges live canonically as (u, v) with u > v.
    Large-star connects every neighbor LARGER than a node to the min
    of its neighborhood (one symmetric groupBy + join); small-star
    connects each node and its smaller neighbors to the neighborhood
    min (one groupBy + join on the canonical list). Both strictly
    shrink the component's potential and preserve connectivity; at the
    fixed point the edge set is a union of stars centered on each
    component's minimum. State per round is the edge list itself —
    bounded by the input pair count, shuffled on node keys, AQE
    splitting skew (a giant component's center is by construction a
    hot key; the star rewrite is exactly the transformation that keeps
    its degree bounded per round). Lineage is truncated with an EAGER
    ``localCheckpoint`` of the input edge list and of EVERY round's
    output — structural here, not the periodic optimization it is in
    :func:`dedup_components`: each star operation references its input
    relation several times (the symmetric union, the min join), so an
    un-truncated plan grows EXPONENTIALLY in rounds — ~6^r copies of
    the upstream pair-generation pipeline — and Catalyst plan
    canonicalization alone OOMs the JVM by round 3 on a minhash pair
    graph (observed at the sf1 soak). The checkpoint materializes rows
    the convergence check needs anyway, so it costs nothing extra.

    Exposes ``.n_rounds`` (full large+small rounds to stability); the
    checkpointed final star edges and the persisted node set back the
    result (relation lifetime: README "Relation lifetime"). Raises
    ``RuntimeError`` if not stable after ``max_iter`` rounds.
    """
    # canonical (u > v) edge list; self-pairs dropped. The eager
    # localCheckpoint cuts the upstream pair-generation plan off the
    # loop (see docstring).
    edges = checkpoint(
        pairs.select(
            F.greatest(F.col("a"), F.col("b")).alias("u"),
            F.least(F.col("a"), F.col("b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = persist(
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
    )

    def large_star(E: DataFrame) -> DataFrame:
        sym = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mv")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(E: DataFrame) -> DataFrame:
        mins = E.groupBy("u").agg(F.min("v").alias("m"))
        to_min = (
            E.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        center = mins.select("u", F.col("m").alias("v"))
        return to_min.union(center).distinct()

    n_rounds = 0
    stable = False
    first_edges = edges
    try:
        for _ in range(max_iter):
            n_rounds += 1
            # eager checkpoint each round: truncates the exponential
            # star lineage AND materializes the rows the convergence
            # check reads. Round state is released here, not by the
            # scope; only the last round's edges are handed to it.
            new_edges = small_star(large_star(edges)).localCheckpoint(
                eager=True
            )
            changed = not (
                new_edges.exceptAll(edges)
                .union(edges.exceptAll(new_edges))
                .isEmpty()
            )
            # superseded round's checkpoint blocks: released explicitly
            # instead of waiting for driver GC + ContextCleaner (r14
            # ADVICE on the sibling loop); the convergence check above
            # already consumed the old relation. NEVER the round-0
            # input leaf — the lazily-persisted `nodes` relation still
            # reads it at its first materialization (releasing it
            # raised CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the final
            # labels join; a checkpoint leaf cannot recompute).
            superseded, edges = edges, new_edges
            if superseded is not first_edges:
                release(superseded)
            if not changed:
                stable = True
                break
        if not stable:
            raise RuntimeError(
                f"dedup_components_stars not stable after {max_iter} "
                "rounds; raise max_iter"
            )
    finally:
        if not stable:
            nodes.unpersist()
            if edges is not first_edges:
                release(edges)
    if edges is not first_edges:
        own(edges)
    # at the fixed point every non-center node has exactly one star
    # edge (u -> component min); centers map to themselves
    out = (
        nodes.join(
            edges.select(F.col("u").alias("id"), F.col("v").alias("comp")),
            "id",
            "left",
        )
        .groupBy("id")
        .agg(F.min(F.coalesce(F.col("comp"), F.col("id"))).alias("component"))
        .select(F.col("id").alias("doc_id"), "component")
    )
    out.n_rounds = n_rounds
    return out


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str | Column,
    key_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware dedup: keep the HIGHEST-quality member of every
    near-dup component (ties to the lowest key) and drop the rest —
    the production keep-rule when a quality signal exists (an LLM
    pipeline keeps the cleanest copy of a near-dup cluster, not the
    one with the smallest id). Documents in no pair are untouched.

    ``quality_col`` is any ORDERABLE column or expression over ``df``
    (a quality score, a length, a source-priority rank). Returns the
    surviving rows of ``df`` with its original schema. NULL qualities
    are pinned LAST in the rank (``desc_nulls_last``): a null-quality
    document never beats a scored one, and among all-null components
    the lowest key survives — the oracle's rank replay must use
    ``DESC NULLS LAST`` to agree (DuckDB's default for DESC already
    is, but the SQL side pins it explicitly too).

    Plan shape: :func:`dedup_components` clusters the pair graph
    (round state is (id, label) pairs only); the representative pick
    is ONE window over component members — a relation bounded by the
    paired docs, not the corpus — and survivors come back via a
    left-anti join on the dropped keys. The component label relation
    backs both the window and the anti-join (relation lifetime: README
    "Relation lifetime")."""
    q = F.col(quality_col) if isinstance(quality_col, str) else quality_col
    # Resolve the quality expression against df BEFORE clustering: a bad
    # column/expression must fail here, not after dedup_components has
    # checkpointed the label relation.
    df.select(q.alias("__q"))
    comp = dedup_components(pairs)
    if key_col != "doc_id":
        comp = comp.withColumnRenamed("doc_id", key_col)
    members = df.join(comp, key_col, "inner").select(
        F.col(key_col), F.col("component"), q.alias("__q")
    )
    w = Window.partitionBy("component").orderBy(
        F.col("__q").desc_nulls_last(), F.col(key_col).asc()
    )
    drops = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(key_col)
    )
    return df.join(drops, key_col, "left_anti")


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    ratio: float,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Train/test split that near-duplicates cannot straddle: route by
    the near-dup COMPONENT, not the document. A plain per-doc split
    leaks — a test document's near-duplicate lands in train and the
    eval is contaminated (the published failure mode exact/near dedup
    pipelines exist to prevent). Here every document draws its coin
    from ``coalesce(component, own key)``, so an entire near-dup
    cluster moves as one unit; singletons behave exactly like
    :func:`operators.split.split`.

    The coin is the same engine-portable md5 hex compare as
    Split/Sample (namespace ``lsplit``), so the routing is reproducible
    across engines/retries and the oracle replays it in SQL. Adds a
    ``split`` column ('train'/'test').

    Scale shape: one component clustering over the (tiny) pair graph,
    one left join of the corpus against the (doc_id, component) labels
    — broadcastable whenever the near-dup population is small relative
    to the corpus, which is the normal regime — then a narrow coin
    filter. Relation lifetime: README "Relation lifetime"."""
    from promi_spark.operators.split import coin_hex, hex_threshold

    comp = dedup_components(pairs)
    joined = df.join(
        comp.withColumnRenamed("doc_id", key_col), key_col, "left"
    )
    group = F.coalesce(F.col("component"), F.col(key_col))
    coin = coin_hex(group.cast("string"), seed, salt="lsplit")
    return joined.withColumn(
        "split",
        F.when(coin < F.lit(hex_threshold(ratio)), F.lit("train")).otherwise(
            F.lit("test")
        ),
    ).drop("component")


def mllib_minhash_candidates(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    num_hash_tables: int = 8,
    jaccard_distance: float = 0.5,
    shingle_n: int = 3,
    num_features: int = 1 << 18,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MLlib-native variant of :func:`minhash_candidates`:
    shingle-hash sets → binary feature vectors (``num_features`` dims) →
    ``MinHashLSH.approxSimilarityJoin``. Returns (a, b, jaccard_dist)
    with a < b.

    Same asymptotics as the hand-rolled LSH (banded signature join);
    kept as the MLlib-pipeline integration point — drop-in for ML
    Pipeline stages, model persistence, and transform reuse across
    corpora. The hand-rolled path stays the default: no vector
    materialization and exact (not feature-bucketed) Jaccard verify.

    Vector construction is ``HashingTF(binary=True)`` over the shingle
    string arrays: the standard MLlib Pipeline stage for exactly this
    job — JVM-side, SPARSE vectors (size ∝ shingles per doc, not
    ``num_features``), no Python in the loop. That keeps
    ``num_features`` free to be 2^18 for low collision without paying
    dense-vector memory (a dense formulation at 2^18 costs 2 MB/row and
    OOMs the LSH join's broadcast; sparse costs ~8 B per shingle).
    MinHashLSH's reported distance is feature-bucketed Jaccard either
    way; the exact-verify pass in :func:`mllib_minhash_dedup` makes the
    final answer bucket-free.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    if shingles is None:
        shingles = shingle_arrays(df, key_col, text_col, shingle_n)
    sh = shingles
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=num_features, binary=True
    )
    vecs = tf.transform(sh.filter(F.size(F.col("sh")) > 0)).select("k", "features")
    model = MinHashLSH(
        inputCol="features", outputCol="lsh", numHashTables=num_hash_tables, seed=42
    ).fit(vecs)
    joined = model.approxSimilarityJoin(
        vecs, vecs, threshold=jaccard_distance, distCol="jaccard_dist"
    )
    return (
        joined.filter(F.col("datasetA.k") < F.col("datasetB.k"))
        .select(
            F.col("datasetA.k").alias("a"),
            F.col("datasetB.k").alias("b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
    )


def mllib_minhash_dedup(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hash_tables: int = 8,
    shingle_n: int = 3,
    num_features: int = 1 << 18,
) -> DataFrame:
    """MLlib-candidate near-dup pairs verified by EXACT shingle Jaccard:
    ``MinHashLSH`` generates candidates (any colliding hash table,
    distance threshold wide open), then the same exact-Jaccard verify as
    :func:`minhash_dedup` filters to >= ``threshold``. Returns
    (a, b, jaccard_sim) — the same contract (and oracle) as the
    hand-rolled path, so the two variants are directly comparable.

    Single-scan: one persisted :func:`shingle_arrays` relation feeds
    both the ``HashingTF`` vectorization and the verify join, and the
    verify Jaccard runs directly over the distinct string shingle
    arrays — set cardinalities (hence Jaccard) are identical to the
    hashed-gram formulation, without a second tokenize pass. Relation
    lifetime: README "Relation lifetime".
    """
    sh = persist(shingle_arrays(df, key_col, text_col, shingle_n))
    cands = mllib_minhash_candidates(
        df,
        key_col,
        text_col,
        num_hash_tables=num_hash_tables,
        jaccard_distance=1.0,
        shingle_n=shingle_n,
        num_features=num_features,
        shingles=sh,
    ).select("a", "b")
    return (
        cands.join(sh.withColumnsRenamed({"k": "a", "sh": "sh_a"}), "a")
        .join(sh.withColumnsRenamed({"k": "b", "sh": "sh_b"}), "b")
        .select(
            "a",
            "b",
            F.round(jaccard("sh_a", "sh_b"), 4).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _md5_bit(md5_col: Column, i: int) -> Column:
    """Bit ``i`` (0..63) of the 64-bit value encoded by the first 16 hex
    digits of an md5 string: digit ``i // 4``, bit ``i % 4`` of its
    value. Engine-portable by construction — any SQL dialect with
    ``md5``/``substring``/``strpos`` computes the identical bit, which
    is what makes the md5 hash mode oracle-checkable.

    This per-digit form is the SPECIFICATION; the production path in
    :func:`simhash_bits_df` decodes two 32-bit halves and shifts
    (value-identical, ~2.5x faster). The agreement is pinned by
    ``tests/test_properties.py::test_md5_bit_decode_parity`` so the
    fast decode cannot silently diverge from this contract."""
    digit = F.substring(md5_col, i // 4 + 1, 1)
    val = F.conv(digit, 16, 10).cast("int")
    return F.shiftright(val, i % 4).bitwiseAND(F.lit(1))


def simhash_bits_df(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(k, bits): SimHash bit array per document — bit ``i`` is the sign
    of the sum over tokens of ±1 votes from token-hash bit ``i``.

    Same explode → groupBy shape as MinHash: 64 unrolled SUM aggregates
    in codegen with map-side combine; no interpreted HOF loops.

    ``hash_mode='md5'`` swaps the token hash for md5 (bits read from the
    hex digits) — slower than xxhash64 but computable by any SQL engine,
    so the whole signature is cross-engine checkable. xxhash64 stays the
    fast default.
    """
    tok_rows = df.select(
        F.col(key_col).alias("k"), F.explode(tokens(_norm(text_col))).alias("tok")
    )
    if hash_mode == "md5":
        # Decode the first 16 hex digits ONCE into two 32-bit longs and
        # read every bit with a shift/AND — value-identical to the
        # per-bit ``_md5_bit`` (digit i//4, bit i%4: digit d of an
        # 8-digit hex number occupies value bits 4*(7-d)..4*(7-d)+3),
        # but 2 conv() calls per token instead of 64 substring+conv
        # pairs (measured 2.5x on the signature build at sf0.1).
        tok_rows = tok_rows.selectExpr(
            "k",
            "cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint) AS hi",
            "cast(conv(substring(md5(tok), 9, 8), 16, 10) as bigint) AS lo",
        )

        def bit_sql(i: int) -> str:
            src = "hi" if i < 32 else "lo"
            d = i // 4 if i < 32 else i // 4 - 8
            return f"(shiftright({src}, {4 * (7 - d) + i % 4}) & 1)"
    else:
        tok_rows = tok_rows.selectExpr("k", "xxhash64(tok) AS h")

        def bit_sql(i: int) -> str:
            return f"(shiftrightunsigned(h, {i}) & 1)"

    # the 64 ±1-vote SUMs and the sign readout as ONE parsed aggregate
    # expression (same aggregates/values as the old per-bit Column
    # objects; one py4j round trip instead of ~10 per bit — see
    # _sig_agg_expr)
    votes = ",".join(
        f"CASE WHEN sum(CASE WHEN {bit_sql(i)} = 1 THEN 1 ELSE -1 END) > 0 "
        "THEN 1L ELSE 0L END"
        for i in range(bits)
    )
    return tok_rows.groupBy("k").agg(F.expr(f"array({votes})").alias("bits"))


def simhash_hex(bits_col: Column, bits: int = 64, chunk: int = 16) -> Column:
    """Pack the bit array into a hex string, ``chunk`` bits at a time
    (Horner within each chunk keeps values < 2^16 — no long overflow,
    safe under ANSI mode). Cheap: runs over a materialized bit-array
    attribute."""
    n_chunks = bits // chunk
    parts = [
        F.lpad(
            F.lower(
                F.hex(
                    F.aggregate(
                        F.slice(bits_col, c * chunk + 1, chunk),
                        F.lit(0).cast("long"),
                        lambda acc, b: acc * 2 + b,
                    )
                )
            ),
            chunk // 4,
            "0",
        )
        for c in range(n_chunks)
    ]
    return F.concat(*parts)


def simhash_signatures(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(key, simhash hex string) per document."""
    return simhash_bits_df(df, key_col, text_col, hash_mode=hash_mode).select(
        F.col("k").alias(key_col), simhash_hex(F.col("bits")).alias("simhash")
    )


def hamming(a_bits: Column, b_bits: Column) -> Column:
    """Hamming distance between two bit arrays."""
    return F.aggregate(
        F.zip_with(a_bits, b_bits, lambda x, y: F.abs(x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash_candidates(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    max_hamming: int | None = None,
    hash_mode: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Hamming-near candidate pairs: docs sharing any 16-bit chunk of
    the signature (full recall for hamming distance < bands). Optional
    exact hamming verification when ``max_hamming`` is set.

    The band key is the chunk's bit pattern read as an integer (Horner)
    — the chunk is already <= 16 bits, so it needs no hashing, and the
    integer code keeps the candidate join SQL-replayable for the oracle
    (paired with ``hash_mode='md5'``).

    r8: candidate generation runs through the shared
    :func:`_collapsed_banded_pairs` core — byte-identical docs have
    identical simhash bits, so they collapse to one banded
    representative exactly like the MinHash path (the same boilerplate
    mega-bucket guard), and the verify join reads the persisted
    (k, bits) tagging relation instead of re-running the
    tokenize→simhash pipeline per side. ``max_bucket_size`` caps
    residual near-identical bucket skew (counts classes, off by
    default). Relation lifetime: README "Relation lifetime"."""
    chunk = 64 // bands
    bits_df = simhash_bits_df(df, key_col, text_col, hash_mode=hash_mode)

    def codes(sig):
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.aggregate(
                F.slice(sig, b * chunk + 1, chunk),
                F.lit(0).cast("long"),
                lambda acc, bit: acc * 2 + bit,
            ),
        )

    verify_src = _sig_classes(bits_df.select("k", F.col("bits").alias("sig")))
    cands = _collapsed_banded_pairs(verify_src, codes, max_bucket_size)
    pairs = (
        cands.join(
            verify_src.select(
                F.col("k").alias("a"), F.col("sig").alias("bits_a")
            ),
            "a",
        )
        .join(
            verify_src.select(
                F.col("k").alias("b"), F.col("sig").alias("bits_b")
            ),
            "b",
        )
        .select(
            "a",
            "b",
            hamming(F.col("bits_a"), F.col("bits_b")).alias("hamming"),
        )
    )
    if max_hamming is not None:
        pairs = pairs.filter(F.col("hamming") <= max_hamming)
    return pairs
