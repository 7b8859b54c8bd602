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
from promi_spark.lifetime import checkpoint, own, release
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


def band_buckets(sig_col: str, num_hashes: int, bands: int) -> Column:
    """Array of ``bands`` bucket ids: xxhash64 over (band index, the
    band's signature slice). Cheap — operates on a materialized
    64-element array attribute, never on an expression subtree. Built
    as ONE parsed expression (the transform/lambda Column form cost
    ~80 py4j round trips per issue), so the signature column is named,
    not passed as a Column: ``sig_col`` must be a plain identifier."""
    if not (isinstance(sig_col, str) and sig_col.isidentifier()):
        raise ValueError(
            f"band_buckets needs a plain column name, got {sig_col!r}"
        )
    return F.expr(_band_buckets_sql(sig_col, num_hashes, bands))


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

    The (k, sig, rep) signature-class tagging relation is checkpointed
    (:func:`_sig_classes`), so this call runs the signature jobs before
    it returns. Relation lifetime: README "Relation lifetime".
    """
    sigs = minhash_signatures(df, key_col, text_col, num_hashes, shingle_n)
    return _banded_pairs(_sig_classes(sigs), num_hashes, bands, max_bucket_size)


def _sig_classes(sigs: DataFrame, cache: bool = True) -> DataFrame:
    """(k, sig, rep): each row of a (k, sig) relation tagged with its
    exact-signature class representative (min key) — the relation every
    banding core reads, checkpointed unless ``cache=False``: the
    collapse/expansion plan reads it four times, and without the pin
    each read re-runs the signature pipeline (measured 2.7x on the LSH
    sibling at sf1). The checkpoint is eager, so with ``cache=True``
    this call runs the signature jobs before it returns. Verify sides
    may read it as their (k, sig) source instead of recomputing the
    signature pipeline."""
    # rep via a sig-partitioned window, NOT groupBy(sig) + self-join:
    # the join form evaluates the upstream signature pipeline once per
    # side (measured 2.7x on lsh_near_dups at sf1, whose 64-hyperplane
    # sign pipeline is the costliest expression in the family); the
    # window form is one evaluation and one exchange on sig, then the
    # checkpoint makes every downstream reference a plain leaf scan (a
    # cache entry would add one AQE query stage per reader)
    tagged = sigs.selectExpr(
        "k", "sig", "min(k) OVER (PARTITION BY sig) AS rep"
    )
    return checkpoint(tagged) if cache else tagged


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
    relation is checkpointed (docs × ~0.5 KB) so the signature aggregate
    upstream runs once, not once per downstream reference.
    """
    return _collapsed_banded_pairs(
        tagged,
        lambda _sig: band_buckets("sig", num_hashes, bands),
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


def jaccard(a_shingles: str, b_shingles: str) -> Column:
    """Exact Jaccard over two shingle-array columns (verification
    step). Built as ONE parsed expression (the Column form cost ~90
    py4j round trips per issue — paid once per verify join across the
    minhash family), so both columns are named, not passed as Columns:
    each must be a plain identifier."""
    for name in (a_shingles, b_shingles):
        if not (isinstance(name, str) and name.isidentifier()):
            raise ValueError(
                f"jaccard needs plain column names, got {name!r}"
            )
    a, b = a_shingles, b_shingles
    return F.expr(
        f"CASE WHEN size(array_union({a}, {b})) = 0 THEN 0.0D "
        f"ELSE CAST(size(array_intersect({a}, {b})) AS DOUBLE) "
        f"/ size(array_union({a}, {b})) END"
    )


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
    output of the dominant tokenize→explode stage — is checkpointed and
    feeds BOTH aggregations: the 64-way MIN signature build (codegen
    HashAggregate) and the ``collect_set`` verify side
    (ObjectHashAggregate). The two are deliberately NOT one combined
    groupBy: a single ``collect_set`` aggregate would drag the 64 MIN
    updates onto the non-codegen object-hash path (measured 5x slower
    cold). The signature side is pinned once more, as the
    signature-class relation (:func:`_sig_classes`); the verify side's
    ``collect_set`` is referenced twice (the self-join sides) and
    re-aggregates from the gram-row leaf (cheap once tokenization is
    paid). The self-join form — rather than a collect_list-per-bucket
    pair generator — keeps pathological LSH buckets splittable by AQE
    skew-join at scale. Pinned gram rows are ~(corpus tokens × 16 B) —
    at 100 TB that spills to executor disk, which still beats paying
    the tokenize+explode stage twice; a production pipeline would
    persist it as the dedup index anyway. The verify join itself
    touches only candidate keys.

    Both pins are eager checkpoints, not cache entries: under AQE every
    reader of a cache entry is its own query stage, while a checkpoint
    leaf is a plain scan. So this call runs the tokenize and signature
    jobs before it returns; the returned plan reads the two leaves.
    Relation lifetime: README "Relation lifetime".
    """
    rows = checkpoint(gram_hash_rows(df, key_col, text_col, shingle_n))
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

    ``cache=True`` checkpoints the batch's gram rows and, with
    ``include_new_pairs``, its signature-class tagging, so the call runs
    those jobs before it returns (relation lifetime: README "Relation
    lifetime"); ``cache=False`` (the streaming gate) pins nothing at the
    cost of re-evaluating the batch pipeline per downstream reference.
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
        rows_new = checkpoint(rows_new)
    sigs_new = _sigs_from_rows(rows_new, num_hashes)
    sh_new = rows_new.groupBy("k").agg(F.collect_set("h").alias("sh"))

    def banded(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            "k",
            F.posexplode(
                band_buckets("sig", num_hashes, bands)
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
    # same (k, sig, rep) tagging relation, pinned only when both do
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


def dedup_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """(doc_id, component): connected components of the near-dup pair
    graph — the canonical clustering step after pair generation in a
    production dedup pipeline (keep ``min(doc_id)`` per component, drop
    the rest). ``component`` is the smallest doc id reachable from the
    node; only paired nodes appear. Keys keep their input type (any
    orderable type works — ids may be strings/UUIDs). Degenerate
    self-pairs (a == b) carry no connectivity and are dropped: a node
    paired only with itself does not appear. No caller can tell —
    :func:`minhash_dedup` emits ``a < b``, and every consumer either
    anti-joins the labels or ``coalesce``-s a missing component to the
    node's own key.

    Alternating large-star / small-star edge rewriting (Kiveris et al.
    2014, "Connected Components in MapReduce and Beyond" — public
    formulation): O(log n) rounds whatever the graph's diameter, so a
    long chain of near-dups converges about as fast as the shallow
    star-shaped clusters real corpora produce.

    Round shape: edges live canonically as (u, v) with u > v.
    Large-star connects every neighbor LARGER than a node to the min
    of its neighborhood (one symmetric groupBy + join); small-star
    connects each node and its smaller neighbors to the neighborhood
    min (one groupBy + join on the canonical list). Both strictly
    shrink the component's potential and preserve connectivity (so
    every input node keeps an edge); at the fixed point the edge set
    is a union of stars, each centered on its component's minimum.

    Stop rule: the loop stops as soon as the edge list is a star
    forest — no node is ``u`` in two edges and no node is both a ``u``
    and a ``v``. One aggregate over the node roles decides it (one
    shuffle, then ``isEmpty``), run before the first round and after
    each. Because connectivity is preserved, each star of such a forest
    is a whole component, and its center (every edge points from the
    larger to the smaller key) is the component minimum: the labels are
    the fixed point's, without a confirming round or a diff of two
    rounds. A pair graph that already is a star forest (isolated pairs,
    one doc paired with larger ones) takes no round at all.

    State per round is the edge list itself — bounded by the input
    pair count, shuffled on node keys, AQE splitting skew (a giant
    component's center is by construction a hot key; the star rewrite
    is exactly the transformation that keeps its degree bounded per
    round).

    Lineage is cut with an EAGER ``localCheckpoint`` of the input edge
    list and of every round's output: each star operation references
    its input several times (the symmetric union, the min join), so an
    un-truncated plan grows exponentially in rounds — ~6^r copies of
    the upstream pair-generation pipeline, enough for Catalyst plan
    canonicalization alone to exhaust the JVM heap by round 3 on a
    minhash pair graph. The checkpoint materializes rows the
    star-forest test reads anyway. Superseded rounds are released as
    the loop advances; the last round's edges back the result
    (relation lifetime: README "Relation lifetime"), so the returned
    plan reads one checkpoint leaf at any diameter. (On a real cluster
    prefer ``setCheckpointDir`` + ``.checkpoint()`` if executor loss
    during the loop matters; ``localCheckpoint`` trades that
    fault-tolerance for zero-copy speed.)

    Exposes ``.n_rounds``: the large+small rewrite rounds run, 0 when
    the input is already a star forest. ``max_iter`` bounds them; an
    edge list that is still not a star forest after ``max_iter`` rounds
    raises ``RuntimeError`` instead of returning silently-wrong
    intermediate labels.
    """
    edges = (
        pairs.select(
            F.greatest(F.col("a"), F.col("b")).alias("u"),
            F.least(F.col("a"), F.col("b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
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

    def star_forest(E: DataFrame) -> bool:
        # a node breaks the forest when it is a u (a leaf) with any
        # second role: a second edge as u, or an edge as v
        return (
            E.selectExpr("stack(2, u, 1, v, 0) AS (n, is_u)")
            .groupBy("n")
            .agg(F.sum("is_u").alias("n_u"), F.count(F.lit(1)).alias("deg"))
            .filter("n_u > 0 AND deg > 1")
            .isEmpty()
        )

    n_rounds = 0
    try:
        while not star_forest(edges):
            if n_rounds == max_iter:
                raise RuntimeError(
                    f"dedup_components did not converge in {max_iter} "
                    "rounds; raise max_iter"
                )
            n_rounds += 1
            prev = edges
            edges = small_star(large_star(prev)).localCheckpoint(eager=True)
            release(prev)
    except BaseException:
        release(edges)
        raise
    own(edges)
    # in a star forest every leaf has exactly one edge (u -> component
    # min); centers appear only as v and map to themselves
    out = (
        edges.union(edges.select("v", "v"))
        .groupBy(F.col("u").alias("doc_id"))
        .agg(F.min("v").alias("component"))
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
    (round state is the edge list only); the representative pick
    is ONE window over component members — a relation bounded by the
    paired docs, not the corpus — and survivors come back via a
    left-anti join on the dropped keys. The component relation backs
    both the window and the anti-join (relation lifetime: README
    "Relation lifetime")."""
    q = F.col(quality_col) if isinstance(quality_col, str) else quality_col
    # Resolve the quality expression against df BEFORE clustering: a bad
    # column/expression must fail here, not after dedup_components has
    # run its rounds.
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
    mega-bucket guard), and the verify join reads the checkpointed
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
