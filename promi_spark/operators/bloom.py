"""Distributed Bloom-filter membership: a persisted, reusable sketch
for huge reference sets (benchmark-suite n-grams, a committed corpus'
fingerprints) probed by later batches without re-scanning — the
membership analog of :func:`operators.dedup.write_minhash_index`.

Spark's own runtime bloom filter is built per-query and thrown away
(``text.ngram_overlap`` instead broadcasts the benchmark's gram set,
which needs it to fit in memory); this module makes the sketch a
first-class ARTIFACT: build once over the reference side, persist as
parquet, probe from every ingest batch at a cost proportional to the
batch. The filter is represented as a sparse
``(word: long, mask: long)`` relation — ``m_bits/64`` rows max, i.e.
up to ``m_bits/4`` bytes in-plan — independent of the reference set's
CARDINALITY but not of its sizing: a real benchmark suite
(~10^6–10^7 distinct grams at fp 1e-6) is a few-to-tens-of-MB
broadcast, while 1e9 grams at fp 1e-6 is m ≈ 2.9e10 bits ≈ 3.6 GB of
masks — far past sane broadcast limits. Probes therefore guard on the
relation's size (persisted indexes carry their measured bytes in the
meta sidecar; ad-hoc filters use the worst case from ``m_bits``) and
fall back to a shuffled hash join on ``word`` above
``BLOOM_BROADCAST_CEILING_BYTES`` instead of forcing a broadcast.

Guarantees (classic Bloom semantics): NO false negatives — every value
inserted at build time always probes positive — and a false-positive
rate of ``(1 - e^(-k*n/m))^k`` for values never inserted. For the
decontamination use case FPs err in the SAFE direction: the flagged
set is a superset of the exact-overlap set, so contaminated documents
are never missed (pinned by ``tests/test_bloom.py``).

Everything is JVM-side codegen (xxhash64 / bit ops / broadcast hash
join); no Python UDFs. Reference: the operator family extends the
reference engine's capability surface (its Validator/Buffer have no
membership sketch; ``src/lib.rs`` declares no dedup stack at all) with
the standard production primitive.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from promi_spark.io import read_parquet

# Above this estimated relation size the probe joins shuffled on `word`
# instead of forcing a broadcast (executor memory x fan-out makes a
# multi-GB forced broadcast an OOM, not a speedup). 256 MB is
# comfortably inside a 4 GB executor and covers every realistic
# benchmark-suite sketch (10^7 grams @ fp 1e-6 ≈ 42 MB of masks).
BLOOM_BROADCAST_CEILING_BYTES = 256 << 20

# Parquet-compressed bytes underestimate the in-memory hashed relation
# (dictionary/RLE vs raw longs + hash-table overhead); scale measured
# file sizes by this factor before comparing to the ceiling.
_PARQUET_TO_MEMORY_FACTOR = 4


def _bloom_relation_bytes(m_bits: int) -> int:
    """Worst-case in-plan size of the sparse (word, mask) relation:
    ``m_bits/64`` rows x 16 bytes (two longs)."""
    return (m_bits // 64) * 16


def _bloom_build_side(
    bloom: DataFrame, m_bits: int, actual_bytes: int | None = None
) -> DataFrame:
    """The filter side of a probe join: broadcast when the estimated
    relation size is under the ceiling, else the plain relation (the
    optimizer plans a shuffled join on ``word``, which stays correct
    at any size). Persisted indexes pass their measured parquet bytes
    (scaled to an in-memory estimate); ad-hoc filters estimate the
    worst case from the geometry."""
    est = (
        actual_bytes * _PARQUET_TO_MEMORY_FACTOR
        if actual_bytes is not None
        else _bloom_relation_bytes(m_bits)
    )
    if est <= BLOOM_BROADCAST_CEILING_BYTES:
        return F.broadcast(bloom)
    warnings.warn(
        f"bloom filter relation estimated at {est / (1 << 20):.0f} MB "
        f"(ceiling {BLOOM_BROADCAST_CEILING_BYTES >> 20} MB) — probing "
        "via a shuffled join on the word index instead of a forced "
        "broadcast; rebuild with a higher fp_rate or fewer items for a "
        "broadcastable sketch",
        stacklevel=3,
    )
    return bloom


def _geometry(meta: dict) -> dict:
    """The mergeability-relevant subset of an index's meta sidecar —
    measured size ('bytes') is per-artifact bookkeeping, not geometry."""
    return {k: v for k, v in meta.items() if k != "bytes"}


def bloom_params(n_items: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """Classic sizing: optimal bits ``m = -n ln p / (ln 2)^2`` and
    hash count ``k = (m/n) ln 2``, rounded to practical integers.
    Returns ``(m_bits, k)``; ``m_bits`` is rounded up to a multiple of
    64 so the sparse word relation packs exactly."""
    if n_items <= 0:
        return 64, 1
    m = -n_items * math.log(fp_rate) / (math.log(2) ** 2)
    m_bits = max(64, int(math.ceil(m / 64.0)) * 64)
    k = max(1, round(m_bits / n_items * math.log(2)))
    return m_bits, min(k, 16)


def _positions(col: Column, m_bits: int, k: int) -> list[Column]:
    """The k bit positions of a value: ``pmod(xxhash64(value, i), m)``
    per hash index — engine-deterministic (Spark's xxhash64 is a fixed
    public algorithm), partition-invariant, and codegen-compiled."""
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)) for i in range(k)
    ]


def bloom_build(
    df: DataFrame, col: str, m_bits: int, k: int
) -> DataFrame:
    """Build the sparse filter relation ``(word, mask)`` over a value
    column. One narrow explode of the k positions per value, then ONE
    map-side-combined ``bit_or`` aggregation on the word index — the
    exchange carries at most ``m_bits/64`` rows per task regardless of
    input cardinality, so the build scales to any reference set the
    cluster can scan."""
    pos = F.explode(F.array(*_positions(F.col(col), m_bits, k))).alias(
        "__pos"
    )
    return (
        df.select(pos)
        .select(
            F.shiftright("__pos", 6).alias("word"),
            F.expr(
                "shiftleft(1L, CAST(pmod(__pos, 64) AS INT))"
            ).alias("__bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("__bit").alias("mask"))
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    col: str,
    m_bits: int,
    k: int,
    flag_col: str = "maybe_member",
    bloom_bytes: int | None = None,
) -> DataFrame:
    """Probe every row's ``col`` value against the filter: adds
    ``flag_col`` (true = possibly inserted, false = DEFINITELY not).

    Plan shape: the k positions explode per row (narrow), the sparse
    word relation broadcasts when it fits (``m_bits/4`` bytes worst
    case, or the measured ``bloom_bytes`` of a persisted index — above
    ``BLOOM_BROADCAST_CEILING_BYTES`` the join shuffles on ``word``
    instead), hits are counted with one map-side-combined
    aggregation keyed by the probed VALUE, and the verdict joins back
    onto the original rows by that value. The only exchanges are on
    the probe side's distinct values — the reference set never moves,
    and duplicate values are probed once."""
    vals = df.select(F.col(col).alias("__v")).distinct()
    ex = vals.select(
        "__v",
        F.posexplode(F.array(*_positions(F.col("__v"), m_bits, k))).alias(
            "__i", "__pos"
        ),
    ).select(
        "__v",
        F.shiftright("__pos", 6).alias("word"),
        F.expr(
            "shiftleft(1L, CAST(pmod(__pos, 64) AS INT))"
        ).alias("__bit"),
    )
    hits = (
        ex.join(_bloom_build_side(bloom, m_bits, bloom_bytes), "word", "left")
        .select(
            "__v",
            (
                F.coalesce(
                    F.col("mask").bitwiseAND(F.col("__bit")) != 0,
                    F.lit(False),
                )
            ).cast("int").alias("__hit"),
        )
        .groupBy("__v")
        .agg((F.sum("__hit") == k).alias(flag_col))
    )
    return df.join(
        hits.withColumnRenamed("__v", col), col, "left"
    ).fillna({flag_col: False})


def write_bloom_index(
    df: DataFrame,
    path: str,
    col: str,
    n_items: int | None = None,
    fp_rate: float = 0.01,
    m_bits: int | None = None,
    k: int | None = None,
) -> dict:
    """Persist a Bloom index over ``df[col]`` as parquet plus an
    ``_index_meta.json`` sidecar carrying the geometry (probes fail
    fast on a mismatched configuration instead of silently probing
    wrong bits — same contract as the MinHash index). Geometry comes
    either explicitly (``m_bits``+``k``) or from ``bloom_params`` with
    ``n_items`` (defaults to one count job when omitted). Returns the
    meta dict."""
    import json

    from promi_spark.operators.similarity import _hadoop_write_text

    if m_bits is None or k is None:
        # the sizing count and the build both consume the full value
        # relation — persist it so the reference corpus' gram pipeline
        # (tokenize + n-gram explode + distinct upstream of this call)
        # runs ONCE, not once per pass; at 100 TB the second pass was a
        # whole reference-corpus scan. The distinct() stays for raw
        # callers; over an already-distinct input it collapses to the
        # cache read + one exchange of the (small) value relation. The
        # cache holds a projection of our own, never the caller's frame:
        # unpersisting that would evict a cache the caller (or another
        # holder of a shared source frame) set up.
        vals = df.select(col).persist()
        try:
            n = (
                n_items
                if n_items is not None
                else vals.select(col).distinct().count()
            )
            m_bits, k = bloom_params(n, fp_rate)
            bloom_build(vals, col, m_bits, k).write.mode(
                "overwrite"
            ).parquet(path)
        finally:
            vals.unpersist()
    else:
        bloom_build(df, col, m_bits, k).write.mode("overwrite").parquet(path)
    meta = {
        "m_bits": m_bits,
        "k": k,
        "col": col,
        "bytes": _dir_bytes(df.sparkSession, path),
    }
    _hadoop_write_text(
        df.sparkSession, f"{path.rstrip('/')}/_index_meta.json", json.dumps(meta)
    )
    return meta


def _dir_bytes(spark: SparkSession, path: str) -> int:
    """Measured on-disk bytes of a persisted index (drives the
    broadcast-vs-shuffle probe decision with the REAL relation size
    instead of the worst case the geometry implies)."""
    from promi_spark.operators.similarity import _hadoop_path_fs

    jpath, fs = _hadoop_path_fs(spark, path)
    return int(fs.getContentSummary(jpath).getLength())


def read_bloom_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Load a persisted Bloom index and its geometry sidecar."""
    import json

    from promi_spark.operators.similarity import _hadoop_read_text

    meta = json.loads(
        _hadoop_read_text(spark, f"{path.rstrip('/')}/_index_meta.json")
    )
    return read_parquet(spark, path), meta


def _doc_grams(
    df: DataFrame, key_col: str | None, text_col: str, n: int
) -> DataFrame:
    """(k, g) distinct word n-grams per doc (``g`` null for gram-less
    docs, so every doc keeps a row through ``explode_outer``).
    ``key_col=None`` emits a constant key (gram extraction only).

    Deliberately does NOT emit a per-doc gram COUNT column: a
    ``size(gr)`` alias in the explode projection gets collapsed above
    the Generate, re-evaluating the whole interpreted gram chain once
    per gram ROW instead of per doc (measured 6x the entire probe cost
    at soak scale whenever a caller materialized it — the
    ``contaminated``-only path column-pruned it away, hiding the
    defect). Callers that need the count derive it from the exploded
    rows (grams are already distinct per doc): ``sum(g is not null)``
    in their rollup."""
    from promi_spark.operators.text import tokens, word_ngrams

    key = F.lit(0) if key_col is None else F.col(key_col)
    toks_df = df.select(
        key.alias("k"), tokens(F.col(text_col)).alias("__toks")
    )
    gr = F.array_distinct(word_ngrams("__toks", n))
    return toks_df.select("k", F.explode_outer(gr).alias("g"))


def merge_bloom_indexes(
    spark: SparkSession, paths: list[str], out_path: str
) -> dict:
    """Union persisted Bloom indexes into one (benchmark suites
    accrete: new eval releases arrive as their own sketches and the
    ingest gate probes a single merged filter). Bloom union is exact:
    OR-ing the bit arrays of same-geometry filters yields precisely
    the filter that would have been built over the union of the
    inserted values — no recall loss, and the FP rate degrades only as
    the combined fill factor implies. Implementation: read the sparse
    ``(word, mask)`` relations, one ``bit_or`` per word (map-side
    combined, output bounded by ``m_bits/64`` rows). Geometry must
    match EXACTLY (same ``m_bits``/``k``/``col`` and — for gram
    sketches — the same ``n``); mismatches raise instead of silently
    probing wrong bits. ``out_path`` must not be one of the inputs:
    the inputs are read lazily, so overwriting one mid-merge would
    corrupt (or refuse, engine-dependent) the very index being
    accreted — write the merge to a fresh path and swap it into the
    gate path outside."""
    import json
    from functools import reduce

    from promi_spark.operators.similarity import _hadoop_write_text

    if not paths:
        raise ValueError("merge_bloom_indexes: need at least one index")
    out_norm = out_path.rstrip("/")
    for p in paths:
        if p.rstrip("/") == out_norm:
            raise ValueError(
                f"merge_bloom_indexes: out_path {out_path!r} is also an "
                "input — the inputs are read lazily, so overwriting one "
                "mid-merge corrupts the index being accreted. Write the "
                "merge to a fresh path, then swap it into the gate path."
            )
    loaded = [read_bloom_index(spark, p) for p in paths]
    meta0 = _geometry(loaded[0][1])
    for p, (_, meta) in zip(paths, loaded):
        if _geometry(meta) != meta0:
            raise ValueError(
                f"merge_bloom_indexes: geometry mismatch — {paths[0]} has "
                f"{meta0}, {p} has {_geometry(meta)}; rebuild with "
                "identical parameters before merging"
            )
    merged = (
        reduce(lambda a, b: a.unionByName(b), (df for df, _ in loaded))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("mask"))
    )
    merged.write.mode("overwrite").parquet(out_path)
    meta_out = dict(meta0, bytes=_dir_bytes(spark, out_path))
    _hadoop_write_text(
        spark, f"{out_path.rstrip('/')}/_index_meta.json", json.dumps(meta_out)
    )
    return meta_out


def write_bench_bloom(
    bench: DataFrame,
    path: str,
    text_col: str = "text",
    n: int = 5,
    fp_rate: float = 1e-6,
    m_bits: int | None = None,
    k: int | None = None,
) -> dict:
    """Build + persist the benchmark-suite decontamination sketch: the
    distinct word n-grams of the benchmark corpus, bloomed. Run once
    per benchmark release; every training batch then probes it via
    :func:`decontaminate_bloom` without touching the benchmark data.

    ``fp_rate`` is PER GRAM; a document's false-flag probability
    compounds by union bound to ``~n_grams x fp_rate``, so the default
    is sized for document-level accuracy (1e-6 -> ~0.01% of 100-gram
    docs falsely flagged) — Bloom size grows only linearly in
    ``-ln(fp_rate)``, so the tight default costs ~2x the bits of a
    casual 1e-3.

    Suites that ACCRETE (new eval releases merged into one gate filter
    via :func:`merge_bloom_indexes`) must pass explicit ``m_bits``/``k``
    so every release shares one geometry — auto-sizing from each
    release's own gram count would make the sketches unmergeable."""
    import json

    from promi_spark.operators.similarity import _hadoop_write_text

    grams = (
        _doc_grams(bench, None, text_col, n)
        .select(F.col("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    meta = write_bloom_index(
        grams, path, "g", fp_rate=fp_rate, m_bits=m_bits, k=k
    )
    meta["n"] = n
    _hadoop_write_text(
        bench.sparkSession,
        f"{path.rstrip('/')}/_index_meta.json",
        json.dumps(meta),
    )
    return meta


def decontaminate_bloom(
    train: DataFrame,
    index_path: str | None = None,
    key_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 1,
    index: tuple[DataFrame, dict] | None = None,
) -> DataFrame:
    """Benchmark decontamination against a PERSISTED bloom sketch
    (:func:`write_bench_bloom`): flags every training doc whose word
    n-gram overlap with the benchmark reaches ``min_shared`` POSSIBLE
    hits. Returns (doc_id, n_grams, maybe_shared, contaminated).

    vs ``text.ngram_overlap``: no false negatives (every true overlap
    is flagged — the safe direction for decontamination), a bounded
    false-positive rate that over-drops slightly (size ``fp_rate`` at
    build time), and a probe cost proportional to the BATCH with a
    fixed-size broadcast — the benchmark corpus itself is never read
    again. Counts are of maybe-hits, so ``maybe_shared >= n_shared``
    (exact) row-by-row.

    Plan shape (deliberately NOT the generic :func:`bloom_probe`,
    which dedups by value and then joins verdicts back — a third
    gram-stream exchange): the k positions explode per (doc, gram) row
    (narrow), the sparse filter broadcast-joins on the word index
    (shuffled on ``word`` instead above the broadcast ceiling — the
    size decision uses the index's MEASURED bytes from its meta
    sidecar), and the verdict folds through exactly TWO
    map-side-combined exchanges — (doc, gram) for the all-k-hits test,
    then doc for the rollup. The k-row amplification between them
    never shuffles.

    Repeated callers (the streaming ingest gate probes every
    micro-batch) pass a preloaded ``index=(bloom_df, meta)`` from
    :func:`read_bloom_index` so the parquet + sidecar are read once,
    not per batch."""
    if index is not None:
        bloom, meta = index
    else:
        if index_path is None:
            raise ValueError(
                "decontaminate_bloom: pass index_path or a preloaded index"
            )
        bloom, meta = read_bloom_index(train.sparkSession, index_path)
    if meta.get("col") != "g" or "n" not in meta:
        raise ValueError(
            f"decontaminate_bloom: {index_path} is not a benchmark n-gram "
            f"sketch (meta {meta}); build it with write_bench_bloom — a "
            "raw write_bloom_index artifact hashes a different value "
            "domain and would probe silently wrong bits"
        )
    m_bits, k = meta["m_bits"], meta["k"]
    ex = _doc_grams(train, key_col, text_col, meta["n"])
    # explode_outer keeps gram-less docs (g null -> no positions, zero
    # hits); a null gram must NOT hash (xxhash64(null, i) degenerates
    # to the seed hash and could false-positive)
    pos_arr = F.when(
        F.col("g").isNull(), F.array().cast("array<long>")
    ).otherwise(F.array(*_positions(F.col("g"), m_bits, k)))
    exploded = ex.select(
        "k", "g", F.explode_outer(pos_arr).alias("__pos")
    ).select(
        "k",
        "g",
        F.shiftright("__pos", 6).alias("word"),
        F.expr("shiftleft(1L, CAST(pmod(__pos, 64) AS INT))").alias("__bit"),
    )
    hit = F.coalesce(
        F.col("mask").bitwiseAND(F.col("__bit")) != 0, F.lit(False)
    ).cast("int")
    per_gram = (
        exploded.join(
            _bloom_build_side(bloom, m_bits, meta.get("bytes")),
            "word",
            "left",
        )
        .groupBy("k", "g")
        .agg((F.sum(hit) == k).cast("int").alias("__gram_hit"))
    )
    # n_grams is the per-doc row count of the (already distinct) gram
    # stream — derived here rather than carried as a size() column so
    # the interpreted gram expression is never re-evaluated above the
    # explode (see _doc_grams)
    is_gram = F.col("g").isNotNull()
    return (
        per_gram.groupBy("k")
        .agg(
            F.sum(F.when(is_gram, 1).otherwise(0))
            .cast("int")
            .alias("n_grams"),
            F.sum(
                F.when(is_gram, F.col("__gram_hit")).otherwise(0)
            ).alias("maybe_shared"),
        )
        .select(
            F.col("k").alias(key_col),
            "n_grams",
            "maybe_shared",
            (F.col("maybe_shared") >= min_shared).alias("contaminated"),
        )
    )
