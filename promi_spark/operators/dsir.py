"""DSIR-style data selection via hashed n-gram importance resampling.

Public formulation: Xie et al., "Data Selection for Language Models
via Importance Resampling" (NeurIPS 2023) — estimate bag-of-hashed-
n-gram (unigram + bigram) bucket distributions over a small TARGET
corpus and the large RAW corpus, score every raw document by the
log-likelihood ratio of its grams under the two distributions, and
resample ∝ the importance weight via Gumbel-top-k (equivalent to the
A-ES rank already used by :func:`~promi_spark.operators.split.
weighted_sample`; the Gumbel form ``logw - ln(-ln u)`` never
exponentiates, so long documents cannot overflow the weight).

Engine-portable by construction: the bucket hash is the repo's md5
coin (:func:`~promi_spark.operators.split.coin_hex` on the gram,
namespaced ``dsir``), tokenization is the shared
:func:`~promi_spark.operators.dedup.norm_text` + whitespace split, and
smoothed bucket RATIOS are quotients of exactly-representable doubles
(integer counts + integer-valued smoothing sums), so a DuckDB oracle
reproduces them bit-for-bit. Only the per-document score SUMS ln()
terms; like the rest of the repo (``lm_quality`` docstring) those are
exposed through rank order (selection), not through hashed float
values.

Scale shape (100 TB raw corpus):
- the gram stream is a narrow explode (no shuffle); bucket counting is
  a map-side-combined aggregate whose exchange carries at most
  ``buckets`` rows per task — the corpus text never shuffles;
- the weight table is <= ``buckets`` rows (default 8192) and
  broadcast-joined onto the raw gram stream;
- scoring folds through ONE exchange (the per-document sum), and
  selection is a global top-k (TakeOrdered per-partition heaps —
  never a full sort).
``dsir_select`` runs ONE gram pass over the raw corpus: the keyed
bucketed gram stream — (keys, bucket) only, never the gram strings —
is persisted and feeds both the raw bucket-count estimate and the
scoring join (the tokenize + md5-coin pipeline is the dominant term;
the cache spills to executor disk at scale, which still beats paying
it twice; relation lifetime: README "Relation lifetime"). The standalone ``dsir_weights`` /
``dsir_scores`` APIs still scan the raw corpus once each.

No counterpart in the reference (``/root/reference/src`` has no
importance-sampling machinery); this extends the training-data
pipeline family (SURVEY §2 extension block) alongside
``temperature_mixture`` / ``weighted_sample``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from promi_spark.lifetime import persist
from promi_spark.operators.dedup import norm_text
from promi_spark.operators.split import coin_hex
from promi_spark.operators.text import tokens, word_ngrams

__all__ = [
    "gram_stream",
    "dsir_bucket",
    "dsir_weights",
    "dsir_scores",
    "dsir_select",
]


def gram_stream(
    df: DataFrame, key_cols: list[str], text_col: str = "text"
) -> DataFrame:
    """Per-document unigram + bigram stream ``(*key_cols, g)``.

    Tokenization is the shared norm_text + ``\\s+`` split over
    ``coalesce(text, '')``: empty AND NULL text both yield the single
    empty token (both engines — the oracle coalesces identically), so
    EVERY document emits at least one gram and scoring never silently
    drops rows."""
    toks_df = df.select(
        *key_cols,
        tokens(
            norm_text(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("__toks"),
    )
    grams = F.concat(F.col("__toks"), word_ngrams("__toks", 2))
    return toks_df.select(*key_cols, F.explode(grams).alias("g"))


def dsir_bucket(g: Column, buckets: int, seed: int = 0) -> Column:
    """Hashed-feature bucket of a gram: md5 coin (first 8 hex digits)
    mod ``buckets`` — engine-portable (DuckDB replays the same md5)."""
    return (
        F.conv(coin_hex(g, seed, salt="dsir"), 16, 10).cast("long")
        % F.lit(buckets)
    ).alias("bucket")


def _bucket_counts(
    df: DataFrame, text_col: str, buckets: int, seed: int, name: str
) -> DataFrame:
    """(bucket, <name>) gram-occurrence counts — the exchange carries
    at most ``buckets`` rows per task (map-side combine)."""
    return (
        gram_stream(df, [], text_col)
        .select(dsir_bucket(F.col("g"), buckets, seed))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias(name))
    )


def dsir_weights(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    buckets: int = 8192,
    smoothing: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Per-bucket importance ratios: ``(bucket, ct, cr, ratio)`` where
    ``ratio = ((ct+s)/(Nt+s*B)) / ((cr+s)/(Nr+s*B))`` — the smoothed
    target/raw probability ratio of the hashed-gram bucket. Buckets
    unseen in BOTH corpora are absent (their ratio is the constant
    ``(s/(Nt+sB))/(s/(Nr+sB))``; scoring joins with a coalesce so they
    still contribute).

    Determinism note: with integer-valued ``smoothing`` every factor of
    ``ratio`` is an exactly-representable double, and IEEE * and / are
    correctly rounded — the value is bit-identical across engines (the
    reason this report emits ratios, not logs: ln() is not correctly
    rounded across engines, per the lm_quality precedent)."""
    _validate_geometry(buckets, smoothing)
    # ONE scan per corpus: the <=buckets-row count relations are
    # collected to the driver (bounded, like the IVF centroids /
    # driver-side DFG alphabet) and the weight table is built as a
    # local relation — a fully lazy formulation would re-run each
    # corpus scan for the totals aggregate.
    ct = {
        r["bucket"]: r["ct"]
        for r in _bucket_counts(target, text_col, buckets, seed, "ct")
        .collect()
    }
    cr = {
        r["bucket"]: r["cr"]
        for r in _bucket_counts(raw, text_col, buckets, seed, "cr")
        .collect()
    }
    return _weights_table(target.sparkSession, ct, cr, buckets, smoothing)


def _validate_geometry(buckets: int, smoothing: float) -> None:
    if buckets < 2 or buckets > (1 << 20):
        raise ValueError(
            "dsir_weights: buckets must be in [2, 2^20] — the weight "
            "table is collected to the driver and broadcast"
        )
    if smoothing <= 0:
        raise ValueError("dsir_weights: smoothing must be > 0 (the "
                         "ratio is undefined on empty buckets otherwise)")


def _weights_table(
    spark, ct: dict, cr: dict, buckets: int, smoothing: float
) -> DataFrame:
    """The (bucket, ct, cr, ratio) local relation from collected
    per-corpus bucket counts — see :func:`dsir_weights` for the
    determinism contract on ``ratio``."""
    nt, nr = sum(ct.values()), sum(cr.values())
    s = float(smoothing)
    sb = s * buckets
    rows = [
        (
            int(b),
            int(ct.get(b, 0)),
            int(cr.get(b, 0)),
            ((ct.get(b, 0) + s) / (nt + sb))
            / ((cr.get(b, 0) + s) / (nr + sb)),
        )
        for b in sorted(set(ct) | set(cr))
    ]
    return spark.createDataFrame(
        rows, "bucket long, ct long, cr long, ratio double"
    )


def dsir_scores(
    raw: DataFrame,
    weights: DataFrame,
    key_cols: list[str] | str = "doc_id",
    text_col: str = "text",
    buckets: int = 8192,
    seed: int = 0,
) -> DataFrame:
    """Per-document log importance weight ``(*key_cols, n_grams,
    logw)``: the sum over the document's grams of ``ln(ratio(bucket))``
    — ``weights`` is the :func:`dsir_weights` relation (broadcast;
    <= ``buckets`` rows). Buckets absent from the relation contribute
    nothing only when absent from BOTH corpora is impossible for a raw
    gram (its own occurrence counts it), so no coalesce branch is
    needed beyond the inner join — asserted by ``n_grams`` equality in
    tests. ONE exchange (the per-key sum); the corpus never shuffles.

    ``logw`` is a float sum whose addition order is partition-
    dependent (1-ulp noise) — rank on it (:func:`dsir_select`), don't
    hash it."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    grams = gram_stream(raw, keys, text_col).withColumn(
        "bucket", dsir_bucket(F.col("g"), buckets, seed)
    )
    return _scores_from_grams(grams, weights, keys)


def _scores_from_grams(
    grams: DataFrame, weights: DataFrame, keys: list[str]
) -> DataFrame:
    """Scoring tail shared with :func:`dsir_select`'s single-gram-pass
    path: broadcast-join the weight table onto a prebuilt
    ``(*keys, g, bucket)`` stream and fold per key."""
    w = F.broadcast(weights.select("bucket", "ratio"))
    return (
        grams.join(w, "bucket", "inner")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.log("ratio")).alias("logw"),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    key_cols: list[str] | str = "doc_id",
    text_col: str = "text",
    buckets: int = 8192,
    smoothing: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Select ``k`` raw documents by importance resampling WITHOUT
    replacement: Gumbel-top-k over the DSIR importance weights —
    ``key = logw - ln(-ln u)`` with the engine-portable md5 uniform on
    the FULL key tuple (all ``key_cols`` joined with the unit
    separator, namespace ``dsirsel``), equivalent to A-ES with weight
    ``exp(logw)`` but computed entirely in log space. Hashing the full
    tuple keeps the draws independent even when the first key column
    repeats across rows (e.g. the same doc_id under several sources).
    Returns the selected key rows (+ ``logw``, for observability; hash
    comparisons should project it away — float sum).

    ``target == raw`` degenerates to every ``logw ~ 0`` — selection
    becomes a uniform sample, the same law as ``weighted_sample`` with
    constant weight (pinned in tests). Global top-k plans as
    TakeOrdered (per-partition heaps), never a full sort.

    The raw corpus' (keys, bucket) gram stream is persisted so the
    bucket-count estimate and the scoring join share one tokenize +
    md5-coin pass (relation lifetime: README "Relation lifetime")."""
    if k < 1:
        raise ValueError("dsir_select: k must be >= 1")
    _validate_geometry(buckets, smoothing)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    # ONE gram pass over the raw corpus, not two: the keyed bucketed
    # gram stream is persisted and feeds BOTH the raw bucket-count
    # estimate (keys projected away — the counts are identical to
    # _bucket_counts' keyless stream, same grams per row) and the
    # scoring join. The tokenize + md5-coin gram pipeline is the
    # dominant term of this operator, and the un-shared form paid it
    # twice (the gram_stream docstring's "persist only when the scan
    # dominates" note predates measuring the md5 coin: the coin IS the
    # scan cost). Persisted rows are (keys, bucket) longs/strings —
    # the corpus text itself is never cached; at 100 TB this spills to
    # executor disk, which still beats re-running tokenize+md5 (the
    # minhash_dedup precedent). The weights collect() materializes the
    # cache, so the scoring pass is a pure cache read.
    # project the gram STRING away before the persist (column pruning
    # does not push through a persist boundary): both consumers read
    # only (*keys, bucket), and caching `g` would store every unigram
    # and bigram string — ~2-3x the corpus text bytes — for nothing
    raw_grams = persist(
        gram_stream(raw, keys, text_col).select(
            *keys, dsir_bucket(F.col("g"), buckets, seed)
        )
    )
    ct = {
        r["bucket"]: r["ct"]
        for r in _bucket_counts(target, text_col, buckets, seed, "ct")
        .collect()
    }
    cr = {
        r["bucket"]: r["cr"]
        for r in raw_grams.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cr"))
        .collect()
    }
    w = _weights_table(raw.sparkSession, ct, cr, buckets, smoothing)
    scored = _scores_from_grams(raw_grams, w, keys)
    key_tuple = F.concat_ws("\x1f", *[F.col(c) for c in keys])
    u = (
        F.conv(coin_hex(key_tuple, seed, salt="dsirsel"), 16, 10).cast(
            "double"
        )
        + 0.5
    ) / F.lit(4294967296.0)
    gumbel = -F.log(-F.log(u))
    return (
        scored.withColumn("__key", F.col("logw") + gumbel)
        .orderBy(F.desc("__key"), *[F.col(c) for c in keys])
        .limit(k)
        .select(*keys, "logw")
    )
