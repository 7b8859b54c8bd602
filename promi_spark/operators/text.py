"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (its only string ops are regex match /
replace, ``src/stream/extension/concept.rs:93-101``,
``src/stream/repair.rs:27``): language-ID, quality scoring, token
counting, and document fingerprinting over a ``documents`` table.

All hot-path expressions are built-in ``pyspark.sql.functions`` — no
Python UDFs — so they run in whole-stage codegen and scale linearly:
one narrow pass, no shuffle, filter/projection pushed to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from promi_spark.lifetime import persist

# Tiny embedded stopword lists for the n-gram/stopword language
# heuristic. Deliberately small and deterministic; real deployments
# would swap in fastText-style models via mapInPandas.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
    "fr": ["le", "la", "et", "les", "des", "en", "un", "du", "que", "pour"],
}

_PUNCT_RE = r"[!-/:-@\[-`{-~]"  # ASCII punctuation ranges


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization. ``split`` on ``\\s+`` after trim; empty
    text yields a single empty token in both Spark and DuckDB, so
    callers guard with ``length(trim(text)) > 0``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def word_ngrams(toks: str, n: int) -> Column:
    """Word ``n``-grams of the token-array column named ``toks``: each
    window of ``n`` consecutive tokens joined by one space, in token
    order, duplicates kept. An array of fewer than ``n`` tokens gives
    an empty array; a NULL array gives NULL.

    Pass a MATERIALIZED token column, aliased by an earlier projection
    and named here, never an inline ``split``: the gram loop is a
    higher-order-function lambda, which evaluates interpreted, so a
    split written under it re-runs per gram index — O(tokens^2) regex
    work per document (measured: decontaminate 171 s at sf0.1 against
    ~2 s, repetition_stats 79 s at sf1 against ~3 s). The boundary
    survives CollapseProject because this expression references the
    column more than once. Built as one parsed expression: one py4j
    round trip per call.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    t = f"`{toks}`"
    return F.expr(
        f"CASE WHEN {t} IS NULL THEN NULL "
        f"WHEN size({t}) < {n} THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(1, size({t}) - {n - 1}), "
        f"i -> array_join(slice({t}, i, {n}), ' ')) END"
    )


def token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(tokens(c))
    )


def bpe_ish_token_count(col: Column | str) -> Column:
    """A BPE-like proxy count: word pieces of <=4 chars. Splits words
    longer than 4 chars into ceil(len/4) pieces — a deterministic,
    vocabulary-free approximation of subword token counts (the real
    tokenizer is a Pandas-UDF swap-in)."""
    c = F.col(col) if isinstance(col, str) else col
    per_word = F.transform(
        tokens(c), lambda w: F.ceil(F.length(w) / F.lit(4.0)).cast("long")
    )
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.aggregate(per_word, F.lit(0).cast("long"), lambda acc, x: acc + x)
    )


def punct_ratio(col: Column | str) -> Column:
    """ASCII-punctuation chars / total chars (0 for empty)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, _PUNCT_RE, ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        n_punct.cast("double") / F.length(c)
    )


def stopword_hits(col: Column | str, words: list[str]) -> Column:
    """Occurrences of any of ``words`` as whole tokens."""
    c = F.col(col) if isinstance(col, str) else col
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pat), F.lit(1)))


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality profile: char/token counts, mean token
    length, punctuation ratio, stopword ratio. One narrow projection."""
    t = F.col(text_col)
    n_tok = token_count(t)
    n_alpha = F.length(F.regexp_replace(t, r"\s", ""))
    return df.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(
            F.when(n_tok == 0, F.lit(0.0)).otherwise(
                n_alpha.cast("double") / n_tok
            ),
            4,
        ).alias("mean_token_len"),
        F.round(punct_ratio(t), 4).alias("punct_ratio"),
        F.round(
            F.when(n_tok == 0, F.lit(0.0)).otherwise(
                stopword_hits(t, STOPWORDS["en"]).cast("double") / n_tok
            ),
            4,
        ).alias("stopword_ratio"),
    )


def bigram_lm_scores(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    train_df: DataFrame | None = None,
    cross_entropy: bool = False,
) -> DataFrame:
    """Word-bigram language-model quality signal per document
    (CCNet-style: text whose n-grams are improbable under a reference
    LM is noise). The model is add-``alpha``-smoothed bigram
    probabilities p(w2|w1) = (C(w1 w2) + a) / (C(w1·) + a·V) trained on
    ``train_df`` (default: the scored corpus itself). Emits
    (key, n_bigrams, oov_rate, mean_bigram_p) — or, with
    ``cross_entropy=True``, ``avg_neg_log_p`` (the standard
    cross-entropy; NOT oracle-hashable because ln() is not
    correctly-rounded across engines, so the probability-mean form is
    the oracle-checkable default: count ratios are IEEE-exact divisions
    and the per-doc fold runs in token order over a collected array,
    never as a shuffled float SUM).

    Scale shape: the tokenized relation is persisted once and feeds all
    four consumers — the bigram and context count tables, the
    vocabulary count, and the per-doc scoring rows — so
    normalization+tokenization runs one pass, not four (relation
    lifetime: README "Relation lifetime"). Scoring equi-joins each doc's
    bigram rows to the bigram table (shuffle join, AQE-splittable) and
    to the vocab-sized context table, with the scalar vocabulary size
    attached via a broadcast 1-row cross join (no driver round-trip).
    """
    from promi_spark.operators.dedup import norm_text

    def toks_of(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.col(key_col).alias("k"), tokens(norm_text(text_col)).alias("toks")
        ).filter(F.size("toks") >= 2)

    base = persist(toks_of(df))
    train = base if train_df is None else persist(toks_of(train_df))
    c12 = (
        train.select(F.explode(word_ngrams("toks", 2)).alias("big"))
        .groupBy("big")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    c1 = (
        train.select(
            F.explode(F.slice("toks", 1, F.size("toks") - 1)).alias("w1")
        )
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vdf = train.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    bg_doc = base.select(
        "k", F.posexplode(word_ngrams("toks", 2)).alias("pos", "big")
    ).withColumn("w1", F.element_at(F.split("big", " "), 1))
    p = (F.coalesce("c12", F.lit(0)) + F.lit(alpha)) / (
        F.coalesce("c1", F.lit(0)) + F.lit(alpha) * F.col("v")
    )
    terms = (
        bg_doc.join(c12, "big", "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vdf))
        .select(
            "k",
            "pos",
            p.alias("p"),
            F.col("c12").isNull().cast("long").alias("oov"),
        )
    )
    folded = terms.groupBy("k").agg(
        F.sort_array(F.collect_list(F.struct("pos", "p"))).alias("arr"),
        F.sum("oov").alias("n_oov"),
    )
    n = F.size("arr")
    fold = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda acc, x: acc
        + (-F.log(x["p"]) if cross_entropy else x["p"]),
    )
    score_name = "avg_neg_log_p" if cross_entropy else "mean_bigram_p"
    return folded.select(
        F.col("k").alias(key_col),
        n.cast("long").alias("n_bigrams"),
        F.round(F.col("n_oov") / n, 4).alias("oov_rate"),
        F.round(fold / n, 6).alias(score_name),
    )


def source_mix(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source corpus-mixing report: doc count, token count, token
    SHARE of the corpus, and mean quality signals (punctuation ratio,
    doc length) per source — the table a pretraining pipeline reads to
    set sampling weights across sources (the documents analog of the
    reference's per-log Statistics artifact, ``stats.rs:64-141``).

    One narrow codegen pass computes the per-row signals, one map-side-
    combined aggregation groups them by source, and the corpus-total
    divisor is a window over the (tiny, |sources|-row) aggregate — no
    second corpus scan and no driver round-trip. Scale shape: the only
    wide stage shuffles |sources| rows. All aggregates are integer sums
    with ONE final division, so results are bit-deterministic across
    partitionings and engines (a float avg would depend on partial-sum
    order); the punct rate is the corpus-level rate per source (total
    punct chars / total chars), not a mean of per-doc ratios.
    """
    from pyspark.sql import Window

    t = F.col(text_col)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, _PUNCT_RE, ""))
    per_src = (
        df.select(
            F.col(source_col).alias("source"),
            token_count(t).cast("long").alias("n_tok"),
            F.length(t).cast("long").alias("n_chars"),
            n_punct.cast("long").alias("n_punct"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chars").alias("_chars"),
            F.sum("n_punct").alias("_punct"),
        )
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / total, 6).alias("token_share"),
        F.round(F.col("_chars") / F.col("n_docs"), 2).alias("mean_chars"),
        F.round(
            F.when(F.col("_chars") == 0, F.lit(0.0)).otherwise(
                F.col("_punct") / F.col("_chars")
            ),
            6,
        ).alias("punct_rate"),
    )


def repetition_stats(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, public
    formulation) over word n-grams: per document, the duplicate-2/3-gram
    fractions (1 - distinct/total) and the token share of the single
    most frequent 2-gram. High values mark boilerplate/spam that
    training-data filters drop.

    Shapes: the duplicate fractions are pure array expressions (narrow,
    codegen). The top-gram share genuinely needs a per-(doc, gram)
    count, so it is the canonical two-phase aggregation — explode ->
    map-side-combined count on (doc, gram) -> max per doc — and joins
    back to the narrow stats on the doc key. At 100 TB the explode is
    the unavoidable cost of an exact mode; swap in a per-partition
    count-min sketch when approximate top-grams suffice."""
    toks_df = df.select(
        F.col(key_col).alias("k"), tokens(F.col(text_col)).alias("__toks")
    )
    base = toks_df.select(
        "k",
        F.size("__toks").alias("n_tokens"),
        word_ngrams("__toks", 2).alias("g2"),
        word_ngrams("__toks", 3).alias("g3"),
    )
    stats = base.select(
        "k",
        "n_tokens",
        F.size("g2").alias("n_g2"),
        F.round(
            F.when(F.size("g2") == 0, F.lit(0.0)).otherwise(
                1.0 - F.size(F.array_distinct("g2")) / F.size("g2")
            ),
            4,
        ).alias("dup_2gram_frac"),
        F.round(
            F.when(F.size("g3") == 0, F.lit(0.0)).otherwise(
                1.0 - F.size(F.array_distinct("g3")) / F.size("g3")
            ),
            4,
        ).alias("dup_3gram_frac"),
    )
    # The top-gram path shuffles ONLY (k, g, count): n_tokens stays on
    # the narrow stats side and the token fraction is computed after
    # the join, so neither exchange carries a passenger column.
    top = (
        base.select("k", F.explode("g2").alias("g"))
        .groupBy("k", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("k")
        .agg(F.max("c").alias("top_2gram_count"))
    )
    return (
        stats.join(top, "k", "left")
        .select(
            F.col("k").alias(key_col),
            "n_tokens",
            "dup_2gram_frac",
            "dup_3gram_frac",
            F.coalesce("top_2gram_count", F.lit(0)).alias("top_2gram_count"),
            F.round(
                F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                    F.coalesce("top_2gram_count", F.lit(0))
                    * 2.0
                    / F.col("n_tokens")
                ),
                4,
            ).alias("top_2gram_token_frac"),
        )
    )


def ngram_overlap(
    train: DataFrame,
    bench: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    ``n``-grams with a benchmark corpus (the standard train/test-overlap
    filter in LLM data pipelines; n=8..13 in production, lower for the
    short synthetic docs).

    Shape for 100 TB: the benchmark side is usually tiny relative to
    the corpus, so its distinct gram set is BROADCAST — the corpus-side
    explode never shuffles; the only exchange is the per-doc count
    aggregation, which map-side-combines. Returns every train doc with
    its gram counts, shared-gram count, containment ratio, and the
    ``contaminated`` verdict (>= ``min_shared`` shared grams).

    A benchmark too big to broadcast goes through
    :func:`promi_spark.operators.bloom.decontaminate_bloom`, which
    switches to a shuffled join above its size ceiling.
    """
    gr = F.array_distinct(word_ngrams("__toks", n))
    bench_grams = (
        bench.select(tokens(F.col(text_col)).alias("__toks"))
        .select(F.explode(gr).alias("g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # Single corpus scan: explode_outer keeps gram-less docs, the LEFT
    # broadcast join marks hits, one map-side-combined aggregation
    # rebuilds the per-doc verdict. The only exchange is the final
    # groupBy on the doc key.
    # The distinct gram array is its own projection, read by both the
    # count and the explode: written inline, the count lands in the
    # Project above the Generate and re-runs the interpreted gram
    # lambda once per exploded gram, O(grams^2) per document.
    train_grams = train.select(
        F.col(key_col).alias("k"), tokens(F.col(text_col)).alias("__toks")
    ).select("k", gr.alias("__grams"))
    ex = train_grams.select(
        "k",
        F.size("__grams").alias("n_grams"),
        F.explode_outer("__grams").alias("g"),
    )
    agg = (
        ex.join(F.broadcast(bench_grams), "g", "left")
        .groupBy("k")
        .agg(
            F.first("n_grams").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_shared"),
        )
    )
    return agg.select(
        F.col("k").alias(key_col),
        "n_grams",
        "n_shared",
        F.round(
            F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
                F.col("n_shared") / F.col("n_grams")
            ),
            4,
        ).alias("containment"),
        (F.col("n_shared") >= min_shared).alias("contaminated"),
    )


def lang_pred(col: Column | str) -> Column:
    """Stopword-vote language ID as a pure expression: the language
    whose stopword list hits most tokens wins ('und' = undetermined on
    all-zero). Deterministic tie-break by language code order. Pure
    built-ins — the per-language hit counters are independent regexp
    scans fused in one codegen stage; exposed as a Column so pipeline
    filters can apply it inline without a second scan or join."""
    t = F.lower(F.col(col) if isinstance(col, str) else col)
    scores = [
        (code, stopword_hits(t, words)) for code, words in sorted(STOPWORDS.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    pred = F.when(best == 0, F.lit("und"))
    for code, s in scores:  # first max wins -> deterministic
        pred = pred.when(s == best, F.lit(code))
    return pred


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document language prediction table (see :func:`lang_pred`)."""
    return df.select("doc_id", lang_pred(text_col).alias("lang_pred"))


def winnow_fingerprints(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, public
    algorithm): hash all character k-grams, slide a window of ``w``
    hashes, keep each window's minimum — the selected set is guaranteed
    to share fingerprints between documents with sufficiently long
    common substrings (the plagiarism/near-dup primitive).

    Expression shape: the sliding-window minimum is ``w`` shifted
    ``slice``s folded with ``zip_with``/``least`` — the same zip-slice
    idiom as the MinHash shingler — so the k-gram hash array is
    evaluated O(w) times per row, NOT once per window: a
    per-window ``slice(hashes, j+1, w)`` inside a ``transform`` lambda
    re-evaluates the whole O(L) hash array for each of the L windows
    (measured: ~1 s/doc at 300 chars — quadratic), while the shifted
    fold is linear. No shuffle, no UDF.

    k-grams hash with md5, so window minima are taken over hex strings
    (same total order in every engine), making the fingerprint set
    oracle-checkable in plain SQL."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    normed = df.select(F.col(key_col).alias("k"), norm.alias("txt"))
    hashed = normed.select(
        "k",
        F.transform(
            F.sequence(
                F.lit(0), F.greatest(F.length("txt") - k, F.lit(0))
            ),
            lambda i: F.md5(F.col("txt").substr(i + 1, F.lit(k))),
        ).alias("hashes"),
    )
    # n_windows = max(L - w + 1, 1); shorter shifted slices zip-pad with
    # NULL and least() skips NULLs, so the L < w edge (one window over
    # the whole array) falls out for free.
    n_windows = F.greatest(F.size("hashes") - (w - 1), F.lit(1))
    wmin = F.slice(F.col("hashes"), 1, n_windows)
    for t in range(1, w):
        wmin = F.zip_with(
            wmin,
            F.slice(F.col("hashes"), 1 + t, n_windows),
            lambda x, y: F.least(x, y),
        )
    return hashed.select(
        F.col("k").alias(key_col), F.array_distinct(wmin).alias("fingerprints")
    )


def cross_doc_substrings(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring signal — the distributed form
    of exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", public formulation):
    per document, how much of its winnowing fingerprint set also occurs
    in other documents. Winnowing guarantees any substring of length
    >= ``w + k - 1`` shared between two documents shares at least one
    selected fingerprint, so ``shared_frac`` upper-lower-bounds the
    document's cross-corpus duplicated-substring coverage — the score a
    pipeline thresholds to drop boilerplate-heavy documents (the scale
    substitute for the paper's suffix array, which is inherently
    sequential).

    Returns ``(key_col, n_fingerprints, n_shared, shared_frac)``.

    Scale shape: one corpus scan -> narrow fingerprinting (see
    :func:`winnow_fingerprints` — no shuffle) -> explode (~2/(w+1)
    selected grams per char) -> ONE exchange on the fingerprint hash
    (window count = number of docs holding each fingerprint; winnowing
    emits per-doc-distinct fingerprints, so a plain row count is a doc
    count) -> ONE exchange back on the doc key for the per-doc rollup.
    No self-join: the doc-frequency lookup rides the window, so the
    exploded relation is shuffled once, not joined against its own
    aggregate. Hot fingerprints (corpus-wide boilerplate) skew the fp
    exchange; AQE skew handling splits those partitions, and raising
    ``k`` shrinks their mass. The md5 fingerprints make the whole
    computation engine-portable for the DuckDB oracle."""
    from pyspark.sql import Window

    fps = winnow_fingerprints(df, key_col=key_col, text_col=text_col, k=k, w=w)
    # explode_outer, NOT explode: plain explode makes the optimizer
    # infer a `size(fingerprints) > 0` filter and push the entire
    # winnow expression below this projection, re-evaluating the
    # normalized text per gram (measured 29x at sf0.1 — see
    # session.py's InferFiltersFromGenerate note). Fingerprint arrays
    # are never empty (every doc yields >= 1 window), so the outer
    # variant is row-identical; the null guard is defensive.
    ex = fps.select(
        F.col(key_col), F.explode_outer("fingerprints").alias("fp")
    ).filter(F.col("fp").isNotNull())
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    per_fp = ex.select(F.col(key_col), (n_docs >= min_docs).alias("is_shared"))
    return per_fp.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum(F.col("is_shared").cast("long")).alias("n_shared"),
        F.round(
            F.sum(F.col("is_shared").cast("long"))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("shared_frac"),
    )


def line_dedup(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_count: int = 3,
) -> DataFrame:
    """Corpus-level line deduplication (the C4/RefinedWeb boilerplate
    step, public formulation): any line occurring at least ``min_count``
    times ACROSS THE CORPUS is removed from every document (cookie
    banners, nav menus, license footers). Returns
    ``(key_col, text, n_lines, n_removed)`` with surviving lines
    rejoined in their original order.

    Scale shape: one corpus scan -> posexplode of the line split ->
    ONE exchange on the line (window count = corpus-wide occurrences;
    the hot boilerplate lines are exactly the skewed keys, which AQE
    splits) -> ONE exchange back on the doc key where the surviving
    lines are re-sorted by position and rejoined. No join against a
    separate counts relation — the frequency rides the window, so the
    exploded relation moves once. The reassembly buffers one document's
    lines per group, the same bound as reading the document.
    """
    from pyspark.sql import Window

    import re as _re

    # F.split takes a REGEX — escape so a literal separator like '.'
    # or '|' splits on itself, matching the literal rejoin below.
    ex = df.select(
        F.col(key_col).alias("k"),
        F.posexplode_outer(
            F.split(F.col(text_col), _re.escape(sep), -1)
        ).alias("pos", "line"),
    )
    n_occ = F.count(F.lit(1)).over(Window.partitionBy("line"))
    flagged = ex.select("k", "pos", "line", (n_occ >= min_count).alias("dup"))
    return (
        flagged.groupBy("k")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("dup"), F.struct("pos", "line")
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
                sep,
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("dup").cast("long")).alias("n_removed"),
        )
        .withColumnRenamed("k", key_col)
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized, lowercased
    text — the exact-dedup key (a cheap stand-in for a rolling Rabin
    hash; stable across engines for oracle checks)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.select("doc_id", F.md5(norm).alias("fp"))


def length_quantiles(
    df: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-group length-distribution profile — the statistic behind
    every corpus length filter (thresholds are picked off these
    quantiles). Default is exact interpolated percentiles
    (``percentile``, the quantile_cont semantics) so the result is
    engine-portable for the oracle; ``approx=True`` swaps in
    ``percentile_approx`` (KLL-style single-pass sketch, bounded
    per-group state ~``accuracy`` values) — the 100 TB path, where an
    exact percentile would buffer every group value through the
    aggregation."""
    fn = "percentile_approx" if approx else "percentile"
    extra = f", {accuracy}" if approx else ""
    aggs = [F.count(F.lit(1)).alias("n_docs")] + [
        F.round(F.expr(f"{fn}({value_col}, {q}{extra})"), 4).alias(
            f"p{int(q * 100)}"
        )
        for q in quantiles
    ]
    return df.groupBy(F.col(group_col)).agg(*aggs)


# PII patterns deliberately restricted to syntax both Java regex and
# RE2 (DuckDB) compile identically — no lookaround, no backrefs.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\+?\d{3}[- ]\d{3}[- ]\d{4}\b",
}


def scrub_pii(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """PII redaction — the standard pre-training scrub pass: replace
    emails / IPv4s / phone-shaped numbers with typed placeholders and
    report per-document redaction counts. Pure regexp built-ins, one
    narrow codegen pass, no shuffle; patterns are engine-portable so
    the oracle replays the identical scrub in DuckDB.

    Each pattern is counted on the *progressively scrubbed* text (after
    the previous patterns' replacements), so ``n_<name>`` equals the
    number of ``<NAME>`` placeholders actually present in ``scrubbed``
    even when matches overlap across patterns (e.g. ``user@1.2.3.4``
    is one email, not an email plus an IPv4)."""
    counts = []
    scrubbed = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0))).alias(
                f"n_{name}"
            )
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return df.select(F.col(key_col), *counts, scrubbed.alias("scrubbed"))


def scrubbed_text(col: Column | str) -> Column:
    """The :func:`scrub_pii` replacement chain as a pure expression
    (no counts) — for in-place text scrubbing in a pipeline stage."""
    scr = F.col(col) if isinstance(col, str) else col
    for name, pat in PII_PATTERNS.items():
        scr = F.regexp_replace(scr, pat, f"<{name.upper()}>")
    return scr


def pack_index(
    df: DataFrame,
    budget: int = 512,
    n_shards: int | None = None,
    key_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0,
) -> DataFrame:
    """Sequence-packing index (GPT-style concat-and-chunk): documents
    are concatenated in deterministic order within each shard and cut
    into fixed ``budget``-token training windows; a document crossing a
    window boundary appears in every window it spans. Emits one row per
    (shard, chunk, doc) span — the index a pretraining loader uses to
    assemble packed batches without materializing the concatenation.

    Scale shape: the token cumsum is a window over ``shard`` (one
    exchange, parallel across shards — never a global single-partition
    window). ``n_shards`` bounds the window parallelism AND the sort
    size per task (a shard's whole token stream is sorted in one task),
    so the default derives from cluster parallelism
    (:func:`~promi_spark.operators.scale.parallelism_units`: 4x max of
    defaultParallelism and shuffle.partitions — ~128 on local[32],
    ~32k on a 1000-executor cluster, keeping per-shard data at
    corpus/32k ≈ 3 GB for 100 TB). Pass an explicit ``n_shards`` when
    the shard count is itself the contract (e.g. a fixed file layout a
    loader addresses — the oracle pins 8 for engine-portable results);
    note the packing CONTENT depends on it, since shard membership
    changes. Chunk ids explode from a tiny per-doc sequence. Shard
    assignment reuses the engine-portable md5 hash, so the whole index
    is reproducible anywhere, including the DuckDB oracle, for a given
    ``n_shards``.
    """
    from pyspark.sql import Window

    from promi_spark.operators.scale import parallelism_units, shard_id

    if n_shards is None:
        n_shards = parallelism_units(df.sparkSession)

    w = (
        Window.partitionBy("shard")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = df.select(
        F.col(key_col),
        shard_id(F.col(key_col).cast("string"), n_shards, seed).alias("shard"),
        token_count(F.col(text_col)).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    spans = base.select(
        key_col,
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_tok"),
        (F.sum("n_tokens").over(w) - 1).alias("end_tok"),
    )
    return spans.select(
        "shard",
        F.explode(
            F.sequence(
                F.floor(F.col("start_tok") / budget),
                F.floor(F.col("end_tok") / budget),
            )
        ).alias("chunk"),
        key_col,
        "n_tokens",
    )


def corpus_cardinality(
    docs: DataFrame,
    approx: bool = False,
    rsd: float = 0.05,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source cardinality report: doc count, distinct texts (md5
    fingerprint), total whitespace tokens, distinct tokens — the
    corpus profile a mixing/dedup decision starts from.

    ``approx=False`` (oracle mode) computes exact distincts: the token
    explode shuffles the full token stream and multi-distinct planning
    expands rows — correct, and affordable at test scale.
    ``approx=True`` is the 100 TB path: ``approx_count_distinct``
    (HyperLogLog++, relative error ``rsd``) keeps the aggregation
    map-side — the shuffle payload is |sources| x sketch bytes instead
    of the token stream, and no expand. Empty texts contribute zero
    tokens but still count as docs (explode_outer of an empty array).
    """
    c = F.col(text_col)
    # NULL text is explicitly the empty token set so the doc still
    # counts in n_docs (explode_outer keeps the row, tok = NULL). The
    # DuckDB oracle mirrors this with a `text IS NULL` CASE branch —
    # a bare unnest(NULL) there would emit zero rows and drop the doc.
    toks = F.when(
        c.isNull() | (F.length(F.trim(c)) == 0), F.array().cast("array<string>")
    ).otherwise(tokens(c))
    ex = docs.select(
        group_col,
        id_col,
        F.md5(c).alias("h"),
        F.explode_outer(toks).alias("tok"),
    )
    if approx:
        aggs = [
            F.approx_count_distinct(id_col, rsd).alias("n_docs"),
            F.approx_count_distinct("h", rsd).alias("distinct_texts"),
            F.count("tok").alias("total_tokens"),
            F.approx_count_distinct("tok", rsd).alias("distinct_tokens"),
        ]
    else:
        aggs = [
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.count_distinct(F.col("h")).alias("distinct_texts"),
            F.count("tok").alias("total_tokens"),
            F.count_distinct(F.col("tok")).alias("distinct_tokens"),
        ]
    return ex.groupBy(group_col).agg(*aggs)


def chunk_docs(
    docs: DataFrame,
    chunk_chars: int = 512,
    stride: int = 384,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size character windows with overlap
    (``stride`` < ``chunk_chars`` overlaps adjacent chunks) — the
    chunking pass feeding embedding / retrieval indexing. Returns
    (doc_id, chunk_id, chunk_start, chunk_text, n_chunk_chars).

    Narrow plan: offsets come from ``sequence(0, len-1, stride)``
    exploded JVM-side and sliced with ``substring`` — no UDF, no
    shuffle; chunk rows are born in the same task as their document.
    Empty documents emit zero chunks. The final short window is kept
    (standard chunker semantics); ``chunk_id`` is the 0-based window
    index, so (doc_id, chunk_id) is a stable global key.
    """
    if stride <= 0 or chunk_chars <= 0:
        raise ValueError("chunk_chars and stride must be positive")
    c = F.col(text_col)
    n = F.length(c)
    offs = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    return (
        docs.filter(n > 0)
        .select(
            id_col,
            c.alias("__t"),
            F.posexplode(offs).alias("chunk_id", "chunk_start"),
        )
        .select(
            id_col,
            "chunk_id",
            "chunk_start",
            F.substring(F.col("__t"), F.col("chunk_start") + 1, chunk_chars).alias(
                "chunk_text"
            ),
        )
        .withColumn("n_chunk_chars", F.length("chunk_text"))
    )


def top_ngrams(
    docs: DataFrame,
    n: int = 2,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level top-k word n-grams by occurrence count — the
    boilerplate/stopword-phrase discovery pass that feeds line-dedup
    thresholds and filter lists. Returns (gram, n_occurrences),
    deterministically ordered (count desc, gram asc).

    Scale shape: the gram explode feeds a map-side-combining count
    aggregate (partial + final around one gram-key exchange — the
    shuffle carries one row per DISTINCT gram per task, not the gram
    stream), and the top-k is TakeOrdered (per-partition heaps), not a
    global sort. Normalization matches :func:`~promi_spark.operators.
    dedup.norm_text` so counts line up with the dedup family.
    """
    from promi_spark.operators.dedup import norm_text

    toks_df = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        tokens(norm_text(text_col)).alias("__toks")
    )
    # Short docs fold into the gram expression as an empty array (which
    # explode drops) rather than a separate size() filter: a filter
    # would be pushed through the projection by substitution and
    # re-evaluate the split once more per row.
    return (
        toks_df.select(F.explode(word_ngrams("__toks", n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "gram")
        .limit(k)
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF (ln-smoothed:
    ``tf * ln((1 + N) / (1 + df))``) — the keyword/topic signal feeding
    search and near-dup triage. Returns (doc_id, term, tf, score)
    with deterministic (score desc, term asc) ranking.

    Shape: one explode into (doc, term) counts (map-side combine), a
    vocab-sized document-frequency aggregate joined back on the term
    key (vocab << corpus; AQE picks broadcast when it fits), the
    corpus size attached as a broadcast 1-row cross join — no driver
    round-trip — and a per-doc rank window. IDF is computed from
    exact integer counts with IEEE ln, so both engines rank
    identically.
    """
    from pyspark.sql import Window

    from promi_spark.operators.dedup import norm_text

    toks = tokens(norm_text(text_col))
    tf = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = docs.filter(
        F.length(F.trim(F.col(text_col))) > 0
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log((1 + F.col("n_docs")) / (1 + F.col("df"))),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(id_col, "term", "tf", "score")
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional phrase search: exact consecutive-token match count
    per document, via an inverted-index join rather than a substring
    scan. Returns (doc_id, n_matches) for docs with >= 1 match.

    Shape: the (doc, pos, term) posting relation is filtered to each
    phrase term BEFORE joining — the join inputs are term-selective
    posting lists, not the corpus — and occurrence i must sit at
    anchor position + i, so an m-word phrase is m-1 equi-joins on
    (doc, pos). Catalyst pushes the term filters into the explode
    scan; positions are unique within a doc, so no dedup stage is
    needed. For a standing corpus, persist the posting relation
    partitioned by term and these probes prune to the phrase's
    partitions.
    """
    from promi_spark.operators.dedup import norm_text

    words = [w for w in phrase.lower().split() if w]
    if not words:
        raise ValueError("phrase must contain at least one token")
    posting = docs.filter(
        F.length(F.trim(F.col(text_col))) > 0
    ).select(
        id_col,
        F.posexplode(tokens(norm_text(text_col))).alias("pos", "term"),
    )
    anchors = posting.filter(F.col("term") == words[0]).select(id_col, "pos")
    for i, w in enumerate(words[1:], start=1):
        nxt = posting.filter(F.col("term") == w).select(
            id_col, (F.col("pos") - i).alias("pos")
        )
        anchors = anchors.join(nxt, [id_col, "pos"])
    return anchors.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matches")
    )
