"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the correctness baseline, plus an
LSH-bucketed (random hyperplane / SimHash-for-vectors) variant as the
scale path: at 100 TB the bucket join prunes the candidate set to
same-bucket vectors, turning O(N) per query into O(N / 2^bits) with
recall tunable via multi-probe (hamming-adjacent buckets).

Dot products run as ``F.aggregate``/``F.zip_with`` over double arrays —
JVM-side, no Python — on the per-row and candidate-verify paths, where
the pair count is bounded (broadcast queries × corpus, LSH buckets, IVF
cells). Higher-order functions evaluate INTERPRETED, so that kernel is
wrong for unbounded pair counts: the exact all-pairs baseline instead
runs blocked — vectors packed per hash-block, block pairs fanned out,
and an Arrow-batched numpy kernel that accumulates dimension-by-
dimension in the fold's exact IEEE order (bit-identical sims,
vectorized across the pair matrix). See :func:`cosine_near_dups`.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from promi_spark.lifetime import persist


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def _sql_double(x: float) -> str:
    """SQL double literal with exact round-trip value: Python float
    repr is shortest-round-trip, and Spark's parser reads it back to
    the identical IEEE double. Non-finite values render as explicit
    casts — ``repr`` would yield ``nanD``/``infD``, which the SQL
    parser rejects, whereas the old per-element ``F.lit(float('nan'))``
    built a valid NaN literal (a caller passing a NaN-poisoned query
    vector or centroid must keep getting NaN scores, not a
    ParseException at build time)."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'' if x > 0 else '-'}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _lit_vec(vals) -> Column:
    """A small constant vector as ONE parsed ``array<double>`` literal
    expression — a single py4j round trip instead of one per element
    (see :func:`_lit_matrix`)."""
    return F.expr("array(" + ",".join(_sql_double(v) for v in vals) + ")")


def _lit_matrix(rows: list[list[float]]) -> Column:
    """A small constant matrix as ONE ``array<array<double>>`` literal
    expression.

    Driver-overhead optimization with identical values, two layers:

    - the unrolled ``F.array(F.lit(x), ...)`` form costs one py4j round
      trip PER ELEMENT to build (~2-4 ms each: a 64x64 plane matrix is
      ~8 s of pure Python/py4j time before Spark sees the plan) and
      k x dim expression nodes that Catalyst re-analyzes on every
      execution;
    - building the whole matrix as one SQL string is ONE round trip,
      parsed and constant-folded JVM-side.

    Values are bit-identical: ``repr(float)`` is shortest-round-trip
    and the SQL parser reads it back to the same IEEE double."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_sql_double(x) for x in c) + ")" for c in rows
        )
        + ")"
    )


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double sum — bit-deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def pair_dot_udf(dim: int):
    """Arrow-batched pairwise dot for CANDIDATE-VERIFY projections:
    rows already carry both vectors (post-join), so the only question
    is the per-pair kernel. The interpreted fold costs ~10-20 us/pair
    — fine for per-row scoring, the whole budget when a near-dup
    verify streams millions of candidate pairs (the r6 sf10 soak
    measured it as the dominant term in semantic_dedup). This kernel
    accumulates dimension-by-dimension across the Arrow batch in the
    fold's exact IEEE order (0.0 seed, left-to-right), so results are
    bit-identical for width-``dim`` vectors; rows where either side is
    NULL yield NaN (the fold yields NULL — both fail a >= threshold
    filter, the only consumer). Division/round stay JVM expressions.
    Requires fixed-width vectors; keep the fold for ragged data."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pd_dot(a, b):
        import numpy as np
        import pandas as pd

        out = np.full(len(a), np.nan)
        mask = (a.notna() & b.notna()).to_numpy()
        if mask.any():
            try:
                A = np.stack([np.asarray(v, dtype=np.float64) for v in a[mask]])
                B = np.stack([np.asarray(v, dtype=np.float64) for v in b[mask]])
            except ValueError as exc:
                raise ValueError(
                    f"pair_dot_udf(dim={dim}) needs fixed-width vectors; "
                    "use the expression fold for ragged data"
                ) from exc
            if A.shape[1] != dim or B.shape[1] != dim:
                raise ValueError(
                    f"pair_dot_udf dim mismatch: declared {dim}, "
                    f"data {A.shape[1]}/{B.shape[1]}"
                )
            acc = np.zeros(len(A))
            for i in range(dim):
                acc = acc + A[:, i] * B[:, i]
            out[mask] = acc
        return pd.Series(out)

    return pd_dot


def cosine_scores(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine similarity of every row against one query vector
    (broadcast as a literal array). Narrow scan, no shuffle."""
    q = _lit_vec(query_vec)
    return df.select(
        F.col(id_col),
        F.round(cosine(_as_double(F.col(vec_col)), q), 6).alias("cosine_sim"),
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force exact top-k. ``orderBy().limit(k)`` is a TakeOrdered
    — per-partition heap + driver merge, no full sort/shuffle. Ties
    broken by id for determinism."""
    return (
        cosine_scores(df, query_vec, id_col, vec_col)
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Batch brute-force k-NN: broadcast the (small) query set against
    the corpus scan, rank per query. One shuffle on query_id for the
    ranking window."""
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    q = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("qv")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        "corpus_id",
        F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.col("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Majority-vote k-NN classification: predict each query's label
    from its ``k`` nearest corpus vectors (cosine). Returns
    (query_id, pred_label, n_votes, best_sim).

    The neighbor label rides the scored relation through the rank
    window — no join-back to the corpus after ranking. ONE shuffle on
    query_id: the vote rollup groups on (query_id, label), which
    hash(query_id) partitioning already satisfies. Deterministic
    tie-breaks at every stage: rank ties by corpus_id, vote ties by
    (more votes, higher best similarity, lower label) — the exact
    ordering the SQL oracle replays.
    """
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(label_col).alias("nb_label"),
        _as_double(F.col(vec_col)).alias("cv"),
    )
    q = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("qv")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        "corpus_id",
        "nb_label",
        F.round(cosine(F.col("cv"), F.col("qv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.col("corpus_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    votes = ranked.groupBy(query_id_col, "nb_label").agg(
        F.count(F.lit(1)).alias("n_votes"),
        F.max("cosine_sim").alias("best_sim"),
    )
    return (
        votes.groupBy(query_id_col)
        .agg(
            F.min_by(
                F.struct(
                    F.col("nb_label").alias("pred_label"),
                    F.col("n_votes").alias("n_votes"),
                    F.col("best_sim").alias("best_sim"),
                ),
                F.struct(-F.col("n_votes"), -F.col("best_sim"), F.col("nb_label")),
            ).alias("m")
        )
        .select(query_id_col, "m.pred_label", "m.n_votes", "m.best_sim")
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplanes)
# ---------------------------------------------------------------------------


def hyperplanes(dim: int, bits: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side, tiny — bits×dim
    floats, broadcast as literals)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id of a vector under the hyperplane set.

    One zip_with over (planes literal, bit-weight literal) + a long
    sum — value-identical to the unrolled ``sum(bit_i << i)`` chain
    (integer adds, exact in any order) with an O(1)-size plan
    (:func:`_lit_matrix`)."""
    v = _as_double(vec_col)
    # two's-complement wrap at bit 63 keeps the weight a valid long for
    # 64-plane sets — identical to what shiftleft(1, 63) produced
    weights = F.expr(
        "array("
        + ",".join(
            str(((1 << i) + (1 << 63)) % (1 << 64) - (1 << 63)) + "L"
            for i in range(len(planes))
        )
        + ")"
    )
    bits = F.zip_with(
        _lit_matrix(planes),
        weights,
        lambda p, w: F.when(dot(v, p) > 0, w).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc + b)


# Above this many vectors the exact all-pairs scorer refuses to run
# unless the caller explicitly opts in: at 100k vectors the pair count
# is already 5e9 and growing quadratically, and the banded/bucketed
# siblings (lsh_near_dups, semantic_dedup) answer the same question at
# a bounded cost. The ceiling sits where the r6/r10 soaks measured the
# blocked kernel still practical on one box (sf1's ~10k vectors = 46M
# pairs in ~1 min; 100k = 100x that work).
QUADRATIC_ROW_CEILING = 100_000


def cosine_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int | None = 2048,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, EXACT all-pairs variant:
    (a, b, cosine_sim) for a < b with sim >= threshold.

    O(N^2) by definition — the correctness baseline and the right tool
    below ~100k vectors; above that use :func:`lsh_near_dups`
    (bucket-bounded). The default execution is BLOCKED: ids hash into
    ``ceil(N / block_size)`` blocks, vectors pack one row per block
    (collect_list — bounded at block_size * width doubles), the
    block-pair relation fans out to tasks, and an Arrow-batched numpy
    kernel scores each na x nb pair matrix. The kernel accumulates
    dimension-by-dimension with elementwise adds — the fold's exact
    left-to-right IEEE order, including the 0.0 seed and NaN
    propagation for NULL elements — so sims are bit-identical to the
    expression variant (``block_size=None``) and to the SQL oracle;
    the final round replays Java's BigDecimal HALF_UP via
    ``decimal.Decimal`` on the shortest repr, on candidates only.

    Why not the join-expression shape: a non-equi self-join evaluates
    the interpreted higher-order dot per PAIR (BroadcastNestedLoopJoin
    condition — never codegen), which the r6 sf1 soak measured at
    2853 s for 2*10^8 pairs; unrolling the fold into a 129-node add
    chain was 2x WORSE (codegen method-size fallback). The blocked
    numpy kernel does the same flops SIMD-vectorized across the pair
    matrix. Communication is the blocked all-pairs bound — each block
    ships to nblocks tasks, O(N * sqrt(n_pairs)) bytes total — and
    per-task memory is one (block_size)^2 double matrix (~33 MB at
    the 2048 default). Requires fixed-width vectors (what an
    embedding table is); ``block_size=None`` keeps the width-agnostic
    expression plan.

    This is the ORACLE BASELINE, not a production path: above
    ``QUADRATIC_ROW_CEILING`` rows it raises unless
    ``allow_quadratic=True``, so a pipeline author cannot reach the
    O(N^2) plan by accident — the scale answers to the same question
    are :func:`lsh_near_dups` and :func:`semantic_dedup`.
    """
    # Guard cost is CAPPED: limit(ceiling+1).count() scans at most
    # ceiling+1 rows instead of the full input, and when the guard
    # passes the capped count IS the exact N (the limit didn't bite),
    # so the blocked path below reuses it — one bounded job, not two
    # full scans. allow_quadratic=True skips the check entirely (the
    # expression path then never counts at all, restoring its pre-r11
    # zero-count plan).
    n: int | None = None
    if not allow_quadratic:
        n = df.limit(QUADRATIC_ROW_CEILING + 1).count()
        if n > QUADRATIC_ROW_CEILING:
            raise ValueError(
                f"cosine_near_dups: input exceeds the exact all-pairs "
                f"ceiling ({QUADRATIC_ROW_CEILING} vectors); this "
                "O(N^2) baseline would score >"
                f"{QUADRATIC_ROW_CEILING ** 2 // 2:.2e} pairs. Use "
                "lsh_near_dups / semantic_dedup at scale, or pass "
                "allow_quadratic=True to override deliberately."
            )
    if block_size is None:
        base = df.select(
            F.col(id_col).alias("k"),
            _as_double(F.col(vec_col)).alias("v"),
        ).withColumn("nrm", l2_norm(F.col("v")))
        a, b = base.alias("a"), base.alias("b")
        sim = F.round(
            dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")),
            6,
        )
        return (
            a.join(b, F.col("a.k") < F.col("b.k"))
            .select(
                F.col("a.k").alias("a"),
                F.col("b.k").alias("b"),
                sim.alias("cosine_sim"),
            )
            .filter(F.col("cosine_sim") >= threshold)
        )

    import math

    if n is None:  # allow_quadratic skipped the guard; geometry needs N
        n = df.count()
    nblocks = max(1, math.ceil(n / block_size))
    n_pairs = nblocks * (nblocks + 1) // 2
    id_type = df.schema[id_col].dataType.simpleString()
    thr = float(threshold)

    tagged = df.select(
        F.col(id_col).alias("k"),
        _as_double(F.col(vec_col)).alias("v"),
    ).filter(F.col("v").isNotNull()).withColumn(
        "blk", F.pmod(F.xxhash64(F.col("k")), F.lit(nblocks)).cast("int")
    )
    packed = tagged.groupBy("blk").agg(
        F.collect_list(F.struct("k", "v")).alias("rows")
    )
    a, b = packed.alias("a"), packed.alias("b")
    bp = (
        a.join(b, F.col("a.blk") <= F.col("b.blk"))
        .select(
            F.col("a.blk").alias("ba"),
            F.col("b.blk").alias("bb"),
            F.col("a.rows").alias("ra"),
            F.col("b.rows").alias("rb"),
        )
    )
    # One block pair per task where possible: the block-pair relation is
    # tiny in rows but each row is a ~MB payload and expands to an
    # na x nb scoring matrix — default partitioning would lump them.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    bp = bp.repartition(min(n_pairs, max(parallelism, 1) * 4))

    def score(batches):
        import numpy as np
        import pandas as pd
        from decimal import Decimal, ROUND_HALF_UP

        q6 = Decimal("0.000001")

        def jround(x: float) -> float:
            # Spark's round(double, 6) = BigDecimal.valueOf(x) (decimal
            # value of the shortest round-trip string — what repr()
            # also produces) .setScale(6, HALF_UP).
            if not math.isfinite(x):
                return x
            return float(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP))

        def unpack(entries):
            ids = np.array([e["k"] for e in entries], dtype=object)
            try:
                mat = np.stack(
                    [np.asarray(e["v"], dtype=np.float64) for e in entries]
                )
            except ValueError as exc:  # ragged widths
                raise ValueError(
                    "cosine_near_dups blocked kernel needs fixed-width "
                    "vectors; use block_size=None for ragged data"
                ) from exc
            return ids, mat

        def seq_norms(mat):
            acc = np.zeros(len(mat))
            for i in range(mat.shape[1]):
                acc = acc + mat[:, i] * mat[:, i]
            return np.sqrt(acc)

        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for ra, rb, same in zip(
                pdf["ra"], pdf["rb"], pdf["ba"].to_numpy() == pdf["bb"].to_numpy()
            ):
                if len(ra) == 0 or len(rb) == 0:
                    continue
                ka, A = unpack(ra)
                kb, B = (ka, A) if same else unpack(rb)
                acc = np.zeros((len(A), len(B)))
                for i in range(A.shape[1]):
                    acc = acc + A[:, i][:, None] * B[:, i][None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = acc / (seq_norms(A)[:, None] * seq_norms(B)[None, :])
                # candidate mask with a 1e-6 margin so no pair that the
                # exact HALF_UP round would lift to >= threshold is lost
                mask = sims >= thr - 1e-6
                if same:
                    # each unordered within-block pair appears twice in
                    # the matrix (plus the diagonal): keep id_a < id_b
                    mask &= ka[:, None] < kb[None, :]
                ia, ib = np.nonzero(mask)
                for p, r in zip(ia, ib):
                    s = jround(float(sims[p, r]))
                    if s >= thr:
                        x, y = ka[p], kb[r]
                        if y < x:  # cross-block pairs arrive unoriented
                            x, y = y, x
                        out_a.append(x)
                        out_b.append(y)
                        out_s.append(s)
            yield pd.DataFrame({"a": out_a, "b": out_b, "cosine_sim": out_s})

    return bp.mapInPandas(
        score, schema=f"a {id_type}, b {id_type}, cosine_sim double"
    )


def lsh_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 64,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup, LSH-bounded scale path: vectors
    sharing any band of their hyperplane sign-bits become candidates;
    candidates verified by exact cosine. High-cosine pairs agree on most
    sign bits, so per-band collision probability stays high while the
    candidate set stays ~linear.

    Default geometry is sized for scale: 64 bits / 4 bands = 16 sign
    bits per band = 2^16 buckets per band. Expected bucket occupancy is
    ~N/65536 (uniform case): at 10^9 vectors that is ~15k rows/bucket →
    ~10^8 within-bucket comparisons per band worst-case uniform, and in
    practice sign-bit buckets on real embeddings are far smaller than
    uniform near the mass of the distribution while near-dup pairs
    still collide (a 0.95-cosine pair flips any given sign bit with
    probability acos(0.95)/π ≈ 0.10, so a 16-bit band matches with
    p ≈ 0.9^16 ≈ 0.19, and 4 bands give ~57% recall per pair — raise
    ``bands`` for recall, ``bits/bands`` for precision). Fewer than ~12
    bits per band (e.g. the old 12/3 default = 16 buckets/band) makes
    the self-join quadratic at any real N — never ship that shape.

    The band bucket is the bit slice read as a little-endian integer
    (Horner over 0/1 bits) rather than a hash of the slice: with
    ``bits/bands`` sign bits per band the code already IS the bucket id,
    and plain integers keep the whole pipeline reproducible in any
    SQL engine (the oracle embeds the hyperplanes as literals and
    replays this exact join). The ``band`` column stays in the join key
    so the 2^(bits/bands) bucket space is still spread across ``bands``
    distinct shuffle keys; AQE splits pathological buckets.

    r8: candidate generation runs through the shared class-collapse
    core (``dedup._collapsed_banded_pairs``) — byte-identical vectors
    (re-embedded duplicate docs) have identical sign bits and collapse
    to one banded representative, the same mega-bucket guard as the
    MinHash/SimHash paths; the sign-bit pipeline is computed once into
    the persisted tagging relation instead of once per self-join side.
    ``max_bucket_size`` caps residual bucket skew (counts classes, off
    by default). The candidate pairs are persisted too (the plan
    boundary that keeps the verify stage from re-executing the banding
    pipeline); relation lifetime: README "Relation lifetime".

    ``dim`` avoids a driver peek when the vector width is known.
    """
    from promi_spark.operators.dedup import _collapsed_banded_pairs, _sig_classes

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = hyperplanes(dim, bits, seed)
    per_band = bits // bands
    base = df.select(
        F.col(id_col).alias("k"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", l2_norm(F.col("v")))
    # ONE transform over the plane-matrix literal (plan-size: two
    # Literal nodes instead of bits x dim; same sign values/order as
    # the old unrolled array — see _lit_matrix)
    sign_bits = F.transform(
        _lit_matrix(planes),
        lambda p: F.when(dot(F.col("v"), p) > 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long"),
    )

    def codes(sig):
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bnd: F.aggregate(
                F.slice(sig, bnd * per_band + 1, per_band),
                F.lit(0).cast("long"),
                lambda acc, bit: acc * 2 + bit,
            ),
        )

    # Plan-boundary persist of the (a, b) pair relation before the
    # verify: letting the verify's joins + sim expression plan against
    # the live collapse/expansion subtree re-executes the candidate
    # pipeline inside the verify stage — measured 223 s vs 32 s for the
    # IDENTICAL 66M-pair result at sf1 (and the boundary also beats the
    # r7 pre-collapse path 2.7x). Pairs are two longs each
    # (MEMORY_AND_DISK, spills at scale).
    cands = persist(
        _collapsed_banded_pairs(
            _sig_classes(base.select("k", sign_bits.alias("sig"))),
            codes,
            max_bucket_size,
        )
    )
    # Arrow-kernel pairwise dot for the candidate verify (bit-identical
    # to the fold — see pair_dot_udf); norms and the round stay JVM
    sim = F.round(
        pair_dot_udf(dim)(F.col("va"), F.col("vb"))
        / (F.col("na") * F.col("nb")),
        6,
    )
    return (
        cands.join(
            base.select(
                F.col("k").alias("a"),
                F.col("v").alias("va"),
                F.col("nrm").alias("na"),
            ),
            "a",
        )
        .join(
            base.select(
                F.col("k").alias("b"),
                F.col("v").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "b",
        )
        .select("a", "b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the scale path beyond one LSH bucket
# ---------------------------------------------------------------------------


def ivf_geometry(
    n: int, k: int = 10, oversample: int = 32, max_cells: int = 65536
) -> tuple[int, int]:
    """Auto-size an IVF index for an ``n``-vector corpus. Returns
    ``(n_cells, nprobe)``.

    - ``n_cells ~ sqrt(N)`` — the standard IVF balance point: the
      centroid argsort the driver runs per query costs O(n_cells) and
      each probed cell scan costs O(N / n_cells); sqrt(N) equalizes
      them (10^9 vectors -> ~31.6k cells of ~31.6k vectors). Capped at
      ``max_cells`` so the driver-side centroid matrix stays small
      (65536 x 1024-dim float64 = 0.5 GB — the practical ceiling
      before a hierarchical/PQ coarse quantizer is the right tool).
    - ``nprobe`` scaled by the expected cell occupancy ``N/n_cells``:
      enough probes that the candidate pool covers ``oversample * k``
      vectors (so the exact rerank has real choices even when the
      nearest cell is sparse), floored at 2% of the cells (the
      fraction under which the r7 recall study measured near-uniform
      data degrading toward the random-probe baseline).

    A fixed ``n_clusters=16`` left near-uniform recall at 0.595
    (r7 study): 4 of 16 cells is 25% of a corpus-independent grid — it
    over-scans small corpora and under-partitions big ones. This rule
    keeps the scanned fraction ``nprobe/n_cells`` shrinking as the
    corpus grows while the absolute candidate pool keeps covering the
    rerank.
    """
    import math

    if n <= 0:
        return 1, 1
    n_cells = max(1, min(int(round(math.sqrt(n))), max_cells, n))
    occupancy = max(1, n // n_cells)
    nprobe = max(
        1,
        -(-oversample * k // occupancy),  # ceil: cover oversample*k
        -(-n_cells // 50),  # >= 2% of cells
    )
    return n_cells, min(nprobe, n_cells)


def _resolve_geometry(
    df: DataFrame, n_clusters, nprobe, k: int
) -> tuple[int, int | None]:
    """Resolve 'auto' n_clusters/nprobe via :func:`ivf_geometry` (one
    count() job, only when auto is requested)."""
    if n_clusters == "auto" or nprobe == "auto":
        cells, probes = ivf_geometry(df.count(), k=k)
        if n_clusters == "auto":
            n_clusters = cells
        if nprobe == "auto":
            nprobe = probes
    return n_clusters, nprobe


def ivf_centroids(
    df: DataFrame,
    n_clusters: int | str = 16,
    n_iter: int = 10,
    seed: int = 42,
    sample: int = 4096,
    vec_col: str = "embedding",
    init: str = "rng_sample",
    id_col: str = "vec_id",
):
    """Deterministic k-means centroids from a driver-side sample
    (numpy; tiny — n_clusters x dim floats, broadcast as literals).
    At 100 TB: sample via df.sample, or train on MLlib KMeans — the
    probe/search plan below is identical either way.

    ``init='lowest_ids'`` seeds from the ``n_clusters`` rows with the
    smallest ids instead of an rng sample; combined with ``n_iter=0``
    this is a seeded Voronoi coarse quantizer — fully order-independent
    and reproducible in plain SQL, which is what the correctness oracle
    replays (the probe-pruned search plan is identical either way).

    ``n_clusters='auto'`` sizes the codebook by the sqrt(N) rule
    (:func:`ivf_geometry`; one count() job)."""
    import numpy as np

    if n_clusters == "auto":
        n_clusters = ivf_geometry(df.count())[0]

    def _rand_sample(n: int) -> list:
        # A bare .limit(n) takes the FIRST partitions — whatever file
        # sorts first — so a partition-skewed corpus would hand k-means
        # a sample (and hence centroids) covering only one region of
        # the space. Ordering by a seeded xxhash64 of the id instead is
        # a uniform pseudo-random draw that is deterministic AND
        # partition-layout-independent; orderBy+limit plans as
        # TakeOrderedAndProject (per-partition top-n, driver merge),
        # no full sort shuffle.
        return (
            df.select(
                _as_double(F.col(vec_col)).alias("v"),
                F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"),
            )
            .orderBy("__h", id_col)
            .limit(n)
            .collect()
        )

    if init == "lowest_ids":
        rows = (
            df.select(_as_double(F.col(vec_col)).alias("v"))
            .orderBy(F.col(id_col))
            .limit(n_clusters)
            .collect()
        )
        cent = np.array([r["v"] for r in rows])
    else:
        rows = _rand_sample(sample)
        X = np.array([r["v"] for r in rows])
        rng = np.random.default_rng(seed)
        cent = X[rng.choice(len(X), size=min(n_clusters, len(X)), replace=False)]
    if init == "lowest_ids" and n_iter:
        X = np.array([r["v"] for r in _rand_sample(sample)])
    elif init == "lowest_ids":
        X = cent
    for _ in range(n_iter):
        d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(len(cent)):
            members = X[assign == c]
            if len(members):
                cent[c] = members.mean(0)
    return cent.tolist()


def ivf_centroids_mllib(
    df: DataFrame,
    n_clusters: int | str = 16,
    n_iter: int = 20,
    seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The 100 TB IVF index build: distributed MLlib KMeans over the
    whole corpus — no driver-side collect anywhere; the JVM trains on
    `array_to_vector` columns and only the (n_clusters x dim) centroid
    matrix comes back. Returns the same plain-list centroid shape as
    :func:`ivf_centroids`, so `ivf_assign`/`ivf_topk` work unchanged
    with either trainer. ``n_clusters='auto'`` applies the sqrt(N)
    rule (:func:`ivf_geometry`)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if n_clusters == "auto":
        n_clusters = ivf_geometry(df.count())[0]

    vecs = df.select(
        array_to_vector(_as_double(F.col(vec_col))).alias("features")
    )
    model = KMeans(
        k=n_clusters, maxIter=n_iter, seed=seed, featuresCol="features"
    ).fit(vecs)
    return [c.tolist() for c in model.clusterCenters()]


def _nearest_centroid(vec: Column, centroids: list[list[float]]) -> Column:
    """argmin_c ||v - c||^2 == argmax_c (2 v.c - ||c||^2) over the
    (small) centroid set — ONE zip_with over (centroid-matrix literal,
    ||c||^2 literal) so the plan carries two Literal nodes instead of
    k x dim (:func:`_lit_matrix`); scores are the same sequential-fold
    doubles as the old unrolled form, bit for bit."""
    bl = _lit_matrix(centroids)
    c2 = _lit_vec(float(sum(x * x for x in c)) for c in centroids)
    arr = F.zip_with(bl, c2, lambda c, cc: 2.0 * dot(vec, c) - cc)
    return (F.array_position(arr, F.array_max(arr)) - 1).cast("int")


# ivf_assign switches unrolled -> kernel above this centroid count. r15
# re-measured the break-even (quiet window, noop sink, min-of-4): the
# interpreted zip_with fold loses to the Arrow kernel from k=32 up at
# EVERY corpus size tried (sf1 k=64: 8.45 s vs 1.89 s; k=32: 3.5 vs
# 1.0) and the gap grows with rows x k x dim, while k<=16 is the
# oracle-config regime (bench quantizers are 8-16 cells) where the
# unrolled form stays within noise of the kernel and keeps those
# plans Python-free. 128 was far past the crossover — semantic_dedup
# at the sf1 soak spent 8.6 s of its 15.8 s in the 80-centroid
# interpreted fold.
_ASSIGN_KERNEL_THRESHOLD = 16


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus -> (id, vector, cluster): the build side of an IVF index.
    At scale this is written out partitioned by ``cluster`` so probes
    read only their clusters' files (partition pruning).

    Two physical paths, chosen by centroid count, identical semantics
    (argmax of ``2 v.c - ||c||^2``, ties to the lowest centroid index —
    the exact scores match bit-for-bit because both paths accumulate
    the dot in the same sequential IEEE order and take ``||c||^2`` from
    the same Python double):

    - unrolled (up to 16 centroids — the oracle-config quantizer
      regime): the literal expression — zero joins, the right shape for
      a coarse quantizer. Literal unrolling beyond that is a PLAN-scale
      failure, not a data-scale one: k x dim literal nodes (an
      800-centroid codebook puts ~51k expression nodes in every
      operator referencing the cluster column) and analysis/
      canonicalization cost grows with k.
    - kernel (above 16): Arrow-batched numpy — the centroid matrix
      rides the task closure, scores accumulate dimension-by-dimension
      across the (batch x k) matrix in fold order, ``np.argmax`` takes
      the first maximum (= lowest index). Plan is O(1) in k, per-row
      cost is SIMD instead of an interpreted fold (the r6 sf10 soak
      measured 1.6e8 interpreted folds at ~6 min for 200k vectors x 800
      cells; the kernel does the same flops in seconds). Requires
      fixed-width non-NULL vectors — what an embedding table is.
    """
    if len(centroids) <= _ASSIGN_KERNEL_THRESHOLD:
        v = _as_double(F.col(vec_col))
        return df.select(
            F.col(id_col),
            F.col(vec_col),
            _nearest_centroid(v, centroids).alias("cluster"),
        )
    import numpy as np

    C = np.array([[float(x) for x in c] for c in centroids])
    c2 = np.array([float(sum(x * x for x in c)) for c in centroids])
    id_type = df.schema[id_col].dataType.simpleString()
    vec_type = df.schema[vec_col].dataType.simpleString()

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            try:
                V = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
            except ValueError as exc:
                raise ValueError(
                    "ivf_assign needs fixed-width non-NULL vectors above "
                    f"{_ASSIGN_KERNEL_THRESHOLD} centroids"
                ) from exc
            acc = np.zeros((len(V), len(C)))
            for i in range(V.shape[1]):
                acc = acc + np.multiply.outer(V[:, i], C[:, i])
            scores = 2.0 * acc - c2[None, :]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cluster": np.argmax(scores, axis=1).astype("int32"),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        assign,
        schema=f"{id_col} {id_type}, {vec_col} {vec_type}, cluster int",
    )


def ivf_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int | str = 16,
    nprobe: int | str = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "rng_sample",
    n_iter: int = 10,
) -> DataFrame:
    """IVF approximate top-k: score only vectors in the ``nprobe``
    clusters nearest the query. Self-contained (trains inline); at
    scale the assignment is precomputed + partitioned.

    Pass ``n_clusters='auto'`` / ``nprobe='auto'`` to size the index
    by :func:`ivf_geometry` (sqrt(N) cells, occupancy-scaled probes;
    costs one count() job).

    Regime guidance (measured, ANN_RECALL_r11.json): IVF cell pruning
    pays off when the corpus CLUSTERS — on near-uniform embeddings
    (no planted structure) auto-IVF recall@10 is ~0.56 at an 18% scan
    fraction, which is theoretically expected (a uniform corpus has no
    cells to exploit: the true neighbors spread across many cells, so
    any sublinear probe set must miss some). For such corpora prefer
    :func:`promi_spark.operators.pq.pq_rerank_topk` — PQ-ADC shortlist
    + exact rerank holds 0.97+ recall@10 at 16 bytes/vector REGARDLESS
    of corpus geometry, because it compresses every vector instead of
    pruning whole regions. On clustered corpora (the common embedding
    case) both are fine and IVF scans less."""
    import numpy as np

    n_clusters, nprobe = _resolve_geometry(corpus, n_clusters, nprobe, k)
    cent = ivf_centroids(
        corpus,
        n_clusters,
        n_iter=n_iter,
        seed=seed,
        vec_col=vec_col,
        init=init,
        id_col=id_col,
    )
    q = np.array(query_vec, dtype=float)
    d = ((np.array(cent) - q[None, :]) ** 2).sum(1)
    probe = [int(i) for i in d.argsort()[:nprobe]]
    assigned = ivf_assign(corpus, cent, id_col, vec_col)
    return (
        cosine_scores(
            assigned.filter(F.col("cluster").isin(probe)), query_vec, id_col, vec_col
        )
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def _cluster_gram_pairs(
    id_type, threshold: float, block_bytes: int = 32 << 20
):
    """Per-cluster pair kernel for :func:`semantic_dedup`'s ``gram``
    verify path: one pandas group = one cluster's (k, v, nrm) rows;
    emit (a, b, __raw) for every a < b pair (ids typed as the integral
    Spark ``id_type``) whose raw cosine clears
    ``threshold`` minus a one-ulp-scale safety margin (the EXACT
    ``round(.., 6) >= threshold`` cut happens JVM-side on ``__raw``, so
    the margin only prunes pairs no rounding could rescue).

    Bit-exactness with the pair-join form: the similarity accumulates
    dimension-by-dimension across the (block x n_c) matrix in the
    fold's IEEE order (0.0 seed, dims left to right — the
    :func:`pair_dot_udf` argument, one level up: whole cluster instead
    of whole batch), then divides by the ``nrm_a * nrm_b`` product —
    identical operations in identical order to
    ``dot(a.v, b.v) / (a.nrm * b.nrm)`` per pair. NaN-poisoned vectors
    yield NaN similarities that fail the threshold filter exactly as
    the JVM expression's do; a ZERO norm in a cluster with pairs
    raises, mirroring the session's ANSI divide-by-zero on the join
    form's per-pair denominator.

    Memory is bounded by processing the pair matrix in row blocks of
    ``block_bytes`` (default 32 MB of float64 accumulator per task)
    regardless of cluster size; the full n_c x dim vector block of one
    cluster must still fit a task, which the n_clusters ~
    N / target_cluster_size sizing rule guarantees with orders of
    magnitude to spare."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.types import to_arrow_type

    id_dtype = to_arrow_type(id_type).to_pandas_dtype()
    empty = pd.DataFrame(
        {
            "a": pd.Series(dtype=id_dtype),
            "b": pd.Series(dtype=id_dtype),
            "__raw": pd.Series(dtype="float64"),
        }
    )
    margin = threshold - 1e-6

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return empty
        pdf = pdf.sort_values("k")
        ids = pdf["k"].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        if np.any(nrm == 0.0):
            # the join form divides nrm_a * nrm_b per pair under the
            # session's ANSI mode, which raises on a zero denominator —
            # a zero-norm vector in a >= 2-vector cluster must fail the
            # same way here, not silently emit ±Inf similarities
            raise ArithmeticError(
                "[DIVIDE_BY_ZERO] semantic_dedup: zero-norm vector in a "
                "cluster with pairs (cosine denominator is zero)"
            )
        bs = max(2, block_bytes // (8 * n))
        outs = []
        with np.errstate(divide="ignore", invalid="ignore"):
            for lo in range(0, n - 1, bs):
                hi = min(lo + bs, n)
                acc = np.zeros((hi - lo, n))
                for i in range(V.shape[1]):
                    acc += np.multiply.outer(V[lo:hi, i], V[:, i])
                sims = acc / np.multiply.outer(nrm[lo:hi], nrm)
                iu, ju = np.nonzero(sims >= margin)
                upper = ju > (iu + lo)  # a < b pairs only
                iu, ju = iu[upper], ju[upper]
                if len(iu):
                    outs.append(
                        pd.DataFrame(
                            {
                                "a": ids[iu + lo],
                                "b": ids[ju],
                                "__raw": sims[iu, ju],
                            }
                        )
                    )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return kernel


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    n_clusters: int | str = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    init: str = "rng_sample",
    n_iter: int = 10,
    target_cluster_size: int = 250,
    verify: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023):
    coarse k-means partition of the embedding space, exact cosine
    verify WITHIN clusters only. Returns (a, b, cosine_sim) with a < b.

    The scale path between exact all-pairs (quadratic) and sign-bit LSH
    (recall decays with band geometry): a semantic duplicate pair is
    near-identical in embedding space, so both members land in the same
    Voronoi cell of any reasonable coarse quantizer — within-cluster
    verify keeps ~full recall while the join is bounded by the largest
    cluster, not the corpus. Each vector belongs to exactly ONE
    cluster, so pairs are unique by construction — no distinct step,
    and the verify runs once per pair.

    Size ``n_clusters`` ~ N / target_cluster_size (e.g. 10^9 vectors /
    10^4 per cluster = 10^5 clusters): the self-join shuffles on
    ``cluster`` and AQE splits skewed cells. ``n_clusters='auto'``
    applies that rule directly — ``max(1, ceil(N /
    target_cluster_size))`` via one count() job — which is what keeps
    the within-cluster verify ~linear in N (a frozen cluster count
    made the r7 sf1 soak quadratic: 92.7x runtime for 10x data). Pass
    ``centroids`` from :func:`ivf_centroids_mllib` for the distributed
    100 TB index build; the default trains inline from a sample.
    ``init='lowest_ids'`` with ``n_iter=0`` gives the SQL-replayable
    seeded quantizer the oracle uses (reference near-dup semantics:
    ``dedup.rs`` pair contracts — the embedding-space analog of
    MinHash pair generation).

    ``verify`` picks the within-cluster pair kernel (identical pair
    sets and bit-identical ``cosine_sim`` either way):

    - ``'gram'`` (the ``'auto'`` default for integer ids): ONE
      applyInPandas group per cluster computes the cluster's pair
      similarities as a blocked gram matrix — dims accumulated in the
      fold's IEEE order, so values match the join form bit for bit —
      and only above-threshold pairs leave Python. The corpus crosses
      the wire ONCE (one exchange on ``cluster``); the r14-measured
      pair join materialized each vector once per candidate PAIR
      through the join plus an Arrow round trip per pair row (~3.4x
      slower at sf0.1, and pair-proportional instead of
      corpus-proportional shuffle at scale). Trade: one cluster = one
      task (no AQE splitting of a pathologically hot cell — the
      n_clusters ~ N/target_cluster_size rule is what bounds cell
      size), and the ordering guarantee needs ids whose Python/numpy
      sort matches Spark's (integers; other id types auto-fall back).
    - ``'join'``: the r6-r14 pair join + Arrow pair-dot verify —
      AQE-splittable, any orderable id type.
    """
    if verify not in ("auto", "gram", "join"):
        raise ValueError(f"unknown semantic_dedup verify: {verify!r}")
    if n_clusters == "auto":
        n_clusters = max(1, -(-df.count() // target_cluster_size))
    cent = centroids or ivf_centroids(
        df, n_clusters, n_iter=n_iter, seed=seed,
        vec_col=vec_col, init=init, id_col=id_col,
    )
    assigned = (
        ivf_assign(df, cent, id_col, vec_col)
        .select(
            F.col(id_col).alias("k"),
            _as_double(F.col(vec_col)).alias("v"),
            "cluster",
        )
        .withColumn("nrm", l2_norm(F.col("v")))
    )
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    integral_id = isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    )
    if verify == "gram" and not integral_id:
        raise ValueError(
            "semantic_dedup verify='gram' needs integer ids (Python and "
            "Spark must sort them identically); use verify='join'"
        )
    if verify != "join" and integral_id and cent:
        kernel = _cluster_gram_pairs(id_type, float(threshold))
        raw = assigned.groupBy("cluster").applyInPandas(
            kernel,
            schema=(
                f"a {id_type.simpleString()}, "
                f"b {id_type.simpleString()}, __raw double"
            ),
        )
        # the EXACT cut stays a JVM expression on the bit-identical raw
        # similarity — the kernel's margin pre-filter only drops pairs
        # that cannot round back above the threshold
        return raw.select(
            "a", "b", F.round(F.col("__raw"), 6).alias("cosine_sim")
        ).filter(F.col("cosine_sim") >= threshold)
    a, b = assigned.alias("a"), assigned.alias("b")
    # the verify dot runs in the Arrow kernel (bit-identical to the
    # fold; centroid width = vector width) — the interpreted fold was
    # the dominant term once clusters hold millions of candidate pairs
    pdot = pair_dot_udf(len(cent[0])) if cent else dot
    sim = F.round(
        pdot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.k") < F.col("b.k")),
        )
        .select(
            F.col("a.k").alias("a"),
            F.col("b.k").alias("b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def cluster_prune(
    df: DataFrame,
    frac: float = 0.3,
    n_clusters: int | str = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    init: str = "rng_sample",
    n_iter: int = 10,
) -> DataFrame:
    """Prototype-based data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws" — public formulation): within each embedding
    cluster, DROP the ``frac`` most prototypical vectors (closest to
    their centroid) and keep the informative tail. The easy/redundant
    core of each semantic neighborhood contributes least to training;
    pruning it beats random subsampling at equal token budget.

    Returns the KEPT rows as ``(id, cluster)``. One exchange (the
    cluster-key window for the distance rank + cluster size); the
    assignment and distance arithmetic are unrolled codegen over the
    literal centroid set, like :func:`ivf_assign`. Per-cluster rank =
    ascending squared L2 to the centroid with the id tie-break, and a
    row is kept iff ``rank > ceil(frac * cluster_size)`` — both
    engine-deterministic, so the DuckDB oracle
    (`oracles.cluster_prune_sql`) replays the kept SET exactly under
    the seeded-Voronoi config (``init='lowest_ids'``, ``n_iter=0``);
    the production default trains k-means (or takes
    :func:`ivf_centroids_mllib` centroids) — same plan either way."""
    if not 0 <= frac < 1:
        raise ValueError("cluster_prune: frac must be in [0, 1)")
    if n_clusters == "auto":
        n_clusters = ivf_geometry(df.count())[0]
    cent = centroids or ivf_centroids(
        df, n_clusters, n_iter=n_iter, seed=seed,
        vec_col=vec_col, init=init, id_col=id_col,
    )
    v = _as_double(F.col(vec_col))
    # same two-literal zip_with shape as _nearest_centroid (plan-size;
    # scores identical to the old unrolled form bit for bit)
    arr = F.zip_with(
        _lit_matrix(cent),
        _lit_vec(float(sum(float(x) * float(x) for x in c)) for c in cent),
        lambda c, cc: 2.0 * dot(v, c) - cc,
    )
    best = F.array_max(arr)
    assigned = df.select(
        F.col(id_col),
        ((F.array_position(arr, best) - 1).cast("int")).alias("cluster"),
        # ||v - c||^2 == v.v - (2 v.c - c.c); v.v varies per row, so the
        # best SCORE alone cannot order rows within a cluster
        (dot(v, v) - best).alias("__dist2"),
    )
    win = Window.partitionBy("cluster")
    rank = F.row_number().over(
        win.orderBy(F.col("__dist2"), F.col(id_col))
    )
    cnt = F.count(F.lit(1)).over(win)
    return (
        assigned.select(
            id_col, "cluster", rank.alias("__rn"), cnt.alias("__cnt")
        )
        .filter(F.col("__rn") > F.ceil(F.lit(float(frac)) * F.col("__cnt")))
        .select(id_col, "cluster")
    )


def write_ivf_index(
    df: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF inverted file: every vector assigned to its
    nearest centroid and written ``partitionBy('cluster')`` — the
    serving layout where a probe query reads ONLY its ``nprobe``
    cluster directories (partition pruning at the file source, visible
    as ``PartitionFilters`` in the scan). Centroids ride alongside as
    ``_centroids.json`` (underscore-prefixed files are invisible to
    Spark's file index, so the parquet read is unaffected), written
    through the Hadoop FileSystem API so the index works on any
    scheme the parquet write does (local, hdfs://, s3a://, ...)."""
    import json

    assigned = ivf_assign(df, centroids, id_col, vec_col)
    # one shuffle on cluster so each task owns whole clusters -> one
    # file per cluster directory instead of files x tasks
    assigned.repartition("cluster").write.mode("overwrite").partitionBy(
        "cluster"
    ).parquet(path)
    spark = df.sparkSession
    _hadoop_write_text(
        spark, f"{path.rstrip('/')}/_centroids.json", json.dumps(centroids)
    )


def _hadoop_path_fs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _hadoop_write_text(spark, path: str, text: str) -> None:
    jpath, fs = _hadoop_path_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _hadoop_read_text(spark, path: str) -> str:
    jpath, fs = _hadoop_path_fs(spark, path)
    stream = fs.open(jpath)
    try:
        # py4j passes arrays by value, so stream.read(buf) cannot fill a
        # Python bytearray — drain the stream JVM-side via commons-io
        # (always on Spark's classpath as a Hadoop dependency)
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int | str = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against a persisted IVF index: pick the
    ``nprobe`` nearest centroids driver-side (tiny matrix), then scan
    only those cluster partitions. This is the 100 TB serving path —
    the candidate scan is bounded by ``nprobe/n_clusters`` of the
    corpus no matter how large the index grows, and the pruning happens
    at the source (no data read from unprobed clusters).

    ``nprobe='auto'`` derives the probe count from the index's own
    geometry without touching the data files: a sqrt(N)-built index
    has occupancy ~ n_cells, so ivf_geometry(n_cells**2) reproduces
    the build-time probe choice from the centroid count alone."""
    import json

    import numpy as np

    from promi_spark.io import read_parquet

    cent = json.loads(
        _hadoop_read_text(spark, f"{path.rstrip('/')}/_centroids.json")
    )
    if nprobe == "auto":
        nprobe = ivf_geometry(len(cent) ** 2, k=k)[1]
    q = np.array(query_vec, dtype=float)
    d = ((np.array(cent) - q[None, :]) ** 2).sum(1)
    probe = [int(i) for i in d.argsort()[:nprobe]]
    scan = read_parquet(spark, path).filter(F.col("cluster").isin(probe))
    return (
        cosine_scores(scan, query_vec, id_col, vec_col)
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )


def multiprobe_buckets(
    query_vec: list[float], planes: list[list[float]], nprobe: int
) -> list[int]:
    """Query-directed multi-probe bucket sequence (Lv et al., VLDB
    2007): the query's own sign bucket first, then the buckets reached
    by flipping ONE sign bit, ordered by the flipped hyperplane's
    |margin| ascending (the bit most likely to be wrong for a true
    neighbor is the one whose plane passes closest to the query).
    Driver-side and tiny — nprobe is capped at bits+1 single-bit
    flips; ties on |margin| break on plane index so the sequence is
    deterministic."""
    # Sequential left-fold dot (not numpy pairwise summation) so the
    # margins — and therefore the |margin| probe ORDER — are
    # bit-identical to the SQL oracle's list_inner_product replay.
    def sdot(p):
        acc = 0.0
        for x, y in zip(p, query_vec):
            acc += float(x) * float(y)
        return acc

    margins = [sdot(p) for p in planes]
    qb = 0
    for i, m in enumerate(margins):
        if m > 0:
            qb |= 1 << i
    flips = sorted(range(len(planes)), key=lambda i: (abs(margins[i]), i))
    return [qb] + [qb ^ (1 << i) for i in flips[: max(0, nprobe - 1)]]


def ann_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket
    plus the ``nprobe - 1`` Hamming-adjacent buckets whose flipped
    plane has the smallest |query margin| (query-directed multi-probe;
    see :func:`multiprobe_buckets`). Single-bucket sign-LSH
    (``nprobe=1``) keeps only ~(1 - θ/π)^bits of true neighbors —
    measured 0.19 planted / 0.12 organic recall@10 at bits=6 — so the
    DEFAULT is the measured-good multi-probe config (nprobe=4 recovers
    3-4× the single-bucket recall for the cost of scanning
    nprobe/2^bits of the corpus; curves in tools/ann_recall.py, floors
    pinned on this default in tests/test_ann_recall.py).

    At scale the corpus is pre-bucketed (a persisted ``bucket`` column,
    partitioned on it) so a query reads nprobe partitions — this
    function recomputes buckets inline for self-containedness."""
    dim = len(query_vec)
    planes = hyperplanes(dim, bits, seed)
    probes = multiprobe_buckets(query_vec, planes, nprobe)
    bucketed = corpus.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))
    return (
        cosine_scores(
            bucketed.filter(F.col("bucket").isin(probes)),
            query_vec,
            id_col,
            vec_col,
        )
        .orderBy(F.desc("cosine_sim"), F.col(id_col))
        .limit(k)
    )
