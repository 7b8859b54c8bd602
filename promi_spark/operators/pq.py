"""Product quantization (PQ) for embedding search — the memory-side
complement of the IVF family in :mod:`operators.similarity`.

Public formulation: Jégou, Douze & Schmid 2011, "Product Quantization
for Nearest Neighbor Search" (TPAMI): split the D-dim vector into M
contiguous subspaces, learn a small codebook per subspace, store each
vector as M one-byte codes, and answer queries with ADC (asymmetric
distance computation) — per-subspace partial distances between the
RAW query and every sub-centroid are precomputed once per query
(M x n_codes floats), and each corpus vector's approximate distance is
M table lookups + a fixed-order sum.

Why it matters at 100 TB: a 1024-dim float32 corpus is 4 KB/vector;
PQ at M=64/n_codes=256 is 64 BYTES/vector (64x), small enough that the
whole code table sits in memory / a fast scan while raw vectors stay
in cold storage. The scan itself is pure codegen — the codebooks and
the per-query partial tables are literal arrays, so scoring is
``element_at`` lookups and a fixed-order add chain; top-k plans as
TakeOrdered (per-partition heaps). Compose with IVF
(:func:`similarity.ivf_assign`) for the classic IVF-PQ layout: probe
clusters by partition pruning, then ADC-scan only the probed cells.

Oracle config: like the IVF family, ``init='lowest_ids'`` with
``n_iter=0`` seeds each subspace codebook from the ``n_codes``
lowest-id corpus sub-vectors — fully order-independent and replayable
in plain SQL (`oracles.pq_topk_sql`); the production default trains
per-subspace k-means on a deterministic hash-ordered sample, same
plan shape either way. All inner products fold in index order on both
engines (the repo-wide dot-product determinism convention); outputs
round to 6 dp and rank with explicit id tie-breaks.

No counterpart in the reference (no vector machinery at all in
``/root/reference/src``); extends SURVEY §2's similarity-search block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from promi_spark.io import read_parquet
from promi_spark.operators.similarity import _as_double, dot

__all__ = [
    "pq_codebooks",
    "pq_encode",
    "pq_topk",
    "ivfpq_topk",
    "pq_rerank_topk",
    "adc_partials",
    "write_pq_index",
    "read_pq_index",
    "write_ivfpq_index",
    "ivfpq_topk_indexed",
]


def _lip(a, b) -> float:
    """Index-order sequential inner product — the same fold order as
    Spark's ``F.aggregate`` dot and DuckDB's ``list_inner_product``."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _check_geometry(dim: int, m_subspaces: int) -> int:
    if m_subspaces < 1 or dim % m_subspaces != 0:
        raise ValueError(
            f"pq: m_subspaces={m_subspaces} must divide dim={dim}"
        )
    return dim // m_subspaces


def pq_codebooks(
    df: DataFrame,
    dim: int,
    m_subspaces: int = 4,
    n_codes: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init: str = "kmeans",
    n_iter: int = 10,
    seed: int = 42,
    sample: int = 4096,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: ``codebooks[m][c]`` is the c-th
    sub-centroid of subspace ``m`` (each ``dim/m_subspaces`` wide).

    ``init='kmeans'`` (default): per-subspace Lloyd iterations on a
    deterministic hash-ordered driver sample (numpy; the sample is one
    TakeOrdered job, shared across subspaces). ``init='lowest_ids'``
    with ``n_iter=0``: codebooks are the sub-vectors of the
    ``n_codes`` lowest-id rows — the SQL-replayable oracle config."""
    import numpy as np

    d = _check_geometry(dim, m_subspaces)
    if init == "lowest_ids":
        rows = (
            df.select(_as_double(F.col(vec_col)).alias("v"))
            .orderBy(F.col(id_col))
            .limit(n_codes)
            .collect()
        )
    else:
        rows = (
            df.select(
                _as_double(F.col(vec_col)).alias("v"),
                F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"),
            )
            .orderBy("__h", id_col)
            .limit(sample)
            .collect()
        )
    X = np.array([r["v"] for r in rows])
    books: list[list[list[float]]] = []
    rng = np.random.default_rng(seed)
    for m in range(m_subspaces):
        Xm = X[:, m * d : (m + 1) * d]
        if init == "lowest_ids":
            cent = Xm[: min(n_codes, len(Xm))].copy()
        else:
            pick = rng.choice(
                len(Xm), size=min(n_codes, len(Xm)), replace=False
            )
            cent = Xm[pick].copy()
        for _ in range(n_iter):
            dist = ((Xm[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = dist.argmin(1)
            for c in range(len(cent)):
                members = Xm[assign == c]
                if len(members):
                    cent[c] = members.mean(0)
        books.append(cent.tolist())
    return books


def _sub(vec: Column, m: int, d: int) -> Column:
    return F.slice(vec, m * d + 1, d)


def _nearest_code(sub: Column, book: list[list[float]]) -> Column:
    """argmin_c ||x - c||^2 == argmax_c (2 x.c - c.c) over the (small)
    codebook; first-max = lowest code index on ties — mirrored by the
    oracle's ``ORDER BY score DESC, c_idx`` rank.

    One zip_with over (codebook literal, c.c literal) instead of
    ``n_codes`` unrolled score subtrees: the scores are the same
    sequential-fold doubles bit for bit, but the plan carries two
    Literal nodes per subspace instead of n_codes x d — Catalyst
    analysis/optimization time was the dominant cost of every PQ
    query (measured ~3 s of pure driver time per execution at
    4 x 16 x 16 unrolled; see similarity._lit_matrix)."""
    from promi_spark.operators.similarity import _lit_matrix, _lit_vec

    bl = _lit_matrix(book)
    c2 = _lit_vec(_lip(c, c) for c in book)
    arr = F.zip_with(bl, c2, lambda c, cc: 2.0 * dot(sub, c) - cc)
    return (F.array_position(arr, F.array_max(arr)) - 1).cast("int")


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus -> ``(id, code_0..code_{M-1})``: the stored PQ
    representation (M small ints per vector — write THIS, not the raw
    vectors, as the hot search table). One narrow codegen projection;
    no shuffle, no UDF."""
    d = len(codebooks[0][0])
    v = _as_double(F.col(vec_col))
    cols = [F.col(id_col)] + [
        _nearest_code(_sub(v, m, d), book).alias(f"code_{m}")
        for m, book in enumerate(codebooks)
    ]
    return df.select(*cols)


def adc_partials(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """Per-(subspace, code) squared-L2 partials between the RAW query
    and each sub-centroid: ``q_m.q_m - 2 q_m.c + c.c``, each inner
    product folded in index order (the cross-engine convention)."""
    d = len(codebooks[0][0])
    out = []
    for m, book in enumerate(codebooks):
        qm = [float(x) for x in query_vec[m * d : (m + 1) * d]]
        qq = _lip(qm, qm)
        out.append([qq - 2.0 * _lip(qm, c) + _lip(c, c) for c in book])
    return out


def _probe_cells(
    query_vec: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """The ``nprobe`` coarse cells nearest the query: ascending exact
    squared L2 (index-order folds), centroid index on ties — the same
    probe order as ``ivf_topk``, so the SQL oracle replays the probe
    set exactly. Driver-side over the (tiny) centroid table."""
    if nprobe < 1:
        raise ValueError("ivfpq: nprobe must be >= 1")
    q = [float(x) for x in query_vec]
    qq = _lip(q, q)
    d2 = [
        (qq - 2.0 * _lip(q, c) + _lip(c, c), i)
        for i, c in enumerate(centroids)
    ]
    return [i for _, i in sorted(d2)[:nprobe]]


def ivfpq_topk(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the classic billion-scale ANN layout (Jégou et al.
    2011 §V) — probe the ``nprobe`` coarse cells nearest the query,
    then ADC-rank ONLY the probed vectors through their PQ codes.
    Cost per query: nprobe/n_cells of the corpus scanned, M
    byte-lookups per scanned vector.

    This in-memory composition still reads raw vectors twice — once
    for the cell assignment (:func:`similarity.ivf_assign`) and, when
    no ``codes`` table is supplied, once more to encode the probed
    cells inline. Pass ``codes`` (a :func:`pq_encode` output) to
    ADC-scan the compact code table instead (the probed ids semi-join
    it), or — the true serving posture, where NO raw vector is read
    at query time — persist the composed index with
    :func:`write_ivfpq_index` and query via :func:`ivfpq_topk_indexed`
    (cell assignment precomputed into partition directories, codes on
    disk, partition pruning at the source)."""
    from promi_spark.operators.similarity import ivf_assign

    probes = _probe_cells(query_vec, centroids, nprobe)
    scanned = ivf_assign(df, centroids, id_col, vec_col).filter(
        F.col("cluster").isin(probes)
    )
    q = [float(x) for x in query_vec]
    if codes is not None:
        enc = codes.join(scanned.select(id_col), id_col, "left_semi")
        return pq_topk(df, codebooks, q, k=k, id_col=id_col,
                       vec_col=vec_col, codes=enc)
    return pq_topk(scanned, codebooks, q, k=k, id_col=id_col,
                   vec_col=vec_col)


def pq_rerank_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ's production posture: ADC-retrieve ``n_candidates`` through
    the compressed codes, then EXACT-rerank only those candidates on
    their raw vectors and return the top ``k`` by true squared L2
    (``(id, l2_dist)``, 6 dp, ascending with the id tie-break). The
    expensive full-width distance touches ``n_candidates`` rows
    instead of the corpus; the raw-vector fetch is a broadcast semi
    join on the candidate ids. Recall then depends on the CANDIDATE
    pool containing the true neighbors, not on ADC resolving their
    exact order — measured in ``tools/ann_recall.py`` (rerank section)
    a 10-25x cheaper pool recovers near-exact recall@k."""
    if k < 1 or n_candidates < k:
        raise ValueError(
            "pq_rerank_topk: need k >= 1 and n_candidates >= k"
        )
    cand = pq_topk(
        df, codebooks, query_vec, k=n_candidates,
        id_col=id_col, vec_col=vec_col, codes=codes,
    ).select(id_col)
    q = [float(x) for x in query_vec]
    from promi_spark.operators.similarity import _lit_vec

    qarr = _lit_vec(q)
    v = _as_double(F.col(vec_col))
    d2 = dot(v, v) - 2.0 * dot(v, qarr) + F.lit(_lip(q, q))
    return (
        df.join(F.broadcast(cand), id_col, "left_semi")
        .select(F.col(id_col), F.round(d2, 6).alias("l2_dist"))
        .orderBy("l2_dist", id_col)
        .limit(k)
    )


def write_pq_index(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the PQ index: the :func:`pq_encode` code table as
    parquet (M small ints per vector — the entire hot search state;
    the raw vectors are NOT written) with the codebooks riding
    alongside as ``_codebooks.json`` (underscore-prefixed, invisible
    to Spark's file index — the same sidecar convention as
    ``write_ivf_index`` / ``write_bloom_index``). A 1024-dim float32
    corpus persists ~64x smaller at M=64; queries scan only the
    codes."""
    import json

    from promi_spark.operators.similarity import _hadoop_write_text

    pq_encode(df, codebooks, id_col, vec_col).write.mode(
        "overwrite"
    ).parquet(path)
    _hadoop_write_text(
        df.sparkSession,
        f"{path.rstrip('/')}/_codebooks.json",
        json.dumps(codebooks),
    )


def read_pq_index(
    spark, path: str
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Load a :func:`write_pq_index` artifact: ``(codes_df,
    codebooks)`` — pass the codes as ``pq_topk(..., codes=codes_df)``
    so queries never touch the raw vectors."""
    import json

    from promi_spark.operators.similarity import _hadoop_read_text

    codes = read_parquet(spark, path)
    books = json.loads(
        _hadoop_read_text(spark, f"{path.rstrip('/')}/_codebooks.json")
    )
    return codes, books


def write_ivfpq_index(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the composed IVF-PQ index: the PQ code table written
    ``partitionBy('cluster')`` over the IVF cell assignment, with both
    quantizers riding alongside as ``_centroids.json`` /
    ``_codebooks.json`` sidecars (underscore-prefixed — invisible to
    Spark's file index, same convention as ``write_ivf_index``).

    Cell assignment and PQ encoding happen in ONE projection over the
    corpus (ivf_assign keeps the vector column precisely so the encode
    can chain without a self-join), then one shuffle on ``cluster`` so
    each task owns whole cells — one file per cell directory. The raw
    vectors are NOT written: at rest the index is M small ints per
    vector plus the two sidecars, and a probe query reads only its
    ``nprobe`` cell directories (partition pruning at the source)."""
    import json

    from promi_spark.operators.similarity import (
        _hadoop_write_text,
        ivf_assign,
    )

    assigned = ivf_assign(df, centroids, id_col, vec_col)
    d = len(codebooks[0][0])
    v = _as_double(F.col(vec_col))
    table = assigned.select(
        F.col(id_col),
        *[
            _nearest_code(_sub(v, m, d), book).alias(f"code_{m}")
            for m, book in enumerate(codebooks)
        ],
        F.col("cluster"),
    )
    table.repartition("cluster").write.mode("overwrite").partitionBy(
        "cluster"
    ).parquet(path)
    spark = df.sparkSession
    base = path.rstrip("/")
    _hadoop_write_text(spark, f"{base}/_centroids.json",
                       json.dumps(centroids))
    _hadoop_write_text(spark, f"{base}/_codebooks.json",
                       json.dumps(codebooks))


def ivfpq_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ search against a :func:`write_ivfpq_index` artifact — the
    end-to-end serving path: both quantizers load from the sidecars
    (driver-side, tiny), the probe set is picked against the centroid
    matrix, and the scan reads ONLY the probed cells' code files —
    partition pruning at the parquet source (``PartitionFilters:
    cluster IN (...)`` in the plan; asserted by
    ``tests/test_plan_shapes.py``) with NO raw vector touched at query
    time. Returns the same ``(id, adc_dist)`` contract as
    :func:`ivfpq_topk` with identical probe order and ADC fold, so the
    in-memory and persisted paths are oracle-checked against the same
    SQL."""
    import json

    from promi_spark.operators.similarity import _hadoop_read_text

    base = path.rstrip("/")
    cents = json.loads(_hadoop_read_text(spark, f"{base}/_centroids.json"))
    books = json.loads(_hadoop_read_text(spark, f"{base}/_codebooks.json"))
    probes = _probe_cells(query_vec, cents, nprobe)
    scan = read_parquet(spark, path).filter(F.col("cluster").isin(probes))
    return pq_topk(scan, books, query_vec, k=k, id_col=id_col, codes=scan)


def pq_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: approximate squared-L2 distance = the fixed-order sum
    of M partial-table lookups on the vector's codes. Pass ``codes``
    (a :func:`pq_encode` output) to scan the compact code table —
    the intended layout at scale; otherwise the corpus is encoded
    inline (one pass over the raw vectors).

    Returns ``(id, adc_dist)`` rounded to 6 dp, ascending (then id) —
    TakeOrdered, never a full sort."""
    if k < 1:
        raise ValueError("pq_topk: k must be >= 1")
    parts = adc_partials(query_vec, codebooks)
    enc = codes if codes is not None else pq_encode(df, codebooks, id_col, vec_col)
    from promi_spark.operators.similarity import _lit_vec

    adc: Column = F.lit(0.0)
    for m, table in enumerate(parts):
        adc = adc + F.element_at(_lit_vec(table), F.col(f"code_{m}") + 1)
    return (
        enc.select(F.col(id_col), F.round(adc, 6).alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(k)
    )
