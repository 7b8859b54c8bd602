"""Generated DuckDB oracle SQL for the approximate / hash-based operators.

The LSH / IVF / SimHash / winnowing operators are approximate by
design, so "compare against exact brute force" is only a valid oracle
when recall happens to be total. Instead these builders REPLAY the
approximation itself in portable SQL: hyperplanes are embedded as
float literals, band buckets are the bit slices read as integers (no
engine-specific hashing), SimHash/winnowing run in an md5 hash mode
that any SQL engine can evaluate, and IVF uses a seeded-Voronoi
quantizer whose seeds are data rows. The DuckDB result is then
pair-for-pair identical to the Spark result — including the pairs the
approximation legitimately misses.

All builders return self-contained SQL over the driver's pre-registered
views (``documents``, ``embeddings``). Where a Spark expression folds
arrays sequentially (``F.aggregate``), the SQL uses the same
element order so float results agree bit-for-bit.
"""

from __future__ import annotations

# Token / normalized-text fragments shared by the document oracles.
# Mirrors operators.text.tokens + operators.dedup._norm: lowercase,
# trim, collapse inner whitespace, split on \s+ (empty text -> ['']).
_NORM_TXT = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_TOKS = rf"string_split_regex(trim({_NORM_TXT}), '\s+')"


def _vec(planes_row: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in planes_row) + "]"


def _sign_bit(vec_expr: str, plane: list[float]) -> str:
    return f"(CASE WHEN list_inner_product({vec_expr}, {_vec(plane)}) > 0 THEN 1 ELSE 0 END)"


def _horner(bits: list[str]) -> str:
    """MSB-first integer code of a bit list (matches F.aggregate's
    ``acc * 2 + bit`` left fold)."""
    expr = bits[0]
    for b in bits[1:]:
        expr = f"(({expr}) * 2 + {b})"
    return expr


def lsh_near_dups_sql(
    planes: list[list[float]], bands: int, threshold: float
) -> str:
    """Replay of similarity.lsh_near_dups: per-band bit-slice bucket
    codes, OR-of-bands candidate join, exact-cosine verify."""
    per_band = len(planes) // bands
    band_cols = []
    for bnd in range(bands):
        bits = [
            _sign_bit("v", planes[bnd * per_band + j]) for j in range(per_band)
        ]
        band_cols.append(f"{_horner(bits)} AS b{bnd}")
    on = " OR ".join(f"x.b{i} = y.b{i}" for i in range(bands))
    return f"""
    WITH e AS (SELECT vec_id AS k, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    coded AS (
      SELECT k, v, sqrt(list_inner_product(v, v)) AS nrm,
             {', '.join(band_cols)}
      FROM e
    )
    SELECT x.k AS a, y.k AS b,
           round(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS cosine_sim
    FROM coded x JOIN coded y ON x.k < y.k AND ({on})
    WHERE round(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 6) >= {threshold}
    """


def ann_lsh_topk_sql(planes: list[list[float]], k: int) -> str:
    """Replay of similarity.ann_topk: little-endian sign-bit bucket of
    corpus and query vectors, single-bucket probe, exact cosine top-k."""
    def bucket(vec_expr: str) -> str:
        terms = [
            f"{_sign_bit(vec_expr, p)} * {1 << i}" for i, p in enumerate(planes)
        ]
        return "(" + " + ".join(terms) + ")"

    return f"""
    WITH e AS (SELECT vec_id AS k, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qv AS (SELECT v AS q FROM e WHERE k = (SELECT min(k) FROM e)),
    qb AS (SELECT {bucket('q')} AS qbucket FROM qv),
    c AS (SELECT k, v, {bucket('v')} AS bucket FROM e WHERE k <> (SELECT min(k) FROM e))
    SELECT k AS vec_id,
           round(list_inner_product(v, q)
                 / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(q, q))),
                 6) AS cosine_sim
    FROM c, qv, qb
    WHERE bucket = qbucket
    ORDER BY cosine_sim DESC, vec_id
    LIMIT {k}
    """


def ann_multiprobe_topk_sql(
    planes: list[list[float]], k: int, nprobe: int
) -> str:
    """Replay of similarity.ann_topk with nprobe > 1: the query's sign
    bucket plus the single-bit-flip buckets of the ``nprobe - 1``
    planes with smallest |query margin| (ties on plane index), exact
    cosine top-k over the probed buckets."""
    def bucket(vec_expr: str) -> str:
        terms = [
            f"{_sign_bit(vec_expr, p)} * {1 << i}" for i, p in enumerate(planes)
        ]
        return "(" + " + ".join(terms) + ")"

    margin_rows = " UNION ALL ".join(
        f"SELECT {i} AS i, {1 << i} AS flipmask, "
        f"list_inner_product(q, {_vec(p)}) AS m FROM qv"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH e AS (SELECT vec_id AS k, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qv AS (SELECT v AS q FROM e WHERE k = (SELECT min(k) FROM e)),
    qb AS (SELECT {bucket('q')} AS qbucket FROM qv),
    qm AS ({margin_rows}),
    probe AS (
      SELECT qbucket AS bucket FROM qb
      UNION ALL
      SELECT xor(qb.qbucket, f.flipmask) AS bucket
      FROM (SELECT flipmask FROM qm ORDER BY abs(m), i LIMIT {nprobe - 1}) f
      CROSS JOIN qb
    ),
    c AS (SELECT k, v, {bucket('v')} AS bucket FROM e WHERE k <> (SELECT min(k) FROM e))
    SELECT k AS vec_id,
           round(list_inner_product(v, q)
                 / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(q, q))),
                 6) AS cosine_sim
    FROM c, qv
    WHERE bucket IN (SELECT bucket FROM probe)
    ORDER BY cosine_sim DESC, vec_id
    LIMIT {k}
    """


def ivf_topk_sql(n_clusters: int, nprobe: int, k: int) -> str:
    """Replay of similarity.ivf_topk with init='lowest_ids', n_iter=0:
    seeds are the ``n_clusters`` lowest-id corpus vectors; assignment is
    argmax(2 v.c - c.c) with first-max (lowest seed index) tie-break;
    probes are the ``nprobe`` seeds nearest the query."""
    return f"""
    WITH e AS (SELECT vec_id AS k, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qv AS (SELECT v AS q FROM e WHERE k = (SELECT min(k) FROM e)),
    corp AS (SELECT k, v FROM e WHERE k <> (SELECT min(k) FROM e)),
    cent AS (
      SELECT row_number() OVER (ORDER BY k) - 1 AS c_idx, v AS c
      FROM corp ORDER BY k LIMIT {n_clusters}
    ),
    scored AS (
      SELECT corp.k, corp.v, cent.c_idx,
             row_number() OVER (
               PARTITION BY corp.k
               ORDER BY 2 * list_inner_product(corp.v, cent.c)
                        - list_inner_product(cent.c, cent.c) DESC,
                        cent.c_idx
             ) AS rn
      FROM corp CROSS JOIN cent
    ),
    assigned AS (SELECT k, v, c_idx AS cluster FROM scored WHERE rn = 1),
    probe AS (
      SELECT c_idx FROM cent CROSS JOIN qv
      ORDER BY list_inner_product(q, q) - 2 * list_inner_product(q, c)
               + list_inner_product(c, c),
               c_idx
      LIMIT {nprobe}
    )
    SELECT k AS vec_id,
           round(list_inner_product(v, q)
                 / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(q, q))),
                 6) AS cosine_sim
    FROM assigned CROSS JOIN qv
    WHERE cluster IN (SELECT c_idx FROM probe)
    ORDER BY cosine_sim DESC, vec_id
    LIMIT {k}
    """


def pq_topk_sql(m_subspaces: int, n_codes: int, k: int, dim: int = 64) -> str:
    """Replay of pq.pq_topk with init='lowest_ids', n_iter=0: per
    subspace the codebook is the sub-vectors of the ``n_codes``
    lowest-id corpus rows; encoding is argmax(2 x.c - c.c) with the
    lowest-code-index tie-break; ADC partials fold per subspace in
    index order and sum in subspace order (list_aggregate over the
    m-ordered list == Spark's fixed-order add chain)."""
    d = dim // m_subspaces
    return f"""
    WITH e AS (SELECT vec_id AS k, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qv AS (SELECT v AS q FROM e WHERE k = (SELECT min(k) FROM e)),
    corp AS (SELECT k, v FROM e WHERE k <> (SELECT min(k) FROM e)),
    seeds AS (
      SELECT row_number() OVER (ORDER BY k) - 1 AS c_idx, v
      FROM corp ORDER BY k LIMIT {n_codes}
    ),
    ms AS (SELECT unnest(range(0, {m_subspaces})) AS m),
    subs AS (
      SELECT ms.m, seeds.c_idx,
             seeds.v[ms.m*{d}+1 : (ms.m+1)*{d}] AS c
      FROM seeds CROSS JOIN ms
    ),
    enc AS (
      SELECT corp.k, s.m, s.c_idx,
             row_number() OVER (
               PARTITION BY corp.k, s.m
               ORDER BY 2 * list_inner_product(
                            corp.v[s.m*{d}+1 : (s.m+1)*{d}], s.c)
                        - list_inner_product(s.c, s.c) DESC,
                        s.c_idx
             ) AS rn
      FROM corp CROSS JOIN subs s
    ),
    codes AS (SELECT k, m, c_idx AS code FROM enc WHERE rn = 1),
    part AS (
      SELECT m, c_idx,
             list_inner_product(qm, qm) - 2 * list_inner_product(qm, c)
             + list_inner_product(c, c) AS p
      FROM (
        SELECT s.m, s.c_idx, s.c, qv.q[s.m*{d}+1 : (s.m+1)*{d}] AS qm
        FROM subs s CROSS JOIN qv
      )
    ),
    scored AS (
      SELECT codes.k,
             list_aggregate(list(part.p ORDER BY codes.m), 'sum') AS adc
      FROM codes JOIN part ON codes.m = part.m AND codes.code = part.c_idx
      GROUP BY codes.k
    )
    SELECT k AS vec_id, round(adc, 6) AS adc_dist
    FROM scored ORDER BY round(adc, 6), k LIMIT {k}
    """


def pq_rerank_topk_sql(
    m_subspaces: int, n_codes: int, n_candidates: int, k: int,
    dim: int = 64,
) -> str:
    """Replay of pq.pq_rerank_topk: the pq_topk_sql candidate pool
    (top ``n_candidates`` by rounded ADC, id tie-break) exact-reranked
    on raw vectors by true squared L2 (index-order folds)."""
    d = dim // m_subspaces
    return f"""
    WITH e AS (SELECT vec_id AS k, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qv AS (SELECT v AS q FROM e WHERE k = (SELECT min(k) FROM e)),
    corp AS (SELECT k, v FROM e WHERE k <> (SELECT min(k) FROM e)),
    seeds AS (
      SELECT row_number() OVER (ORDER BY k) - 1 AS c_idx, v
      FROM corp ORDER BY k LIMIT {n_codes}
    ),
    ms AS (SELECT unnest(range(0, {m_subspaces})) AS m),
    subs AS (
      SELECT ms.m, seeds.c_idx,
             seeds.v[ms.m*{d}+1 : (ms.m+1)*{d}] AS c
      FROM seeds CROSS JOIN ms
    ),
    enc AS (
      SELECT corp.k, s.m, s.c_idx,
             row_number() OVER (
               PARTITION BY corp.k, s.m
               ORDER BY 2 * list_inner_product(
                            corp.v[s.m*{d}+1 : (s.m+1)*{d}], s.c)
                        - list_inner_product(s.c, s.c) DESC,
                        s.c_idx
             ) AS rn
      FROM corp CROSS JOIN subs s
    ),
    codes AS (SELECT k, m, c_idx AS code FROM enc WHERE rn = 1),
    part AS (
      SELECT m, c_idx,
             list_inner_product(qm, qm) - 2 * list_inner_product(qm, c)
             + list_inner_product(c, c) AS p
      FROM (
        SELECT s.m, s.c_idx, s.c, qv.q[s.m*{d}+1 : (s.m+1)*{d}] AS qm
        FROM subs s CROSS JOIN qv
      )
    ),
    scored AS (
      SELECT codes.k,
             list_aggregate(list(part.p ORDER BY codes.m), 'sum') AS adc
      FROM codes JOIN part ON codes.m = part.m AND codes.code = part.c_idx
      GROUP BY codes.k
    ),
    cand AS (
      SELECT k FROM scored ORDER BY round(adc, 6), k LIMIT {n_candidates}
    )
    SELECT corp.k AS vec_id,
           round(list_inner_product(corp.v, corp.v)
                 - 2 * list_inner_product(corp.v, qv.q)
                 + list_inner_product(qv.q, qv.q), 6) AS l2_dist
    FROM corp JOIN cand USING (k) CROSS JOIN qv
    ORDER BY l2_dist, vec_id LIMIT {k}
    """


def ivfpq_topk_sql(
    n_clusters: int, nprobe: int, m_subspaces: int, n_codes: int,
    k: int, dim: int = 64,
) -> str:
    """Replay of pq.ivfpq_topk in the seeded configuration: IVF seeds
    = the ``n_clusters`` lowest-id corpus vectors (ivf_topk_sql's
    assignment + probe rules), PQ seeds = the ``n_codes`` lowest-id
    corpus sub-vectors (pq_topk_sql's encode + ADC rules); the ADC
    scan ranks only vectors assigned to the probed cells."""
    d = dim // m_subspaces
    return f"""
    WITH e AS (SELECT vec_id AS k, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    qv AS (SELECT v AS q FROM e WHERE k = (SELECT min(k) FROM e)),
    corp AS (SELECT k, v FROM e WHERE k <> (SELECT min(k) FROM e)),
    cent AS (
      SELECT row_number() OVER (ORDER BY k) - 1 AS c_idx, v AS c
      FROM corp ORDER BY k LIMIT {n_clusters}
    ),
    cscored AS (
      SELECT corp.k, corp.v, cent.c_idx,
             row_number() OVER (
               PARTITION BY corp.k
               ORDER BY 2 * list_inner_product(corp.v, cent.c)
                        - list_inner_product(cent.c, cent.c) DESC,
                        cent.c_idx
             ) AS rn
      FROM corp CROSS JOIN cent
    ),
    assigned AS (SELECT k, v, c_idx AS cluster FROM cscored WHERE rn = 1),
    probe AS (
      SELECT c_idx FROM cent CROSS JOIN qv
      ORDER BY list_inner_product(q, q) - 2 * list_inner_product(q, c)
               + list_inner_product(c, c),
               c_idx
      LIMIT {nprobe}
    ),
    scan AS (
      SELECT k, v FROM assigned
      WHERE cluster IN (SELECT c_idx FROM probe)
    ),
    seeds AS (
      SELECT row_number() OVER (ORDER BY k) - 1 AS c_idx, v
      FROM corp ORDER BY k LIMIT {n_codes}
    ),
    ms AS (SELECT unnest(range(0, {m_subspaces})) AS m),
    subs AS (
      SELECT ms.m, seeds.c_idx,
             seeds.v[ms.m*{d}+1 : (ms.m+1)*{d}] AS c
      FROM seeds CROSS JOIN ms
    ),
    enc AS (
      SELECT scan.k, s.m, s.c_idx,
             row_number() OVER (
               PARTITION BY scan.k, s.m
               ORDER BY 2 * list_inner_product(
                            scan.v[s.m*{d}+1 : (s.m+1)*{d}], s.c)
                        - list_inner_product(s.c, s.c) DESC,
                        s.c_idx
             ) AS rn
      FROM scan CROSS JOIN subs s
    ),
    codes AS (SELECT k, m, c_idx AS code FROM enc WHERE rn = 1),
    part AS (
      SELECT m, c_idx,
             list_inner_product(qm, qm) - 2 * list_inner_product(qm, c)
             + list_inner_product(c, c) AS p
      FROM (
        SELECT s.m, s.c_idx, s.c, qv.q[s.m*{d}+1 : (s.m+1)*{d}] AS qm
        FROM subs s CROSS JOIN qv
      )
    ),
    scored AS (
      SELECT codes.k,
             list_aggregate(list(part.p ORDER BY codes.m), 'sum') AS adc
      FROM codes JOIN part ON codes.m = part.m AND codes.code = part.c_idx
      GROUP BY codes.k
    )
    SELECT k AS vec_id, round(adc, 6) AS adc_dist
    FROM scored ORDER BY round(adc, 6), k LIMIT {k}
    """


def cluster_prune_sql(n_clusters: int, frac: float) -> str:
    """Replay of similarity.cluster_prune with init='lowest_ids',
    n_iter=0: seeded-Voronoi assignment (argmax(2 v.c - c.c), lowest
    seed index on ties), per-cluster ascending ||v - c||^2 rank with
    the id tie-break, keep rank > ceil(frac * cluster_size)."""
    return f"""
    WITH e AS (SELECT vec_id AS k, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (
      SELECT row_number() OVER (ORDER BY k) - 1 AS c_idx, v AS c
      FROM e ORDER BY k LIMIT {n_clusters}
    ),
    scored AS (
      SELECT e.k, e.v, cent.c_idx,
             2 * list_inner_product(e.v, cent.c)
             - list_inner_product(cent.c, cent.c) AS s,
             row_number() OVER (
               PARTITION BY e.k
               ORDER BY 2 * list_inner_product(e.v, cent.c)
                        - list_inner_product(cent.c, cent.c) DESC,
                        cent.c_idx
             ) AS rn
      FROM e CROSS JOIN cent
    ),
    asg AS (
      SELECT k, CAST(c_idx AS INT) AS cluster,
             list_inner_product(v, v) - s AS dist2
      FROM scored WHERE rn = 1
    ),
    rk AS (
      SELECT k, cluster,
             row_number() OVER (
               PARTITION BY cluster ORDER BY dist2, k) AS rn,
             count(*) OVER (PARTITION BY cluster) AS cnt
      FROM asg
    )
    SELECT k AS vec_id, cluster
    FROM rk WHERE rn > ceil(CAST({frac!r} AS DOUBLE) * cnt)
    """


def semantic_dedup_sql(
    n_clusters: int, threshold: float, per_cluster: int | None = None
) -> str:
    """Replay of similarity.semantic_dedup with init='lowest_ids',
    n_iter=0: seeds are the ``n_clusters`` lowest-id vectors; assignment
    is argmax(2 v.c - c.c) with first-max (lowest seed index) tie-break;
    exact cosine within clusters only.

    With ``per_cluster`` set, the seed count scales with the corpus —
    ``greatest(n_clusters, ceil(N / per_cluster))`` — replaying the
    query-side sizing rule so the within-cluster verify stays ~linear
    in N instead of quadratic at a frozen cluster count."""
    k_expr = (
        str(n_clusters)
        if per_cluster is None
        else (
            f"(SELECT greatest({n_clusters}, "
            f"CAST(ceil(count(*) / {per_cluster}.0) AS BIGINT)) FROM e)"
        )
    )
    return f"""
    WITH e AS (SELECT vec_id AS k, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (
      SELECT c_idx, c FROM (
        SELECT row_number() OVER (ORDER BY k) - 1 AS c_idx, v AS c FROM e
      ) WHERE c_idx < {k_expr}
    ),
    scored AS (
      SELECT e.k, e.v, cent.c_idx,
             row_number() OVER (
               PARTITION BY e.k
               ORDER BY 2 * list_inner_product(e.v, cent.c)
                        - list_inner_product(cent.c, cent.c) DESC,
                        cent.c_idx
             ) AS rn
      FROM e CROSS JOIN cent
    ),
    assigned AS (SELECT k, v, c_idx AS cluster FROM scored WHERE rn = 1)
    SELECT a.k AS a, b.k AS b,
           round(list_inner_product(a.v, b.v)
                 / (sqrt(list_inner_product(a.v, a.v))
                    * sqrt(list_inner_product(b.v, b.v))), 6) AS cosine_sim
    FROM assigned a JOIN assigned b
      ON a.cluster = b.cluster AND a.k < b.k
    WHERE round(list_inner_product(a.v, b.v)
                / (sqrt(list_inner_product(a.v, a.v))
                   * sqrt(list_inner_product(b.v, b.v))), 6) >= {threshold}
    """


def _jaccard_pairs_ctes(threshold: float, n: int = 3) -> str:
    """The shared CTE chain ending in ``jpairs(a, b, jaccard_sim)`` —
    exact word-n-gram Jaccard pairs >= threshold over ``documents``.

    Two public blocking ideas keep the replay bounded at soak scale
    (the naive any-shared-shingle join is quadratic in the hottest
    shingle's document frequency):

    1. EXACT-DUPLICATE CLASS COLLAPSE: docs are grouped by md5 of the
       normalized text; one representative shingle set is built per
       class. Identical texts have Jaccard exactly 1 (>= any t), so
       within-class pairs are emitted directly, and the expensive
       verify runs on distinct-text class PAIRS only — a duplicate
       cluster of m docs costs O(m) instead of O(m^2).
    2. Frequency-ordered PREFIX-FILTER join between classes (the
       public PPJoin/SSJoin scheme): order every class's shingle set
       by (global frequency ASC, shingle ASC) — one total order shared
       by all — and keep only the first ``|s| - ceil(t*|s|) + 1``
       shingles as its join prefix. Exact-recall argument: J(A,B) >= t
       implies overlap o >= t*|A| (the Jaccard denominator is >= |A|),
       so o >= ceil(t*max(|A|,|B|)) =: α; by the prefix-filtering
       lemma, prefixes of length |X| - α + 1 under any shared total
       order must then intersect, and each kept prefix
       (|X| - ceil(t*|X|) + 1 >= |X| - α + 1) contains that witness.
       BOTH filters run at the rounding-adjusted bound t' = t - 5e-5:
       the emit condition is round(J, 4) >= t, which admits pairs with
       true J as low as t - 0.00005, and pruning at the raw t could
       drop exactly those boundary pairs (a prune-only loosening — the
       emitted rows are unchanged).

    The verify counts shared shingles via a posting equi-join + group
    (hash joins, no per-pair list intersection). Output is identical
    to the naive formulation, row for row."""
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    tf = threshold - 5e-5  # rounding-adjusted prune bound (see above)
    return f"""
    t AS (SELECT doc_id, {_TOKS} AS toks, md5({_NORM_TXT}) AS cls FROM documents),
    crep AS (SELECT cls, min(doc_id) AS rep FROM t GROUP BY cls),
    csh AS (
      SELECT t.cls,
             CASE WHEN len(toks) < {n} THEN [list_aggregate(toks, 'string_agg', ' ')]
                  ELSE list_distinct(list_transform(range(1, len(toks) - {n - 2}),
                                                    i -> {gram}))
             END AS s
      FROM t JOIN crep ON t.doc_id = crep.rep
    ),
    post AS (SELECT cls, unnest(s) AS g, len(s) AS sz FROM csh),
    df AS (SELECT g, count(*) AS df FROM post GROUP BY g),
    pref AS (
      SELECT cls, g, sz FROM (
        SELECT post.cls, post.g, post.sz,
               row_number() OVER (PARTITION BY post.cls
                                  ORDER BY df.df, post.g) AS rn
        FROM post JOIN df USING (g)
      ) WHERE rn <= sz - CAST(ceil({tf} * sz) AS BIGINT) + 1
    ),
    cand AS (
      SELECT DISTINCT x.cls AS ca, y.cls AS cb
      FROM pref x JOIN pref y
        ON x.g = y.g AND x.cls < y.cls
       AND x.sz >= CAST(ceil({tf} * y.sz) AS BIGINT)
       AND y.sz >= CAST(ceil({tf} * x.sz) AS BIGINT)
    ),
    ov AS (
      SELECT c.ca, c.cb, count(*) AS o,
             any_value(x.sz) AS sza, any_value(y.sz) AS szb
      FROM cand c
      JOIN post x ON x.cls = c.ca
      JOIN post y ON y.cls = c.cb AND y.g = x.g
      GROUP BY c.ca, c.cb
    ),
    cpairs AS (
      SELECT ca, cb,
             round(o::DOUBLE / (sza + szb - o), 4) AS jaccard_sim
      FROM ov
      WHERE round(o::DOUBLE / (sza + szb - o), 4) >= {threshold}
    ),
    jpairs AS MATERIALIZED (
      SELECT CASE WHEN x.doc_id < y.doc_id THEN x.doc_id ELSE y.doc_id END AS a,
             CASE WHEN x.doc_id < y.doc_id THEN y.doc_id ELSE x.doc_id END AS b,
             p.jaccard_sim
      FROM cpairs p
      JOIN t x ON x.cls = p.ca
      JOIN t y ON y.cls = p.cb
      UNION ALL
      SELECT x.doc_id AS a, y.doc_id AS b,
             CAST(1.0 AS DOUBLE) AS jaccard_sim
      FROM t x JOIN t y ON x.cls = y.cls AND x.doc_id < y.doc_id
    )"""


def exact_jaccard_pairs_sql(threshold: float, n: int = 3) -> str:
    """Exact word-n-gram Jaccard pairs >= threshold over ``documents``
    — the oracle for minhash_dedup, whose banded LSH has (verified)
    total recall on the high-similarity injected duplicates."""
    return f"""
    WITH {_jaccard_pairs_ctes(threshold, n)}
    SELECT a, b, jaccard_sim FROM jpairs
    """


def dedup_components_sql(threshold: float, n: int = 3) -> str:
    """Connected components of the near-dup pair graph via a recursive
    transitive-closure CTE: every node's component id is the smallest
    doc id it can reach — the declarative mirror of the iterative
    star-rewrite loop in ``dedup.dedup_components``."""
    return f"""
    WITH RECURSIVE {_jaccard_pairs_ctes(threshold, n)},
    edges AS MATERIALIZED (
      SELECT a, b FROM jpairs UNION SELECT b, a FROM jpairs
    ),
    reach AS (
      SELECT a AS id, b AS r FROM edges
      UNION
      SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
    )
    SELECT id AS doc_id, min(r) AS component
    FROM (SELECT id, r FROM reach UNION SELECT a AS id, a AS r FROM edges)
    GROUP BY id
    """


def dedup_keep_best_sql(
    threshold: float, quality_sql: str = "length(d.text)", n: int = 3
) -> str:
    """Replay of dedup.dedup_keep_best: the recursive transitive-closure
    components (same CTE as dedup_components_sql), a per-component rank
    by (quality DESC NULLS LAST, doc_id ASC) over member docs,
    survivors = the corpus minus every rank > 1 member.
    ``quality_sql`` is the SQL twin of the Spark-side quality
    expression (default: text length, matching the registry query).
    NULLS LAST is pinned explicitly to mirror the Spark side's
    ``desc_nulls_last`` for nullable quality columns (DuckDB's DESC
    default happens to agree; the pin makes it contractual)."""
    return f"""
    WITH RECURSIVE {_jaccard_pairs_ctes(threshold, n)},
    edges AS MATERIALIZED (
      SELECT a, b FROM jpairs UNION SELECT b, a FROM jpairs
    ),
    reach AS (
      SELECT a AS id, b AS r FROM edges
      UNION
      SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
    ),
    comp AS (
      SELECT id AS doc_id, min(r) AS component
      FROM (SELECT id, r FROM reach UNION SELECT a AS id, a AS r FROM edges)
      GROUP BY id
    ),
    ranked AS (
      SELECT c.doc_id,
             row_number() OVER (
               PARTITION BY c.component
               ORDER BY {quality_sql} DESC NULLS LAST, c.doc_id
             ) AS rn
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
    """


def leakage_safe_split_sql(
    threshold: float, ratio: float, seed: int = 0, n: int = 3
) -> str:
    """Replay of dedup.leakage_safe_split: recursive-CTE components over
    the exact-Jaccard pair graph, md5 coin on coalesce(component, key)
    with the same hex threshold (shared via split.hex_threshold)."""
    from promi_spark.operators.split import hex_threshold

    t = hex_threshold(ratio)
    return f"""
    WITH RECURSIVE {_jaccard_pairs_ctes(threshold, n)},
    edges AS MATERIALIZED (
      SELECT a, b FROM jpairs UNION SELECT b, a FROM jpairs
    ),
    reach AS (
      SELECT a AS id, b AS r FROM edges
      UNION
      SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
    ),
    comp AS (
      SELECT id AS doc_id, min(r) AS component
      FROM (SELECT id, r FROM reach UNION SELECT a AS id, a AS r FROM edges)
      GROUP BY id
    )
    SELECT d.doc_id,
           CASE WHEN substr(md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR)
                    || ':{seed}:lsplit'), 1, 8) < '{t}'
                THEN 'train' ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    """


# --- SimHash (md5 hash mode) -----------------------------------------------

_HEX = "0123456789abcdef"


def _simhash_sig_cte(bits: int = 64) -> str:
    """CTEs computing per-doc SimHash sign bits t0..t63 under the md5
    hash mode: token bit i = bit (i%4) of hex digit (i//4) of
    md5(token); signature bit = sign of the +/-1 vote sum."""
    digits = ", ".join(
        f"strpos('{_HEX}', substring(m, {j + 1}, 1)) - 1 AS d{j}"
        for j in range(bits // 4)
    )
    sums = ", ".join(
        f"sum(CASE WHEN (d{i // 4} >> {i % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig_bits = ", ".join(
        f"CASE WHEN b{i} > 0 THEN 1 ELSE 0 END AS t{i}" for i in range(bits)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ),
    h AS (SELECT doc_id, md5(tok) AS m FROM tok),
    d AS (SELECT doc_id, {digits} FROM h),
    s AS (SELECT doc_id, {sums} FROM d GROUP BY doc_id),
    g AS (SELECT doc_id, {sig_bits} FROM s)
    """


def simhash_signatures_sql(bits: int = 64, chunk: int = 16) -> str:
    """Replay of dedup.simhash_signatures(hash_mode='md5'): packed hex
    signature, ``chunk`` bits per hex group, MSB-first within a group."""
    parts = []
    for c in range(bits // chunk):
        horner = _horner([f"t{c * chunk + t}" for t in range(chunk)])
        parts.append(f"lpad(lower(hex({horner})), {chunk // 4}, '0')")
    return (
        _simhash_sig_cte(bits)
        + f"SELECT doc_id, {' || '.join(parts)} AS simhash FROM g"
    )


def simhash_near_dups_sql(
    bands: int = 4, max_hamming: int = 10, bits: int = 64
) -> str:
    """Replay of dedup.simhash_candidates(hash_mode='md5'): pairs
    sharing any ``bits/bands``-bit chunk code, exact Hamming distance."""
    chunk = bits // bands
    chunk_cols = ", ".join(
        f"{_horner([f't{c * chunk + t}' for t in range(chunk)])} AS c{c}"
        for c in range(bands)
    )
    on = " OR ".join(f"x.c{c} = y.c{c}" for c in range(bands))
    ham = " + ".join(
        f"(CASE WHEN x.t{i} <> y.t{i} THEN 1 ELSE 0 END)" for i in range(bits)
    )
    return (
        _simhash_sig_cte(bits)
        + f""",
    coded AS (SELECT *, {chunk_cols} FROM g)
    SELECT x.doc_id AS a, y.doc_id AS b, CAST({ham} AS BIGINT) AS hamming
    FROM coded x JOIN coded y ON x.doc_id < y.doc_id AND ({on})
    WHERE {ham} <= {max_hamming}
    """
    )


def winnow_fingerprints_sql(k: int = 8, w: int = 4) -> str:
    """Replay of text.winnow_fingerprints(hash_mode='md5'): md5 char
    k-gram hashes, window-of-w minima (lexicographic on hex), distinct
    selected fingerprints per doc."""
    return f"""
    WITH t AS (SELECT doc_id, {_NORM_TXT} AS txt FROM documents),
    grams AS (
      SELECT doc_id, i, md5(substring(txt, i, {k})) AS h,
             greatest(length(txt) - {k}, 0) + 1 AS n_grams
      FROM t, LATERAL unnest(generate_series(1, greatest(length(txt) - {k}, 0) + 1))
               AS u(i)
    ),
    wmin AS (
      SELECT doc_id, i, n_grams,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS wm
      FROM grams
    )
    SELECT DISTINCT doc_id, wm AS fingerprint
    FROM wmin
    WHERE i <= greatest(n_grams - {w}, 0) + 1
    """


def mixture_sample_sql(
    rates: dict[str, float],
    strata_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
    table: str = "documents",
) -> str:
    """Replay of operators.scale.mixture_sample: identical md5 coin and
    8-hex thresholds (shared via split.hex_threshold) in DuckDB."""
    from promi_spark.operators.split import hex_threshold

    cases = " ".join(
        f"WHEN '{s}' THEN '{hex_threshold(r)}'" for s, r in sorted(rates.items())
    )
    thresh = f"CASE {strata_col} {cases} ELSE '{hex_threshold(default_rate)}' END"
    coin = f"substr(md5(CAST({key_col} AS VARCHAR) || ':{seed}:mix'), 1, 8)"
    return f"SELECT * FROM {table} WHERE {coin} < {thresh}"


def cross_doc_substrings_sql(k: int = 8, w: int = 4, min_docs: int = 2) -> str:
    """Replay of text.cross_doc_substrings(hash_mode='md5'): winnowing
    fingerprints (shared CTE with winnow_fingerprints_sql), per-
    fingerprint doc count via window, per-doc shared-fraction rollup."""
    shared = f"CASE WHEN n_docs >= {min_docs} THEN 1 ELSE 0 END"
    return f"""
    WITH fps AS ({winnow_fingerprints_sql(k, w)}),
    cnt AS (
      SELECT doc_id, count(*) OVER (PARTITION BY fingerprint) AS n_docs
      FROM fps
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_fingerprints,
           CAST(sum({shared}) AS BIGINT) AS n_shared,
           ROUND(sum({shared})::DOUBLE / count(*), 4) AS shared_frac
    FROM cnt
    GROUP BY doc_id
    """


# Raw whitespace tokens (no case-folding) — operators.text.tokens.
_RAW_TOKS = r"string_split_regex(trim(text), '\s+')"


def _gram_list(n: int, toks: str = "toks", distinct: bool = False) -> str:
    """DuckDB word-n-gram list over a token-list column; empty list when
    the document is shorter than ``n`` tokens."""
    gram = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    inner = f"list_transform(range(1, len({toks}) - {n - 2}), i -> {gram})"
    if distinct:
        inner = f"list_distinct({inner})"
    return (
        f"CASE WHEN len({toks}) < {n} THEN []::VARCHAR[] ELSE {inner} END"
    )


def repetition_stats_sql() -> str:
    """Oracle for operators.text.repetition_stats: duplicate-2/3-gram
    fractions as pure list expressions; top-2-gram share via
    unnest+group."""
    return f"""
    WITH t AS (SELECT doc_id, {_RAW_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id, len(toks) AS n_tokens,
             {_gram_list(2)} AS g2,
             {_gram_list(3)} AS g3
      FROM t
    ),
    top AS (
      SELECT doc_id, max(c) AS top_c FROM (
        SELECT doc_id, gram, count(*) AS c
        FROM (SELECT doc_id, unnest(g2) AS gram FROM g)
        GROUP BY doc_id, gram
      ) GROUP BY doc_id
    )
    SELECT g.doc_id, g.n_tokens,
           round(CASE WHEN len(g2) = 0 THEN 0.0
                      ELSE 1.0 - len(list_distinct(g2)) / len(g2) END, 4)
             AS dup_2gram_frac,
           round(CASE WHEN len(g3) = 0 THEN 0.0
                      ELSE 1.0 - len(list_distinct(g3)) / len(g3) END, 4)
             AS dup_3gram_frac,
           coalesce(top.top_c, 0) AS top_2gram_count,
           round(CASE WHEN g.n_tokens = 0 THEN 0.0
                      ELSE coalesce(top.top_c, 0) * 2.0 / g.n_tokens END, 4)
             AS top_2gram_token_frac
    FROM g LEFT JOIN top ON g.doc_id = top.doc_id
    """


def ngram_overlap_sql(n: int = 5, min_shared: int = 1, modulus: int = 10) -> str:
    """Oracle for operators.text.ngram_overlap with the benchmark being
    every ``doc_id % modulus == 0`` document (the query uses the same
    deterministic split)."""
    return f"""
    WITH t AS (SELECT doc_id, {_RAW_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, {_gram_list(n, distinct=True)} AS grams FROM t),
    train AS (SELECT * FROM g WHERE doc_id % {modulus} <> 0),
    bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g
           WHERE doc_id % {modulus} = 0),
    shared AS (
      SELECT tr.doc_id, count(*) AS n_shared
      FROM (SELECT doc_id, unnest(grams) AS gram FROM train) tr
      JOIN bg USING (gram) GROUP BY tr.doc_id
    )
    SELECT train.doc_id, len(train.grams) AS n_grams,
           coalesce(s.n_shared, 0) AS n_shared,
           round(CASE WHEN len(train.grams) = 0 THEN 0.0
                      ELSE coalesce(s.n_shared, 0) / len(train.grams) END, 4)
             AS containment,
           coalesce(s.n_shared, 0) >= {min_shared} AS contaminated
    FROM train LEFT JOIN shared s ON train.doc_id = s.doc_id
    """


def corpus_shuffle_sql(n_shards: int, seed: int = 0) -> str:
    """Oracle for operators.scale.corpus_shuffle over ``documents``:
    identical md5 shard + md5 position-coin rank (salt 'pos'),
    key-tiebroken, 0-based within shard."""
    shard = (
        f"('0x' || substr(md5(doc_id || ':{seed}'), 1, 8))::BIGINT"
        f" % {n_shards}"
    )
    return f"""
    SELECT doc_id,
           {shard} AS shard,
           CAST(row_number() OVER (
             PARTITION BY {shard}
             ORDER BY substr(md5(doc_id || ':{seed}:pos'), 1, 8), doc_id
           ) - 1 AS INT) AS pos
    FROM documents
    """


def shard_assignment_sql(n_shards: int, seed: int = 0) -> str:
    """Oracle for operators.scale.shard_id over ``documents``: identical
    md5-prefix integer mod ``n_shards`` in DuckDB."""
    return f"""
    SELECT doc_id,
           ('0x' || substr(md5(doc_id || ':{seed}'), 1, 8))::BIGINT
             % {n_shards} AS shard
    FROM documents
    """


def temperature_mixture_sql(
    alpha: float,
    source_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
    table: str = "documents",
) -> str:
    """Replay of operators.scale.temperature_mixture: exact integer
    token sums per source, the same ``(n_i / n_ref)^(alpha-1)`` rate
    (ratio of integers — both engines feed pow the identical double;
    9-digit round collapses any last-ulp pow divergence), the same
    8-hex threshold conversion (``'g'`` for rate >= 1, matching
    split.hex_threshold), and the same md5 coin with salt 'tmix'.

    Mirrors the engine's edge contracts exactly: ``nt`` is CAST to
    BIGINT (DuckDB's integer SUM is HUGEINT → decimal128 through Arrow,
    which hash-mismatches Spark's bigint — the r9 red row), the pow
    reference is taken over token-bearing sources only with zero-token
    sources pinned to rate 1, and the join back to the corpus is
    null-safe (``IS NOT DISTINCT FROM``) so a NULL source stratum is
    sampled by its own computed rate instead of being dropped."""
    ref = "min" if alpha <= 1 else "max"
    ntok = (
        r"CASE WHEN len(trim(text)) = 0 THEN 0 "
        r"ELSE len(string_split_regex(trim(text), '\s+')) END"
    )
    return f"""
    WITH per AS (
      SELECT {source_col} AS src, CAST(SUM({ntok}) AS BIGINT) AS nt
      FROM {table} GROUP BY 1
    ),
    thr AS (
      SELECT src,
             CASE WHEN r >= 1.0 THEN 'g'
                  ELSE lpad(lower(to_hex(
                         CAST(floor(r * 4294967296.0) AS BIGINT))), 8, '0')
             END AS t
      FROM (
        SELECT src,
               CASE WHEN nt = 0 THEN CAST(1.0 AS DOUBLE)
                    ELSE round(pow(nt / CAST({ref}(CASE WHEN nt > 0 THEN nt END)
                                              OVER () AS DOUBLE),
                               {alpha!r} - 1.0), 9)
               END AS r
        FROM per
      )
    )
    SELECT d.{key_col}, d.{source_col}
    FROM {table} d JOIN thr ON d.{source_col} IS NOT DISTINCT FROM thr.src
    WHERE substr(md5(CAST(d.{key_col} AS VARCHAR) || ':{seed}:tmix'), 1, 8)
          < thr.t
    """


def temperature_rates_sql(
    alpha: float,
    source_col: str = "source",
    table: str = "documents",
) -> str:
    """Replay of operators.scale.temperature_rates: the rate table the
    alpha-temperature sampler executes (same exact-integer pow input
    and 9-digit round as temperature_mixture_sql). ``nt`` is CAST to
    BIGINT — DuckDB's integer SUM is HUGEINT, which surfaces through
    Arrow as decimal128(38,0) and hash-mismatches Spark's bigint (the
    r9 red driver row). The pow reference is the min/max over
    token-BEARING sources only, with zero-token sources pinned to
    rate 1 — matching operators.scale.temperature_rates."""
    ref = "min" if alpha <= 1 else "max"
    ntok = (
        r"CASE WHEN len(trim(text)) = 0 THEN 0 "
        r"ELSE len(string_split_regex(trim(text), '\s+')) END"
    )
    return f"""
    SELECT src AS source,
           nt AS n_tokens,
           CASE WHEN nt = 0 THEN CAST(1.0 AS DOUBLE)
                ELSE round(pow(nt / CAST({ref}(CASE WHEN nt > 0 THEN nt END)
                                          OVER () AS DOUBLE),
                           {alpha!r} - 1.0), 9)
           END AS rate
    FROM (
      SELECT {source_col} AS src, CAST(SUM({ntok}) AS BIGINT) AS nt
      FROM {table} GROUP BY 1
    )
    """
