"""Property tests pinning the r6 scale-path rewrites to their
reference semantics: the blocked numpy cosine kernel vs the expression
plan, and large-star/small-star connected components vs a driver-side
union-find model. Each Spark round-trip is expensive, so the example
counts are small but the strategies are collision-heavy (tiny id/value
spaces) to hit ties, duplicate similarities, multi-block splits, and
multi-component graphs."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# low-dim vectors from a tiny value grid: plenty of exact ties,
# parallel vectors (cosine exactly 1.0), and rounding-boundary sims
vec = st.lists(
    st.sampled_from([-2.0, -1.0, -0.5, 0.5, 1.0, 2.0]), min_size=3, max_size=3
)
vec_rows = st.lists(vec, min_size=2, max_size=10)

edge = st.tuples(st.integers(0, 12), st.integers(0, 12))
edge_rows = st.lists(edge, min_size=1, max_size=15)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(rows=vec_rows, threshold=st.sampled_from([-0.5, 0.0, 0.5, 1.0]))
def test_blocked_cosine_kernel_matches_expression_plan(spark, rows, threshold):
    """blocked (forced multi-block via block_size=2) == expression
    variant, exact float equality — any divergence in fold order,
    rounding replay, pair orientation, or within/cross-block pair
    enumeration shows up here."""
    from promi_spark.operators.similarity import cosine_near_dups

    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rows)],
        "vec_id long, embedding array<double>",
    )
    blocked = {
        (r["a"], r["b"]): r["cosine_sim"]
        for r in cosine_near_dups(df, threshold=threshold, block_size=2).collect()
    }
    expr = {
        (r["a"], r["b"]): r["cosine_sim"]
        for r in cosine_near_dups(
            df, threshold=threshold, block_size=None
        ).collect()
    }
    assert blocked == expr


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min reachable node
    return {n: find(n) for n in parent}


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(edges=edge_rows)
def test_stars_components_match_union_find_model(spark, edges):
    """dedup_components == a driver-side union-find on the same
    edge list (component = min reachable id; self-pairs carry no
    connectivity). Random small graphs hit multi-component shapes,
    cycles, repeated edges, and both edge orientations."""
    from promi_spark.lifetime import scope
    from promi_spark.operators.dedup import dedup_components

    effective = [(a, b) for a, b in edges if a != b]
    if not effective:
        return  # only self-pairs: operator contract drops them all
    model = _union_find_components(effective)
    df = spark.createDataFrame(edges, "a long, b long")
    with scope():
        out = dedup_components(df)
        got = {r["doc_id"]: r["component"] for r in out.collect()}
    assert got == model


def test_dedup_keep_best_keeps_highest_quality_member(spark):
    """Quality-aware keep-rule: per near-dup component the highest
    quality (tie: lowest key) survives; unpaired docs are untouched;
    survivors keep the input schema. Checked on a hand-built graph
    where the min-key rule and the best-quality rule disagree."""
    from pyspark.sql import functions as F

    from promi_spark.lifetime import scope
    from promi_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [
            # component {1,2,3}: doc 2 has the best quality -> keep 2
            (1, "aa", 0.2), (2, "aa x", 0.9), (3, "aa y", 0.5),
            # component {10,11}: tie on quality -> keep lower key 10
            (10, "bb", 0.7), (11, "bb z", 0.7),
            # unpaired
            (20, "cc", 0.1),
        ],
        "doc_id long, text string, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (10, 11, 1.0)],
        "a long, b long, jaccard_sim double",
    )
    with scope():
        out = dedup_keep_best(docs, pairs, "quality")
        assert out.columns == docs.columns
        assert {r["doc_id"] for r in out.collect()} == {2, 10, 20}
        # custom key column name flows through
        out2 = dedup_keep_best(
            docs.withColumnRenamed("doc_id", "k"),
            pairs, F.col("quality"), key_col="k",
        )
        assert {r["k"] for r in out2.collect()} == {2, 10, 20}


def test_dedup_keep_best_nullable_quality_nulls_last(spark):
    """NULL qualities rank LAST (desc_nulls_last pin): a null-quality
    doc never beats a scored one, and an all-null component falls back
    to the lowest key — the same order dedup_keep_best_sql's
    DESC NULLS LAST replays."""
    from promi_spark.lifetime import scope
    from promi_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [
            # component {1,2}: null vs scored -> the scored doc 2 wins
            # even though 1 is the lower key
            (1, "aa", None), (2, "aa x", 0.1),
            # component {10,11}: all-null -> lowest key 10 survives
            (10, "bb", None), (11, "bb z", None),
        ],
        "doc_id long, text string, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (10, 11, 1.0)], "a long, b long, jaccard_sim double"
    )
    with scope():
        out = dedup_keep_best(docs, pairs, "quality")
        assert {r["doc_id"] for r in out.collect()} == {2, 10}


def test_dedup_keep_best_bad_quality_fails_before_persist(spark):
    """A quality expression that cannot resolve against df raises
    BEFORE dedup_components persists the label relation — repeated
    failed flows must not accumulate cache-manager entries."""
    import pytest

    from promi_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame([(1, "aa")], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2, 1.0)], "a long, b long, jaccard_sim double"
    )
    jvm_cache = spark._jsparkSession.sharedState().cacheManager()
    before = jvm_cache.cachedData().size()
    with pytest.raises(Exception):
        dedup_keep_best(docs, pairs, "no_such_column")
    assert jvm_cache.cachedData().size() == before
