"""Relation lifetime (``promi_spark.lifetime``): a scope frees every
relation the operators inside it persisted or checkpointed."""

import contextvars
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
import yaml
from pyspark import StorageLevel

from promi_spark.lifetime import persist, scope

EXAMPLES = os.path.join(os.path.dirname(__file__), "..", "examples")


@pytest.fixture
def storage(spark, pinned_rdds):
    """A function returning what the session holds: pinned RDD ids, RDDs
    with stored blocks, and the number of cache-manager entries."""
    sc = spark.sparkContext._jsc.sc()
    cache = spark._jsparkSession.sharedState().cacheManager()

    def state() -> tuple:
        stored = {info.id() for info in sc.getRDDStorageInfo()}
        return pinned_rdds(), stored, cache.cachedData().size()

    return state


def test_every_query_releases_inside_scope(spark, sf_dir, storage):
    """Every registered query, run and consumed inside a scope, leaves
    the session's storage exactly as it found it."""
    from promi_spark.queries import QUERIES

    leaky = {}
    for name, (fn, _) in QUERIES.items():
        before = storage()
        with scope():
            fn(spark, sf_dir).count()
        after = storage()
        if after != before:
            leaky[name] = (before, after)
    assert not leaky, sorted(leaky)


@pytest.mark.parametrize(
    "name", sorted(f for f in os.listdir(EXAMPLES) if f.endswith(".yml"))
)
def test_example_flow_releases_storage(spark, sf_dir, tmp_path, storage, name):
    """Every shipped example flow, its output paths moved into the test
    directory, leaves the session's storage as it found it."""
    from pyspark.sql import functions as F

    from promi_spark.io import load_table
    from promi_spark.operators.bloom import write_bench_bloom
    from promi_spark.plans import execute

    with open(os.path.join(EXAMPLES, name)) as fh:
        flow = yaml.safe_load(fh)
    for i, pipe in enumerate(flow["pipes"]):
        for seg in pipe.get("streams", []):
            if seg["name"] == "BloomDecontaminate":
                idx = str(tmp_path / "bench_bloom")
                docs = load_table(spark, "documents", sf_dir)
                write_bench_bloom(docs.filter(F.col("doc_id") % 7 == 0), idx, n=5)
                seg["attributes"]["index_path"] = idx
        attrs = (pipe.get("sink") or {}).get("attributes") or {}
        if "path" in attrs:
            attrs["path"] = str(tmp_path / f"out{i}")
    before = storage()
    execute(spark, flow)
    assert storage() == before


def test_leftover_stream_after_transitive_dedup_stays_readable(spark, sf_dir):
    """A stream channel the flow returns reads the component labels'
    checkpoint: the run's scope must not free it."""
    from pyspark.sql import functions as F

    from promi_spark.io import load_table
    from promi_spark.operators.dedup import dedup_components, minhash_dedup
    from promi_spark.plans import execute

    flow = {
        "pipes": [{
            "name": "Clean",
            "source": {"name": "DocumentsTable",
                       "attributes": {"sf_dir": sf_dir}},
            "streams": [{"name": "NearDupDedup",
                         "attributes": {"threshold": 0.7,
                                        "transitive": True}}],
            "sink": {"name": "Sender", "stream_sender": ["deduped"]},
        }]
    }
    res = execute(spark, flow)
    docs = load_table(spark, "documents", sf_dir)
    with scope():
        comp = dedup_components(minhash_dedup(docs, threshold=0.7))
        drop = comp.filter(F.col("doc_id") != F.col("component"))
        want = docs.join(drop.select("doc_id"), "doc_id", "left_anti").count()
    assert res.streams["deduped"].count() == want < docs.count()


def test_scope_registration_from_threads(spark):
    """Pipes of one flow generation persist from pool threads that run
    in a copy of the opener's context: no registration may be lost."""
    frames = [spark.range(i + 1).selectExpr(f"id * {i} AS x") for i in range(24)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with scope() as s:
            with ThreadPoolExecutor(max_workers=16) as pool:
                futures = [
                    pool.submit(contextvars.copy_context().run, persist, f)
                    for f in frames
                ]
                for f in futures:
                    f.result(timeout=120)
            assert len(s._persisted) == len(frames)
            assert all(f.storageLevel != StorageLevel.NONE for f in frames)
    finally:
        sys.setswitchinterval(old)
    assert all(f.storageLevel == StorageLevel.NONE for f in frames)


def test_nested_scope_joins_the_outer_one(spark):
    """A scope opened inside another frees nothing on its own exit."""
    with scope() as outer:
        with scope() as inner:
            df = persist(spark.range(5).selectExpr("id + 1 AS y"))
        assert inner is outer
        assert df.storageLevel != StorageLevel.NONE
    assert df.storageLevel == StorageLevel.NONE


def test_failed_release_frees_the_rest_and_keeps_the_body_error(spark):
    """One release that fails on exit does not leak the other relations,
    and it never replaces an error the body raised."""

    def boom(*_):
        raise RuntimeError("release failed")

    for body_error in (ValueError, None):
        with pytest.raises(body_error or RuntimeError):
            with scope():
                a = persist(spark.range(3).selectExpr("id * 7 AS a"))
                bad = persist(spark.range(3).selectExpr("id * 11 AS b"))
                c = persist(spark.range(3).selectExpr("id * 13 AS c"))
                bad.unpersist = boom
                if body_error:
                    raise body_error("body failed")
        assert a.storageLevel == StorageLevel.NONE
        assert c.storageLevel == StorageLevel.NONE
        del bad.unpersist
        bad.unpersist()
