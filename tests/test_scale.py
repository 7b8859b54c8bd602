"""Scale-machinery tests: bucketed joins eliding exchanges
(plan-verified)."""

import re

import pytest
from pyspark.sql import functions as F


def explain(df) -> str:
    je = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return je.explainString(mode.fromString("formatted"))


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    from promi_spark.operators.scale import write_bucketed

    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{wh}'")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "okey"), "bkt.li_b", "okey", 8,
        sort_by=["okey"],
    )
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "okey"), "bkt.orders_b", "okey", 8,
        sort_by=["okey"],
    )
    yield "bkt.li_b", "bkt.orders_b"
    spark.sql("DROP TABLE IF EXISTS bkt.li_b")
    spark.sql("DROP TABLE IF EXISTS bkt.orders_b")
    spark.sql("DROP DATABASE IF EXISTS bkt")


def test_bucketed_join_elides_exchanges(spark, bucketed_tables):
    from promi_spark.operators.scale import bucketed_join

    lt, rt = bucketed_tables
    # disable broadcast so the join strategy decision is bucket-driven
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, lt, rt, "okey")
        plan = explain(joined)
        assert "SortMergeJoin" in plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0
        # and it actually computes the right thing
        li_rows = spark.table(lt).count()
        assert joined.count() == li_rows  # every lineitem has its order
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_bucketed_agg_elides_exchange(spark, bucketed_tables):
    lt, _ = bucketed_tables
    agg = spark.table(lt).groupBy("okey").agg(F.sum("l_quantity").alias("q"))
    plan = explain(agg)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0


def test_write_shards_one_file_per_shard(spark, tmp_path):
    """Every row lands in its stable shard; repartition-on-shard means
    one parquet file per shard directory."""
    import glob as g

    from promi_spark.io import load_table
    from promi_spark.operators.scale import shard_id, write_shards

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    p = str(tmp_path / "shards")
    write_shards(docs, p, key="doc_id", n_shards=8)
    back = spark.read.parquet(p)
    assert back.count() == docs.count()
    # stability: re-derived assignment matches the persisted one
    from pyspark.sql import functions as F

    rederived = docs.select(
        "doc_id", shard_id(F.col("doc_id"), 8).alias("expect")
    )
    joined = back.join(rederived, "doc_id")
    assert joined.filter(F.col("shard") != F.col("expect")).count() == 0
    for d in g.glob(f"{p}/shard=*"):
        assert len(g.glob(f"{d}/*.parquet")) == 1


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """Many tiny files -> one scan-sized file, rows intact; the
    reduction path is a narrow coalesce (no shuffle)."""
    import glob

    from promi_spark.operators.scale import compact_parquet

    src = str(tmp_path / "small")
    spark.range(10000).withColumnRenamed("id", "v").repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 64

    dst = str(tmp_path / "compact")
    stats = compact_parquet(spark, src, dst, target_file_mb=512)
    assert stats["input_files"] >= 64
    assert stats["output_files"] == 1
    assert len(glob.glob(f"{dst}/part-*.parquet")) == 1
    assert spark.read.parquet(dst).count() == 10000
    # byte accounting is real filesystem data, not an estimate
    assert stats["input_bytes"] > 0


def test_zorder_value_matches_reference(spark):
    from promi_spark.operators.scale import zorder_value

    rows = [(i, (i * 37) % 1000, (i * 91) % 1000) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {r["id"]: r["z"] for r in df.select(
        "id", zorder_value([F.col("x"), F.col("y")], bits=10).alias("z")
    ).collect()}

    def morton(x, y, bits=10):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for i, x, y in rows:
        assert got[i] == morton(x, y)


def test_write_zordered_layout(spark, tmp_path):
    """Files carry disjoint z ranges (range partitioning survives the
    write) and each file covers a tight slice of BOTH dimensions —
    the property row-group min/max skipping relies on."""
    import glob

    from promi_spark.operators.scale import write_zordered, zorder_value

    n = 4096
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") * 7) % 64).alias("y"),
    )
    out = str(tmp_path / "z")
    write_zordered(df, out, [F.col("x"), F.col("y")], bits=6, n_files=8)
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) >= 4
    spans, xr, yr = [], [], []
    for f in files:
        part = spark.read.parquet(f).withColumn(
            "z", zorder_value([F.col("x"), F.col("y")], bits=6)
        )
        row = part.agg(
            F.min("z"), F.max("z"), F.min("x"), F.max("x"),
            F.min("y"), F.max("y"),
        ).first()
        spans.append((row[0], row[1]))
        xr.append(row[3] - row[2])
        yr.append(row[5] - row[4])
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint z ranges across files
    # locality: average per-file spread well under the global 0..63
    assert sum(xr) / len(xr) < 48 and sum(yr) / len(yr) < 48


def test_zorder_value_rejects_overflowing_bit_budget(spark):
    """bits * len(cols) > 63 would shift high bits past the signed-long
    width and silently sign-flip the curve value — must raise instead."""
    import pytest

    from promi_spark.operators.scale import zorder_value

    cols = [F.col(c) for c in ("a", "b", "c", "d")]
    with pytest.raises(ValueError, match="63"):
        zorder_value(cols, bits=16)  # 64 bits > 63
    # 60 bits across 4 columns is fine
    zorder_value(cols, bits=15)


def test_global_ntile_matches_window_ntile(spark):
    """global_ntile (distributed rank via range repartition + encoded
    offsets) must be bit-identical to SQL ntile over the same total
    order — including ties on the value column, NULLs ordered last,
    n % k != 0 bucket sizing, and the n < k degenerate case."""
    from pyspark.sql import Window

    from promi_spark.lifetime import scope
    from promi_spark.operators.scale import global_ntile

    rows = [(i, None if i % 17 == 0 else float(i % 23)) for i in range(501)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(13)
    order = [F.asc_nulls_last("v"), F.col("id")]
    for k in (4, 7, 10):
        want = df.withColumn("b", F.ntile(k).over(Window.orderBy(*order)))
        with scope():
            got = global_ntile(df, k, order, "b")
            assert sorted(map(tuple, got.select("id", "b").collect())) == sorted(
                map(tuple, want.select("id", "b").collect())
            ), f"k={k}"
    # n < k: bucket == rank
    tiny = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    with scope():
        got = global_ntile(tiny, 5, [F.col("v"), F.col("id")], "b")
        assert sorted(map(tuple, got.select("id", "b").collect())) == [(1, 1), (2, 2)]


def test_global_ntile_no_single_partition_window(spark):
    """The plan must contain no unpartitioned Window (the shape
    global_ntile exists to avoid) and exactly one data exchange (the
    range repartition)."""
    from promi_spark.lifetime import scope
    from promi_spark.operators.scale import global_ntile

    df = spark.range(1000).withColumn("v", F.col("id") % 7)
    with scope():
        out = global_ntile(df, 4, [F.col("v"), F.col("id")], "b")
        plan = explain(out)
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    # The output plan reads the checkpointed layout (ExistingRDD); the
    # distributed shape lives in the pre-checkpoint stage exposed as
    # rank_plan — range repartition, never a single-partition move.
    pre = explain(out.rank_plan)
    assert "rangepartitioning" in pre
    assert "SinglePartition" not in pre


def test_global_ntile_survives_cache_clear(spark):
    """Regression for the r7 sf1 soak flake: the harness calls
    ``spark.catalog.clearCache()`` between query construction and the
    final collect. Under the old ``persist()`` design that evicted the
    ranked relation, the range exchange re-sampled bounds with a fresh
    seed on recompute, and the frozen offsets map silently corrupted
    ranks. ``localCheckpoint`` cuts the lineage so the pinned layout
    cannot be recomputed — buckets must be identical after a clear."""
    from pyspark.sql import Window

    from promi_spark.lifetime import scope
    from promi_spark.operators.scale import global_ntile

    rows = [(i, float((i * 37) % 101)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(16)
    order = [F.col("v"), F.col("id")]
    with scope():
        out = global_ntile(df, 4, order, "b")
        spark.catalog.clearCache()
        got = sorted(map(tuple, out.select("id", "b").collect()))
    want = sorted(
        map(
            tuple,
            df.withColumn("b", F.ntile(4).over(Window.orderBy(*order)))
            .select("id", "b")
            .collect(),
        )
    )
    assert got == want


def test_corpus_shuffle_is_deterministic_permutation(spark):
    """corpus_shuffle must emit a valid permutation (pos dense 0..n-1
    per shard), be bit-identical across partition layouts (the
    100 TB reproducibility contract), actually reorder away from key
    order, and vary with the seed."""
    from promi_spark.operators.scale import corpus_shuffle

    df = spark.range(3000).select(F.col("id").alias("doc_id"))
    out = corpus_shuffle(df, n_shards=8, key_col="doc_id", seed=0)
    rows = sorted(map(tuple, out.collect()))
    assert len(rows) == 3000
    # dense 0-based positions per shard
    by_shard: dict[int, list[int]] = {}
    for _, shard, pos in rows:
        by_shard.setdefault(shard, []).append(pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps))), f"shard {shard}"
    # partition-layout invariance
    rows2 = sorted(
        map(tuple, corpus_shuffle(df.repartition(17), 8, "doc_id", 0).collect())
    )
    assert rows == rows2
    # the permutation is a real shuffle: within a shard, position
    # order must not follow key order
    for shard, _ in list(by_shard.items())[:1]:
        keys_by_pos = [
            k for k, s, p in sorted(rows, key=lambda r: r[2]) if s == shard
        ]
        assert keys_by_pos != sorted(keys_by_pos)
    # seed changes the permutation
    rows3 = sorted(map(tuple, corpus_shuffle(df, 8, "doc_id", seed=1).collect()))
    assert rows != rows3


def test_corpus_shuffle_plan_is_shard_partitioned(spark):
    """The rank window must be partitioned by shard — one exchange,
    never a global single-partition sort."""
    from promi_spark.operators.scale import corpus_shuffle

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    plan = explain(corpus_shuffle(df, n_shards=8))
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_global_ntile_release_frees_checkpoint_blocks(spark, pinned_rdds):
    """r7 advice: every global_ntile call eagerly pins its ranked
    relation and DataFrame.unpersist() is a no-op on a localCheckpoint
    handle — the scope must free the checkpoint's internal-RDD blocks
    when it exits, after the caller is done with the result."""
    from promi_spark.lifetime import scope
    from promi_spark.operators.scale import global_ntile

    df = spark.range(5000).withColumn(
        "v", F.pmod(F.col("id") * 37, F.lit(500))
    )
    before = pinned_rdds()
    with scope():
        out = global_ntile(df, 8, [F.col("v"), F.col("id")], "b")
        assert len(pinned_rdds() - before) == 1  # checkpoint pinned
        assert out.count() == 5000  # fully consume first
    leftover = pinned_rdds() - before
    assert not leftover, f"checkpoint blocks survived release: {leftover}"


def test_checkpoint_ids_read_off_the_plan_not_a_global_diff(spark, pinned_rdds):
    """r8 advice: checkpoint ownership used to be attributed by diffing
    getPersistentRDDs before/after — any RDD persisted CONCURRENTLY in
    that window was claimed by this call, and the release would then
    unpersist an unrelated cache. The id now comes directly off the
    checkpointed DataFrame's own LogicalRDD: an unrelated persist
    landing between the checkpoint and the read is never claimed, and
    the scope's release leaves it untouched."""
    from promi_spark.lifetime import _checkpoint_rdd_id, release, scope
    from promi_spark.operators.scale import global_ntile

    d = (
        spark.range(500)
        .withColumn("v", F.pmod(F.col("id") * 7, F.lit(50)))
        .localCheckpoint(eager=True)
    )
    # an unrelated relation persisted AFTER the checkpoint — the old
    # set-diff (taken around this point by a concurrent thread) would
    # have swallowed it; the plan read must not
    bystander = spark.range(100).persist()
    bystander.count()
    rid = _checkpoint_rdd_id(d)
    assert rid is not None
    byst_ids = pinned_rdds() - {rid}
    assert byst_ids, "bystander cache should be pinned"
    assert rid not in byst_ids
    release(d)

    # end-to-end: a scope exiting with a bystander persisted mid-flight
    # frees ONLY its own checkpoint blocks
    before = pinned_rdds()
    with scope():
        out = global_ntile(
            spark.range(3000).withColumn("v", F.pmod(F.col("id") * 13, F.lit(97))),
            6,
            [F.col("v"), F.col("id")],
            "b",
        )
        assert len(pinned_rdds() - before) == 1
        assert out.count() == 3000
    after = pinned_rdds()
    assert after == before
    assert byst_ids <= after, "release must not touch unrelated caches"
    bystander.unpersist()


def test_temperature_mixture_matches_duckdb(spark, duck, sf_dir):
    """Cross-engine witness for the alpha-temperature sampler at both
    normalizer branches (alpha < 1 -> min-source reference, alpha > 1
    -> max-source reference)."""
    from promi_spark.io import load_table
    from promi_spark.operators.scale import temperature_mixture
    from promi_spark.oracles import temperature_mixture_sql

    docs = load_table(spark, "documents", sf_dir)
    for alpha in (0.3, 2.0):
        got = sorted(
            (r["doc_id"], r["source"])
            for r in temperature_mixture(docs, alpha=alpha)
            .select("doc_id", "source")
            .collect()
        )
        want = sorted(duck.execute(temperature_mixture_sql(alpha)).fetchall())
        assert got == want, f"alpha={alpha}"
        assert 0 < len(got) < docs.count()


def test_temperature_mixture_semantics(spark, sf_dir):
    """alpha=1 is the identity; raising alpha (toward 1 from below)
    only ADDS rows per source (superset chain, same md5-coin contract
    as Split/Sample/mixture_sample); the sampled mix is FLATTER than
    the natural mix (the whole point of temperature sampling)."""
    from promi_spark.io import load_table
    from promi_spark.operators.scale import temperature_mixture
    from promi_spark.operators.text import token_count

    docs = load_table(spark, "documents", sf_dir)
    n = docs.count()
    assert temperature_mixture(docs, alpha=1.0).count() == n

    keep_03 = {r["doc_id"] for r in temperature_mixture(docs, 0.3).collect()}
    keep_07 = {r["doc_id"] for r in temperature_mixture(docs, 0.7).collect()}
    assert keep_03 <= keep_07

    def max_share(df):
        per = (
            df.groupBy("source")
            .agg(F.sum(token_count(F.col("text"))).alias("nt"))
            .collect()
        )
        tot = sum(r["nt"] for r in per)
        return max(r["nt"] for r in per) / tot

    assert max_share(temperature_mixture(docs, 0.3)) < max_share(docs)


def test_temperature_zero_token_and_null_source(spark):
    """r9 advice regressions. (a) A source whose every doc is
    empty/whitespace used to BE the min reference for alpha <= 1,
    making every rate pow(x/0, negative) -> null and silently dropping
    the ENTIRE corpus; the reference must come from token-bearing
    sources only and the zero-token source is pinned to rate 1.
    (b) Rows with a NULL source used to be dropped by the inner
    equi-join even at alpha = 1, breaking the identity contract; NULL
    is a stratum of its own (null-safe join). Both edge semantics are
    cross-checked against the DuckDB oracle on the same corpus."""
    import duckdb
    import pandas as pd

    from promi_spark.operators.scale import (
        temperature_mixture,
        temperature_rates,
    )
    from promi_spark.oracles import temperature_mixture_sql

    rows = (
        [(f"a{i}", "A", "w " * 40) for i in range(30)]
        + [(f"b{i}", "B", "w w w") for i in range(30)]
        + [(f"z{i}", "Z", "   ") for i in range(10)]
        + [(f"n{i}", None, "w w") for i in range(10)]
    )
    docs = spark.createDataFrame(rows, "doc_id string, source string, text string")

    rates = {r["source"]: r["rate"] for r in temperature_rates(docs, 0.5).collect()}
    assert rates["Z"] == 1.0  # pinned, not NaN/0
    # min token-BEARING source is the reference — here the NULL stratum
    # (20 tokens), which gets a real rate instead of being dropped
    assert rates[None] == 1.0
    assert 0 < rates["B"] < 1.0
    assert 0 < rates["A"] < rates["B"]

    # alpha = 1 identity: nothing dropped, null-source rows included
    assert temperature_mixture(docs, 1.0).count() == len(rows)

    # alpha < 1 keeps every zero-token doc and every reference-source doc
    kept = temperature_mixture(docs, 0.5)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert {f"z{i}" for i in range(10)} <= kept_ids
    assert {f"n{i}" for i in range(10)} <= kept_ids
    assert kept.count() < len(rows)  # A/B are downsampled

    # the oracle mirrors both edge contracts exactly
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "source", "text"]),
    )
    key = lambda t: (t[0], t[1] is None, t[1] or "")  # noqa: E731
    want = sorted(
        ((d, s) for d, s in con.execute(temperature_mixture_sql(0.5)).fetchall()),
        key=key,
    )
    got = sorted(
        (
            (r["doc_id"], r["source"])
            for r in kept.select("doc_id", "source").collect()
        ),
        key=key,
    )
    assert got == want
    con.close()


def test_temperature_mixture_plan_is_narrow(spark, sf_dir):
    """One tiny per-source aggregate broadcast back; the corpus itself
    is filtered narrowly — no corpus-sized exchange, no Python."""
    from promi_spark.io import load_table
    from promi_spark.operators.scale import temperature_mixture

    docs = load_table(spark, "documents", sf_dir)
    plan = explain(temperature_mixture(docs, alpha=0.3))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the only exchanges belong to the |sources|-row aggregate side:
    # one for the groupBy(source), one SinglePartition for the window
    # over the |sources|-row result; the corpus side never exchanges
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
