"""Bloom membership index (operators/bloom.py): classic guarantees —
zero false negatives, false-positive rate near theory — plus the
persisted-index round trip, partition invariance, and the
decontamination superset contract (bloom-flagged ⊇ exact-flagged)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from promi_spark.operators.bloom import (
    bloom_build,
    bloom_params,
    bloom_probe,
    decontaminate_bloom,
    read_bloom_index,
    write_bench_bloom,
    write_bloom_index,
)


def _vals(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("v"), F.col("id")).alias("val")
    )


def test_bloom_params_sizing():
    m, k = bloom_params(10**6, 0.01)
    # optimal m/n for p=0.01 is ~9.59 bits/item, k ~ 7
    assert 9.5 * 10**6 < m < 9.7 * 10**6 and m % 64 == 0
    assert k == 7
    assert bloom_params(0) == (64, 1)
    # k caps at 16 even for very tight rates
    assert bloom_params(1000, 1e-9)[1] == 16


def test_no_false_negatives_and_fp_near_theory(spark):
    m, k = bloom_params(5000, 0.01)
    bf = bloom_build(_vals(spark, 0, 5000), "val", m, k)
    res = bloom_probe(_vals(spark, 0, 10000), bf, "val", m, k)
    num = F.expr("CAST(substr(val, 2, 10) AS INT)")
    fn = res.filter((num < 5000) & ~F.col("maybe_member")).count()
    fp = res.filter((num >= 5000) & F.col("maybe_member")).count()
    assert fn == 0, "Bloom filters NEVER false-negative"
    # 5000 never-inserted probes at p=0.01 → ~50 FPs; allow wide margin
    assert fp < 150, f"FP rate far above theory: {fp}/5000"
    assert fp > 0, "suspiciously perfect — probe path likely broken"


def test_probe_partition_invariance(spark):
    """Same verdicts regardless of probe-side layout (xxhash64 is
    content-hashing, the aggregation is keyed by value)."""
    m, k = bloom_params(1000, 0.01)
    bf = bloom_build(_vals(spark, 0, 1000), "val", m, k)
    probe = _vals(spark, 500, 1500)
    a = {
        r["val"]: r["maybe_member"]
        for r in bloom_probe(probe.repartition(1), bf, "val", m, k).collect()
    }
    b = {
        r["val"]: r["maybe_member"]
        for r in bloom_probe(probe.repartition(13), bf, "val", m, k).collect()
    }
    assert a == b


def test_index_roundtrip(spark, tmp_path):
    path = str(tmp_path / "bloom_idx")
    meta = write_bloom_index(_vals(spark, 0, 2000), path, "val", fp_rate=0.01)
    bf, meta2 = read_bloom_index(spark, path)
    assert meta2 == meta and meta["col"] == "val"
    res = bloom_probe(
        _vals(spark, 0, 2000), bf, "val", meta["m_bits"], meta["k"]
    )
    assert res.filter(~F.col("maybe_member")).count() == 0


def _held_rdds(spark):
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_index_build_keeps_caller_cache(spark, tmp_path):
    """The sizing pass persists a relation of its own: a frame the
    caller (or another holder of a shared source frame) persisted stays
    persisted after the build."""
    from pyspark import StorageLevel

    df = _vals(spark, 0, 500).withColumn("extra", F.lit(1)).persist()
    try:
        df.count()
        before = _held_rdds(spark)
        write_bloom_index(df, str(tmp_path / "bloom_idx"), "val", fp_rate=0.01)
        assert df.storageLevel != StorageLevel.NONE
        assert _held_rdds(spark) == before
    finally:
        df.unpersist()


def test_decontaminate_bloom_superset_of_exact(spark, tmp_path, sf_dir):
    """The production contract: bloom decontamination never misses a
    truly contaminated doc (no false negatives), over-drops only at
    the configured per-gram rate, and maybe_shared >= exact n_shared
    row by row."""
    from promi_spark.io import load_table
    from promi_spark.operators.text import ngram_overlap

    docs_df = load_table(spark, "documents", sf_dir)
    bench = docs_df.filter(F.col("doc_id") % 7 == 0)
    train = docs_df.filter(F.col("doc_id") % 7 != 0)
    path = str(tmp_path / "bench_bloom")
    meta = write_bench_bloom(bench, path, n=5, fp_rate=1e-6)
    assert meta["n"] == 5 and meta["m_bits"] % 64 == 0

    bl = {
        r["doc_id"]: (r["contaminated"], r["maybe_shared"], r["n_grams"])
        for r in decontaminate_bloom(train, path).collect()
    }
    ex = {
        r["doc_id"]: (r["contaminated"], r["n_shared"], r["n_grams"])
        for r in ngram_overlap(train, bench, n=5).collect()
    }
    assert set(bl) == set(ex)
    for d, (e_flag, e_shared, e_grams) in ex.items():
        b_flag, b_shared, b_grams = bl[d]
        assert b_grams == e_grams, d
        assert b_shared >= e_shared, d
        if e_flag:
            assert b_flag, f"bloom missed truly contaminated doc {d}"
    # at fp=1e-6 per gram, extra flags should be essentially zero here
    extra = [d for d in bl if bl[d][0] and not ex[d][0]]
    assert len(extra) <= 2, extra


def test_bloom_plan_is_jvm_side(spark):
    """No interpreted Python anywhere; the probe joins the sparse word
    relation as a BROADCAST hash join (the filter is sized to
    broadcast — the reference set never shuffles)."""
    m, k = bloom_params(1000, 0.01)
    bf = bloom_build(_vals(spark, 0, 1000), "val", m, k)
    plan = (
        bloom_probe(_vals(spark, 0, 2000), bf, "val", m, k)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_decontaminate_plan_two_exchanges(spark, tmp_path, sf_dir):
    """The inline probe keeps the gram stream to exactly two map-side-
    combined exchanges ((doc, gram) hit test, then the doc rollup); the
    sparse filter joins as a broadcast, never a shuffle."""
    import re

    from promi_spark.io import load_table

    docs = load_table(spark, "documents", sf_dir)
    path = str(tmp_path / "bb_plan")
    write_bench_bloom(docs.filter(F.col("doc_id") % 7 == 0), path, n=5)
    df = decontaminate_bloom(docs.filter(F.col("doc_id") % 7 != 0), path)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan


def test_merge_bloom_indexes_exact_union(spark, tmp_path):
    """Bloom union is exact: the merged filter's verdicts equal the
    filter built over the union of inserted values, geometry sidecar
    survives, and mismatched geometry is rejected loudly."""
    from promi_spark.operators.bloom import merge_bloom_indexes

    m, k = bloom_params(4000, 0.01)
    p1, p2, pm = (str(tmp_path / d) for d in ("b1", "b2", "merged"))
    write_bloom_index(_vals(spark, 0, 2000), p1, "val", m_bits=m, k=k)
    write_bloom_index(_vals(spark, 2000, 4000), p2, "val", m_bits=m, k=k)
    meta = merge_bloom_indexes(spark, [p1, p2], pm)
    assert {k_: meta[k_] for k_ in ("m_bits", "k", "col")} == {
        "m_bits": m,
        "k": k,
        "col": "val",
    }
    # measured size is bookkeeping, not geometry: the two inputs have
    # different 'bytes' yet merge fine, and the merged sidecar carries
    # its own measured size (drives the broadcast-vs-shuffle decision)
    assert meta["bytes"] > 0

    merged, _ = read_bloom_index(spark, pm)
    direct = bloom_build(_vals(spark, 0, 4000), "val", m, k)
    got = {r["word"]: r["mask"] for r in merged.collect()}
    want = {r["word"]: r["mask"] for r in direct.collect()}
    assert got == want, "merged bit array must equal the union build"

    probe = bloom_probe(_vals(spark, 0, 4000), merged, "val", m, k)
    assert probe.filter(~F.col("maybe_member")).count() == 0

    # geometry mismatch rejected
    p3 = str(tmp_path / "b3")
    write_bloom_index(_vals(spark, 0, 100), p3, "val", m_bits=128, k=2)
    with pytest.raises(ValueError, match="geometry mismatch"):
        merge_bloom_indexes(spark, [p1, p3], str(tmp_path / "bad"))


def test_merge_into_input_path_raises(spark, tmp_path):
    """r9 advice: the accretion workflow's natural mistake — merging
    the existing gate filter with a new release back INTO the gate
    path — would overwrite a lazily-read input mid-merge. Must refuse
    loudly before touching anything."""
    from promi_spark.operators.bloom import merge_bloom_indexes

    m, k = bloom_params(1000, 0.01)
    p1, p2 = str(tmp_path / "g1"), str(tmp_path / "g2")
    write_bloom_index(_vals(spark, 0, 500), p1, "val", m_bits=m, k=k)
    write_bloom_index(_vals(spark, 500, 1000), p2, "val", m_bits=m, k=k)
    with pytest.raises(ValueError, match="also an input"):
        merge_bloom_indexes(spark, [p1, p2], p1)
    with pytest.raises(ValueError, match="also an input"):
        merge_bloom_indexes(spark, [p1, p2], p2 + "/")
    # both inputs untouched
    for p in (p1, p2):
        bf, meta = read_bloom_index(spark, p)
        assert bf.count() > 0 and meta["m_bits"] == m


def test_broadcast_ceiling_falls_back_to_shuffled_join(spark, tmp_path):
    """r9 advice: at fp 1e-6 a 1e9-gram suite implies a multi-GB
    (word, mask) relation — forcing a broadcast there is an OOM, not a
    plan. Above BLOOM_BROADCAST_CEILING_BYTES the probe must warn and
    join shuffled on the word index, with identical verdicts."""
    import warnings as w

    from promi_spark.operators.bloom import (
        _bloom_build_side,
        _bloom_relation_bytes,
        BLOOM_BROADCAST_CEILING_BYTES,
    )

    # worst-case formula: m_bits/64 rows x 16 bytes
    assert _bloom_relation_bytes(1 << 31) == (1 << 31) // 64 * 16
    assert _bloom_relation_bytes(1 << 31) > BLOOM_BROADCAST_CEILING_BYTES

    small_m, k = bloom_params(1000, 0.01)
    bf = bloom_build(_vals(spark, 0, 1000), "val", small_m, k)

    # under the ceiling: broadcast side, no warning
    with w.catch_warnings():
        w.simplefilter("error")
        _bloom_build_side(bf, small_m)

    # geometry over the ceiling: warning + no FORCED broadcast hint in
    # the plan (the optimizer/AQE may still pick a broadcast from the
    # relation's MEASURED size — that is the point: measured, not
    # forced past executor memory)
    huge_m = 1 << 31
    bf_huge = bloom_build(_vals(spark, 0, 1000), "val", huge_m, 1)
    with pytest.warns(UserWarning, match="ceiling"):
        probed = bloom_probe(
            _vals(spark, 0, 2000), bf_huge, "val", huge_m, 1
        )
    assert "ResolvedHint" not in probed._jdf.queryExecution().analyzed().toString()
    small_probe = bloom_probe(_vals(spark, 0, 2000), bf, "val", small_m, k)
    assert "ResolvedHint" in small_probe._jdf.queryExecution().analyzed().toString()
    # correctness unchanged on the shuffled path: zero false negatives
    assert probed.filter(
        (F.expr("CAST(substr(val, 2, 10) AS INT)") < 1000)
        & ~F.col("maybe_member")
    ).count() == 0

    # a persisted index's MEASURED bytes override the worst case: tiny
    # relation under a huge geometry still broadcasts (no warning)
    with w.catch_warnings():
        w.simplefilter("error")
        _bloom_build_side(bf_huge, huge_m, actual_bytes=1 << 20)

    # and decontaminate_bloom honors huge measured bytes from the meta
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bb_ceiling")
    meta = write_bench_bloom(docs, path, n=5)
    bloom_df, _ = read_bloom_index(spark, path)
    fake_meta = dict(meta, bytes=10**12)
    with pytest.warns(UserWarning, match="ceiling"):
        via_shuffle = decontaminate_bloom(
            docs, index=(bloom_df, fake_meta)
        ).collect()
    via_bcast = decontaminate_bloom(docs, path).collect()
    assert sorted(map(tuple, via_shuffle)) == sorted(map(tuple, via_bcast))


def test_decontaminate_rejects_non_gram_index(spark, tmp_path):
    """Probing a raw value index as if it were a benchmark n-gram
    sketch hashes a different value domain — it must fail loudly at
    meta load, never probe silently wrong bits."""
    path = str(tmp_path / "raw_idx")
    write_bloom_index(_vals(spark, 0, 100), path, "val", fp_rate=0.01)
    df = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    with pytest.raises(ValueError, match="not a benchmark n-gram sketch"):
        decontaminate_bloom(df, path)
