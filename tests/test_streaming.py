"""Structured Streaming tests: file source -> windowed/stateful ops ->
memory/DLQ sinks, drained with availableNow triggers (deterministic,
no long-running queries)."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Canonical-schema event files written in two chunks (= two
    micro-batch generations under maxFilesPerTrigger)."""
    from promi_spark.io import load_event_log

    d = str(tmp_path_factory.mktemp("stream_src"))
    log = load_event_log(spark, "/root/testdata/sf0.001")
    df = log.df.cache()
    df.filter(F.col("seq") % 2 == 0).coalesce(1).write.mode("append").parquet(d)
    df.filter(F.col("seq") % 2 == 1).coalesce(1).write.mode("append").parquet(d)
    return d


def test_streaming_stats_matches_batch(spark, stream_dir, tmp_path):
    from promi_spark.streaming import read_event_stream, run_to_memory, streaming_stats

    sdf = streaming_stats(read_event_stream(spark, stream_dir))
    run_to_memory(sdf, "sstats", output_mode="complete")
    row = spark.table("sstats").first()
    batch = spark.read.parquet(stream_dir).count()
    assert row["n_events_total"] == batch
    assert row["n_events_in_traces"] == batch  # all rows have case_id


def test_windowed_stats_late_data_drop(spark, stream_dir):
    from promi_spark.streaming import read_event_stream, run_to_memory, streaming_stats

    sdf = streaming_stats(
        read_event_stream(spark, stream_dir), watermark="1 minute", window="1 day"
    )
    # complete mode: every window's current state is emitted
    run_to_memory(sdf, "wstats", output_mode="complete")
    out = spark.table("wstats")
    total = out.agg(F.sum("n_events_total")).first()[0]
    batch = spark.read.parquet(stream_dir)
    assert total == batch.count()
    assert out.count() == batch.select(F.window("ts", "1 day")).distinct().count()

    # append mode emits only *closed* windows: the day containing the
    # max event time stays open past the final watermark -> withheld
    run_to_memory(sdf, "wstats_append", output_mode="append")
    appended = spark.table("wstats_append").agg(F.sum("n_events_total")).first()[0]
    last_day = (
        batch.groupBy(F.window("ts", "1 day")).count().orderBy(F.desc("window")).first()["count"]
    )
    assert appended == batch.count() - last_day


def test_sessionize_builds_traces(spark, stream_dir):
    from promi_spark.streaming import read_event_stream, run_to_memory, sessionize

    sdf = sessionize(
        read_event_stream(spark, stream_dir),
        key_col="case_id",
        gap="1 hour",
        watermark="1 minute",
    )
    run_to_memory(sdf, "sessions", output_mode="append")
    out = spark.table("sessions")
    assert out.count() >= out.select("case_key").distinct().count()
    # every session interval is valid
    assert out.filter(F.col("end_ts") < F.col("start_ts")).count() == 0
    # append emits exactly the sessions closed before the final
    # watermark (max event time - 1 minute); batch session_window with
    # the same cutoff is the oracle
    batch = spark.read.parquet(stream_dir)
    max_ts = batch.agg(F.max("ts")).first()[0]
    expected = (
        batch.groupBy(F.session_window("ts", "1 hour"), "case_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("ts").alias("end_ts"))
        .filter(F.col("end_ts") < F.lit(max_ts) - F.expr("INTERVAL 1 MINUTE"))
    )
    assert out.count() == expected.count()
    assert (
        out.agg(F.sum("n_events")).first()[0]
        == expected.agg(F.sum("n")).first()[0]
    )


def test_quarantine_split(spark):
    from promi_spark.log import EventLog
    from promi_spark.streaming import quarantine

    rows = [
        ("c1", 0, "a", "2024-01-01 00:00:00"),
        ("c1", 1, None, "2024-01-01 00:01:00"),  # missing activity
        ("c2", -5, "b", None),  # negative seq + missing ts
    ]
    df = spark.createDataFrame(
        rows, "case_id string, seq long, activity string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    log = EventLog.from_events(df)
    good, bad = quarantine(log.df)
    assert good.count() == 1
    bad_rows = {r["case_id"]: r["_errors"] for r in bad.collect()}
    assert bad_rows["c1"] == ["activity_present"]
    assert set(bad_rows["c2"]) == {"ts_present", "seq_nonnegative"}


def test_write_with_dlq(spark, tmp_path):
    from promi_spark.streaming import write_with_dlq

    src = str(tmp_path / "src")
    rows = [
        ("c1", 0, "a", "2024-01-01 00:00:00"),
        ("c1", 1, None, "2024-01-01 00:01:00"),
    ]
    df = spark.createDataFrame(
        rows, "case_id string, seq long, activity string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = write_with_dlq(
        stream,
        good_path=str(tmp_path / "good"),
        dlq_path=str(tmp_path / "dlq"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "good")).count() == 1
    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    assert dlq.count() == 1
    assert dlq.first()["_errors"] == ["activity_present"]
    # Documented default (COVERAGE §2.10 delivery table): the DLQ sink
    # is AT-LEAST-ONCE — a worst-case full replay (fresh checkpoint,
    # same input files) re-appends to both sinks; consumers dedup by
    # event key / (event key, _batch_id).
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = write_with_dlq(
        stream,
        good_path=str(tmp_path / "good"),
        dlq_path=str(tmp_path / "dlq"),
        checkpoint=str(tmp_path / "ckpt2"),
    )
    q.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "good")).count() == 2
    dlq2 = spark.read.parquet(str(tmp_path / "dlq"))
    assert dlq2.count() == 2
    # the dedup recipe restores the logical row sets
    assert dlq2.dropDuplicates(["case_id", "seq", "_batch_id"]).count() == 1


def test_stateful_dfg_matches_batch(spark, stream_dir):
    """applyInPandasWithState edge extraction == batch DFG edge multiset
    when the whole log arrives (single drain)."""
    from promi_spark.io import load_event_log
    from promi_spark.operators.dfg import directly_follows
    from promi_spark.streaming import read_event_stream, run_to_memory, stateful_dfg

    sdf = stateful_dfg(read_event_stream(spark, stream_dir))
    run_to_memory(sdf, "sdfg", output_mode="append")
    got = (
        spark.table("sdfg")
        .groupBy("activity", "next_activity")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = directly_follows(load_event_log(spark, "/root/testdata/sf0.001"))
    diff = got.exceptAll(want.select("activity", "next_activity", "n"))
    assert diff.count() == 0
    assert got.count() == want.count()


def test_streaming_dedup_drops_redelivered_batch(spark, stream_dir, tmp_path):
    """A re-delivered file (duplicate rows inside the watermark) dedups
    to the batch-exact distinct count; state evicts past the watermark."""
    import glob as g
    import shutil

    from promi_spark.streaming import read_event_stream, run_to_memory
    from promi_spark.streaming.engine import streaming_dedup

    d = str(tmp_path / "dup_src")
    shutil.copytree(stream_dir, d)
    # redeliver the first chunk verbatim
    src = sorted(g.glob(f"{stream_dir}/*.parquet"))[0]
    shutil.copy(src, f"{d}/redelivered.parquet")

    sdf = streaming_dedup(
        read_event_stream(spark, d), key_cols=["case_id", "seq"], watermark="365 days"
    )
    run_to_memory(sdf, "sdedup", output_mode="append")
    got = spark.table("sdedup").count()
    expect = spark.read.parquet(stream_dir).dropDuplicates(["case_id", "seq"]).count()
    assert got == expect


def test_streaming_text_pipeline_matches_batch(spark, tmp_path):
    """The text cleaning pipeline (quality filter -> PII scrub -> exact
    dedup) produces identical results driven as a Structured Streaming
    foreachBatch sink or as one batch job — the contract that lets a
    landing-zone document feed reuse the batch operators unchanged.
    (Cross-micro-batch global dedup additionally needs the watermarked
    streaming_dedup; availableNow on one landing batch is exact.)"""
    import shutil

    from pyspark.sql import Window

    from promi_spark.io import load_table
    from promi_spark.operators.dedup import norm_text
    from promi_spark.operators.text import scrubbed_text, token_count

    def clean(df):
        out = df.filter(token_count(F.col("text")) >= 5).withColumn(
            "text", scrubbed_text("text")
        )
        w = Window.partitionBy(F.md5(norm_text("text"))).orderBy("doc_id")
        return (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    expected = clean(docs)

    land = tmp_path / "landing"
    land.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet", land / "batch0.parquet"
    )
    out_dir = str(tmp_path / "cleaned")
    stream = spark.readStream.schema(docs.schema).parquet(str(land))
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _i: clean(b).write.mode("append").parquet(out_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out_dir)
    assert got.count() == expected.count() > 0
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_streaming_neardup_ingest_gate(spark, tmp_path):
    """Landing-zone ingest: micro-batches probed against the persisted
    MinHash index; near-dups of the corpus (and the greater side of
    within-batch pairs) rejected with partner + similarity, survivors
    appended. Index is never re-tokenized."""
    from promi_spark.operators.dedup import write_minhash_index
    from promi_spark.streaming import streaming_neardup_ingest

    corpus_text = "the quick brown fox jumps over the lazy dog near the river bank today"
    other_text = "completely different content about distributed query engines and shuffle costs"
    pair_text = "a third body of text repeated verbatim inside the incoming batch of documents"
    high_text = "an indexed corpus document whose key sorts after every incoming batch key"
    corpus = spark.createDataFrame(
        [(0, corpus_text), (1, other_text), (500, high_text)],
        "doc_id long, text string",
    )
    index = str(tmp_path / "index")
    write_minhash_index(corpus, index)

    new = spark.createDataFrame(
        [
            (7, high_text),              # near-dup of INDEX doc 500: key
                                         # sorts FIRST but must still lose
            (100, corpus_text),          # near-dup of corpus doc 0
            (101, "fresh unique document with its own words and no overlap with anything"),
            (102, pair_text),            # within-batch pair, smaller key: kept
            (103, pair_text),            # greater side: rejected
        ],
        "doc_id long, text string",
    )
    in_dir = str(tmp_path / "in")
    new.repartition(1).write.parquet(in_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming_neardup_ingest(
        stream,
        index,
        good_path=str(tmp_path / "good"),
        reject_path=str(tmp_path / "reject"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    good = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "good")).collect()}
    rej = {
        r["doc_id"]: (r["dup_of"], r["jaccard_sim"])
        for r in spark.read.parquet(str(tmp_path / "reject")).collect()
    }
    assert good == {101, 102}
    assert set(rej) == {7, 100, 103}
    assert rej[100][0] == 0 and rej[100][1] == 1.0   # matched the corpus doc
    assert rej[103][0] == 102 and rej[103][1] == 1.0  # within-batch pair
    assert rej[7][0] == 500 and rej[7][1] == 1.0     # smaller key still loses


def test_stream_interval_join_enriches_within_lookback(spark, tmp_path):
    """Watermarked stream-stream interval join: purchases match signups
    of the same user within the lookback window; older signups and
    other users don't. Verified against the equivalent batch join."""
    import datetime as dt

    from promi_spark.streaming import run_to_memory, stream_interval_join

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def _t(minutes):
        return base + dt.timedelta(minutes=minutes)

    purchases = [(1, 10, _t(0), 50.0), (2, 10, _t(90), 60.0), (3, 11, _t(10), 70.0)]
    signups = [(10, _t(-30), "a"), (10, _t(80), "b"), (12, _t(0), "c")]
    pdir, sdir = str(tmp_path / "p"), str(tmp_path / "s")
    spark.createDataFrame(
        purchases, "pid long, user_id long, ts timestamp, amount double"
    ).write.parquet(pdir)
    spark.createDataFrame(
        signups, "user_id long, ts timestamp, tag string"
    ).write.parquet(sdir)

    lstream = spark.readStream.schema(
        "pid long, user_id long, ts timestamp, amount double"
    ).parquet(pdir)
    rstream = spark.readStream.schema(
        "user_id long, ts timestamp, tag string"
    ).parquet(sdir)
    joined = stream_interval_join(
        lstream, rstream, on="user_id", lookback="1 hour"
    )
    q = run_to_memory(joined, "interval_join")
    got = {
        (r["pid"], r["tag_r"])
        for r in spark.sql("select * from interval_join").collect()
    }
    q.stop()
    # purchase 1 (t0): signup a (t-30) in window; purchase 2 (t90):
    # signup b (t80) in window, a (t-30) outside 1h lookback;
    # purchase 3: user 11 has no signups; user 12's signup matches no one
    assert got == {(1, "a"), (2, "b")}


def test_stateful_funnel_matches_batch(spark, stream_dir):
    """Single drain: max(stage) per user == the batch funnel fold's
    per-user completed-step count, and the global stage histogram
    reproduces funnel_counts."""
    from promi_spark.queries import QUERIES
    from promi_spark.streaming import read_event_stream, run_to_memory, stateful_funnel

    sdf = stateful_funnel(read_event_stream(spark, stream_dir))
    run_to_memory(sdf, "sfunnel", output_mode="append")
    got = (
        spark.table("sfunnel")
        .groupBy("case_id")
        .agg(F.max("stage").alias("stage"))
    )
    by_stage = {r["stage"]: r["n"] for r in
                got.groupBy("stage").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = QUERIES["funnel_counts"][0](spark, "/root/testdata/sf0.001").first()
    n_ge = lambda k: sum(v for s, v in by_stage.items() if s >= k)
    assert n_ge(0) == want["n_users"]
    assert n_ge(1) == want["n_signup"]
    assert n_ge(2) == want["n_click_after"]
    assert n_ge(3) == want["n_purchase_after"]


def test_stateful_funnel_state_survives_batches(spark, tmp_path):
    """Two time-ordered micro-batches: a signup in batch 1 and a later
    click+purchase in batch 2 only complete the funnel if state carried
    across batches."""
    import datetime as dt

    from promi_spark.streaming import read_event_stream, run_to_memory, stateful_funnel

    d = str(tmp_path / "src")
    ts = lambda m: dt.datetime(2024, 1, 1, 0, m)
    b1 = [(1, ts(0), 1, "signup", 0.0, None)]
    b2 = [(2, ts(1), 1, "click", 0.0, None),
          (3, ts(2), 1, "purchase", 0.0, None)]
    from promi_spark.io import load_event_log
    from promi_spark.log import EventLog

    for i, rows in enumerate((b1, b2)):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        EventLog.from_generic(
            df, "user_id", "event_type", "ts", keep=["event_id", "value", "props"]
        ).df.coalesce(1).write.mode("append").parquet(d)
    sdf = stateful_funnel(
        read_event_stream(spark, d, max_files_per_trigger=1)
    )
    run_to_memory(sdf, "sfunnel2", output_mode="append")
    stages = [r["stage"] for r in spark.table("sfunnel2")
              .filter(F.col("case_id") == "1").orderBy("stage").collect()]
    assert stages[-1] == 3, stages


def test_streaming_outliers_prefix_causal(spark, tmp_path):
    """Welford state: the spike is flagged against stats of everything
    before it; warm-up events (fewer than min_events prior) never
    flag, and state carries across micro-batches."""
    import datetime as dt

    from promi_spark.streaming import read_event_stream, run_to_memory, streaming_outliers

    d = str(tmp_path / "src")
    ts = lambda m: dt.datetime(2024, 1, 1, 0, m)
    b1 = [(i, ts(i), 1, "e", 10.0, None) for i in range(4)]   # steady
    b2 = [(4, ts(4), 1, "e", 10.2, None),                     # benign
          (5, ts(5), 1, "e", 99.0, None)]                     # spike
    raw_schema = ("event_id long, ts timestamp, user_id long,"
                  " event_type string, value double, props string")
    for rows in (b1, b2):
        spark.createDataFrame(rows, raw_schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
    sdf = streaming_outliers(
        read_event_stream(
            spark, d, max_files_per_trigger=1, schema=raw_schema
        ),
        z=2.0,
        key_col="user_id",
    )
    run_to_memory(sdf, "souts", output_mode="append")
    got = [(r["event_id"], r["zscore"]) for r in spark.table("souts").collect()]
    # identical warm-up values -> zero variance -> no flags until 4;
    # event 4 (10.2 vs all-10s, sd=0) cannot score; spike 5 flags
    assert [e for e, _ in got] == [5]
    assert got[0][1] > 2


def test_streaming_decontaminate_ingest_gate(spark, tmp_path):
    """r9 ingest gate: micro-batches probed against the persisted
    benchmark Bloom sketch; docs sharing benchmark n-grams land in the
    reject sink (zero false negatives — Bloom semantics), clean docs
    append to good. The benchmark corpus is never read at ingest."""
    from promi_spark.operators.bloom import write_bench_bloom
    from promi_spark.streaming import streaming_decontaminate_ingest

    bench_text = (
        "the held out benchmark question asks about the capital of a "
        "small alpine country in winter"
    )
    bench = spark.createDataFrame(
        [(0, bench_text)], "doc_id long, text string"
    )
    idx = str(tmp_path / "bloom_idx")
    write_bench_bloom(bench, idx, n=5)

    new = spark.createDataFrame(
        [
            # contains a verbatim 5-gram from the benchmark -> reject
            (100, "as the held out benchmark question asks students often panic"),
            # clean
            (101, "fresh training document with entirely different content about engines"),
            # full benchmark copy -> reject
            (102, bench_text),
        ],
        "doc_id long, text string",
    )
    in_dir = str(tmp_path / "in")
    new.repartition(1).write.parquet(in_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming_decontaminate_ingest(
        stream,
        idx,
        good_path=str(tmp_path / "good"),
        reject_path=str(tmp_path / "reject"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    good = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "good")).collect()
    }
    rej = {
        r["doc_id"]: r["maybe_shared"]
        for r in spark.read.parquet(str(tmp_path / "reject")).collect()
    }
    assert good == {101}
    assert set(rej) == {100, 102}
    assert rej[102] > rej[100] >= 1  # the full copy shares more grams


def test_streaming_decontaminate_loads_index_once(spark, tmp_path, monkeypatch):
    """r9 advice: the gate used to re-read the Bloom parquet + meta
    sidecar from disk inside every micro-batch. The index must be
    loaded exactly once at stream start, however many batches run."""
    import promi_spark.operators.bloom as bloom_mod
    from promi_spark.streaming import streaming_decontaminate_ingest

    bench = spark.createDataFrame(
        [(0, "unique benchmark phrase about orbital mechanics and tides")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    bloom_mod.write_bench_bloom(bench, idx, n=5)

    calls = []
    real = bloom_mod.read_bloom_index

    def counting(spark_, path):
        calls.append(path)
        return real(spark_, path)

    monkeypatch.setattr(bloom_mod, "read_bloom_index", counting)

    in_dir = str(tmp_path / "in")
    # two files + maxFilesPerTrigger=1 -> two micro-batches
    spark.createDataFrame(
        [(1, "clean text one")], "doc_id long, text string"
    ).repartition(1).write.parquet(in_dir)
    spark.createDataFrame(
        [(2, "clean text two")], "doc_id long, text string"
    ).repartition(1).write.mode("append").parquet(in_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming_decontaminate_ingest(
        stream,
        idx,
        good_path=str(tmp_path / "good"),
        reject_path=str(tmp_path / "reject"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2, "expected at least two micro-batches"
    assert calls == [idx], f"index must load once, loaded {len(calls)}x"
    good = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "good")).collect()
    }
    assert good == {1, 2}


def test_streaming_decontaminate_releases_pins_with_scope(spark, tmp_path):
    """The gate's pinned Bloom index and its per-batch verdicts belong
    to scopes: with the query started inside ``scope()`` and awaited,
    exiting the scope leaves the cache manager empty."""
    from promi_spark.lifetime import scope
    from promi_spark.operators.bloom import write_bench_bloom
    from promi_spark.streaming import streaming_decontaminate_ingest

    bench = spark.createDataFrame(
        [(0, "unique benchmark phrase about orbital mechanics and tides")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    write_bench_bloom(bench, idx, n=5)
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [
            (1, "clean text one"),
            (2, "a unique benchmark phrase about orbital mechanics and tides"),
        ],
        "doc_id long, text string",
    ).repartition(1).write.parquet(in_dir)
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        in_dir
    )
    spark.catalog.clearCache()
    with scope():
        q = streaming_decontaminate_ingest(
            stream,
            idx,
            good_path=str(tmp_path / "good"),
            reject_path=str(tmp_path / "reject"),
            checkpoint=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    rej = spark.read.parquet(str(tmp_path / "reject")).collect()
    assert [r["doc_id"] for r in rej] == [2]


def test_accreting_benchmark_gate_end_to_end(spark, tmp_path):
    """Verdict #7: the intended production loop — release A sketch +
    release B sketch (explicit shared geometry via write_bench_bloom(
    m_bits=, k=)) -> merge_bloom_indexes -> streaming ingest gate —
    must equal a gate built over A∪B directly, on live ingest."""
    from promi_spark.operators.bloom import (
        decontaminate_bloom,
        merge_bloom_indexes,
        write_bench_bloom,
    )
    from promi_spark.streaming import streaming_decontaminate_ingest

    rel_a = spark.createDataFrame(
        [(0, "release a benchmark asks about thermal expansion of rails")],
        "doc_id long, text string",
    )
    rel_b = spark.createDataFrame(
        [(1, "release b benchmark probes the etymology of borrowed words")],
        "doc_id long, text string",
    )
    m_bits, k = 1 << 16, 7  # shared geometry so the sketches merge
    pa_, pb, pm, pu = (
        str(tmp_path / d) for d in ("rel_a", "rel_b", "merged", "union")
    )
    write_bench_bloom(rel_a, pa_, n=5, m_bits=m_bits, k=k)
    write_bench_bloom(rel_b, pb, n=5, m_bits=m_bits, k=k)
    merge_bloom_indexes(spark, [pa_, pb], pm)
    write_bench_bloom(rel_a.unionByName(rel_b), pu, n=5, m_bits=m_bits, k=k)

    ingest = spark.createDataFrame(
        [
            (10, "students report release a benchmark asks about thermal topics"),
            (11, "release b benchmark probes the etymology of borrowed words verbatim"),
            (12, "wholly unrelated training prose concerning watercolor technique"),
        ],
        "doc_id long, text string",
    )
    in_dir = str(tmp_path / "in")
    ingest.repartition(1).write.parquet(in_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = streaming_decontaminate_ingest(
        stream,
        pm,
        good_path=str(tmp_path / "good"),
        reject_path=str(tmp_path / "reject"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got_good = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "good")).collect()
    }
    got_rej = {
        (r["doc_id"], r["maybe_shared"])
        for r in spark.read.parquet(str(tmp_path / "reject")).collect()
    }
    want = decontaminate_bloom(ingest, pu).collect()
    want_good = {r["doc_id"] for r in want if not r["contaminated"]}
    want_rej = {
        (r["doc_id"], r["maybe_shared"]) for r in want if r["contaminated"]
    }
    assert got_good == want_good == {12}
    assert got_rej == want_rej
    assert {d for d, _ in got_rej} == {10, 11}


def test_neardup_gate_exactly_once_replay_no_duplicates(spark, tmp_path):
    """Kill-and-restart semantics: replaying the SAME input through the
    gate (fresh checkpoint = the worst-case full replay) duplicates
    rows under the default at-least-once appends, but with
    exactly_once=True the _batch_id-partitioned dynamic overwrite
    rewrites each batch's own partition — good and reject row sets are
    unchanged after the replay."""
    import shutil

    from promi_spark.operators.dedup import write_minhash_index
    from promi_spark.streaming import streaming_neardup_ingest

    corpus_text = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame(
        [(0, corpus_text)], "doc_id long, text string"
    )
    index = str(tmp_path / "index")
    write_minhash_index(corpus, index)
    new = spark.createDataFrame(
        [
            (100, corpus_text),  # near-dup of corpus doc 0 -> reject
            (101, "fresh unique document with its own words and no overlap at all"),
        ],
        "doc_id long, text string",
    )
    in_dir = str(tmp_path / "in")
    new.repartition(1).write.parquet(in_dir)

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(in_dir)
        )
        q = streaming_neardup_ingest(
            stream, index,
            good_path=str(tmp_path / "good"),
            reject_path=str(tmp_path / "reject"),
            checkpoint=str(tmp_path / ckpt),
            exactly_once=True,
        )
        q.awaitTermination(120)

    run("ckpt1")
    good1 = spark.read.parquet(str(tmp_path / "good")).collect()
    rej1 = spark.read.parquet(str(tmp_path / "reject")).collect()
    assert {r["doc_id"] for r in good1} == {101}
    assert {r["doc_id"] for r in rej1} == {100}
    assert all(r["_batch_id"] == 0 for r in good1 + rej1)

    # full replay: fresh checkpoint re-enumerates the same files as
    # batch 0 -> the overwrite must land on the SAME partition
    run("ckpt2")
    good2 = spark.read.parquet(str(tmp_path / "good")).collect()
    rej2 = spark.read.parquet(str(tmp_path / "reject")).collect()
    assert len(good2) == len(good1) == 1  # no duplicate good rows
    assert len(rej2) == len(rej1) == 1
    shutil.rmtree(str(tmp_path / "good"))

    # contrast: the default append path DOES duplicate under replay —
    # the documented at-least-once contract
    for ckpt in ("ckpt3", "ckpt4"):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(in_dir)
        )
        q = streaming_neardup_ingest(
            stream, index,
            good_path=str(tmp_path / "good"),
            reject_path=str(tmp_path / "reject_app"),
            checkpoint=str(tmp_path / ckpt),
        )
        q.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "good")).count() == 2


def test_exactly_once_gate_multi_batch_dynamic_overwrite(spark, tmp_path):
    """Dynamic (not static) partition overwrite is load-bearing: with
    two micro-batches, batch 1's write must NOT wipe batch 0's
    partition — and a full replay must leave every batch's rows present
    exactly once."""
    from promi_spark.operators.dedup import write_minhash_index
    from promi_spark.streaming import streaming_neardup_ingest

    corpus = spark.createDataFrame(
        [(0, "completely unrelated corpus text about rivers and banks")],
        "doc_id long, text string",
    )
    index = str(tmp_path / "index")
    write_minhash_index(corpus, index)
    in_dir = str(tmp_path / "in")
    # two files -> two micro-batches under maxFilesPerTrigger=1
    spark.createDataFrame(
        [(100, "first unique document with words of its own")],
        "doc_id long, text string",
    ).repartition(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        [(200, "second unique document with different words entirely")],
        "doc_id long, text string",
    ).repartition(1).write.mode("append").parquet(in_dir)

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = streaming_neardup_ingest(
            stream, index,
            good_path=str(tmp_path / "good"),
            reject_path=str(tmp_path / "reject"),
            checkpoint=str(tmp_path / ckpt),
            exactly_once=True,
        )
        q.awaitTermination(120)

    run("ckpt1")
    good = spark.read.parquet(str(tmp_path / "good"))
    rows = {(r["doc_id"], r["_batch_id"]) for r in good.collect()}
    # batch 1 did not wipe batch 0's partition (static overwrite would)
    assert {d for d, _ in rows} == {100, 200}
    assert len({b for _, b in rows}) == 2
    run("ckpt2")  # full replay, fresh checkpoint: same batches rewrite
    good2 = spark.read.parquet(str(tmp_path / "good")).collect()
    assert len(good2) == 2  # exactly once per doc, no duplicates
    assert {r["doc_id"] for r in good2} == {100, 200}
