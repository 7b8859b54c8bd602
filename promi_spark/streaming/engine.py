"""Structured Streaming variants of the core operators (SURVEY §2.10).

The reference is stream-native by construction — pull iterator, in-band
errors, bounded channels for backpressure, stateful artifacts released
at end-of-stream (``src/stream/core/stream.rs:9-45``,
``component.rs:256``, ``channel.rs:52-73``, ``observer.rs:44-47``).
Spark equivalents used here:

- unbounded source        -> ``readStream`` (file/Kafka/rate sources)
- end-of-stream artifact  -> stateful agg + ``outputMode('update')``
- in-band errors / DLQ    -> quarantine split + ``foreachBatch`` double-write
- backpressure            -> ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``
- meta-then-payload order -> ``withWatermark`` + late-data drop
- implicit case boundary  -> ``session_window`` trace builder (the
  streaming analog of grouping by ``case_id``; absent in the reference,
  free in Spark)

Everything is expressed on the same flat events schema, so a batch
pipeline becomes a streaming one by swapping ``read`` for
``readStream`` — the DataFrame lineage in between is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from promi_spark.lifetime import persist, scope
from promi_spark.schema import EVENTS_SCHEMA


def read_event_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    schema=None,
) -> DataFrame:
    """File-based event stream in the canonical flat schema. At scale
    this is the landing-zone pattern: micro-batches pick up new files;
    ``maxFilesPerTrigger`` is the backpressure knob (reference bounded
    channels, ``channel.rs:52-73``)."""
    reader = spark.readStream.format(fmt).schema(schema or EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def streaming_stats(
    events: DataFrame, watermark: str = "10 minutes", window: str | None = None
) -> DataFrame:
    """Continuously-updated Statistics counts (reference
    ``StatsCollector`` releasing its artifact at end-of-stream,
    ``stats.rs:64-141``; a stream has no end, so the artifact becomes a
    monotone aggregate in update mode).

    With ``window`` set, counts are per tumbling event-time window with
    late data dropped past the watermark; otherwise global counts
    (update/complete mode only).
    """
    ev = events.withWatermark("ts", watermark)
    if window:
        grouped = ev.groupBy(F.window("ts", window).alias("win"))
    else:
        grouped = ev.groupBy()
    return grouped.agg(
        F.approx_count_distinct("case_id").alias("n_traces"),
        F.count(F.col("case_id")).alias("n_events_in_traces"),
        F.count(F.lit(1)).alias("n_events_total"),
    )


def sessionize(
    events: DataFrame,
    key_col: str = "resource",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session-window trace builder: when case boundaries are implicit,
    a trace is a burst of activity by one ``key_col`` with no silence
    longer than ``gap``. Returns one row per discovered trace with the
    interval and event count — the streaming construction of the
    reference's ``Trace`` (which assumes boundaries are given).

    ``session_window`` state is bounded by the watermark: sessions close
    once event time passes (end + watermark), so state size tracks the
    number of *open* sessions, not history.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", gap).alias("session"),
            F.col(key_col).alias("case_key"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.collect_list("activity").alias("activities"),
        )
        .select(
            F.concat_ws(
                "#", "case_key", F.date_format("session.start", "yyyyMMddHHmmss")
            ).alias("case_id"),
            "case_key",
            "n_events",
            "start_ts",
            "end_ts",
            "activities",
        )
    )


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "1 hour",
    within_watermark: bool = True,
) -> DataFrame:
    """Exact streaming deduplication — the streaming face of
    ``operators.dedup.exact_dedup``. With ``within_watermark`` (the
    scale default, Spark 3.5+), per-key state is EVICTED once event
    time passes the watermark, so state size tracks the dedup window,
    not stream history; duplicates arriving inside the window are
    dropped, later re-occurrences pass (the training-ingest contract:
    a landing-zone feed re-delivering recent batches). Set it False for
    global exact dedup with unbounded state (small keyspaces only).
    """
    keys = key_cols or ["case_id", "seq", "activity"]
    ev = events.withWatermark("ts", watermark)
    if within_watermark:
        return ev.dropDuplicatesWithinWatermark(keys)
    return ev.dropDuplicates(keys)


def quarantine(
    events: DataFrame, checks: dict[str, "F.Column"] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Error-as-data split (reference in-band ``ResOpt`` errors stored
    by Buffer, ``buffer.rs:53-56``): rows failing any check go to the
    dead-letter side with an ``_errors`` array naming the failed checks;
    clean rows flow on. Works identically on batch and streaming frames.
    """
    checks = checks or default_checks()
    err_arr = F.array(
        *[F.when(~ok, F.lit(name)) for name, ok in checks.items()]
    )
    tagged = events.withColumn(
        "_errors", F.filter(err_arr, lambda x: x.isNotNull())
    )
    good = tagged.filter(F.size("_errors") == 0).drop("_errors")
    bad = tagged.filter(F.size("_errors") > 0)
    return good, bad


def default_checks() -> dict[str, "F.Column"]:
    """The reference validator's row-level constraints as columns."""
    return {
        "activity_present": F.col("activity").isNotNull(),
        "ts_present": F.col("ts").isNotNull(),
        "seq_nonnegative": F.col("seq").isNull() | (F.col("seq") >= 0),
    }


def write_with_dlq(
    events: DataFrame,
    good_path: str,
    dlq_path: str,
    checkpoint: str,
    checks: dict | None = None,
):
    """Streaming sink with a dead-letter queue: one ``foreachBatch``
    writes both sides per micro-batch (reference sinks that record
    errors and continue, ``sink.rs:50-53`` / ``buffer.rs:53-56``).
    Returns the started query (caller awaits/stops).

    Delivery semantics: AT-LEAST-ONCE. The two parquet appends are not
    atomic with the checkpoint commit, so a crash-and-replay of a
    batch re-appends its rows to both sinks. Downstream dedup recipe:
    good rows by their stable event key, DLQ rows by (event key,
    ``_batch_id``). For effectively-once landing zones use the ingest
    gates' ``exactly_once=True`` (``_batch_id``-partitioned dynamic
    overwrite, :func:`_gate_sink_writes`) — see the delivery-semantics
    table in COVERAGE.md §2.10."""

    def _write(batch: DataFrame, batch_id: int):
        good, bad = quarantine(batch, checks)
        good.write.mode("append").parquet(good_path)
        bad.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(dlq_path)

    return (
        events.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    right_cols: list[str] | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event joined
    to the right-stream events of the same key whose timestamp falls in
    ``[left_ts - lookback, left_ts]`` — the streaming enrichment shape
    (purchases x recent signups, trades x recent quotes). INNER join:
    Structured Streaming's state cleanup contract requires the time
    bound + watermarks on both sides, which is exactly what bounds the
    join state to the lookback window per key instead of stream
    history.

    Columns of the right side are suffixed; the left keeps its names.
    Pure declarative plan — Spark manages the dual state stores, drops
    rows older than the watermark, and emits as matches complete.
    """
    rc = right_cols or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark).select(
        F.col(on).alias(f"{on}{suffix}"),
        F.col(right_ts).alias(f"{right_ts}{suffix}"),
        *[F.col(c).alias(f"{c}{suffix}") for c in rc],
    )
    cond = (
        (F.col(on) == F.col(f"{on}{suffix}"))
        & (F.col(f"{right_ts}{suffix}") <= F.col(left_ts))
        & (
            F.col(f"{right_ts}{suffix}")
            >= F.col(left_ts) - F.expr(f"INTERVAL {lookback}")
        )
    )
    return lw.join(rw, cond, "inner").drop(f"{on}{suffix}")


def _gate_sink_writes(
    good: DataFrame,
    rejects: DataFrame,
    good_path: str,
    reject_path: str,
    batch_id: int,
    exactly_once: bool,
) -> None:
    """The two per-batch sink writes shared by the ingest gates.

    ``exactly_once=False`` (default): plain appends — AT-LEAST-ONCE
    (the two appends are not atomic; checkpoint replay re-appends).
    ``exactly_once=True``: both sinks are partitioned by ``_batch_id``
    and written with DYNAMIC partition overwrite, so a checkpoint
    replay of batch N idempotently REWRITES partition ``_batch_id=N``
    instead of duplicating it — effectively-once output under
    kill-and-restart, at the cost of a ``_batch_id`` directory level
    in both sinks (and the good rows carrying the column too)."""
    rej = rejects.withColumn("_batch_id", F.lit(batch_id))
    if exactly_once:
        for df, path in (
            (good.withColumn("_batch_id", F.lit(batch_id)), good_path),
            (rej, reject_path),
        ):
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(path)
            )
    else:
        good.write.mode("append").parquet(good_path)
        rej.write.mode("append").parquet(reject_path)


def streaming_neardup_ingest(
    docs: DataFrame,
    index_path: str,
    good_path: str,
    reject_path: str,
    checkpoint: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    exactly_once: bool = False,
):
    """Streaming near-dup gate: every micro-batch of incoming documents
    is probed against the persisted corpus MinHash index
    (:func:`operators.dedup.minhash_dedup_incremental`); survivors land
    in ``good_path``, near-dups in ``reject_path`` with the matched
    partner and similarity — the landing-zone ingest shape where the
    100 TB corpus is never re-tokenized and each batch pays only its
    own cost.

    Drop rule: a batch doc is rejected when it near-duplicates an
    INDEX doc (regardless of key order — the corpus doc is already
    committed, so the incoming copy always loses, even when its key
    sorts first), or when it is the greater side of a within-batch
    pair (the batch-internal keep-smallest convention). Each reject
    row reports its best-matching partner and THAT partner's
    similarity (one consistent pair, not independent min/max
    aggregates). The index itself is refreshed by the periodic batch job
    (:func:`operators.dedup.write_minhash_index`) — an ingest stream
    appending to its own probe index would make results order-dependent
    within a batch.

    Delivery semantics: by default the two parquet appends per batch
    are not atomic, so a failure between them followed by
    checkpoint-driven replay re-appends the batch — AT-LEAST-ONCE into
    both sinks; downstream consumers dedup by ``key_col`` (good rows)
    / (``key_col``, ``_batch_id``) (reject rows). Pass
    ``exactly_once=True`` for idempotent ``_batch_id``-partitioned
    dynamic-overwrite writes (replays rewrite their own partition —
    no duplicates after kill-and-restart; see
    :func:`_gate_sink_writes`). Returns the started query
    (availableNow trigger; caller awaits/stops)."""
    from promi_spark.operators.dedup import minhash_dedup_incremental

    def _gate(batch: DataFrame, batch_id: int):
        if not batch.head(1):
            return
        pairs = minhash_dedup_incremental(
            batch,
            index_path,
            key_col=key_col,
            text_col=text_col,
            threshold=threshold,
            include_new_pairs=True,
            cache=False,
        )
        keys_df = batch.select(F.col(key_col))
        a_in = keys_df.withColumnsRenamed({key_col: "a"}).withColumn(
            "_a_in", F.lit(True)
        )
        b_in = keys_df.withColumnsRenamed({key_col: "b"}).withColumn(
            "_b_in", F.lit(True)
        )
        marked = (
            pairs.join(a_in, "a", "left")
            .join(b_in, "b", "left")
            .select(
                "a", "b", "jaccard_sim",
                F.coalesce("_a_in", F.lit(False)).alias("a_in"),
                F.coalesce("_b_in", F.lit(False)).alias("b_in"),
            )
        )
        # greater side in batch: loses to an index doc OR an
        # earlier-keyed batch doc; smaller side in batch: loses only
        # when the partner is an index doc (already committed)
        rej_b = marked.filter(F.col("b_in")).select(
            F.col("b").alias(key_col), F.col("a").alias("partner"), "jaccard_sim"
        )
        rej_a = marked.filter(F.col("a_in") & ~F.col("b_in")).select(
            F.col("a").alias(key_col), F.col("b").alias("partner"), "jaccard_sim"
        )
        rejects = (
            rej_b.unionByName(rej_a)
            .groupBy(key_col)
            .agg(F.max(F.struct("jaccard_sim", "partner")).alias("m"))
            .select(
                key_col,
                F.col("m.partner").alias("dup_of"),
                F.col("m.jaccard_sim").alias("jaccard_sim"),
            )
        )
        # persist: rejects feeds BOTH sinks — without it the whole
        # shingle -> minhash -> band-probe pipeline runs twice per batch
        with scope():
            rejects = persist(rejects)
            survivors = batch.join(
                rejects.select(key_col), key_col, "left_anti"
            )
            _gate_sink_writes(
                survivors, rejects, good_path, reject_path,
                batch_id, exactly_once,
            )

    return (
        docs.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_decontaminate_ingest(
    docs: DataFrame,
    bloom_index_path: str,
    good_path: str,
    reject_path: str,
    checkpoint: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 1,
    exactly_once: bool = False,
):
    """Streaming benchmark-decontamination gate: every micro-batch of
    incoming documents is probed against the persisted benchmark Bloom
    sketch (:func:`operators.bloom.write_bench_bloom`); clean docs land
    in ``good_path``, docs sharing >= ``min_shared`` (possible)
    benchmark n-grams in ``reject_path`` with their maybe-shared count.

    Per-batch cost is proportional to the BATCH (its own tokenize +
    gram explode, run ONCE — the flagged verdict is persisted and
    reused for both the anti-join and the reject write) plus a
    fixed-size broadcast of the sparse bloom relation — the index
    parquet + meta sidecar are read once at stream start (r9 advice:
    they used to be re-read every micro-batch) and a ``(word, mask)``
    projection of it is pinned in the executor cache across batches.
    The caller's :func:`promi_spark.lifetime.scope` owns that pin:
    start the gate inside a scope and exit it after the query
    terminates. The benchmark corpus itself is never read at ingest
    time. Bloom semantics guarantee zero false negatives (a truly
    contaminated doc can never reach ``good_path``; the per-gram FP
    rate set at build time bounds over-rejection). The sketch is
    refreshed only when the benchmark suite changes — restart the
    stream to pick up a new index.

    Delivery semantics: the same contract as the sibling near-dup gate
    — AT-LEAST-ONCE appends by default (consumers dedup by ``key_col``
    / (``key_col``, ``_batch_id``)), or ``exactly_once=True`` for
    idempotent ``_batch_id``-partitioned dynamic-overwrite writes (see
    :func:`_gate_sink_writes`). Returns the started query
    (availableNow trigger; caller awaits/stops)."""
    from promi_spark.operators.bloom import decontaminate_bloom, read_bloom_index

    bloom, meta = read_bloom_index(docs.sparkSession, bloom_index_path)
    index = (persist(bloom.select("word", "mask")), meta)

    def _gate(batch: DataFrame, batch_id: int):
        if not batch.head(1):
            return
        verdict = decontaminate_bloom(
            batch,
            key_col=key_col,
            text_col=text_col,
            min_shared=min_shared,
            index=index,
        )
        flagged = verdict.filter(F.col("contaminated")).select(
            key_col, "maybe_shared", "n_grams"
        )
        # persist: flagged feeds BOTH sinks — without it the whole
        # tokenize -> gram-explode -> probe pipeline runs twice per batch
        with scope():
            flagged = persist(flagged)
            survivors = batch.join(
                flagged.select(key_col), key_col, "left_anti"
            )
            _gate_sink_writes(
                survivors, flagged, good_path, reject_path,
                batch_id, exactly_once,
            )

    return (
        docs.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dfg(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Directly-follows edges over a stream: per-trace max-seq state is
    unbounded in pure SQL, so pair construction uses the (ts-ordered)
    micro-batch arrival within ``applyInPandasWithState``-free
    approximation: edges within each micro-batch per case plus
    windowed aggregation. For exact cross-batch DFG use
    :func:`stateful_dfg`."""
    ev = events.withWatermark("ts", watermark)
    return (
        ev.groupBy(F.window("ts", "1 hour"), "case_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("seq", "activity"))
            ).alias("evs")
        )
        .select(
            "case_id",
            F.explode(
                F.zip_with(
                    F.col("evs"),
                    F.slice(F.col("evs"), 2, 2147483646),
                    lambda a, b: F.struct(
                        a["activity"].alias("activity"),
                        b["activity"].alias("next_activity"),
                    ),
                )
            ).alias("edge"),
        )
        .select("case_id", "edge.activity", "edge.next_activity")
        .filter(F.col("next_activity").isNotNull())
    )


def stateful_dfg(
    events: DataFrame, timeout_minutes: int | None = None
) -> DataFrame:
    """Exact streaming DFG via per-case state
    (``applyInPandasWithState`` — the analog of the reference's stateful
    ``Handler``, ``observer.rs:13-55``): state = last (seq, activity)
    per case; each batch emits edges from the stored last event to the
    new ones in order.

    ``timeout_minutes`` bounds state for continuous deployments (open
    cases only — at 100 TB the closed-case state must expire). Leave it
    None for drain-style (``availableNow``) runs: a processing-time
    timeout re-arms on every batch, so an availableNow query would spin
    forever waiting to deliver expirations.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "case_id string, activity string, next_activity string"
    state_schema = "last_seq long, last_activity string"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs)).sort_values(["seq"])
        last_seq, last_act = (
            state.get if state.exists else (None, None)
        )
        # Vectorized adjacent-pair construction: the batch's edge list
        # is (shifted activities, activities) with the carried state as
        # the first predecessor — no per-row Python loop (iterrows here
        # was the dominant per-core cost of the whole streaming family).
        acts = rows["activity"].to_numpy()
        n_rows = len(acts)
        edges = pd.DataFrame(
            {
                "case_id": key[0],
                "activity": np.concatenate(([last_act], acts[:-1]))
                if n_rows
                else acts,
                "next_activity": acts,
            }
        )
        if n_rows and last_act is None:
            edges = edges.iloc[1:]
        if n_rows:
            last_seq, last_act = rows["seq"].iloc[-1], acts[-1]
        state.update((int(last_seq), str(last_act)))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield edges

    return events.groupBy("case_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_minutes is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def stateful_funnel(
    events: DataFrame,
    steps: tuple[str, ...] = ("signup", "click", "purchase"),
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Streaming ordered-step funnel — the stateful twin of the batch
    ``funnel_counts`` fold: per-user state is the tuple of completed
    step timestamps (micros), each batch advances it with exactly the
    batch fold's pre-event-state semantics (an event can complete only
    the first step it matches against the state BEFORE that event, and
    step i requires ts strictly after step i-1), and a (user, stage)
    row is emitted per batch. Stage is monotone, so ``max(stage)`` per
    user after a drain equals the batch verdict.

    State is ``len(steps)`` longs per open user — bounded;
    ``timeout_minutes`` expires idle users for continuous deployments
    (leave None for availableNow drains, same re-arm caveat as
    :func:`stateful_dfg`).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n = len(steps)
    out_schema = "case_id string, stage int"
    state_schema = ", ".join(f"t{i} long" for i in range(n))

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "seq"])
        t = list(state.get) if state.exists else [None] * n
        ts_us = rows["ts"].astype("int64") // 1000
        for ts_v, act in zip(ts_us, rows["activity"]):
            ts_v = int(ts_v)
            new_t = list(t)
            if t[0] is None and act == steps[0]:
                new_t[0] = ts_v
            for i in range(1, n):
                if (
                    t[i] is None
                    and t[i - 1] is not None
                    and act == steps[i]
                    and ts_v > t[i - 1]
                ):
                    new_t[i] = ts_v
            t = new_t
        state.update(tuple(t))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        stage = 0
        for v in t:
            if v is None:
                break
            stage += 1
        yield pd.DataFrame([[key[0], stage]], columns=["case_id", "stage"])

    return events.groupBy("case_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_minutes is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_outliers(
    events: DataFrame,
    z: float = 2.0,
    min_events: int = 3,
    key_col: str = "case_id",
    value_col: str = "value",
    id_col: str = "event_id",
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Streaming per-key anomaly detection — the real-time twin of the
    batch ``value_outliers``: per-user running (count, mean, M2) via
    Welford's online algorithm as ``applyInPandasWithState`` state
    (three numbers per key, bounded), flagging each event more than
    ``z`` population standard deviations from the mean of everything
    seen BEFORE it. Emits (case_id, event_id, value, zscore).

    Unlike the batch operator (two-sided stats over the whole key),
    the streaming score is prefix-causal — an alert can fire the
    moment the event arrives, using only past state — so the two
    operators answer different questions by design and the tests pin
    the streaming semantics on a hand-computed sequence.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "case_id string, event_id long, value double, zscore double"
    state_schema = "n long, mean double, m2 double"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", id_col])
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        out = []
        # zip over materialized columns, not iterrows: the Welford
        # recurrence is inherently sequential (each score uses the
        # prefix state) but per-row Series construction isn't — this
        # keeps the arithmetic bit-identical while dropping the
        # dominant pandas overhead.
        for v, rid in zip(
            rows[value_col].to_numpy(), rows[id_col].to_numpy()
        ):
            if v is not None and not pd.isna(v):
                v = float(v)
                if n >= min_events and m2 > 0:
                    sd = math.sqrt(m2 / n)
                    score = (v - mean) / sd
                    if abs(score) > z:
                        out.append(
                            (str(key[0]), int(rid), v, round(score, 6))
                        )
                n += 1
                d = v - mean
                mean += d / n
                m2 += d * (v - mean)
        state.update((int(n), float(mean), float(m2)))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            out, columns=["case_id", "event_id", "value", "zscore"]
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_minutes is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def run_to_memory(sdf: DataFrame, name: str, output_mode: str = "append"):
    """Test/debug helper: drain an availableNow stream into an
    in-memory table and return the finished query."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
