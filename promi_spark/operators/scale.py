"""Scale machinery: bucketing, sharding, mixture sampling and layout.

The reference runs single-threaded per pipe (``executor.rs:17-68``) so
skew never surfaces there; at 100 TB it is the dominant failure mode —
one hot ``case_id`` (a runaway workflow) or one hot join key lands an
entire executor's worth of rows on one task. Two mitigations, in the
order to try them:

1. **AQE** (on by default in the session): runtime skew-join splitting
   and partition coalescing; zero code. A hot key needs no salting for
   sum/count/min/max: HashAggregate combines map-side, so the key
   reaches the exchange as one partial row per partition.
2. **Bucketing** (this module): pre-shuffle the table ONCE at write
   time (``bucketBy`` on the join/agg key); every later join or
   aggregation on that key skips its exchange entirely — the 100 TB
   amortization play when a table is joined on the same key by many
   queries.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from promi_spark.io import read_parquet
from promi_spark.lifetime import checkpoint


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    n_buckets: int = 32,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` bucketed (and optionally in-bucket sorted) by
    ``key``: the one-time shuffle that every subsequent equi-join /
    aggregation / per-key window on ``key`` skips. Requires a table
    (bucketing metadata lives in the catalog, not in parquet files);
    ``path`` makes it external — data at ``path``, metadata cataloged.

    The ``repartition(n_buckets, *key)`` before the write is the
    prepaid shuffle made explicit: without it every one of the W
    writer tasks opens a file per bucket it sees (W x n_buckets small
    files — the classic bucketBy file-explosion), with it task ==
    bucket, at most one file per bucket, and the ``sort_by`` runs once
    per bucket. Empty buckets write no file.

    Sizing rule at scale: same n_buckets across every table of a
    subject area (mismatched counts silently reintroduce the shuffle —
    see :func:`bucket_spec`), sized so the LARGEST table's bucket is
    ~100-200 MB."""
    keys = [key] if isinstance(key, str) else list(key)
    out = df.repartition(n_buckets, *keys)
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    w = out.write.format("parquet").mode(mode).bucketBy(n_buckets, *keys)
    if sort_by:
        w = w.sortBy(*sort_by)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucket_spec(spark: SparkSession, table: str) -> dict:
    """Introspect a table's bucket layout from the catalog:
    ``{"n_buckets": int, "bucket_cols": [...], "sort_cols": [...]}``
    (zeros/empty when unbucketed). Callers deciding whether a
    co-located join is actually available check equality of
    (bucket_cols arity, n_buckets) on both sides — a mismatch is not
    an error, just a silent exchange (pinned in tests)."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    info = {r.col_name: (r.data_type or "") for r in rows}

    def _cols(k: str) -> list[str]:
        raw = info.get(k, "")
        return [c.strip(" `") for c in raw.strip("[]").split(",") if c.strip(" `")]

    n = info.get("Num Buckets", "").strip()
    return {
        "n_buckets": int(n) if n.isdigit() else 0,
        "bucket_cols": _cols("Bucket Columns"),
        "sort_cols": _cols("Sort Columns"),
    }


def write_events_bucketed(
    log, table: str, n_buckets: int = 32, path: str | None = None
) -> None:
    """Bucket an :class:`~promi_spark.log.EventLog`'s events by
    ``case_id``, in-bucket sorted ``(case_id, seq)`` — the layout every
    per-case operator (the W-family windows, DFG edges, trace-scope
    filters, sessionization) consumes with NO exchange and no re-sort.
    The log header (Meta) is out-of-band by design; persist it next to
    the table via the XES/binary writers when the table must
    round-trip as a full log."""
    write_bucketed(
        log.df,
        table,
        key="case_id",
        n_buckets=n_buckets,
        sort_by=["case_id", "seq"],
        path=path,
    )


def parallelism_units(spark: SparkSession, factor: int = 4) -> int:
    """Cluster-parallelism-derived task-count default: ``factor`` x the
    max of ``defaultParallelism`` and ``spark.sql.shuffle.partitions``.

    Max of the two signals because under dynamic allocation
    defaultParallelism reflects only currently-registered executors,
    while shuffle.partitions is sized for the cluster. The conf value
    can be non-numeric on some platforms (e.g. ``"auto"`` under
    Databricks AQE auto-optimized shuffle) — fall back to
    defaultParallelism alone in that case rather than raising.
    ``factor`` > 1 over-partitions so stragglers from uneven units
    rebalance across task slots.
    """
    try:
        conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        conf_parts = 0
    return factor * max(spark.sparkContext.defaultParallelism, conf_parts, 1)


def shard_id(key: Column | str, n_shards: int, seed: int = 0) -> Column:
    """Deterministic, engine-portable shard assignment: the first 8 hex
    digits of ``md5(key ':' seed)`` read as an integer, mod
    ``n_shards``. Stable across retries, sessions, engines (DuckDB
    computes the identical value — see oracles.shard_assignment_sql) and
    cluster sizes, which is what a training-data export needs: re-runs
    land every row in the same shard file."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.substring(F.md5(F.concat_ws(":", c, F.lit(str(seed)))), 1, 8)
    return F.pmod(F.conv(h, 16, 10).cast("long"), F.lit(n_shards))


def corpus_shuffle(
    df: DataFrame,
    n_shards: int | None = None,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic global training-order shuffle: assign every
    document a seeded pseudo-random ``(shard, pos)`` so a pretraining
    loader reading shards in order visits the corpus in a reproducible
    permutation. This is the standard step BEFORE sequence packing —
    without it, within-shard order follows the source key (typically
    crawl/ingest order), leaking a curriculum into packed batches.

    Shard membership is the engine-portable :func:`shard_id` md5;
    position is the rank of an independent md5 coin (salt ``"pos"`` —
    same namespace convention as Split/Sample, ``split.py:43``) within
    the shard, key-tiebroken, so FOR A GIVEN ``n_shards`` the
    permutation is total and bit-reproducible across retries,
    sessions, engines, partition layouts, and cluster sizes. The
    permutation CONTENT depends on ``n_shards`` (shard membership
    changes — same caveat as ``pack_index``): pin it explicitly
    whenever a re-run must replay the exact order, since the
    parallelism-derived default varies with live cluster size.

    Scale shape: one shard-key exchange + a per-shard window sort —
    parallel across shards, never a global single-partition rank.
    ``n_shards`` defaults to :func:`parallelism_units` (like
    ``pack_index``): ~32k shards on a 1000-executor cluster keeps each
    shard's sort at corpus/32k ≈ 3 GB for 100 TB. The output joins
    back to the corpus on ``key_col`` or feeds a shard-file writer
    directly.
    """
    from pyspark.sql import Window

    from promi_spark.operators.split import coin_hex

    if n_shards is None:
        n_shards = parallelism_units(df.sparkSession)
    key_s = F.col(key_col).cast("string")
    w = Window.partitionBy("shard").orderBy("pos_coin", key_col)
    return (
        df.select(
            F.col(key_col),
            shard_id(key_s, n_shards, seed).alias("shard"),
            coin_hex(key_s, seed, salt="pos").alias("pos_coin"),
        )
        .withColumn("pos", F.row_number().over(w) - 1)
        .drop("pos_coin")
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic stratified corpus sampling: keep each row with the
    per-stratum probability ``rates[stratum]`` (``default_rate`` for
    unlisted strata) — the operator a pretraining pipeline runs after
    reading its mixing weights off :func:`operators.text.source_mix`.

    Selection is the same engine-portable md5 coin as Split/Sample
    (``split.py:44``): row kept iff
    ``md5(key ':' seed ':mix')[:8] < hex_threshold(rate)``. That makes
    the sample (a) exactly reproducible across retries, sessions,
    engines and cluster sizes — a re-run of a 100 TB export keeps
    byte-identical rows; (b) a superset/subset chain under rate changes
    (raising a stratum's rate only ADDS rows, so mixtures can be tuned
    incrementally without resampling the world); and (c) purely narrow —
    the per-row threshold is a broadcast-free CASE over ``strata_col``,
    so the whole operator is one codegen filter pass with zero shuffles
    and full pushdown below it.
    """
    from promi_spark.operators.split import coin_hex, hex_threshold

    thresh: Column = F.lit(hex_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strata_col) == stratum, F.lit(hex_threshold(rate))
        ).otherwise(thresh)
    coin = coin_hex(F.col(key_col).cast("string"), seed, salt="mix")
    return df.filter(coin < thresh)


def temperature_mixture(
    df: DataFrame,
    alpha: float,
    source_col: str = "source",
    text_col: str = "text",
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual-LM
    sampling rule, public formulation per Conneau & Lample 2019 /
    XLM-R): resample so source i's share moves from its natural token
    share p_i toward p_i^alpha (alpha < 1 flattens the mix — low-
    resource sources keep everything, dominant sources are
    downsampled; alpha = 1 is the identity; alpha > 1 sharpens).

    A sampler can only DROP rows, so rates are normalized to the
    no-upsampling optimum: ``rate_i = (n_i / n_ref)^(alpha-1)`` with
    ``n_ref = min_j n_j`` for alpha <= 1 (``max_j`` for alpha > 1), so
    the reference source keeps rate 1 and every other rate lands in
    (0, 1]. ``n_i / n_ref`` is a ratio of exact integer token sums —
    the totals cancel — so both engines feed ``pow`` the identical
    double, and the rate is rounded to 9 digits before the threshold
    conversion so a last-ulp ``pow`` divergence cannot flip a row.

    Selection is the same engine-portable md5 coin as Split/Sample/
    mixture_sample (row kept iff ``coin < threshold_hex(rate)``), so
    the sample is reproducible across engines/sessions/partitionings
    and rate changes produce superset/subset chains. Plan shape: one
    |sources|-row aggregate (map-side combined), a window over that
    tiny relation, a broadcast join back, then a narrow codegen
    filter — the corpus is scanned once and never shuffled. A source
    with zero tokens is pinned to rate 1 explicitly (and excluded from
    the pow reference — with alpha <= 1 it would otherwise BE the min
    and null out every rate): it contributes nothing to the mix, so
    dropping its docs is never required for the target distribution.
    A NULL source is a stratum of its own (null-safe join), sampled at
    its computed rate rather than dropped.
    """
    from promi_spark.operators.split import coin_hex

    rates = temperature_rates(df, alpha, source_col, text_col).select(
        F.col("source").alias("__src"),
        # the same threshold conversion as split.hex_threshold, in-plan:
        # hex() is uppercase in BOTH engines while the md5 coin is
        # lowercase hex (uppercase sorts BEFORE lowercase digits), so
        # the lower() is load-bearing — see the r9 temperature_mixture
        # oracle mismatch
        F.when(F.col("rate") >= 1.0, F.lit("g"))
        .otherwise(
            F.lpad(
                F.lower(
                    F.hex(
                        F.floor(F.col("rate") * F.lit(float(16**8))).cast(
                            "bigint"
                        )
                    )
                ),
                8,
                "0",
            )
        )
        .alias("__thr"),
    )
    coin = coin_hex(F.col(key_col).cast("string"), seed, salt="tmix")
    # null-safe equality: a NULL source is a stratum of its own (groupBy
    # keeps it, so temperature_rates computed a rate for it) — a plain
    # equi-join would silently drop those rows even at alpha = 1,
    # breaking the documented identity contract
    return (
        df.join(
            F.broadcast(rates),
            F.col(source_col).eqNullSafe(F.col("__src")),
            "inner",
        )
        .filter(coin < F.col("__thr"))
        .drop("__src", "__thr")
    )


def temperature_rates(
    df: DataFrame,
    alpha: float,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The rate table behind :func:`temperature_mixture`, exposed as an
    observability report: (source, n_tokens, rate) — what fraction of
    each source the alpha-temperature sampler keeps. A pipeline reads
    this (like :func:`operators.text.source_mix`) to review the mix
    before committing the 100 TB sampling pass; the sampler itself
    derives its thresholds from exactly this relation, so the report
    can never drift from the executed rates. One map-side-combined
    |sources|-row aggregate plus a window over that tiny relation."""
    from promi_spark.operators.text import token_count

    # the pow reference must come from token-BEARING sources only: with
    # alpha <= 1 a zero-token source would otherwise BE the min, making
    # every other rate pow(x/0, negative) -> null and silently dropping
    # the whole corpus downstream. A zero-token source is pinned to
    # rate 1 explicitly — it contributes nothing to the token mix, so
    # dropping its rows is never required for the target distribution.
    nz = F.when(F.col("__nt") > 0, F.col("__nt"))
    ref = F.min(nz) if alpha <= 1 else F.max(nz)
    return (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(F.sum(token_count(F.col(text_col))).alias("__nt"))
        .select(
            "source",
            F.col("__nt").alias("n_tokens"),
            F.when(F.col("__nt") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.pow(
                        F.col("__nt")
                        / ref.over(Window.partitionBy()).cast("double"),
                        F.lit(alpha - 1.0),
                    ),
                    9,
                )
            )
            .alias("rate"),
        )
    )


def write_shards(
    df: DataFrame,
    path: str,
    key: str,
    n_shards: int = 256,
    seed: int = 0,
    mode: str = "overwrite",
) -> None:
    """Fixed-shard training-data export: assign every row its stable shard,
    repartition ON THE SHARD COLUMN (one shuffle, each task owns whole
    shards -> exactly one file per shard), write partitioned by shard.
    Downstream loaders address shards by directory; re-runs are
    byte-stable modulo row order within a shard."""
    out = df.withColumn("shard", shard_id(key, n_shards, seed))
    out.repartition(n_shards, "shard").write.mode(mode).partitionBy(
        "shard"
    ).parquet(path)


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_mb: int = 512,
    mode: str = "overwrite",
) -> dict:
    """Small-files compaction: rewrite a parquet dataset into
    ``ceil(total_bytes / target_file_mb)`` files. Streaming sinks and
    fine-grained ingest leave thousands of KB-scale files whose
    per-file open/footer cost dominates scans at scale; nightly
    compaction to scan-sized files is the standard fix.

    Sizing reads the actual byte size from the Hadoop FileSystem (any
    supported scheme, not just local disk). Reducing file count uses
    ``coalesce`` — a NARROW rewrite, no shuffle: tasks concatenate
    input splits — and only growing the file count (splitting a few
    huge files) pays a round-robin repartition. Returns the
    before/after accounting the caller should log."""
    import math

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(in_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    summary = fs.getContentSummary(hpath)
    n_bytes = summary.getLength()
    n_files_in = summary.getFileCount()
    n_out = max(1, math.ceil(n_bytes / (target_file_mb * 1024 * 1024)))

    df = read_parquet(spark, in_path)
    n_parts = df.rdd.getNumPartitions()
    out = df.coalesce(n_out) if n_out <= n_parts else df.repartition(n_out)
    out.write.mode(mode).parquet(out_path)
    return {
        "input_bytes": int(n_bytes),
        "input_files": int(n_files_in),
        "output_files": int(n_out),
        "target_file_mb": target_file_mb,
    }


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — planner
    elides both exchanges (verify: no Exchange below the SortMergeJoin
    in ``.explain``)."""
    return spark.table(left_table).join(spark.table(right_table), key, how)


def global_ntile(
    df: DataFrame,
    n_buckets: int,
    order: list[Column | str],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Exact SQL ``ntile(n) OVER (ORDER BY order)`` without the
    single-partition WindowExec (an unpartitioned window moves the
    WHOLE relation to one task — the one plan shape that cannot
    survive 10^9 rows).

    Distributed shape: range-repartition on ``order`` (sampled bounds,
    balanced, no single reducer) + sort within partitions; then
    ``monotonically_increasing_id`` encodes (partition index << 33 |
    local row number) so the global rank is ``offset[pid] + local + 1``
    with per-partition row counts collected once (a bounds-documented
    P-sized collect, P = shuffle partitions). The ntile bucket is then
    pure arithmetic on the rank — one distributed exchange total,
    everything else narrow codegen.

    ``order`` must be a TOTAL order (append a unique key) — ties
    crossing a range-partition boundary would otherwise make ranks
    layout-dependent. The ranked relation is ``localCheckpoint``-ed
    (lineage CUT, not merely cached): range-exchange bounds are
    re-sampled with a fresh seed on every execution, so a plain
    ``persist()`` whose blocks get evicted (e.g. a harness calling
    ``spark.catalog.clearCache()`` between the count job and the
    output job — the exact failure seen in the r7 sf1 soak) would
    silently recompute a DIFFERENT layout under the frozen offsets
    map and corrupt every rank. With the checkpoint, recompute is
    impossible: the pinned layout is either served or the job fails
    loudly (on a real cluster, use ``spark.sparkContext.setCheckpointDir``
    + ``.checkpoint()`` for executor-loss resilience). Relation
    lifetime: README "Relation lifetime"; outside a scope the blocks
    are freed by the ContextCleaner once unreferenced.
    """
    spark = df.sparkSession
    try:
        p = int(spark.conf.get("spark.sql.shuffle.partitions") or "200")
    except ValueError:  # e.g. "auto" under AQE auto-sizing platforms
        p = parallelism_units(spark, factor=1)
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    d_pre = (
        df.repartitionByRange(p, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__mid", F.monotonically_increasing_id())
    )
    d = checkpoint(d_pre)
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy(F.shiftright("__mid", 33).alias("_pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n = sum(counts.values())
    if n == 0:
        out = df.withColumn(bucket_col, F.lit(None).cast("int"))
        out.rank_plan = d_pre
        return out
    offsets: list[Column] = []
    acc = 0
    for pid in sorted(counts):
        offsets += [F.lit(int(pid)), F.lit(acc)]
        acc += counts[pid]
    rank = (
        F.element_at(F.create_map(*offsets), F.shiftright("__mid", 33))
        + F.pmod("__mid", F.lit(1 << 33))
        + 1
    )
    # SQL ntile semantics: the first (n mod k) buckets hold ceil(n/k)
    # rows, the rest floor(n/k); with n < k the bucket IS the rank.
    q, r = divmod(n, n_buckets)
    if q == 0:
        bucket = rank
    else:
        head = r * (q + 1)  # rows covered by the ceil-sized buckets
        bucket = F.when(
            rank <= head, F.floor((rank - 1) / (q + 1)) + 1
        ).otherwise(F.lit(r) + F.floor((rank - head - 1) / q) + 1)
    out = d.withColumn(bucket_col, bucket.cast("int")).drop("__mid")
    # the lazy pre-checkpoint stage, exposed so plan tests can assert
    # the distributed shape (the checkpointed plan is an ExistingRDD
    # scan — the range exchange already ran)
    out.rank_plan = d_pre
    return out


def zorder_value(cols: list[Column], bits: int = 16) -> Column:
    """Morton (Z-order) interleaving of pre-bucketed integer columns:
    bit b of column c lands at position ``b * len(cols) + c`` of the
    curve value. Callers bucket each dimension into ``[0, 2^bits)``
    first (e.g. ``floor(rank / width)`` or a truncated epoch).

    Why: parquet row-group min/max pruning works on ONE sort key; a
    Z-order sort key gives multi-dimensional locality, so selective
    filters on ANY of the interleaved dimensions skip most row groups
    (the Delta/Iceberg OPTIMIZE ZORDER technique, public formulation).
    Pure shift/and/or arithmetic — narrow, whole-stage codegen, no UDF.
    """
    n = len(cols)
    if n < 1:
        raise ValueError("zorder_value needs at least one column")
    if bits * n > 63:
        raise ValueError(
            f"zorder_value: bits * len(cols) = {bits * n} exceeds the 63 "
            "usable bits of a signed long — high bits would shift past the "
            "word and silently corrupt (sign-flip) the curve value; lower "
            "`bits` or interleave fewer columns"
        )
    terms = []
    for c_idx, c in enumerate(cols):
        x = c.cast("long")
        for b in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(x, b).bitwiseAND(F.lit(1)),
                    b * n + c_idx,
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[Column],
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Write ``df`` clustered along the Z-order curve of ``cols``:
    range-repartition on the curve value (sampled range bounds — a
    balanced global partitioning without a single-reducer sort), sort
    within partitions, drop the helper column. Each output file then
    covers a tight hyper-rectangle of the interleaved dimensions, so
    min/max row-group stats prune on every dimension."""
    z = df.withColumn("__z", zorder_value(cols, bits))
    n_files = n_files or parallelism_units(df.sparkSession, factor=1)
    (
        z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
