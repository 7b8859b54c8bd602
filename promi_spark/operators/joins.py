"""As-of (most-recent-match) join — a temporal join Spark has no native
operator for, expressed as a single-shuffle union-window plan.

For each left row, attach the columns of the latest right row with the
same key whose timestamp is <= the left timestamp (``direction=
'backward'``; ``'forward'`` takes the earliest right row >=). This is
the enrichment join of event pipelines — "state as of this event":
attribute a purchase to the most recent signup, price a trade at the
last quote, stamp a log line with the active config version.

Scale shape — why union+window instead of a range join: the naive
formulation (equi-join on key + inequality on ts + argmax) explodes to
|left_per_key| x |right_per_key| intermediate rows before pruning.
Instead both sides are unioned with a side tag and windowed per key in
timestamp order, forward-filling the right columns with
``last(ignorenulls=True)``: every row is touched exactly once, state
per key is O(right row width), and the whole operator is ONE exchange
on the key (plan-asserted in tests). Skewed keys are ordinary window
skew — salt upstream or let AQE split; ``tolerance`` bounds staleness
without changing the plan.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from promi_spark.lifetime import persist

__all__ = ["asof_join", "interval_overlap_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str = "ts",
    right_ts: str | None = None,
    right_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance: Column | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Left as-of join: every left row, plus the ``right_cols`` of the
    most recent (``backward``) or next (``forward``) right row per key.

    Unmatched left rows keep NULL right columns (left-outer semantics,
    matching DuckDB's ``ASOF LEFT JOIN`` which serves as the oracle).
    Ties (right.ts == left.ts) match, mirroring the oracle's ``>=``.
    ``tolerance`` (an interval Column, e.g. ``F.expr("INTERVAL 7 DAYS")``)
    nulls matches staler than the bound without a second pass.

    The matched right timestamp is always returned as
    ``{right_ts}{suffix}`` so callers can compute staleness.
    """
    keys = [on] if isinstance(on, str) else list(on)
    right_ts = right_ts or left_ts
    if right_cols is None:
        right_cols = [
            c for c in right.columns if c not in keys and c != right_ts
        ]
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    rcols = [f"{c}{suffix}" for c in right_cols]
    ts_r = f"{right_ts}{suffix}"
    lcols = [c for c in left.columns if c not in keys and c != left_ts]

    # Common union schema: keys + event time + side tag + left payload
    # (NULL on right rows) + right payload (NULL on left rows). The
    # side tag orders right rows BEFORE left rows at equal timestamps
    # so ties match inclusively in both directions. The right payload
    # travels as ONE struct so the forward fill carries whole rows —
    # per-column last(ignorenulls) would back-fill a matched row's
    # NULL payload value from an OLDER right row, fabricating a row
    # that never existed (the matched row's own NULLs must survive,
    # as they do in DuckDB's ASOF LEFT JOIN).
    from pyspark.sql.types import StructField, StructType

    r_struct_type = StructType(
        [StructField(ts_r, right.schema[right_ts].dataType)]
        + [
            StructField(a, right.schema[c].dataType)
            for c, a in zip(right_cols, rcols)
        ]
    )
    r_side = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.struct(
            F.col(right_ts).alias(ts_r),
            *[F.col(c).alias(a) for c, a in zip(right_cols, rcols)],
        ).alias("__r"),
    )
    l_side = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        *lcols,
        F.lit(None).cast(r_struct_type).alias("__r"),
    )
    order = [F.col("__t"), F.col("__side")]
    if direction == "forward":
        order = [F.col("__t").desc(), F.col("__side")]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = r_side.unionByName(l_side).select(
        *keys,
        "__t",
        "__side",
        *lcols,
        F.last("__r", ignorenulls=True).over(w).alias("__r"),
    )
    out = filled.filter(F.col("__side") == 1).select(
        *keys,
        "__t",
        *lcols,
        *[F.col(f"__r.{c}").alias(c) for c in [ts_r] + rcols],
    )
    if tolerance is not None:
        gap_ok = (
            F.col(ts_r) >= F.col("__t") - tolerance
            if direction == "backward"
            else F.col(ts_r) <= F.col("__t") + tolerance
        )
        out = out.select(
            *keys,
            "__t",
            *lcols,
            *[
                F.when(gap_ok, F.col(c)).alias(c)
                for c in [ts_r] + rcols
            ],
        )
    return out.select(
        *keys, F.col("__t").alias(left_ts), *lcols, ts_r, *rcols
    )


def _auto_bucket_seconds(
    left: DataFrame,
    right: DataFrame,
    start_col: str,
    end_col: str,
    right_start: str,
    right_end: str,
) -> int:
    """Duration-scaled bucket width: the p50 interval length, floored
    at 1 s, raised to p99/256 so a heavy duration tail cannot explode
    into unbounded bucket rows (an interval emits ~dur/bucket + 1
    rows; the raise caps the p99 interval at ~256). Any width is
    CORRECT (the later-start-bucket rule emits each pair exactly once
    regardless), so this is purely a candidate-volume knob — buckets
    sized ~ the typical interval keep within-bucket probe volume
    proportional to true overlap density instead of inflating it by
    bucket_width / typical_duration (measured 15-80x on sub-minute
    sessions vs the old fixed 3600 s default)."""
    durs = left.select(
        (F.unix_micros(F.col(end_col)) - F.unix_micros(F.col(start_col))).alias(
            "d"
        )
    )
    if right is not left:
        durs = durs.unionByName(
            right.select(
                (
                    F.unix_micros(F.col(right_end))
                    - F.unix_micros(F.col(right_start))
                ).alias("d")
            )
        )
    qs = durs.approxQuantile("d", [0.5, 0.99], 0.01)
    if not qs:
        return 3600  # empty/all-null input: any width is fine
    q50, q99 = qs
    us = max(q50, q99 / 256.0, 1_000_000.0)
    return max(1, int(math.ceil(us / 1_000_000.0)))


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    right_start: str | None = None,
    right_end: str | None = None,
    bucket_seconds: int | str = "auto",
    extra: Column | None = None,
    suffix: str = "_r",
    long_tail_buckets: int | None = 256,
) -> DataFrame:
    """Inner join of interval rows whose [start, end] ranges overlap
    (inclusive) — WITHOUT an equi key. Spark plans a bare range
    predicate as a nested-loop/cartesian join; this rewrites it as an
    equi-join on time buckets.

    Scale shape: each interval explodes into the ``bucket_seconds``-
    wide epoch buckets it spans, the join is a hash equi-join on
    ``bucket``, and the exact overlap predicate filters within
    buckets. A pair spanning several shared buckets would match once
    per bucket; instead of a ``distinct`` (a second shuffle over the
    matched pairs) the pair is kept only in the bucket containing the
    LATER of the two starts — a point every overlapping pair shares by
    definition — so output is exactly once per pair with no dedup
    stage. ``bucket_seconds`` should sit ~ the typical interval
    length: wider buckets mean fewer exploded rows but more
    within-bucket false candidates; the default ``"auto"`` derives it
    from the data (p50 duration, tail-guarded — see
    :func:`_auto_bucket_seconds`; one extra approxQuantile job) and
    the result set is identical for ANY width. At 100 TB the bucket
    key is the shuffle key, so skewed hot buckets split under AQE.

    ``extra`` adds a residual predicate (e.g. ``left.user != right
    .user``). Right columns are suffixed. ``overlap_us`` = inclusive
    overlap length in microseconds.

    DURATION-SKEW GUARD (``long_tail_buckets``, default 256): an
    interval emits ~dur/bucket rows, so one pathological interval —
    e.g. a hot case whose "session" never closes — would explode into
    span/bucket rows (432k at the r12 skew soak's hot user: one 30-day
    session over ~6 s buckets) and then candidate-join against every
    bucket it touches. Intervals longer than ``long_tail_buckets``
    buckets are therefore joined in a SECOND, coarser pass whose
    bucket width is ``long_tail_buckets`` x the base width: the pair
    space is partitioned exactly by (left long?, right long?) —
    short x short at the base width, (long x any) + (short x long) at
    the coarse width — with the later-start-bucket rule applied per
    pass, so every overlapping pair still emits exactly once and the
    worst interval emits span/(256 x base) rows. The auto width's
    p99/256 floor already bounds the p99 interval; this bounds the
    MAXIMUM. Pass ``long_tail_buckets=None`` to disable (single-pass,
    pre-r12 plan). Result sets are identical either way.

    The inputs are PERSISTED (memory, disk-spill): the plan references
    ``left``/``right`` several times (the auto-width quantile, both
    join sides, and the long/short branch filters), and when the input
    is itself an aggregation — the canonical caller joins a windowed
    SESSION relation — every reference would otherwise re-run that
    upstream pipeline (measured 4x wall on the r12 hot-key soak:
    46 s -> 11 s once built exactly once). Interval relations are
    post-aggregation (sessions, not raw events), so the footprint is
    the reduced relation, spilling to executor disk at scale.
    Persisting happens AFTER parameter validation, and the auto-width
    quantile releases the inputs it pinned if it fails, so no error
    path leaves a cache-manager entry, scoped or not. An input the
    caller already cached is used as is and stays the caller's
    (relation lifetime: README "Relation lifetime").
    """
    from pyspark import StorageLevel

    if bucket_seconds != "auto" and int(bucket_seconds) < 1:
        raise ValueError("bucket_seconds must be a positive integer")
    pinned = [
        persist(df, StorageLevel.MEMORY_AND_DISK)
        for df in {id(left): left, id(right): right}.values()
        if df.storageLevel == StorageLevel.NONE
    ]

    rs, re_ = right_start or start_col, right_end or end_col
    if bucket_seconds == "auto":
        try:
            bucket_seconds = _auto_bucket_seconds(
                left, right, start_col, end_col, rs, re_
            )
        except Exception:
            for df in pinned:
                df.unpersist()
            raise
    w1_us = int(bucket_seconds) * 1_000_000

    r_all = right.select(
        *[F.col(c).alias(f"{c}{suffix}") for c in right.columns]
    )
    ls, le = F.unix_micros(F.col(start_col)), F.unix_micros(F.col(end_col))
    rs_c = F.unix_micros(F.col(f"{rs}{suffix}"))
    re_c = F.unix_micros(F.col(f"{re_}{suffix}"))
    later_start = F.greatest(ls, rs_c)

    def pass_join(lhs: DataFrame, rhs: DataFrame, w_us: int) -> DataFrame:
        W = F.lit(w_us)
        lx = lhs.withColumn(
            "__b",
            F.explode(F.sequence(F.floor(ls / W), F.floor(le / W))),
        )
        rx = rhs.withColumn(
            "__b",
            F.explode(F.sequence(F.floor(rs_c / W), F.floor(re_c / W))),
        )
        cond = (
            (ls <= re_c)
            & (rs_c <= le)
            & (F.col("__b") == F.floor(later_start / W))
        )
        return lx.join(rx, "__b").filter(cond)

    if long_tail_buckets is None:
        out = pass_join(left, r_all, w1_us)
    else:
        t_us = w1_us * int(long_tail_buckets)
        l_long = (le - ls) >= F.lit(t_us)
        r_long = (re_c - rs_c) >= F.lit(t_us)
        # exact partition of the pair space: short x short at the base
        # width; pairs with a long LEFT member, then short-left x
        # long-right, at the coarse width — each pair in exactly one
        # branch, each branch exactly-once by its own later-start rule
        out = (
            pass_join(left.filter(~l_long), r_all.filter(~r_long), w1_us)
            .unionByName(pass_join(left.filter(l_long), r_all, t_us))
            .unionByName(
                pass_join(left.filter(~l_long), r_all.filter(r_long), t_us)
            )
        )
    if extra is not None:
        out = out.filter(extra)
    return out.withColumn(
        "overlap_us", F.least(le, re_c) - later_start
    ).drop("__b")
