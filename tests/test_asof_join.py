"""asof_join: most-recent-match temporal join (union-window plan)."""

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from promi_spark.operators.joins import asof_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _sides(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _ts("2024-01-01T10:00:00"), 100.0),
            (2, "u1", _ts("2024-01-01T12:00:00"), 200.0),
            (3, "u2", _ts("2024-01-01T09:00:00"), 300.0),  # before any right
            (4, "u3", _ts("2024-01-01T11:00:00"), 400.0),  # key with no right
        ],
        "id long, user string, ts timestamp, amount double",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01T09:30:00"), "a"),
            ("u1", _ts("2024-01-01T11:00:00"), "b"),
            ("u1", _ts("2024-01-01T12:00:00"), "c"),  # tie with left id=2
            ("u2", _ts("2024-01-01T09:30:00"), "d"),
        ],
        "user string, ts timestamp, state string",
    )
    return left, right


def test_backward_matches_latest_at_or_before(spark):
    left, right = _sides(spark)
    rows = {
        r["id"]: r
        for r in asof_join(left, right, on="user", left_ts="ts").collect()
    }
    assert rows[1]["state_r"] == "a"
    assert rows[2]["state_r"] == "c"  # tie is inclusive
    assert rows[3]["state_r"] is None and rows[3]["ts_r"] is None
    assert rows[4]["state_r"] is None
    assert rows[1]["amount"] == 100.0  # left payload intact


def test_forward_matches_earliest_at_or_after(spark):
    left, right = _sides(spark)
    rows = {
        r["id"]: r
        for r in asof_join(
            left, right, on="user", left_ts="ts", direction="forward"
        ).collect()
    }
    assert rows[1]["state_r"] == "b"  # next right after 10:00
    assert rows[2]["state_r"] == "c"  # tie inclusive forward too
    assert rows[3]["state_r"] == "d"
    assert rows[4]["state_r"] is None


def test_tolerance_nulls_stale_matches(spark):
    left, right = _sides(spark)
    rows = {
        r["id"]: r
        for r in asof_join(
            left,
            right,
            on="user",
            left_ts="ts",
            tolerance=F.expr("INTERVAL 45 MINUTES"),
        ).collect()
    }
    assert rows[1]["state_r"] == "a"  # 30 min stale: kept
    assert rows[2]["state_r"] == "c"  # exact tie: kept
    assert rows[3]["state_r"] is None  # no prior match at all


def test_single_exchange_plan(spark):
    """The whole as-of join is one shuffle on the key: union is
    exchange-free and both window + filter run on the same
    partitioning."""
    left, right = _sides(spark)
    out = asof_join(left, right, on="user", left_ts="ts")
    je = out._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = je.explainString(mode.fromString("formatted"))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1


def test_matched_row_null_payload_survives(spark):
    """A matched right row's own NULL payload must NOT be back-filled
    from an older right row (the payload travels as one struct): the
    result has to agree with DuckDB's ASOF LEFT JOIN row semantics."""
    left = spark.createDataFrame(
        [(1, "u", _ts("2024-01-01T03:00:00"))], "id long, user string, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            ("u", _ts("2024-01-01T01:00:00"), 100.0),
            ("u", _ts("2024-01-01T02:00:00"), None),  # the actual match
        ],
        "user string, ts timestamp, price double",
    )
    rows = asof_join(left, right, on="user", left_ts="ts").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["ts_r"] == _ts("2024-01-01T02:00:00")
    assert r["price_r"] is None  # NOT 100.0 from the older row


def test_interval_overlap_join_exactly_once_multibucket(spark):
    """A pair overlapping across many shared buckets must emit ONE row
    (later-start bucket dedup), and disjoint intervals emit none."""
    from promi_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00", "2024-01-01 05:00:00"),
         (2, "2024-01-02 00:00:00", "2024-01-02 01:00:00")],
        "lid long, start_ts string, end_ts string",
    ).selectExpr("lid", "CAST(start_ts AS TIMESTAMP) start_ts",
                 "CAST(end_ts AS TIMESTAMP) end_ts")
    right = spark.createDataFrame(
        [(10, "2024-01-01 01:00:00", "2024-01-01 09:00:00"),  # 4 shared hrs
         (11, "2024-01-01 05:00:00", "2024-01-01 05:10:00"),  # touches end
         (12, "2024-01-03 00:00:00", "2024-01-03 01:00:00")],  # disjoint
        "rid long, start_ts string, end_ts string",
    ).selectExpr("rid", "CAST(start_ts AS TIMESTAMP) start_ts",
                 "CAST(end_ts AS TIMESTAMP) end_ts")
    out = interval_overlap_join(left, right, bucket_seconds=3600).collect()
    pairs = sorted((r["lid"], r["rid_r"], r["overlap_us"]) for r in out)
    assert pairs == [(1, 10, 4 * 3600 * 1_000_000), (1, 11, 0)]


def test_interval_overlap_join_long_tail_split_exact(spark):
    """Duration-skew guard: with a pathological interval spanning the
    whole range (the r12 skew soak's hot-user session), the two-level
    split must emit exactly the naive pair set — long x long,
    long x short, and short x short pairs each exactly once — and be
    identical to the single-pass plan (long_tail_buckets=None)."""
    from pyspark.sql import functions as F

    from promi_spark.operators.joins import interval_overlap_join

    rows = [
        # one giant interval covering everything (LONG at any base)
        (0, "2024-01-01 00:00:00", "2024-03-01 00:00:00"),
        # a second long one, partially overlapping the first
        (1, "2024-02-01 00:00:00", "2024-04-01 00:00:00"),
        # short intervals inside / outside the giants
        (2, "2024-01-05 10:00:00", "2024-01-05 10:30:00"),
        (3, "2024-02-10 00:00:00", "2024-02-10 00:10:00"),
        (4, "2024-05-01 00:00:00", "2024-05-01 01:00:00"),  # disjoint
        (5, "2024-01-05 10:15:00", "2024-01-05 11:00:00"),  # overlaps 2
    ]
    iv = spark.createDataFrame(
        rows, "iid long, start_ts string, end_ts string"
    ).selectExpr(
        "iid",
        "CAST(start_ts AS TIMESTAMP) start_ts",
        "CAST(end_ts AS TIMESTAMP) end_ts",
    )

    def pairs(**kw):
        out = interval_overlap_join(
            iv, iv, bucket_seconds=600,
            extra=F.col("iid") < F.col("iid_r"), **kw
        )
        return sorted(
            (r["iid"], r["iid_r"], r["overlap_us"]) for r in out.collect()
        )

    split = pairs()  # default long_tail_buckets=256 (T = 600s*256)
    single = pairs(long_tail_buckets=None)
    naive = sorted(
        (a, b, 0)
        for i, (a, s1, e1) in enumerate(
            (r["iid"], r["start_ts"], r["end_ts"]) for r in iv.collect()
        )
        for (b, s2, e2) in (
            (r["iid"], r["start_ts"], r["end_ts"]) for r in iv.collect()
        )
        if a < b and s1 <= e2 and s2 <= e1
    )
    assert [(a, b) for a, b, _ in split] == [(a, b) for a, b, _ in naive]
    assert split == single  # identical rows incl. overlap_us


def test_interval_overlap_join_matches_naive_cross(spark, sf_dir):
    """Bucketized result == naive cross-join range filter on real
    session intervals, across a bucket width smaller than many
    sessions (forces multi-bucket spans)."""
    from pyspark.sql import functions as F

    from promi_spark.operators.joins import interval_overlap_join
    from promi_spark.queries import q_user_sessions

    sess = (
        q_user_sessions(spark, sf_dir)
        .select("user_id", "session_id", "session_start", "session_end")
        .cache()
    )
    fast = interval_overlap_join(
        sess, sess, start_col="session_start", end_col="session_end",
        bucket_seconds=120,
        extra=F.col("user_id") < F.col("user_id_r"),
    ).select("user_id", "session_id", "user_id_r", "session_id_r")
    r = sess.select(*[F.col(c).alias(c + "_r") for c in sess.columns])
    naive = (
        sess.crossJoin(r)
        .filter(
            (F.col("session_start") <= F.col("session_end_r"))
            & (F.col("session_start_r") <= F.col("session_end"))
            & (F.col("user_id") < F.col("user_id_r"))
        )
        .select("user_id", "session_id", "user_id_r", "session_id_r")
    )
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, naive.collect()))
    sess.unpersist()


def test_interval_overlap_auto_bucket_matches_fixed(spark, sf_dir):
    """bucket_seconds='auto' (the default) derives a duration-scaled
    width and produces the IDENTICAL pair set as any fixed width —
    width is purely a candidate-volume knob. On the session corpus
    (p50 ~ tens of seconds) auto must land far below the old 3600 s
    fixed default."""
    from pyspark.sql import functions as F

    from promi_spark.operators.joins import (
        _auto_bucket_seconds,
        interval_overlap_join,
    )
    from promi_spark.queries import q_user_sessions

    sess = (
        q_user_sessions(spark, sf_dir)
        .select("user_id", "session_id", "session_start", "session_end")
        .cache()
    )
    kw = dict(
        start_col="session_start",
        end_col="session_end",
        extra=F.col("user_id") < F.col("user_id_r"),
    )
    cols = ["user_id", "session_id", "user_id_r", "session_id_r"]
    auto = interval_overlap_join(sess, sess, **kw).select(*cols)
    fixed = interval_overlap_join(sess, sess, bucket_seconds=3600, **kw).select(
        *cols
    )
    assert auto.exceptAll(fixed).count() == 0
    assert fixed.exceptAll(auto).count() == 0
    w = _auto_bucket_seconds(
        sess, sess, "session_start", "session_end",
        "session_start", "session_end",
    )
    assert 1 <= w < 3600


def test_interval_overlap_auto_bucket_floors_and_tail_guard(spark):
    """Zero-length intervals floor the auto width at 1 s; a heavy
    duration tail raises it to ~p99/256 so one interval cannot explode
    into unbounded bucket rows; empty input falls back without a job
    crash."""
    from promi_spark.operators.joins import (
        _auto_bucket_seconds,
        interval_overlap_join,
    )

    def intervals(rows):
        return spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(rows)],
            "id long, s string, e string",
        ).selectExpr(
            "id", "CAST(s AS TIMESTAMP) AS s", "CAST(e AS TIMESTAMP) AS e"
        )

    instant = intervals(
        [("2024-01-01 00:00:00", "2024-01-01 00:00:00")] * 9
    )
    assert _auto_bucket_seconds(instant, instant, "s", "e", "s", "e") == 1

    # p50 = 0 but one 10-day interval: width ~ p99/256 ~ 3375 s, so the
    # long interval explodes into ~256 rows instead of ~860k 1 s rows
    tail = intervals(
        [("2024-01-01 00:00:00", "2024-01-01 00:00:00")] * 9
        + [("2024-01-01 00:00:00", "2024-01-11 00:00:00")]
    )
    w = _auto_bucket_seconds(tail, tail, "s", "e", "s", "e")
    assert 2000 <= w <= 4000

    empty = instant.filter("id < 0")
    assert _auto_bucket_seconds(empty, empty, "s", "e", "s", "e") == 3600
    assert (
        interval_overlap_join(empty, empty, start_col="s", end_col="e").count()
        == 0
    )


def test_interval_overlap_join_cache_release(spark):
    """Repeated calls in one session must not accumulate cache-manager
    entries (r12 ADVICE: the bucket_seconds<1 error path persisted
    before validating). The scope frees exactly the inputs the join
    pinned; the validation error path persists nothing, and the
    auto-width error path frees what it pinned."""
    from pyspark import StorageLevel
    from pyspark.errors import AnalysisException

    from promi_spark.lifetime import scope
    from promi_spark.operators.joins import interval_overlap_join

    jsc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    base = jsc.getPersistentRDDs().size()

    iv = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
         (2, "2024-01-01 00:30:00", "2024-01-01 02:00:00")],
        "id long, start_ts string, end_ts string",
    ).selectExpr("id", "CAST(start_ts AS TIMESTAMP) start_ts",
                 "CAST(end_ts AS TIMESTAMP) end_ts")

    # invalid width: the ValueError must fire BEFORE anything persists
    with pytest.raises(ValueError, match="bucket_seconds"):
        interval_overlap_join(iv, iv, bucket_seconds=0)
    assert jsc.getPersistentRDDs().size() == base
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    # the auto-width quantile fails after the inputs are pinned: it
    # releases them on the way out, with or without a scope
    for scoped in (False, True):
        with pytest.raises(AnalysisException):
            if scoped:
                with scope():
                    interval_overlap_join(iv, iv, start_col="missing")
            else:
                interval_overlap_join(iv, iv, start_col="missing")
        assert iv.storageLevel == StorageLevel.NONE
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    for _ in range(3):
        with scope():
            out = interval_overlap_join(iv, iv)
            assert out.count() == 4  # self-join: both self-pairs + both directions
    assert jsc.getPersistentRDDs().size() == base
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_interval_overlap_join_keeps_caller_persisted_input(spark, sf_dir):
    """An input the caller persisted before the join stays the caller's:
    the join neither pins it again nor evicts it when its scope exits
    (before, the join's own release evicted the caller's cache)."""
    from pyspark import StorageLevel

    from promi_spark.lifetime import scope
    from promi_spark.operators.joins import interval_overlap_join
    from promi_spark.queries import q_user_sessions

    sess = q_user_sessions(spark, sf_dir).select(
        "user_id", "session_id", "session_start", "session_end"
    ).persist()
    try:
        with scope():
            out = interval_overlap_join(
                sess, sess, start_col="session_start", end_col="session_end",
                extra=F.col("user_id") < F.col("user_id_r"),
            )
            assert out.count() >= 0
        assert sess.storageLevel != StorageLevel.NONE
    finally:
        sess.unpersist()


def test_session_overlaps_releases_inside_scope(spark, sf_dir):
    """The registry query's persisted session relation is freed when
    the caller's scope exits."""
    from promi_spark.lifetime import scope
    from promi_spark.queries import QUERIES

    fn, _ = QUERIES["session_overlaps"]
    jsc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()
    base = jsc.getPersistentRDDs().size()
    with scope():
        assert fn(spark, sf_dir).count() >= 0
        assert jsc.getPersistentRDDs().size() > base
    assert jsc.getPersistentRDDs().size() == base
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
