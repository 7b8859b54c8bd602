"""EventLog view & Org/TimeFilters coverage: nested traces, unions,
standalone events, interval algebra variants."""

from datetime import datetime

from pyspark.sql import functions as F

from promi_spark.log import EventLog


def _mk(spark, rows):
    df = spark.createDataFrame(
        rows, "case_id string, seq long, activity string, ts string, resource string, role string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return EventLog.from_events(df)


def _sample_log(spark):
    return _mk(
        spark,
        [
            ("c1", 0, "a", "2024-01-01 10:00:00", "alice", "dev"),
            ("c1", 1, "b", "2024-01-01 11:00:00", "bob", "ops"),
            ("c2", 0, "a", "2024-01-02 09:00:00", "alice", "dev"),
            (None, 0, "ping", "2024-01-03 00:00:00", None, None),
        ],
    )


def test_views_partition_rows(spark):
    log = _sample_log(spark)
    assert log.events().count() == 4
    assert log.trace_events().count() == 3
    assert log.standalone_events().count() == 1
    traces = {r["case_id"]: r for r in log.traces().collect()}
    assert traces["c1"]["n_events"] == 2
    assert traces["c1"]["start_ts"] == datetime(2024, 1, 1, 10, 0)
    assert traces["c1"]["end_ts"] == datetime(2024, 1, 1, 11, 0)


def test_nested_traces_ordered(spark):
    log = _mk(
        spark,
        [
            ("c1", 1, "b", "2024-01-01 11:00:00", None, None),
            ("c1", 0, "a", "2024-01-01 10:00:00", None, None),
            ("c1", 2, "c", "2024-01-01 12:00:00", None, None),
        ],
    )
    nested = log.nested_traces().collect()
    assert len(nested) == 1
    acts = [e["activity"] for e in nested[0]["events"]]
    assert acts == ["a", "b", "c"]  # sort_array restored seq order


def test_union_concatenates(spark):
    a = _sample_log(spark)
    b = _mk(spark, [("c9", 0, "z", "2024-02-01 00:00:00", None, None)])
    u = a.union(b)
    assert u.df.count() == 5
    assert u.trace_events().select("case_id").distinct().count() == 3


def test_org_filters(spark):
    from promi_spark.operators.filters import Org, filter_events

    log = _sample_log(spark)
    assert filter_events(log, Org.resource_eq("alice")).df.count() == 2
    assert filter_events(log, Org.role_in(["ops"])).df.count() == 1
    assert filter_events(log, Org.resource_match("^a")).df.count() == 2
    # lenient: NULL resource (the standalone ping) maps to False, no error
    assert filter_events(log, Org.resource_eq("nobody")).df.count() == 0


def test_time_interval_variants(spark):
    from promi_spark.operators.filters import TimeFilters, trace_interval_cols

    log = _sample_log(spark)
    iv = trace_interval_cols(log).filter(F.col("case_id").isNotNull())
    s, e = F.col("trace_start"), F.col("trace_end")
    before = iv.filter(TimeFilters.before(e, "2024-01-02 00:00:00"))
    assert {r["case_id"] for r in before.collect()} == {"c1"}
    after = iv.filter(TimeFilters.after(s, "2024-01-01 23:00:00"))
    assert {r["case_id"] for r in after.collect()} == {"c2"}
    starts = iv.filter(
        TimeFilters.starts_in(s, "2024-01-01 00:00:00", "2024-01-01 23:59:59")
    )
    assert {r["case_id"] for r in starts.collect()} == {"c1"}
    ends = iv.filter(
        TimeFilters.ends_in(e, "2024-01-02 00:00:00", "2024-01-02 23:59:59")
    )
    assert {r["case_id"] for r in ends.collect()} == {"c2"}
    eq = iv.filter(
        TimeFilters.eq(s, e, "2024-01-02 09:00:00", "2024-01-02 09:00:00")
    )
    assert {r["case_id"] for r in eq.collect()} == {"c2"}  # degenerate


def test_from_events_fills_missing_columns(spark):
    df = spark.createDataFrame([("c1", 0, "a")], "case_id string, seq long, activity string")
    log = EventLog.from_events(df)
    from promi_spark.schema import EVENTS_SCHEMA

    for f_ in EVENTS_SCHEMA.fields:
        assert f_.name in log.df.columns
    row = log.df.first()
    assert row["ts"] is None and row["attrs"] is None


def test_from_events_column_order_and_types(spark):
    """Present columns keep their place; the missing canonical ones
    follow in EVENTS_SCHEMA order, typed as there, extras untouched."""
    from promi_spark.schema import EVENTS_SCHEMA

    df = spark.createDataFrame(
        [("x", "a", "c1", 3)], "extra string, activity string, case_id string, event_id long"
    )
    log = EventLog.from_events(df)
    missing = [f_ for f_ in EVENTS_SCHEMA.fields if f_.name not in ("activity", "case_id")]
    assert log.df.columns == ["extra", "activity", "case_id", "event_id"] + [f_.name for f_ in missing]
    assert [(f_.name, f_.dataType) for f_ in log.df.schema.fields[4:]] == [
        (f_.name, f_.dataType) for f_ in missing
    ]
    assert log.df.schema.fields[:4] == df.schema.fields
    # a frame that already has every canonical column comes back as is
    assert EventLog.from_events(log.df).df is log.df
