"""P0/P1 core: schema adaptation, stats, filters, split — checked
against DuckDB on the same parquet (the driver's oracle pattern)."""

import pyspark.sql.functions as F
import pytest

from promi_spark.operators import stats
from promi_spark.operators.filters import (
    Concept,
    TimeFilters,
    classifier_column,
    cnf,
    filter_events,
    filter_traces,
)
from promi_spark.operators.split import hex_threshold, sample, split


def test_schema_has_canonical_columns(event_log):
    for col in ["case_id", "seq", "activity", "ts", "attrs"]:
        assert col in event_log.df.columns


def test_seq_is_dense_per_case(event_log):
    agg = (
        event_log.trace_events()
        .groupBy("case_id")
        .agg(F.min("seq").alias("lo"), F.max("seq").alias("hi"), F.count("*").alias("n"))
        .filter((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1))
    )
    assert agg.count() == 0


def test_statistics_matches_duckdb(event_log, duck):
    s = stats.collect_statistics(event_log)
    n_traces, n_events = duck.execute(
        "SELECT count(DISTINCT user_id), count(*) FROM events"
    ).fetchone()
    assert s.n_traces == n_traces
    assert s.n_events_total == n_events
    assert s.n_standalone_events == 0


def test_filter_eq_matches_duckdb(event_log, duck):
    got = filter_events(event_log, Concept.name_eq("purchase")).df.count()
    (want,) = duck.execute(
        "SELECT count(*) FROM events WHERE event_type = 'purchase'"
    ).fetchone()
    assert got == want


def test_filter_in_and_match(event_log, duck):
    got = filter_events(event_log, Concept.name_in(["click", "view"])).df.count()
    (want,) = duck.execute(
        "SELECT count(*) FROM events WHERE event_type IN ('click','view')"
    ).fetchone()
    assert got == want
    got = filter_events(event_log, Concept.name_match("^(sign|err)")).df.count()
    (want,) = duck.execute(
        "SELECT count(*) FROM events WHERE regexp_matches(event_type, '^(sign|err)')"
    ).fetchone()
    assert got == want


def test_strict_filter_raises_on_missing(event_log):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException

    log = event_log.with_df(
        event_log.df.withColumn(
            "activity", F.when(F.col("seq") > 2, F.col("activity"))
        )
    )
    with pytest.raises((Py4JJavaError, PySparkRuntimeError, SparkRuntimeException, Exception)):
        filter_events(log, Concept.name_eq("purchase", lenient=False)).df.count()


def test_cnf_and_of_ors(event_log, duck):
    got = cnf(
        event_log.df,
        [
            [Concept.name_eq("purchase"), Concept.name_eq("click")],
            [F.col("value") > 50],
        ],
    ).count()
    (want,) = duck.execute(
        "SELECT count(*) FROM events WHERE event_type IN ('purchase','click') AND value > 50"
    ).fetchone()
    assert got == want


def test_empty_disjunction_is_false(event_log):
    assert cnf(event_log.df, [[]]).count() == 0


def test_trace_scope_filter_both_strategies_agree(event_log, duck):
    cond = Concept.name_eq("error")
    a = filter_traces(event_log, cond, how="window").df.count()
    b = filter_traces(event_log, cond, how="semijoin").df.count()
    (want,) = duck.execute(
        "SELECT count(*) FROM events WHERE user_id IN "
        "(SELECT user_id FROM events WHERE event_type = 'error')"
    ).fetchone()
    assert a == b == want


def test_time_filters(event_log, duck):
    got = filter_events(
        event_log, TimeFilters.before(F.col("ts"), "2024-01-10 00:00:00")
    ).df.count()
    (want,) = duck.execute(
        "SELECT count(*) FROM events WHERE ts < TIMESTAMP '2024-01-10 00:00:00'"
    ).fetchone()
    assert got == want


def test_classifier_column(event_log):
    df = event_log.df.withColumn(
        "cls", classifier_column(["activity", "case_id"])
    )
    row = df.filter(F.col("case_id").isNotNull()).select("cls").first()
    assert " " in row["cls"]


def test_split_is_partition_and_deterministic(event_log):
    train, test = split(event_log, 0.8, seed=0)
    n, tr, te = event_log.df.count(), train.df.count(), test.df.count()
    assert tr + te == n
    assert abs(tr / n - 0.8) < 0.25  # only 15 cases at sf0.001; coarse
    train2, _ = split(event_log, 0.8, seed=0)
    assert train2.df.count() == tr
    # whole traces land on one side
    overlap = train.df.select("case_id").intersect(test.df.select("case_id"))
    assert overlap.count() == 0


def test_split_ratio_statistical(spark):
    """Reference acceptance: mean ratio within tolerance over seeds
    (split.rs:221-222) — here at event granularity for resolution."""
    from promi_spark.log import EventLog

    df = spark.range(20000).select(
        F.col("id").cast("string").alias("case_id"),
        F.lit(0).cast("long").alias("seq"),
        F.lit("a").alias("activity"),
        F.current_timestamp().alias("ts"),
    )
    log = EventLog.from_events(df)
    ratios = []
    for seed in range(5):
        tr, _ = split(log, 0.3, seed=seed)
        ratios.append(tr.df.count() / 20000)
    mean = sum(ratios) / len(ratios)
    assert abs(mean - 0.3) / 0.3 < 1.5e-2


def test_sample_equals_train_side(event_log):
    train, _ = split(event_log, 0.5, seed=3)
    assert sample(event_log, 0.5, seed=3).df.count() == train.df.count()


def test_hex_threshold_bounds():
    assert hex_threshold(0.0) == "00000000"
    assert hex_threshold(1.0) > "ffffffff"  # keep-all sorts after any coin
    assert hex_threshold(0.5) == "80000000"


def test_funnel_counts_hand_checked(spark, monkeypatch, tmp_path):
    """Ordered-step semantics: a click BEFORE the signup doesn't count;
    a purchase before the qualifying click doesn't count."""
    import datetime as dt

    from promi_spark.queries import QUERIES

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: full ordered funnel
    rows += [(1, base, 1, "signup", 0.0, "{}"),
             (2, base + dt.timedelta(hours=1), 1, "click", 0.0, "{}"),
             (3, base + dt.timedelta(hours=2), 1, "purchase", 0.0, "{}")]
    # user 2: click precedes signup -> no qualifying click
    rows += [(4, base, 2, "click", 0.0, "{}"),
             (5, base + dt.timedelta(hours=1), 2, "signup", 0.0, "{}")]
    # user 3: purchase precedes the click -> signup+click only
    rows += [(6, base, 3, "signup", 0.0, "{}"),
             (7, base + dt.timedelta(hours=1), 3, "purchase", 0.0, "{}"),
             (8, base + dt.timedelta(hours=2), 3, "click", 0.0, "{}")]
    # user 4: never signs up
    rows += [(9, base, 4, "click", 0.0, "{}")]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "events.parquet")
    df.write.parquet(d)
    import promi_spark.io as pio

    orig = pio.load_table

    def fake_load(spark_, name, sf_dir):
        if name == "events":
            return spark_.read.parquet(d)
        return orig(spark_, name, sf_dir)

    import promi_spark.queries as q
    monkeypatch.setattr(q, "load_table", fake_load)
    got = QUERIES["funnel_counts"][0](spark, "unused").collect()[0]
    assert (got["n_users"], got["n_signup"], got["n_click_after"],
            got["n_purchase_after"]) == (4, 3, 2, 1)


def test_value_outliers_flags_known_anomaly(spark):
    from promi_spark.operators.stats import value_outliers

    rows = [(i, 1, float(v)) for i, v in enumerate([10, 10, 10, 10, 10, 100])]
    rows += [(100 + i, 2, 10.0) for i in range(4)]  # zero variance: no output
    rows += [(200, 3, 1.0), (201, 3, 99.0)]  # below min_events
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    out = value_outliers(df, min_events=3).collect()
    assert [(r["event_id"], r["user_id"]) for r in out] == [(5, 1)]
    assert out[0]["zscore"] > 2


def test_per_key_cap_deterministic_and_bounded(spark):
    from promi_spark.operators.split import per_key_cap

    df = spark.createDataFrame(
        [(i, "a" if i < 80 else "b") for i in range(100)],
        "doc_id long, source string",
    )
    kept = per_key_cap(df, "source", 10, "doc_id")
    counts = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"a": 10, "b": 10}
    # same selection under a different partitioning
    again = per_key_cap(df.repartition(7), "source", 10, "doc_id")
    assert sorted(map(tuple, kept.collect())) == sorted(map(tuple, again.collect()))
    # different seed -> (almost surely) different kept set for the fat key
    other = per_key_cap(df, "source", 10, "doc_id", seed=1)
    a_ids = {r["doc_id"] for r in kept.collect() if r["source"] == "a"}
    b_ids = {r["doc_id"] for r in other.collect() if r["source"] == "a"}
    assert a_ids != b_ids


def test_weighted_sample_biased_and_deterministic(spark):
    from promi_spark.operators.split import weighted_sample

    # weight 100 vs 1: heavy rows should dominate the kept set
    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    kept = weighted_sample(df, 40, "w", "doc_id")
    ids = {r["doc_id"] for r in kept.collect()}
    assert len(ids) == 40
    heavy = sum(1 for i in ids if i < 50)
    assert heavy >= 25, heavy  # 50 heavy rows at 100x weight dominate
    # partitioning-invariant
    again = {r["doc_id"] for r in weighted_sample(df.repartition(13), 40, "w", "doc_id").collect()}
    assert ids == again
    # zero/negative weights never selected
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 1.0)], "doc_id long, w double"
    )
    assert [r["doc_id"] for r in weighted_sample(df2, 3, "w", "doc_id").collect()] == [3]


def test_weighted_sample_global_topk_plan(spark):
    import re

    from promi_spark.operators.split import weighted_sample

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit(1.0).alias("w")
    )
    out = weighted_sample(df, 10, "w", "doc_id")
    je = out._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = je.explainString(mode.fromString("formatted"))
    assert "TakeOrderedAndProject" in plan  # heap-merge, not a global sort
    assert not re.search(r"\(\d+\) Sort\b", plan)


def test_value_histogram_bins(spark):
    from promi_spark.operators.stats import value_histogram

    df = spark.createDataFrame(
        [(1, "a", 0.0), (2, "a", 9.99), (3, "a", 10.0), (4, "a", -0.01),
         (5, "b", 25.0), (6, "b", None)],
        "event_id long, event_type string, value double",
    )
    got = {(r["event_type"], r["bin"]): (r["lo"], r["n"])
           for r in value_histogram(df, bin_width=10.0).collect()}
    assert got == {
        ("a", 0): (0.0, 2),     # 0.0 and 9.99
        ("a", 1): (10.0, 1),    # 10.0 starts the next bin
        ("a", -1): (-10.0, 1),  # negatives floor downward
        ("b", 2): (20.0, 1),
    }


def test_curation_operator_argument_guards(spark):
    import pytest

    from promi_spark.operators.joins import interval_overlap_join
    from promi_spark.operators.split import per_key_cap, weighted_sample
    from promi_spark.operators.text import chunk_docs

    df = spark.createDataFrame([(1, "x", 1.0)], "doc_id long, source string, w double")
    with pytest.raises(ValueError, match="n must be"):
        per_key_cap(df, "source", 0, "doc_id")
    with pytest.raises(ValueError, match="k must be"):
        weighted_sample(df, 0, "w", "doc_id")
    with pytest.raises(ValueError, match="positive"):
        chunk_docs(df.selectExpr("doc_id", "'t' AS text"), chunk_chars=0)
    iv = spark.createDataFrame([], "id long, start_ts timestamp, end_ts timestamp")
    with pytest.raises(ValueError, match="bucket_seconds"):
        interval_overlap_join(iv, iv, bucket_seconds=0)


def test_value_hour_correlation_known_values(spark):
    import datetime as dt

    from promi_spark.operators.stats import value_hour_correlation

    rows = []
    for h in range(6):
        ts = dt.datetime(2024, 1, 1, h)
        rows.append((len(rows), ts, "up", float(10 + 2 * h)))     # corr +1
        rows.append((len(rows), ts, "down", float(50 - 3 * h)))   # corr -1
        rows.append((len(rows), ts, "flat", 7.0))                 # zero var
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    got = {r["event_type"]: r["corr"] for r in value_hour_correlation(df).collect()}
    assert got["up"] == 1.0
    assert got["down"] == -1.0
    assert got["flat"] is None


def test_driver_window_all_oracled_and_sized():
    """The first 50 registry entries form the driver's correctness
    window: every one must carry a DuckDB oracle, and an insertion
    that accidentally shifts the window boundary (pushing an intended
    member out) is caught by pinning the 50th entry."""
    import __spark_entry__ as e

    names = list(e.queries())
    oracles = e.oracle_sql()
    window = names[:50]
    assert all(n in oracles for n in window), [
        n for n in window if n not in oracles
    ]
    # boundary pin: update deliberately when rotating the window
    # (r15 rotation: the five oracled r14-VERDICT-named queries lead,
    # then every query whose code changed in r15 — minhash/banding
    # family, semantic_dedup, token_heavy_hitters — then the oldest
    # driver witnesses: the full r11 block and the head of the r12
    # block; the two slots the retired duplicate dedup witnesses freed
    # went to corpus_cardinality and cross_doc_substrings)
    assert names[0] == "pq_topk"  # r14-VERDICT-named block starts
    assert names[5] == "minhash_near_dups"  # r15-changed block starts
    assert names[14] == "value_hour_corr"  # oldest-witness block starts
    assert names[49] == "cross_doc_substrings"
    assert names[50] == "dfg"  # first out-of-window


def test_ntile_null_placement_matches_duckdb(spark):
    """rfm_segments orders quartile windows with explicit NULLS LAST on
    both engines (Spark defaults NULLS FIRST asc, DuckDB NULLS LAST —
    a silent cross-engine quartile divergence for all-NULL users,
    round-5 ADVICE item). Pin the explicit form to DuckDB's output."""
    import duckdb

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(1, 5.0), (2, None), (3, 1.0), (4, 9.0), (5, None), (6, 3.0)]
    df = spark.createDataFrame(rows, "user_id long, monetary double")
    got = {
        r["user_id"]: r["m"]
        for r in df.select(
            "user_id",
            F.ntile(4)
            .over(Window.orderBy(F.asc_nulls_last("monetary"), "user_id"))
            .alias("m"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (user_id BIGINT, monetary DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(
        con.execute(
            "SELECT user_id, ntile(4) OVER "
            "(ORDER BY monetary NULLS LAST, user_id) FROM t"
        ).fetchall()
    )
    assert got == want
