"""Session-scoped parquet source resolution (``promi_spark.io``): a local
source is resolved once per session and handed back until a file under
it changes; other paths read straight through, as ``spark.read.parquet``
does."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from promi_spark.io import load_event_log, load_table, read_parquet
from promi_spark.schema import Meta


def _write(path, n):
    pq.write_table(pa.table({"id": list(range(n)), "v": [float(i) for i in range(n)]}), path)


def _job_ids(spark, group):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_repeat_load_returns_same_frame_without_a_job(spark, sf_dir, tmp_path):
    for name in ("events", "documents"):
        shutil.copy(f"{sf_dir}/{name}.parquet", tmp_path / f"{name}.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("io-memo-probe", "memo probe")
    try:
        first = load_table(spark, "events", str(tmp_path))
        miss_jobs = _job_ids(spark, "io-memo-probe")
        again = load_table(spark, "events", str(tmp_path))
        log_a = load_event_log(spark, str(tmp_path))
        log_b = load_event_log(spark, str(tmp_path))
        raw_a = read_parquet(spark, str(tmp_path / "documents.parquet"))
        raw_b = read_parquet(spark, str(tmp_path / "documents.parquet"))
        # a miss resolves the source (schema inference is a Spark job)
        after_miss = _job_ids(spark, "io-memo-probe")
        hit = read_parquet(spark, str(tmp_path / "documents.parquet"))
        hit_jobs = _job_ids(spark, "io-memo-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert miss_jobs
    assert again is first and log_b.df is log_a.df and raw_b is raw_a and hit is raw_a
    assert hit_jobs == after_miss


def test_rewritten_source_is_reread(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, 5)
    a = read_parquet(spark, path)
    assert a.count() == 5
    _write(path, 9)
    b = read_parquet(spark, path)
    assert b is not a
    assert b.count() == 9
    assert read_parquet(spark, path) is b
    # a directory source: a rewrite adds and drops part files
    d = str(tmp_path / "dir")
    spark.range(3).write.parquet(d)
    c = read_parquet(spark, d)
    assert c.count() == 3
    spark.range(7).write.mode("overwrite").parquet(d)
    assert read_parquet(spark, d).count() == 7


def test_rewritten_table_reconverts(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/region.parquet", tmp_path / "region.parquet")
    a = load_table(spark, "region", str(tmp_path))
    n = a.count()
    pq.write_table(pq.read_table(tmp_path / "region.parquet").slice(0, 2), tmp_path / "region.parquet")
    b = load_table(spark, "region", str(tmp_path))
    assert b is not a and b.count() == 2 < n


def test_second_session_gets_its_own_frame(spark, sf_dir):
    other = spark.newSession()
    a = load_table(spark, "nation", sf_dir)
    b = load_table(other, "nation", sf_dir)
    assert b is not a
    assert b.sparkSession is other and a.sparkSession is spark
    assert load_table(other, "nation", sf_dir) is b
    assert b.count() == a.count()


def test_missing_and_non_local_paths_read_through(spark, tmp_path):
    missing = str(tmp_path / "nope.parquet")
    for _ in range(2):
        with pytest.raises(AnalysisException):
            read_parquet(spark, missing)
    with pytest.raises(AnalysisException):
        load_table(spark, "nope", str(tmp_path))
    path = str(tmp_path / "t.parquet")
    _write(path, 4)
    for p in (f"file://{path}", str(tmp_path / "*.parquet")):
        a, b = read_parquet(spark, p), read_parquet(spark, p)
        assert a is not b
        assert a.count() == b.count() == 4
    # a path that appears later is resolved then
    _write(missing, 2)
    assert read_parquet(spark, missing).count() == 2


def test_self_join_of_two_loads_matches_duckdb(spark, sf_dir, duck):
    a = load_table(spark, "events", sf_dir)
    b = load_table(spark, "events", sf_dir)
    assert a is b
    got = (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(F.col("a.event_type").alias("t"))
        .agg(F.count(F.lit(1)).alias("n"), F.max(F.col("b.ts")).alias("last"))
    )
    want = duck.execute(
        """SELECT a.event_type AS t, count(*) AS n, max(b.ts) AS last
           FROM events a JOIN events b
             ON a.user_id = b.user_id AND a.event_id < b.event_id
            AND a.event_type <> b.event_type
           GROUP BY a.event_type"""
    ).fetchall()
    spark_rows = sorted((r.t, r.n, r.last.replace(tzinfo=None)) for r in got.collect())
    duck_rows = sorted((t, n, last.replace(tzinfo=None)) for t, n, last in want)
    assert spark_rows and spark_rows == duck_rows
    # Without aliases the two sides are one frame: Spark refuses the
    # ambiguous reference instead of guessing a side.
    with pytest.raises(AnalysisException, match="ambiguous"):
        a.join(b, (a.user_id == b.user_id) & (a.event_id < b.event_id)).count()


def test_event_log_meta_is_per_call(spark, sf_dir):
    m = Meta(attributes={"concept:name": "mine"})
    mine = load_event_log(spark, sf_dir, meta=m)
    assert mine.meta is m
    other = load_event_log(spark, sf_dir)
    assert other.df is mine.df
    assert other.meta is not m and other.meta == Meta()
    other.meta.attributes["x"] = "y"
    assert load_event_log(spark, sf_dir).meta == Meta()
    assert m.attributes == {"concept:name": "mine"}


def test_source_frames_are_not_shared_across_paths(spark, tmp_path):
    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    _write(p1, 3)
    _write(p2, 3)
    assert read_parquet(spark, p1) is not read_parquet(spark, p2)
    # relative and absolute spellings of one path share the frame
    rel = os.path.relpath(p1)
    assert read_parquet(spark, rel) is read_parquet(spark, p1)
