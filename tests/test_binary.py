"""Arrow-IPC binary frame serialization round-trip (SURVEY §2.1 S8)."""

import pytest
from pyspark.sql import functions as F

from promi_spark.io import load_table
from promi_spark.io.binary import (
    from_arrow_frames,
    read_arrow_frames,
    to_arrow_frames,
    write_arrow_frames,
)

SF = "/root/testdata/sf0.001"


def test_frames_round_trip_counts_and_content(spark):
    df = load_table(spark, "events", SF)
    frames = to_arrow_frames(df)
    got = from_arrow_frames(frames, df.schema)
    assert got.schema == df.schema
    assert got.count() == df.count()
    # content equality, order-insensitive
    a = df.orderBy("event_id").collect()
    b = got.orderBy("event_id").collect()
    assert a == b


def test_frames_row_count_column(spark):
    df = load_table(spark, "nation", SF)
    total = to_arrow_frames(df).agg(F.sum("n_rows")).first()[0]
    assert total == df.count()


def test_frames_persist_round_trip(spark, tmp_path):
    df = load_table(spark, "region", SF)
    p = str(tmp_path / "frames")
    write_arrow_frames(df, p)
    got = read_arrow_frames(spark, p, df.schema)
    assert sorted(r["r_name"] for r in got.collect()) == sorted(
        r["r_name"] for r in df.collect()
    )


def test_frames_stream_kafka_shape(spark, tmp_path):
    """The Kafka integration shape without Kafka: frames land as files,
    a stream reads the binary payloads, foreachBatch decodes them with
    from_arrow_frames and appends typed rows — counts match the source."""
    from promi_spark.io.binary import from_arrow_frames, write_arrow_frames

    df = load_table(spark, "events", SF)
    frames_dir = str(tmp_path / "frames")
    out_dir = str(tmp_path / "decoded")
    ckpt = str(tmp_path / "ckpt")
    write_arrow_frames(df, frames_dir)

    frames_schema = spark.read.parquet(frames_dir).schema
    stream = spark.readStream.schema(frames_schema).parquet(frames_dir)

    def decode(batch, _bid):
        from_arrow_frames(batch, df.schema).write.mode("append").parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(decode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(out_dir).count() == df.count()


def test_frames_stream_exactly_once_under_restart(spark, tmp_path):
    """Exactly-once frame decode across a stream restart (the Kafka
    offset-commit contract, exercised through the file source +
    checkpoint): run the stream to completion, land MORE frames, restart
    from the same checkpoint — already-processed frames must not be
    re-decoded, new ones must all arrive, and the decoded rows must
    equal the source rows value-for-value (not just by count)."""
    from promi_spark.io.binary import from_arrow_frames, to_arrow_frames

    ev = load_table(spark, "events", SF).select("event_id", "event_type", "value")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    frames_dir = str(tmp_path / "frames")
    out_dir = str(tmp_path / "decoded")
    ckpt = str(tmp_path / "ckpt")
    to_arrow_frames(first).write.mode("append").parquet(frames_dir)

    frames_schema = spark.read.parquet(frames_dir).schema

    def run_stream():
        stream = spark.readStream.schema(frames_schema).parquet(frames_dir)

        def decode(batch, _bid):
            from_arrow_frames(batch, first.schema).write.mode(
                "append"
            ).parquet(out_dir)

        q = (
            stream.writeStream.foreachBatch(decode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_stream()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == first.count()

    # land a second wave of frames, restart from the same checkpoint
    to_arrow_frames(second).write.mode("append").parquet(frames_dir)
    run_stream()

    decoded = spark.read.parquet(out_dir)
    # exactly-once: first-wave frames were NOT re-decoded on restart
    assert decoded.count() == ev.count()
    assert decoded.select("event_id").distinct().count() == ev.count()
    # value-level parity with the source
    assert decoded.exceptAll(ev).count() == 0
    assert ev.exceptAll(decoded).count() == 0

