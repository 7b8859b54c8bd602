"""Binary stream serialization (SURVEY §2.1 S8: the reference's
declared-but-unimplemented ``BinaryReader``/``BinaryWriter`` network
scenario, ``src/lib.rs:29-32``).

The wire unit is an Arrow IPC *stream frame*: one self-describing
``binary`` blob per record batch — exactly the shape a Kafka message
value, a socket payload, or an object-store blob takes. Encoding and
decoding run as ``mapInArrow`` passes: zero-copy between the JVM and
pyarrow, no per-row Python, no shuffle, and the frame boundary is the
incoming Arrow batch boundary, so the whole path is one narrow stage
in each direction.

At 100 TB the same functions ARE the Kafka integration: pair
``to_arrow_frames`` with ``writeStream.format("kafka")`` (frame ->
``value``) and ``from_arrow_frames`` with ``readStream.format
("kafka")``; neither function changes. Arrow IPC is the one wire
format: each frame carries its own schema, and the round trip is
oracle-checked (``arrow_roundtrip``) and restart-tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from promi_spark.io.ingest import read_parquet

FRAME_SCHEMA = "frame binary, n_rows long"


def to_arrow_frames(df: DataFrame) -> DataFrame:
    """Serialize a DataFrame into Arrow IPC stream frames:
    ``(frame binary, n_rows long)``, one row per incoming Arrow batch.
    """

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, batch.schema) as w:
                w.write_batch(batch)
            yield pa.RecordBatch.from_pydict(
                {
                    "frame": [sink.getvalue().to_pybytes()],
                    "n_rows": [batch.num_rows],
                }
            )

    return df.mapInArrow(encode, schema=FRAME_SCHEMA)


def from_arrow_frames(frames: DataFrame, schema: StructType | str) -> DataFrame:
    """Decode ``(frame binary, ...)`` rows back into typed rows.
    ``schema`` must match the encoded payload (it is also embedded in
    every frame; the embedded one is authoritative at read time, the
    declared one lets Catalyst plan the downstream query)."""

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for blob in batch.column("frame"):
                with pa.ipc.open_stream(pa.BufferReader(blob.as_py())) as r:
                    for payload in r:
                        yield payload

    return frames.mapInArrow(decode, schema=schema)


def write_arrow_frames(df: DataFrame, path: str) -> None:
    """Persist frames as parquet-of-blobs — the object-store landing
    pattern (each row is an independently decodable IPC stream)."""
    to_arrow_frames(df).write.mode("overwrite").parquet(path)


def read_arrow_frames(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    return from_arrow_frames(read_parquet(spark, path), schema)

