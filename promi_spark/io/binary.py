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
("kafka")``; neither function changes. Avro is the other standard wire
format — :func:`to_avro_frames` / :func:`from_avro_frames` use the JVM
spark-avro codec when the package is on the classpath and otherwise
fall back to the pure-Python datum codec
(:mod:`promi_spark.io.avro_codec`), which produces byte-identical wire
frames (parity with the Apache Avro reference jars is test-pinned), so
the Avro path executes everywhere; Arrow IPC remains the zero-copy
default.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pyspark.sql import functions as F

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


def to_avro_frames(df: DataFrame, value_cols: list[str] | None = None) -> DataFrame:
    """Avro wire format: ``(value binary)``, one Avro binary datum per
    row — the Kafka-value shape. Uses spark-avro's JVM ``to_avro`` when
    the package is on the classpath (whole-stage codegen, the real-
    cluster path); otherwise falls back to the pure-Python codec
    (:mod:`promi_spark.io.avro_codec`), which emits byte-identical
    datums (pinned against the Apache Avro reference jars in
    ``tests/test_binary.py``) at Python-fallback rates."""
    cols = value_cols or df.columns
    try:
        from pyspark.sql.avro.functions import to_avro

        out = df.select(to_avro(F.struct(*cols)).alias("value"))
        out.schema  # force analysis: surfaces the classpath error eagerly
        return out
    except ImportError:
        pass
    except Exception:  # classpath probe failed — use the fallback
        pass
    return _to_avro_frames_fallback(df, cols)


def _to_avro_frames_fallback(df: DataFrame, cols: list[str]) -> DataFrame:
    from promi_spark.io.avro_codec import row_encoder

    sub = df.select(*cols)
    avro_schema_json(sub.schema)  # reject unsupported column types eagerly
    enc = row_encoder(sub.schema)
    out_schema = pa.schema([("value", pa.binary())])

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = zip(*(c.to_pylist() for c in batch.columns))
            yield pa.RecordBatch.from_arrays(
                [pa.array([enc(r) for r in rows], type=pa.binary())],
                schema=out_schema,
            )

    return sub.mapInArrow(encode, schema="value binary")


_AVRO_PRIMS = {
    "long": "long",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "binary": "bytes",
}


def avro_schema_json(schema: StructType, name: str = "row") -> str:
    """Avro record schema (JSON) for a flat Spark schema — what
    ``from_avro`` needs to decode frames produced by
    :func:`to_avro_frames`. Nullable fields become the standard
    ``["null", T]`` union; timestamps map to the ``timestamp-micros``
    logical type (Spark's own to_avro encoding). Nested/array columns
    are out of scope for the wire path — raise rather than mis-declare.
    """
    import json as _json

    fields = []
    for f in schema.fields:
        t = f.dataType.typeName()
        if t in _AVRO_PRIMS:
            a: object = _AVRO_PRIMS[t]
        elif t == "timestamp":
            a = {"type": "long", "logicalType": "timestamp-micros"}
        elif t == "timestamp_ntz":
            # Spark's own to_avro mapping for TimestampNTZ (the events
            # table's ingest type — parquet NANOS converted tz-naive)
            a = {"type": "long", "logicalType": "local-timestamp-micros"}
        elif t == "date":
            a = {"type": "int", "logicalType": "date"}
        elif t == "decimal":
            a = {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": f.dataType.precision,
                "scale": f.dataType.scale,
            }
        else:
            raise NotImplementedError(
                f"avro wire schema: unsupported column type {t!r} "
                f"({f.name}); flatten or cast before framing"
            )
        fields.append(
            {"name": f.name, "type": ["null", a] if f.nullable else a}
        )
    return _json.dumps(
        {"type": "record", "name": name, "fields": fields}
    )


def from_avro_frames(frames: DataFrame, schema: StructType) -> DataFrame:
    """Decode ``value`` blobs written by :func:`to_avro_frames` back to
    typed rows — the consumer half of the Avro wire. JVM ``from_avro``
    when spark-avro is on the classpath (a real cluster adds
    ``--packages org.apache.spark:spark-avro_2.13:<spark-version>``),
    else the pure-Python codec — the two read each other's bytes (same
    record schema, same binary encoding; reference-jar parity pinned in
    tests)."""
    try:
        from pyspark.sql.avro.functions import from_avro

        dec = frames.select(
            from_avro(F.col("value"), avro_schema_json(schema)).alias("r")
        )
        out = dec.select("r.*")
        out.schema  # force analysis: surfaces the classpath error eagerly
        return out
    except ImportError:
        pass
    except NotImplementedError:
        raise
    except Exception:  # classpath probe failed — use the fallback
        pass
    return _from_avro_frames_fallback(frames, schema)


def _from_avro_frames_fallback(
    frames: DataFrame, schema: StructType
) -> DataFrame:
    from pyspark.sql.pandas.types import to_arrow_schema

    from promi_spark.io.avro_codec import row_decoder

    avro_schema_json(schema)  # reject unsupported column types eagerly
    dec = row_decoder(schema)
    arrow_schema = to_arrow_schema(schema)

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            idx = batch.schema.get_field_index("value")
            rows = [dec(b) for b in batch.column(idx).to_pylist()]
            cols = (
                list(zip(*rows))
                if rows
                else [[] for _ in range(len(arrow_schema))]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(list(c), type=f.type)
                    for c, f in zip(cols, arrow_schema)
                ],
                schema=arrow_schema,
            )

    return frames.mapInArrow(decode, schema=schema)
