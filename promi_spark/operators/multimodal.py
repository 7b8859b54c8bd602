"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode / feature-extract / resize / frame-sample as
Arrow-batched ``mapInPandas`` / ``pandas_udf`` stages.

Not in the reference (an event-log engine); these are the
training-data-pipeline operators a 100 TB multimodal corpus needs. The
Spark-side plumbing — schema, partitioning, UDF signatures, batch
shapes — is real and tested; the *codec* is pluggable:

- a deterministic in-repo fake format ("PSI": header + raw pixels /
  samples) exercises the full pipeline without image/audio libraries;
- real formats (JPEG/PNG/WAV/...) dispatch to PIL/soundfile when
  importable and raise ``NotImplementedError`` otherwise (this
  container ships neither) — the surrounding plan is identical.

Scale notes: blobs ride in the row, so partition count must track
*bytes*, not rows — use ``repartition`` to keep partitions ≲128 MB and
``spark.sql.execution.arrow.maxRecordsPerBatch`` small (the default
10k rows × 10 MB images = 100 GB Arrow batches; set it to ~32). Decode
is embarrassingly parallel (no shuffle); feature vectors are small, so
downstream similarity joins shuffle only ``media_id`` + vector.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from promi_spark.io import read_parquet

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("fmt", T.StringType(), False),  # psi|psa|psv|jpeg|...
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

_PSI_MAGIC = b"PSI1"  # fake image: magic + H u16 + W u16 + C u8 + pixels
_PSA_MAGIC = b"PSA1"  # fake audio: magic + rate u32 + n u32 + i16 samples
_PSV_MAGIC = b"PSV1"  # fake video: magic + nframes u16 + H u16 + W u16 + frames


# ---------------------------------------------------------------------------
# Deterministic synthetic media (the test corpus generator)
# ---------------------------------------------------------------------------


def encode_psi(h: int, w: int, c: int, seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=h * w * c, dtype=np.uint8)
    return _PSI_MAGIC + struct.pack("<HHB", h, w, c) + px.tobytes()


def encode_psa(rate: int, n: int, seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    samples = rng.integers(-(2**15), 2**15, size=n, dtype=np.int16)
    return _PSA_MAGIC + struct.pack("<II", rate, n) + samples.tobytes()


def encode_psv(nframes: int, h: int, w: int, seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=nframes * h * w, dtype=np.uint8)
    return _PSV_MAGIC + struct.pack("<HHH", nframes, h, w) + frames.tobytes()


def synth_media(
    spark: SparkSession, n: int = 60, seed: int = 42, scale: int = 1
) -> DataFrame:
    """Deterministic media table: n rows cycling image/audio/video.
    ``scale`` multiplies image/video dimensions (and audio length) so a
    fixture can be made decode-heavy without changing the row mix."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            h = (8 + (i % 5) * 4) * scale
            w = (8 + (i % 7) * 4) * scale
            c = 3
            content, fmt = encode_psi(h, w, c, seed + i), "psi"
            meta = {"height": str(h), "width": str(w), "channels": str(c)}
        elif kind == "audio":
            rate, ns = 16000, (1600 + (i % 4) * 400) * scale
            content, fmt = encode_psa(rate, ns, seed + i), "psa"
            meta = {"sample_rate": str(rate), "n_samples": str(ns)}
        else:
            nf, h, w = 4 + (i % 3) * 2, 16 * scale, 16 * scale
            content, fmt = encode_psv(nf, h, w, seed + i), "psv"
            meta = {"n_frames": str(nf), "height": str(h), "width": str(w)}
        rows.append((i, kind, fmt, content, meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def media_fixture(
    spark: SparkSession,
    n: int = 1500,
    seed: int = 42,
    scale: int = 8,
    path: str | None = None,
    n_files: int = 16,
) -> DataFrame:
    """Synthetic media corpus persisted to parquet ONCE, then read back
    — so a decode benchmark times scan + Arrow transfer + decode (the
    shape of a real pipeline reading a 100 TB blob store), not
    driver-side row construction and distribution. At scale=8 images
    run up to 288x256x3 (~220 KB), so the image decode work dominates
    the fixed mapInPandas overhead.

    The write repartitions to ``n_files`` files: blob tables must track
    *bytes* per partition, not rows (module docstring). The fixture
    lands next to the package (gitignored) keyed by (n, seed, scale)
    and is reused when its _SUCCESS marker exists.
    """
    import os

    if path is None:
        root = os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
            ".media_fixture",
        )
        path = os.path.join(
            root, f"media_n{n}_s{seed}_x{scale}_f{n_files}.parquet"
        )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        synth_media(spark, n, seed, scale).repartition(n_files).write.mode(
            "overwrite"
        ).parquet(path)
    return read_parquet(spark, path)


# ---------------------------------------------------------------------------
# Decoders (fake formats real; real formats stubbed behind import-try)
# ---------------------------------------------------------------------------


def _decode_image_bytes(fmt: str, content: bytes) -> np.ndarray:
    if fmt == "psi":
        if content[:4] != _PSI_MAGIC:
            raise ValueError("bad PSI header")
        h, w, c = struct.unpack_from("<HHB", content, 4)
        return np.frombuffer(content, dtype=np.uint8, offset=9).reshape(h, w, c)
    try:  # real decoders when available
        from PIL import Image  # noqa
        import io

        return np.asarray(Image.open(io.BytesIO(content)))
    except ImportError as e:
        raise NotImplementedError(
            f"decoding {fmt!r} needs PIL (not shipped in this container); "
            "the psi fake format exercises the same pipeline"
        ) from e


def decode_images(df: DataFrame) -> DataFrame:
    """Decode image rows -> shape + channel statistics.

    ``mapInPandas``: one Arrow batch in, one batch out, no shuffle;
    columns pruned to (media_id, fmt, content) at the scan.
    """
    schema = (
        "media_id long, height int, width int, channels int, "
        "mean_px double, std_px double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, fmt, content in zip(
                pdf["media_id"], pdf["fmt"], pdf["content"]
            ):
                arr = _decode_image_bytes(fmt, bytes(content))
                out.append(
                    (
                        mid,
                        arr.shape[0],
                        arr.shape[1],
                        arr.shape[2] if arr.ndim == 3 else 1,
                        round(float(arr.mean()), 4),
                        round(float(arr.std()), 4),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "height", "width", "channels",
                    "mean_px", "std_px",
                ],
            )

    return (
        df.filter(F.col("kind") == "image")
        .select("media_id", "fmt", "content")
        .mapInPandas(run, schema=schema)
    )


def resize_images(df: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Nearest-neighbor resize inside ``mapInPandas``; emits re-encoded
    PSI bytes — the shape of a real thumbnailing stage (decode →
    transform → re-encode) with deterministic output."""
    schema = "media_id long, fmt string, content binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, fmt, content in zip(
                pdf["media_id"], pdf["fmt"], pdf["content"]
            ):
                arr = _decode_image_bytes(fmt, bytes(content))
                h, w = arr.shape[0], arr.shape[1]
                yi = (np.arange(out_h) * h // out_h).astype(int)
                xi = (np.arange(out_w) * w // out_w).astype(int)
                resized = arr[yi][:, xi]
                c = resized.shape[2] if resized.ndim == 3 else 1
                payload = (
                    _PSI_MAGIC
                    + struct.pack("<HHB", out_h, out_w, c)
                    + resized.astype(np.uint8).tobytes()
                )
                out.append((mid, "psi", payload))
            yield pd.DataFrame(out, columns=["media_id", "fmt", "content"])

    return (
        df.filter(F.col("kind") == "image")
        .select("media_id", "fmt", "content")
        .mapInPandas(run, schema=schema)
    )


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Video -> one row per sampled frame (row-expanding mapInPandas —
    the frame extraction shape; each frame re-encoded as a PSI image)."""
    schema = "media_id long, frame_idx int, fmt string, content binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, fmt, content in zip(
                pdf["media_id"], pdf["fmt"], pdf["content"]
            ):
                b = bytes(content)
                if fmt != "psv" or b[:4] != _PSV_MAGIC:
                    raise NotImplementedError(
                        "only the psv fake container is decodable here"
                    )
                nf, h, w = struct.unpack_from("<HHH", b, 4)
                frames = np.frombuffer(b, dtype=np.uint8, offset=10).reshape(
                    nf, h, w
                )
                for idx in range(0, nf, every_n):
                    payload = (
                        _PSI_MAGIC
                        + struct.pack("<HHB", h, w, 1)
                        + frames[idx].tobytes()
                    )
                    out.append((mid, idx, "psi", payload))
            yield pd.DataFrame(
                out, columns=["media_id", "frame_idx", "fmt", "content"]
            )

    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", "fmt", "content")
        .mapInPandas(run, schema=schema)
    )


def audio_features(df: DataFrame) -> DataFrame:
    """Audio rows -> (duration, rms, zero-crossing rate): the
    feature-extraction shape on int16 PCM."""
    schema = "media_id long, sample_rate int, duration_s double, rms double, zcr double"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, fmt, content in zip(
                pdf["media_id"], pdf["fmt"], pdf["content"]
            ):
                b = bytes(content)
                if fmt != "psa" or b[:4] != _PSA_MAGIC:
                    raise NotImplementedError(
                        "only the psa fake container is decodable here"
                    )
                rate, n = struct.unpack_from("<II", b, 4)
                x = np.frombuffer(b, dtype=np.int16, offset=12).astype(np.float64)
                zc = np.mean(np.abs(np.diff(np.sign(x))) > 0) if n > 1 else 0.0
                out.append(
                    (
                        mid,
                        rate,
                        round(n / rate, 6),
                        round(float(np.sqrt(np.mean(x**2))), 4),
                        round(float(zc), 6),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["media_id", "sample_rate", "duration_s", "rms", "zcr"],
            )

    return (
        df.filter(F.col("kind") == "audio")
        .select("media_id", "fmt", "content")
        .mapInPandas(run, schema=schema)
    )


def content_embeddings(df: DataFrame, dim: int = 16) -> DataFrame:
    """Deterministic content embedding (byte-histogram projection) as a
    vectorized pandas UDF returning ``array<float>`` — the plumbing a
    real model-based embedder drops into (swap the kernel, keep the
    plan). Whole batch computed with one numpy matmul."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed(content: pd.Series) -> pd.Series:
        proj = np.random.default_rng(0).standard_normal((256, dim))
        out = []
        for b in content:
            hist = np.bincount(
                np.frombuffer(bytes(b), dtype=np.uint8), minlength=256
            ).astype(np.float64)
            norm = np.linalg.norm(hist) or 1.0
            out.append((hist / norm) @ proj)
        return pd.Series([v.astype(np.float32).tolist() for v in out])

    return df.select("media_id", "kind", embed(F.col("content")).alias("embedding"))
