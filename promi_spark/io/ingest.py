"""Parquet ingest for the driver's synthetic tables.

The scan is the cheapest operator we have — keep it declarative so
Catalyst pushes filters/projection into the parquet reader (check
``PushedFilters`` / ``ReadSchema`` in ``.explain("formatted")``). At
100 TB these tables would be partitioned (events by date, lineitem by
ship date) and the same code path picks up partition pruning for free.

Every parquet source of the engine is read here (:func:`load_table`,
:func:`load_event_log`, :func:`read_parquet`), resolved once per session.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from promi_spark.log import EventLog
from promi_spark.schema import Meta

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    path = f"{sf_dir or DEFAULT_SF_DIR}/{name}.parquet"

    def read() -> DataFrame:
        # Set on the *caller's* session, not just our builder: a vanilla
        # SparkSession rejects parquet TIMESTAMP(NANOS) columns with
        # PARQUET_TYPE_ILLEGAL unless this runtime SQL conf is on. The
        # column then arrives as LongType and _convert_nanos restores
        # timestamps.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _convert_nanos(spark.read.parquet(path), path)

    return _memoized(spark, "table", path, read)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, resolved once per session.

    Resolving a parquet source lists its files and runs a schema
    inference job; a query that re-reads the same unchanged source pays
    that again for nothing. So a local path is read once per session
    and the frame is handed back until a file under it changes (see
    :func:`_fingerprint`). Paths that are not local (``hdfs://``,
    ``s3://``, globs) and missing paths read straight through.

    Callers share the returned frame: derive from it, never persist and
    then unpersist it (that would evict a cache another caller holds).
    """
    return _memoized(spark, "parquet", path, lambda: spark.read.parquet(path))


def _memoized(
    spark: SparkSession, kind: str, path: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The frame ``build()`` made for ``(kind, path)`` in this session,
    rebuilt when the path's fingerprint changes. The memo lives on the
    session object, so frames are never shared across sessions and go
    away with theirs (a weak-keyed global would never release a
    session: every memoized frame references it)."""
    local = _local_path(path)
    fp = _fingerprint(local) if local is not None else None
    if fp is None:
        return build()
    memo = spark.__dict__.setdefault("_promi_sources", {})
    entry = memo.get((kind, local))
    if entry is None or entry[0] != fp:
        entry = memo[(kind, local)] = (fp, build())
    return entry[1]


def _local_path(path: str) -> str | None:
    """Absolute local path, or None for a URI with a scheme or a glob."""
    if "://" in path or path.startswith("file:") or any(c in path for c in "*?[{"):
        return None
    return os.path.abspath(path)


def _fingerprint(path: str) -> tuple | None:
    """``(relative path, mtime_ns, size)`` of every file under ``path``
    (one entry for a plain file); None when ``path`` is missing or
    changes while it is walked. A rewritten file or directory gets a
    new fingerprint, so it is re-read."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (("", st.st_mtime_ns, st.st_size),)
        if not os.path.isdir(path):
            return None
        out = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                full = os.path.join(root, f)
                st = os.stat(full)
                out.append((os.path.relpath(full, path), st.st_mtime_ns, st.st_size))
        return tuple(out)
    except OSError:
        return None


def _convert_nanos(df: DataFrame, path: str) -> DataFrame:
    """Parquet TIMESTAMP(NANOS) columns arrive as LongType under
    ``spark.sql.legacy.parquet.nanosAsLong``; truncate ns -> us like
    DuckDB/Arrow do so both engines see identical values."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    try:
        arrow_schema = pq.read_schema(path)
    except Exception:
        return df
    for field in arrow_schema:
        if str(field.type) == "timestamp[ns]" and field.name in df.columns:
            # integer `div`, NOT `/`: ns-since-epoch (~1.7e18) exceeds the
            # 2^53 double mantissa, so float division is off by ±1us
            df = df.withColumn(
                field.name, F.expr(f"timestamp_micros(`{field.name}` div 1000)")
            )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in names}


def load_event_log(
    spark: SparkSession, sf_dir: str | None = None, meta: Meta | None = None
) -> EventLog:
    """Read the driver's ``events`` table through the event-log lens:
    user_id -> case_id, event_type -> activity, ts -> ts; ``seq`` by
    ``(ts, event_id)`` within each case. ``event_id/value/props`` are
    carried as extra columns for filter/agg operators.

    The lens frame is built once per session and source fingerprint
    (like :func:`load_table`); every call gets its own ``EventLog`` and
    ``Meta``."""
    sf_dir = sf_dir or DEFAULT_SF_DIR

    def lens() -> DataFrame:
        return EventLog.from_generic(
            load_table(spark, "events", sf_dir),
            case_col="user_id",
            activity_col="event_type",
            ts_col="ts",
            order_cols=["event_id"],
            keep=["event_id", "value", "props"],
        ).df

    df = _memoized(spark, "event_log", f"{sf_dir}/events.parquet", lens)
    return EventLog(df=df, meta=meta or Meta())
