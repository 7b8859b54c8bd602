"""EventLog: a (DataFrame, Meta) pair — the engine's central handle.

The reference materializes logs as ``Meta + Vec<Trace> + Vec<Event>``
(``src/stream/log.rs:22-27``); trailing events without a trace are legal
("if the log contains only events and no traces, then the log is also
called a stream", ``log.rs:13-20``). Here the whole log is one flat
DataFrame in :data:`promi_spark.schema.EVENTS_SCHEMA`; rows with NULL
``case_id`` are the standalone events, traces are a lazy *view* — a
window or groupBy over ``case_id`` — never a nested materialization
except at XES export time.

Every operator is ``f(EventLog, **params) -> EventLog`` (or a small
result DataFrame for aggregations), so pipelines compose exactly like
the reference's stream chains (``src/stream/core/stream.rs:9-45``) but
stay one lazy Catalyst plan.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from promi_spark.schema import EVENTS_SCHEMA, Meta


@dataclass
class EventLog:
    """A flat events DataFrame + its out-of-band log header."""

    df: DataFrame
    meta: Meta

    # -- construction --------------------------------------------------

    @classmethod
    def from_events(cls, df: DataFrame, meta: Meta | None = None) -> "EventLog":
        """Wrap a DataFrame already in (a superset of) the canonical schema.

        Missing canonical columns are added as NULLs so downstream
        operators can rely on the full column set.
        """
        have = set(df.columns)
        missing = {
            f_.name: F.lit(None).cast(f_.dataType)
            for f_ in EVENTS_SCHEMA.fields
            if f_.name not in have
        }
        if missing:
            df = df.withColumns(missing)
        return cls(df=df, meta=meta or Meta())

    @classmethod
    def from_generic(
        cls,
        df: DataFrame,
        case_col: str,
        activity_col: str,
        ts_col: str,
        order_cols: list[str] | None = None,
        meta: Meta | None = None,
        keep: list[str] | None = None,
    ) -> "EventLog":
        """Adapt any flat event table (e.g. the driver's ``events``
        parquet: event_id/ts/user_id/event_type/value/props) into the
        canonical schema.

        ``seq`` is assigned per case by ``row_number`` ordered by
        ``(ts, *order_cols)`` — a single shuffle on ``case_id`` that
        every later per-trace operator reuses. Extra columns named in
        ``keep`` are carried through unchanged.

        The cast to string happens BEFORE the window so the window
        partitions on the exact ``case_id`` expression downstream
        operators use — partitioning on the raw column would make
        ``hashpartitioning(user_id)`` unmatchable against
        ``hashpartitioning(cast(user_id as string))`` and every later
        per-case window/groupBy would re-shuffle (observed: 2 exchanges
        per DFG instead of 1).
        """
        order_cols = order_cols or []
        extra = list(keep or []) + [c for c in order_cols if c not in (keep or [])]
        typed = df.select(
            F.col(case_col).cast("string").alias("case_id"),
            F.col(activity_col).cast("string").alias("activity"),
            F.col(ts_col).cast("timestamp").alias("ts"),
            *[F.col(c) for c in extra],
        )
        w = Window.partitionBy("case_id").orderBy(
            F.col("ts"), *[F.col(c) for c in order_cols]
        )
        out = typed.select(
            "case_id",
            (F.row_number().over(w) - F.lit(1)).cast("long").alias("seq"),
            "activity",
            "ts",
            *[c for c in (keep or [])],
        )
        return cls.from_events(out, meta=meta)

    # -- views ----------------------------------------------------------

    def events(self) -> DataFrame:
        """All event rows (both in-trace and standalone)."""
        return self.df

    def standalone_events(self) -> DataFrame:
        """Events outside any trace (NULL case_id) — legal per IEEE 1849."""
        return self.df.filter(F.col("case_id").isNull())

    def trace_events(self) -> DataFrame:
        """Events that belong to a trace."""
        return self.df.filter(F.col("case_id").isNotNull())

    def traces(self) -> DataFrame:
        """One row per trace: case_id, n_events, interval [start_ts, end_ts].

        The trace's time is the interval of its first/last events
        (reference ``src/stream/extension/time.rs:98-117``). A plain
        groupBy — partial aggregation map-side, one shuffle on case_id.
        """
        return (
            self.trace_events()
            .groupBy("case_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("ts").alias("start_ts"),
                F.max("ts").alias("end_ts"),
            )
        )

    def nested_traces(self) -> DataFrame:
        """Traces with their ordered event list materialized as an array
        of structs — only needed at XES export. A seq-comparator
        ``array_sort`` restores deterministic in-trace order (naked
        collect_list is unordered, and plain ``sort_array`` cannot
        order structs that contain the ``attrs`` map)."""
        ev = F.struct("seq", "ts", "activity", "instance", "resource",
                      "role", "group", "lifecycle", "attrs")
        by_seq = lambda a, b: (  # noqa: E731
            F.when(a["seq"] < b["seq"], -1)
            .when(a["seq"] > b["seq"], 1)
            .otherwise(0)
        )
        return (
            self.trace_events()
            .groupBy("case_id")
            .agg(F.array_sort(F.collect_list(ev), by_seq).alias("events"))
        )

    # -- plumbing ---------------------------------------------------------

    def with_df(self, df: DataFrame) -> "EventLog":
        return replace(self, df=df)

    def cache(self) -> "EventLog":
        """Fan-out point (reference Duplicator, ``duplicator.rs:12-68``):
        persist once, reuse in several downstream plans."""
        return replace(self, df=self.df.cache())

    def union(self, other: "EventLog") -> "EventLog":
        """Stream concatenation (reference ``flow/segment.rs:186-199``)."""
        return replace(
            self, df=self.df.unionByName(other.df, allowMissingColumns=True)
        )
