"""Filter algebra: conditions, CNF filters, extension filter families.

Reference semantics (``src/stream/filter.rs``):

- A ``Condition`` is a predicate whose *errors propagate* — testing a
  missing attribute in ``filter_eq`` is an error, not ``false``
  (``src/stream/extension/concept.rs:75-79``). We model strictness with
  :func:`strict` (raise via ``assert_true`` when the column is NULL) and
  the lenient inverse :func:`drop_err` (``filter.rs:66-68``) which maps
  error -> false via ``coalesce(pred, false)``.
- The ``Filter`` handler holds *disjunctive sets*; registering several
  handlers ANDs them => CNF (``filter.rs:19-53, 76-112``). Empty
  disjunction => false.
- Trace-scope conditions drop whole traces; event-scope conditions drop
  individual events both inside traces and standalone
  (``observer.rs:116-147``).

Spark-first: every condition is a boolean ``Column``; CNF is one
composed expression evaluated in whole-stage codegen (short-circuit,
pushdown-eligible). Trace-scope filtering is a windowed ``max`` over
``case_id`` — one shuffle that AQE merges with adjacent per-case
operators — or equivalently a broadcast semi-join when the surviving
case list is small.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from promi_spark.log import EventLog

# ---------------------------------------------------------------------------
# Condition algebra (filter.rs:8, 61-68)
# ---------------------------------------------------------------------------


def neg(cond: Column) -> Column:
    """Predicate negation (reference ``filter.rs:61-63``)."""
    return ~cond


def drop_err(cond: Column) -> Column:
    """Lenient mode: error/NULL -> false (reference ``filter.rs:66-68``)."""
    return F.coalesce(cond, F.lit(False))


def strict(col: Column | str, cond: Column) -> Column:
    """Strict-missing semantics: testing an absent attribute is an
    *error* (reference ``concept.rs:75-79``) — raise instead of
    silently treating it as false."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNull(),
        F.assert_true(c.isNotNull(), F.lit("missing attribute in strict filter")).cast(
            "boolean"
        ),
    ).otherwise(cond)


def cnf(df: DataFrame, clauses: list[list[Column]]) -> DataFrame:
    """AND of ORs (reference ``Filter::from_cnf``, ``filter.rs:76-112``).

    Each inner list is a disjunction; an empty disjunction is ``false``
    (matching the reference's fold seed). The whole CNF collapses to a
    single boolean expression so Catalyst can push it into the scan.
    """
    def disj(conds: list[Column]) -> Column:
        if not conds:
            return F.lit(False)
        return reduce(lambda a, b: a | b, conds)

    if not clauses:
        return df
    pred = reduce(lambda a, b: a & b, (disj(c) for c in clauses))
    return df.filter(pred)


# ---------------------------------------------------------------------------
# Scoped application (observer.rs:116-147)
# ---------------------------------------------------------------------------


def filter_events(log: EventLog, cond: Column) -> EventLog:
    """Event-scope: drop individual events (in-trace and standalone)."""
    return log.with_df(log.df.filter(cond))


def filter_traces(log: EventLog, trace_cond: Column) -> EventLog:
    """Trace-scope: keep *whole traces* where any event satisfies
    ``trace_cond``; standalone events (NULL case_id) are untouched by
    trace conditions (reference pseudo-filter, ``filter.rs:56-58``).

    One windowed ``max`` over case_id — no join, one shuffle.
    """
    w = Window.partitionBy("case_id")
    keep = F.max(drop_err(trace_cond).cast("int")).over(w) == 1
    out = log.df.withColumn("_keep", keep).filter(
        F.col("case_id").isNull() | F.col("_keep")
    ).drop("_keep")
    return log.with_df(out)


# ---------------------------------------------------------------------------
# Extension filter families (concept.rs:71-101, organizational.rs:82-112)
# ---------------------------------------------------------------------------


def _family(col: str):
    """eq / in / match triple over one well-known column."""

    def filter_eq(value, lenient: bool = True) -> Column:
        c = F.col(col) == F.lit(value)
        return drop_err(c) if lenient else strict(col, c)

    def filter_in(values: list, lenient: bool = True) -> Column:
        c = F.col(col).isin(values)
        return drop_err(c) if lenient else strict(col, c)

    def filter_match(pattern: str, lenient: bool = True) -> Column:
        c = F.col(col).rlike(pattern)
        return drop_err(c) if lenient else strict(col, c)

    return filter_eq, filter_in, filter_match


class Concept:
    """``concept:name`` / ``concept:instance`` filters (concept.rs:71-101)."""

    name_eq, name_in, name_match = _family("activity")
    instance_eq, instance_in, instance_match = _family("instance")


class Org:
    """``org:resource/role/group`` filters (organizational.rs:82-112)."""

    resource_eq, resource_in, resource_match = _family("resource")
    role_eq, role_in, role_match = _family("role")
    group_eq, group_in, group_match = _family("group")


# ---------------------------------------------------------------------------
# Time interval algebra (time.rs:20-79, filters at time.rs:156-188)
# ---------------------------------------------------------------------------


class TimeFilters:
    """Interval algebra over event timestamps and trace intervals.

    An event's interval is degenerate ``[ts, ts]``; a trace's interval
    is ``[min(ts), max(ts)]`` over its events (``time.rs:98-117``).
    All return boolean Columns over (start, end) pairs, so the same
    algebra serves event-scope (start=end=ts) and trace-scope (window
    min/max) filtering, and doubles as a range-join condition.
    """

    @staticmethod
    def eq(start: Column, end: Column, lo, hi) -> Column:
        return (start == F.lit(lo)) & (end == F.lit(hi))

    @staticmethod
    def eq_tol(start: Column, end: Column, lo, hi, tol_seconds: float) -> Column:
        """Tolerance equality: both endpoints within ``tol`` (time.rs:44-52)."""
        tol_us = int(tol_seconds * 1_000_000)
        return (
            F.abs(F.unix_micros(start) - F.unix_micros(F.lit(lo).cast("timestamp")))
            <= tol_us
        ) & (
            F.abs(F.unix_micros(end) - F.unix_micros(F.lit(hi).cast("timestamp")))
            <= tol_us
        )

    @staticmethod
    def before(end: Column, t) -> Column:
        """Interval strictly before t (time.rs:54-56)."""
        return end < F.lit(t)

    @staticmethod
    def after(start: Column, t) -> Column:
        """Interval strictly after t (time.rs:58-60)."""
        return start > F.lit(t)

    @staticmethod
    def contained(start: Column, end: Column, lo, hi) -> Column:
        """Interval contained in [lo, hi] (time.rs:62-66)."""
        return (F.lit(lo) <= start) & (end <= F.lit(hi))

    @staticmethod
    def starts_in(start: Column, lo, hi) -> Column:
        return (F.lit(lo) <= start) & (start <= F.lit(hi))

    @staticmethod
    def ends_in(end: Column, lo, hi) -> Column:
        return (F.lit(lo) <= end) & (end <= F.lit(hi))


def trace_interval_cols(log: EventLog) -> DataFrame:
    """Events annotated with their trace's interval — one window shuffle
    on case_id, reused by all trace-time filters (W2)."""
    w = Window.partitionBy("case_id")
    return log.df.withColumn("trace_start", F.min("ts").over(w)).withColumn(
        "trace_end", F.max("ts").over(w)
    )


# ---------------------------------------------------------------------------
# Classifier identity (component.rs:76-81) — A4
# ---------------------------------------------------------------------------


def classifier_column(keys: list[str]) -> Column:
    """Derived identity label: space-joined attribute values."""
    return F.concat_ws(" ", *[F.col(k) for k in keys])
