"""Validation query pack (reference ``src/stream/validator.rs:19-116``).

The reference's ``Validator`` builds, from the Meta header: per-scope
global validators (attribute present + type matches,
``component.rs:53-72``), extension semantic validators (e.g. Time's
chronological-order check, ``time.rs:129-152``), and an NCName check on
classifier names (``validator.rs:84-91``). Errors propagate in-band.

Spark-first: validation is a *query pack* producing a violations
DataFrame (error-as-data — the engine's DLQ analog of promi's stored
errors, ``buffer.rs:53-56``); ``strict=True`` reproduces the reference's
abort-on-error ``consume`` loop via ``assert_true``. Every check is a
declarative expression — no UDFs — so the whole pack is one pass over
the data with map-side short-circuiting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from promi_spark.log import EventLog
from promi_spark.schema import RE_XS_NCNAME, SPARK_TYPE_FOR_TAG, WELL_KNOWN_KEYS, Meta


def _tag_of(key: str, scope_prefix: str = "") -> Column:
    """The XES type tag recorded at ingest for ``key`` (NULL when the
    log has no ``attr_types``, e.g. the driver's synthetic tables)."""
    return F.element_at(F.col("attr_types"), scope_prefix + key)


def _presence_and_type(key: str, type_tag: str) -> tuple[Column, Column]:
    """(present, type_ok) for an event-scope attribute.

    A well-known key is 'present' if its typed column is set OR it
    arrived in the attrs map under a non-standard tag; in the latter
    case its type is wrong (mirrors the reference's
    "Expected X to be of type String but got Int instead",
    ``component.rs:53-72`` via ``attribute.rs:37-90``).
    """
    base = type_tag.removesuffix("+json")
    in_map = F.element_at(F.col("attrs"), key)
    if key in WELL_KNOWN_KEYS:
        col = F.col(WELL_KNOWN_KEYS[key])
        present = col.isNotNull() | in_map.isNotNull()
        return present, col.isNotNull() | in_map.isNull()
    present = in_map.isNotNull()
    tag = _tag_of(key)
    tag_ok = tag.isNull() | (tag == base) | (tag == base + "+json")
    spark_t = SPARK_TYPE_FOR_TAG.get(base)
    if spark_t is None or base in ("string", "id", "list"):
        return present, tag_ok
    cast_ok = (
        tag.isNotNull()  # tag recorded at parse: trust it
        | in_map.isNull()
        | in_map.try_cast(spark_t.simpleString()).isNotNull()
    )
    return present, tag_ok & cast_ok


def global_violations(log: EventLog, meta: Meta | None = None) -> DataFrame:
    """Rows violating globals (presence + type, ``component.rs:53-72``).
    Event-scope globals check every event row; trace-scope globals
    check each trace's ``case_attrs`` (one verdict per trace, reported
    on seq 0)."""
    meta = meta or log.meta
    checks: list[tuple[str, Column]] = []
    for g in meta.globals_for("event"):
        present, type_ok = _presence_and_type(g.key, g.type)
        checks.append((f"event-global:{g.key}:missing", ~present))
        checks.append((f"event-global:{g.key}:type", present & ~type_ok))
    for g in meta.globals_for("trace"):
        in_case = F.element_at(F.col("case_attrs"), g.key)
        present = F.col("case_id").isNull() | in_case.isNotNull()
        tag = _tag_of(g.key, "case:")
        base = g.type.removesuffix("+json")
        type_ok = tag.isNull() | (tag == base) | (tag == base + "+json")
        first_row = F.col("seq").isNull() | (F.col("seq") == 0)
        checks.append(
            (f"trace-global:{g.key}:missing", first_row & ~present)
        )
        checks.append(
            (f"trace-global:{g.key}:type", first_row & present & ~type_ok)
        )
    if not checks:
        return log.df.sparkSession.createDataFrame(
            [], "case_id string, seq long, violation string"
        )
    arr = F.array(
        *[F.when(cond, F.lit(name)) for name, cond in checks]
    )
    return (
        log.df.withColumn("violation", F.explode(F.filter(arr, lambda x: x.isNotNull())))
        .select("case_id", "seq", "violation")
    )


def chronology_violations(log: EventLog) -> DataFrame:
    """Adjacent-pair decreasing-timestamp check within each trace
    (reference Time extension, ``time.rs:129-152``): ``lag`` over the
    per-case window — the one shuffle is shared with other per-case ops."""
    w = Window.partitionBy("case_id").orderBy("seq")
    prev = F.lag("ts").over(w)
    return (
        log.trace_events()
        .withColumn("prev_ts", prev)
        .filter(F.col("prev_ts").isNotNull() & (F.col("ts") < F.col("prev_ts")))
        .select("case_id", "seq", "ts", "prev_ts")
    )


def classifier_name_violations(meta: Meta) -> list[str]:
    """Classifier names must be xs:NCName (``validator.rs:84-91``) —
    meta is out-of-band, so this is a driver-side check."""
    return [c.name for c in meta.classifiers if not RE_XS_NCNAME.match(c.name)]


def validate(log: EventLog, strict: bool = False) -> DataFrame:
    """The full pack: one violations DataFrame
    ``(case_id, seq, violation)``. ``strict`` reproduces the abort-on-
    first-error behavior of ``Sink::consume`` (``sink.rs:50-53``).

    Extensions DECLARED by the log's header and registered in
    :mod:`promi_spark.extensions` contribute their own checks (type
    tags, value vocabularies, semantic packs) — the reference builds
    the same per-extension validators from Meta
    (``validator.rs:19-116``, ``extension/mod.rs:59-115``). Time's
    chronology check runs unconditionally (it guards ``seq`` itself,
    which every per-trace operator relies on)."""
    from promi_spark import extensions as ext_mod

    glob = global_violations(log)
    chrono = chronology_violations(log).select(
        "case_id", "seq", F.lit("time:chronology").alias("violation")
    )
    out = glob.unionByName(chrono)
    for decl in log.meta.extensions:
        try:
            spec = ext_mod.get_extension(decl.prefix)
        except KeyError:
            continue
        if spec.prefix == "time":
            continue  # chronology already included above
        out = out.unionByName(ext_mod.extension_violations(log, spec))
    meta_level = [
        f"classifier-ncname:{n}" for n in classifier_name_violations(log.meta)
    ] + [f"order:{v}" for k, v in log.meta.notes.items() if k == "order"]
    for violation in meta_level:
        bad = log.df.sparkSession.createDataFrame(
            [(None, None, violation)],
            "case_id string, seq long, violation string",
        )
        out = out.unionByName(bad)
    if strict:
        out = out.withColumn(
            "_", F.assert_true(F.lit(False), F.concat(F.lit("validation failed: "), "violation"))
        ).drop("_")
    return out
