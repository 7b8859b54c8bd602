"""Pluggable XES extension registry.

The reference lets an extension contribute three bundles: its
declaration (name/prefix/URI), per-key attribute semantics to validate,
and a typed view over the raw attribute map (reference
``src/stream/extension/mod.rs:59-115``; the four standard extensions are
built-ins there, ``extension/{concept,time,organizational}.rs``). This
module is the Spark-native analog: an :class:`ExtensionSpec` registers
``prefix -> (typed keys, allowed values, semantic validator)`` at
runtime, and

- :func:`extension_view` projects the extension's keys as typed flat
  columns (well-known keys read their fixed schema column, long-tail
  keys are cast out of the ``attrs`` map) — pure column expressions, so
  Catalyst prunes/pushes them like any other projection;
- :func:`extension_violations` emits an error-as-data violations frame
  (type tags, allowed-value vocabularies, then the spec's own semantic
  pack), which :func:`promi_spark.operators.validate.validate` picks up
  for every *declared* extension of the log being validated.

The standard vocabulary ships pre-registered; Lifecycle demonstrates
the full surface (allowed-value vocabulary for
``lifecycle:transition`` per the IEEE 1849 standard transition model).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from promi_spark.log import EventLog
from promi_spark.schema import (
    SPARK_TYPE_FOR_TAG,
    WELL_KNOWN_KEYS,
    ExtensionDecl,
)


@dataclass(frozen=True)
class ExtensionSpec:
    """Everything an extension contributes: declaration + key types +
    value vocabularies + an optional semantic validator
    ``EventLog -> DataFrame(case_id, seq, violation)``."""

    name: str
    prefix: str
    uri: str
    keys: dict[str, str] = field(default_factory=dict)  # bare key -> type tag
    allowed: dict[str, tuple[str, ...]] = field(default_factory=dict)
    validator: Callable[[EventLog], DataFrame] | None = None

    def full_key(self, key: str) -> str:
        return f"{self.prefix}:{key}"

    def decl(self) -> ExtensionDecl:
        return ExtensionDecl(self.name, self.prefix, self.uri)


_REGISTRY: dict[str, ExtensionSpec] = {}


def register_extension(spec: ExtensionSpec, replace: bool = False) -> ExtensionSpec:
    """Register (or with ``replace`` redefine) an extension by prefix."""
    if not replace and spec.prefix in _REGISTRY:
        raise ValueError(f"extension prefix {spec.prefix!r} already registered")
    _REGISTRY[spec.prefix] = spec
    return spec


def get_extension(prefix: str) -> ExtensionSpec:
    return _REGISTRY[prefix]


def _typed_attr(full_key: str, tag: str):
    """Typed column expression for an extension attribute."""
    if full_key in WELL_KNOWN_KEYS:
        col = F.col(WELL_KNOWN_KEYS[full_key])
    else:
        col = F.element_at(F.col("attrs"), full_key)
    base = tag.removesuffix("+json")
    spark_t = SPARK_TYPE_FOR_TAG.get(base)
    if spark_t is None or base in ("string", "id"):
        return col
    if base == "list":
        return F.from_json(col, "array<string>")
    return col.try_cast(spark_t.simpleString())


def extension_view(log: EventLog, prefix: str) -> DataFrame:
    """The log's events with one typed column per extension key, named
    ``<prefix>_<key>`` (``:``/``-`` mangled for SQL friendliness).
    Projection-only: no shuffle, prunes like any select."""
    spec = get_extension(prefix)
    cols = [F.col(c) for c in log.df.columns]
    for key, tag in sorted(spec.keys.items()):
        out_name = f"{spec.prefix}_{key}".replace(":", "_").replace("-", "_")
        cols.append(_typed_attr(spec.full_key(key), tag).alias(out_name))
    return log.df.select(*cols)


def extension_violations(log: EventLog, spec: ExtensionSpec) -> DataFrame:
    """Violations frame for one extension: recorded-tag mismatches,
    uncastable typed values, out-of-vocabulary values, then the spec's
    own semantic pack. One declarative pass — same error-as-data shape
    as the globals pack."""
    checks: list[tuple[str, Column]] = []
    for key, tag in sorted(spec.keys.items()):
        fk = spec.full_key(key)
        base = tag.removesuffix("+json")
        raw = (
            F.col(WELL_KNOWN_KEYS[fk])
            if fk in WELL_KNOWN_KEYS
            else F.element_at(F.col("attrs"), fk)
        )
        recorded = F.element_at(F.col("attr_types"), fk)
        tag_bad = recorded.isNotNull() & (recorded != base) & (
            recorded != base + "+json"
        )
        checks.append((f"ext:{fk}:type", tag_bad))
        spark_t = SPARK_TYPE_FOR_TAG.get(base)
        if spark_t is not None and base not in ("string", "id", "list"):
            cast_bad = raw.isNotNull() & raw.try_cast(
                spark_t.simpleString()
            ).isNull()
            checks.append((f"ext:{fk}:lexical", cast_bad))
        if key in spec.allowed:
            vocab_bad = raw.isNotNull() & ~raw.isin(*spec.allowed[key])
            checks.append((f"ext:{fk}:vocabulary", vocab_bad))
    if checks:
        arr = F.array(*[F.when(cond, F.lit(name)) for name, cond in checks])
        out = log.df.withColumn(
            "violation", F.explode(F.filter(arr, lambda x: x.isNotNull()))
        ).select("case_id", "seq", "violation")
    else:
        out = log.df.sparkSession.createDataFrame(
            [], "case_id string, seq long, violation string"
        )
    if spec.validator is not None:
        out = out.unionByName(
            spec.validator(log).select("case_id", "seq", "violation")
        )
    return out


# ---------------------------------------------------------------------------
# Standard vocabulary, registered at import. Lifecycle is the worked
# example of the full surface: typed key + standard-model vocabulary
# (IEEE 1849-2016 lifecycle transition model).
# ---------------------------------------------------------------------------

LIFECYCLE_TRANSITIONS = (
    "schedule", "assign", "withdraw", "reassign", "start", "suspend",
    "resume", "pi_abort", "ate_abort", "complete", "autoskip",
    "manualskip", "unknown",
)


def _time_validator(log: EventLog) -> DataFrame:
    from promi_spark.operators.validate import chronology_violations

    return chronology_violations(log).select(
        "case_id", "seq", F.lit("time:chronology").alias("violation")
    )


register_extension(
    ExtensionSpec(
        name="Concept",
        prefix="concept",
        uri="http://www.xes-standard.org/concept.xesext",
        keys={"name": "string", "instance": "string"},
    )
)
register_extension(
    ExtensionSpec(
        name="Time",
        prefix="time",
        uri="http://www.xes-standard.org/time.xesext",
        keys={"timestamp": "date"},
        validator=_time_validator,
    )
)
register_extension(
    ExtensionSpec(
        name="Organizational",
        prefix="org",
        uri="http://www.xes-standard.org/org.xesext",
        keys={"resource": "string", "role": "string", "group": "string"},
    )
)
register_extension(
    ExtensionSpec(
        name="Lifecycle",
        prefix="lifecycle",
        uri="http://www.xes-standard.org/lifecycle.xesext",
        keys={"transition": "string"},
        allowed={"transition": LIFECYCLE_TRANSITIONS},
    )
)
