"""promi_spark — a PySpark-native event-log analytics engine.

A brand-new engine with the query and data-processing capabilities of
PM4Rs/promi (process mining over event logs), re-expressed Spark-first:
the event log is one flat DataFrame plus a small out-of-band meta
descriptor; traces are a *view* (window over ``seq`` per ``case_id``);
every operator is a declarative DataFrame transformation so Catalyst
gets predicate pushdown, column pruning and whole-stage codegen for
free.

Layout
------
- ``schema``     — the canonical flat events schema + ``Meta`` descriptor
- ``log``        — ``EventLog``: (DataFrame, Meta) pair with trace views
- ``session``    — tuned local SparkSession builder
- ``lifetime``   — the scope that owns every relation an operator pins
- ``io``         — parquet ingest, XES reader/writer
- ``operators``  — filters, stats, validate, repair, split, dfg, dedup,
                   text, similarity, multimodal (the SURVEY §2 inventory)
- ``plans``      — named-operator registry + YAML/JSON pipeline loader
- ``streaming``  — Structured Streaming variants (session-window trace
                   builder, stateful stats, DLQ)
"""

from promi_spark.schema import Meta, Global, ClassifierDecl, ExtensionDecl
from promi_spark.log import EventLog

__all__ = ["Meta", "Global", "ClassifierDecl", "ExtensionDecl", "EventLog"]
__version__ = "0.1.0"
