"""Repair operator (reference ``src/stream/repair.rs:14-38``): fix
invalid classifier names by deleting spaces. Meta lives out-of-band, so
this is a pure-Python rewrite of the descriptor."""

from __future__ import annotations

from dataclasses import replace

from promi_spark.schema import ClassifierDecl, Meta


def repair_meta(meta: Meta) -> Meta:
    """Delete spaces from classifier names (``repair.rs:27``)."""
    fixed = [
        ClassifierDecl(name=c.name.replace(" ", ""), scope=c.scope, keys=c.keys)
        for c in meta.classifiers
    ]
    return replace(meta, classifiers=fixed)
