"""Relation lifetime: one scope owns every relation an operator pins.

Operators pin intermediate relations with :func:`persist` (a cache-manager
entry) or :func:`checkpoint` (an eager ``localCheckpoint``: lineage cut,
blocks owned by an internal RDD). Inside ``with scope():`` each pinned
relation is registered and freed when the outermost scope exits, on the
error path too; a scope opened inside another joins it. Outside any
scope both pin exactly as a bare ``persist()``/``localCheckpoint()``
does and register nothing. README "Relation lifetime" has the rules.

The open scope is a ``contextvars`` value, so a thread sees it only when
it runs in a copy of the opener's context
(``contextvars.copy_context().run``); registration is thread-safe.
"""

from __future__ import annotations

import contextvars
import threading
from collections.abc import Iterator
from contextlib import contextmanager, suppress

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class Scope:
    """The relations one outermost scope pinned, freed by its exit."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._persisted: list[DataFrame] = []
        self._checkpoints: list[tuple[DataFrame, int]] = []
        self._kept: list[DataFrame] = []

    def keep(self, *frames: DataFrame) -> None:
        """Keep ``frames`` readable after the scope exits: a checkpoint
        any of their plans reads is not freed (persisted relations still
        are — they recompute from lineage)."""
        with self._lock:
            self._kept.extend(frames)

    def _close(self) -> None:
        """Free every registered relation. One failed release (the
        session stopped inside the body, say) does not stop the rest;
        the first error is raised once all were tried."""
        errors: list[Exception] = []

        def attempt(fn, *args):
            try:
                return fn(*args)
            except Exception as e:
                errors.append(e)
                return None

        kept: set[int] | None = set()
        for df in self._kept:
            ids = attempt(_leaf_rdd_ids, df)
            if ids is None:  # cannot tell what a kept stream reads
                kept = None
                break
            kept |= ids
        for df in reversed(self._persisted):
            attempt(df.unpersist)
        if kept is not None:
            for df, rid in reversed(self._checkpoints):
                if rid not in kept:
                    attempt(_unpersist_rdd, df, rid)
        if errors:
            raise errors[0]


_OPEN: contextvars.ContextVar[Scope | None] = contextvars.ContextVar(
    "promi_spark_lifetime_scope", default=None
)


@contextmanager
def scope() -> Iterator[Scope]:
    """Own every relation :func:`persist`/:func:`checkpoint` pins in the
    body; free them when the outermost scope exits. If the body raised,
    its error propagates even when a release fails too."""
    outer = _OPEN.get()
    if outer is not None:
        yield outer
        return
    s = Scope()
    token = _OPEN.set(s)
    try:
        yield s
    except BaseException:
        _OPEN.reset(token)
        with suppress(Exception):  # the body's error is the one to see
            s._close()
        raise
    _OPEN.reset(token)
    s._close()


def persist(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """``df.persist(level)``, registered in the open scope. A frame that
    is already cached is returned as is: it is neither pinned again nor
    released by the scope."""
    s = _OPEN.get()
    if s is not None:
        if df.storageLevel != StorageLevel.NONE:
            return df
        with s._lock:
            s._persisted.append(df)
    return df.persist() if level is None else df.persist(level)


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, registered in the open scope."""
    return own(df.localCheckpoint(eager=True))


def own(cp: DataFrame) -> DataFrame:
    """Register a frame the caller already checkpointed in the open
    scope and return it: for an iterative loop whose round state it
    checkpoints and releases itself, to hand its last round out."""
    s = _OPEN.get()
    if s is not None:
        rid = _checkpoint_rdd_id(cp)
        if rid is not None:
            with s._lock:
                s._checkpoints.append((cp, rid))
    return cp


def release(df: DataFrame) -> None:
    """Free what ``df`` pins now: a checkpoint leaf's RDD blocks, or a
    persisted frame's cache entry. For operators that drop a relation
    before they return (round state in an iterative loop); after this a
    checkpoint leaf, and anything that reads it, can no longer be
    computed."""
    rid = _checkpoint_rdd_id(df)
    if rid is None:
        df.unpersist()
    else:
        _unpersist_rdd(df, rid)


def _checkpoint_rdd_id(df: DataFrame) -> int | None:
    """The id of the RDD backing a checkpointed frame, read directly off
    its analyzed plan (a ``LogicalRDD`` whose ``rdd`` is the pinned
    block-manager entry). Diffing ``getPersistentRDDs`` around the
    checkpoint instead would claim any RDD another thread persisted in
    that window. ``None`` when the plan is not a ``LogicalRDD``."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        return plan.rdd().id()
    return None


def _leaf_rdd_ids(df: DataFrame) -> set[int]:
    """Ids of the RDDs behind every ``LogicalRDD`` leaf ``df`` reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    ids = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            ids.add(leaf.rdd().id())
    return ids


def _unpersist_rdd(df: DataFrame, rid: int) -> None:
    rdds = df.sparkSession.sparkContext._jsc.sc().getPersistentRDDs()
    if rdds.contains(rid):
        rdds.apply(rid).unpersist(False)
