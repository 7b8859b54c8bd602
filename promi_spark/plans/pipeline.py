"""Declarative dataflow pipelines (reference flow layer,
``src/stream/flow/graph.rs:97-225``, ``pipe.rs:17-23``,
``segment.rs:17-102``; example config ``static/flow/flow.yml``).

A flow is named pipes of segments (source -> streams -> sink) connected
by named stream/artifact channels. The reference toposorts pipes by
channel dependencies and runs one thread per pipe; here the DAG
collapses into ordinary composed DataFrames — channels are shared
(cached) EventLogs, scheduling is a driver-side toposort, and Spark's
DAGScheduler does the actual parallel execution. Cycles are rejected
exactly like the reference's deadlock detection (``util.rs:38-64``).

Config is YAML or JSON. Attribute values accept both plain scalars and
the reference's typed form (``{String: x}``, ``{Float: 0.1}``,
``{Int: 0}``, ``{Boolean: true}``).
"""

from __future__ import annotations

import contextvars
import json
from dataclasses import dataclass, field
from typing import Any

from promi_spark.lifetime import scope
from promi_spark.log import EventLog
from promi_spark.plans.registry import FlowConfigError, FlowContext, get

_TYPED_KEYS = {"String", "Float", "Int", "Boolean", "Date", "Id", "List"}


@dataclass
class Segment:
    name: str
    attributes: dict[str, Any] = field(default_factory=dict)
    stream_sender: list[str] = field(default_factory=list)
    stream_receiver: list[str] = field(default_factory=list)
    artifact_sender: list[str] = field(default_factory=list)
    artifact_receiver: list[str] = field(default_factory=list)


@dataclass
class Pipe:
    name: str
    source: Segment
    streams: list[Segment] = field(default_factory=list)
    sink: Segment | None = None


@dataclass
class Flow:
    pipes: list[Pipe] = field(default_factory=list)


@dataclass
class FlowResult:
    artifacts: dict[str, Any] = field(default_factory=dict)
    streams: dict[str, Any] = field(default_factory=dict)


def _attr_value(v: Any) -> Any:
    if isinstance(v, dict) and len(v) == 1:
        k = next(iter(v))
        if k in _TYPED_KEYS:
            return v[k]
    return v


def _as_list(v) -> list[str]:
    if v is None:
        return []
    if isinstance(v, str):
        return [v]
    return list(v)


def _segment(d: dict | str) -> Segment:
    if isinstance(d, str):
        return Segment(name=d)
    return Segment(
        name=d["name"],
        attributes={k: _attr_value(v) for k, v in (d.get("attributes") or {}).items()},
        stream_sender=_as_list(d.get("stream_sender")),
        stream_receiver=_as_list(d.get("stream_receiver")),
        artifact_sender=_as_list(d.get("artifact_sender")),
        artifact_receiver=_as_list(d.get("artifact_receiver")),
    )


def load_flow(config: str | dict) -> Flow:
    """Parse a flow from a YAML/JSON string, a path, or a dict."""
    if isinstance(config, str):
        text = config
        if "\n" not in config and (
            config.endswith((".yml", ".yaml", ".json"))
        ):
            with open(config) as f:
                text = f.read()
        try:
            d = json.loads(text)
        except json.JSONDecodeError:
            import yaml

            d = yaml.safe_load(text)
    else:
        d = config
    pipes = []
    for p in d.get("pipes", []):
        pipes.append(
            Pipe(
                name=p.get("name", f"pipe{len(pipes)}"),
                source=_segment(p["source"]),
                streams=[_segment(s) for s in p.get("streams", [])],
                sink=_segment(p["sink"]) if p.get("sink") else None,
            )
        )
    flow = Flow(pipes=pipes)
    validate_flow(flow)
    return flow


def validate_flow(flow: Flow) -> None:
    """Check every segment against its registry entry's typed parameter
    declarations (reference ``Declaration``, ``plugin.rs:19-371``):
    unknown operator names, unknown/mistyped attributes, missing
    required parameters, stream channels on a segment whose function
    takes none, and a segment whose function takes ``_recv`` without a
    stream_receiver channel raise :class:`FlowConfigError` naming the
    pipe, segment, and parameter — before anything executes."""
    sent: set[str] = set()
    received: list[tuple[str, str, str]] = []
    # channel -> first sender seen; channels are single-sender in this
    # engine (a send ASSIGNS ctx.streams[ch]/ctx.artifacts[ch]; fan-in
    # is a receiver listing several channels, never two senders on
    # one). _generations also keeps only one sender per channel, so a
    # second sender would silently fall out of the dependency graph
    # and — under generation-concurrent execution — race the receiver.
    senders: dict[str, str] = {}
    for pipe in flow.pipes:
        segs = [("source", pipe.source)]
        segs += [("stream", s) for s in pipe.streams]
        if pipe.sink is not None:
            segs.append(("sink", pipe.sink))
        for kind, seg in segs:
            try:
                entry = get(seg.name)
            except KeyError as e:
                raise FlowConfigError(
                    f"pipe {pipe.name!r}: {e.args[0]}"
                ) from None
            if kind not in entry.kinds:
                raise FlowConfigError(
                    f"pipe {pipe.name!r}: segment {seg.name!r} cannot be "
                    f"used as a {kind} (kinds: {sorted(entry.kinds)})"
                )
            entry.validate(seg.attributes, f"{pipe.name}/{seg.name}")
            for chans, arg, key in ((seg.stream_sender, "_send", "stream_sender"),
                                    (seg.stream_receiver, "_recv", "stream_receiver")):
                if chans and arg not in entry.channels:
                    raise FlowConfigError(
                        f"pipe {pipe.name!r}: segment {seg.name!r} takes no "
                        f"{key} (channels {chans}); its function has no "
                        f"{arg} parameter"
                    )
            if "_recv" in entry.channels and not seg.stream_receiver:
                raise FlowConfigError(
                    f"pipe {pipe.name!r}: segment {seg.name!r} reads its "
                    "input from a stream_receiver channel, but none is set"
                )
            for ch in list(seg.stream_sender) + list(seg.artifact_sender):
                where = f"{pipe.name}/{seg.name}"
                if ch in senders:
                    raise FlowConfigError(
                        f"channel {ch!r} has two senders "
                        f"({senders[ch]!r} and {where!r}): channels are "
                        "single-sender (a send overwrites the channel "
                        "binding and only the LAST sender would enter "
                        "the dependency graph — receivers could race "
                        "the other under concurrent execution); for "
                        "fan-in, list several channels on one receiver"
                    )
                senders[ch] = where
            sent.update(seg.stream_sender)
            received += [
                (pipe.name, seg.name, ch) for ch in seg.stream_receiver
            ]
    # every receive channel needs a sender somewhere in the flow —
    # otherwise the typo surfaces as a bare KeyError mid-execution
    # after upstream pipes (and possibly sinks) have already run
    for pipe_name, seg_name, ch in received:
        if ch not in sent:
            raise FlowConfigError(
                f"pipe {pipe_name!r}: segment {seg_name!r} receives from "
                f"stream channel {ch!r}, which no segment sends to "
                f"(senders: {sorted(sent) or '(none)'})"
            )


def _generations(flow: Flow) -> list[list[Pipe]]:
    """Toposort pipes into dependency GENERATIONS: every pipe in
    generation g only receives from channels sent by generations < g,
    so the pipes within one generation are mutually independent and can
    execute concurrently. Rejects cycles (reference deadlock detection,
    ``util.rs:38-64``)."""
    sends: dict[str, str] = {}
    recvs: dict[str, set[str]] = {p.name: set() for p in flow.pipes}
    for p in flow.pipes:
        segs = [p.source, *p.streams] + ([p.sink] if p.sink else [])
        for s in segs:
            for ch in s.stream_sender + s.artifact_sender:
                sends[ch] = p.name
            for ch in s.stream_receiver + s.artifact_receiver:
                recvs[p.name].add(ch)
    deps: dict[str, set[str]] = {p.name: set() for p in flow.pipes}
    for name, chans in recvs.items():
        for ch in chans:
            if ch in sends:
                deps[name].add(sends[ch])
    gens: list[list[Pipe]] = []
    done: set[str] = set()
    while len(done) < len(flow.pipes):
        gen = [
            p for p in flow.pipes
            if p.name not in done and deps[p.name] <= done
        ]
        if not gen:
            cycle = [n for n in deps if n not in done]
            raise ValueError(f"flow has a channel cycle (deadlock): {cycle}")
        gens.append(gen)
        done.update(p.name for p in gen)
    return gens


def _run_segment(ctx: FlowContext, seg: Segment, log):
    entry = get(seg.name)
    attrs = dict(seg.attributes)
    if seg.stream_sender:
        attrs["_send"] = seg.stream_sender
    if seg.stream_receiver:
        attrs["_recv"] = seg.stream_receiver
    result = entry(ctx, log, **attrs)
    artifact = None
    if isinstance(result, tuple) and len(result) == 2:
        result, artifact = result
    if artifact is not None:
        for ch in seg.artifact_sender or [f"{seg.name}@{id(seg)}"]:
            ctx.artifacts[ch] = artifact
    return result


def _run_pipe(ctx: FlowContext, pipe: Pipe) -> None:
    log = _run_segment(ctx, pipe.source, None)
    for seg in pipe.streams:
        log = _run_segment(ctx, seg, log)
    if pipe.sink is not None:
        _run_segment(ctx, pipe.sink, log)


# Concurrent pipes per generation. Spark's scheduler accepts job
# submission from multiple driver threads (each pipe's actions become
# independent jobs sharing the executor pool); the cap only bounds
# DRIVER-side thread fan-out — a generation of 100 pipes still
# completes, 8 in flight at a time.
MAX_CONCURRENT_PIPES = 8


def execute(spark, flow: Flow | str | dict, base_dir: str = ".") -> FlowResult:
    """Run a flow; returns the named artifacts + leftover stream
    channels (unclaimed senders bind to the result, mirroring the
    reference's gen-0/MAX graph bindings, ``graph.rs:120-138``).

    Pipes execute by dependency GENERATION: each generation's pipes are
    mutually independent (no channel between them, by construction of
    :func:`_generations`) and run concurrently from a driver thread
    pool — the Spark analog of the reference's thread-per-pipe
    ``ThreadExecutor`` (``src/stream/flow/executor.rs:17-68``). Within
    one generation there are no cross-thread channel hand-offs, so the
    shared FlowContext dicts are written race-free (distinct keys,
    GIL-atomic); a failing pipe cancels nothing mid-flight but its
    exception propagates after the generation drains.

    The run owns what its segments persist or checkpoint: it opens a
    :func:`promi_spark.lifetime.scope` (or joins the caller's), so those
    relations are freed when it returns or fails — except checkpoints
    a returned stream still reads (README "Relation lifetime")."""
    if not isinstance(flow, Flow):
        flow = load_flow(flow)  # load_flow validates
    else:
        validate_flow(flow)  # dict/dataclass-built flows validate too
    ctx = FlowContext(spark=spark, base_dir=base_dir)
    with scope() as owner:
        for gen in _generations(flow):
            if len(gen) == 1:  # no pool for the common serial chain
                _run_pipe(ctx, gen[0])
                continue
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(len(gen), MAX_CONCURRENT_PIPES),
                thread_name_prefix="promi_flow_pipe",
            ) as pool:
                # a worker thread sees the open scope only inside a
                # copy of this thread's context
                futures = [
                    pool.submit(
                        contextvars.copy_context().run, _run_pipe, ctx, p
                    )
                    for p in gen
                ]
                # collect every result so no failure is swallowed; the
                # first exception (submission order) propagates
                errs = []
                for f in futures:
                    try:
                        f.result()
                    except Exception as e:  # noqa: BLE001
                        errs.append(e)
                if errs:
                    raise errs[0]
        owner.keep(
            *(s.df if isinstance(s, EventLog) else s for s in ctx.streams.values())
        )
    return FlowResult(artifacts=ctx.artifacts, streams=ctx.streams)
