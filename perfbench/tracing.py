"""Instrumentation for the traced run, applied from outside the program.

Nothing here edits ``promi_spark``: spans wrap the benchmark's own calls
into each layer, py4j commands are counted at the gateway client, stage
metrics come from Spark's status store by job group, and the Python
kernel boundary is timed by wrapping the functions handed to
``mapInPandas``/``mapInArrow``/``applyInPandas``/``applyInPandasWithState``.
Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import sys
import threading
import time

from perfbench.metrics import Span, is_counted_py4j_command

# Status-store stage fields summed per operation: (getter, output key, scale).
_STAGE_FIELDS = (
    ("executorRunTime", "task_run_s", 1e-3),
    ("executorCpuTime", "task_cpu_s", 1e-9),
    ("inputBytes", "scan_bytes", 1),
    ("outputBytes", "write_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("numTasks", "tasks", 1),
    ("numFailedTasks", "failed_tasks", 1),
)


class Tracer:
    """Spans and counters of one run. Disabled, every method is a no-op
    so the untraced run pays nothing but a function call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.op_counts: dict[str, dict[str, float]] = {}
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        index = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(index)
        try:
            yield
        finally:
            self._stack.pop()
            s = self.spans[index]
            self.spans[index] = Span(s.name, s.start, time.perf_counter(), s.parent, s.op)

    def add(self, key: str, value: float) -> None:
        """Add to a run total, and to the current operation's."""
        if self.enabled:
            self.counts[key] = self.counts.get(key, 0.0) + value
            if self.op is not None:
                op = self.op_counts.setdefault(self.op, {})
                op[key] = op.get(key, 0.0) + value

    def dump(self, path: str) -> None:
        """One JSON line per span, then one per operation's counts."""
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"i": i, **s.__dict__}) + "\n")
            for op, counts in self.op_counts.items():
                fh.write(json.dumps({"op": op, "counts": counts}) + "\n")


class Py4JCounter:
    """Counts py4j commands sent from this process, except memory
    deletes, which the garbage collector sends at arbitrary times."""

    def __init__(self) -> None:
        self.n = 0
        self._orig = None

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = self._orig = GatewayClient.send_command
        counter = self

        def send_command(client, command, *args, **kwargs):
            if is_counted_py4j_command(command):
                counter.n += 1
            return orig(client, command, *args, **kwargs)

        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.java_gateway import GatewayClient

            GatewayClient.send_command = self._orig
            self._orig = None


def stage_rollup(spark, group: str) -> dict[str, float]:
    """Jobs, stages and summed stage metrics of every job tagged with
    ``group`` (a job group, or a streaming query's run id). Skipped
    stages did no work and are left out. ``shuffles`` counts stages that
    wrote shuffle output: one per exchange that actually ran, with
    broadcasts and reused exchanges excluded."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = {k: 0.0 for _, k, _ in _STAGE_FIELDS}
    out.update(jobs=0, stages=0, shuffles=0)
    stage_ids: set[int] = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        info = sc.statusTracker().getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        stage = store.lastStageAttempt(sid)
        if stage.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        for getter, key, scale in _STAGE_FIELDS:
            out[key] += getattr(stage, getter)() * scale
        if stage.shuffleWriteBytes() > 0:
            out["shuffles"] += 1
    return out


def cache_state(spark) -> tuple[int, float]:
    """(persisted RDD count, bytes held in memory and on disk)."""
    sc = spark.sparkContext
    held = sum(
        info.memSize() + info.diskSize() for info in sc._jsc.sc().getRDDStorageInfo()
    )
    return sc._jsc.getPersistentRDDs().size(), float(held)


class KernelTimer:
    """Times the Python functions that cross the Arrow boundary. The time
    each worker spends inside the function (pulling its input batches
    included) is summed into an accumulator, so it is task time, not
    wall time."""

    def __init__(self, spark) -> None:
        self.acc = spark.sparkContext.accumulator(0.0)
        self._patched: list[tuple[type, str, object]] = []

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.group import GroupedData

        for cls, name in (
            (DataFrame, "mapInPandas"),
            (DataFrame, "mapInArrow"),
            (GroupedData, "applyInPandas"),
            (GroupedData, "applyInPandasWithState"),
        ):
            orig = getattr(cls, name)
            self._patched.append((cls, name, orig))
            setattr(cls, name, self._wrap_method(orig))

    def uninstall(self) -> None:
        for cls, name, orig in reversed(self._patched):
            setattr(cls, name, orig)
        self._patched.clear()

    def _wrap_method(self, method):
        acc = self.acc

        @functools.wraps(method)
        def wrapped(obj, func, *args, **kwargs):
            return method(obj, timed_udf(func, acc), *args, **kwargs)

        return wrapped


def _timed_iter(result, acc):
    total = 0.0
    it = iter(result)
    while True:
        t0 = time.perf_counter()
        try:
            item = next(it)
        except StopIteration:
            acc.add(total + time.perf_counter() - t0)
            return
        total += time.perf_counter() - t0
        yield item


def timed_udf(func, acc):
    """Wrap ``func`` keeping its arity, which pyspark inspects to decide
    whether the grouping key is passed."""
    n_args = len(inspect.signature(func).parameters)

    def call(*args):
        t0 = time.perf_counter()
        result = func(*args)
        if hasattr(result, "__next__") or inspect.isgenerator(result):
            acc.add(time.perf_counter() - t0)
            return _timed_iter(result, acc)
        acc.add(time.perf_counter() - t0)
        return result

    if n_args == 1:
        return lambda a: call(a)
    if n_args == 2:
        return lambda a, b: call(a, b)
    return lambda a, b, c: call(a, b, c)


@contextlib.contextmanager
def wrap_functions(tracer: Tracer, span_name: str, module_prefix: str, targets):
    """Replace every module-level binding of each target function under
    ``module_prefix`` with one that records ``span_name``; restore on
    exit. Modules that imported the function by name are covered too."""
    wrappers = {}
    for fn in targets:

        @functools.wraps(fn)
        def wrapper(*args, __fn=fn, **kwargs):
            with tracer.span(span_name):
                return __fn(*args, **kwargs)

        wrappers[fn] = wrapper
    replaced = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(module_prefix):
            continue
        for attr, value in list(vars(mod).items()):
            if callable(value) and value in wrappers:
                setattr(mod, attr, wrappers[value])
                replaced.append((mod, attr, value))
    try:
        yield
    finally:
        for mod, attr, value in replaced:
            setattr(mod, attr, value)


class ProcessTree:
    """Resident memory and CPU time of this process and all its
    descendants (the JVM and its Python workers). A thread samples the
    memory every ``interval`` s and keeps the peak."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def __enter__(self) -> "ProcessTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _stats(self) -> dict[int, list[str]]:
        """/proc/<pid>/stat fields after the command name, for the tree."""
        stats, children = {}, {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(entry)] = fields
            children.setdefault(int(fields[1]), []).append(int(entry))
        tree, todo = {}, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
        return tree

    def rss_bytes(self) -> int:
        # field 22 of stat (index 21 counted from the state field) is rss in pages
        return sum(int(f[21]) for f in self._stats().values()) * self._page

    def cpu_seconds(self) -> float:
        """User plus system time of the tree, children already reaped by
        a member of the tree included."""
        ticks = sum(sum(int(x) for x in f[11:15]) for f in self._stats().values())
        return ticks / self._tick

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.rss_bytes())
            self._stop.wait(self.interval)
