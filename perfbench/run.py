"""Run one workload of the promi_spark benchmark and print its metrics.

    python3 perfbench/run.py --workload interactive_mix --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics of a traced round, which
the run follows with one more untraced round to estimate the tracing
overhead. The lines
before it name every metric of the workload with its unit.

Everything the run writes (inputs, indexes, replay files, Spark scratch,
checkpoints) goes to a fresh directory under ``.perfbench_work/`` in the
checkout, removed at exit; a traced run's spans go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PER_LAYER = (
    "session.start_s", "io.load_s", "io.scan_bytes", "io.write_bytes",
    "queries.build_s", "queries.py4j_calls", "catalyst.plan_s",
    "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.shuffles",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.failed_tasks", "exec.busy_share", "kernel.py_s",
    "plans.load_s", "plans.execute_s", "plans.py4j_calls", "plans.docs_in",
    "plans.docs_out", "streaming.triggers", "streaming.add_batch_s",
    "streaming.overhead_s", "streaming.query_planning_s",
    "streaming.state_rows", "streaming.state_bytes", "cache.held_bytes",
    "cache.leaked_rdds", "index.build_s", "index.serve_s",
    "trace.overhead_share", "trace.coverage_share", "check.failed_share",
    "host.steal_share", "host.canary_s", "host.peak_rss_mb", "host.cpu_per_item_s",
)
# The end-to-end metrics of the JSON line: the steadiest of the table's.
END_TO_END = ("setup_s", "op_gmean_s")
# Span name -> per-layer metric fed by the span's self time.
SPAN_METRICS = {
    "io.load": "io.load_s",
    "queries.build": "queries.build_s",
    "catalyst.plan": "catalyst.plan_s",
    "exec.action": "exec.action_s",
    "index.serve": "index.serve_s",
    "plans.load": "plans.load_s",
    "plans.execute": "plans.execute_s",
    "streaming.drain": "exec.action_s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _missing_program() -> str | None:
    for path in ("promi_spark/__init__.py", "bench.py", "tools/make_scale_slice.py",
                 "tools/check_oracle.py", "examples/clean_corpus.yml"):
        if not os.path.isfile(os.path.join(ROOT, path)):
            return path
    return None


def _prepare_env(work: str, cores: int) -> None:
    """Keep every file the JVM, Spark and its Python workers write inside
    the run's work directory, and let workers import the checkout."""
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={work}/tmp") if o
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _window(workload, h, seconds: float):
    """Whole rounds of the workload, at least one, until ``seconds`` have
    passed."""
    records, t0 = [], time.perf_counter()
    while not records or time.perf_counter() - t0 < seconds:
        records.extend(workload.round(h))
    return records


def _layer_metrics(tracer, h, workload, session_start_s, base, traced) -> dict:
    from perfbench.metrics import self_time_by_name

    out = {k: 0.0 for k in PER_LAYER}
    own = self_time_by_name(tracer.spans)
    for span_name, metric in SPAN_METRICS.items():
        out[metric] += own.get(span_name, 0.0)
    for key, value in tracer.counts.items():
        if key in out:
            out[key] += value
    out["session.start_s"] = session_start_s
    out["index.build_s"] = getattr(workload, "index_build_s", 0.0)
    op_wall = tracer.counts.get("exec.op_wall_s", 0.0)
    if op_wall:
        out["exec.busy_share"] = out["exec.task_run_s"] / (op_wall * h.cores)
    op_total = sum(s.duration for s in tracer.spans if s.name == "op")
    if op_total:
        out["trace.coverage_share"] = 1.0 - own.get("op", 0.0) / op_total
    per_op = lambda recs: sum(r.seconds for r in recs) / len(recs)  # noqa: E731
    out["trace.overhead_share"] = per_op(traced) / per_op(base) - 1.0
    return out


def run(args) -> int:
    missing = _missing_program()
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from a promi_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, cores)
    try:
        return _measure(args, WORKLOADS[args.workload](args.seed), work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _measure(args, workload, work: str, cores: int) -> int:
    import bench
    from perfbench.metrics import failed_share
    from perfbench.tracing import KernelTimer, ProcessTree, Py4JCounter, Tracer, wrap_functions
    from perfbench.workloads import Harness
    from promi_spark.session import get_spark

    steal0, t_run0 = bench._steal_ticks(), time.perf_counter()
    tracer = Tracer(enabled=False)
    spark = None
    phases: dict[str, float] = {}
    with ProcessTree() as tree:
        try:
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            session_start_s = time.perf_counter() - t0
            h = Harness(spark, tracer, work, cores)
            t0 = time.perf_counter()
            workload.setup(h, os.path.join(work, "inputs"))
            setup_s = time.perf_counter() - t0
            phases["setup"] = time.perf_counter() - t_run0
            workload.warmup(h)
            phases["warmup"] = time.perf_counter() - t_run0 - sum(phases.values())
            canary = bench.canary_probe(spark)
            cpu0 = tree.cpu_seconds()
            records = _window(workload, h, args.seconds)
            window_cpu_s = tree.cpu_seconds() - cpu0
            phases["window"] = time.perf_counter() - t_run0 - sum(phases.values())
            base, traced = [], []
            if args.trace:
                import promi_spark.io.ingest as ingest

                py4j, kernel = Py4JCounter(), KernelTimer(spark)
                py4j.install()
                kernel.install()
                h.py4j, h.kernel = py4j, kernel
                tracer.enabled = True
                try:
                    with wrap_functions(tracer, "io.load", "promi_spark",
                                        (ingest.load_table, ingest.load_event_log)):
                        traced = workload.round(h)
                finally:
                    tracer.enabled = False
                    kernel.uninstall()
                    py4j.uninstall()
                # The overhead baseline: one more untraced round, after the
                # traced one (so on a warmer JVM).
                base = workload.round(h)
            phases["traced_window"] = time.perf_counter() - t_run0 - sum(phases.values())
            failures = workload.check(h, records + base + traced)
            phases["check"] = time.perf_counter() - t_run0 - sum(phases.values())
        finally:
            if spark is not None:
                _stop(spark)
    phases["stop"] = time.perf_counter() - t_run0 - sum(phases.values())
    steal1 = bench._steal_ticks()
    wall = time.perf_counter() - t_run0
    steal = (
        (steal1 - steal0) * 0.01 / (wall * (os.cpu_count() or 1))
        if steal0 is not None and steal1 is not None else 0.0
    )
    all_records = records + base + traced
    attempted = len(all_records)
    failed = sum(r.failed for r in all_records)
    e2e, table = workload.summary(records)
    e2e["setup_s"] = (setup_s, "s")
    table.update(e2e)
    table["peak_rss_mb"] = (tree.peak_bytes / 2**20, "MB")
    table["cpu_per_item_s"] = (window_cpu_s / workload.items(records), "s")
    table["failed_share"] = (failed_share(failed, attempted), "ratio")

    def say(name, value, unit):
        print(f"{workload.name:16s} {name:28s} {value:14.6g} {unit}")

    for f in failures:
        print(f"{workload.name}: CHECK FAILED: {f}")
    for name, (value, unit) in sorted(table.items()):
        say(name, value, unit)
    say("ops_timed", len(records), "ops")
    say("canary_s", canary, "s")
    say("steal_share", steal, "ratio")
    for name, sec in phases.items():
        say(f"phase_{name}_s", sec, "s")
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{workload.name}-{args.seed}.jsonl"))
        layers = _layer_metrics(tracer, h, workload, session_start_s, base, traced)
        layers["check.failed_share"] = failed_share(failed, attempted)
        layers["host.steal_share"] = steal
        layers["host.canary_s"] = canary
        layers["host.peak_rss_mb"] = table["peak_rss_mb"][0]
        layers["host.cpu_per_item_s"] = table["cpu_per_item_s"][0]
        units = _layer_units()
        for name in PER_LAYER:
            say(name, layers[name], units[name])
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}
    print(json.dumps({
        "correct": not failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _layer_units() -> dict[str, str]:
    def unit(name: str) -> str:
        if name.endswith("_s"):
            return "s"
        if name.endswith("_bytes"):
            return "bytes"
        if name.endswith("_share"):
            return "ratio"
        if name.endswith("_mb"):
            return "MB"
        return "count"

    return {k: unit(k) for k in PER_LAYER}


def main(argv=None) -> int:
    # On SIGTERM, unwind through the finally blocks, which stop the JVM
    # and remove the work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run(parse_args(sys.argv[1:] if argv is None else argv))


if __name__ == "__main__":
    sys.exit(main())
