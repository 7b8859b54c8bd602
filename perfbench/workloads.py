"""The three workloads. Each is a closed loop with one client: the next
operation starts when the previous one has finished.

A workload object is built once per run. ``setup`` makes its inputs from
the seed, ``warmup`` runs every operation once
untimed, ``round`` runs and times one round of operations, ``check``
verifies the outputs of the timed operations outside the timed window,
and ``summary`` turns the timed records into metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.metrics import median, nearest_rank, tail
from perfbench.tracing import cache_state, stage_rollup


@dataclass
class OpRecord:
    kind: str
    seconds: float
    value: object = None  # what the operation returned, for the checks
    failed: bool = False
    extra: dict = field(default_factory=dict)


class Harness:
    """What a workload needs from the run: the session, the tracer and
    the per-operation bookkeeping of the traced run."""

    def __init__(self, spark, tracer, work: str, cores: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.cores = cores
        self.py4j = None  # perfbench.tracing.Py4JCounter in the traced run
        self.kernel = None  # perfbench.tracing.KernelTimer in the traced run
        self._ops = 0

    def py4j_calls(self) -> int:
        return self.py4j.n if self.py4j else 0

    def begin_op(self, kind: str) -> str:
        self._ops += 1
        group = f"perfbench-{self._ops}-{kind}"
        if self.tracer.enabled:
            self.tracer.op = group
            self.spark.sparkContext.setJobGroup(group, kind)
            self._rdds_before, _ = cache_state(self.spark)
            self._kernel_before = self.kernel.acc.value
        return group

    def end_op(self, group: str, wall: float) -> None:
        """Attribute the operation's stages and cached relations, then
        drop every cached relation so the next operation starts clean."""
        if self.tracer.enabled:
            self.add_stages(group, wall)
            n_rdds, held = cache_state(self.spark)
            self.tracer.add("cache.held_bytes", held)
            self.tracer.add("cache.leaked_rdds", max(0, n_rdds - self._rdds_before))
            self.tracer.op = None
        self.spark.catalog.clearCache()

    def add_stages(self, group: str, wall: float) -> None:
        """Add the operation's stage metrics and its Python kernel time
        (the accumulator has every task's update once its job is done)."""
        stages = stage_rollup(self.spark, group)
        self.tracer.add("kernel.py_s", self.kernel.acc.value - self._kernel_before)
        for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "shuffles",
                    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                    "failed_tasks"):
            self.tracer.add(f"exec.{key}", stages[key])
        self.tracer.add("io.scan_bytes", stages["scan_bytes"])
        self.tracer.add("io.write_bytes", stages["write_bytes"])
        self.tracer.add("exec.op_wall_s", wall)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    name = ""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.rng = random.Random(seed)

    def setup(self, h: Harness, data_dir: str) -> None:
        raise NotImplementedError

    def warmup(self, h: Harness) -> None:
        raise NotImplementedError

    def round(self, h: Harness) -> list[OpRecord]:
        raise NotImplementedError

    def check(self, h: Harness, records: list[OpRecord]) -> list[str]:
        raise NotImplementedError

    def items(self, records: list[OpRecord]) -> float:
        """Work units the records processed: operations, by default."""
        return float(len(records))

    def summary(self, records: list[OpRecord]) -> tuple[dict, dict]:
        """(the end-to-end metrics of the JSON line, the workload's own
        metrics for the table) — each {name: (value, unit)}."""
        raise NotImplementedError

    def e2e(self, latencies: list[float], records: list[OpRecord]) -> dict:
        """Latency of the workload's unit operation and its throughput."""
        return {
            "op_p50_s": (median(latencies), "s"),
            "op_p90_s": (nearest_rank(latencies, 90), "s"),
            "op_gmean_s": (float(np.exp(np.mean(np.log(latencies)))), "s"),
            "items_per_s": (self.items(records) / sum(r.seconds for r in records), "items/s"),
        }


def _latency_rows(prefix: str, seconds: list[float]) -> dict:
    rows = {f"{prefix}_p50_s": (median(seconds), "s")}
    t = tail(seconds)
    if t is None:
        rows[f"{prefix}_max_s"] = (max(seconds), f"s (n={len(seconds)})")
    else:
        rows[f"{prefix}_p{t.pct:g}_s"] = (t.value, f"s ({t.beyond} of n={t.n} beyond)")
    return rows


# ---------------------------------------------------------------------------
# interactive_mix

# Scores are rounded to 6 places by the serves; allow that much slack.
_SCORE_EPS = 2e-6


def _probed(path: str, qvec, nprobe: int):
    """The index rows of the ``nprobe`` cells whose centroids are nearest
    the query in squared L2, read straight from the index files."""
    import json

    with open(os.path.join(path, "_centroids.json")) as fh:
        cents = np.array(json.load(fh))
    q = np.asarray(qvec)
    probe = np.argsort(((cents - q) ** 2).sum(1), kind="stable")[:nprobe]
    table = pq.read_table(path)
    mask = np.isin(table.column("cluster").to_numpy(), probe)
    return table.filter(mask), q


def _top_ok(scores: np.ndarray, ids: np.ndarray, got: dict, k: int, higher: bool) -> str | None:
    """None when ``got`` (id -> score) is a correct top-``k`` of
    (``ids``, ``scores``): k distinct ids, each score right, and none
    worse than the k-th best by more than rounding."""
    if len(got) != min(k, len(ids)):
        return f"{len(got)} distinct results, expected {min(k, len(ids))}"
    by_id = dict(zip(ids.tolist(), scores.tolist()))
    kth = np.sort(scores)[::-1][k - 1] if higher else np.sort(scores)[k - 1]
    for vid, score in got.items():
        if vid not in by_id or abs(by_id[vid] - score) > _SCORE_EPS:
            return f"id {vid} scored {score}, expected {by_id.get(vid)}"
        if (by_id[vid] < kth - _SCORE_EPS) if higher else (by_id[vid] > kth + _SCORE_EPS):
            return f"id {vid} is not among the top {k} of the probed cells"
    return None


def _check_ivf(path, qvec, rows, k, nprobe) -> str | None:
    """IVF serve = exact cosine top-k over the probed cells."""
    if len(rows) != k:
        return f"{len(rows)} rows"
    table, q = _probed(path, qvec, nprobe)
    vecs = np.stack(table.column("embedding").to_numpy(zero_copy_only=False)).astype(float)
    cos = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    return _top_ok(cos, table.column("vec_id").to_numpy(), {r[0]: r[1] for r in rows}, k, True)


def _check_ivfpq(path, qvec, rows, k, nprobe) -> str | None:
    """IVF-PQ serve = top-k by asymmetric distance (sum over subspaces of
    squared L2 from the query's slice to the code's sub-centroid)."""
    import json

    with open(os.path.join(path, "_codebooks.json")) as fh:
        books = [np.array(b) for b in json.load(fh)]
    if len(rows) != k:
        return f"{len(rows)} rows"
    table, q = _probed(path, qvec, nprobe)
    d = books[0].shape[1]
    adc = np.zeros(table.num_rows)
    for m, book in enumerate(books):
        partial = ((book - q[m * d:(m + 1) * d]) ** 2).sum(1)
        adc += partial[table.column(f"code_{m}").to_numpy()]
    return _top_ok(adc, table.column("vec_id").to_numpy(), {r[0]: r[1] for r in rows}, k, False)



class InteractiveMix(Workload):
    """Headline queries, ANN serves from prebuilt indexes, and a drain of
    a short event replay through ``stateful_dfg``."""

    name = "interactive_mix"
    SF = 0.01
    N_EMBEDDINGS = 500
    # One query per operator family of bench.HEADLINE, kept to what one
    # run can warm and then time in about a minute. MinHash near-dup
    # dedup runs in corpus_flow's NearDupDedup segment instead.
    QUERIES = (
        "stats_counts",
        "dfg_endpoints",
        "trace_variants",
        "tpch_q1",
        "revenue_by_nation",
        "dedup_exact_docs",
        "text_quality",
        "media_decode_stats",
    )
    SERVES = ("ivf_serve", "ivfpq_serve")
    # The streaming engine and the applyInPandasWithState kernel: the
    # set-up's events replayed as REPLAY_FILES files, one per trigger.
    DRAINS = ("stateful_dfg",)
    REPLAY_FILES = 4
    N_CLUSTERS, NPROBE, K = 8, 3, 10

    def setup(self, h, data_dir):
        import bench
        from promi_spark.io import load_table
        from promi_spark.operators import pq as pqops
        from promi_spark.operators.similarity import ivf_centroids, write_ivf_index

        assert set(self.QUERIES) <= set(bench.HEADLINE)
        self.counts = gen.write_sf_dir(data_dir, self.seed, self.SF, self.N_EMBEDDINGS)
        self.sf_dir = data_dir
        emb_table = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
        self.vecs = np.stack(emb_table.column("embedding").to_numpy(zero_copy_only=False)).astype(float)
        self.vec_ids = emb_table.column("vec_id").to_numpy()
        rng = np.random.default_rng(self.seed + 1)
        picks = self.vecs[rng.integers(0, len(self.vecs), 64)]
        picks = picks + rng.normal(scale=0.3, size=picks.shape)
        self.query_vecs = [list(map(float, v / np.linalg.norm(v))) for v in picks]
        self.ivf_path = os.path.join(data_dir, "ivf_index")
        self.ivfpq_path = os.path.join(data_dir, "ivfpq_index")
        t0 = time.perf_counter()
        emb = load_table(h.spark, "embeddings", data_dir)
        cents = ivf_centroids(emb, self.N_CLUSTERS)
        write_ivf_index(emb, cents, self.ivf_path)
        books = pqops.pq_codebooks(emb, dim=gen.EMB_DIM, m_subspaces=4, n_codes=16)
        pqops.write_ivfpq_index(emb, cents, books, self.ivfpq_path)
        self.index_build_s = time.perf_counter() - t0
        self.replay = Replay(h, data_dir, os.path.join(data_dir, "replay"), self.REPLAY_FILES, rng)
        self.ref_counts: dict[str, int] = {}

    def _run(self, h, kind) -> OpRecord:
        """A query is forced with ``count()``; a serve collects its k rows,
        as a query node returns them."""
        from promi_spark.operators import pq as pqops
        from promi_spark.operators.similarity import ivf_topk_indexed
        from promi_spark.queries import QUERIES

        tr = h.tracer
        qvec = None
        group = h.begin_op(kind)
        t0 = time.perf_counter()
        with tr.span("op"):
            if kind in self.SERVES:
                qvec = self.query_vecs[self.rng.randrange(len(self.query_vecs))]
                with tr.span("index.serve"):
                    if kind == "ivf_serve":
                        df = ivf_topk_indexed(h.spark, self.ivf_path, qvec, k=self.K, nprobe=self.NPROBE)
                    else:
                        df = pqops.ivfpq_topk_indexed(h.spark, self.ivfpq_path, qvec, k=self.K, nprobe=self.NPROBE)
            else:
                with tr.span("queries.build"):
                    calls = h.py4j_calls()
                    df = QUERIES[kind][0](h.spark, self.sf_dir)
                    tr.add("queries.py4j_calls", h.py4j_calls() - calls)
                df = df.groupBy().count()
            if tr.enabled:
                with tr.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("exec.action"):
                rows = df.collect()
        wall = time.perf_counter() - t0
        h.end_op(group, wall)
        if kind in self.SERVES:
            return OpRecord(kind, wall, [tuple(r) for r in rows], extra={"qvec": qvec})
        return OpRecord(kind, wall, rows[0][0])

    def warmup(self, h):
        for rec in self.round(h):
            if rec.kind in self.QUERIES:
                self.ref_counts[rec.kind] = rec.value
            elif rec.kind in self.DRAINS:
                h.spark.catalog.dropTempView(rec.value)

    def round(self, h):
        """Every operation once, in a seed-permuted order."""
        kinds = list(self.QUERIES) + list(self.SERVES) + list(self.DRAINS)
        self.rng.shuffle(kinds)
        return [self.replay.drain(h, k) if k in self.DRAINS else self._run(h, k) for k in kinds]

    def check(self, h, records):
        import duckdb

        from promi_spark.queries import QUERIES
        from tools.check_oracle import table_hash

        con = duckdb.connect()
        for t in self.counts:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        oracled = [q for q in self.QUERIES if QUERIES[q][1] is not None]
        for q in oracled:
            self.ref_counts[q] = con.execute(f"SELECT count(*) FROM ({QUERIES[q][1]})").fetchone()[0]
        failures = self.replay.check(h, [r for r in records if r.kind in self.DRAINS])
        unit = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        for rec in records:
            if rec.kind in self.DRAINS:
                continue
            if rec.kind in self.QUERIES:
                if rec.value != self.ref_counts[rec.kind]:
                    rec.failed = True
                    failures.append(f"{rec.kind}: {rec.value} rows, expected {self.ref_counts[rec.kind]}")
                continue
            qvec = rec.extra["qvec"]
            check = _check_ivf if rec.kind == "ivf_serve" else _check_ivfpq
            path = self.ivf_path if rec.kind == "ivf_serve" else self.ivfpq_path
            error = check(path, qvec, rec.value, self.K, self.NPROBE)
            exact = set(self.vec_ids[np.argsort(-(unit @ np.asarray(qvec)))[: self.K]].tolist())
            rec.extra["recall"] = len({r[0] for r in rec.value} & exact) / self.K
            if error:
                rec.failed = True
                failures.append(f"{rec.kind}: {error}")
        # One full value hash per run, on a seed-chosen oracled query.
        name = self.rng.choice(oracled)
        sdf = QUERIES[name][0](h.spark, self.sf_dir)
        spark_hash = table_hash(sdf.columns, [tuple(r) for r in sdf.collect()])
        res = con.execute(QUERIES[name][1])
        cols = [d[0] for d in res.description]
        tbl = res.fetch_arrow_table()
        duck_hash = table_hash(cols, list(zip(*(tbl[c].to_pylist() for c in cols))) if tbl.num_rows else [])
        if spark_hash != duck_hash:
            for rec in records:
                if rec.kind == name:
                    rec.failed = True
            failures.append(f"{name}: value hash differs from the DuckDB oracle")
        h.spark.catalog.clearCache()
        return failures

    def summary(self, records):
        secs = [r.seconds for r in records]
        queries = [r.seconds for r in records if r.kind in self.QUERIES]
        serves = [r.seconds for r in records if r.kind in self.SERVES]
        wall = sum(secs)
        table = {
            **_latency_rows("query", queries),
            "queries_per_min": (60.0 * len(secs) / wall, "1/min"),
            "serve_p50_s": (median(serves), "s"),
            "dfg_trigger_p50_s": (median([t for r in records if r.kind in self.DRAINS
                                          for t in r.extra["triggers"]]), "s"),
        }
        for kind in self.QUERIES + self.SERVES + self.DRAINS:
            table[f"latency_{kind}_s"] = (median([r.seconds for r in records if r.kind == kind]), "s")
        recalls = [r.extra["recall"] for r in records if "recall" in r.extra]
        if recalls:
            table["serve_recall_at_10"] = (float(np.mean(recalls)), "ratio")
        return self.e2e(secs, records), table


# ---------------------------------------------------------------------------
# corpus_flow


def _stream_attrs(config: dict, name: str) -> dict:
    """The attributes of the flow's one stream segment called ``name``."""
    (attrs,) = [s.get("attributes") or {} for p in config["pipes"]
                for s in p.get("streams", []) if s["name"] == name]
    return attrs


def _flow_reference(config: dict, docs_path: str) -> set[int]:
    """The doc ids the ``examples/clean_corpus.yml`` flow keeps, replayed
    in DuckDB from the repo's oracle SQL with the flow's own attributes:
    quality filter, PII scrub, exact dedup (min doc id per normalized
    text), transitive near-dup dedup over exact word-3-gram Jaccard (the
    oracle of the MinHash path: min doc id per component), then
    decontamination against the ``bench`` channel's documents."""
    import duckdb

    from promi_spark.operators.text import _PUNCT_RE, PII_PATTERNS
    from promi_spark.oracles import _NORM_TXT, _RAW_TOKS, _gram_list, dedup_components_sql

    quality = _stream_attrs(config, "QualityFilter")
    near = _stream_attrs(config, "NearDupDedup")
    decon = _stream_attrs(config, "Decontaminate")
    if not near.get("transitive") or set(near) - {"threshold", "transitive"}:
        raise ValueError(f"the reference replays transitive NearDupDedup only, not {near}")
    (bench_filter,) = [s["attributes"]["cnf"] for p in config["pipes"]
                       for s in p.get("streams", []) if s["name"] == "Filter"]
    bench_where = " AND ".join("(" + " OR ".join(clause) + ")" for clause in bench_filter)
    scrubbed = "text"
    for name, pat in PII_PATTERNS.items():
        scrubbed = f"regexp_replace({scrubbed}, '{pat}', '<{name.upper()}>', 'g')"
    n_tok = r"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END"
    punct = (f"CASE WHEN length(text) = 0 THEN 0.0 ELSE (length(text) - length("
             f"regexp_replace(text, '{_PUNCT_RE}', '', 'g'))) / length(text)::DOUBLE END")
    n = decon.get("n", 5)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE src AS SELECT doc_id, text FROM read_parquet('{docs_path}/*.parquet')")
    con.execute(f"""CREATE TABLE cleaned AS SELECT doc_id, {scrubbed} AS text FROM src
        WHERE {n_tok} >= {quality.get("min_tokens", 0)}
          AND {punct} <= {quality.get("max_punct_ratio", 1.0)}""")
    con.execute(f"""CREATE TABLE documents AS SELECT doc_id, text FROM (
        SELECT doc_id, text, row_number() OVER (PARTITION BY md5({_NORM_TXT}) ORDER BY doc_id) AS rn
        FROM cleaned) WHERE rn = 1""")
    dropped = {d for d, comp in con.execute(dedup_components_sql(near.get("threshold", 0.7))).fetchall()
               if d != comp}
    contaminated = {d for (d,) in con.execute(f"""
        WITH bench AS (SELECT DISTINCT unnest({_gram_list(n, distinct=True)}) AS g
                       FROM (SELECT {_RAW_TOKS} AS toks FROM src WHERE {bench_where})),
             grams AS (SELECT doc_id, unnest({_gram_list(n, distinct=True)}) AS g
                       FROM (SELECT doc_id, {_RAW_TOKS} AS toks FROM documents))
        SELECT doc_id FROM grams JOIN bench USING (g)
        GROUP BY doc_id HAVING count(*) >= {decon.get("min_shared", 1)}""").fetchall()}
    kept = {d for (d,) in con.execute("SELECT doc_id FROM documents").fetchall()}
    return kept - dropped - contaminated


class CorpusFlow(Workload):
    """``examples/clean_corpus.yml`` over a replicated documents corpus.
    One untimed execute warms the session, so the timed and the traced
    executes are both warm."""

    name = "corpus_flow"
    BASE_DOCS = 200
    REPLICAS = 10

    def setup(self, h, data_dir):
        import yaml
        from pyspark.sql import functions as F

        from tools.make_scale_slice import _perturb_text

        self.base = gen.documents(np.random.default_rng(self.seed), self.BASE_DOCS)
        base_path = os.path.join(data_dir, "base", "documents.parquet")
        os.makedirs(os.path.dirname(base_path))
        pq.write_table(self.base, base_path)
        docs = h.spark.read.parquet(base_path)
        # Replica r gets its own token dialect, salted by the seed, so
        # near-dup structure repeats inside a replica and never across.
        replicas = None
        for r in range(self.REPLICAS):
            part = _perturb_text(
                docs.withColumn("doc_id", F.col("doc_id") + r * self.BASE_DOCS),
                1 + r + self.REPLICAS * self.seed,
            )
            replicas = part if replicas is None else replicas.unionByName(part)
        replicas.coalesce(1).write.parquet(os.path.join(data_dir, "documents.parquet"))
        self.sf_dir = data_dir
        self.n_docs = self.BASE_DOCS * self.REPLICAS
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "examples", "clean_corpus.yml")) as fh:
            self.config = yaml.safe_load(fh)
        for pipe in self.config["pipes"]:
            if "sf_dir" in (pipe["source"].get("attributes") or {}):
                pipe["source"]["attributes"]["sf_dir"] = data_dir
        self.out_root = _fresh(os.path.join(h.work, "flow_out"))

    def _run(self, h) -> OpRecord:
        from promi_spark.plans import execute, load_flow

        tr = h.tracer
        group = h.begin_op("execute")
        out = os.path.join(self.out_root, group)
        for pipe in self.config["pipes"]:
            if pipe.get("sink", {}).get("name") == "ShardExport":
                pipe["sink"]["attributes"]["path"] = out
        t0 = time.perf_counter()
        with tr.span("op"):
            with tr.span("plans.load"):
                flow = load_flow(self.config)
            with tr.span("plans.execute"):
                calls = h.py4j_calls()
                execute(h.spark, flow)
                tr.add("plans.py4j_calls", h.py4j_calls() - calls)
        wall = time.perf_counter() - t0
        h.end_op(group, wall)
        kept = {r[0] for r in h.spark.read.parquet(out).select("doc_id").collect()}
        shutil.rmtree(out, ignore_errors=True)
        tr.add("plans.docs_in", self.n_docs)
        tr.add("plans.docs_out", len(kept))
        return OpRecord("execute", wall, kept)

    def warmup(self, h):
        self._run(h)

    def round(self, h):
        return [self._run(h)]

    def check(self, h, records):
        """Each execute kept exactly the documents the flow's reference
        replay in DuckDB keeps (``_flow_reference``)."""
        expected = _flow_reference(self.config, os.path.join(self.sf_dir, "documents.parquet"))
        failures = []
        for rec in records:
            kept = rec.value
            rec.extra["kept"] = len(kept)
            if kept != expected:
                rec.failed = True
                failures.append(
                    f"execute kept {len(kept)} documents, the reference {len(expected)}: "
                    f"{len(kept - expected)} extra, {len(expected - kept)} missing"
                )
        return failures

    def summary(self, records):
        secs = [r.seconds for r in records]
        wall = sum(secs)
        table = {
            "flow_docs_per_s": (self.n_docs * len(secs) / wall, "docs/s"),
            "flow_execute_p50_s": (median(secs), "s"),
            "docs_in": (self.n_docs, "docs"),
            "docs_out": (median([r.extra["kept"] for r in records]), "docs"),
        }
        return self.e2e(secs, records), table

    def items(self, records):
        return float(self.n_docs * len(records))


# ---------------------------------------------------------------------------
# event replay: the event_stream workload, and interactive_mix's drain


class Replay:
    """An event log replayed as ``files`` parquet files, one per trigger.

    Files hold consecutive ranges of the (ts, case_id, seq) order, like an
    append-only log; ``rng`` jitters the range boundaries. Increasing
    mtimes fix the replay order."""

    DRAINS = ("sessionize", "stateful_dfg")

    def __init__(self, h, src_dir: str, out_dir: str, files: int, rng) -> None:
        from promi_spark.io import load_event_log

        table = load_event_log(h.spark, src_dir).df.orderBy("ts", "case_id", "seq").toArrow()
        n = table.num_rows
        cuts = np.linspace(0, n, files + 1)
        cuts[1:-1] += rng.uniform(-0.3, 0.3, files - 1) * n / files
        cuts = np.round(cuts).astype(int)
        self.path = _fresh(out_dir)
        now = time.time() - files
        for i in range(files):
            path = os.path.join(self.path, f"part-{i:05d}.parquet")
            pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
            os.utime(path, (now + i, now + i))
        self.n_rows = n
        self.src = src_dir
        h.spark.conf.set("spark.sql.streaming.checkpointLocation",
                         _fresh(os.path.join(h.work, "checkpoints")))

    def drain(self, h, kind: str) -> OpRecord:
        """Drain the whole replay through ``kind``, one file per trigger.
        The record's value names the memory table holding the output."""
        from promi_spark.streaming import read_event_stream, run_to_memory, sessionize, stateful_dfg

        tr = h.tracer
        build = stateful_dfg if kind == "stateful_dfg" else (lambda ev: sessionize(ev, key_col="resource"))
        group = h.begin_op(kind)
        name = group.replace("-", "_")
        t0 = time.perf_counter()
        with tr.span("op"):
            ev = read_event_stream(h.spark, self.path, max_files_per_trigger=1)
            with tr.span("streaming.drain"):
                q = run_to_memory(build(ev), name)
        wall = time.perf_counter() - t0
        progress = q.recentProgress
        q.stop()
        triggers = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress]
        if tr.enabled:
            h.add_stages(str(q.runId), wall)
            tr.add("streaming.triggers", len(progress))
            for p in progress:
                d = p["durationMs"]
                tr.add("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
                tr.add("streaming.overhead_s", (d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3)
                tr.add("streaming.query_planning_s", d.get("queryPlanning", 0) / 1e3)
            last = (progress[-1].get("stateOperators") or []) if progress else []
            tr.add("streaming.state_rows", sum(s.get("numRowsTotal", 0) for s in last))
            tr.add("streaming.state_bytes", sum(s.get("memoryUsedBytes", 0) for s in last))
            tr.op = None
        rec = OpRecord(kind, wall, name, extra={"triggers": triggers, "rows": sum(p["numInputRows"] for p in progress)})
        if kind == "sessionize":
            h.spark.catalog.dropTempView(name)
        return rec

    def check(self, h, records: list[OpRecord]) -> list[str]:
        """Every drain read every row; each stateful_dfg drain emitted
        exactly the batch directly-follows edge counts of the same log.
        Drops the drains' memory tables."""
        from pyspark.sql import functions as F

        from promi_spark.io import load_event_log
        from promi_spark.operators.dfg import directly_follows

        batch = {
            (r["activity"], r["next_activity"]): r["n"]
            for r in directly_follows(load_event_log(h.spark, self.src)).collect()
        }
        failures = []
        for rec in records:
            if rec.extra["rows"] != self.n_rows:
                rec.failed = True
                failures.append(f"{rec.kind} drained {rec.extra['rows']} of {self.n_rows} rows")
            if rec.kind != "stateful_dfg":
                continue
            streamed = {
                (r["activity"], r["next_activity"]): r["n"]
                for r in h.spark.table(rec.value).groupBy("activity", "next_activity")
                .agg(F.count(F.lit(1)).alias("n")).collect()
            }
            h.spark.catalog.dropTempView(rec.value)
            if streamed != batch:
                rec.failed = True
                failures.append(f"stateful_dfg edges differ from batch directly_follows ({len(streamed)} vs {len(batch)} edges)")
        return failures


class EventStream(Workload):
    """A replayed event log drained by ``sessionize`` and ``stateful_dfg``."""

    name = "event_stream"
    SF = 0.01
    FILES = 8

    def setup(self, h, data_dir):
        rng = np.random.default_rng(self.seed)
        src = os.path.join(data_dir, "src")
        os.makedirs(src)
        pq.write_table(
            gen.events(rng, int(1_000_000 * self.SF), int(15_000 * self.SF)),
            os.path.join(src, "events.parquet"),
        )
        self.replay = Replay(h, src, os.path.join(data_dir, "replay"), self.FILES, rng)
        self.n_rows = self.replay.n_rows

    def warmup(self, h):
        for rec in self.round(h):
            if rec.kind == "stateful_dfg":
                h.spark.catalog.dropTempView(rec.value)

    def round(self, h):
        kinds = list(Replay.DRAINS)
        self.rng.shuffle(kinds)
        return [self.replay.drain(h, k) for k in kinds]

    def check(self, h, records):
        return self.replay.check(h, records)

    def summary(self, records):
        by = {k: [r for r in records if r.kind == k] for k in Replay.DRAINS}
        dfg_triggers = [t for r in by["stateful_dfg"] for t in r.extra["triggers"]]
        rows_per_s = {
            k: self.n_rows * len(rs) / sum(r.seconds for r in rs) for k, rs in by.items()
        }
        table = {
            "sessionize_rows_per_s": (rows_per_s["sessionize"], "rows/s"),
            "dfg_rows_per_s": (rows_per_s["stateful_dfg"], "rows/s"),
            **_latency_rows("dfg_trigger", dfg_triggers),
        }
        return self.e2e(dfg_triggers, records), table

    def items(self, records):
        return float(self.n_rows * len(records))


WORKLOADS = {w.name: w for w in (InteractiveMix, CorpusFlow, EventStream)}
