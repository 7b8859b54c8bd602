"""Named-operator registry (reference plugin registry,
``src/stream/plugin.rs:19-371``).

The reference registers factories under names ("XesReader",
"Statistics", "Split", ...) with declared typed parameters, and the
flow layer instantiates segments through it. Spark-native analog: an
entry is a plain function ``f(ctx, log, **attrs)`` — sources take
``log=None`` and return an :class:`EventLog`, streams transform one,
sinks consume one (returning None or an artifact). ``ctx`` carries the
SparkSession, the named stream/artifact channels, and the base dir for
relative paths.

The signature is the declaration: each named parameter after ``(ctx,
log)`` is an attribute of its annotated type (``T | None`` is ``T``;
``Annotated[T, "..."]`` adds a description) and default (none =
required); ``_send``/``_recv`` take stream_sender/receiver channels.

Pre-loaded entries mirror the reference's
(``void.rs:33-57``, ``duplicator.rs:70-92``, ``stats.rs:143-163``,
``validator.rs:35-54``, ``repair.rs:40-59``, ``split.rs:90-147``,
``channel.rs:78-132``, ``xes.rs:801-856``) plus Spark-native extras
(ParquetReader/Writer, EventsTable).
"""

from __future__ import annotations

import inspect
import types
from dataclasses import dataclass, field
from typing import Annotated, Any, Callable, Union, get_args, get_origin, get_type_hints

from promi_spark.lifetime import checkpoint, persist
from promi_spark.log import EventLog
from promi_spark.schema import EVENTS_SCHEMA, Meta


@dataclass
class FlowContext:
    spark: Any
    base_dir: str = "."
    streams: dict[str, EventLog] = field(default_factory=dict)
    artifacts: dict[str, Any] = field(default_factory=dict)

    def path(self, p: str) -> str:
        import os

        return p if os.path.isabs(p) else os.path.join(self.base_dir, p)


class FlowConfigError(ValueError):
    """A declarative flow-config error: raised at flow-LOAD time, naming
    the segment and parameter, before anything executes (reference
    surfaces these from ``Declaration`` checks, ``plugin.rs:19-371``)."""


_REQUIRED = object()

_TYPE_NAMES = {str: "String", float: "Float", int: "Int", bool: "Boolean",
               list: "List", dict: "Map"}


@dataclass(frozen=True)
class Param:
    """One declared attribute, read from a segment function's signature
    (reference ``Declaration`` attribute specs with defaults,
    ``plugin.rs:19-371``). ``default=_REQUIRED`` marks a mandatory
    attribute; ``type`` is the expected Python scalar type (``float``
    accepts ints; ``bool`` is NOT accepted for ``int``/``float``)."""

    name: str
    type: type
    default: Any = _REQUIRED
    description: str = ""

    @classmethod
    def from_signature(cls, p: inspect.Parameter, hint: Any) -> Param:
        description = ""
        if get_origin(hint) is Annotated:
            hint, description = hint.__origin__, hint.__metadata__[0]
        if get_origin(hint) in (Union, types.UnionType):  # T | None is T
            (hint,) = [a for a in get_args(hint) if a is not type(None)]
        default = _REQUIRED if p.default is p.empty else p.default
        return cls(p.name, hint, default, description)

    @property
    def required(self) -> bool:
        return self.default is _REQUIRED

    def check(self, value: Any, where: str) -> None:
        ok = (
            isinstance(value, self.type)
            and not (self.type is not bool and isinstance(value, bool))
        ) or (self.type is float and isinstance(value, int)
              and not isinstance(value, bool))
        if value is not None and not ok:
            raise FlowConfigError(
                f"{where}: parameter {self.name!r} expects "
                f"{_TYPE_NAMES.get(self.type, self.type.__name__)}, got "
                f"{_TYPE_NAMES.get(type(value), type(value).__name__)} "
                f"({value!r})"
            )


@dataclass
class OpEntry:
    name: str
    description: str
    kinds: frozenset[str]  # subset of {source, stream, sink}
    fn: Callable
    # read from fn's signature once, here: the attribute declarations,
    # and which of the _send/_recv channel parameters fn takes
    params: tuple[Param, ...] = field(init=False)
    channels: frozenset[str] = field(init=False)

    def __post_init__(self):
        hints = get_type_hints(self.fn, include_extras=True)
        named = [p for p in list(inspect.signature(self.fn).parameters.values())[2:]
                 if p.kind is not p.VAR_KEYWORD]
        self.params = tuple(Param.from_signature(p, hints[p.name])
                            for p in named if not p.name.startswith("_"))
        self.channels = frozenset(p.name for p in named if p.name.startswith("_"))

    def __call__(self, ctx, log, **attrs):
        return self.fn(ctx, log, **attrs)

    def validate(self, attrs: dict[str, Any], segment: str) -> None:
        """Declarative attribute check: unknown names, missing required
        parameters, and type mismatches all raise :class:`FlowConfigError`
        naming the segment and the parameter — at flow-load time, not as
        a TypeError deep inside the operator call."""
        declared = {p.name: p for p in self.params}
        where = f"segment {segment!r} ({self.name})"
        for k in attrs:
            if k.startswith("_"):
                continue
            if k not in declared:
                raise FlowConfigError(
                    f"{where}: unknown parameter {k!r}; declared: "
                    f"{sorted(declared) or '(none)'}"
                )
        for p in self.params:
            if p.name in attrs and not (
                attrs[p.name] is None and p.required
            ):  # explicit null on a required param counts as missing
                p.check(attrs[p.name], where)
            elif p.required:
                raise FlowConfigError(
                    f"{where}: missing required parameter {p.name!r} "
                    f"({_TYPE_NAMES.get(p.type, p.type.__name__)}"
                    f"{' — ' + p.description if p.description else ''})"
                )


REGISTRY: dict[str, OpEntry] = {}


def register(name: str, description: str, kinds: set[str]):
    def deco(fn):
        REGISTRY[name] = OpEntry(name, description, frozenset(kinds), fn)
        return fn

    return deco


def _received(ctx, recv, needs: str):
    """The relation on a segment's first stream_receiver channel."""
    if not recv:
        raise FlowConfigError(f"{needs} on a stream_receiver channel")
    got = ctx.streams[recv[0]]
    return got.df if hasattr(got, "df") else got


def get(name: str) -> OpEntry:
    if name not in REGISTRY:
        raise KeyError(
            f"unknown operator {name!r}; registered: {sorted(REGISTRY)}"
        )
    return REGISTRY[name]


# ---------------------------------------------------------------------------
# Reference-parity entries
# ---------------------------------------------------------------------------


@register("Void", "empty source / discarding sink (void.rs:9-62)",
          {"source", "sink"})
def _void(ctx, log, **attrs):
    if log is None:  # source
        return EventLog(
            df=ctx.spark.createDataFrame([], EVENTS_SCHEMA), meta=Meta()
        )
    # sinks both log pipes (EventLog) and document pipes (DataFrame),
    # like ParquetWriter/ShardExport
    df = log.df if hasattr(log, "df") else log
    df.write.format("noop").mode("overwrite").save()  # run for effects
    return None


@register("XesReader", "XES file source (xes.rs:562-714)", {"source"})
def _xes_reader(ctx, log, path: Annotated[str, "XES file path"],
                distributed: bool = False, **_):
    from promi_spark.io.xes import read_xes, read_xes_distributed

    fn = read_xes_distributed if distributed else read_xes
    return fn(ctx.spark, ctx.path(path))


@register("XesWriter", "XES file sink (xes.rs:717-796)", {"sink"})
def _xes_writer(ctx, log, path: Annotated[str, "output XES path"],
                indent: int = 1, **_):
    from promi_spark.io.xes import write_xes

    write_xes(log, ctx.path(path))


@register("Statistics", "count-statistics artifact (stats.rs:64-141)",
          {"stream"})
def _statistics(ctx, log, **_):
    from promi_spark.operators.stats import collect_statistics

    stats = collect_statistics(log)
    return log, stats  # pass-through + artifact


@register("Validator", "meta/global/chronology validation (validator.rs:19-116)",
          {"stream"})
def _validator(ctx, log, strict: bool = False, max_collect: int = 100, **_):
    from promi_spark.operators.validate import classifier_name_violations, validate

    bad_names = classifier_name_violations(log.meta)
    if strict and bad_names:
        raise ValueError(f"invalid classifier names: {bad_names}")
    sample = validate(log, strict=False).limit(max_collect).collect()
    artifact = {
        "classifier_name_violations": bad_names,
        "row_violations": [tuple(r) for r in sample],
    }
    if strict and artifact["row_violations"]:
        raise ValueError(f"validation failed: {artifact['row_violations'][:3]}")
    return log, artifact


@register("Repair", "classifier-name repair (repair.rs:14-38)", {"stream"})
def _repair(ctx, log, **_):
    from promi_spark.operators.repair import repair_meta

    return EventLog(df=log.df, meta=repair_meta(log.meta))


@register("Sample", "seeded Bernoulli keep-ratio sample (split.rs:121-144)",
          {"stream"})
def _sample(ctx, log, ratio: Annotated[float, "keep probability in [0,1]"],
            seed: int = 0, **_):
    from promi_spark.operators.split import sample

    # per-operator salt decorrelates from a same-seed Split downstream
    return sample(log, float(ratio), seed=int(seed), salt="Sample")


@register("Split", "seeded train/test split (split.rs:18-88); test side "
          "goes to the segment's stream_sender channel", {"stream"})
def _split(ctx, log, ratio: Annotated[float, "train fraction in [0,1]"],
           seed: int = 0, _send=None, **_):
    from promi_spark.operators.split import split

    train, test = split(log, float(ratio), seed=int(seed), salt="Split")
    if _send:
        for ch in _send:
            ctx.streams[ch] = test
    return train


@register("Duplicator", "tee a stream to a channel (duplicator.rs:12-68)",
          {"stream"})
def _duplicator(ctx, log, _send=None, **_):
    # one scan feeds both consumers
    dup = log.with_df(persist(log.df)) if hasattr(log, "df") else persist(log)
    if _send:
        for ch in _send:
            ctx.streams[ch] = dup
    return dup


@register("Sender", "stream-channel sender endpoint (channel.rs:75-159)",
          {"sink"})
def _sender(ctx, log, _send=None, **_):
    for ch in _send or []:
        ctx.streams[ch] = log


@register("Receiver", "stream-channel receiver endpoint (channel.rs:75-159)",
          {"source"})
def _receiver(ctx, log, _recv=None, **_):
    if not _recv:
        raise FlowConfigError("Receiver needs a stream_receiver channel")
    out = ctx.streams[_recv[0]]
    for ch in _recv[1:]:  # fan-in = UNION (segment.rs:186-199)
        out = out.union(ctx.streams[ch])
    return out


# ---------------------------------------------------------------------------
# Spark-native extras
# ---------------------------------------------------------------------------


@register("ParquetReader", "events parquet -> EventLog", {"source"})
def _parquet_reader(ctx, log, path: Annotated[str, "parquet path"], **_):
    from promi_spark.io import read_parquet

    return EventLog.from_events(read_parquet(ctx.spark, ctx.path(path)))


@register("ParquetWriter", "EventLog -> parquet (partitionable)", {"sink"})
def _parquet_writer(ctx, log, path: Annotated[str, "parquet output path"],
                    mode: str = "overwrite", partition_by: str | None = None, **_):
    # sinks both log pipes (EventLog) and document pipes (DataFrame)
    df = log.df if hasattr(log, "df") else log
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by.split(","))
    w.parquet(ctx.path(path))


@register("EventsTable", "driver synthetic events table -> EventLog",
          {"source"})
def _events_table(ctx, log, sf_dir: Annotated[str, "testdata sf directory"], **_):
    from promi_spark.io import load_event_log

    return load_event_log(ctx.spark, sf_dir)


# ---------------------------------------------------------------------------
# Training-data pipeline segments: the LLM-corpus operators as flow
# citizens. Channels carry plain DataFrames here (the flow layer is
# payload-agnostic); a YAML flow can express documents -> quality
# filter -> PII scrub -> dedup -> decontaminate -> shard export — the
# standard pre-training cleaning pipeline — with typed-parameter
# validation at load time. Every stage keeps its operator's 100 TB
# shape (narrow codegen filters, single-shuffle dedup, broadcast
# benchmark grams, shard-partitioned export).
# ---------------------------------------------------------------------------


@register("DocumentsTable", "documents parquet -> DataFrame corpus",
          {"source"})
def _documents_table(ctx, log, sf_dir: Annotated[str, "testdata sf directory"], **_):
    from promi_spark.io import load_table

    return load_table(ctx.spark, "documents", sf_dir)


@register("QualityFilter",
          "drop documents failing quality thresholds (token count, "
          "punctuation ratio, stopword ratio, language) — one narrow "
          "codegen pass, no shuffle", {"stream"})
def _quality_filter(ctx, df, min_tokens: int = 0, max_punct_ratio: float = 1.0,
                    min_stopword_ratio: float = 0.0,
                    lang: Annotated[str | None, "keep only this lang_pred"] = None,
                    text_col: str = "text", **_):
    from pyspark.sql import functions as F

    from promi_spark.operators.text import (
        lang_pred, punct_ratio, stopword_hits, token_count, STOPWORDS,
    )

    t = F.col(text_col)
    n_tok = token_count(t)
    cond = n_tok >= min_tokens
    cond &= punct_ratio(t) <= max_punct_ratio
    if min_stopword_ratio > 0:
        # count stopwords of the TARGET language when one is selected
        # (an English list would silently drop a non-English corpus) —
        # and REFUSE an unsupported language rather than silently
        # falling back to the English list, which is the same
        # drop-the-corpus failure in disguise
        if (lang or "en") not in STOPWORDS:
            raise FlowConfigError(
                f"QualityFilter: min_stopword_ratio={min_stopword_ratio} "
                f"with lang={lang!r}, but no stopword list exists for "
                f"{lang!r} (supported: {sorted(STOPWORDS)}); add a list "
                "to operators.text.STOPWORDS or drop the stopword bound"
            )
        words = STOPWORDS[lang or "en"]
        sw = stopword_hits(t, words).cast("double")
        cond &= F.when(n_tok == 0, F.lit(0.0)).otherwise(
            sw / n_tok
        ) >= min_stopword_ratio
    if lang is not None:
        cond &= lang_pred(t) == lang
    return df.filter(cond)


@register("CorpusStats", "pass-through corpus profile artifact: doc "
          "count, token totals, mean quality signals (one aggregation "
          "job — the documents analog of Statistics)", {"stream"})
def _corpus_stats(ctx, df, text_col: str = "text", **_):
    from pyspark.sql import functions as F

    from promi_spark.operators.text import punct_ratio, token_count

    t = F.col(text_col)
    row = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(t)).alias("n_tokens"),
        F.round(F.avg(F.length(t)), 2).alias("mean_chars"),
        F.round(F.avg(punct_ratio(t)), 4).alias("mean_punct_ratio"),
    ).first()
    return df, row.asDict()


@register("DfgArtifact", "pass-through directly-follows artifact: the "
          "alphabet^2-bounded DFG edge list released on an artifact "
          "channel (reference observer family, observer.rs:44-47 — "
          "the model-mining analog of Statistics)", {"stream"})
def _dfg_artifact(ctx, log, endpoints: bool = False, **_):
    from promi_spark.operators.dfg import directly_follows

    edges = directly_follows(log, with_endpoints=endpoints).collect()
    return log, {
        "n_edges": len(edges),
        "edges": sorted(
            (r["activity"], r["next_activity"], r["n"]) for r in edges
        ),
    }


@register("PiiScrub", "replace emails/IPv4s/phone numbers with typed "
          "placeholders in-place (narrow codegen regexp pass)",
          {"stream"})
def _pii_scrub(ctx, df, text_col: str = "text", **_):
    from promi_spark.operators.text import scrubbed_text

    return df.withColumn(text_col, scrubbed_text(text_col))


@register("ExactDedup", "keep the min-key representative per identical "
          "normalized text: one window over the md5 fingerprint, single "
          "shuffle, no join", {"stream"})
def _exact_dedup(ctx, df, key_col: str = "doc_id", text_col: str = "text", **_):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from promi_spark.operators.dedup import norm_text

    fp = F.md5(norm_text(text_col))  # same fingerprint as dedup_exact
    w = Window.partitionBy(fp).orderBy(F.col(key_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@register("NearDupDedup", "drop MinHash+LSH near-duplicates (banded "
          "candidates, exact Jaccard verify — never all-pairs). "
          "transitive=false drops the max-id side of each verified "
          "pair (keeps docs whose only links are indirect); "
          "transitive=true clusters the pair graph into connected "
          "components and keeps one representative per component "
          "(min key, or the keep_best_col-maximal member when set)",
          {"stream"})
def _near_dup_dedup(
        ctx, df, threshold: Annotated[float, "Jaccard threshold"] = 0.7,
        transitive: bool = False, key_col: str = "doc_id", text_col: str = "text",
        keep_best_col: Annotated[str, "quality column: keep the highest-quality "
                                 "member per component (implies clustering)"] = "",
        **_):
    from pyspark.sql import functions as F

    from promi_spark.operators.dedup import (
        dedup_components,
        dedup_keep_best,
        minhash_dedup,
    )

    # the pair pipeline, the anti-join below and every downstream reader
    # of the output read one leaf instead of re-running the document
    # pipeline upstream of this segment
    df = checkpoint(df)
    pairs = minhash_dedup(df, key_col, text_col, threshold=threshold)
    if keep_best_col:
        return dedup_keep_best(df, pairs, keep_best_col, key_col=key_col)
    if transitive:
        comp = dedup_components(pairs)
        drop = comp.filter(F.col("doc_id") != F.col("component")).select(
            F.col("doc_id").alias(key_col)
        )
    else:
        drop = pairs.select(F.col("b").alias(key_col)).distinct()
    return df.join(drop, key_col, "left_anti")


@register("MixtureSample", "deterministic stratified sampling: keep "
          "each row with the per-stratum rate via the engine-portable "
          "md5 coin (zero shuffles; rate increases are supersets)",
          {"stream"})
def _mixture_sample(ctx, df, rates: Annotated[dict, "stratum -> keep rate in [0, 1]"],
                    strata_col: str = "source", key: str = "doc_id", seed: int = 0,
                    default_rate: float = 0.0, **_):
    from promi_spark.operators.scale import mixture_sample

    bad = {
        s: r for s, r in rates.items()
        if isinstance(r, bool) or not isinstance(r, (int, float))
        or not 0.0 <= float(r) <= 1.0
    }
    if bad:
        raise FlowConfigError(
            f"MixtureSample: rates must map stratum -> float in [0, 1]; "
            f"bad entries: {bad!r}"
        )
    return mixture_sample(
        df, {s: float(r) for s, r in rates.items()}, strata_col=strata_col,
        key_col=key, seed=seed, default_rate=default_rate,
    )


@register("TemperatureMixture", "alpha-temperature source rebalancing "
          "(the multilingual-LM sampling rule): per-source keep rates "
          "(n_i/n_ref)^(alpha-1) derived in-plan from exact integer "
          "token sums; same md5 coin family as MixtureSample",
          {"stream"})
def _temperature_mixture(
        ctx, df, alpha: Annotated[float, "temperature in (0, inf); <1 flattens"
                                  " the mix, 1 is the identity"],
        source_col: str = "source", text_col: str = "text", key: str = "doc_id",
        seed: int = 0, **_):
    from promi_spark.operators.scale import temperature_mixture

    if not alpha > 0.0:
        raise FlowConfigError(
            f"TemperatureMixture: alpha must be a positive number, "
            f"got {alpha!r}"
        )
    return temperature_mixture(
        df, float(alpha), source_col=source_col, text_col=text_col,
        key_col=key, seed=seed,
    )


@register("BloomDecontaminate", "drop (or flag) docs overlapping a "
          "PERSISTED benchmark Bloom sketch (write_bench_bloom): "
          "batch-proportional probe, fixed-size broadcast, zero false "
          "negatives",
          {"stream"})
def _bloom_decontaminate(
        ctx, df, index_path: Annotated[str, "path written by write_bench_bloom"],
        key: str = "doc_id", text_col: str = "text", min_shared: int = 1,
        action: Annotated[str, "'drop' removes flagged docs; 'flag' keeps all "
                          "rows and adds the contaminated column"] = "drop",
        **_):
    from pyspark.sql import functions as F

    from promi_spark.operators.bloom import decontaminate_bloom

    if action not in ("drop", "flag"):
        raise FlowConfigError(
            f"BloomDecontaminate: action must be 'drop' or 'flag', "
            f"got {action!r}"
        )
    verdict = decontaminate_bloom(
        df, index_path, key_col=key, text_col=text_col,
        min_shared=min_shared,
    ).select(key, "contaminated")
    if action == "flag":
        return df.join(verdict, key, "left")
    return df.join(
        verdict.filter(F.col("contaminated")).select(key),
        key,
        "left_anti",
    )


@register("DsirSelect", "DSIR importance resampling (Xie et al. 2023): "
          "keep the k raw docs Gumbel-top-k-sampled proportional to the "
          "hashed-n-gram target/raw likelihood ratio; the TARGET corpus "
          "arrives on the segment's stream_receiver channel",
          {"stream"})
def _dsir_select(ctx, df, k: Annotated[int, "rows to select"], key: str = "doc_id",
                 text_col: str = "text", buckets: int = 8192,
                 smoothing: float = 1.0, seed: int = 0, _recv=None, **_):
    from promi_spark.operators.dsir import dsir_select

    target_df = _received(ctx, _recv, "DsirSelect needs the target corpus")
    if k < 1:
        raise FlowConfigError(f"DsirSelect: k must be a positive int, got {k!r}")
    raw_df = df.df if hasattr(df, "df") else df
    picked = dsir_select(
        raw_df, target_df, k, key_cols=key, text_col=text_col,
        buckets=buckets, smoothing=float(smoothing), seed=seed,
    ).select(key)
    return raw_df.join(picked, key, "left_semi")


@register("ClusterPrune", "prototype-based data pruning (Sorscher et "
          "al. 2022): drop the frac most-prototypical rows per "
          "embedding cluster, keep the informative tail",
          {"stream"})
def _cluster_prune(
        ctx, df, frac: Annotated[float, "fraction dropped per cluster, [0, 1)"],
        n_clusters: int = 16, id_col: str = "vec_id", vec_col: str = "embedding",
        seed: int = 42, **_):
    from promi_spark.operators.similarity import cluster_prune

    if not 0.0 <= frac < 1.0:
        raise FlowConfigError(
            f"ClusterPrune: frac must be a number in [0, 1), got {frac!r}"
        )
    kept = cluster_prune(
        df, float(frac), n_clusters=n_clusters, seed=seed,
        id_col=id_col, vec_col=vec_col,
    ).select(id_col)
    return df.join(kept, id_col, "left_semi")


@register("HeavyHitters", "exact heavy hitters via the two-pass "
          "Misra-Gries sketch: emits the (item, n_occurrences) report "
          "of every value at or above the threshold; identical to "
          "GROUP BY ... HAVING with the long tail filtered before the "
          "exchange",
          {"stream"})
def _heavy_hitters(
        ctx, df, col: Annotated[str, "column to count"],
        min_count: Annotated[int | None, "absolute threshold (exactly one of "
                             "min_count / min_frac)"] = None,
        min_frac: Annotated[float | None, "fractional threshold in (0, 1)"] = None,
        **_):
    from promi_spark.operators.sketch import heavy_hitters

    try:
        return heavy_hitters(df, col, min_count=min_count,
                             min_frac=min_frac)
    except ValueError as e:
        raise FlowConfigError(f"HeavyHitters: {e}") from e


@register("PerKeyCap", "domain cap: keep at most n rows per key by "
          "md5-coin rank (C4/RefinedWeb-style 'no domain contributes "
          "more than n docs'; partitioning-invariant kept set)",
          {"stream"})
def _per_key_cap(ctx, df, n: Annotated[int, "max rows kept per key"],
                 key_col: str = "source", id_col: str = "doc_id", seed: int = 0, **_):
    from promi_spark.operators.split import per_key_cap

    if n < 1:
        raise FlowConfigError(f"PerKeyCap: n must be a positive int, got {n!r}")
    return per_key_cap(df, key_col, n, id_col, seed=seed)


@register("WeightedSample", "weighted sampling without replacement "
          "(Efraimidis-Spirakis A-ES on the engine-portable md5 "
          "uniform); k per key, or global top-k when key_col is unset",
          {"stream"})
def _weighted_sample(
        ctx, df, k: Annotated[int, "rows kept (per key)"],
        weight_col: Annotated[str, "positive weight column"], id_col: str = "doc_id",
        key_col: Annotated[str | None, "stratify key; None = global"] = None,
        seed: int = 0, **_):
    from promi_spark.operators.split import weighted_sample

    if k < 1:
        raise FlowConfigError(f"WeightedSample: k must be a positive int, got {k!r}")
    return weighted_sample(df, k, weight_col, id_col, key_col=key_col,
                           seed=seed)


@register("ChunkDocs", "overlapping fixed-size character chunking "
          "(narrow sequence-explode + substring; feeds embedding / "
          "retrieval indexing)",
          {"stream"})
def _chunk_docs(ctx, df, chunk_chars: int = 512, stride: int = 384,
                text_col: str = "text", id_col: str = "doc_id", **_):
    from promi_spark.operators.text import chunk_docs

    for nm, v in (("chunk_chars", chunk_chars), ("stride", stride)):
        if v < 1:
            raise FlowConfigError(
                f"ChunkDocs: {nm} must be a positive int, got {v!r}"
            )
    return chunk_docs(df, chunk_chars=chunk_chars, stride=stride,
                      text_col=text_col, id_col=id_col)


@register("LeakageSafeSplit", "train/test split routed by near-dup "
          "component (MinHash pairs -> connected components) so no "
          "test doc has a train-side near-duplicate; adds a 'split' "
          "column, or filters to one side when 'side' is set",
          {"stream"})
def _leakage_safe_split(
        ctx, df, ratio: Annotated[float, "train fraction"],
        side: Annotated[str | None, "'train' or 'test' to filter"] = None,
        threshold: Annotated[float, "Jaccard threshold"] = 0.7,
        key_col: str = "doc_id", text_col: str = "text", seed: int = 0, **_):
    from pyspark.sql import functions as F

    from promi_spark.operators.dedup import leakage_safe_split, minhash_dedup

    if side is not None and side not in ("train", "test"):
        raise FlowConfigError(
            f"LeakageSafeSplit: side must be 'train' or 'test', got {side!r}"
        )
    pairs = minhash_dedup(df, key_col, text_col, threshold=threshold)
    out = leakage_safe_split(df, pairs, ratio, key_col=key_col, seed=seed)
    if side is not None:
        return out.filter(F.col("split") == side).drop("split")
    return out


@register("QualityScore", "learned quality filter: weak-label bootstrap "
          "-> hashed-ngram logistic fit (MLlib) -> score every doc; "
          "adds quality_prob, drops rows under min_prob", {"stream"})
def _quality_score(
        ctx, df, min_prob: float = 0.0, num_features: int = 2**14,
        min_tokens: Annotated[int, "weak-label clean bar"] = 20,
        max_punct_ratio: float = 0.12,
        train_fraction: Annotated[
            float | None, "fit on this sample of the weak labels — a linear model "
            "saturates long before the full corpus; unset trains on everything"
        ] = None,
        seed: int = 0, text_col: str = "text", **_):
    from pyspark.sql import functions as F

    from promi_spark.operators.ml import (
        score_quality, train_quality_classifier, weak_quality_labels,
    )

    weak = weak_quality_labels(
        df, text_col=text_col, min_tokens=min_tokens,
        max_punct_ratio=max_punct_ratio,
    )
    model = train_quality_classifier(
        weak, text_col=text_col, num_features=num_features,
        train_fraction=train_fraction, seed=seed,
    )
    out = score_quality(model, df, text_col=text_col)
    if min_prob > 0:
        out = out.filter(F.col("quality_prob") >= min_prob)
    return out


@register("Decontaminate", "drop documents sharing word n-grams with a "
          "benchmark corpus received on the segment's stream_receiver "
          "channel (benchmark gram set broadcast; single corpus scan)",
          {"stream"})
def _decontaminate(ctx, df, n: Annotated[int, "gram width"] = 5, min_shared: int = 1,
                   key_col: str = "doc_id", text_col: str = "text", _recv=None, **_):
    from pyspark.sql import functions as F

    from promi_spark.operators.text import ngram_overlap

    bench_df = _received(ctx, _recv, "Decontaminate needs the benchmark corpus")
    verdicts = ngram_overlap(df, bench_df, key_col, text_col,
                             n=n, min_shared=min_shared)
    clean = verdicts.filter(~F.col("contaminated")).select(key_col)
    return df.join(clean, key_col, "left_semi")


@register("AsofEnrich", "as-of temporal enrichment: attach the most "
          "recent state row (received on the segment's stream_receiver "
          "channel) at or before each event's timestamp — the "
          "single-shuffle union-window as-of join", {"stream"})
def _asof_enrich(
        ctx, df, on: Annotated[str, "join key column"], left_ts: str = "ts",
        right_ts: Annotated[str | None, "defaults to left_ts"] = None,
        direction: str = "backward",
        tolerance: Annotated[str | None, "max staleness, e.g. '7 DAYS' — stale "
                             "matches become NULL"] = None,
        _recv=None, **_):
    from pyspark.sql import functions as F

    from promi_spark.operators.joins import asof_join

    right_df = _received(ctx, _recv, "AsofEnrich needs the state/right side")
    if direction not in ("backward", "forward"):
        raise FlowConfigError(
            f"AsofEnrich: direction must be backward|forward, got "
            f"{direction!r}"
        )
    left_df = df.df if hasattr(df, "df") else df
    tol = F.expr(f"INTERVAL {tolerance}") if tolerance else None
    return asof_join(
        left_df, right_df, on=on, left_ts=left_ts, right_ts=right_ts,
        direction=direction, tolerance=tol,
    )


@register("ShardExport", "deterministic fixed-shard parquet export: "
          "stable md5 shard ids, repartitioned on the shard column so "
          "each task owns whole shards (one file per shard)", {"sink"})
def _shard_export(ctx, df, path: Annotated[str, "output parquet path"],
                  n_shards: int = 16, key: str = "doc_id", seed: int = 0, **_):
    from promi_spark.operators.scale import write_shards

    write_shards(df, ctx.path(path), key, n_shards=n_shards, seed=seed)


@register("FailingSource",
          "events source with deterministic corrupt-row injection "
          "(reference FailingStream, dev_util.rs:81-135)", {"source"})
def _failing_source(
        ctx, log, sf_dir: Annotated[str, "testdata sf directory"],
        corrupt_every: Annotated[int, "null out activity/ts on every k-th event"] = 10,
        seed: int = 0, **_):
    """Failure-injection source: loads the events table, then corrupts a
    deterministic subset of rows (NULL ``activity`` on every k-th event
    id, NULL ``ts`` on every 2k-th) — the batch analog of the
    reference's ``FailingStream`` that errors mid-stream so channel
    error propagation can be tested end-to-end. Narrow (no shuffle):
    the corruption is a per-row conditional projection."""
    from pyspark.sql import functions as F

    from promi_spark.io import load_event_log

    ev = load_event_log(ctx.spark, sf_dir)
    k = F.lit(int(corrupt_every))
    hit = F.pmod(F.col("event_id") + seed, k) == 0
    hit2 = F.pmod(F.col("event_id") + seed, 2 * k) == 0
    df = ev.df.withColumn(
        "activity", F.when(hit, F.lit(None)).otherwise(F.col("activity"))
    ).withColumn("ts", F.when(hit2, F.lit(None)).otherwise(F.col("ts")))
    return ev.with_df(df)


@register("Quarantine",
          "error-channel split: clean rows flow on, rows failing "
          "validator checks go to the segment's stream_sender channel "
          "as the dead-letter side; strict mode aborts the flow "
          "(reference Buffer error storage buffer.rs:53-56 + strict "
          "channel abort channel.rs:373-466)", {"stream"})
def _quarantine(
        ctx, log, strict: Annotated[bool, "abort the flow if any row fails"] = False,
        _send=None, **_):
    from promi_spark.streaming.engine import quarantine

    good, bad = quarantine(log.df)
    if strict:
        n_bad = bad.count()
        if n_bad:
            sample = [tuple(r) for r in bad.select(
                "event_id", "_errors").limit(3).collect()]
            raise RuntimeError(
                f"Quarantine strict mode: {n_bad} rows failed checks; "
                f"first: {sample}"
            )
    for ch in _send or []:
        ctx.streams[ch] = log.with_df(bad)
    return log.with_df(good)


@register("Filter", "CNF filter from config (filter.rs:19-112)", {"stream"})
def _filter(
        ctx, log, cnf: Annotated[
            list | None, "list of disjunctions of SQL boolean strings"] = None,
        scope: Annotated[str, "event|trace"] = "event", **_):
    """``cnf`` is a list of disjunctions; each literal is a SQL boolean
    expression string evaluated over the flat schema."""
    from pyspark.sql import functions as F

    from promi_spark.operators.filters import cnf as cnf_op, filter_traces

    clauses = [[F.expr(lit) for lit in disj] for disj in (cnf or [])]
    if scope == "trace":
        out = log
        for disj in clauses:
            pred = None
            for c in disj:
                pred = c if pred is None else (pred | c)
            out = filter_traces(out, pred)
        return out
    if not hasattr(log, "df"):  # plain-DataFrame channels (doc pipelines)
        return cnf_op(log, clauses)
    return log.with_df(cnf_op(log.df, clauses))
