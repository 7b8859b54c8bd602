"""Flow-pipeline tests: the reference's flow.yml example re-expressed
for this engine (reference src/stream/flow/mod.rs:12-60 doc-test), plus
registry/toposort/deadlock behavior."""

import os

import pytest

CORPUS = "/root/reference/static/xes"
BIGGER = f"{CORPUS}/book/bigger-example.xes"

# The reference flow: parse -> repair -> validate -> stats -> sample(0.1)
# -> stats -> split(0.8, test side to channel) -> stats -> write; second
# pipe receives the test side and writes it. Sampling here is the
# hash-coin (not PCG-64), so counts are asserted statistically (the
# reference's own split test is statistical too, split.rs:221-222).
FLOW_YML = """
pipes:
  - name: Train
    source:
      name: XesReader
      attributes:
        path:
          String: {bigger}
    streams:
      - name: Repair
      - name: Validator
      - name: Statistics
        artifact_sender: [raw_stats]
      - name: Sample
        attributes:
          ratio:
            Float: 0.1
          seed:
            Int: 0
      - name: Statistics
        artifact_sender: [sample_stats]
      - name: Split
        attributes:
          ratio:
            Float: 0.8
          seed:
            Int: 0
        stream_sender: [test]
      - name: Statistics
        artifact_sender: [train_stats]
    sink:
      name: XesWriter
      attributes:
        path:
          String: {out}/train.xes
  - name: Test
    source:
      name: Receiver
      stream_receiver: [test]
    streams:
      - name: Statistics
        artifact_sender: [test_stats]
    sink:
      name: XesWriter
      attributes:
        path:
          String: {out}/test.xes
"""

needs_corpus = pytest.mark.skipif(
    not os.path.isfile(BIGGER), reason="reference corpus not available"
)


@needs_corpus
def test_flow_end_to_end(spark, tmp_path):
    from promi_spark.plans import execute

    res = execute(
        spark, FLOW_YML.format(bigger=BIGGER, out=tmp_path), base_dir="."
    )
    raw = res.artifacts["raw_stats"]
    assert raw.counts() == [1391, 7539, 7539]

    sample = res.artifacts["sample_stats"]
    train = res.artifacts["train_stats"]
    test = res.artifacts["test_stats"]
    # sample ~10% of 1391 traces; split of that 80/20 (hash-coin, so
    # statistical tolerance like the reference's own test)
    assert 0.06 <= sample.n_traces / raw.n_traces <= 0.14
    assert train.n_traces + test.n_traces == sample.n_traces
    assert train.n_events_total + test.n_events_total == sample.n_events_total
    assert 0.65 <= train.n_traces / sample.n_traces <= 0.92
    # both XES outputs materialized and re-readable
    from promi_spark.io.xes import log_counts, read_xes

    t = read_xes(spark, str(tmp_path / "train.xes"))
    assert log_counts(t)[0] == train.n_traces


def test_flow_json_equivalent(spark, tmp_path):
    """YAML and JSON configs produce identical flows
    (reference examples/flow.rs:57-70)."""
    import json

    import yaml

    from promi_spark.plans import load_flow

    y = FLOW_YML.format(bigger=BIGGER, out=tmp_path)
    f1 = load_flow(y)
    f2 = load_flow(json.dumps(yaml.safe_load(y)))
    assert f1 == f2


def test_deadlock_detection(spark):
    from promi_spark.plans import execute

    cyclic = {
        "pipes": [
            {
                "name": "A",
                "source": {"name": "Receiver", "stream_receiver": ["x"]},
                "sink": {"name": "Sender", "stream_sender": ["y"]},
            },
            {
                "name": "B",
                "source": {"name": "Receiver", "stream_receiver": ["y"]},
                "sink": {"name": "Sender", "stream_sender": ["x"]},
            },
        ]
    }
    with pytest.raises(ValueError, match="deadlock"):
        execute(spark, cyclic)


def test_unknown_operator(spark):
    from promi_spark.plans import execute
    from promi_spark.plans.registry import FlowConfigError

    with pytest.raises(FlowConfigError, match="unknown operator"):
        execute(
            spark,
            {"pipes": [{"name": "P", "source": {"name": "NoSuchOp"}}]},
        )


def test_declared_params_reject_mistyped_attribute(spark):
    """A mistyped flow attribute is a declarative config error naming
    pipe/segment and parameter at flow-LOAD time (reference Declaration
    attribute specs, plugin.rs:19-371) — not a TypeError deep in the
    operator call."""
    from promi_spark.plans import load_flow
    from promi_spark.plans.registry import FlowConfigError

    bad_type = {
        "pipes": [{
            "name": "P",
            "source": {"name": "EventsTable",
                       "attributes": {"sf_dir": "/root/testdata/sf0.001"}},
            "streams": [{"name": "Sample",
                         "attributes": {"ratio": "lots"}}],
        }]
    }
    with pytest.raises(FlowConfigError, match=r"P/Sample.*'ratio'.*Float"):
        load_flow(bad_type)


def test_declared_params_reject_unknown_and_missing(spark):
    from promi_spark.plans import load_flow
    from promi_spark.plans.registry import FlowConfigError

    unknown = {
        "pipes": [{
            "name": "P",
            "source": {"name": "XesReader",
                       "attributes": {"path": "x.xes", "chunk_sz": 4}},
        }]
    }
    with pytest.raises(FlowConfigError, match=r"P/XesReader.*'chunk_sz'"):
        load_flow(unknown)

    missing = {
        "pipes": [{
            "name": "P",
            "source": {"name": "XesReader"},
        }]
    }
    with pytest.raises(
        FlowConfigError, match=r"P/XesReader.*required.*'path'"
    ):
        load_flow(missing)

    # YAML "path:" with no value parses as None — an explicit null on a
    # required parameter is missing, not a valid value
    explicit_null = {
        "pipes": [{
            "name": "P",
            "source": {"name": "XesReader", "attributes": {"path": None}},
        }]
    }
    with pytest.raises(
        FlowConfigError, match=r"P/XesReader.*required.*'path'"
    ):
        load_flow(explicit_null)


def test_unsent_receive_channel_rejected_at_load(spark):
    """A typo'd stream_receiver channel is a load-time FlowConfigError
    naming pipe/segment/channel — not a KeyError after upstream pipes
    have already executed."""
    from promi_spark.plans import load_flow
    from promi_spark.plans.registry import FlowConfigError

    flow = {
        "pipes": [
            {
                "name": "A",
                "source": {"name": "Void"},
                "sink": {"name": "Sender", "stream_sender": ["good"]},
            },
            {
                "name": "B",
                "source": {"name": "Receiver", "stream_receiver": ["goood"]},
                "sink": {"name": "Void"},
            },
        ]
    }
    with pytest.raises(FlowConfigError, match=r"B.*'Receiver'.*'goood'"):
        load_flow(flow)


def test_channel_on_segment_without_channel_param_rejected_at_load():
    """Stream channels follow the segment function's signature: a
    stream_sender on a segment that takes no _send (or a stream_receiver
    on one that takes no _recv) is a load-time FlowConfigError — not a
    KeyError after the sending pipe has already run through its sink."""
    from promi_spark.plans import load_flow
    from promi_spark.plans.registry import FlowConfigError

    docs = {"name": "DocumentsTable", "attributes": {"sf_dir": "sf0.001"}}
    unsent = {
        "pipes": [
            {"name": "A", "source": docs,
             "streams": [{"name": "Filter", "stream_sender": ["x"]}],
             "sink": {"name": "Void"}},
            {"name": "B",
             "source": {"name": "Receiver", "stream_receiver": ["x"]}},
        ]
    }
    with pytest.raises(FlowConfigError, match=r"'A'.*'Filter'.*stream_sender"):
        load_flow(unsent)

    unreceived = {
        "pipes": [
            {"name": "A", "source": docs,
             "sink": {"name": "Sender", "stream_sender": ["x"]}},
            {"name": "B", "source": docs,
             "streams": [{"name": "PiiScrub", "stream_receiver": ["x"]}],
             "sink": {"name": "Void"}},
        ]
    }
    with pytest.raises(
        FlowConfigError, match=r"'B'.*'PiiScrub'.*stream_receiver"
    ):
        load_flow(unreceived)


def test_missing_receive_channel_rejected_at_load():
    """A segment whose function reads a stream_receiver channel
    (Receiver, Decontaminate, DsirSelect, AsofEnrich) without one is a
    load-time FlowConfigError — not an error at execute, after the
    upstream segments have run."""
    from promi_spark.plans import load_flow
    from promi_spark.plans.registry import FlowConfigError

    docs = {"name": "DocumentsTable", "attributes": {"sf_dir": "sf0.001"}}
    flow = {
        "pipes": [
            {"name": "P", "source": docs,
             "streams": [{"name": "Decontaminate"}],
             "sink": {"name": "Void"}},
        ]
    }
    with pytest.raises(
        FlowConfigError, match=r"'P'.*'Decontaminate'.*stream_receiver"
    ):
        load_flow(flow)
    with pytest.raises(FlowConfigError, match=r"'R'.*'Receiver'.*stream_receiver"):
        load_flow({"pipes": [{"name": "R", "source": {"name": "Receiver"},
                              "sink": {"name": "Void"}}]})


def test_missing_required_parameter_shows_its_description():
    """The missing-required error carries the parameter's description
    from its Annotated signature metadata as the hint."""
    from promi_spark.plans import load_flow
    from promi_spark.plans.registry import FlowConfigError

    flow = {
        "pipes": [{
            "name": "P",
            "source": {"name": "EventsTable", "attributes": {"sf_dir": "sf0.001"}},
            "streams": [{"name": "Sample", "attributes": {"seed": 3}}],
        }]
    }
    with pytest.raises(
        FlowConfigError,
        match=r"P/Sample.*required.*'ratio' "
              r"\(Float — keep probability in \[0,1\]\)",
    ):
        load_flow(flow)


def test_duplicate_channel_sender_rejected_at_load(spark):
    """Two senders on one channel are a load-time FlowConfigError:
    channels are single-sender (a send ASSIGNS the binding; _generations
    keeps only the last sender per channel, so under generation
    -concurrent execution a receiver could race the unaccounted first
    sender). Fan-in is several channels on one receiver, never two
    senders on one channel."""
    from promi_spark.plans import load_flow
    from promi_spark.plans.registry import FlowConfigError

    flow = {
        "pipes": [
            {
                "name": "A",
                "source": {"name": "Void"},
                "sink": {"name": "Sender", "stream_sender": ["ch"]},
            },
            {
                "name": "B",
                "source": {"name": "Void"},
                "sink": {"name": "Sender", "stream_sender": ["ch"]},
            },
            {
                "name": "C",
                "source": {"name": "Receiver", "stream_receiver": ["ch"]},
                "sink": {"name": "Void"},
            },
        ]
    }
    with pytest.raises(FlowConfigError, match=r"'ch'.*two senders"):
        load_flow(flow)


def test_declared_params_accept_typed_form(spark):
    """The reference's typed attribute form ({Float: 0.1}) round-trips
    through declaration checks (ints accepted where Float is declared)."""
    from promi_spark.plans import load_flow

    ok = {
        "pipes": [{
            "name": "P",
            "source": {"name": "EventsTable",
                       "attributes": {"sf_dir": {"String": "/tmp/x"}}},
            "streams": [{"name": "Sample",
                         "attributes": {"ratio": {"Float": 1},
                                        "seed": {"Int": 7}}}],
        }]
    }
    load_flow(ok)  # must not raise


def test_registry_kinds(spark):
    from promi_spark.plans import REGISTRY

    assert {"Void", "XesReader", "XesWriter", "Statistics", "Validator",
            "Repair", "Sample", "Split", "Duplicator", "Sender",
            "Receiver"} <= set(REGISTRY)
    assert "source" in REGISTRY["XesReader"].kinds
    assert "sink" in REGISTRY["XesWriter"].kinds


def test_duplicator_fan_out(spark, event_log):
    from promi_spark.plans import FlowContext, get

    ctx = FlowContext(spark=spark)
    dup = get("Duplicator")(ctx, event_log, _send=["copy"])
    assert ctx.streams["copy"] is dup
    assert dup.df.count() == event_log.df.count()


def test_filter_segment(spark, tmp_path, event_log):
    from promi_spark.plans import execute

    flow = {
        "pipes": [
            {
                "name": "F",
                "source": {
                    "name": "EventsTable",
                    "attributes": {"sf_dir": "/root/testdata/sf0.001"},
                },
                "streams": [
                    {
                        "name": "Filter",
                        "attributes": {
                            "cnf": [["activity = 'purchase'", "activity = 'click'"],
                                     ["value > 50"]],
                        },
                    },
                    {"name": "Statistics", "artifact_sender": ["s"]},
                ],
                "sink": {"name": "Sender", "stream_sender": ["out"]},
            }
        ]
    }
    res = execute(spark, flow)
    out = res.streams["out"]
    n = out.df.count()
    assert res.artifacts["s"].n_events_total == n
    from pyspark.sql import functions as F

    assert out.df.filter(~F.col("activity").isin("purchase", "click")).count() == 0


def test_failure_injection_dlq_channel(spark):
    """A corrupt-row source driven through a registry pipeline: the
    Quarantine segment routes rows failing validator checks to its
    stream_sender channel (the error/DLQ side, reference Buffer error
    storage buffer.rs:53-56) and only clean rows reach the sink."""
    from promi_spark.plans import execute
    from pyspark.sql import functions as F

    flow = {
        "pipes": [{
            "name": "Ingest",
            "source": {"name": "FailingSource",
                       "attributes": {"sf_dir": "/root/testdata/sf0.001",
                                       "corrupt_every": 10}},
            "streams": [{"name": "Quarantine", "stream_sender": ["dlq"]},
                         {"name": "Statistics", "artifact_sender": ["s"]}],
            "sink": {"name": "Sender", "stream_sender": ["out"]},
        }]
    }
    res = execute(spark, flow)
    out, dlq = res.streams["out"], res.streams["dlq"]
    n_good, n_bad = out.df.count(), dlq.df.count()
    assert n_bad > 0
    # every quarantined row names its failed checks in-band
    errs = dlq.df.select(F.explode("_errors").alias("e")).distinct()
    assert {r["e"] for r in errs.collect()} <= {
        "activity_present", "ts_present", "seq_nonnegative"
    }
    # clean side really is clean, and nothing was dropped on the floor
    assert out.df.filter(
        F.col("activity").isNull() | F.col("ts").isNull()
    ).count() == 0
    from promi_spark.io import load_event_log
    total = load_event_log(spark, "/root/testdata/sf0.001").df.count()
    assert n_good + n_bad == total
    assert res.artifacts["s"].n_events_total == n_good


def test_failure_injection_strict_aborts(spark):
    """Strict mode: the same corrupt source aborts the whole flow with
    a diagnostic naming the failed rows (reference strict channel
    abort, channel.rs:373-466)."""
    from promi_spark.plans import execute

    flow = {
        "pipes": [{
            "name": "Ingest",
            "source": {"name": "FailingSource",
                       "attributes": {"sf_dir": "/root/testdata/sf0.001",
                                       "corrupt_every": 10}},
            "streams": [{"name": "Quarantine",
                         "attributes": {"strict": True}}],
            "sink": {"name": "Void"},
        }]
    }
    with pytest.raises(RuntimeError, match="strict mode.*rows failed"):
        execute(spark, flow)


def test_training_data_pipeline_flow(spark, tmp_path):
    """The standard pre-training cleaning pipeline expressed as a YAML
    flow: documents -> quality filter -> PII scrub -> exact dedup ->
    near-dup dedup -> decontaminate (benchmark corpus on a channel) ->
    deterministic shard export. Asserts each stage's contract on the
    exported corpus."""
    import re

    import yaml

    from promi_spark.plans import execute
    from pyspark.sql import functions as F

    out = str(tmp_path / "clean_corpus")
    flow = yaml.safe_load(f"""
pipes:
  - name: Bench
    source:
      name: DocumentsTable
      attributes: {{sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: Filter
        attributes:
          cnf: [["doc_id < 20"]]
    sink:
      name: Sender
      stream_sender: [bench]
  - name: Clean
    source:
      name: DocumentsTable
      attributes: {{sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: QualityFilter
        attributes: {{min_tokens: 5, max_punct_ratio: 0.9}}
      - name: CorpusStats
        artifact_sender: [corpus_profile]
      - name: PiiScrub
      - name: ExactDedup
      - name: NearDupDedup
        attributes: {{threshold: 0.7}}
      - name: Decontaminate
        attributes: {{n: 5, min_shared: 1}}
        stream_receiver: [bench]
    sink:
      name: ShardExport
      attributes: {{path: {out}, n_shards: 4}}
""")
    res = execute(spark, flow)

    from promi_spark.io import load_table
    src = load_table(spark, "documents", "/root/testdata/sf0.001")
    cleaned = spark.read.parquet(out)

    prof = res.artifacts["corpus_profile"]
    assert prof["n_docs"] > 0 and prof["n_tokens"] > prof["n_docs"]

    # shard export: partitioned by shard, every shard id < n_shards
    shards = {r["shard"] for r in cleaned.select("shard").distinct().collect()}
    assert shards <= set(range(4)) and len(shards) > 1
    # something survived, and every cleaning stage dropped or rewrote
    n_src, n_out = src.count(), cleaned.count()
    assert 0 < n_out < n_src
    # decontamination: the benchmark docs (doc_id < 20) share all their
    # grams with themselves in the corpus -> none survive
    assert cleaned.filter(F.col("doc_id") < 20).count() == 0
    # exact dedup: no two surviving docs share normalized text
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    assert (
        cleaned.groupBy(norm.alias("t")).count().filter("count > 1").count()
        == 0
    )
    # PII scrub ran in-place: no raw email survives anywhere
    assert cleaned.filter(
        F.col("text").rlike(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    ).count() == 0
    # determinism: re-running the export lands identical shard sets
    ids1 = sorted(r["doc_id"] for r in cleaned.select("doc_id").collect())
    execute(spark, flow)
    ids2 = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert ids1 == ids2


def test_neardup_flow_releases_caches(spark, tmp_path, pinned_rdds):
    """NearDupDedup pins its input, the gram rows, the signature classes
    and, with transitive=true, the component edges for the flow's
    duration only: after execute() returns, no cached relation remains
    in the session, and the block manager pins no RDD it did not pin
    before the run (checkpoints are not in the cache manager)."""
    from promi_spark.plans import execute

    spark.catalog.clearCache()
    out = str(tmp_path / "deduped")
    flow = {
        "pipes": [{
            "name": "Clean",
            "source": {"name": "DocumentsTable",
                       "attributes": {"sf_dir": "/root/testdata/sf0.001"}},
            "streams": [{"name": "NearDupDedup",
                         "attributes": {"threshold": 0.7,
                                        "transitive": True}}],
            "sink": {"name": "ShardExport",
                     "attributes": {"path": out, "n_shards": 2}},
        }]
    }
    before = pinned_rdds()
    execute(spark, flow)
    # a subset, not equality: Spark's cleaner may free an RDD an earlier
    # test left pinned at any moment
    assert pinned_rdds() <= before
    assert spark.read.parquet(out).count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_quality_filter_rejects_unsupported_stopword_lang(spark):
    """min_stopword_ratio > 0 with a language that has no STOPWORDS
    list is a FlowConfigError — not a silent fallback to the English
    list (which would quietly drop a non-English corpus)."""
    from promi_spark.plans import execute
    from promi_spark.plans.registry import FlowConfigError

    flow = {
        "pipes": [{
            "name": "P",
            "source": {"name": "DocumentsTable",
                       "attributes": {"sf_dir": "/root/testdata/sf0.001"}},
            "streams": [{"name": "QualityFilter",
                         "attributes": {"min_stopword_ratio": 0.1,
                                        "lang": "xx"}}],
        }]
    }
    with pytest.raises(FlowConfigError, match=r"no stopword list.*'xx'"):
        execute(spark, flow)


def test_mixture_and_split_segments(spark, tmp_path):
    """Round-5 segments: MixtureSample (stratified md5-coin rates) and
    LeakageSafeSplit (component-routed) composed in one YAML flow, plus
    flow-load-time rejection of malformed rates / side values."""
    import yaml

    from promi_spark.plans import execute
    from promi_spark.plans.registry import FlowConfigError

    out = str(tmp_path / "mix")
    flow = yaml.safe_load(f"""
pipes:
  - name: Mix
    source:
      name: DocumentsTable
      attributes: {{sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: MixtureSample
        attributes:
          rates: {{src0: 1.0, src1: 0.5}}
          default_rate: 0.25
      - name: LeakageSafeSplit
        attributes: {{ratio: 0.8, side: train, threshold: 0.7}}
    sink:
      name: ShardExport
      attributes: {{path: {out}, n_shards: 4}}
""")
    execute(spark, flow, base_dir=str(tmp_path))
    got = spark.read.parquet(out)
    assert "split" not in got.columns  # side=train filters and drops
    total = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    first_ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    assert 0 < len(first_ids) < total  # sampled then split: smaller corpus
    # determinism: re-running the flow reproduces the same rows
    # (collect BEFORE overwrite — the old DataFrame's file listing dies)
    execute(spark, flow, base_dir=str(tmp_path))
    again_ids = {
        r["doc_id"]
        for r in spark.read.parquet(out).select("doc_id").collect()
    }
    assert again_ids == first_ids

    import pytest as _pytest

    bad_rates = yaml.safe_load(f"""
pipes:
  - name: Mix
    source:
      name: DocumentsTable
      attributes: {{sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: MixtureSample
        attributes:
          rates: {{src0: 1.5}}
    sink:
      name: ShardExport
      attributes: {{path: {out}2, n_shards: 4}}
""")
    with _pytest.raises(FlowConfigError, match="rates"):
        execute(spark, bad_rates, base_dir=str(tmp_path))

    bad_side = yaml.safe_load(f"""
pipes:
  - name: Mix
    source:
      name: DocumentsTable
      attributes: {{sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: LeakageSafeSplit
        attributes: {{ratio: 0.8, side: validation}}
    sink:
      name: ShardExport
      attributes: {{path: {out}3, n_shards: 4}}
""")
    with _pytest.raises(FlowConfigError, match="side"):
        execute(spark, bad_side, base_dir=str(tmp_path))


def test_quality_score_segment(spark, tmp_path):
    """QualityScore segment: trains on weak labels inside the flow and
    appends quality_prob; min_prob drops the junk tail."""
    import yaml

    from promi_spark.plans import execute

    out = str(tmp_path / "scored")
    flow = yaml.safe_load(f"""
pipes:
  - name: Score
    source:
      name: DocumentsTable
      attributes: {{sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: QualityScore
        attributes: {{num_features: 4096, min_tokens: 10}}
    sink:
      name: ShardExport
      attributes: {{path: {out}, n_shards: 4}}
""")
    execute(spark, flow, base_dir=str(tmp_path))
    got = spark.read.parquet(out)
    assert "quality_prob" in got.columns
    probs = [r["quality_prob"] for r in got.collect()]
    assert probs and all(0.0 <= p <= 1.0 for p in probs)


def test_asof_enrich_segment(spark):
    """AsofEnrich glue: right side from the receiver channel, interval
    tolerance parsed from the YAML string, missing channel and bad
    direction rejected."""
    import datetime as dt
    from types import SimpleNamespace

    import pytest as _pytest

    from promi_spark.plans.registry import REGISTRY, FlowConfigError

    entry = REGISTRY["AsofEnrich"]
    left = spark.createDataFrame(
        [(1, "u", dt.datetime(2024, 1, 1, 12))], "id long, user string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u", dt.datetime(2024, 1, 1, 11), "active")],
        "user string, ts timestamp, state string",
    )
    ctx = SimpleNamespace(streams={"state": right})
    out = entry.fn(ctx, left, on="user", _recv=["state"]).collect()
    assert out[0]["state_r"] == "active"
    # tolerance string parses and nulls stale matches
    tol = entry.fn(
        ctx, left, on="user", tolerance="30 MINUTES", _recv=["state"]
    ).collect()
    assert tol[0]["state_r"] is None  # 1h stale > 30min bound
    with _pytest.raises(FlowConfigError, match="stream_receiver"):
        entry.fn(ctx, left, on="user")
    with _pytest.raises(FlowConfigError, match="direction"):
        entry.fn(ctx, left, on="user", direction="sideways", _recv=["state"])


def test_round5_curation_segments(spark, tmp_path):
    """PerKeyCap / WeightedSample / ChunkDocs as flow segments: a
    curation flow caps each source, samples length-weighted survivors,
    and chunks them; bad params fail at flow-build time."""
    import yaml

    import pytest

    from promi_spark.plans import execute, load_flow
    from promi_spark.plans.registry import FlowConfigError

    out = str(tmp_path / "chunks")
    flow = yaml.safe_load(f"""
pipes:
  - name: Curate
    source:
      name: DocumentsTable
      attributes: {{sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: PerKeyCap
        attributes: {{n: 30, key_col: source}}
      - name: WeightedSample
        attributes: {{k: 10, weight_col: n_chars, key_col: source}}
      - name: ChunkDocs
        attributes: {{chunk_chars: 256, stride: 192}}
    sink:
      name: ParquetWriter
      attributes: {{path: {out}}}
""")
    execute(spark, flow)
    got = spark.read.parquet(out)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_sources = docs.select("source").distinct().count()
    kept = got.select("doc_id").distinct().count()
    assert 0 < kept <= 10 * n_sources
    assert set(got.columns) >= {"doc_id", "chunk_id", "chunk_start", "chunk_text"}

    bad = yaml.safe_load("""
pipes:
  - name: Curate
    source: {name: DocumentsTable, attributes: {sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: PerKeyCap
        attributes: {n: 0}
    sink: {name: Void}
""")
    with pytest.raises(FlowConfigError, match="PerKeyCap: n must be"):
        execute(spark, bad)
    bad2 = yaml.safe_load("""
pipes:
  - name: Curate
    source: {name: DocumentsTable, attributes: {sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: ChunkDocs
        attributes: {stride: -1}
    sink: {name: Void}
""")
    with pytest.raises(FlowConfigError, match="ChunkDocs: stride"):
        execute(spark, bad2)


def test_dfg_artifact_segment(spark):
    """DfgArtifact releases the batch DFG edge list on an artifact
    channel while passing the log through untouched."""
    import yaml

    from promi_spark.io import load_event_log
    from promi_spark.operators.dfg import directly_follows
    from promi_spark.plans import execute

    flow = yaml.safe_load("""
pipes:
  - name: Mine
    source: {name: EventsTable, attributes: {sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: DfgArtifact
        artifact_sender: [dfg_model]
    sink: {name: Void}
""")
    res = execute(spark, flow)
    art = res.artifacts["dfg_model"]
    want = sorted(
        (r["activity"], r["next_activity"], r["n"])
        for r in directly_follows(
            load_event_log(spark, "/root/testdata/sf0.001")
        ).collect()
    )
    assert art["edges"] == want and art["n_edges"] == len(want)


def test_example_flows_execute(spark, tmp_path, monkeypatch):
    """The shipped example flows must stay runnable verbatim: rewrite
    only their output paths into the test sandbox and execute both."""
    import yaml

    from promi_spark.plans import execute

    for name, sink_attr in (
        ("examples/clean_corpus.yml", "path"),
        ("examples/curate_corpus.yml", "path"),
        ("examples/keep_best_corpus.yml", "path"),
    ):
        flow = yaml.safe_load(open(f"/root/repo/{name}"))
        for pipe in flow["pipes"]:
            attrs = pipe.get("sink", {}).get("attributes", {})
            if sink_attr in attrs:
                attrs[sink_attr] = str(tmp_path / pipe["name"])
        res = execute(spark, flow)
        out = spark.read.parquet(str(tmp_path / flow["pipes"][-1]["name"]))
        assert out.count() > 0


def test_readme_quickstart_documented_counts(spark, tmp_path):
    """The README quickstart promises exact numbers for
    examples/clean_corpus.yml on the sf0.001 fixtures; this pin keeps
    the documented first-command experience honest (r7 verdict #6).
    Only the export path is rewritten into the sandbox — every other
    attribute runs verbatim from the shipped YAML."""
    import yaml

    from promi_spark.plans import execute

    flow = yaml.safe_load(open("/root/repo/examples/clean_corpus.yml"))
    for pipe in flow["pipes"]:
        attrs = pipe.get("sink", {}).get("attributes", {})
        if "path" in attrs:
            attrs["path"] = str(tmp_path / "clean_corpus")
    res = execute(spark, flow)
    # the documented corpus_profile artifact, value for value
    assert res.artifacts["corpus_profile"] == {
        "n_docs": 500,
        "n_tokens": 27939,
        "mean_chars": 306.31,
        "mean_punct_ratio": 0.0,
    }
    out = spark.read.parquet(str(tmp_path / "clean_corpus"))
    assert out.count() == 457  # 500 in, 43 removed by dedup+decontam
    assert out.select("shard").distinct().count() == 16


def test_temperature_and_bloom_segments(spark, tmp_path):
    """Round-9 segments: TemperatureMixture (alpha rebalancing) and
    BloomDecontaminate (persisted-sketch gate) composed in one flow;
    drop mode removes every truly contaminated doc (zero false
    negatives), flag mode keeps all rows; malformed alpha/action
    rejected at flow-build time."""
    import yaml
    from pyspark.sql import functions as F

    from promi_spark.io import load_table
    from promi_spark.operators.bloom import write_bench_bloom
    from promi_spark.operators.text import ngram_overlap
    from promi_spark.plans import execute
    from promi_spark.plans.registry import FlowConfigError

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    bloom_path = str(tmp_path / "bench_bloom")
    write_bench_bloom(bench, bloom_path, n=5)

    out = str(tmp_path / "curated")
    flow = yaml.safe_load(f"""
pipes:
  - name: Curate
    source:
      name: DocumentsTable
      attributes: {{sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: BloomDecontaminate
        attributes: {{index_path: {bloom_path}, action: drop}}
      - name: TemperatureMixture
        attributes: {{alpha: 0.5}}
    sink:
      name: ShardExport
      attributes: {{path: {out}, n_shards: 4}}
""")
    execute(spark, flow, base_dir=str(tmp_path))
    got = spark.read.parquet(out)
    kept = {r["doc_id"] for r in got.select("doc_id").collect()}
    assert 0 < len(kept) < docs.count()
    # no truly contaminated doc survives the drop gate
    exact = ngram_overlap(docs, bench, n=5)
    contaminated = {
        r["doc_id"] for r in exact.filter("contaminated").collect()
    }
    assert kept.isdisjoint(contaminated)

    flag_flow = yaml.safe_load(f"""
pipes:
  - name: Flagged
    source:
      name: DocumentsTable
      attributes: {{sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: BloomDecontaminate
        attributes: {{index_path: {bloom_path}, action: flag}}
    sink:
      name: ShardExport
      attributes: {{path: {out}_flag, n_shards: 4}}
""")
    execute(spark, flag_flow, base_dir=str(tmp_path))
    flagged = spark.read.parquet(f"{out}_flag")
    assert flagged.count() == docs.count()
    assert "contaminated" in flagged.columns
    assert flagged.filter("contaminated").count() >= len(contaminated)

    for attrs, pat in (
        ({"alpha": -0.5}, "alpha"),
        ({"alpha": 0.5, "action": "purge"}, None),
    ):
        bad = yaml.safe_load(f"""
pipes:
  - name: Bad
    source:
      name: DocumentsTable
      attributes: {{sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: TemperatureMixture
        attributes: {{alpha: {attrs['alpha']}}}
    sink:
      name: Void
""") if "action" not in attrs else yaml.safe_load(f"""
pipes:
  - name: Bad
    source:
      name: DocumentsTable
      attributes: {{sf_dir: /root/testdata/sf0.001}}
    streams:
      - name: BloomDecontaminate
        attributes: {{index_path: {bloom_path}, action: purge}}
    sink:
      name: Void
""")
        import pytest as _pytest

        with _pytest.raises(FlowConfigError):
            execute(spark, bad, base_dir=str(tmp_path))


def test_decontaminated_mix_example_documented_counts(spark, tmp_path):
    """The shipped examples/decontaminated_mix.yml runs verbatim after
    its documented one-line sketch-build step, and its output counts
    are pinned: 500 docs -> 385 after the Bloom drop gate (bench =
    doc_id % 7 == 0 here) + alpha=0.5 temperature rebalance, exported
    as 8 shards covering all 20 sources. Only the index/export paths
    are rewritten into the sandbox."""
    import yaml
    from pyspark.sql import functions as F

    from promi_spark.io import load_table
    from promi_spark.operators.bloom import write_bench_bloom
    from promi_spark.plans import execute

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    idx = str(tmp_path / "bench_bloom")
    write_bench_bloom(docs.filter(F.col("doc_id") % 7 == 0), idx, n=5)

    flow = yaml.safe_load(open("/root/repo/examples/decontaminated_mix.yml"))
    out_path = str(tmp_path / "mix")
    for pipe in flow["pipes"]:
        for seg in pipe.get("streams", []):
            if seg["name"] == "BloomDecontaminate":
                seg["attributes"]["index_path"] = idx
        pipe["sink"]["attributes"]["path"] = out_path
    execute(spark, flow)
    out = spark.read.parquet(out_path)
    assert out.count() == 385
    assert out.select("shard").distinct().count() == 8
    assert out.select("source").distinct().count() == 20


def test_r10_selection_segments(spark):
    """Round-10 segments: DsirSelect (target on the receiver channel),
    ClusterPrune (embedding-relation pruning), HeavyHitters (exact
    report); missing channel / bad params rejected at flow-build time."""
    from types import SimpleNamespace

    import pytest as _pytest
    from pyspark.sql import functions as F

    from promi_spark.io import load_table
    from promi_spark.plans.registry import REGISTRY, FlowConfigError

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    target = docs.filter(F.col("source") == "src0")
    raw = docs.filter(F.col("source") != "src0")
    ctx = SimpleNamespace(streams={"tgt": target})

    sel = REGISTRY["DsirSelect"].fn(ctx, raw, k=25, _recv=["tgt"])
    assert sel.count() == 25
    assert set(sel.columns) == set(docs.columns)  # selected DOCS, not keys
    with _pytest.raises(FlowConfigError, match="stream_receiver"):
        REGISTRY["DsirSelect"].fn(ctx, raw, k=25)
    with _pytest.raises(FlowConfigError, match="positive int"):
        REGISTRY["DsirSelect"].fn(ctx, raw, k=0, _recv=["tgt"])

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    kept = REGISTRY["ClusterPrune"].fn(ctx, emb, frac=0.3, n_clusters=4)
    assert 0 < kept.count() < emb.count()
    assert set(kept.columns) == set(emb.columns)
    with _pytest.raises(FlowConfigError, match="frac"):
        REGISTRY["ClusterPrune"].fn(ctx, emb, frac=1.5)

    hh = REGISTRY["HeavyHitters"].fn(ctx, docs, col="source", min_count=2)
    got = {r["source"]: r["n_occurrences"] for r in hh.collect()}
    exact = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
        if r["n"] >= 2
    }
    assert got == exact
    with _pytest.raises(FlowConfigError, match="exactly one"):
        REGISTRY["HeavyHitters"].fn(ctx, docs, col="source")


def test_decontaminate_without_receiver_channel_is_config_error():
    """Decontaminate called without its benchmark channel raises the
    same FlowConfigError as DsirSelect and AsofEnrich."""
    from types import SimpleNamespace

    from promi_spark.plans.registry import REGISTRY, FlowConfigError

    with pytest.raises(FlowConfigError, match="stream_receiver"):
        REGISTRY["Decontaminate"].fn(SimpleNamespace(streams={}), None)
    with pytest.raises(FlowConfigError, match="stream_receiver"):
        REGISTRY["Receiver"].fn(SimpleNamespace(streams={}), None)


def test_dsir_curated_mix_example_flow(spark, tmp_path):
    """examples/dsir_curated_mix.yml runs verbatim (export path
    sandboxed) and keeps exactly k=400 docs, all drawn from the
    domain-capped pool; the target channel wiring (QualityFilter pipe
    -> Sender -> DsirSelect stream_receiver) resolves at build time."""
    import yaml
    from pyspark.sql import functions as F

    from promi_spark.plans import execute

    flow = yaml.safe_load(open("/root/repo/examples/dsir_curated_mix.yml"))
    out = str(tmp_path / "dsir_mix")
    for pipe in flow["pipes"]:
        attrs = pipe.get("sink", {}).get("attributes", {})
        if "path" in attrs:
            attrs["path"] = out
    execute(spark, flow, base_dir=str(tmp_path))
    got = spark.read.parquet(out)
    assert got.count() == 400
    # the domain cap held: no source contributes more than 22 docs
    caps = got.groupBy("source").agg(F.count("*").alias("n")).collect()
    assert max(r["n"] for r in caps) <= 22
    assert got.select("shard").distinct().count() == 8


def test_independent_pipes_run_concurrently(spark):
    """Two channel-independent pipes execute in the SAME dependency
    generation on concurrent driver threads (the Spark analog of the
    reference's thread-per-pipe ThreadExecutor,
    src/stream/flow/executor.rs:17-68): each pipe's source blocks on a
    two-party barrier, so sequential execution would deadlock (barrier
    timeout -> BrokenBarrierError) while concurrent execution passes. A
    dependent third pipe still runs strictly AFTER its senders'
    generation."""
    import threading

    from promi_spark.log import EventLog
    from promi_spark.plans import execute
    from promi_spark.plans.pipeline import _generations, load_flow
    from promi_spark.plans.registry import REGISTRY, register

    barrier = threading.Barrier(2, timeout=30)
    order: list[str] = []

    @register("_TestBarrierSource", "test-only rendezvous source",
              {"source"})
    def _barrier_source(ctx, log, _send=None, **_):
        barrier.wait()  # deadlocks unless both pipes are in flight
        order.append("gen0")
        out = EventLog.from_events(ctx.spark.createDataFrame(
            [("c1", 1)], "case_id string, seq long"
        ))
        for ch in _send or []:
            ctx.streams[ch] = out
        return out

    @register("_TestProbeSink", "test-only ordering probe sink", {"sink"})
    def _probe_sink(ctx, log, **_):
        order.append("gen1")

    try:
        flow = load_flow({
            "pipes": [
                {"name": "A", "source": {"name": "_TestBarrierSource",
                                         "stream_sender": ["chA"]}},
                {"name": "B", "source": {"name": "_TestBarrierSource",
                                         "stream_sender": ["chB"]}},
                {"name": "C",
                 "source": {"name": "Receiver",
                            "stream_receiver": ["chA", "chB"]},
                 "sink": {"name": "_TestProbeSink"}},
            ]
        })
        gens = _generations(flow)
        assert [sorted(p.name for p in g) for g in gens] == [["A", "B"], ["C"]]
        execute(spark, flow)
        # both barrier parties arrived (no timeout) and the dependent
        # pipe observed strict generation ordering
        assert order == ["gen0", "gen0", "gen1"]
    finally:
        REGISTRY.pop("_TestBarrierSource", None)
        REGISTRY.pop("_TestProbeSink", None)


def test_neardup_keep_best_flow_segment(spark, tmp_path):
    """keep_best_col switches the NearDupDedup representative rule to
    highest-quality-per-component (here: longest text), and the
    component label cache is still released when the flow ends."""
    from promi_spark.plans import execute

    spark.catalog.clearCache()
    out = str(tmp_path / "deduped_best")
    flow = {
        "pipes": [{
            "name": "Clean",
            "source": {"name": "DocumentsTable",
                       "attributes": {"sf_dir": "/root/testdata/sf0.001"}},
            "streams": [{"name": "NearDupDedup",
                         "attributes": {"threshold": 0.7,
                                        "keep_best_col": "text_len"}}],
            "sink": {"name": "ShardExport",
                     "attributes": {"path": out, "n_shards": 2}},
        }]
    }
    import pytest as _pytest

    # text_len is not a documents column -> the quality expression must
    # be resolvable; build the flow against a real column instead
    with _pytest.raises(Exception):
        execute(spark, flow)
    spark.catalog.clearCache()
    flow["pipes"][0]["streams"][0]["attributes"]["keep_best_col"] = "text"
    execute(spark, flow)
    n = spark.read.parquet(out).count()
    assert n > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
