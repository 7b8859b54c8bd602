"""XES reader/writer tests against the reference's own fixture corpus
(read-only at /root/reference/static/xes/) — golden counts, corpus
parse classes, and round-trip convergence (reference test strategy:
stats.rs:177-200, xes.rs:899-1005)."""

import glob
import os

import pytest

CORPUS = "/root/reference/static/xes"

# only the tests that read the corpus are gated on it
needs_corpus = pytest.mark.skipif(
    not os.path.isdir(CORPUS), reason="reference corpus not available"
)

# Golden [traces, in-trace events, total events] triples
# (reference src/stream/stats.rs:178-186)
GOLDEN = {
    "L1.xes": (6, 23, 23),
    "L2.xes": (13, 80, 80),
    "L3.xes": (4, 39, 39),
    "L4.xes": (147, 441, 441),
    "L5.xes": (14, 92, 92),
    "bigger-example.xes": (1391, 7539, 7539),
}


@pytest.fixture(scope="module")
def golden_logs(spark):
    from promi_spark.io.xes import read_xes

    return {
        name: read_xes(spark, f"{CORPUS}/book/{name}") for name in GOLDEN
    }


@needs_corpus
@pytest.mark.parametrize("name", list(GOLDEN))
def test_golden_counts(golden_logs, name):
    from promi_spark.io.xes import log_counts

    assert log_counts(golden_logs[name]) == GOLDEN[name]


@needs_corpus
@pytest.mark.parametrize(
    "path", sorted(glob.glob(f"{CORPUS}/correct/*.xes"))
)
def test_correct_corpus_parses(path):
    from promi_spark.io.xes import parse_xes

    parse_xes(path)  # must not raise


@needs_corpus
@pytest.mark.parametrize(
    "path", sorted(glob.glob(f"{CORPUS}/recoverable/*.xes"))
)
def test_recoverable_corpus_parses(path):
    from promi_spark.io.xes import parse_xes

    parse_xes(path)  # must not raise (reference xes.rs:899-903)


@needs_corpus
@pytest.mark.parametrize(
    "path", sorted(glob.glob(f"{CORPUS}/non_parsing/*.xes"))
)
def test_non_parsing_corpus_fails(path):
    from promi_spark.io.xes import XesParseError, parse_xes

    with pytest.raises(XesParseError):
        parse_xes(path)


@needs_corpus
@pytest.mark.parametrize(
    "path", sorted(glob.glob(f"{CORPUS}/non_validating/*.xes"))
)
def test_non_validating_corpus_parses(path):
    from promi_spark.io.xes import parse_xes

    parse_xes(path)  # parses fine; only validation rejects these


@needs_corpus
@pytest.mark.parametrize("name", ["L1.xes", "L3.xes", "L5.xes"])
def test_round_trip_convergence(spark, tmp_path, name, golden_logs):
    """write(read(f)) then write(read(that)) must be byte-identical
    (reference xes.rs:966-1005 snapshot convergence)."""
    from promi_spark.io.xes import log_counts, read_xes, write_xes

    gen1 = str(tmp_path / "gen1.xes")
    gen2 = str(tmp_path / "gen2.xes")
    log = golden_logs[name]
    write_xes(log, gen1)
    log2 = read_xes(spark, gen1)
    assert log_counts(log2) == GOLDEN[name]
    write_xes(log2, gen2)
    with open(gen1, "rb") as a, open(gen2, "rb") as b:
        assert a.read() == b.read()


@needs_corpus
def test_meta_round_trip(spark, tmp_path, golden_logs):
    from promi_spark.io.xes import read_xes, write_xes

    log = golden_logs["L1.xes"]
    assert len(log.meta.extensions) == 5
    assert len(log.meta.classifiers) == 3
    assert {g.scope for g in log.meta.globals} == {"trace", "event"}
    assert log.meta.attributes.get("concept:name") == "L1.mxml"
    p = str(tmp_path / "meta.xes")
    write_xes(log, p)
    meta2 = read_xes(spark, p).meta
    assert meta2.attributes == log.meta.attributes
    assert [c.name for c in meta2.classifiers] == [
        c.name for c in log.meta.classifiers
    ]
    assert len(meta2.globals) == len(log.meta.globals)


@needs_corpus
def test_distributed_reader_matches(spark):
    from promi_spark.io.xes import log_counts, read_xes_distributed

    log = read_xes_distributed(spark, f"{CORPUS}/book/bigger-example.xes")
    assert log_counts(log) == GOLDEN["bigger-example.xes"]


def test_standalone_events_and_empty_trace(spark, tmp_path):
    from promi_spark.io.xes import log_counts, read_xes, write_xes

    xes = """<?xml version="1.0" encoding="UTF-8"?>
<log xes.version="1849.2016" xes.features="">
\t<trace>
\t\t<string key="concept:name" value="c1"/>
\t\t<event><string key="concept:name" value="a"/></event>
\t</trace>
\t<trace>
\t\t<string key="concept:name" value="empty"/>
\t</trace>
\t<event><string key="concept:name" value="solo"/></event>
</log>
"""
    p = str(tmp_path / "mixed.xes")
    with open(p, "w") as f:
        f.write(xes)
    log = read_xes(spark, p)
    # 2 traces (one empty), 1 in-trace event, 2 total events
    assert log_counts(log) == (2, 1, 2)
    out = str(tmp_path / "out.xes")
    write_xes(log, out)
    assert log_counts(read_xes(spark, out)) == (2, 1, 2)


@needs_corpus
def test_list_and_nested_attributes_round_trip(spark, tmp_path):
    from promi_spark.io.xes import parse_xes, read_xes, write_xes

    meta, rows = parse_xes(f"{CORPUS}/non_validating/list_two_values.xes")
    assert meta.attributes["list"].startswith("[")  # JSON-encoded list
    log = read_xes(spark, f"{CORPUS}/non_validating/list_two_values.xes")
    p1, p2 = str(tmp_path / "g1.xes"), str(tmp_path / "g2.xes")
    write_xes(log, p1)
    write_xes(read_xes(spark, p1), p2)
    with open(p1) as a, open(p2) as b:
        assert a.read() == b.read()


def _xmllint_valid(path: str) -> tuple[bool, str]:
    """XSD oracle: xmllint when present, else the pure-Python encoding of
    the same grammar (io/xes_xsd.py) so the check runs everywhere."""
    import shutil
    import subprocess

    if shutil.which("xmllint") is None:
        from promi_spark.io.xes_xsd import validate_xes

        errs = validate_xes(path)
        return not errs, "\n".join(errs)
    r = subprocess.run(
        ["xmllint", "--noout", "--schema", f"{CORPUS}/xes-ieee-1849-2016.xsd", path],
        capture_output=True,
        text=True,
    )
    return r.returncode == 0, r.stderr


@needs_corpus
@pytest.mark.parametrize(
    "path", sorted(glob.glob(f"{CORPUS}/correct/*.xes"))
)
def test_writer_output_is_schema_valid(spark, tmp_path, path):
    """read(correct corpus file) -> write -> xmllint against the bundled
    IEEE 1849-2016 XSD: the external oracle the reference applies to its
    own writer output (xes.rs:918-964, static/xes/validate.sh)."""
    from promi_spark.io.xes import read_xes, write_xes

    out = str(tmp_path / "rewritten.xes")
    write_xes(read_xes(spark, path), out)
    ok, err = _xmllint_valid(out)
    assert ok, f"writer output fails XSD for {os.path.basename(path)}:\n{err}"


@needs_corpus
@pytest.mark.parametrize("name", ["L1.xes", "L4.xes"])
def test_writer_output_book_logs_schema_valid(spark, tmp_path, name, golden_logs):
    from promi_spark.io.xes import write_xes

    out = str(tmp_path / "book.xes")
    write_xes(golden_logs[name], out)
    ok, err = _xmllint_valid(out)
    assert ok, f"writer output fails XSD for {name}:\n{err}"


def test_typed_log_attribute_round_trips_typed(spark, tmp_path):
    """A typed log-level attribute (<int>) must re-serialize as <int>,
    not <string> (type fidelity vs the reference writer)."""
    from promi_spark.io.xes import read_xes, write_xes

    xes = """<?xml version="1.0" encoding="UTF-8"?>
<log xes.version="1849.2016" xes.features="">
\t<int key="my:count" value="5"/>
\t<trace>
\t\t<string key="concept:name" value="c1"/>
\t\t<event><string key="concept:name" value="a"/></event>
\t</trace>
</log>
"""
    p = str(tmp_path / "typed.xes")
    with open(p, "w") as f:
        f.write(xes)
    log = read_xes(spark, p)
    assert log.meta.attribute_types.get("my:count") == "int"
    out = str(tmp_path / "typed_out.xes")
    write_xes(log, out)
    with open(out) as f:
        body = f.read()
    assert '<int key="my:count" value="5"/>' in body
    assert log.meta.attribute_types == read_xes(spark, out).meta.attribute_types


def test_distributed_reader_unnamed_traces_and_no_ts(spark, tmp_path):
    """Traces without concept:name must stay distinct cases, and traces
    whose events carry no time:timestamp must survive the Arrow
    conversion (all-NULL ts)."""
    from promi_spark.io.xes import read_xes_distributed

    xes = """<?xml version="1.0" encoding="UTF-8"?>
<log xes.version="1849.2016" xes.features="">
\t<trace>
\t\t<event><string key="concept:name" value="a"/></event>
\t\t<event><string key="concept:name" value="b"/></event>
\t</trace>
\t<trace>
\t\t<event><string key="concept:name" value="c"/></event>
\t</trace>
</log>
"""
    p = str(tmp_path / "unnamed.xes")
    with open(p, "w") as f:
        f.write(xes)
    log = read_xes_distributed(spark, p)
    rows = log.df.select("case_id", "seq", "activity", "ts").collect()
    assert len(rows) == 3
    assert len({r["case_id"] for r in rows}) == 2  # NOT collapsed
    assert all(r["ts"] is None for r in rows)


@needs_corpus
def test_distributed_writer_matches_driver_writer(spark, tmp_path):
    """write_xes_distributed streams partition-rendered fragments; its
    output must be byte-identical to the driver-side writer for the
    same log (corpus file with traces, nested attrs, and meta)."""
    from promi_spark.io.xes import read_xes, write_xes, write_xes_distributed

    src = f"{CORPUS}/correct/event_correct_attributes.xes"
    log = read_xes(spark, src)
    p1, p2 = str(tmp_path / "driver.xes"), str(tmp_path / "dist.xes")
    write_xes(log, p1)
    write_xes_distributed(log, p2)
    with open(p1) as a, open(p2) as b:
        assert a.read() == b.read()


def test_distributed_writer_on_parquet_log(spark, tmp_path):
    """Generic-table logs (no case_attrs) export identically through
    both writers, including standalone (NULL-case) events."""
    from promi_spark.io import load_event_log
    from promi_spark.io.xes import write_xes, write_xes_distributed

    log = load_event_log(spark, "/root/testdata/sf0.001")
    p1, p2 = str(tmp_path / "driver.xes"), str(tmp_path / "dist.xes")
    write_xes(log, p1)
    write_xes_distributed(log, p2)
    with open(p1) as a, open(p2) as b:
        assert a.read() == b.read()


@needs_corpus
@pytest.mark.parametrize(
    "name", ["L1.xes", "L2.xes", "L3.xes", "L4.xes", "L5.xes", "L11.xes"]
)
def test_distributed_reader_content_parity(spark, name):
    """read_xes_distributed must agree with the strict driver-side
    reader row-for-row (events, order, payload columns) on the book
    corpus — not just on counts."""
    from promi_spark.io.xes import read_xes, read_xes_distributed

    path = f"{CORPUS}/book/{name}"
    a = read_xes(spark, path).df
    b = read_xes_distributed(spark, path).df
    cols = ["case_id", "seq", "activity", "ts", "resource", "lifecycle"]
    ra = sorted(tuple(r) for r in a.select(cols).collect())
    rb = sorted(tuple(r) for r in b.select(cols).collect())
    assert ra == rb


def test_writers_agree_on_null_seq_attr_marker(spark, tmp_path):
    """A case holding BOTH a null-seq trace-attrs marker row and event
    rows (whose case_attrs disagree) must export byte-identically from
    both writers: the marker row wins the case-attrs pick in each
    (driver maps null seq to -inf; distributed sorts NULLS FIRST)."""
    from datetime import datetime

    from promi_spark.io.xes import write_xes, write_xes_distributed
    from promi_spark.log import EventLog
    from promi_spark.schema import EVENTS_SCHEMA, Meta

    def row(case_id, seq, activity, ts, case_attrs):
        return (case_id, seq, activity, None, ts, None, None, None, None,
                {}, {}, case_attrs)

    rows = [
        # marker row: null seq, carries the authoritative trace attrs
        row("c1", None, None, None, {"customer": "acme"}),
        row("c1", 0, "a", datetime(2024, 1, 1), {"customer": "WRONG"}),
        row("c1", 1, "b", datetime(2024, 1, 2), {"customer": "WRONG"}),
        # control case without a marker
        row("c2", 0, "a", datetime(2024, 1, 3), {"customer": "zeta"}),
    ]
    log = EventLog(
        df=spark.createDataFrame(rows, EVENTS_SCHEMA), meta=Meta()
    )
    p1, p2 = str(tmp_path / "driver.xes"), str(tmp_path / "dist.xes")
    write_xes(log, p1)
    write_xes_distributed(log, p2)
    with open(p1) as a, open(p2) as b:
        d, x = a.read(), b.read()
    assert d == x
    assert "acme" in d and "WRONG" not in d


@needs_corpus
def test_distributed_reader_multifile_and_gzip(spark, tmp_path):
    """Directory / glob / .xes.gz ingest (the realistic corpus layout;
    the reference parses single plain files only — xes.rs:812-823):
    a directory holding one plain and one gzip-compressed book log must
    read as the UNION of the per-file driver-side reads, content-exact,
    and the gz file alone must round-trip identically to its plain
    twin."""
    import gzip
    import shutil

    from promi_spark.io.xes import read_xes, read_xes_distributed

    d = tmp_path / "corpus"
    d.mkdir()
    shutil.copy(f"{CORPUS}/book/L1.xes", d / "a_L1.xes")
    with open(f"{CORPUS}/book/L2.xes", "rb") as src, gzip.open(
        d / "b_L2.xes.gz", "wb"
    ) as dst:
        shutil.copyfileobj(src, dst)

    cols = ["activity", "ts", "resource", "lifecycle"]

    def payload(df):
        # case_id embeds a per-read trace counter, so compare the
        # per-trace event payloads (order inside trace via seq)
        return sorted(
            tuple(r)
            for r in df.select("seq", *cols).collect()
        )

    # gz alone == plain twin (driver parse sniffs the gzip magic)
    plain = read_xes(spark, f"{CORPUS}/book/L2.xes").df
    gz = read_xes(spark, str(d / "b_L2.xes.gz")).df
    assert payload(gz) == payload(plain)

    # distributed gz read == plain driver read
    dist_gz = read_xes_distributed(spark, str(d / "b_L2.xes.gz")).df
    assert payload(dist_gz) == payload(plain)

    # directory read == union of per-file driver reads
    both = read_xes_distributed(spark, str(d)).df
    l1 = read_xes(spark, f"{CORPUS}/book/L1.xes").df
    assert payload(both) == sorted(payload(l1) + payload(plain))

    # glob read matches the directory read; meta comes from the first
    # file (a_L1.xes sorts before b_L2.xes.gz)
    g = read_xes_distributed(spark, str(d / "*.xes*"))
    assert payload(g.df) == payload(both)
    assert g.meta is not None


def test_write_xes_auto_delegates_above_ceiling(spark, tmp_path, monkeypatch):
    """Above max_collect_rows the default write path never collects —
    it takes the bounded-memory distributed writer automatically, with
    byte-identical output to the forced collect path."""
    import promi_spark.io.xes as X
    from promi_spark.io import load_event_log

    log = load_event_log(spark, "/root/testdata/sf0.001")
    n = log.df.count()
    assert n > 5

    called = {}
    real = X.write_xes_distributed

    def spy(lg, path):
        called["path"] = path
        return real(lg, path)

    monkeypatch.setattr(X, "write_xes_distributed", spy)
    p_auto = str(tmp_path / "auto.xes")
    p_force = str(tmp_path / "forced.xes")
    X.write_xes(log, p_auto, max_collect_rows=5)  # ceiling below n
    assert called.get("path") == p_auto  # delegated, did not collect
    X.write_xes(log, p_force, max_collect_rows=None)  # forced collect
    with open(p_auto) as a, open(p_force) as b:
        assert a.read() == b.read()
    # under the ceiling the collect path is used (no delegation)
    called.clear()
    X.write_xes(log, str(tmp_path / "small.xes"), max_collect_rows=n)
    assert not called
