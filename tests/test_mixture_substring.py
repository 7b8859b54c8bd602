"""cross_doc_substrings (exact-substring-dedup signal) and
mixture_sample (deterministic stratified sampling) — training-data
pipeline operators beyond the reference surface."""

import re

from pyspark.sql import functions as F

from promi_spark.operators.scale import mixture_sample
from promi_spark.operators.text import cross_doc_substrings


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _explain(df) -> str:
    je = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return je.explainString(mode.fromString("formatted"))


BOILER = "subscribe to our newsletter for the latest updates and offers"


def test_shared_substring_detected(spark):
    """Winnowing guarantee: a substring of length >= w+k-1 shared by two
    docs shares at least one fingerprint, so both score n_shared >= 1;
    a doc with no cross-doc substring scores 0."""
    rows = {
        r["doc_id"]: r
        for r in cross_doc_substrings(
            _docs(
                spark,
                [
                    f"first article body then {BOILER} and more text",
                    f"second totally different page but {BOILER} again",
                    "completely unrelated content sharing no long runs",
                ],
            ),
            k=8,
            w=4,
        ).collect()
    }
    assert rows[0]["n_shared"] >= 1 and rows[1]["n_shared"] >= 1
    assert rows[2]["n_shared"] == 0 and rows[2]["shared_frac"] == 0.0
    assert 0 < rows[0]["shared_frac"] < 1
    # duplicated docs share everything
    dup = {
        r["doc_id"]: r
        for r in cross_doc_substrings(
            _docs(spark, ["exact same document text", "exact same document text"])
        ).collect()
    }
    assert dup[0]["shared_frac"] == 1.0 == dup[1]["shared_frac"]


def test_cross_doc_plan_two_exchanges(spark):
    """One exchange on the fingerprint (window doc-count), one on the
    doc key (rollup) — no self-join, no third shuffle."""
    from promi_spark.io import load_table

    out = cross_doc_substrings(
        load_table(spark, "documents", "/root/testdata/sf0.01")
    )
    plan = _explain(out)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2
    assert plan.count("ReadSchema") == 1  # single corpus scan


def _src_docs(spark):
    return spark.createDataFrame(
        [(i, f"s{i % 4}") for i in range(2000)], "doc_id long, source string"
    )


def test_mixture_rates_and_determinism(spark):
    df = _src_docs(spark)
    out = mixture_sample(df, {"s0": 1.0, "s1": 0.5, "s2": 0.0})
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["s0"] == 500            # rate 1.0 keeps everything
    assert "s2" not in counts             # rate 0.0 keeps nothing
    assert "s3" not in counts             # default_rate 0.0
    assert 150 < counts.get("s1", 0) < 350  # ~250 expected
    # exact re-run determinism
    again = {r["source"]: r["n"] for r in mixture_sample(df, {"s0": 1.0, "s1": 0.5, "s2": 0.0}).groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == again


def test_mixture_rate_increase_is_superset(spark):
    """Raising a stratum's rate only adds rows (threshold is monotone in
    the rate), so mixtures can be retuned incrementally."""
    df = _src_docs(spark)
    low = {r["doc_id"] for r in mixture_sample(df, {"s1": 0.3}).collect()}
    high = {r["doc_id"] for r in mixture_sample(df, {"s1": 0.6}).collect()}
    assert low <= high and len(low) < len(high)


def test_mixture_plan_is_narrow(spark):
    from promi_spark.io import load_table

    out = mixture_sample(
        load_table(spark, "documents", "/root/testdata/sf0.01"), {"src0": 0.5}
    )
    plan = _explain(out)
    assert "Exchange" not in plan
    assert "codegen id" in plan  # filter runs inside whole-stage codegen


def test_winnow_guarantee_property(spark):
    """Winnowing guarantee (Schleimer et al. 2003): two documents
    sharing a substring of length >= w + k - 1 share at least one
    selected fingerprint — so cross_doc_substrings can never score 0
    for either member of such a pair. Randomized: planted common
    substrings at random positions inside random filler."""
    import random

    rng = random.Random(7)

    def filler(n):
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))

    k, w = 8, 4
    cases = []
    for i in range(12):
        shared = filler(k + w - 1 + rng.randrange(0, 10))
        a = filler(rng.randrange(0, 30)) + shared + filler(rng.randrange(0, 30))
        b = filler(rng.randrange(0, 30)) + shared + filler(rng.randrange(0, 30))
        cases.append((2 * i, a))
        cases.append((2 * i + 1, b))
    df = spark.createDataFrame(cases, "doc_id long, text string")
    from promi_spark.operators.text import cross_doc_substrings

    rows = {r["doc_id"]: r["n_shared"] for r in cross_doc_substrings(df, k=k, w=w).collect()}
    assert len(rows) == 24
    for i in range(12):
        assert rows[2 * i] >= 1 and rows[2 * i + 1] >= 1, i


def test_mixture_sample_matches_python_model(spark):
    """The md5 coin replays exactly in pure Python — the same
    engine-portability contract the DuckDB oracle checks, pinned here
    against hashlib directly."""
    import hashlib

    from promi_spark.operators.split import hex_threshold

    rates = {"s0": 0.3, "s1": 0.9}
    df = _src_docs(spark)
    got = {r["doc_id"] for r in mixture_sample(df, rates, seed=5).collect()}
    want = set()
    for i in range(2000):
        src = f"s{i % 4}"
        rate = rates.get(src, 0.0)
        coin = hashlib.md5(f"{i}:5:mix".encode()).hexdigest()[:8]
        if coin < hex_threshold(rate):
            want.add(i)
    assert got == want
