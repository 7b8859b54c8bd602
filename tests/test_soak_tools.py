"""Pure-Python checks of the soak tooling (no Spark session): the
drift section that replaced hand-diffing scale artifacts (r11 VERDICT
demand #3) must flag exactly the >2x movers, both directions, and
survive missing/zero/unreadable priors."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# soak.py parses argv at import; neutralize first (same dance the
# tool itself does for check_oracle).
_argv = sys.argv
sys.argv = [sys.argv[0]]
from tools.soak import DRIFT_FLAG_RATIO, drift_section  # noqa: E402

sys.argv = _argv


def _prior(tmp_path, queries):
    p = tmp_path / "prior.json"
    p.write_text(json.dumps({"queries": queries}))
    return str(p)


def test_drift_flags_both_directions(tmp_path):
    prior = _prior(
        tmp_path,
        {
            "slow": {"sf1_sec": 1.0},
            "fast": {"sf1_sec": 10.0},
            "steady": {"sf1_sec": 2.0},
            "boundary": {"sf1_sec": 1.0},
        },
    )
    now = {
        "slow": {"sf1_sec": 2.5},      # 2.5x  -> flagged
        "fast": {"sf1_sec": 4.0},      # 0.4x  -> flagged (improvement)
        "steady": {"sf1_sec": 2.2},    # 1.1x  -> not flagged
        "boundary": {"sf1_sec": 2.0},  # exactly 2x -> not flagged (>)
        "new_query": {"sf1_sec": 9.9}, # no prior -> skipped
    }
    d = drift_section(now, prior)
    assert d["threshold"] == DRIFT_FLAG_RATIO == 2.0
    assert d["queries_compared"] == 4
    assert set(d["flagged"]) == {"slow", "fast"}
    assert d["flagged"]["slow"]["ratio"] == 2.5
    assert d["flagged"]["fast"]["ratio"] == 0.4
    # sorted worst-regression first
    assert list(d["flagged"]) == ["slow", "fast"]


def test_drift_flags_zero_prior_skips_missing(tmp_path):
    """A recorded 0.0s prior is clamped to the noise floor, NOT
    exempted — a formerly-instant query regressing to seconds must
    flag (r12 ADVICE: the old truthiness check silently skipped it).
    Missing times still skip (a query can't drift from nothing), and
    two sub-floor times compare as 1.0x."""
    prior = _prior(
        tmp_path,
        {
            "z": {"sf1_sec": 0},
            "m": {},
            "ok": {"sf1_sec": 1.0},
            "tiny": {"sf1_sec": 0.0},
        },
    )
    now = {
        "z": {"sf1_sec": 5.0},
        "m": {"sf1_sec": 5.0},
        "ok": {},  # current run errored before timing
        "tiny": {"sf1_sec": 0.01},  # both under the floor: no drift
    }
    d = drift_section(now, prior)
    assert d["queries_compared"] == 2
    assert set(d["flagged"]) == {"z"}
    assert d["flagged"]["z"]["ratio"] == 100.0


def test_drift_unreadable_prior(tmp_path):
    d = drift_section({}, str(tmp_path / "nope.json"))
    assert "error" in d
    bad = tmp_path / "bad.json"
    bad.write_text("{not json")
    assert "error" in drift_section({}, str(bad))


def test_skew_soak_query_lists_are_oracled_registry_entries():
    """Every query the skew regimes claim to witness must exist in the
    registry WITH a DuckDB oracle — a rename or de-oracling would
    otherwise silently shrink the adversarial-skew evidence. No MLlib
    pair-generation query is registered: the native MinHash path is
    the one near-dup witness."""
    from promi_spark.queries import QUERIES
    from tools.skew_soak import BOILER_QUERIES, HOT_QUERIES

    oracled = {n for n, (_, sql) in QUERIES.items() if sql is not None}
    assert set(HOT_QUERIES) <= oracled, set(HOT_QUERIES) - oracled
    assert set(BOILER_QUERIES) <= oracled, set(BOILER_QUERIES) - oracled
    assert not [n for n in QUERIES if n.startswith("mllib_")]
