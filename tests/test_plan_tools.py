"""The plan tools' exchange metric on committed plan texts."""

import os

import pytest

from tools.plan_audit import exchange_counts

PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r15"
)


@pytest.mark.parametrize(
    "query, shuffles, broadcasts",
    [
        ("incremental_dedup", 8, 11),
        ("minhash_near_dups", 5, 6),
        ("simhash_near_dups", 3, 6),
        ("lsh_near_dups", 2, 6),
    ],
)
def test_exchange_counts_on_committed_plans(query, shuffles, broadcasts):
    """Each exchange node is counted once, by kind. The old substring
    count ("Exchange" anywhere in the text) read 52/32/32/21 on these
    plans: every node twice (tree and detail), broadcasts folded in."""
    with open(os.path.join(PLANS, f"{query}_after.txt")) as f:
        plan = f.read()
    assert exchange_counts(plan) == {
        "shuffles": shuffles, "broadcasts": broadcasts, "reused": 0,
    }


def test_exchange_counts_reused_node():
    plan = (
        "== Physical Plan ==\n"
        "* HashAggregate (4)\n"
        "+- ReusedExchange (3)\n"
        "\n"
        "(3) ReusedExchange [Reuses operator id: 2]\n"
        "Output [1]: [k#1]\n"
        "\n"
        "(2) Exchange\n"
        "Input [1]: [k#1]\n"
    )
    assert exchange_counts(plan) == {
        "shuffles": 1, "broadcasts": 0, "reused": 1,
    }
