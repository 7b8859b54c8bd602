"""Seeded synthetic inputs in the schema of the repo's sf tables.

Every table the benchmark reads is generated here from ``--seed``, so a
run never depends on data outside its checkout. Shapes follow the
repo's ``sf*`` test tables (TESTDATA.md): a TPC-H-ish star schema,
an ``events`` table read through the event-log lens, a ``documents``
corpus with planted exact and near duplicates, and unit-norm 64-d
``embeddings``. Sizes scale linearly with ``sf`` like the originals
(sf0.1: 100k events, 600k lineitems, 5k documents).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = (
    ["small", "large", "red", "blue", "hot", "old", "new", "shiny"],
    ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"],
)
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EMB_DIM = 64
# Share of documents that copy an earlier document verbatim, and share
# that copy one and append " dup" (the near-duplicate marker the sf
# tables carry).
EXACT_DUP_SHARE = 0.01
NEAR_DUP_SHARE = 0.05

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Events over 30 days, stored in time order. ``event_id`` is a
    permutation, so (ts, event_id) order is not id order."""
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_2024
    return pa.table(
        {
            "event_id": rng.permutation(n).astype("int64"),
            "ts": _ts(ts),
            "user_id": rng.integers(0, n_users, n).astype("int64"),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-vocabulary documents of 10-100 tokens. A planted share are
    exact copies or ``copy + " dup"`` near copies of earlier ones, so the
    dedup paths have real work."""
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    kinds = rng.random(n)
    for i in range(1, n):
        if kinds[i] < EXACT_DUP_SHARE:
            texts[i] = texts[rng.integers(0, i)]
        elif kinds[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    ids = np.arange(n, dtype="int64")
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS[0], n, p=LANGS[1])),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def embeddings(rng: np.random.Generator, n: int, n_labels: int = 10) -> pa.Table:
    """Unit vectors drawn around ``n_labels`` centres, so nearest
    neighbours are meaningful and ANN recall is measurable."""
    centres = rng.normal(size=(n_labels, EMB_DIM))
    labels = rng.integers(0, n_labels, n)
    vecs = centres[labels] + rng.normal(scale=0.9, size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": pa.array(
                list(vecs.astype("float32")), type=pa.list_(pa.float32())
            ),
            "label": labels.astype("int32"),
        }
    )


def tpch(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    parts = np.arange(n_part, dtype="int64")
    adj, noun = PART_WORDS
    qty = rng.integers(1, 51, n_li).astype("float64")
    return {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": parts,
                "p_name": pa.array(
                    [
                        f"{adj[a]} {noun[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
                ),
                "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900 + (parts % 1000) / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _ts(
                    _EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY_US
                ),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
                "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
                "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
                "l_shipdate": _ts(
                    _EPOCH_1995 + rng.integers(1, 2500, n_li) * _DAY_US
                ),
            }
        ),
    }


def write_sf_dir(out_dir: str, seed: int, sf: float, n_embeddings: int) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet`` and return the
    row count of each."""
    rng = np.random.default_rng(seed)
    tables = tpch(rng, sf)
    tables["events"] = events(rng, int(1_000_000 * sf), max(1, int(15_000 * sf)))
    tables["documents"] = documents(rng, int(50_000 * sf))
    tables["embeddings"] = embeddings(rng, n_embeddings)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
