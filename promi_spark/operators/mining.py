"""Process-model miners + conformance checking (reference capability
roadmap ``src/lib.rs:11-22``: AlphaMiner, HeuristicMiner, TokenReplay —
declared consumers with no reference code; these are Spark-native
designs following the public formulations).

Scale shape: every miner consumes the *aggregated* relations (DFG /
footprint), which are |alphabet|^2-bounded — tiny regardless of log
size — so model construction is driver-side set algebra on a collected
relation. Conformance (token replay) is the only per-trace pass: one
``applyInPandas`` over case groups against a broadcast Petri net — a
single shuffle on case_id, state bounded per case.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from promi_spark.lifetime import persist
from promi_spark.log import EventLog
from promi_spark.operators.dfg import END, START, directly_follows


@dataclass(frozen=True)
class Place:
    """A Petri-net place: tokens flow in from ``ins``, out to ``outs``."""

    ins: tuple[str, ...]
    outs: tuple[str, ...]


@dataclass
class PetriNet:
    """Minimal workflow net: transitions = activities, plus source/sink."""

    transitions: list[str]
    places: list[Place] = field(default_factory=list)

    def to_rows(self) -> list[tuple[str, str]]:
        return [
            (",".join(p.ins), ",".join(p.outs)) for p in self.places
        ]


def alpha_miner(log: EventLog) -> PetriNet:
    """The alpha algorithm (van der Aalst, public formulation):

    1. footprint relations over the alphabet;
    2. candidate place pairs (A, B): all a in A, b in B with a->b, and
       A internally '#', B internally '#';
    3. keep only maximal pairs;
    4. add source place (-> start activities) and sink (end -> ).

    Runs driver-side on ONE collected endpoint-DFG (|alphabet|^2-bounded):
    the footprint relations, start set, and end set all derive from the
    same edge set, so alpha costs a single Spark job instead of the
    three (footprint + distinct-activities + endpoint DFG) a naive
    composition would run.
    """
    dfg_rows = directly_follows(log, with_endpoints=True).collect()
    edges = {(r["activity"], r["next_activity"]) for r in dfg_rows}
    alphabet = sorted(
        {a for a, _ in edges if a is not None and a != START}
        | {b for _, b in edges if b is not None and b != END}
    )

    def causal(a: str, b: str) -> bool:
        return (a, b) in edges and (b, a) not in edges

    def unrelated(a: str, b: str) -> bool:
        return (a, b) not in edges and (b, a) not in edges

    # candidate (A, B) sets — bounded alphabet, so powerset growth is
    # tamed by starting from pairs and expanding greedily
    candidates: set[tuple[tuple[str, ...], tuple[str, ...]]] = set()
    for a in alphabet:
        for b in alphabet:
            if causal(a, b):
                candidates.add(((a,), (b,)))

    def a_ok(A: tuple[str, ...], B: tuple[str, ...]) -> bool:
        return (
            all(causal(a, b) for a in A for b in B)
            and all(unrelated(x, y) for x, y in combinations(A, 2))
            and all(unrelated(x, y) for x, y in combinations(B, 2))
            and all(unrelated(x, x) for x in (*A, *B))
        )

    grown = True
    while grown:
        grown = False
        for A, B in list(candidates):
            for x in alphabet:
                biggerA = (tuple(sorted((*A, x))), B)
                if x not in A and biggerA not in candidates and a_ok(*biggerA):
                    candidates.add(biggerA)
                    grown = True
                biggerB = (A, tuple(sorted((*B, x))))
                if x not in B and biggerB not in candidates and a_ok(*biggerB):
                    candidates.add(biggerB)
                    grown = True

    maximal = [
        (A, B)
        for A, B in candidates
        if not any(
            (set(A) <= set(A2) and set(B) <= set(B2)) and (A, B) != (A2, B2)
            for A2, B2 in candidates
        )
    ]

    starts = sorted(
        b for a, b in edges if a == START and b is not None and b != END
    )
    ends = sorted(
        a for a, b in edges if b == END and a is not None and a != START
    )
    places = [Place(ins=(), outs=tuple(starts))]
    places += [Place(ins=A, outs=B) for A, B in sorted(maximal)]
    places.append(Place(ins=tuple(ends), outs=()))
    return PetriNet(transitions=alphabet, places=places)


def alpha_miner_df(log: EventLog) -> DataFrame:
    """Alpha-miner places as a DataFrame (in_set, out_set) — the
    driver-facing query surface."""
    net = alpha_miner(log)
    spark = log.df.sparkSession
    return spark.createDataFrame(
        net.to_rows(), "in_set string, out_set string"
    )


def heuristic_net(
    log: EventLog,
    dependency_threshold: float = 0.9,
    frequency_threshold: int = 1,
) -> DataFrame:
    """Heuristic miner: DFG edges kept when dependency measure and
    frequency clear the thresholds (Weijters et al., public
    formulation). Stays distributed — it is a filter on the dependency
    relation."""
    from promi_spark.operators.dfg import heuristic_dependency

    dep = heuristic_dependency(log)
    return dep.filter(
        (F.col("dependency") >= dependency_threshold)
        & (F.col("n_ab") >= frequency_threshold)
    ).select("a", "b", "n_ab", "dependency")


def token_replay(
    log: EventLog, net: PetriNet, buckets: int | None = None
) -> DataFrame:
    """Token-based conformance replay (Rozinat & van der Aalst, public
    formulation): replay each trace against the net counting produced/
    consumed/missing/remaining tokens; fitness per trace =
    ``0.5*(1 - m/c) + 0.5*(1 - r/p)``.

    One ``applyInPandas`` over hash buckets of cases with the (tiny) net
    broadcast in the closure as numpy incidence matrices: a single
    shuffle, per-case state only — the 100 TB shape for per-trace folds
    the reference would write as a stateful Handler (``observer.rs:13-55``).

    The replay fold itself is the Lindley-recursion closed form, not a
    Python loop: a trace's token count in place p after step j under
    clip-at-zero consumption is ``prefix_j - min(0, min_{i<=j} prefix_i)``
    of the unclipped ±1 delta prefix sum, so per-place missing tokens are
    ``max(0, -min_j prefix_j)`` and the whole trace replays as one
    (2E+1, P) cumsum + column-min in numpy. Hash-bucketing cases keeps
    Arrow batches large instead of one tiny group per case; ``buckets``
    defaults to 4x the cluster parallelism (load-balance headroom for
    uneven buckets without drowning in per-group pandas overhead —
    measured 2x faster than a fixed 256 on local[32] at sf0.1, and the
    same rule lands ~32k buckets on a 1000-executor cluster).
    """
    import numpy as np
    import pandas as pd

    if buckets is None:
        from promi_spark.operators.scale import parallelism_units

        buckets = parallelism_units(log.df.sparkSession)

    trans_idx = {t: i for i, t in enumerate(net.transitions)}
    n_t, n_p = len(net.transitions), len(net.places)
    # consume[t, p]: place p feeds transition t; produce[t, p]: t feeds p.
    # Row n_t is all-zero — activities outside the net's alphabet no-op,
    # matching the set-membership semantics of the scalar formulation.
    consume = np.zeros((n_t + 1, n_p), dtype=np.int64)
    produce = np.zeros((n_t + 1, n_p), dtype=np.int64)
    for p_i, place in enumerate(net.places):
        for a in place.outs:
            if a in trans_idx:
                consume[trans_idx[a], p_i] = 1
        for a in place.ins:
            if a in trans_idx:
                produce[trans_idx[a], p_i] = 1
    init = np.array([1 if not p.ins else 0 for p in net.places], dtype=np.int64)
    sink = np.array([1 if not p.outs else 0 for p in net.places], dtype=np.int64)
    n_source, n_sink = int(init.sum()), int(sink.sum())

    cols = [
        "case_id", "n_events", "produced", "consumed",
        "missing", "remaining", "fitness",
    ]

    def replay(_key, pdf):
        pdf = pdf.sort_values(["case_id", "seq"], kind="mergesort")
        case_ids = pdf["case_id"].to_numpy()
        codes = np.array(
            [trans_idx.get(a, n_t) for a in pdf["activity"]], dtype=np.int64
        )
        bounds = np.nonzero(case_ids[1:] != case_ids[:-1])[0] + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(codes)]))
        rows = []
        for s, e in zip(starts, ends):
            c = codes[s:e]
            n_ev = int(e - s)
            deltas = np.empty((2 * n_ev + 1, n_p), dtype=np.int64)
            deltas[0 : 2 * n_ev : 2] = -consume[c]
            deltas[1 : 2 * n_ev : 2] = produce[c]
            deltas[-1] = -sink
            prefix = init + np.cumsum(deltas, axis=0)
            miss_p = np.maximum(-prefix.min(axis=0), 0)
            missing = int(miss_p.sum())
            remaining = int((prefix[-1] + miss_p).sum())
            consumed = int(consume[c].sum()) + n_sink
            produced = int(produce[c].sum()) + n_source
            fitness = 0.5 * (1 - missing / consumed if consumed else 1.0) + 0.5 * (
                1 - remaining / produced if produced else 1.0
            )
            rows.append(
                (case_ids[s], n_ev, produced, consumed, missing, remaining,
                 round(fitness, 6))
            )
        return pd.DataFrame(rows, columns=cols)

    return (
        log.trace_events()
        .select("case_id", "seq", "activity")
        .groupBy(F.pmod(F.xxhash64("case_id"), F.lit(buckets)).alias("__bucket"))
        .applyInPandas(
            replay,
            schema=(
                "case_id string, n_events int, produced int, consumed int, "
                "missing int, remaining int, fitness double"
            ),
        )
    )


def dfg_alignment(
    log: EventLog,
    model_edges: DataFrame | None = None,
    buckets: int | None = None,
) -> DataFrame:
    """Alignment-style conformance over the DFG abstraction: per trace,
    the minimum total cost of log moves (skip a trace event, cost 1),
    model moves (insert a model activity, cost 1), and synchronous
    moves (cost 0) that replays the trace as a walk ``▶ -> ... -> ■``
    through the directly-follows graph. This is the edit-distance view
    of conformance (alignments, van der Aalst et al., public
    formulation) computed against the DFG language rather than a Petri
    net — an under-approximation of net alignments that is exact for
    DFG-representable models and runs as a linear DP instead of an A*
    marking search, which is what makes it distributable.

    Scale shape: the model side collapses to two dense matrices
    precomputed ON THE DRIVER from the (|alphabet|^2-bounded) DFG —
    all-pairs model-move distances D via Floyd-Warshall, and
    ``C[s, a] = min model moves from state s until a sync on activity
    a is enabled`` — broadcast in the closure. Each trace then aligns
    in O(len * |alphabet|) with a numpy min-plus fold: per event,
    ``v = v_pre + 1`` (log move) with ``v[a] = min(v[a],
    min(v_pre + C[:, a]))`` (sync after optional insertions); the
    final cost adds the cheapest completion to ``■``. Same
    parallelism-derived case bucketing as :func:`token_replay` — one
    shuffle, bounded per-case state.

    Returns (case_id, n_events, align_cost, fitness) where
    ``fitness = 1 - cost / (n_events + shortest_model_path)`` — the
    standard worst-case normalization (delete everything, then insert
    the shortest accepting path).

    ``model_edges`` is the FROZEN reference model: the endpoint-marked
    edge list from ``directly_follows(clean_log, with_endpoints=True)``
    mined on historical/curated data. Omitting it mines the DFG from
    ``log`` itself — which by construction scores every complete trace
    0 (a log trace's own adjacencies are DFG edges), so self-mining is
    only the degenerate sanity mode; real conformance checking always
    separates model log from evaluated log.
    """
    import numpy as np
    import pandas as pd

    from promi_spark.operators.dfg import END, START, directly_follows

    if buckets is None:
        from promi_spark.operators.scale import parallelism_units

        buckets = parallelism_units(log.df.sparkSession)

    if model_edges is None:
        model_edges = directly_follows(log, with_endpoints=True)
    edge_rows = model_edges.select("activity", "next_activity").collect()
    acts = sorted({r["activity"] for r in edge_rows}
                  | {r["next_activity"] for r in edge_rows})
    idx = {a: i for i, a in enumerate(acts)}
    n = len(acts)
    INF = np.iinfo(np.int64).max // 4
    D = np.full((n, n), INF, dtype=np.int64)
    E = np.zeros((n, n), dtype=bool)
    for r in edge_rows:
        E[idx[r["activity"]], idx[r["next_activity"]]] = True
        D[idx[r["activity"]], idx[r["next_activity"]]] = 1
    # diagonal AFTER the edge loop: a self-loop edge (a -> a in the DFG)
    # must not overwrite "stay in place costs 0 moves"
    np.fill_diagonal(D, 0)
    for k in range(n):  # Floyd-Warshall on the tiny alphabet graph
        D = np.minimum(D, D[:, k: k + 1] + D[k: k + 1, :])
    # C[s, a]: model moves from state s until activity a is enabled.
    # Inserting the path s ->* p costs D[s, p]; then sync needs p -> a.
    M = np.where(E, 0, INF)
    C = (D[:, :, None] + M[None, :, :]).min(axis=1)
    start_i, end_i = idx[START], idx[END]
    end_cost = C[:, end_i]  # completion: walk to a predecessor of ■
    model_len = int(end_cost[start_i])  # shortest accepting path length

    def align(_key, pdf):
        pdf = pdf.sort_values(["case_id", "seq"], kind="mergesort")
        rows = []
        for case_id, grp in pdf.groupby("case_id", sort=False):
            evs = grp[grp["seq"].notna()]["activity"]
            codes = [idx.get(a, -1) for a in evs]
            v = np.full(n, INF, dtype=np.int64)
            v[start_i] = 0
            for a in codes:
                sync = (v + C[:, a]).min() if a >= 0 else INF
                v = v + 1  # log move from any state
                if a >= 0 and sync < v[a]:
                    v[a] = sync
            cost = int((v + end_cost).min())
            n_ev = len(codes)
            denom = n_ev + model_len
            fitness = 1.0 - cost / denom if denom else 1.0
            rows.append((case_id, n_ev, cost, round(fitness, 6)))
        return pd.DataFrame(
            rows, columns=["case_id", "n_events", "align_cost", "fitness"]
        )

    return (
        log.trace_events()
        .select("case_id", "seq", "activity")
        .groupBy(F.pmod(F.xxhash64("case_id"), F.lit(buckets)).alias("__b"))
        .applyInPandas(
            align,
            schema="case_id string, n_events int, align_cost int, fitness double",
        )
    )


@dataclass
class TreeNode:
    """Process-tree node: ``op`` in {seq, xor, and, loop, act, tau};
    leaves carry ``label``."""

    op: str
    label: str | None = None
    children: list["TreeNode"] = field(default_factory=list)


def inductive_miner(log: EventLog) -> TreeNode:
    """Inductive Miner over the directly-follows graph (IMd — Leemans,
    Fahland & van der Aalst, public formulation): recursively detect
    exclusive-choice, sequence, parallel, and loop cuts on the DFG,
    projecting the graph (not the log) per branch; fall through to the
    flower model when no cut applies. Reference roadmap names
    InductiveMiner as a planned consumer with no code (``src/lib.rs:21``).

    Scale shape matches :func:`alpha_miner`: ONE Spark job collects the
    |alphabet|^2-bounded endpoint DFG; cut recursion is driver-side set
    algebra on that tiny graph — the log itself is never re-scanned,
    which is what makes IMd (vs the log-splitting IM variants) the
    100 TB-friendly formulation.

    Deterministic output: children of xor/and sort by smallest activity,
    loop redos likewise; seq children keep causal order.
    """
    dfg_rows = directly_follows(log, with_endpoints=True).collect()
    edge_set = {(r["activity"], r["next_activity"]) for r in dfg_rows}
    starts = {b for a, b in edge_set if a == START and b is not None and b != END}
    ends = {a for a, b in edge_set if b == END and a is not None and a != START}
    edges = {
        (a, b)
        for a, b in edge_set
        if a is not None and b is not None and a != START and b != END
    }
    alphabet = {a for e in edges for a in e} | starts | ends
    return _imd(frozenset(alphabet), edges, starts, ends)


def _components(nodes: set[str], pairs: set[tuple[str, str]]) -> list[set[str]]:
    """Undirected connected components (union-find over sorted nodes)."""
    parent = {n: n for n in nodes}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a in parent and b in parent:
            parent[find(a)] = find(b)
    comps: dict[str, set[str]] = {}
    for n in nodes:
        comps.setdefault(find(n), set()).add(n)
    return sorted(comps.values(), key=lambda c: min(c))


def _imd(
    sigma: frozenset[str],
    edges: set[tuple[str, str]],
    starts: set[str],
    ends: set[str],
) -> TreeNode:
    if not sigma:
        return TreeNode("tau")
    if len(sigma) == 1:
        (a,) = sigma
        if (a, a) in edges:  # self-loop: a repeats -> loop(a, tau)
            return TreeNode("loop", children=[TreeNode("act", a), TreeNode("tau")])
        return TreeNode("act", a)

    # -- exclusive choice: undirected components of the DFG ------------
    comps = _components(set(sigma), edges)
    if len(comps) > 1:
        kids = [
            _imd(
                frozenset(c),
                {(a, b) for a, b in edges if a in c and b in c},
                starts & c,
                ends & c,
            )
            for c in comps
        ]
        return TreeNode("xor", children=kids)

    # -- sequence: condensation order with unreachable-merge -----------
    groups = _sequence_groups(sigma, edges)
    if len(groups) > 1:
        kids = []
        for i, g in enumerate(groups):
            before = set().union(*groups[:i]) if i else set()
            after = set().union(*groups[i + 1 :]) if i + 1 < len(groups) else set()
            g_starts = (starts & g) | {b for a, b in edges if a in before and b in g}
            g_ends = (ends & g) | {a for a, b in edges if a in g and b in after}
            kids.append(
                _imd(
                    frozenset(g),
                    {(a, b) for a, b in edges if a in g and b in g},
                    g_starts,
                    g_ends,
                )
            )
        return TreeNode("seq", children=kids)

    # -- parallel: components of the "not both directions" graph ------
    non_dual = {
        (a, b)
        for a in sigma
        for b in sigma
        if a < b and not ((a, b) in edges and (b, a) in edges)
    }
    par = _components(set(sigma), non_dual)
    if len(par) > 1 and all(c & starts and c & ends for c in par):
        kids = [
            _imd(
                frozenset(c),
                {(a, b) for a, b in edges if a in c and b in c},
                starts & c,
                ends & c,
            )
            for c in par
        ]
        return TreeNode("and", children=kids)

    # -- loop: body holds all starts/ends; redo parts attach only via
    #    end->redo and redo->start edges ------------------------------
    boundary = starts | ends
    inner = set(sigma) - boundary
    if inner:
        body = set(boundary)
        redos: list[set[str]] = []
        for c in _components(
            inner, {(a, b) for a, b in edges if a in inner and b in inner}
        ):
            into_ok = all(
                a in ends for a, b in edges if b in c and a not in c and a in sigma
            )
            out_ok = all(
                b in starts for a, b in edges if a in c and b not in c and b in sigma
            )
            if into_ok and out_ok:
                redos.append(c)
            else:
                body |= c
        if redos and not (body & inner):
            # body must behave like a block: no start->start shortcuts
            # are checkable from the DFG alone, so accept and recurse.
            body_tree = _imd(
                frozenset(body),
                {(a, b) for a, b in edges if a in body and b in body},
                starts,
                ends,
            )
            redo_trees = [
                _imd(
                    frozenset(c),
                    {(a, b) for a, b in edges if a in c and b in c},
                    {b for a, b in edges if a in ends and b in c},
                    {a for a, b in edges if a in c and b in starts},
                )
                for c in redos
            ]
            return TreeNode("loop", children=[body_tree, *redo_trees])
    elif any((e, s) in edges for e in ends for s in starts):
        # end->start edges with nothing in between: tau-redo loop over
        # the body, whose structure is mined with the back-edges removed
        # (strictly fewer edges, so the recursion terminates).
        back = {(a, b) for a, b in edges if a in ends and b in starts}
        body_tree = _imd(frozenset(sigma), edges - back, starts, ends)
        return TreeNode("loop", children=[body_tree, TreeNode("tau")])

    # -- fallthrough: flower = loop(tau, a1..an) -----------------------
    return TreeNode(
        "loop",
        children=[TreeNode("tau")] + [TreeNode("act", a) for a in sorted(sigma)],
    )


def _sequence_groups(
    sigma: frozenset[str], edges: set[tuple[str, str]]
) -> list[set[str]]:
    """Sequence-cut groups: SCC condensation, pairwise-unreachable SCCs
    merged (they can only be ordered if something orders them), result
    topologically sorted. |alphabet|-sized graph -> plain Floyd-Warshall
    reachability is fine."""
    acts = sorted(sigma)
    idx = {a: i for i, a in enumerate(acts)}
    n = len(acts)
    reach = [[False] * n for _ in range(n)]
    for a, b in edges:
        if a in idx and b in idx:
            reach[idx[a]][idx[b]] = True
    for k in range(n):
        rk = reach[k]
        for i in range(n):
            if reach[i][k]:
                ri = reach[i]
                for j in range(n):
                    if rk[j]:
                        ri[j] = True
    # group id per node: same SCC (mutual reach) or mutually unreachable
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n):
        for j in range(i + 1, n):
            mutual = reach[i][j] and reach[j][i]
            neither = not reach[i][j] and not reach[j][i]
            if mutual or neither:
                parent[find(i)] = find(j)
    groups: dict[int, set[str]] = {}
    for i, a in enumerate(acts):
        groups.setdefault(find(i), set()).add(a)
    # order groups by reachability (condensation DAG is a chain here)
    def key(g: set[str]):
        i = idx[min(g)]
        return sum(1 for j in range(n) if reach[j][i] and find(j) != find(i))

    return sorted(groups.values(), key=key)


def tree_rows(tree: TreeNode) -> list[tuple[int, int | None, str, str | None]]:
    """Flatten a process tree DFS-preorder into
    (node_id, parent_id, op, label) rows — the DataFrame surface."""
    rows: list[tuple[int, int | None, str, str | None]] = []

    def walk(node: TreeNode, parent: int | None) -> None:
        nid = len(rows)
        rows.append((nid, parent, node.op, node.label))
        for c in node.children:
            walk(c, nid)

    walk(tree, None)
    return rows


def inductive_miner_df(log: EventLog) -> DataFrame:
    """Inductive-miner process tree as a DataFrame — the driver-facing
    query surface."""
    rows = tree_rows(inductive_miner(log))
    return log.df.sparkSession.createDataFrame(
        rows, "node_id int, parent_id int, op string, label string"
    )


def trace_profiles(log: EventLog) -> DataFrame:
    """Activity-count profile relation: one row per (case_id, activity)
    with the in-trace occurrence count — the sparse trace feature
    vector every profile-based trace-clustering formulation starts
    from (Song & van der Aalst, "Trace Clustering in Process Mining",
    public formulation). One case-keyed shuffle with map-side combine.
    """
    return (
        log.trace_events()
        .filter(F.col("seq").isNotNull())
        .groupBy("case_id", "activity")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def trace_clustering(log: EventLog, k: int = 4, n_iter: int = 0) -> DataFrame:
    """Trace clustering over activity-count profiles: assign every
    trace to the nearest of ``k`` centroids in Euclidean profile
    space. Returns (case_id, cluster, dist2) — ``cluster`` is the
    seeding trace's case_id, ``dist2`` the squared distance (an exact
    BIGINT when ``n_iter=0``, since profiles are integer counts).

    Seeding is deterministic (reference determinism contract,
    ``lib.rs:11-22`` roadmap consumers): the ``k`` lexicographically
    lowest case_ids are the initial centroids, so the n_iter=0 seeded
    Voronoi partition is SQL-replayable (the oracle). ``n_iter>0``
    runs Lloyd refinement with mean-profile centroids (floats).

    Scale shape — no collect, no UDF, never a |traces| x |traces|
    pairwise relation:

        dist^2(T, C) = ||T||^2 + ||C||^2 - 2 * <T, C>

    so the per-pair work is an *inner-product join on activity*
    against a broadcast k x |alphabet| centroid relation, plus a
    k-row broadcast cross join to surface orthogonal (inner = 0)
    pairs. The profile relation has three consumers (norms, centroid
    pick, inner products) whose column pruning makes the subtrees
    non-identical — ReuseExchange does NOT fire — so it is persisted
    and the event table is scanned ONCE; the persisted relation is
    |traces| x |alphabet|-bounded (tiny next to the log). Relation
    lifetime: README "Relation lifetime".
    Tie-break: lowest (dist2, cluster) — deterministic in both
    engines.
    """
    prof = persist(trace_profiles(log))
    cent_ids = (
        prof.select("case_id")
        .distinct()
        .orderBy("case_id")
        .limit(k)
        .select(F.col("case_id").alias("cent_id"))
    )
    cent = prof.join(
        F.broadcast(cent_ids), prof["case_id"] == cent_ids["cent_id"]
    ).select("cent_id", "activity", F.col("c").cast("double").alias("cc"))

    for it in range(n_iter + 1):
        cnorm = cent.groupBy("cent_id").agg(
            F.sum(F.col("cc") * F.col("cc")).alias("cn2")
        )
        norms = prof.groupBy("case_id").agg(
            F.sum(F.col("c") * F.col("c")).cast("double").alias("n2")
        )
        ip = (
            prof.join(F.broadcast(cent), "activity")
            .groupBy("case_id", "cent_id")
            .agg(F.sum(F.col("c") * F.col("cc")).alias("ip"))
        )
        d2 = F.col("n2") + F.col("cn2") - 2 * F.coalesce(F.col("ip"), F.lit(0.0))
        assign = (
            norms.crossJoin(F.broadcast(cnorm))
            .join(ip, ["case_id", "cent_id"], "left")
            .withColumn("d2", d2)
            .groupBy("case_id")
            .agg(
                F.min_by(
                    F.struct(
                        F.col("cent_id").alias("cluster"),
                        F.col("d2").alias("dist2"),
                    ),
                    F.struct("d2", "cent_id"),
                ).alias("m")
            )
            .select("case_id", "m.cluster", "m.dist2")
        )
        if it < n_iter:
            # Lloyd step: mean profile per cluster (implicit zeros for
            # activities absent from a trace matter — divide the SUM by
            # the cluster's trace count, not avg over present rows).
            sizes = assign.groupBy("cluster").agg(
                F.count(F.lit(1)).alias("n_traces")
            )
            cent = (
                assign.join(prof, "case_id")
                .groupBy("cluster", "activity")
                .agg(F.sum("c").alias("s"))
                .join(F.broadcast(sizes), "cluster")
                .select(
                    F.col("cluster").alias("cent_id"),
                    "activity",
                    (F.col("s") / F.col("n_traces")).alias("cc"),
                )
            )
    if n_iter == 0:
        assign = assign.withColumn("dist2", F.col("dist2").cast("bigint"))
    return assign


def fitness_summary(replayed: DataFrame) -> DataFrame:
    """Log-level conformance: trace-weighted average fitness + share of
    perfectly fitting traces."""
    return replayed.agg(
        F.count(F.lit(1)).alias("n_traces"),
        F.round(F.avg("fitness"), 6).alias("avg_fitness"),
        F.round(
            F.avg((F.col("missing") == 0).cast("double")), 6
        ).alias("frac_fitting"),
    )
