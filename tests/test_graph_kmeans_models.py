"""Independent pure-Python model pins for the iterative operators, and
the convergence values of their fixpoint certificates.

Same discipline as tests/test_bpe_model.py: the DuckDB oracles share the
distributed implementation's algebraic strategy (unrolled CTEs of the same
set/vote/distance algebra), so a common-mode misreading of the ALGORITHM
would pass the oracle. These tests re-derive the expected output with a
dict-and-loop reference implementation that shares no code or strategy
with the Spark side.
"""

from __future__ import annotations

import math

import pandas as pd

from kol_bigdata_realtime_analytics_spark.plans import REGISTRY


def test_bfs_layers_matches_python_model(spark):
    from kol_bigdata_realtime_analytics_spark.operators.graph import bfs_layers

    # planted graph: 0-1-2-3 path, a branch 1-10, an unreachable island 7-8
    und = [(0, 1), (1, 2), (2, 3), (1, 10), (7, 8)]
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]

    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    expected, frontier = {0: 0}, {0}
    for dist in (1, 2, 3):
        frontier = {
            n for f in frontier for n in adj.get(f, ()) if n not in expected
        }
        expected.update({n: dist for n in frontier})

    e_df = spark.createDataFrame(edges, "src long, dst long")
    seed = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["dist"] for r in bfs_layers(e_df, seed, 3).collect()
    }
    assert got == expected  # island {7, 8} absent, branch at dist 2


def test_label_propagation_matches_python_model(spark):
    from kol_bigdata_realtime_analytics_spark.operators.graph import (
        label_propagation,
    )

    # two triangles bridged by one edge: LPA must keep two communities
    und = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]

    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    labels = {n: n for n in adj}
    for _ in range(2):
        nxt = {}
        for n in adj:
            counts: dict = {}
            for nb in adj[n]:
                counts[labels[nb]] = counts.get(labels[nb], 0) + 1
            best = min(counts, key=lambda l: (-counts[l], l))
            nxt[n] = best
        labels = nxt

    e_df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(e_df, 2).collect()}
    assert got == labels
    # the communities stay separate across the bridge
    assert len({got[n] for n in (0, 1, 2)} & {got[n] for n in (10, 11, 12)}) == 0


def test_label_propagation_directed_keeps_all_nodes(spark):
    """On a genuinely DIRECTED edge list every node keeps a (node, label)
    row: a source-only node (no in-neighbors) carries its own label instead
    of dropping out after round 1, and a sink-only node is initialized and
    voted on (r7 advisory fix). Model: votes from in-neighbors, coalesce to
    prior label."""
    from kol_bigdata_realtime_analytics_spark.operators.graph import (
        label_propagation,
    )

    # 0 is source-only (nothing points at it); 3 is sink-only
    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (1, 3)]

    in_nbrs: dict = {}
    nodes = set()
    for a, b in edges:
        nodes.update((a, b))
        in_nbrs.setdefault(b, []).append(a)
    labels = {n: n for n in nodes}
    for _ in range(2):
        nxt = {}
        for n in nodes:
            counts: dict = {}
            for nb in in_nbrs.get(n, []):
                counts[labels[nb]] = counts.get(labels[nb], 0) + 1
            nxt[n] = (
                min(counts, key=lambda l: (-counts[l], l)) if counts else labels[n]
            )
        labels = nxt

    e_df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(e_df, 2).collect()}
    assert set(got) == nodes  # no dropout
    assert got[0] == 0  # source-only node keeps its own label
    assert got == labels


def test_k_core_chain_cascade_matches_python_model(spark):
    """Deep-cascade pin the registered purchase graph can't exercise
    (fixpoint there is 1-2 rounds): a chain 0-1-2-...-9 under k=2 peels
    exactly one layer per round from each end, and a planted triangle
    attached at node 5 survives as the 2-core. Spark's fixed-round k_core
    must match an independent dict-and-loop peel at every round budget."""
    from kol_bigdata_realtime_analytics_spark.operators.graph import k_core

    und = [(i, i + 1) for i in range(9)] + [(5, 20), (20, 21), (21, 5)]
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]

    def model(n_rounds: int) -> dict[int, int]:
        adj: dict = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
        nodes = set(adj)
        for _ in range(n_rounds):
            nodes = {
                n
                for n in nodes
                if sum(1 for m in adj[n] if m in nodes) >= 2
            }
        return {
            n: sum(1 for m in adj[n] if m in nodes)
            for n in nodes
            if sum(1 for m in adj[n] if m in nodes) > 0
        }

    e_df = spark.createDataFrame(edges, "src long, dst long")
    for rounds in (1, 2, 5, 8):
        got = {r["node"]: r["deg"] for r in k_core(e_df, 2, rounds).collect()}
        assert got == model(rounds), f"rounds={rounds}"
    # at fixpoint the 2-core is the triangle plus the chain segment that
    # closes through it — i.e. exactly the planted triangle {5, 20, 21}
    assert set(model(8)) == {5, 20, 21}


def test_embedding_kmeans_lloyd_matches_python_model(spark, sf_small):
    """Full-query pin at sf0.001: dict-and-loop integer Lloyd's over the
    same parquet must reproduce the registered query's output exactly."""
    from kol_bigdata_realtime_analytics_spark.plans import REGISTRY

    K, ITERS, SHIFT = 4, 3, 1_000_000
    emb = pd.read_parquet(f"{sf_small}/embeddings.parquet")
    pts = {
        int(r.vec_id): [
            int(math.floor(float(e) * 1_000_000)) + SHIFT for e in r.embedding
        ]
        for r in emb.itertuples()
    }
    cents = [pts[c] for c in range(K)]

    def assign(x):
        best = None
        for c in range(K):
            d2 = sum((a - b) * (a - b) for a, b in zip(x, cents[c]))
            if best is None or (d2, c) < best:
                best = (d2, c)
        return best  # (d2, c)

    for _ in range(ITERS):
        groups: dict = {}
        for x in pts.values():
            _, c = assign(x)
            groups.setdefault(c, []).append(x)
        for c, members in groups.items():
            n = len(members)
            cents[c] = [sum(col) // n for col in zip(*members)]

    expected: dict = {}
    for vid, x in pts.items():
        d2, c = assign(x)
        agg = expected.setdefault(c, [0, 0, 0])
        agg[0] += 1
        agg[1] += vid
        agg[2] += d2

    got = REGISTRY["embedding_kmeans_lloyd"].fn(spark, sf_small).collect()
    assert {
        r["cluster"]: [r["n_points"], r["sum_vec_ids"], r["inertia"]]
        for r in got
    } == expected


def test_fw_bw_classify_matches_python_model(spark):
    """FW-BW SCC classification vs an independent pure-Python BFS model on
    a directed graph exercising all four classes: a 3-cycle SCC containing
    the pivot, a forward-only tail, a backward-only feeder, a 2-node side
    cycle reachable one-way, and a fully disconnected pair."""
    from kol_bigdata_realtime_analytics_spark.operators.graph import fw_bw_classify

    edges = [
        (1, 2), (2, 3), (3, 1),   # pivot SCC {1,2,3}
        (3, 4), (4, 5),           # fwd-only tail {4,5}
        (6, 1), (7, 6),           # bwd-only feeder {6,7}
        (4, 8), (8, 9), (9, 8),   # fwd-only side cycle {8,9}
        (10, 11),                 # unreached {10,11}
    ]

    def reach(adj, start):
        seen, stack = {start}, [start]
        while stack:
            for n in adj.get(stack.pop(), ()):
                if n not in seen:
                    seen.add(n)
                    stack.append(n)
        return seen

    fwd_adj, bwd_adj = {}, {}
    for s, d in edges:
        fwd_adj.setdefault(s, []).append(d)
        bwd_adj.setdefault(d, []).append(s)
    pivot = 1
    fwd, bwd = reach(fwd_adj, pivot), reach(bwd_adj, pivot)
    nodes = {n for e in edges for n in e}
    expect = {
        n: (
            "scc" if n in fwd and n in bwd
            else "fwd_only" if n in fwd
            else "bwd_only" if n in bwd
            else "unreached"
        )
        for n in nodes
    }

    e_df = spark.createDataFrame(edges, "src long, dst long")
    piv = spark.createDataFrame([(pivot,)], "node long")
    got = {r["node"]: r["cls"] for r in fw_bw_classify(e_df, piv, 8).collect()}
    assert got == expect


# ---------------------------------------------------------------------------
# Fixpoint-budget tracked loops (r9): each returns the first NO-OP round on
# planted graphs with hand-derivable convergence depths, and -1 when the
# budget is too small to observe one — the property the
# graph_fixpoint_budget_check certificate rests on.
# ---------------------------------------------------------------------------


def test_bfs_first_noop_path_graph(spark):
    from kol_bigdata_realtime_analytics_spark.operators.graph import bfs_first_noop

    und = [(0, 1), (1, 2), (2, 3)]
    edges = und + [(b, a) for a, b in und]
    e_df = spark.createDataFrame(edges, "src long, dst long")
    seed = spark.createDataFrame([(0,)], "node long")
    # layers 1..3 each non-empty; hop 4 is the first empty frontier
    assert bfs_first_noop(e_df, seed, 5) == 4
    assert bfs_first_noop(e_df, seed, 3) == -1  # budget too small to observe


def test_kcore_first_noop_chain_peels_one_layer_per_round(spark):
    from kol_bigdata_realtime_analytics_spark.operators.graph import (
        kcore_first_noop,
    )

    und = [(0, 1), (1, 2), (2, 3)]
    edges = und + [(b, a) for a, b in und]
    e_df = spark.createDataFrame(edges, "src long, dst long")
    # k=2 chain: r1 keeps {1,2}, r2 empties, r3 is the first no-op
    assert kcore_first_noop(e_df, 2, 4) == 3
    assert kcore_first_noop(e_df, 2, 2) == -1
    # triangle is already a 2-core: round 1 changes nothing
    tri = [(0, 1), (1, 2), (0, 2)]
    tri_df = spark.createDataFrame(
        tri + [(b, a) for a, b in tri], "src long, dst long"
    )
    assert kcore_first_noop(tri_df, 2, 2) == 1


def test_lpa_first_noop_detects_period2_cycle_on_bipartite(spark):
    from kol_bigdata_realtime_analytics_spark.operators.graph import lpa_first_noop

    # 4-cycle (bipartite): synchronous LPA enters the period-2 limit cycle
    # at round 3 (l3 == l1), never a fixpoint
    und = [(0, 1), (1, 2), (2, 3), (3, 0)]
    e_df = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    assert lpa_first_noop(e_df, 5) == 3
    assert lpa_first_noop(e_df, 2) == -1
    # triangle: true fixpoint — all labels collapse to 0 by round 2, so the
    # first no-op (l3 == l2) lands at round 3
    tri = [(0, 1), (1, 2), (0, 2)]
    tri_df = spark.createDataFrame(
        tri + [(b, a) for a, b in tri], "src long, dst long"
    )
    assert lpa_first_noop(tri_df, 5) == 3


def test_fwbw_first_noop_directed_cycle(spark):
    from kol_bigdata_realtime_analytics_spark.operators.graph import fwbw_first_noop

    edges = [(0, 1), (1, 2), (2, 0)]
    e_df = spark.createDataFrame(edges, "src long, dst long")
    piv = spark.createDataFrame([(0,)], "node long")
    # both cones add one node per hop and stall at hop 3
    assert fwbw_first_noop(e_df, piv, 5) == 3
    assert fwbw_first_noop(e_df, piv, 2) == -1


# The fixpoint certificates' convergence values: each iterative operator
# reaches its fixpoint inside the round budget, with slack rounds after.


def test_nn_descent_converges_inside_budget(spark, sf_small):
    rows = {r["round"]: r for r in REGISTRY["nn_descent_fixpoint_check"].fn(spark, sf_small).collect()}
    noop = [r for r in sorted(rows) if rows[r]["n_updates"] == 0]
    assert noop, "no no-op round inside the budget — raise _NN_FIXPOINT_ROUNDS"
    assert noop[0] < max(rows), "no slack round after convergence"
    assert rows[max(rows)]["converged"]


def test_pagerank_fixpoint_round3(spark, sf_small):
    rows = {r["round"]: r["l1_delta_units"] for r in REGISTRY["pagerank_fixpoint_check"].fn(spark, sf_small).collect()}
    assert rows[1] > 0 and rows[2] > 0, "bipartite graph should move mass in rounds 1-2"
    for r in range(3, 11):
        assert rows[r] == 0, f"round {r} moved {rows[r]} units — not at fixpoint"


def test_cc_fixpoint_inside_budget(spark, sf_small):
    rows = {r["round"]: r["n_changed"] for r in REGISTRY["dedup_clusters_fixpoint_check"].fn(spark, sf_small).collect()}
    noop = [r for r in sorted(rows) if rows[r] == 0]
    assert noop and noop[0] <= 4, f"pointer-doubling took {noop[:1]} rounds — log-diameter shape broken"
    assert max(rows) > noop[0], "no slack round after convergence"
