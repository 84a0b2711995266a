"""Hypothesis property tests for operator contracts the oracles can't see.

The DuckDB oracles pin exact values on fixed TESTDATA; these pin the
*invariants* on adversarial inputs — quantization error bounds, whitespace
normalization — which is what actually holds an operator together on 100 TB
of messy real data.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_floats32 = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, width=32
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(vecs=st.lists(st.lists(_floats32, min_size=1, max_size=8), min_size=1, max_size=4))
def test_quantize_int8_error_bound(spark, vecs):
    """For every element: code in [-127, 127] and |x - code*scale| <=
    scale/2 (one quantization step), with scale = max|x|/127; all-zero
    vectors quantize to scale 0 and all-zero codes."""
    from kol_bigdata_realtime_analytics_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, embedding array<float>"
    )
    scale, codes = quantize_int8(F.col("embedding"))
    rows = df.select(
        "embedding", scale.alias("scale"), codes.alias("codes")
    ).collect()
    for r in rows:
        absmax = max(abs(x) for x in r["embedding"])
        if absmax == 0.0:
            assert r["scale"] == 0.0
            assert all(c == 0 for c in r["codes"])
            continue
        assert math.isclose(r["scale"], absmax / 127.0, rel_tol=1e-12)
        for x, c in zip(r["embedding"], r["codes"]):
            assert -127 <= c <= 127
            # one-step bound, float32->double slack only
            assert abs(x - c * r["scale"]) <= r["scale"] / 2 * (1 + 1e-9) + 1e-12


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    # ASCII alphanumerics: case-fold roundtrip (upper then lower) is only
    # an identity for ASCII — Unicode has one-way mappings (ß -> SS) that
    # are outside the fingerprint's lowercase-normalization contract
    tokens=st.lists(
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789",
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=6,
    ),
    seps=st.lists(st.sampled_from([" ", "  ", "\t", " \t ", "\n"]), min_size=6, max_size=6),
)
def test_fingerprint_whitespace_invariance(spark, tokens, seps):
    """doc_fingerprint_md5 must be invariant to the amount/kind of
    whitespace between tokens, leading/trailing whitespace, and case —
    the contract that makes it a dedup key for scraped text."""
    from kol_bigdata_realtime_analytics_spark.functions.text import doc_fingerprint_md5

    canonical = " ".join(tokens)
    messy = seps[5] + seps[0].join(tokens) + seps[4]
    messy2 = "".join(t + seps[i % 6] for i, t in enumerate(tokens)).upper()
    df = spark.createDataFrame(
        [(0, canonical), (1, messy), (2, messy2)], "id long, text string"
    )
    fps = [
        r["fp"]
        for r in df.select(doc_fingerprint_md5("text").alias("fp")).collect()
    ]
    assert fps[0] == fps[1] == fps[2]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_shingle_hash_rows_matches_string_shingles(spark, docs):
    """The codegen shingle path (shingle_hash_rows) hashes exactly the
    distinct word n-gram strings: per doc, the DISTINCT hash set is the
    image of the distinct string-shingle set (same size; docs shorter than
    n tokens, 0-token docs included, have none), and two docs share a hash
    iff they share a string shingle. A tiny 5-word alphabet forces heavy
    shingle reuse across docs, which is where a broken window (off-by-one
    lead, wrong null trim) would diverge."""
    from kol_bigdata_realtime_analytics_spark.operators.dedup import shingle_hash_rows

    n = 3
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)], "id long, text string"
    )
    str_sets = {
        i: {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
        for i, toks in enumerate(docs)
    }
    hash_sets: dict[int, set] = {i: set() for i in range(len(docs))}
    for r in shingle_hash_rows(df, "text", "id", n).collect():
        hash_sets[r["doc"]].add(r["h"])
    for i in range(len(docs)):
        assert len(hash_sets[i]) == len(str_sets[i]), (i, docs[i])
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            assert bool(str_sets[i] & str_sets[j]) == bool(hash_sets[i] & hash_sets[j])


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=0, max_size=30
    ),
    n_nodes=st.integers(1, 13),
)
def test_duplicate_clusters_matches_union_find(spark, edges, n_nodes):
    """Pointer-doubled min-label propagation == classic union-find on
    arbitrary random graphs (chains, stars, cliques, disconnected, self
    loops, duplicate edges)."""
    from kol_bigdata_realtime_analytics_spark.operators.dedup import duplicate_clusters

    edges = [(a, b) for a, b in edges if a < n_nodes and b < n_nodes and a != b]
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
    edf = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
    if not edges:
        edf = edf.filter("id_a != id_a")  # empty frame, keep schema
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in duplicate_clusters(nodes, edf).collect()
    }

    # reference union-find
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for i in range(n_nodes):
        comp.setdefault(find(i), []).append(i)
    expected = {}
    for members in comp.values():
        lo = min(members)
        for mnode in members:
            expected[mnode] = (lo, len(members), int(mnode == lo))
    assert got == expected


@pytest.mark.parametrize("forced", ["cc_edges"], indirect=True)
def test_duplicate_clusters_distributed_matches_union_find(spark, forced):
    """The union-find property above, on the distributed min-label loop
    instead of the driver union-find its small graphs otherwise select."""
    with forced():
        test_duplicate_clusters_matches_union_find(spark)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=25
    )
)
def test_triangle_count_matches_bruteforce(spark, edges):
    """Degree-oriented wedge counting == brute-force triple enumeration on
    random graphs."""
    from kol_bigdata_realtime_analytics_spark.operators.graph import triangle_count

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    df = spark.createDataFrame(list(und) or [(0, 0)], "src long, dst long")
    if not und:
        df = df.filter("src != src")
    got = triangle_count(df).collect()[0]["n_triangles"]
    nodes = sorted({x for e in und for x in e})
    expected = sum(
        1
        for i, a in enumerate(nodes)
        for b in nodes[i + 1:]
        for c in nodes
        if c > b
        and (a, b) in und
        and (a, c) in und
        and (b, c) in und
    )
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    index_keys=st.sets(st.integers(0, 60), max_size=30),
    batch_keys=st.sets(st.integers(0, 60), min_size=1, max_size=30),
)
def test_bloom_anti_join_matches_set_difference(spark, index_keys, batch_keys):
    """bloom_anti_join == plain set difference for arbitrary key sets
    (including empty index and full overlap)."""
    from kol_bigdata_realtime_analytics_spark.operators.bloom import bloom_anti_join

    index = spark.createDataFrame(
        [(f"k{i}",) for i in sorted(index_keys)] or [("___",)], "key string"
    )
    if not index_keys:
        index = index.filter("key != key")
    batch = spark.createDataFrame([(f"k{i}",) for i in sorted(batch_keys)], "key string")
    got = {r["key"] for r in bloom_anti_join(batch, index, "key").collect()}
    assert got == {f"k{i}" for i in batch_keys - index_keys}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    base=st.dictionaries(st.integers(0, 12), st.integers(-5, 5), max_size=8),
    ops=st.lists(
        st.tuples(
            st.integers(0, 12), st.sampled_from(["U", "D"]), st.integers(-5, 5)
        ),
        max_size=12,
    ),
)
def test_merge_changelog_matches_dict_model(spark, base, ops):
    """merge_changelog == the obvious dict model (apply latest op per key)
    for arbitrary base snapshots and op streams, and
    changelog_from_snapshots derives a changelog whose merge rebuilds the
    target snapshot exactly — MERGE and its inverse pinned against an
    independent implementation, not against each other."""
    from kol_bigdata_realtime_analytics_spark.operators.merge import (
        changelog_from_snapshots,
        merge_changelog,
    )

    # squash the op stream to its latest op per key (the operator's
    # documented precondition) and compute the expected final snapshot
    squashed = {}
    for k, op, v in ops:
        squashed[k] = (op, v)
    expected = dict(base)
    for k, (op, v) in squashed.items():
        if op == "U":
            expected[k] = v
        else:
            expected.pop(k, None)

    def frame(rows, schema):
        df = spark.createDataFrame(rows or [(0,) * len(schema.split(","))], schema)
        if not rows:
            df = df.filter("k != k")
        return df

    base_df = frame(sorted(base.items()), "k int, v int")
    delta_df = frame(
        [(k, op, v) for k, (op, v) in sorted(squashed.items())],
        "k int, op string, v int",
    )

    merged = merge_changelog(base_df, delta_df, key="k")
    got = {r["k"]: r["v"] for r in merged.collect()}
    assert got == expected

    # merge_action audit column matches the model's classification
    actions = {r["k"]: r["merge_action"] for r in merged.collect()}
    for k in got:
        if k in base and squashed.get(k, ("", 0))[0] == "U":
            assert actions[k] == "update"
        elif k in base:
            assert actions[k] == "carry"
        else:
            assert actions[k] == "insert"

    # inverse direction: derive the changelog between the two snapshots and
    # replay it — must rebuild the target exactly
    expected_df = frame(sorted(expected.items()), "k int, v int")
    import pyspark.sql.functions as _F

    clog = changelog_from_snapshots(
        base_df, expected_df, "k", _F.col("v").cast("string")
    )
    replayed = merge_changelog(base_df, clog, key="k")
    assert {r["k"]: r["v"] for r in replayed.collect()} == expected


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),       # key
            st.sampled_from(["a", "b", "c", None]),  # attribute value
            st.integers(0, 20),      # event second
        ),
        min_size=1,
        max_size=20,
    )
)
def test_scd2_matches_run_compression_model(spark, rows):
    """scd2_from_changelog == per-key run-length compression of the
    (ts, tiebreak)-ordered changelog, for arbitrary streams including
    duplicate timestamps, NULL attribute values, and single-row keys.
    Invariants: intervals tile exactly (valid_to[k] == valid_from[k+1]),
    exactly one open current interval per key, runs of identical values
    (NULL-safe) collapse into one interval."""
    from datetime import datetime, timezone

    from kol_bigdata_realtime_analytics_spark.operators.scd import scd2_from_changelog

    data = [
        (k, a, datetime.fromtimestamp(ts, tz=timezone.utc).replace(tzinfo=None), i)
        for i, (k, a, ts) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "k int, attr string, ts timestamp, tb long")
    def skey(t):
        return tuple((x is None, x) for x in t)

    got = sorted(
        (
            (r["k"], r["attr"], r["valid_from_us"], r["valid_to_us"], r["is_current"])
            for r in scd2_from_changelog(df, "k", "attr", "ts", "tb").collect()
        ),
        key=skey,
    )

    # independent model: order per key, compress equal-value runs
    expected = []
    bykey = {}
    for k, a, ts, tb in data:
        bykey.setdefault(k, []).append((ts, tb, a))
    for k, evs in bykey.items():
        evs.sort()
        runs = []
        for ts, tb, a in evs:
            if not runs or runs[-1][1] != a:
                runs.append((ts, a))
        for i, (ts, a) in enumerate(runs):
            nxt = runs[i + 1][0] if i + 1 < len(runs) else None
            us = lambda t: int(t.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
            expected.append(
                (k, a, us(ts), us(nxt) if nxt else None, 1 if nxt is None else 0)
            )
    assert got == sorted(expected, key=skey)

    # structural invariants straight off the result
    per_key = {}
    for k, a, vf, vt, cur in got:
        per_key.setdefault(k, []).append((vf, vt, cur))
    for k, ivals in per_key.items():
        # same-instant changes create zero-length intervals sharing a
        # valid_from; order those by (closed-before-open, valid_to) so the
        # tiling check pairs them correctly
        ivals.sort(
            key=lambda x: (x[0], x[1] is None, x[1] if x[1] is not None else 0)
        )
        assert sum(cur for _, _, cur in ivals) == 1
        for (f1, t1, _), (f2, _, _) in zip(ivals, ivals[1:]):
            assert t1 == f2


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left_rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 2)),  # key (nullable)
            st.integers(0, 6),                         # left ts
        ),
        min_size=1,
        max_size=8,
    ),
    right_kts=st.sets(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 2)),  # key (nullable)
            st.integers(0, 6),                         # right ts
        ),
        max_size=10,
    ),
)
def test_asof_three_forms_match_bruteforce_model(spark, left_rows, right_kts):
    """as_of_join_union (the union-window carry) == a brute-force per-row
    model, on arbitrary inputs: NULL keys on either side, left-ts ties with
    right-ts (<= semantics), keys with no right rows at all, and right rows
    whose payload FIELD is genuinely NULL (atomic carry — no cross-row
    stitching). Right (key, ts) pairs are unique by construction: the
    contract does not pin a winner among equal-ts right rows, so ties
    there would test implementation accident, not semantics."""
    from kol_bigdata_realtime_analytics_spark.operators.asof import as_of_join_union

    left_data = [(k, ts, f"L{i}") for i, (k, ts) in enumerate(left_rows)]
    # payload xa is NULL on every third ts — the atomic-carry probe: a
    # newer NULL-payload right row must shadow an older non-NULL one
    right_data = [
        (k, ts, None if ts % 3 == 0 else f"a{k}_{ts}", f"b{k}_{ts}")
        for (k, ts) in sorted(right_kts, key=lambda t: (t[0] is None, t[0] or 0, t[1]))
    ]
    left = spark.createDataFrame(left_data, "k int, ts int, lv string")
    right = spark.createDataFrame(right_data, "k int, ts int, ra string, rb string")
    r_aliased = right.select("k", "ts", F.col("ra").alias("xa"), F.col("rb").alias("xb"))

    expected = []
    for k, ts, lv in left_data:
        best = None
        if k is not None:
            for rk, rts, ra, rb in right_data:
                if rk == k and rts <= ts and (best is None or rts > best[0]):
                    best = (rts, ra, rb)
        expected.append((lv, best[1] if best else None, best[2] if best else None))
    expected.sort()

    def rows(df):
        return sorted(
            (r["lv"], r["xa"], r["xb"]) for r in df.select("lv", "xa", "xb").collect()
        )

    got = as_of_join_union(left, r_aliased, "k", "ts", "ts", ["xa", "xb"])
    assert rows(got) == expected


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(
            st.integers(0, 4),   # src
            st.integers(0, 4),   # dst (self-loops allowed)
            st.integers(1, 5),   # integer weight
        ),
        min_size=1,
        max_size=12,
    ),
    n_iter=st.integers(1, 4),
)
def test_pagerank_fixedpoint_matches_integer_model(spark, edges, n_iter):
    """pagerank_fixedpoint is BIT-IDENTICAL to an independent pure-Python
    integer model on arbitrary graphs (parallel edges, self-loops,
    dangling nodes, disconnected nodes): same floor divisions in the same
    places, exact long sums in any order. This is the property the
    hash-exact oracle relies on — not 'close to float PageRank' but
    'every engine computes the same integers'."""
    from kol_bigdata_realtime_analytics_spark.operators.graph import (
        PAGERANK_SCALE,
        pagerank_fixedpoint,
    )

    df = spark.createDataFrame(edges, "src long, dst long, weight long")
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixedpoint(df, n_iter=n_iter).collect()
    }

    # independent model — per-edge floor div, exact integer sums
    num, den = 17, 20
    out_w = {}
    for s, d, w in edges:
        out_w[s] = out_w.get(s, 0) + w
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    base_fp = (den - num) * PAGERANK_SCALE // (den * n)
    ranks = {v: PAGERANK_SCALE // n for v in nodes}
    for _ in range(n_iter):
        c = {}
        for s, d, w in edges:
            c[d] = c.get(d, 0) + (ranks[s] * w) // out_w[s]
        ranks = {v: base_fp + num * c.get(v, 0) // den for v in nodes}
    assert got == ranks


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@example(edges=[(0, 1), (1, 0), (2, 3)], root=10, k=1, n_rounds=3)
@example(edges=[(0, 1), (1, 2), (2, 0), (3, 4), (4, 4)], root=0, k=1, n_rounds=4)
@example(edges=[(0, 1), (1, 2), (2, 3)], root=3, k=1, n_rounds=5)  # bwd cone deeper
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=24
    ),
    root=st.integers(0, 11),  # 10 and 11 are on no edge
    k=st.integers(1, 3),
    n_rounds=st.integers(1, 6),
)
def test_first_noop_certificates_match_python_model(spark, edges, root, k, n_rounds):
    """bfs_first_noop, kcore_first_noop and fwbw_first_noop return the
    round a pure-Python run of the same dynamics first makes no progress
    (first empty frontier / first unchanged live count / first empty
    fused frontier), or -1 when that lies past the budget — on random
    small directed graphs: disconnected ones, self loops, duplicate
    edges, and seeds/pivots on no edge."""
    from collections import Counter

    from kol_bigdata_realtime_analytics_spark.operators.graph import (
        bfs_first_noop,
        fwbw_first_noop,
        kcore_first_noop,
    )

    def first_empty(frontier, step):
        visited = set(frontier)
        for hop in range(1, n_rounds + 1):
            frontier = step(frontier) - visited
            if not frontier:
                return hop
            visited |= frontier
        return -1

    def bfs_step(frontier):
        return {d for s, d in edges if s in frontier}

    def cone_step(frontier):
        return {(d, "f") for s, d in edges if (s, "f") in frontier} | {
            (s, "b") for s, d in edges if (d, "b") in frontier
        }

    def kcore_model():
        live = {s for s, _ in edges}
        for t in range(1, n_rounds + 1):
            deg = Counter(s for s, d in edges if s in live and d in live)
            nxt = {v for v, c in deg.items() if c >= k}
            if len(nxt) == len(live):
                return t
            live = nxt
        return -1

    e_df = spark.createDataFrame(edges, "src long, dst long")
    seed = spark.createDataFrame([(root,)], "node long")
    assert bfs_first_noop(e_df, seed, n_rounds) == first_empty({root}, bfs_step)
    assert kcore_first_noop(e_df, k, n_rounds) == kcore_model()
    assert fwbw_first_noop(e_df, seed, n_rounds) == first_empty(
        {(root, "f"), (root, "b")}, cone_step
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),                 # basket id
            st.sampled_from(["w", "x", "y", "z"]),  # item (duplicates likely)
        ),
        min_size=1,
        max_size=16,
    )
)
def test_cooccurrence_pairs_matches_counting_model(spark, rows):
    """cooccurrence_pairs == the itertools/counting model, both modes, on
    baskets with duplicate items and single-item baskets. distinct=True:
    one (a, b) row per basket where both appear (a < b). distinct=False:
    multiplicity cnt_basket(a) * cnt_basket(b) — the row-pair count the
    raw self-join form would produce."""
    from collections import Counter
    from itertools import combinations

    from kol_bigdata_realtime_analytics_spark.operators.graph import (
        cooccurrence_pairs,
    )

    df = spark.createDataFrame(rows, "basket int, item string")

    def got(distinct):
        return sorted(
            (r["a"], r["b"])
            for r in cooccurrence_pairs(df, "basket", "item", distinct=distinct).collect()
        )

    baskets = {}
    for b, it in rows:
        baskets.setdefault(b, []).append(it)
    exp_distinct, exp_multi = [], []
    for items in baskets.values():
        exp_distinct.extend(combinations(sorted(set(items)), 2))
        c = Counter(items)
        for a, b in combinations(sorted(c), 2):
            exp_multi.extend([(a, b)] * (c[a] * c[b]))
    assert got(True) == sorted(exp_distinct)
    assert got(False) == sorted(exp_multi)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.sampled_from(["v", "w", "x", "y", "z"]),
        ),
        min_size=1,
        max_size=18,
    )
)
def test_cooccurrence_triples_matches_counting_model(spark, rows):
    """cooccurrence_triples == itertools.combinations over each basket's
    distinct items (a < b < c), on baskets with duplicates, singletons,
    and sub-triple baskets."""
    from itertools import combinations

    from kol_bigdata_realtime_analytics_spark.operators.graph import (
        cooccurrence_triples,
    )

    df = spark.createDataFrame(rows, "basket int, item string")
    got = sorted(
        (r["a"], r["b"], r["c"])
        for r in cooccurrence_triples(df, "basket", "item").collect()
    )
    baskets = {}
    for b, it in rows:
        baskets.setdefault(b, set()).add(it)
    exp = []
    for items in baskets.values():
        exp.extend(combinations(sorted(items), 3))
    assert got == sorted(exp)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),  # NULL basket = real group
            st.sampled_from(["v", "w", "x", "y", "z"]),
        ),
        min_size=1,
        max_size=24,
    ),
    cap=st.integers(1, 4),
)
def test_basket_cap_equals_filtered_model_and_audit_complement(spark, rows, cap):
    """max_basket_size == the uncapped expansion restricted to baskets at or
    under the cap, in every mode (pairs distinct/multi, triples); and
    oversized_baskets is exactly the complement of what the capped run kept
    — the truncation is fully auditable, never silent. NULL basket keys are
    generated too: groupBy treats NULL as a group, so the null-safe guard
    must cap it exactly like any other basket."""
    from collections import Counter
    from itertools import combinations

    from kol_bigdata_realtime_analytics_spark.operators.graph import (
        cooccurrence_pairs,
        cooccurrence_triples,
        oversized_baskets,
    )

    df = spark.createDataFrame(rows, "basket int, item string")
    baskets = {}
    for b, it in rows:
        baskets.setdefault(b, []).append(it)

    exp_pairs_d, exp_pairs_m, exp_triples = [], [], []
    for items in baskets.values():
        dist = sorted(set(items))
        if len(dist) <= cap:
            exp_pairs_d.extend(combinations(dist, 2))
            exp_triples.extend(combinations(dist, 3))
        if len(items) <= cap:
            c = Counter(items)
            for a, b in combinations(sorted(c), 2):
                exp_pairs_m.extend([(a, b)] * (c[a] * c[b]))

    got_d = sorted(
        (r["a"], r["b"])
        for r in cooccurrence_pairs(
            df, "basket", "item", distinct=True, max_basket_size=cap
        ).collect()
    )
    got_m = sorted(
        (r["a"], r["b"])
        for r in cooccurrence_pairs(
            df, "basket", "item", distinct=False, max_basket_size=cap
        ).collect()
    )
    got_t = sorted(
        (r["a"], r["b"], r["c"])
        for r in cooccurrence_triples(
            df, "basket", "item", max_basket_size=cap
        ).collect()
    )
    assert got_d == sorted(exp_pairs_d)
    assert got_m == sorted(exp_pairs_m)
    assert got_t == sorted(exp_triples)

    audit_d = {
        (r["basket"], r["basket_n"])
        for r in oversized_baskets(df, "basket", "item", cap, distinct=True).collect()
    }
    exp_audit_d = {
        (b, len(set(items)))
        for b, items in baskets.items()
        if len(set(items)) > cap
    }
    assert audit_d == exp_audit_d
    audit_m = {
        (r["basket"], r["basket_n"])
        for r in oversized_baskets(df, "basket", "item", cap, distinct=False).collect()
    }
    exp_audit_m = {
        (b, len(items)) for b, items in baskets.items() if len(items) > cap
    }
    assert audit_m == exp_audit_m


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=300),
    n_chunks=st.integers(min_value=1, max_value=5),
    k=st.integers(min_value=2, max_value=8),
)
def test_streaming_mg_merge_guarantees_any_chunking(keys, n_chunks, k):
    """The streaming MG state's pure merge core (value_counts per chunk +
    subtract-min eviction) under ARBITRARY chunk boundaries: (1) no key
    with true count > n/(k+1) is ever evicted, (2) every surviving weight
    lower-bounds the true count, (3) the state never exceeds k counters
    after a merge — the invariants streaming_heavy_hitters_check certifies
    on TESTDATA, here pinned on adversarial streams."""
    import pandas as pd

    from kol_bigdata_realtime_analytics_spark.streaming.heavy_hitters import _evict

    bounds = sorted(
        {0, len(keys)} | set(range(0, len(keys), max(1, len(keys) // n_chunks)))
    )
    chunks = [keys[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    counters: dict = {}
    for chunk in chunks:
        for u, c in pd.Series(chunk).value_counts().items():
            counters[int(u)] = counters.get(int(u), 0) + int(c)
        counters = _evict(counters, k)
        assert len(counters) <= k

    true_counts: dict = {}
    for u in keys:
        true_counts[u] = true_counts.get(u, 0) + 1
    n = len(keys)
    for u, c in true_counts.items():
        if c * (k + 1) > n:
            assert u in counters, f"heavy key {u} (count {c}/{n}) evicted"
    for u, w in counters.items():
        assert w <= true_counts[u], "MG weight must lower-bound the true count"


@settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(st.integers(min_value=0, max_value=10**7), min_size=1, max_size=300),
    n_chunks=st.integers(min_value=1, max_value=6),
)
def test_streaming_approx_distinct_chunking_invariance(keys, n_chunks):
    """The streaming HLL state's pure core (max-fold of the deterministic
    hash) is bit-identical under ARBITRARY chunk boundaries AND arbitrary
    duplication — the property that makes streaming_approx_distinct
    hash-oracle-able where the MG candidate set is rows-only. Also pins
    that the one-shot fold over the distinct key set (the oracle's
    formulation) yields the same registers."""
    from kol_bigdata_realtime_analytics_spark.streaming.approx_distinct import (
        M_REGISTERS,
        _reg_rho_py,
    )

    def fold(regs, ks):
        for u in ks:
            reg, rho = _reg_rho_py(int(u))
            if rho > regs[reg]:
                regs[reg] = rho
        return regs

    bounds = sorted(
        {0, len(keys)} | set(range(0, len(keys), max(1, len(keys) // n_chunks)))
    )
    chunks = [keys[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    chunked = [0] * M_REGISTERS
    for ch in chunks:
        chunked = fold(chunked, ch)
    oneshot = fold([0] * M_REGISTERS, sorted(set(keys)))
    assert chunked == oneshot
    assert all(0 <= r <= 29 for r in chunked)


def test_approx_distinct_hash_three_way_parity():
    """The 32-bit hash/register/rho triple computed by the Python state fn
    (what the streaming query runs) and by the DuckDB SQL (what its oracle
    runs) must agree bit-for-bit — this is what lets the STREAMING query
    carry a full hash oracle."""
    import duckdb

    from kol_bigdata_realtime_analytics_spark.streaming.approx_distinct import (
        _reg_rho_py,
        hash_sql,
    )

    ids = [0, 1, 2, 7, 15, 16, 255, 9999, 123456, 10**7, 2**31 - 1]
    py = [(u, *_reg_rho_py(u)) for u in ids]
    reg_sql, rho_sql = hash_sql("u")
    con = duckdb.connect()
    duck = con.execute(
        f"SELECT u, {reg_sql}, {rho_sql} FROM (SELECT unnest({ids}) AS u)"
    ).fetchall()
    assert py == [tuple(r) for r in duck]


@settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    bins=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=400),
    n_chunks=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=10**6),
)
def test_streaming_quantile_histogram_chunking_invariance(bins, n_chunks, seed):
    """The streaming quantile state's pure core (per-bin integer count
    fold) is bit-identical under ARBITRARY chunk boundaries AND arbitrary
    within-stream permutation — addition is associative and commutative —
    so streaming_quantile_sketch's full hash oracle is sound whatever the
    micro-batch/Arrow chunking. Also pins the state bound: exactly N_BINS
    counters whatever the stream length."""
    import random

    from kol_bigdata_realtime_analytics_spark.streaming.quantiles import (
        N_BINS,
        fold_bins,
    )

    whole = fold_bins([bins])
    bounds = sorted(
        {0, len(bins)} | set(range(0, len(bins), max(1, len(bins) // n_chunks)))
    )
    shuffled = list(bins)
    random.Random(seed).shuffle(shuffled)
    chunks = [shuffled[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]
    assert fold_bins(chunks) == whole
    assert len(whole) == N_BINS
    assert sum(whole) == len(bins)
