"""One definition per shared shape: each routine the HNSW, top-k,
bucket-dedup and bounded-stream families share, each oracle fragment
several DuckDB oracles share, and each fuzzy-dedup signature builder
(one MinHash family, one SimHash family) is written once in the engine,
so no test has to catch copies drifting apart. Runs no Spark."""

from __future__ import annotations

import ast
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "kol_bigdata_realtime_analytics_spark")


def _sources() -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p) as fh:
                    out[os.path.relpath(p, PKG)] = fh.read()
    return out


@pytest.mark.parametrize(
    "shape, home",
    [
        # the HNSW beam hop (hnsw_search._descend)
        ("eager=(_h % 2 == 1)", "plans/hnsw_search.py"),
        # the per-query top-k rank rule (similarity.rank_topk)
        (
            'Window.partitionBy("q_id").orderBy('
            'F.col("cosine").desc(), F.col("c_id").asc())',
            "operators/similarity.py",
        ),
        # the in-bucket pair expansion (dedup._bucket_pairs)
        ('F.sequence(F.lit(0), F.size(F.col("ds")) - 2)', "operators/dedup.py"),
        # the SimHash per-bit majority vote (dedup.simhash_signature)
        ('cnt * 2 > F.col("n")', "operators/dedup.py"),
        # the MinHash lane-min aggregation (dedup.minhash_signature)
        ('*[F.min(f"', "operators/dedup.py"),
        # the trust-score oracle expression (ml._TRUST_SCORE_SQL)
        ("+ 1.2 * CASE WHEN verified THEN 1.0 ELSE 0.0 END", "plans/ml.py"),
        # the exact-cosine top-k oracle CTE (llm_ops._exact_topk_cte)
        ("ROUND(list_dot_product(q0.q_vec, b.vec)", "plans/llm_ops.py"),
        # the exact incremental-dedup anti-join oracle (llm_ops._INCREMENTAL_ORACLE)
        ("FROM batch b LEFT JOIN corpus c ON b.fingerprint = c.fingerprint", "plans/llm_ops.py"),
    ],
)
def test_shape_written_once(shape, home):
    found = [
        (path, src.count(shape)) for path, src in _sources().items() if shape in src
    ]
    assert found == [(home, 1)]


@pytest.mark.parametrize(
    "path", ["plans/streaming_queries.py", "streaming/trending.py"]
)
def test_bounded_streams_go_through_the_one_runner(path):
    """Bounded streams run to memory only through sinks.run_to_memory."""
    with open(os.path.join(PKG, path)) as fh:
        src = fh.read()
    assert '.format("memory")' not in src
    assert "run_to_memory(" in src


#: Modules holding deployment settings or outside request input: their
#: options stay configurable, so the census below skips them.
_CONFIGURABLE = (
    "sources/", "serving.py", "streaming/sinks.py", "session.py", "operators/index_store.py",
)
#: Options a benchmark file passes at their default value. Benchmark files
#: do not change, so these stay.
_BENCH_PINNED = {
    f"streaming/trending.py:windowed_engagement({p})"
    for p in ("ts_col", "key_col", "value_col", "window_duration", "watermark")
}


def _trees() -> dict[str, ast.Module]:
    """Every Python file that can call into the engine, by repo-relative path."""
    paths = [os.path.join(REPO, f) for f in ("bench.py", "__spark_entry__.py")]
    for d in ("kol_bigdata_realtime_analytics_spark", "tests", "scripts", "perfbench"):
        for root, _, files in os.walk(os.path.join(REPO, d)):
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    out = {}
    for p in paths:
        with open(p) as fh:
            out[os.path.relpath(p, REPO)] = ast.parse(fh.read())
    return out


def _module(rel: str) -> str:
    return rel[:-3].replace("/", ".").removesuffix(".__init__")


def _literals(tree: ast.Module) -> dict[str, str]:
    """Module-level names bound to a literal (NAME = 3, A, B = 1, 2)."""
    out = {}
    for node in tree.body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            target, value = node.targets[0], node.value
            pairs = (
                zip(target.elts, value.elts)
                if isinstance(target, ast.Tuple) and isinstance(value, ast.Tuple)
                else [(target, value)]
            )
            for name, val in pairs:
                try:
                    out[name.id] = repr(ast.literal_eval(val))
                except (AttributeError, ValueError, TypeError, SyntaxError):
                    pass
    return out


def test_every_option_has_a_caller():
    """An optional parameter of an engine function must be passed a
    non-default value by some call site in the repo; otherwise it is a
    constant wearing an option's clothes and its default belongs in the
    body. Call sites are matched by function name (a name shared by two
    functions pools their calls, which can only hide a hit); a call with
    *args or **kwargs counts as passing everything. Names bound to a
    literal at module level, or imported from a module that binds them,
    compare by value."""
    trees = _trees()
    literals = {_module(rel): _literals(t) for rel, t in trees.items()}

    def value(node, rel):
        try:
            return repr(ast.literal_eval(node))
        except (ValueError, TypeError, SyntaxError):
            pass
        if isinstance(node, ast.Name):
            here = literals[_module(rel)]
            if node.id in here:
                return here[node.id]
            for imp in ast.walk(trees[rel]):
                if isinstance(imp, ast.ImportFrom) and imp.module in literals:
                    for alias in imp.names:
                        if (alias.asname or alias.name) == node.id:
                            return literals[imp.module].get(alias.name, ast.dump(node))
        return ast.dump(node)

    calls: dict[str, list] = {}
    for rel, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                calls.setdefault(name, []).append((rel, node))

    hits = []
    for rel, tree in trees.items():
        sub = rel.removeprefix("kol_bigdata_realtime_analytics_spark/")
        if sub == rel or sub.startswith(_CONFIGURABLE):
            continue
        for owner in ast.walk(tree):
            for fn in ast.iter_child_nodes(owner):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                a = fn.args
                pos = a.posonlyargs + a.args
                skip = 1 if isinstance(owner, ast.ClassDef) else 0
                first = len(pos) - len(a.defaults)
                opts = [(p.arg, i - skip, d) for i, (p, d) in enumerate(
                    zip(pos[first:], a.defaults), first)]
                opts += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
                for param, idx, default in opts:
                    want = value(default, rel)
                    varies = False
                    for crel, call in calls.get(fn.name, []):
                        if any(isinstance(x, ast.Starred) for x in call.args) or any(
                            k.arg is None for k in call.keywords
                        ):
                            varies = True
                            break
                        got = [k.value for k in call.keywords if k.arg == param]
                        if not got and idx is not None and idx < len(call.args):
                            got = [call.args[idx]]
                        if got and value(got[0], crel) != want:
                            varies = True
                            break
                    tag = f"{sub}:{fn.name}({param})"
                    if not varies and tag not in _BENCH_PINNED:
                        hits.append(tag)
    assert not hits, f"{len(hits)} options only ever receive their default: {hits}"


def test_ranking_sink_never_deletes_before_it_writes():
    """The ranking sink publishes each epoch with one rename; Spark's
    overwrite mode (delete the served files, then write) must not come
    back, or every read that overlaps a write finds no files."""
    with open(os.path.join(PKG, "streaming/sinks.py")) as fh:
        assert 'write.mode("overwrite")' not in fh.read()


def test_minhash_oracle_shingles_follow_shingle_n(monkeypatch):
    """The MinHash oracle builds its shingles from SHINGLE_N, the constant
    dedup.minhash_signature reads, so the two cannot drift apart."""
    from kol_bigdata_realtime_analytics_spark.plans import llm_ops

    monkeypatch.setattr(llm_ops, "SHINGLE_N", 4)
    cte = llm_ops._minhash_band_ctes()
    assert (
        "concat_ws('|', CAST(a.h AS VARCHAR), CAST(b.h AS VARCHAR), "
        "CAST(c.h AS VARCHAR), CAST(d.h AS VARCHAR))" in cte
    )
    joins = [ln.strip() for ln in cte.splitlines() if ln.strip().startswith("JOIN th ")]
    assert joins == [
        "JOIN th b ON b.doc = a.doc AND b.i = a.i + 1",
        "JOIN th c ON c.doc = a.doc AND c.i = a.i + 2",
        "JOIN th d ON d.doc = a.doc AND d.i = a.i + 3",
    ]
