"""One definition per shared shape: each routine the HNSW, top-k,
bucket-dedup and bounded-stream families share, each oracle fragment
several DuckDB oracles share, and each fuzzy-dedup signature builder
(one MinHash family, one SimHash family) is written once in the engine,
so no test has to catch copies drifting apart. One implementation per
operator: every engine function has a runner, and COVERAGE.md cites
only definitions and tests that exist. Runs no Spark."""

from __future__ import annotations

import ast
import os
import re

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


#: Engine entry points that no registered query, serving call, benchmark
#: or script reaches, each with the test that runs its real contract:
#: deployment wiring (sinks, DDL, maintenance) and Python reference models.
_TEST_RUN = {
    "write_stream_to_ranking": "tests/test_serving.py::test_stream_to_ranking_e2e",
    "idempotent_foreach_batch":
        "tests/test_streaming.py::test_idempotent_foreach_batch_skips_redelivery",
    "persist_index_artifacts":
        "tests/test_operators.py::test_index_persistence_survives_a_fresh_session",
    "minhash_lsh_skipped_buckets": "tests/test_operators.py::test_lsh_hot_bucket_guard",
    "simhash_skipped_buckets": "tests/test_operators.py::test_lsh_hot_bucket_guard",
    "compact_partitions":
        "tests/test_sources_ml.py::test_compact_partitions_reduces_file_count",
    "merge_upsert_sql": "tests/test_sources_ml.py::test_merge_upsert_sql_generation",
    "create_table_ddl": "tests/test_medallion.py::test_envelope_ddl_generated",
    "fold_bins":
        "tests/test_properties.py::test_streaming_quantile_histogram_chunking_invariance",
    "build_dim_time": "tests/test_medallion.py::test_dim_time",
    "products_from_tiktok": "tests/test_medallion.py::test_tiktok_silver_and_product_slice",
}

_PKG_REL = "kol_bigdata_realtime_analytics_spark/"


def _refs(nodes) -> set[str]:
    """Names, attribute names and imported names under `nodes` (strings
    do not count)."""
    out = set()
    for n in nodes:
        for x in ast.walk(n):
            if isinstance(x, ast.Name):
                out.add(x.id)
            elif isinstance(x, ast.Attribute):
                out.add(x.attr)
            elif isinstance(x, ast.alias):
                out |= {x.asname or x.name, x.name.rsplit(".", 1)[-1]}
    return out


def _reach(defs: dict[str, list], roots: set[str]) -> set[str]:
    """Names reached from `roots`, following every definition's body (a
    name shared by two definitions reaches both)."""
    reached, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += _refs(defs.get(name, []))
    return reached


def _test_node(trees, cite: str) -> ast.FunctionDef | None:
    """The test function a `tests/file.py::name` citation names, if any."""
    rel, name = cite.split("::")
    body = trees[rel].body if rel in trees else []
    return next(
        (n for n in body if isinstance(n, ast.FunctionDef) and n.name == name), None
    )


def test_every_function_has_a_runner():
    """Every module-level function and class of the package is reached
    from a root: a registered query, package module-level code (imports
    included), the public serving.py API, or anything in perfbench/,
    scripts/, bench.py and __spark_entry__.py; reaching follows names,
    attributes and imports, not strings. A definition only a test reaches
    must be in _TEST_RUN with the test that runs it; an entry that
    something else reaches, or that no longer exists, is stale."""
    trees = _trees()
    defs: dict[str, list] = {}
    where: dict[str, str] = {}
    roots: set[str] = set()
    for rel, tree in trees.items():
        if rel.startswith("tests/"):
            continue
        if not rel.startswith(_PKG_REL):
            roots |= _refs([tree])
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                roots |= _refs([node])
                continue
            defs.setdefault(node.name, []).append(node)
            where[node.name] = rel
            registered = any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                for d in node.decorator_list
            )
            public = rel == _PKG_REL + "serving.py" and not node.name.startswith("_")
            if registered or public:
                roots.add(node.name)
            # decorators and default values run at import time
            roots |= _refs(node.decorator_list)
            if not isinstance(node, ast.ClassDef):
                roots |= _refs(node.args.defaults + [d for d in node.args.kw_defaults if d])
    without = _reach(defs, roots)
    reached = _reach(defs, roots | set(_TEST_RUN))
    unreached = sorted(f"{where[n]}:{n}" for n in defs if n not in reached)
    assert not unreached, f"{len(unreached)} definitions have no runner: {unreached}"
    stale = sorted(n for n in _TEST_RUN if n not in defs or n in without)
    assert not stale, f"_TEST_RUN entries reached otherwise or gone: {stale}"
    for name, cite in _TEST_RUN.items():
        node = _test_node(trees, cite)
        assert node is not None, f"{name}: {cite} does not exist"
        assert re.search(rf"\b{name}\b", ast.unparse(node)), f"{cite} never names {name}"


#: Engine functions deleted as siblings of the form a query runs, or as
#: deployment code that nothing ran. The second set are also output
#: column names, so only a call or a qualified mention counts there.
_DELETED = (
    "as_of_join", "as_of_join_pandas", "pca_project_udf", "word_shingles",
    "parse_wire", "reg_rho_cols", "hash32_col", "foreach_partition_kv_sink",
    "cassandra_sink_writer", "await_any", "write_bronze", "ensure_table",
    "build_dim_platform", "envelope_ddl", "_spark_type_to_ddl", "read_batch",
    "read_stream", "write_batch", "write_stream", "pagerank", "DAMPING",
)
_DELETED_COLUMN_NAMED = ("dup_token_ratio", "top_token_ratio", "dup_bigram_ratio", "bigrams")


def test_no_package_text_names_a_deleted_function():
    """Docstrings and comments must not send a reader to a function that
    is gone."""
    pattern = re.compile(
        r"\b(" + "|".join(_DELETED) + r")\b"
        r"|(\.|\b)(" + "|".join(_DELETED_COLUMN_NAMED) + r")\("
        r"|\.(" + "|".join(_DELETED_COLUMN_NAMED) + r")\b"
    )
    hits = [
        f"{path}:{i}: {line.strip()}"
        for path, src in _sources().items()
        for i, line in enumerate(src.splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, hits


def _module_names(body) -> set[str]:
    """Names a module binds at import time: its functions, classes and
    assigned names, including those bound inside a module-level if/try."""
    out = set()
    for n in body:
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.add(n.name)
        elif isinstance(n, ast.Assign):
            out |= {t.id for t in n.targets if isinstance(t, ast.Name)}
        elif isinstance(n, (ast.If, ast.Try)):
            handlers = [h for x in getattr(n, "handlers", []) for h in x.body]
            out |= _module_names(
                n.body + n.orelse + handlers + getattr(n, "finalbody", [])
            )
    return out


def _coverage_rows() -> list[tuple[int, str]]:
    with open(os.path.join(REPO, "COVERAGE.md")) as fh:
        return [
            (i, line)
            for i, line in enumerate(fh, 1)
            if line.startswith("|") and not re.match(r"\|\s*-", line)
        ]


def test_coverage_cites_what_exists():
    """Every COVERAGE.md table row: each backticked `module.name` that
    points into the package (a path with a slash, or a top-level module)
    resolves to a module-level definition there, each backticked `x.py`
    package path exists, and each cited tests/*.py file exists and
    mentions at least one name of that row (a cited `file::test` must
    exist)."""
    trees = _trees()
    top = {
        rel[len(_PKG_REL):-3] for rel in trees
        if rel.startswith(_PKG_REL) and "/" not in rel[len(_PKG_REL):]
    }
    bad = []
    for i, line in _coverage_rows():
        names: set[str] = set()
        tests: list[str] = []
        for tok in re.findall(r"`([^`]+)`", line):
            tok = tok.split("(", 1)[0]
            cited = re.fullmatch(r"(?:tests/)?(test_\w+\.py(?:::\w+)?)", tok)
            if cited:
                tests.append("tests/" + cited.group(1))
                continue
            if re.fullmatch(r"\w+", tok):
                names.add(tok)
                continue
            if ":" in tok or not re.fullmatch(r"\w[\w/]*(\.\w+)?", tok):
                continue
            if "/" not in tok and tok.split(".")[0] not in top:
                continue
            if tok.endswith(".py"):
                if _PKG_REL + tok not in trees:
                    bad.append(f"line {i}: no package file {tok}")
                continue
            mod, _, name = tok.rpartition(".") if "." in tok else (tok, "", "")
            tree = trees.get(_PKG_REL + mod + ".py")
            if tree is None:
                bad.append(f"line {i}: no package module {mod}")
                continue
            if name:
                names.add(name)
                if name not in _module_names(tree.body):
                    bad.append(f"line {i}: {mod} defines no {name}")
        for cite in tests:
            rel = cite.split("::")[0]
            if rel not in trees:
                bad.append(f"line {i}: no test file {rel}")
                continue
            if "::" in cite:
                if _test_node(trees, cite) is None:
                    bad.append(f"line {i}: no test {cite}")
                continue
            text = ast.unparse(trees[rel])
            if not any(re.search(rf"\b{n}\b", text) for n in names):
                bad.append(f"line {i}: {rel} mentions none of {sorted(names)}")
    assert not bad, bad


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
