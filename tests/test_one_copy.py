"""One definition per shared shape: each routine the HNSW, top-k,
bucket-dedup and bounded-stream families share, and each oracle fragment
several DuckDB oracles share, is written once in the engine, so no test
has to catch copies drifting apart. Runs no Spark."""

from __future__ import annotations

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
