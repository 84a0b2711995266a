"""The bench stdout contract line must fit the round driver's tail-capture
window (~2 KB, measured: BENCH_r04.json 2,189 B / r05 2,219 B). Overflowing
it cost rounds 4 AND 5 their official bench (`parsed: null`) — this fence
keeps the line bounded at ANY registry size."""

from __future__ import annotations

import json

import bench


def test_contract_line_bounded_at_any_registry_size():
    # 500 queries with adversarially long names, plus errors
    timings = {f"extremely_long_query_name_number_{i:04d}_with_suffix": i * 0.123 for i in range(500)}
    errors = {f"extremely_long_query_name_number_{i:04d}_with_suffix": "X" * 300 for i in range(200)}
    cold = {f"extremely_long_query_name_number_{i:04d}_with_suffix": i * 1.5 for i in range(100)}
    line = bench.contract_line(timings, errors, n_headline=700, sf=0.1, cold=cold)
    assert len(line) <= 1500, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall_sec"
    assert parsed["value"] > 0
    assert parsed["n_timed"] == 500
    assert parsed["n_errors"] == 200
    # top-10 slowest present and correctly ordered, in integer ms
    slow = parsed["slowest_ms"]
    assert len(slow) == 10
    vals = list(slow.values())
    assert vals == sorted(vals, reverse=True)
    assert all(isinstance(v, int) for v in vals)


def test_contract_line_no_queries_no_errors():
    line = bench.contract_line({}, {}, n_headline=0, sf=0.01)
    parsed = json.loads(line)
    assert parsed["value"] == 0
    assert parsed["slowest_ms"] == {}
    assert "error_names" not in parsed


def test_cold_warm_billing_split():
    # warm total bills the steady-state min; cold total swaps in each
    # cache-backed query's from-scratch run-1 wall (r10 verdict ask #1)
    timings = {"knn_graph_build": 0.016, "trending_scores": 1.3}
    cold = {"knn_graph_build": 7.54}
    parsed = json.loads(
        bench.contract_line(timings, {}, n_headline=2, sf=0.1, cold=cold)
    )
    assert parsed["headline_warm_sec"] == parsed["value"] == 1.316
    assert parsed["headline_cold_sec"] == 8.84


def test_forced_cold_names_are_registered():
    from kol_bigdata_realtime_analytics_spark.plans import REGISTRY

    missing = [n for n in bench._FORCED_COLD if n not in REGISTRY]
    assert not missing, missing
    # forced-cold queries are all in the headline set — cold billing only
    # exists for queries the bench actually runs
    assert not [n for n in bench._FORCED_COLD if n not in bench.HEADLINE]


def test_artifact_clear_empties_every_kind(spark, sf_small):
    """The bench's cold billing calls artifacts.clear(): it must drop an
    entry of every artifact kind — including the BPE merge table, which the
    former hand-kept clear-list missed."""
    from kol_bigdata_realtime_analytics_spark import artifacts
    from kol_bigdata_realtime_analytics_spark.plans.llm_ops import _bpe_merges

    kinds = {
        "sample", "kmeans", "pq", "pq_res", "pca", "opq_rot", "sample_offline",
        "pca_q", "bpe_merges", "knn_graph", "hnsw_build", "hnsw_descent",
        "quality_classifier",
    }
    artifacts.clear()
    _bpe_merges(spark, sf_small)  # a real merge-table entry
    for kind in kinds - {"bpe_merges"}:
        artifacts.cached(kind, "clear-test", (), lambda: [1.0])
    assert {k[0] for k in artifacts._ARTIFACT_CACHE} == kinds
    artifacts.clear()
    assert not artifacts._ARTIFACT_CACHE


def test_headline_names_are_registered():
    from kol_bigdata_realtime_analytics_spark.plans import REGISTRY

    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, missing
