"""The session artifact cache (kol_bigdata_realtime_analytics_spark/artifacts.py):
every memo site keys by data identity, the cache is the only module-level
memo in the engine, and the bench's cache scan still empties it."""

from __future__ import annotations

import importlib
import os
import re
import shutil
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from kol_bigdata_realtime_analytics_spark import artifacts
from kol_bigdata_realtime_analytics_spark.plans import REGISTRY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "kol_bigdata_realtime_analytics_spark")


@pytest.mark.parametrize(
    "query, table, id_col",
    [
        ("knn_graph_build", "embeddings", "vec_id"),
        ("hnsw_layer_graphs", "embeddings", "vec_id"),
        ("quality_classifier_train", "documents", "doc_id"),
    ],
)
def test_regenerated_input_rebuilds_frame_artifact(
    spark, sf_small, tmp_path, query, table, id_col
):
    """A parquet regenerated in place within a session must rebuild the
    cached frame artifact: the second run equals a cold run after clear(),
    never the first run's stale artifact."""
    path = str(tmp_path / f"{table}.parquet")
    shutil.copy(os.path.join(sf_small, f"{table}.parquet"), path)
    fn = REGISTRY[query].fn

    def run():
        return sorted(map(tuple, fn(spark, str(tmp_path)).collect()))

    first = run()
    # regenerate in place: drop every fourth row, so the data really differs
    t = pq.read_table(path)
    pq.write_table(t.filter(pc.not_equal(pc.bit_wise_and(t[id_col], 3), 0)), path)
    second = run()
    artifacts.clear()
    cold = run()
    assert cold != first  # the regeneration changes the result
    assert second == cold


def test_no_other_module_level_cache():
    """The artifact cache is the engine's only module-level `_*_CACHE`."""
    found = []
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p) as fh:
                    for line in fh:
                        if re.match(r"_[A-Z_]+_CACHE", line):
                            found.append((os.path.relpath(p, PKG), line.split(":")[0]))
    assert found == [("artifacts.py", "_ARTIFACT_CACHE")]


def test_perfbench_cache_scan_empties_the_artifact_cache():
    """perfbench's batch_mix clears caches by scanning engine modules for
    `_*_CACHE` attributes; the artifact cache must be one it finds."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    try:
        querymix = importlib.import_module("querymix")
    finally:
        sys.path[:] = saved
    artifacts.cached("fence", "fence-tag", (), lambda: [1.0])
    assert artifacts._ARTIFACT_CACHE
    assert querymix.clear_artifact_caches() >= 1
    assert not artifacts._ARTIFACT_CACHE


def test_hits_hand_out_copies_and_count(spark):
    """Nested lists come back as fresh copies, numpy arrays read-only and
    shared, DataFrames shared; lookups are counted per kind."""
    import numpy as np

    artifacts.clear()
    h0, m0 = artifacts.hits["t_list"], artifacts.misses["t_list"]
    a = artifacts.cached("t_list", "tag", (), lambda: [[1.0, 2.0], [3.0]])
    a[0][0] = 9.0
    b = artifacts.cached("t_list", "tag", (), lambda: pytest.fail("rebuilt"))
    assert b == [[1.0, 2.0], [3.0]]
    assert (artifacts.hits["t_list"] - h0, artifacts.misses["t_list"] - m0) == (1, 1)
    x = artifacts.cached("t_np", "tag", (), lambda: np.zeros(3))
    assert not x.flags.writeable
    assert artifacts.cached("t_np", "tag", (), lambda: None) is x
    df = spark.range(3)
    assert artifacts.cached("t_df", "tag", (), lambda: (df, {1: 2}))[0] is df
    # source None bypasses: nothing is stored, the build's own value returns
    y = artifacts.cached("t_np", None, (), lambda: np.ones(2))
    assert y.flags.writeable
    # different params are a different entry
    assert artifacts.cached("t_list", "tag", (1,), lambda: [0]) == [0]
    artifacts.clear()
    assert not artifacts._ARTIFACT_CACHE
