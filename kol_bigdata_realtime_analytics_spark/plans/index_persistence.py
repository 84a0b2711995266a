"""Index-persistence round-trip certificate (r10 verdict ask #2): the
session caches' "built once and persisted beside the corpus" claim,
executed for real. `index_persistence_roundtrip_check` WRITES all six
index artifacts to parquet (operators/index_store), LOADS them back with
a plain parquet scan (no lineage to the builder — the path a fresh
session uses), and emits per-artifact content checksums computed from
the LOADED frames; the two incremental maintenance ops then re-run
AGAINST the loaded artifacts (`_hnsw_insert_from_base`,
`_dedup_incremental_core` with injected index frames) and are
checksummed the same way. The DuckDB oracle re-derives every expected
value independently from the source tables (and the offline quantizer
refit), so a hash-green row proves: persisted bytes == from-scratch
truth, and the loaded index drives identical maintenance decisions.
tests/test_r11_certificates.py adds the cross-process leg: one
subprocess session persists, a second bare-session subprocess loads and
probes.

Scale shape: the writes are one sequential parquet pass per artifact
(graph artifacts corpus-sized, quantizer k x dim); the read-back
checksums are single scans folding to one row each (bit_xor is
commutative — no ordering requirement on the scan); probe work is
batch-sized by construction of the ops under test.
"""

from __future__ import annotations

import functools
import hashlib
import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark.operators.index_store import (
    load_artifact,
)
from kol_bigdata_realtime_analytics_spark.plans.registry import (
    hash52,
    register,
    sql_hash52,
)


def _cks(df: DataFrame, key: Column, val: Column, artifact: str) -> DataFrame:
    """One-row content checksum: row count, bit_xor of the 52-bit row-key
    hash (order-free, overflow-free), and the integer value sum."""
    prep = df.select(hash52(key).alias("k"), val.cast("long").alias("v"))
    return prep.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.expr("bit_xor(k)").cast("long").alias("id_checksum"),
        F.coalesce(F.sum("v"), F.lit(0)).cast("long").alias("val_checksum"),
    ).select(
        F.lit(artifact).alias("artifact"), "n_rows", "id_checksum", "val_checksum"
    )


def _sql_cks(artifact: str, key_sql: str, val_sql: str, from_sql: str) -> str:
    return f"""
    SELECT '{artifact}' AS artifact, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor({sql_hash52(key_sql)}) AS BIGINT) AS id_checksum,
           CAST(COALESCE(SUM(CAST({val_sql} AS BIGINT)), 0) AS BIGINT)
             AS val_checksum
    FROM ({from_sql}) t"""


def _roundtrip_oracle(sf_dir: str) -> str:
    from kol_bigdata_realtime_analytics_spark.operators.similarity import (
        hash_sample_offline,
        kmeans_centroids,
    )
    from kol_bigdata_realtime_analytics_spark.plans.llm_ops import (
        _HNSW_BASE_SQL,
        _KNN_PROBE_BITS,
        _dedup_incremental_oracle,
        _hnsw_graph_oracle,
        _hnsw_insert_oracle,
        _hnsw_level_sql,
        _knn_oracle_base_sql,
        _minhash_band_ctes,
    )
    from kol_bigdata_realtime_analytics_spark.functions.text import (
        DOC_FINGERPRINT_ORACLE_SQL,
    )

    hbase = _HNSW_BASE_SQL.format(level=_hnsw_level_sql()).lstrip()
    knn_head = _knn_oracle_base_sql(sf_dir, _KNN_PROBE_BITS).format(q_where="")
    fp = DOC_FINGERPRINT_ORACLE_SQL.format(col="text")
    graph_key = (
        "CAST(level AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR) || '|' || "
        "CAST(neighbor_id AS VARCHAR) || '|' || CAST(rank AS VARCHAR)"
    )
    dedup_key = (
        "CAST(doc_id AS VARCHAR)"
        " || '|' || CAST(CAST(exact_dup_corpus AS INT) AS VARCHAR)"
        " || '|' || CAST(CAST(exact_dup_batch AS INT) AS VARCHAR)"
        " || '|' || CAST(CAST(fuzzy_dup_corpus AS INT) AS VARCHAR)"
        " || '|' || CAST(CAST(fuzzy_dup_batch AS INT) AS VARCHAR)"
        " || '|' || CAST(CAST(survives AS INT) AS VARCHAR)"
    )
    # the quantizer row: refit the identical artifact offline (the r10
    # artifact-refit discipline) and fold its checksums in Python — md5
    # twin of hash52, math.floor twin of floor() on bit-identical doubles
    cents = kmeans_centroids(
        None,
        n_centroids=8,
        sample=hash_sample_offline(sf_dir),
        cache_key=("offline", sf_dir),
    )
    ivf_n, ivf_id, ivf_val = 0, 0, 0
    for i, c in enumerate(cents):
        for j, v in enumerate(c):
            ivf_n += 1
            ivf_id ^= int(hashlib.md5(f"{i}|{j}".encode()).hexdigest()[:13], 16)
            ivf_val += math.floor(v * 1e9)
    rows = [
        _sql_cks(
            "hnsw_base",
            "CAST(vec_id AS VARCHAR) || '|' || CAST(level AS VARCHAR)",
            "floor(nrm * 1000000)",
            f"WITH {hbase} SELECT vec_id, level, nrm FROM hbase",
        ),
        _sql_cks(
            "hnsw_graph",
            graph_key,
            "floor(cosine * 1000000)",
            _hnsw_graph_oracle(sf_dir),
        ),
        _sql_cks(
            "knn_graph",
            "CAST(vec_id AS VARCHAR) || '|' || CAST(neighbor_id AS VARCHAR)"
            " || '|' || CAST(rank AS VARCHAR)",
            "floor(cosine * 1000000)",
            f"WITH {knn_head}\n"
            "SELECT q_id AS vec_id, c_id AS neighbor_id, cosine, rank FROM knn",
        ),
        _sql_cks(
            "dedup_fp",
            "fp",
            "0",
            f"SELECT DISTINCT {fp} AS fp FROM documents "
            "WHERE trim(COALESCE(text, '')) != '' AND doc_id % 10 <> 0",
        ),
        _sql_cks(
            "dedup_bands",
            "CAST(band AS VARCHAR) || '|' || CAST(bucket AS VARCHAR)",
            "0",
            f"WITH {_minhash_band_ctes('c', ' AND doc_id % 10 <> 0')} "
            "SELECT DISTINCT band, bucket FROM bandedc",
        ),
        f"""
    SELECT 'ivf_centroids' AS artifact, CAST({ivf_n} AS BIGINT) AS n_rows,
           CAST({ivf_id} AS BIGINT) AS id_checksum,
           CAST({ivf_val} AS BIGINT) AS val_checksum""",
        _sql_cks(
            "probe_hnsw_insert",
            graph_key,
            "floor(cosine * 1000000)",
            _hnsw_insert_oracle(sf_dir),
        ),
        _sql_cks(
            "probe_dedup_incremental",
            dedup_key,
            "CAST(survives AS INT)",
            _dedup_incremental_oracle(),
        ),
    ]
    return "\n    UNION ALL\n".join(rows)


@register("index_persistence_roundtrip_check", oracle=_roundtrip_oracle)
def index_persistence_roundtrip_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write -> load -> certify, in one registered run: persist all six
    index artifacts to parquet, read each back with a lineage-free scan,
    and emit (artifact, n_rows, id_checksum, val_checksum) computed from
    the LOADED frames; then drive hnsw_insert_batch's core from the
    loaded HNSW base and dedup_incremental_batch's probe path from the
    loaded fingerprint/band artifacts and checksum those results too.
    Every expected value is independently re-derived by the oracle from
    source data (plus the offline quantizer refit), so hash-green ==
    the persisted index round-trips bit-faithfully AND drives identical
    incremental maintenance — the production continuous-ingest contract."""
    from kol_bigdata_realtime_analytics_spark.operators.index_store import (
        persist_index_artifacts_async,
    )
    from kol_bigdata_realtime_analytics_spark.plans.llm_ops import (
        _dedup_incremental_core,
        _hnsw_insert_from_base,
    )

    # overlap EVERYTHING independent (guide §2.6): the six artifact
    # writes run on the store's 3-worker pool; as soon as an artifact's
    # write lands, its loaded-scan checksum (a one-row aggregate) is
    # EXECUTED on a second pool and pinned — and the two probe kernels,
    # which only need THEIR gating artifacts on disk, run the same way.
    # The returned frame is then a union of pinned one-row frames, so
    # write tails, artifact checksums and probe executions back-fill each
    # other's idle cores. Results are identical — this reorders
    # independent jobs, never the data (the r11 overlap, completed).
    from concurrent.futures import ThreadPoolExecutor

    c6 = F.lit(1000000)
    graph_key = F.concat_ws(
        "|", F.col("level"), F.col("vec_id"), F.col("neighbor_id"), F.col("rank")
    )
    bools = [
        "exact_dup_corpus",
        "exact_dup_batch",
        "fuzzy_dup_corpus",
        "fuzzy_dup_batch",
        "survives",
    ]
    dedup_key = F.concat_ws(
        "|", F.col("doc_id"), *[F.col(b).cast("int") for b in bools]
    )

    def _pinned_cks(name: str, key: Column, val: Column):
        df = _cks(load_artifact(spark, sf_dir, name), key, val, name)
        return df.localCheckpoint(eager=True)  # 1 row

    futures, pool = persist_index_artifacts_async(spark, sf_dir)
    cpool = ThreadPoolExecutor(max_workers=4)
    try:
        futures["hnsw_base"].result()
        lbase = load_artifact(spark, sf_dir, "hnsw_base").localCheckpoint(
            eager=True
        )
        cks_futs = {
            "hnsw_base": cpool.submit(
                lambda: _cks(
                    lbase,
                    F.concat_ws("|", F.col("vec_id"), F.col("level")),
                    F.floor(F.col("nrm") * c6),
                    "hnsw_base",
                ).localCheckpoint(eager=True)
            ),
            # insert probe: census collect + the fused kernel over lbase —
            # executes while the graph/knn/centroid writes finish
            "probe_hnsw_insert": cpool.submit(
                lambda: _cks(
                    _hnsw_insert_from_base(spark, lbase),
                    graph_key,
                    F.floor(F.col("cosine") * c6),
                    "probe_hnsw_insert",
                ).localCheckpoint(eager=True)
            ),
        }
        futures["dedup_fp"].result()
        futures["dedup_bands"].result()
        cks_futs["dedup_fp"] = cpool.submit(
            _pinned_cks, "dedup_fp", F.col("fp"), F.lit(0)
        )
        cks_futs["dedup_bands"] = cpool.submit(
            _pinned_cks,
            "dedup_bands",
            F.concat_ws("|", F.col("band"), F.col("bucket")),
            F.lit(0),
        )
        cks_futs["probe_dedup_incremental"] = cpool.submit(
            lambda: _cks(
                _dedup_incremental_core(
                    spark,
                    sf_dir,
                    load_artifact(spark, sf_dir, "dedup_fp"),
                    load_artifact(spark, sf_dir, "dedup_bands"),
                ),
                dedup_key,
                F.col("survives").cast("int"),
                "probe_dedup_incremental",
            ).localCheckpoint(eager=True)
        )
        futures["hnsw_graph"].result()
        cks_futs["hnsw_graph"] = cpool.submit(
            _pinned_cks, "hnsw_graph", graph_key, F.floor(F.col("cosine") * c6)
        )
        futures["knn_graph"].result()
        cks_futs["knn_graph"] = cpool.submit(
            _pinned_cks,
            "knn_graph",
            F.concat_ws("|", F.col("vec_id"), F.col("neighbor_id"), F.col("rank")),
            F.floor(F.col("cosine") * c6),
        )
        futures["ivf_centroids"].result()
        cks_futs["ivf_centroids"] = cpool.submit(
            _pinned_cks,
            "ivf_centroids",
            F.concat_ws("|", F.col("cent_id"), F.col("dim_idx")),
            F.floor(F.col("val") * F.lit(1000000000)),
        )
        for f in futures.values():
            f.result()
        # same output order as the sequential form
        order = [
            "hnsw_base",
            "hnsw_graph",
            "knn_graph",
            "dedup_fp",
            "dedup_bands",
            "ivf_centroids",
            "probe_hnsw_insert",
            "probe_dedup_incremental",
        ]
        parts = [cks_futs[n].result() for n in order]
    finally:
        cpool.shutdown(wait=True)
        pool.shutdown(wait=True)
    return functools.reduce(lambda a, b: a.unionByName(b), parts)
