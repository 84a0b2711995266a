"""Streaming heavy hitters with BOUNDED state: bucket-sharded Misra-Gries
summaries maintained by applyInPandasWithState.

The batch form (operators/sketch.misra_gries_candidates) bounds memory per
PARTITION; the streaming form must bound memory per KEY'S STATE across an
unbounded stream, so keys are sharded into a fixed number of hash buckets
and each bucket's GroupState holds at most k weighted counters — total
state is O(n_buckets * k) at ANY stream length, the property that lets the
operator run forever. The MG merge guarantee carries over per bucket: a key
whose count within its bucket exceeds n_bucket/(k+1) cannot be evicted from
that bucket's summary, so the emitted candidates are a superset of the true
per-bucket heavy hitters (certified hash-exactly by
streaming_heavy_hitters_check).

Reference seam: the reference's streaming jobs keep per-key velocity state
(streaming/spark_jobs/features_stream.py) but have no bounded-memory
frequent-items operator; this is the Space-Saving/Misra-Gries layout a
100 TB stream needs (counters per shard, mergeable, no false negatives).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

#: Counters per bucket summary and buckets (stateful shards) of the stream.
MG_K = 8
MG_BUCKETS = 8

OUTPUT_SCHEMA = "bucket long, candidate_key long, mg_weight long"
STATE_SCHEMA = "keys array<long>, counts array<long>"


def _evict(counters: dict, k: int) -> dict:
    """Misra-Gries subtract-the-min rounds until <= k counters survive."""
    while len(counters) > k:
        m = min(counters.values())
        counters = {u: c - m for u, c in counters.items() if c > m}
    return counters


def _mg_fn_factory(k: int):
    def fn(key, pdfs, state):
        counters: dict = {}
        if state.exists:
            ks, cs = state.get
            counters = dict(zip(ks, cs))
        for pdf in pdfs:
            for u, c in pdf["hot_key"].value_counts().items():
                counters[int(u)] = counters.get(int(u), 0) + int(c)
            # evict per Arrow chunk, same as the batch operator: state never
            # exceeds k + chunk-distinct keys even mid-merge
            counters = _evict(counters, k)
        state.update((list(counters.keys()), list(counters.values())))
        items = sorted(counters.items())
        yield pd.DataFrame(
            {
                "bucket": [int(key[0])] * len(items),
                "candidate_key": [u for u, _ in items],
                "mg_weight": [c for _, c in items],
            }
        )

    return fn


def mg_heavy_hitters_stream(keyed: DataFrame) -> DataFrame:
    """Streaming MG candidates over a frame with a `hot_key` long column.

    Each micro-batch updates the per-bucket summaries and emits the current
    candidate set (update semantics: downstream sinks upsert on
    (bucket, candidate_key)). The shuffle per batch moves events once
    (groupBy bucket); emitted rows are <= MG_BUCKETS * MG_K per batch.
    """
    bucketed = keyed.select(
        F.col("hot_key").cast("long").alias("hot_key"),
        F.pmod(F.col("hot_key"), F.lit(MG_BUCKETS)).cast("long").alias("bucket"),
    )
    return bucketed.groupBy("bucket").applyInPandasWithState(
        _mg_fn_factory(MG_K),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
