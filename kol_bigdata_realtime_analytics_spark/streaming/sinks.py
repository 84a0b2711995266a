"""Streaming sinks — exactly-once-ish upserts WITHOUT driver collect.

The reference's Redis sink collects every micro-batch to the driver then
pipelines HSETs (reference trending_stream.py:298-363 via `.collect()` at
:315) — a driver OOM at any real scale. The engine pattern:

- `foreach_batch_ranking_sink`: per trigger, compute the SMALL top-k ranking
  (executor-side aggregation; only k rows ever move) and rewrite a serving
  parquet table with it, the pre-materialized "ZSET" the serving layer reads.
  The rewrite is NOT atomic: `write.mode("overwrite")` deletes the table's
  files and then writes new ones, so a concurrent reader can find no files
  or vanished ones (FILE_NOT_EXIST; 4-10 of 49 concurrent reads failed per
  hot-path run). ROADMAP direction 4 replaces it with immutable
  per-epoch snapshots behind a commit log.
- `foreach_partition_kv_sink`: when an external KV store (Redis/Cassandra) IS
  configured, write per-PARTITION from executors (connection per partition,
  pipelined), never via the driver. The client factory is injected so tests
  use a plain dict and production passes a redis/cassandra client builder —
  and the engine stays import-clean when those libs are absent.
- `run_to_memory`: the one runner for a BOUNDED stream into a memory sink
  (the pattern every registered streaming query and the tests use).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a bounded stream to a memory sink named `name` and return the
    materialized table: stop a leftover query of that name (idempotent
    re-runs), start, processAllAvailable, stop. For bounded sources (a
    file dir) this makes a streaming query synchronous, as registered
    queries and tests need; production swaps the sink for foreachBatch
    and the trigger for processingTime, with the lineage above the sink
    unchanged.

    state_partitions: for stateful sketch streams whose key domain is a
    LITERAL small set (event_type ~6 values, bucket = N_BUCKETS), the
    state shuffle gets that many partitions instead of the session
    default — sized by KEY CARDINALITY, not cluster cores, so the setting
    is right at any scale (32+ state-store partitions for 6 keys pays
    per-partition store commit/fsync overhead for empty partitions every
    micro-batch; measured 2.9 s -> 1.9 s on streaming_quantile_sketch,
    interleaved A/B, results identical — integer state folds are
    partition-count-invariant). The streaming query fixes the value at
    START, so the conf is restored immediately after."""
    spark = df.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    old_parts = None
    if state_partitions is not None:
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    finally:
        if old_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def foreach_batch_ranking_sink(
    out_path: str,
    score_col: str,
    key_cols: list[str],
    k: int = 100,
):
    """Returns a foreachBatch fn that overwrites out_path with the batch's
    top-k ranking each trigger. Not atomic for concurrent readers."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        ranked = (
            batch_df.orderBy(F.col(score_col).desc(), *[F.col(c) for c in key_cols])
            .limit(k)
            .withColumn("epoch_id", F.lit(epoch_id))
        )
        # delete-then-write, not a swap: readers can catch it half-done
        # (see the module docstring)
        ranked.write.mode("overwrite").parquet(out_path)

    return sink


def foreach_partition_kv_sink(
    client_factory: Callable[[], dict],
    key_fn: Callable[[dict], str],
    ttl_seconds: int | None = None,
):
    """Returns a foreachBatch fn that writes rows partition-wise to a KV store.

    client_factory runs ON THE EXECUTOR (once per partition) — e.g.
    `lambda: redis.Redis(host=...)`. For tests it can return any
    MutableMapping. TTL is passed through when the client supports expire().
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        def write_partition(rows: Iterator) -> None:
            client = client_factory()
            use_expire = ttl_seconds is not None and hasattr(client, "expire")
            for row in rows:
                d = row.asDict()
                key = key_fn(d)
                if hasattr(client, "hset"):
                    client.hset(key, mapping={k: str(v) for k, v in d.items()})
                    if use_expire:
                        client.expire(key, ttl_seconds)
                else:
                    client[key] = d
        batch_df.rdd.foreachPartition(write_partition)

    return sink


def idempotent_foreach_batch(sink_fn, ledger_path: str):
    """Exactly-once wrapper for any foreachBatch sink against a
    NON-transactional target (KV store, plain parquet dir, HTTP push).

    Structured Streaming's contract is at-least-once per micro-batch: after
    a checkpoint recovery the LAST batch is re-delivered with the SAME
    epoch_id. Transactional sinks dedupe on (checkpointLocation, epoch_id)
    themselves; everything else must skip re-deliveries or double-write.
    This wrapper keeps a ledger of committed epochs as empty marker files
    (`{ledger}/epoch=<id>` — created atomically AFTER sink_fn returns, the
    same commit-marker idiom as Spark's own file sink _spark_metadata):

    - marker exists  -> re-delivered batch, skip sink_fn entirely;
    - sink_fn raises -> no marker, the retry re-runs it (at-least-once
      inside the wrapper; sink_fn itself should be per-key upsert-style so
      a partial first attempt is absorbed by the retry).

    The ledger directory is per-query (pass a path under the query's
    checkpoint dir). Marker creation is a single O(1) driver-side touch —
    no data moves through the driver."""
    import os

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        os.makedirs(ledger_path, exist_ok=True)
        marker = os.path.join(ledger_path, f"epoch={int(epoch_id)}")
        if os.path.exists(marker):
            return  # re-delivered after recovery: already committed
        sink_fn(batch_df, epoch_id)
        with open(marker, "w"):
            pass
        # only the LAST committed epoch can ever be re-delivered — older
        # markers are dead weight that would grow one file per trigger
        # forever (r7 review). Keep a small window for paranoia.
        floor = int(epoch_id) - 128
        if floor > 0:
            for name in os.listdir(ledger_path):
                if name.startswith("epoch=") and int(name[6:]) < floor:
                    os.remove(os.path.join(ledger_path, name))

    return sink


def cassandra_sink_writer(df: DataFrame, keyspace: str, table: str, checkpoint: str):
    """S15: Cassandra stream sink (reference features_stream.py:124-132).

    Requires the spark-cassandra-connector on the classpath — absent in this
    container, so this only BUILDS the writer; .start() is the caller's call.
    """
    return (
        df.writeStream.format("org.apache.spark.sql.cassandra")
        .option("keyspace", keyspace)
        .option("table", table)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )


def await_any(spark, timeout_seconds: float | None = None) -> bool:
    """R11: block until ANY active streaming query terminates (the reference
    runs two sinks off one computation — features_stream.py:164-175)."""
    if timeout_seconds is None:
        spark.streams.awaitAnyTermination()
        return True
    return spark.streams.awaitAnyTermination(timeout_seconds * 1000)


def write_stream_to_ranking(
    scored: DataFrame,
    out_path: str,
    checkpoint: str,
    score_col: str = "trending_score",
    key_cols: list[str] | None = None,
    trigger_seconds: int = 30,
    query_name: str = "ranking_sink",
):
    """Wire a scored streaming DataFrame into the ranking sink (complete mode:
    each trigger re-emits the full standings, the sink keeps top-k)."""
    return (
        scored.writeStream.outputMode("complete")
        .foreachBatch(foreach_batch_ranking_sink(out_path, score_col, key_cols or ["key"]))
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .queryName(query_name)
        .start()
    )
