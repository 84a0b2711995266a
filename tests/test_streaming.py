"""Structured Streaming tests: the streaming plan must equal batch semantics."""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark.streaming.sinks import foreach_batch_ranking_sink
from kol_bigdata_realtime_analytics_spark.streaming.trending import (
    run_trending_stream,
    scored,
    windowed_engagement,
)


@pytest.fixture(scope="module")
def event_rows():
    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(60):
        ts = base.replace(minute=i % 30, second=(i * 7) % 60)
        rows.append((i, ts, i % 5, "view", float(10 + i)))
    return rows


def test_streaming_equals_batch(spark, tmp_path, event_rows):
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    batch_df = spark.createDataFrame(event_rows, schema)
    src = str(tmp_path / "stream_src")
    batch_df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    stream_out = run_trending_stream(spark, stream, query_name="t_stream_eq_batch")
    batch_out = scored(windowed_engagement(batch_df))

    s = {tuple(r) for r in stream_out.collect()}
    b = {tuple(r) for r in batch_out.collect()}
    assert s == b
    assert len(s) > 0


def test_windowed_engagement_window_bounds(spark, event_rows):
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    df = spark.createDataFrame(event_rows, schema)
    out = windowed_engagement(df).select(
        F.col("w.start").alias("s"), F.col("w.end").alias("e")
    ).distinct().collect()
    for r in out:
        delta = r["e"] - r["s"]
        assert delta.total_seconds() == 300  # 5-minute windows
        assert r["s"].minute % 5 == 0 and r["s"].second == 0  # aligned


def test_interval_join_stream_equals_batch(spark, tmp_path):
    """Stream-stream interval join emits exactly the batch join's pair set."""
    from kol_bigdata_realtime_analytics_spark.streaming.joins import attribution_pairs

    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for u in range(3):
        for m in (0, 7, 20, 90):
            rows.append((eid, base.replace(hour=m // 60, minute=m % 60), u, "view", 1.0))
            eid += 1
        for m in (5, 12, 200):
            rows.append((eid, base.replace(hour=m // 60, minute=m % 60), u, "click", 1.0))
            eid += 1
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    batch_df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "ss_join_src")
    batch_df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    out = attribution_pairs(stream)
    q = out.writeStream.outputMode("append").format("memory").queryName("t_ssj").start()
    q.processAllAvailable()
    q.stop()
    got = {tuple(r) for r in spark.table("t_ssj").collect()}
    want = {tuple(r) for r in attribution_pairs(batch_df).collect()}
    assert got == want
    assert len(got) > 0
    # every gap respects the interval bound
    for _, gap_us in got:
        assert 0 < gap_us <= 2 * 3600 * 1_000_000


def test_full_outer_interval_join_emits_both_sides(spark, tmp_path):
    """FULL OUTER stream-stream interval join: each side's NULL-padded row
    emits exactly when the global watermark proves it closed — the view
    needs wm past view_ts + gap, the click needs wm past click_ts; rows
    near the stream's end stay in state and never emit."""
    from kol_bigdata_realtime_analytics_spark.streaming.joins import interval_join

    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: view with no click within 10 min -> unmatched view
        (0, base, 1, "view", 1.0),
        # user 2: click with no view in the preceding 10 min -> unmatched click
        (1, base.replace(minute=5), 2, "click", 1.0),
        # user 3: matched pair -> neither row emits as unmatched
        (2, base, 3, "view", 1.0),
        (3, base.replace(minute=4), 3, "click", 1.0),
        # flush rows at 02:00: wm = min(02:00-10min, 02:00-20min) = 01:40,
        # closing users 1-3; the flush rows themselves stay open (02:10 and
        # 02:00 are past wm) and must not emit
        (4, base.replace(hour=2), 99, "view", 1.0),
        (5, base.replace(hour=2), 99, "click", 1.0),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    batch_df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "ss_fo_src")
    batch_df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    views = stream.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("l_ts")
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("r_ts")
    )
    j = interval_join(
        views, clicks, max_gap="10 minutes", right_watermark="20 minutes",
        how="fullOuter",
    )
    out = j.filter(F.col("r.r_ts").isNull() | F.col("l.l_ts").isNull()).select(
        F.when(F.col("r.r_ts").isNull(), F.lit("view")).otherwise(F.lit("click")).alias("side"),
        F.coalesce(F.col("l.user_id"), F.col("r.user_id")).alias("user_id"),
    )
    q = out.writeStream.outputMode("append").format("memory").queryName("t_ssfo").start()
    q.processAllAvailable()
    q.stop()
    got = {(r["side"], r["user_id"]) for r in spark.table("t_ssfo").collect()}
    assert got == {("view", 1), ("click", 2)}


def test_dedup_within_watermark_collapses_redeliveries(spark, tmp_path):
    from kol_bigdata_realtime_analytics_spark.streaming.joins import dedup_within_watermark

    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for u in range(4):
        for rep in range(3):  # re-delivered 3x within the watermark
            rows.append((eid, base.replace(second=rep), u, "view", 1.0))
            eid += 1
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    batch_df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "ss_dedup_src")
    batch_df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    out = dedup_within_watermark(stream, ["user_id", "event_type"])
    q = out.writeStream.outputMode("append").format("memory").queryName("t_ssd").start()
    q.processAllAvailable()
    q.stop()
    got = spark.table("t_ssd")
    assert got.count() == 4  # one survivor per (user, type)
    assert got.select("user_id").distinct().count() == 4


def test_rocksdb_state_store_provider(spark, tmp_path, event_rows):
    """The 100 TB state-store upgrade is flip-one-config (PERF.md §4): the
    same windowed-agg stream must produce identical results on RocksDB."""
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    batch_df = spark.createDataFrame(event_rows, schema)
    src = str(tmp_path / "rocks_src")
    batch_df.write.mode("overwrite").parquet(src)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try:
        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        out = run_trending_stream(spark, stream, query_name="t_rocksdb")
        got = {tuple(r) for r in out.collect()}
    finally:
        if prev:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
    want = {tuple(r) for r in scored(windowed_engagement(batch_df)).collect()}
    assert got == want and len(got) > 0


def test_python_stream_datasource_offset_resume(spark, tmp_path):
    """The custom streaming Python DataSource must honor the offset
    contract: batch 1 reads rows [0, batch); a RESTARTED query against the
    same checkpoint continues exactly at the committed offset (no gap, no
    replay into the sink); readBetweenOffsets replays a committed range
    bit-identically (recovery path)."""
    from kol_bigdata_realtime_analytics_spark.sources.pydatasource import (
        DetStreamReader,
        register_detstream,
    )

    register_detstream(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("detstream")
            .option("batch", "40")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(once=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert first == list(range(40))
    run_once()  # restart from the committed offset
    both = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert both == list(range(80)), "resume must continue at offset 40, no gap/replay"

    # recovery replay: any committed range reproduces identical rows
    r = DetStreamReader({"batch": "40"})
    replay = list(r.readBetweenOffsets({"i": 40}, {"i": 80}))
    assert replay == [(j, f"type_{j % 3}", float(j % 7)) for j in range(40, 80)]


def test_idempotent_foreach_batch_skips_redelivery(spark, tmp_path):
    """The exactly-once wrapper: a re-delivered epoch_id (checkpoint
    recovery replays the last batch) must not re-run the sink; a failed
    sink leaves no marker so the retry DOES re-run; new epochs run."""
    from kol_bigdata_realtime_analytics_spark.streaming.sinks import (
        idempotent_foreach_batch,
    )

    calls = []

    def sink_fn(df, epoch_id):
        calls.append(epoch_id)

    wrapped = idempotent_foreach_batch(sink_fn, str(tmp_path / "ledger"))
    df = spark.range(3)
    wrapped(df, 0)
    wrapped(df, 0)  # re-delivery -> skipped
    wrapped(df, 1)
    assert calls == [0, 1]

    # a sink failure must not commit the marker: the retry re-runs
    def flaky(df, epoch_id):
        calls.append(epoch_id)
        if calls.count(2) == 1:
            raise RuntimeError("transient")

    wrapped2 = idempotent_foreach_batch(flaky, str(tmp_path / "ledger2"))
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        wrapped2(df, 2)
    wrapped2(df, 2)  # retry runs (no marker yet)
    wrapped2(df, 2)  # now committed -> skipped
    assert calls == [0, 1, 2, 2]


def test_idempotent_wrapper_end_to_end_restart(spark, tmp_path):
    """End-to-end: run a stream into the wrapped sink, stop it, delete the
    memory of the LAST committed epoch from the sink output (simulating a
    non-transactional target), restart from the SAME checkpoint with new
    data — committed epochs are not re-applied, new data lands once."""
    from kol_bigdata_realtime_analytics_spark.streaming.sinks import (
        idempotent_foreach_batch,
    )

    src = tmp_path / "idem_src"
    src.mkdir()
    ckpt = str(tmp_path / "idem_ckpt")
    seen: list[tuple] = []

    def sink_fn(df, epoch_id):
        seen.extend((epoch_id, r["id"]) for r in df.orderBy("id").collect())

    wrapped = idempotent_foreach_batch(sink_fn, str(tmp_path / "idem_ledger"))
    spark.range(0, 3).coalesce(1).write.parquet(str(src / "f0"))
    stream = spark.readStream.schema("id long").parquet(str(src) + "/*")

    q = stream.writeStream.foreachBatch(wrapped).option(
        "checkpointLocation", ckpt
    ).start()
    q.processAllAvailable()
    q.stop()
    first = list(seen)
    assert sorted(r[1] for r in first) == [0, 1, 2]

    # restart from the same checkpoint with one more file
    spark.range(10, 12).coalesce(1).write.parquet(str(src / "f1"))
    stream2 = spark.readStream.schema("id long").parquet(str(src) + "/*")
    q2 = stream2.writeStream.foreachBatch(wrapped).option(
        "checkpointLocation", ckpt
    ).start()
    q2.processAllAvailable()
    q2.stop()
    new = seen[len(first):]
    # only the new rows were applied, exactly once, under a fresh epoch
    assert sorted(r[1] for r in new) == [10, 11]


def test_jsondir_writer_commit_and_modes(spark, tmp_path):
    """Python DataSource WRITER: staged files publish only on commit (with
    a _SUCCESS manifest), append adds, overwrite replaces."""
    import json
    import os

    from kol_bigdata_realtime_analytics_spark.sources.pydatasource import (
        register_jsondir,
    )

    register_jsondir(spark)
    out = str(tmp_path / "jd_out")
    spark.range(10).selectExpr("id", "id * 2 AS v").coalesce(2).write.format(
        "jsondir"
    ).mode("append").save(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert not os.path.exists(os.path.join(out, "_staging"))
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["n_rows"] == 10
    back = spark.read.json(out + "/part-*.jsonl")
    assert back.count() == 10
    assert {r["v"] for r in back.collect()} == {2 * i for i in range(10)}

    # append mode adds files
    spark.range(5).selectExpr("id", "id * 2 AS v").coalesce(1).write.format(
        "jsondir"
    ).mode("append").save(out)
    assert spark.read.json(out + "/part-*.jsonl").count() == 15
    # overwrite replaces all previously committed files
    spark.range(3).selectExpr("id", "id * 2 AS v").coalesce(1).write.format(
        "jsondir"
    ).mode("overwrite").save(out)
    assert spark.read.json(out + "/part-*.jsonl").count() == 3


def test_jsondir_writer_abort_leaves_committed_data(spark, tmp_path):
    """A failing task aborts the write: previously COMMITTED data is
    untouched and no part files appear — readers never see a partial
    dataset. Staging dirs are JOB-scoped because abort races still-running
    tasks (a zombie task can recreate its dir after the rmtree); a
    leftover is inert and the janitor sweeps it once it AGES past the
    grace window — a YOUNG foreign staging dir is a live concurrent job's
    and must survive (r7 advisory: the unconditional sweep made two
    concurrent appends mutually fatal)."""
    import glob
    import os
    import time

    import pytest as _pytest

    from kol_bigdata_realtime_analytics_spark.sources.pydatasource import (
        register_jsondir,
    )

    register_jsondir(spark)
    out = str(tmp_path / "jd_abort")
    spark.range(4).selectExpr("id", "id AS v").coalesce(1).write.format(
        "jsondir"
    ).mode("append").save(out)
    assert spark.read.json(out + "/part-*.jsonl").count() == 4

    failing = spark.range(4).selectExpr(
        "id", "CAST(raise_error(CASE WHEN id = 2 THEN 'boom' END) AS STRING) AS v"
    )
    with _pytest.raises(Exception):
        failing.coalesce(1).write.format("jsondir").mode("append").save(out)
    # nothing published by the failed job
    assert spark.read.json(out + "/part-*.jsonl").count() == 4

    # plant a STALE leftover (mtime past the grace window — an old aborted
    # job's zombie) and a FRESH one (a live concurrent job's staging)
    stale = os.path.join(out, "_staging-stalezombie")
    live = os.path.join(out, "_staging-liveconcurrent")
    os.makedirs(stale)
    os.makedirs(live)
    old = time.time() - 7200
    os.utime(stale, (old, old))
    spark.range(2).selectExpr("id", "id AS v").coalesce(1).write.format(
        "jsondir"
    ).mode("append").save(out)
    left = set(glob.glob(os.path.join(out, "_staging-*")))
    # the CONTRACT: stale swept, live concurrent job untouched. The aborted
    # job's own zombie staging dir MAY also linger (the task-vs-abort race
    # the grace window exists for — under load the zombie recreate lands
    # after abort's cleanup); it is inert and must be YOUNG, i.e. within
    # the grace window so a later janitor pass sweeps it.
    assert live in left
    assert stale not in left
    from kol_bigdata_realtime_analytics_spark.sources.pydatasource import (
        JANITOR_GRACE_SEC,
    )

    for extra in left - {live}:
        assert time.time() - os.path.getmtime(extra) < JANITOR_GRACE_SEC, (
            f"aged leftover {extra} survived the sweep"
        )
    assert spark.read.json(out + "/part-*.jsonl").count() == 6
    # manifest publish is atomic and the commit lock was released
    assert not glob.glob(os.path.join(out, "_SUCCESS.lock"))
    assert not glob.glob(os.path.join(out, "_SUCCESS.tmp-*"))


def test_streaming_heavy_hitters_state_merges_across_batches(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): the MG state must carry
    batch 1's counters into batch 2 — the planted hot key's weight equals
    its TOTAL count across both files (no eviction pressure: fewer distinct
    keys than k), which a stateless per-batch summary cannot produce."""
    import pandas as pd

    from kol_bigdata_realtime_analytics_spark.streaming.heavy_hitters import (
        mg_heavy_hitters_stream,
    )

    src = tmp_path / "shh_src"
    src.mkdir()
    # hot key 8 (bucket 0): 50 occurrences per file; 3 cold keys per file
    pd.DataFrame({"hot_key": [8] * 50 + [1, 2, 3]}).to_parquet(src / "a.parquet")
    pd.DataFrame({"hot_key": [8] * 50 + [9, 10, 11]}).to_parquet(src / "b.parquet")
    stream = (
        spark.readStream.schema("hot_key long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    for q in spark.streams.active:
        if q.name == "shh_state_test":
            q.stop()
    q = (
        mg_heavy_hitters_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("shh_state_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.table("shh_state_test").collect()
    # update-mode memory sink appends per-batch emissions; the LAST emission
    # for (bucket 0, key 8) carries the merged weight
    w8 = [r["mg_weight"] for r in rows if r["candidate_key"] == 8]
    assert w8, "hot key missing from candidates"
    assert max(w8) == 100, f"state did not merge across batches: {w8}"
    # bounded state: no emission ever exceeds buckets * k rows per batch
    assert len(rows) <= 2 * 8 * 8


def test_ranking_stream_restarts_from_its_checkpoint(spark, tmp_path):
    """windowed_engagement -> scored -> ranking sink, stopped and restarted
    from the same checkpoint with one more event file in between: the
    served top-k equals a batch recomputation over every file, so the
    windowed state written through the session's checkpoint manager
    survived the restart."""
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass").endswith(
        ".FileSystemBasedCheckpointFileManager")
    schema = "event_id long, ts timestamp, user_id long, value double"
    src, staging = tmp_path / "events", tmp_path / "staging"
    src.mkdir()
    staging.mkdir()
    out, ckpt = str(tmp_path / "ranking"), str(tmp_path / "ckpt")

    def add_file(i):
        # file i: 40 events in one 5-minute window, 4 per key 0-9, key j's events
        # valued (j + 1) * (i + 1): both files feed the same 10 windowed rows,
        # and no two keys tie on the score
        lines = [json.dumps({"event_id": 100 * i + n, "ts": f"2024-01-01T00:0{n % 5}:00",
                             "user_id": n % 10, "value": float((n % 10 + 1) * (i + 1))})
                 for n in range(40)]
        (staging / f"f{i}.json").write_text("\n".join(lines) + "\n")
        os.rename(staging / f"f{i}.json", src / f"f{i}.json")

    def run():
        stream = spark.readStream.schema(schema).json(str(src))
        q = (scored(windowed_engagement(stream)).writeStream.outputMode("complete")
             .foreachBatch(foreach_batch_ranking_sink(out, "trending_score", ["key"], k=5))
             .option("checkpointLocation", ckpt).queryName("t_rank_restart").start())
        q.processAllAvailable()
        batches = {p["batchId"] for p in map(json.loads, (p.json for p in q.recentProgress))}
        q.stop()
        return batches

    add_file(0)
    first = run()
    add_file(1)
    second = run()
    assert first and second and max(first) < min(second)

    batch = scored(windowed_engagement(spark.read.schema(schema).json(str(src))))
    expected = batch.orderBy(F.col("trending_score").desc(), F.col("key")).limit(5).collect()
    got = spark.read.parquet(out).drop("epoch_id").orderBy(
        F.col("trending_score").desc(), F.col("key")).collect()
    assert got == expected
    # the state store holds one delta file per version (batch id + 1) and
    # partition: the restart read the first run's and added its own
    versions = {int(os.path.basename(p).split(".")[0])
                for p in glob.glob(os.path.join(ckpt, "state", "0", "*", "*.delta"))}
    assert {b + 1 for b in first | second} <= versions
