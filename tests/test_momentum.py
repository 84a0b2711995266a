"""Stateful momentum: streaming applyInPandasWithState == batch window-lag form."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from kol_bigdata_realtime_analytics_spark.streaming.momentum import (
    momentum_batch,
    momentum_stream,
)


@pytest.fixture(scope="module")
def event_rows():
    """Two keys, events spread over 8 five-minute windows + a far-future
    flush row per key (advances the watermark so every real window closes)."""
    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for w in range(8):
        for k in (1, 2):
            for j in range(3 + (w % 3)):
                ts = base + timedelta(minutes=5 * w, seconds=13 * j + k)
                rows.append((eid, ts, k, "view", float(10 * (w + 1) + j)))
                eid += 1
    flush_ts = base + timedelta(hours=2)
    rows.append((eid, flush_ts, 99, "view", 1.0))
    return rows


SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def test_stream_momentum_equals_batch(spark, tmp_path, event_rows):
    _assert_stream_equals_batch(spark, tmp_path, event_rows)


def test_stream_momentum_equals_batch_on_float32_values(spark, tmp_path, event_rows):
    """Values as a float32-encoded file widens them to double, with digits
    past the sixth decimal that the batch's DECIMAL(18,6) sum drops."""
    import numpy as np

    rows = [r[:4] + (float(np.float32(r[4] + 0.37)),) for r in event_rows]
    _assert_stream_equals_batch(spark, tmp_path, rows)


def _assert_stream_equals_batch(spark, tmp_path, event_rows):
    df = spark.createDataFrame(event_rows, SCHEMA)
    src = str(tmp_path / "mom_src")
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        momentum_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mom_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["key"], r["window_start_ms"]): r
        for r in spark.table("mom_out").collect()
    }

    # batch ground truth for keys 1,2 over the 8 real windows (flush row's own
    # window stays open in streaming, so exclude key 99)
    expected = {
        (r["key"], r["window_start_ms"]): r
        for r in momentum_batch(df.filter(F.col("user_id") != 99)).collect()
    }

    assert set(got) == set(expected)
    for k, e in expected.items():
        g = got[k]
        assert g["n_events"] == e["n_events"]
        assert g["engagement"] == pytest.approx(e["engagement"], rel=1e-12)
        assert g["velocity"] == pytest.approx(e["velocity"], rel=1e-9)
        assert g["momentum"] == pytest.approx(e["momentum"], rel=1e-9)
        assert g["trending_score"] == pytest.approx(e["trending_score"], rel=1e-9)


def test_batch_momentum_is_lagged_avg(spark, event_rows):
    df = spark.createDataFrame(event_rows, SCHEMA).filter(F.col("user_id") == 1)
    out = sorted(momentum_batch(df).collect(), key=lambda r: r["window_start_ms"])
    assert out[0]["momentum"] == 0.0  # no history
    assert out[1]["momentum"] == pytest.approx(out[0]["velocity"])
    assert out[3]["momentum"] == pytest.approx(
        (out[0]["velocity"] + out[1]["velocity"] + out[2]["velocity"]) / 3
    )
    # momentum rewards sustained velocity: score with momentum > score of w0
    assert out[3]["trending_score"] > out[0]["trending_score"]


def test_idle_gap_resets_momentum_stream_equals_batch(spark, tmp_path):
    """A key idle for > 3 windows restarts at momentum 0 in BOTH forms.

    Replayed file-by-file (maxFilesPerTrigger=1) so the watermark advances
    across micro-batches and the closed-state expiry timer actually fires —
    the revived key's momentum must come out 0 because its pre-gap
    velocities are outside the RANGE frame (batch) / expired (stream)."""
    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # activity in windows 0,1 then an idle gap, then windows 7,8
    for w in (0, 1, 7, 8):
        for j in range(4):
            ts = base + timedelta(minutes=5 * w, seconds=11 * j)
            rows.append((eid, ts, 1, "view", float(100 + 10 * w + j)))
            eid += 1
    flush_ts = base + timedelta(hours=2)
    rows.append((eid, flush_ts, 99, "view", 1.0))

    df = spark.createDataFrame(rows, SCHEMA)
    src = tmp_path / "mom_gap_src"
    src.mkdir()
    # one file per window chunk => one micro-batch each, watermark advances
    for i, cut in enumerate([(0, 1), (7,), (8,), (None,)]):
        if cut == (None,):
            part = df.filter(F.col("user_id") == 99)
        else:
            lo = base + timedelta(minutes=5 * cut[0])
            hi = base + timedelta(minutes=5 * (cut[-1] + 1))
            part = df.filter(
                (F.col("user_id") == 1) & (F.col("ts") >= lo) & (F.col("ts") < hi)
            )
        part.coalesce(1).write.mode("overwrite").parquet(str(src / f"f{i}"))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "f*"))
    )
    q = (
        momentum_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mom_gap_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["key"], r["window_start_ms"]): r
        for r in spark.table("mom_gap_out").collect()
    }
    expected = {
        (r["key"], r["window_start_ms"]): r
        for r in momentum_batch(df.filter(F.col("user_id") != 99)).collect()
    }
    assert set(got) == set(expected)
    for k, e in expected.items():
        g = got[k]
        assert g["momentum"] == pytest.approx(e["momentum"], rel=1e-9), k
        assert g["trending_score"] == pytest.approx(e["trending_score"], rel=1e-9), k
    # the revived window (w=7) must have restarted at momentum 0
    starts = sorted(ms for (k, ms) in got if k == 1)
    assert len(starts) == 4
    w7_ms, w8_ms = starts[2], starts[3]
    assert expected[(1, w7_ms)]["momentum"] == 0.0
    assert got[(1, w7_ms)]["momentum"] == 0.0
    # and w=8 sees only w=7 (not the pre-gap windows)
    assert got[(1, w8_ms)]["momentum"] == pytest.approx(got[(1, w7_ms)]["velocity"])


def test_state_store_soak_bounded(spark, tmp_path):
    """Out-of-order + late replay across many triggers: state stays O(1)/key.

    Asserted on the store's OWN metrics (StreamingQueryProgress
    stateOperators.numRowsTotal), not output equality: at no point may state
    exceed one row per live key, and after the watermark passes every
    window + the expiry horizon the idle keys must LEAVE the store."""
    base = datetime(2024, 1, 1, 0, 0, 0)
    n_keys = 6
    rows_by_batch = []
    # batches 0..7: windows arrive out of order within each batch; each batch
    # also re-delivers an event from 2 windows back (late but in-watermark)
    for b in range(8):
        batch = []
        for k in range(n_keys):
            for w in dict.fromkeys((b, max(0, b - 1))):  # out-of-order mix
                ts = base + timedelta(minutes=5 * w, seconds=7 * k + w)
                batch.append((1000 * b + 10 * k + w, ts, k, "view", float(10 + w)))
        # a hopelessly late event (> watermark behind) — must be dropped
        if b >= 4:
            late_ts = base - timedelta(hours=1)
            batch.append((9000 + b, late_ts, 0, "view", 999.0))
        rows_by_batch.append(batch)
    # two flush batches: advance the watermark far past every window + the
    # expiry horizon, then once more so expiry timers actually fire
    rows_by_batch.append([(99991, base + timedelta(hours=3), 999, "view", 1.0)])
    rows_by_batch.append([(99992, base + timedelta(hours=4), 998, "view", 1.0)])

    src = tmp_path / "soak_src"
    src.mkdir()
    for i, batch in enumerate(rows_by_batch):
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i:02d}")
        )

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "b*"))
    )
    q = (
        momentum_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mom_soak_out")
        .start()
    )
    q.processAllAvailable()
    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    q.stop()

    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in progresses]
    # never more than one state row per key that has ever been seen live
    assert max(state_rows) <= n_keys + 2, state_rows
    # idle keys expire: final state holds at most the flush keys
    assert state_rows[-1] <= 2, state_rows
    # late-beyond-watermark rows never became state or output
    out = spark.table("mom_soak_out").collect()
    assert not any(r["engagement"] >= 999.0 for r in out)
    # and the emitted windows agree with batch semantics on the valid rows
    valid = [r for b in rows_by_batch[:8] for r in b if r[1] >= base]
    expected = {
        (r["key"], r["window_start_ms"]): r
        for r in momentum_batch(
            spark.createDataFrame(valid, SCHEMA).dropDuplicates(["event_id"])
        ).collect()
    }
    got = {(r["key"], r["window_start_ms"]): r for r in out}
    for kk, e in expected.items():
        assert kk in got, kk
        assert got[kk]["momentum"] == pytest.approx(e["momentum"], rel=1e-9), kk

