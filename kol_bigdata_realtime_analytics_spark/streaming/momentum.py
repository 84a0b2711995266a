"""Stateful per-KOL momentum: avg velocity of the last 3 closed windows.

The reference SPECIFIES momentum (README.md:748-756) but never implements it
— its streaming UDF receives prev_engagement=None and hardcodes baselines
(reference trending_stream.py:279-283; the Redis-lookup velocity hack at
kafka_profile_stream.py:153-169 reads previous state per row in Python).
This module implements it properly, in two forms:

- `momentum_batch`   : window-function form (RANGE frame avg) — the
  reference semantics; SQL-expressible, duckdb-oracle checkable, used by
  the batch/serving path.
- `momentum_stream`  : the one streaming form, a stateful operator via
  applyInPandasWithState keyed by KOL: state = open tumbling windows +
  the last 3 closed-window velocities; windows close when the event-time
  watermark passes their end, emitting velocity + momentum + trending score.
  Event-time timeouts flush idle keys. State is bounded: open windows are
  pruned by watermark and the closed deque keeps <= 3 entries, so per-key
  state is O(1) — the property that keeps this runnable with millions of keys.

Momentum is RANGE-based, not row-based: the average covers closed windows in
the previous 3 window *slots* (start in [ws-3W, ws-W]). A key idle for >= 3
windows therefore restarts at momentum 0 — deliberate, because it is the only
definition where per-key streaming state is both bounded AND *expirable*
(closed velocities older than 4 slots behind the watermark can never feed a
future window, so idle keys can be dropped from the state store entirely; a
rows-based "last 3 ever" would pin every key forever). Both forms share this
definition and tests assert they agree row-for-row, including across a
>3-window idle gap.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kol_bigdata_realtime_analytics_spark.functions.scoring import (
    trending_raw,
    trending_score,
    trending_velocity,
)

WINDOW_SECONDS = 300
#: The events columns both forms read: event time, KOL key, engagement value.
TS_COL, KEY_COL, VALUE_COL = "ts", "user_id", "value"
_N_MOMENTUM = 3
_WMS = WINDOW_SECONDS * 1000

OUTPUT_SCHEMA = (
    "window_start_ms long, key long, n_events long, engagement double, "
    "velocity double, momentum double, trending_score double"
)
STATE_SCHEMA = (
    "open_ws array<long>, open_n array<long>, open_eng array<double>, "
    "closed_ws array<long>, closed_vel array<double>"
)


def momentum_batch(events: DataFrame) -> DataFrame:
    """Batch semantics: tumbling 5-min windows per key; momentum = avg
    velocity over the windows in the previous 3 window slots (RANGE frame
    on window_start_ms — 0 after an idle gap of >= 3 windows, matching the
    streaming forms' expirable state)."""
    # engagement sums in DECIMAL(18,6) (exact at any summation order — the
    # registry's order-proof rule, PERF.md §3) then casts back to double so
    # velocity/score math is IEEE over the identical value in every engine.
    agg = events.groupBy(
        F.window(TS_COL, f"{WINDOW_SECONDS} seconds").alias("w"), F.col(KEY_COL).alias("key")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col(VALUE_COL).cast("decimal(18,6)")).cast("double").alias("engagement"),
    )
    vel = trending_velocity(F.col("engagement"), F.col("n_events"))
    with_vel = agg.select(
        F.unix_millis(F.col("w.start")).alias("window_start_ms"),
        "key",
        "n_events",
        F.col("engagement").cast("double").alias("engagement"),
        vel.alias("velocity"),
    )
    frame = (
        Window.partitionBy("key")
        .orderBy("window_start_ms")
        .rangeBetween(-_N_MOMENTUM * _WMS, -1)
    )
    mom = F.coalesce(F.avg("velocity").over(frame), F.lit(0.0))
    with_mom = with_vel.withColumn("momentum", mom)
    score = trending_score(trending_raw(F.col("velocity"), F.col("n_events"), F.col("momentum")))
    return with_mom.withColumn("trending_score", score)


def _velocity(eng: float, n: int) -> float:
    import math

    return (eng / 5.0) * (1.0 + 0.1 * math.log1p(n))


def _score(vel: float, n: int, mom: float) -> float:
    import math

    raw = 0.5 * (vel / 100.0) + 0.3 * (n / 10.0) + 0.2 * (1.0 + mom)
    return 100.0 / (1.0 + math.exp(-0.8 * (raw - 2.0)))


def _close_windows(state_dict, watermark_ms):
    """Close every open window whose END <= watermark; emit in window order.

    Momentum for a window starting at ws averages the velocities of closed
    windows whose start lies in [ws - 3W, ws) — the previous 3 slots, so an
    idle gap >= 3 windows resets momentum to 0 (same as momentum_batch's
    RANGE frame)."""
    out = []
    open_w = state_dict["open"]
    closed = state_dict["closed"]  # list[(ws, velocity)], ascending ws
    for ws in sorted(list(open_w)):
        if ws + _WMS <= watermark_ms:
            n, eng = open_w.pop(ws)
            vel = _velocity(eng, n)
            prev = [v for w, v in closed if ws - _N_MOMENTUM * _WMS <= w < ws]
            mom = sum(prev) / len(prev) if prev else 0.0
            out.append((ws, n, eng, vel, mom, _score(vel, n, mom)))
            closed.append((ws, vel))
            del closed[:-_N_MOMENTUM]
    return out


def _expire_closed(closed, watermark_ms):
    """Drop closed-window velocities that can no longer feed any momentum.

    An entry at w contributes to windows starting <= w + 3W; the last such
    window closes once the watermark reaches w + 4W. Events older than the
    watermark are dropped by withWatermark, so no window starting earlier
    can ever open — after that point the entry is dead state."""
    horizon = (_N_MOMENTUM + 1) * _WMS
    return [(w, v) for w, v in closed if w + horizon > watermark_ms]


def _momentum_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # -------- load state --------
    if state.exists:
        open_ws, open_n, open_eng, closed_ws, closed_vel = state.get
        sd = {
            "open": {w: [n, e] for w, n, e in zip(open_ws, open_n, open_eng)},
            "closed": list(zip(closed_ws, closed_vel)),
        }
    else:
        sd = {"open": {}, "closed": []}

    # -------- fold new rows into open windows --------
    if not state.hasTimedOut:
        for pdf in pdfs:
            ws_series = (pdf["ts"].astype("int64") // 10**6) // (WINDOW_SECONDS * 1000) * (
                WINDOW_SECONDS * 1000
            )
            for ws, grp in pdf.groupby(ws_series):
                slot = sd["open"].setdefault(int(ws), [0, 0.0])
                slot[0] += len(grp)
                slot[1] += float(grp["value"].sum())

    # -------- close windows the watermark has passed --------
    wm = state.getCurrentWatermarkMs()
    emitted = _close_windows(sd, wm)
    sd["closed"] = _expire_closed(sd["closed"], wm)

    # -------- persist / schedule / cleanup --------
    if sd["open"]:
        nxt = min(ws + _WMS for ws in sd["open"])
        state.update(
            (
                list(sd["open"].keys()),
                [v[0] for v in sd["open"].values()],
                [v[1] for v in sd["open"].values()],
                [w for w, _ in sd["closed"]],
                [v for _, v in sd["closed"]],
            )
        )
        # wake up when the watermark can close the earliest open window
        state.setTimeoutTimestamp(max(nxt, wm + 1))
    elif sd["closed"]:
        state.update(([], [], [], [w for w, _ in sd["closed"]], [v for _, v in sd["closed"]]))
        # no open windows: state only feeds momentum of future windows; wake
        # when the newest closed entry expires so idle keys leave the store
        last = max(w for w, _ in sd["closed"])
        state.setTimeoutTimestamp(max(last + (_N_MOMENTUM + 1) * _WMS, wm + 1))
    else:
        state.remove()

    if emitted:
        yield pd.DataFrame(
            {
                "window_start_ms": [e[0] for e in emitted],
                "key": [key[0]] * len(emitted),
                "n_events": [e[1] for e in emitted],
                "engagement": [e[2] for e in emitted],
                "velocity": [e[3] for e in emitted],
                "momentum": [e[4] for e in emitted],
                "trending_score": [e[5] for e in emitted],
            }
        )


def momentum_stream(events: DataFrame) -> DataFrame:
    """Streaming form: watermarked, keyed, O(1)-state-per-key momentum op.
    value is put on the DECIMAL(18,6) grid momentum_batch sums on: a
    float32-encoded file widens to doubles with digits past the sixth
    decimal, which the batch's exact sum drops and a float fold would keep."""
    prepared = events.select(
        F.col(TS_COL).alias("ts"),
        F.col(KEY_COL).alias("key"),
        F.col(VALUE_COL).cast("decimal(18,6)").cast("double").alias("value"),
    ).withWatermark("ts", "5 minutes")
    return prepared.groupBy("key").applyInPandasWithState(
        _momentum_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
