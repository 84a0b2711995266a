"""Stream-stream joins and watermarked streaming dedup.

The reference never joins two live streams — its only stream-to-X lookup is
the Redis state hack (reference: streaming/spark_jobs/kafka_profile_stream.py:
153-161, rebuilt properly in streaming/momentum.py). These operators complete
the Structured Streaming surface a real pipeline needs:

- interval join (click attribution): two watermarked streams equi-joined on a
  key plus an event-time interval condition. Spark bounds both join states by
  the watermark + interval, so state is O(events within the interval), not
  O(stream) — the required shape for a 100 TB/day click stream.
- dropDuplicatesWithinWatermark: at-least-once sources (Kafka) re-deliver;
  dedup keyed on the natural id with watermark-bounded state is the scale-safe
  alternative to a global dropDuplicates (whose state never expires).

Both build the SAME lineage for batch DataFrames (watermarks are no-ops in
batch), which is how the oracle checks and stream==batch tests work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Event-time watermark delay of interval_join's left side and of
#: dedup_within_watermark's state.
WATERMARK = "10 minutes"

_INTERVAL_UNIT_SECONDS = {
    "second": 1,
    "seconds": 1,
    "minute": 60,
    "minutes": 60,
    "hour": 3600,
    "hours": 3600,
    "day": 86400,
    "days": 86400,
}


def _interval_seconds(interval: str) -> int:
    """'2 hours' / '10 minutes' -> seconds (the subset of Spark's interval
    grammar these operators use)."""
    amount, unit = interval.strip().split()
    return int(amount) * _INTERVAL_UNIT_SECONDS[unit.lower()]


def interval_join(
    left: DataFrame,
    right: DataFrame,
    max_gap: str = "10 minutes",
    right_watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-key + event-time-interval join of two (streaming) frames on
    ``user_id``; the left side's time is ``l_ts``, the right side's ``r_ts``.

    Matches right rows with ``l_ts < r_ts <= l_ts + max_gap``.

    Watermark contract: for an INNER stream-stream join Spark accepts any
    watermark pair and never errors — the watermarks plus the interval
    condition only determine how long each side's join state is retained
    (left rows stay joinable until the right watermark passes
    ``l_ts + max_gap``). OUTER interval joins (``how="leftOuter"`` etc.)
    additionally require the time bound in the condition (present here) so
    NULL-padded rows can emit once the other side is provably closed: a
    left row's NULL result emits when the GLOBAL watermark
    (min of both sides' under the default multipleWatermarkPolicy=min)
    passes ``l_ts + max_gap`` — rows closer to the stream's end than
    that stay in state and never emit in a bounded replay, which any
    oracle of an outer stream must account for. To keep left state
    retention tight and correct for any ``max_gap``, the right watermark
    defaults to ``WATERMARK + max_gap`` instead of a fixed constant.
    """
    if right_watermark is None:
        right_watermark = (
            f"{_interval_seconds(WATERMARK) + _interval_seconds(max_gap)} seconds"
        )
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.r_ts") > F.col("l.l_ts"))
        & (F.col("r.r_ts") <= F.col("l.l_ts") + F.expr(f"INTERVAL {max_gap}"))
    )
    return (
        left.withWatermark("l_ts", WATERMARK)
        .alias("l")
        .join(right.withWatermark("r_ts", right_watermark).alias("r"), cond, how)
    )


def attribution_pairs(events: DataFrame) -> DataFrame:
    """Click attribution over one event stream: each click pairs with every
    view by the same user in the preceding 2 hours.

    Pair-level output (user_id, gap_us) is APPEND-safe — the streaming query
    emits each matched pair exactly once as the watermark closes it, so the
    set of emitted rows equals the batch join and any downstream aggregate
    of the sink is deterministic. Gaps are exact epoch-microsecond integers
    (no float/second-truncation ambiguity vs the oracle)."""
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("l_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("r_ts")
    )
    pairs = interval_join(views, clicks, max_gap="2 hours")
    gap_us = F.unix_micros(F.col("r.r_ts")) - F.unix_micros(F.col("l.l_ts"))
    return pairs.select(F.col("l.user_id").alias("user_id"), gap_us.alias("gap_us"))


def dedup_within_watermark(df: DataFrame, keys: list[str]) -> DataFrame:
    """Watermark-bounded exact dedup for at-least-once streams.

    State per key expires once the watermark passes it — bounded memory at
    any throughput, the property plain dropDuplicates lacks on streams.
    Re-deliveries arriving later than WATERMARK after ``ts`` are NOT deduped
    (that is the documented contract; size the watermark to the source's
    re-delivery horizon)."""
    return df.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(keys)
