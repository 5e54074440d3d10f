"""Stream-stream time-interval joins (Structured Streaming).

The Structured Streaming surface beside the windows: joining two
UNBOUNDED streams on a key within an event-time interval —
"purchases within 30 minutes of a click by the same user". Spark can only run this with bounded state when BOTH
sides carry event-time watermarks and the join condition bounds the
time skew; the watermark + interval together tell the engine when a
buffered row can never match again and is safe to evict
(state ∝ watermark-window of data, not stream history).

Like ``streaming/windows.py``, the join is defined ONCE as a
DataFrame transformation that runs identically on batch DataFrames
(no watermark needed — batch sees all data) and on watermarked
streams; tests pin stream==batch parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``on`` restricted to right rows with
    ``left_ts − lower ≤ right_ts ≤ left_ts + upper``.

    Works on two batch frames or two WATERMARKED streams (build them
    with ``stream_events``/``withWatermark`` first — for streams the
    watermarks plus this interval are what bound the join state;
    without them Spark rejects the query rather than buffer forever).
    ``how='inner'`` emits matches as they arrive; ``'leftOuter'`` /
    ``'rightOuter'`` additionally emit NULL-padded rows, but only
    once the watermark passes a row's last possible match time —
    an availableNow test run therefore sees the inner rows but not
    necessarily the trailing NULL rows (standard engine semantics).

    Output columns: ``on``, then the left frame's remaining columns
    prefixed ``l_`` and the right frame's prefixed ``r_`` (the
    prefix keeps the unified batch/stream projection unambiguous).
    """
    lcols = [c for c in left.columns if c != on]
    rcols = [c for c in right.columns if c != on]
    l = left.select(on, *[F.col(c).alias(f"l_{c}") for c in lcols])
    r = right.select(F.col(on).alias("__r_on"), *[F.col(c).alias(f"r_{c}") for c in rcols])
    cond = (
        (F.col(on) == F.col("__r_on"))
        & (F.col(f"r_{right_ts}") >= F.col(f"l_{left_ts}") - F.expr(f"INTERVAL {lower}"))
        & (F.col(f"r_{right_ts}") <= F.col(f"l_{left_ts}") + F.expr(f"INTERVAL {upper}"))
    )
    # outer rows NULL-pad the missing side, so the surviving key must
    # come from WHICHEVER side is present — a rightOuter unmatched
    # purchase keeps its user_id instead of NULL (round-7 review fix)
    return (
        l.join(r, cond, how)
        .withColumn(on, F.coalesce(F.col(on), F.col("__r_on")))
        .drop("__r_on")
    )


def clicks_to_purchases(events: DataFrame, within: str = "30 minutes") -> DataFrame:
    """Demo composition on the events schema: every (click, purchase)
    pair by the same user where the purchase lands within ``within``
    AFTER the click — the attribution join every event pipeline runs.
    Batch/stream agnostic; at scale the state is bounded by the
    watermark + interval, and the equi-key keeps it hash-partitioned
    by user (no broadcast, no global buffer)."""
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    out = interval_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        lower="0 seconds",
        upper=within,
    )
    return out.select(
        "user_id",
        F.col("l_click_id").alias("click_id"),
        F.col("r_purchase_id").alias("purchase_id"),
        (F.col("r_purchase_ts").cast("long") - F.col("l_click_ts").cast("long")).alias(
            "lag_seconds"
        ),
        F.col("r_value").alias("purchase_value"),
    )
