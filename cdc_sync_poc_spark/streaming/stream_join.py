"""Stream-stream interval join — view-to-click attribution across two
unbounded inputs, the last standard Structured Streaming join surface
this package's streaming suite exercises (alongside watermark dedup,
session windows, applyInPandasWithState, and the foreachBatch indexes).

Semantics: a click attributes to a view by the SAME user when it lands
within ATTRIB_WINDOW after the view — the streaming twin of the batch
events_attribution/j07 range-join family. Both sides carry a watermark
so Spark can bound the join state: a buffered view row is evicted once
the click-side watermark passes view.ts + ATTRIB_WINDOW (and vice
versa) — without the interval condition the state store would grow
without bound, which is exactly why Spark REQUIRES the time bound on
an append-mode stream-stream join.

At scale this is the same shuffle as the batch join (both sides hash
on user_id) plus a state store per partition (Spark's default
HDFS-backed provider; none is configured) holding only the in-window
tail of each stream. Batch equivalence (same rows as the
static interval join over the union of all micro-batches) is pinned in
tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ATTRIB_WINDOW = "10 minutes"  # click attributes to a view within this


def _sides(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split an event frame into the two join sides (works identically
    on a batch frame and a stream — ordinary column expressions)."""
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return views, clicks


def _join_cond():
    return (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {ATTRIB_WINDOW}"))
    )


def interval_join_stream(events: DataFrame) -> DataFrame:
    """Watermarked stream-stream interval join over an unbounded event
    frame: returns (user_id, view_id, click_id, view_ts, click_ts)
    attribution pairs in append mode with bounded state."""
    views, clicks = _sides(events)
    return (
        views.withWatermark("view_ts", ATTRIB_WINDOW)
        .join(
            clicks.withWatermark("click_ts", ATTRIB_WINDOW),
            _join_cond(),
            "inner",
        )
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "click_id",
            "view_ts",
            "click_ts",
        )
    )


def interval_join_batch(events: DataFrame) -> DataFrame:
    """The batch twin: identical condition on a static frame — the
    ground truth the streaming join must reproduce over the union of
    its micro-batches."""
    views, clicks = _sides(events)
    return views.join(clicks, _join_cond(), "inner").select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
    )


def interval_join_stream_outer(events: DataFrame) -> DataFrame:
    """LEFT OUTER variant: every view eventually emits — matched pairs
    as they arrive, unmatched views with a NULL click once the
    click-side watermark passes view_ts + ATTRIB_WINDOW (proof the view
    can no longer match). This is the streaming mechanic behind
    "sessions that never converted": the null-completed row is emitted
    LATE by construction, only when the state store can prove the
    negative — which is why outer stream-stream joins REQUIRE both the
    watermark and the interval bound."""
    views, clicks = _sides(events)
    return (
        views.withWatermark("view_ts", ATTRIB_WINDOW)
        .join(
            clicks.withWatermark("click_ts", ATTRIB_WINDOW),
            _join_cond(),
            "left_outer",
        )
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "click_id",
            "view_ts",
            "click_ts",
        )
    )
