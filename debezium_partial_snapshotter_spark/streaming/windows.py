"""Watermarked windowed aggregation over a change-event stream.

The streaming side of ``operators/windows.py`` (brief: "watermarks +
windowed aggs for late data"). Structured Streaming append-mode
semantics:

- late rows within the watermark still update their (open) window's
  state — the aggregation state is keyed by (window, keys) and lives in
  the state store until the watermark passes the window end;
- rows later than the watermark are DROPPED by the watermark operator;
- a window is emitted exactly once, when the watermark passes its end.

State size is bounded by (open windows x keys) — each entry is one
count + one sum, independent of event volume, so a 100-TB/day feed
holds state proportional to key cardinality, not traffic. The shuffle
is the same single partial-agg shuffle as the batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from debezium_partial_snapshotter_spark.operators.windows import (
    session_rollup,
    tumbling_rollup,
)


def windowed_rollup_stream(
    events: DataFrame,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    window: str = "1 minute",
    watermark: str = "1 minute",
    agg_col: str = "value",
) -> DataFrame:
    """Tumbling-window count/sum with a late-data watermark, for
    ``writeStream`` in append mode: ``operators.windows.tumbling_rollup``
    over the watermarked stream, so the batch and streaming paths are
    interchangeable downstream."""
    return tumbling_rollup(
        events.withWatermark(ts_col, watermark), ts_col, keys, window, agg_col
    )


def session_rollup_stream(
    events: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 minute",
    agg_col: str = "value",
    exact_sum: bool = False,
) -> DataFrame:
    """Streaming twin of ``operators.windows.session_rollup``: its
    native ``session_window`` aggregation over the watermarked stream,
    for ``writeStream`` in append mode. A session is emitted exactly
    once, when the watermark passes its end (last event + gap); rows
    later than the watermark are dropped before the shuffle; a late row
    within the watermark still extends/merges its open session
    (session_window state merge).

    State is one (start, end, count, sum) entry per OPEN session per
    key — bounded by concurrently-active keys, not traffic. Same skew
    caveat as the batch twin (merge shuffles by key alone); for a
    hot-key corpus run the batch chunked plan over closed windows
    instead. ``exact_sum`` is the batch twin's order-independent
    DECIMAL(38,9) sum (same domain caveat)."""
    return session_rollup(
        events.withWatermark(ts_col, watermark),
        ts_col,
        key,
        gap,
        agg_col,
        exact_sum=exact_sum,
    )
