"""Stream windows: Tumbling, Sliding, Session — plus Keyed composition.

Reference semantics:
  - TumblingWindow: fixed, non-overlapping, processing-time default
    (``flow/tumbling_window.go:30,88-118``).
  - SlidingWindow: size+slide, overlapping; optional event-time extractor,
    AllowedLateness <= slide, start aligned floor-to-slide
    (``flow/sliding_window.go:12-32,155-326``) — identical alignment to
    Spark's ``window()``.
  - SessionWindow: inactivity-gap sessions (``flow/session_window.go:31,102-140``).
  - Keyed: per-key independent operator chain (``flow/keyed.go:53-158``)
    == groupBy(key, window) in the aggregation case.

Spark-first: all three are built-in — ``window()`` / ``session_window()``
grouping columns. Batch and streaming share this code path; streaming adds
``withWatermark`` for late data (reference analogue: AllowedLateness,
``flow/sliding_window.go:25-31``). Windowed aggregation is a single hash
shuffle on (key, window) with map-side partial aggregation — the scalable
plan at any data size.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..api import Flow


def _cols(cs: Sequence[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cs]


def _windowed(ts: str | Column, window, aggs: Sequence[Column],
              keys: Sequence[Column | str], watermark: str | None,
              name: str) -> Flow:
    """The one windowed-aggregate body: optional watermark on ``ts``,
    groupBy(keys, window(ts)).agg(...), then ``window_start`` /
    ``window_end`` columns in place of the window struct. ``window``
    maps the ts Column to the window grouping column."""
    tcol = F.col(ts) if isinstance(ts, str) else ts

    def _apply(df: DataFrame) -> DataFrame:
        if watermark:
            # withWatermark takes a column NAME, not a Column
            df = df.withWatermark(ts if isinstance(ts, str) else ts._jc.toString(), watermark)
        out = df.groupBy(*_cols(keys), window(tcol).alias("w")).agg(*aggs)
        return out.select(
            *[c for c in out.columns if c != "w"],
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        ).drop("w")

    return Flow(_apply, name=name)


def tumbling_window(ts: str | Column, size: str, *aggs: Column,
                    keys: Sequence[Column | str] = (),
                    watermark: str | None = None) -> Flow:
    """groupBy(window(ts, size)).agg(...) — ``flow/tumbling_window.go:88-118``.

    Emits ``window_start``/``window_end`` timestamp columns plus the aggs.
    Non-empty-window-only emission matches Spark (groups only exist for
    observed rows).
    """
    return _windowed(ts, lambda t: F.window(t, size), aggs, keys, watermark,
                     "tumbling_window")


def sliding_window(ts: str | Column, size: str, slide: str, *aggs: Column,
                   keys: Sequence[Column | str] = (),
                   watermark: str | None = None) -> Flow:
    """Overlapping windows; start aligned floor-to-slide exactly like the
    reference (``flow/sliding_window.go:309-326`` vs Spark window start
    alignment). ``watermark`` maps AllowedLateness
    (``flow/sliding_window.go:25-31``) onto Spark's watermark — semantics
    delta (reference bounds lateness by slide) documented in SURVEY §7.

    ``EmitPartialWindow`` (``flow/sliding_window.go:25-32,213-246``):
    run the query with ``outputMode("update")`` — each trigger emits the
    current (partial) aggregate of every window that changed, exactly
    the early-emission behavior (demonstrated in
    test_streaming.py::test_sliding_window_emit_partial_update_mode).
    """
    return _windowed(ts, lambda t: F.window(t, size, slide), aggs, keys,
                     watermark, "sliding_window")


def session_window(ts: str | Column, gap: str, *aggs: Column,
                   keys: Sequence[Column | str] = (),
                   watermark: str | None = None) -> Flow:
    """Inactivity-gap sessions — built-in ``session_window()``
    (``flow/session_window.go:102-140``)."""
    return _windowed(ts, lambda t: F.session_window(t, gap), aggs, keys,
                     watermark, "session_window")


def keyed(keys: Sequence[Column | str], *aggs: Column) -> Flow:
    """Per-key aggregation — Keyed composed with an inner aggregate chain
    (``flow/keyed.go:53-158``). Spark gives one-logical-instance-per-key
    natively via hash shuffle on the key."""
    return Flow(lambda df: df.groupBy(*_cols(keys)).agg(*aggs), name="keyed")
