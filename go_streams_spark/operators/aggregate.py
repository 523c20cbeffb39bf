"""Fold / Reduce: running (per-element-emitting) aggregates.

Reference semantics:
  - Fold: seeded running accumulate, emits accumulator after EVERY element
    (``flow/fold.go:8,34,83-90``; golden prefix-concat ``flow/fold_test.go:38-39``).
  - Reduce: seedless — first element is the initial accumulator
    (``flow/reduce.go:8,31,80-91``; golden prefix-sums [1,3,6,10,15]
    ``flow/reduce_test.go:34-35``).

Both are strictly sequential in the reference (``flow/fold.go:80-82``) —
a total order is required. Spark-first mapping: a running aggregate is a
window function over an explicit order column —
``Window.orderBy(ord).rowsBetween(unboundedPreceding, currentRow)``.
With ``partition_by`` the scan distributes per key (the scalable form);
without it Spark must range-sort but each partition still computes its
frame locally. For non-algebraic Python accumulators use
``running_fold_py`` (applyInPandas, per-key sequential).
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..api import Flow

_BUILTIN = {
    "sum": F.sum, "min": F.min, "max": F.max, "count": F.count,
    "avg": F.avg, "collect_list": F.collect_list, "product": F.product,
}

# aggregators that post-process the windowed aggregate: fn(col, window)
_BUILTIN_WINDOWED = {
    "concat": lambda c, w: F.array_join(F.collect_list(c).over(w), ""),
}


def _window(order_by: Sequence[Column | str], partition_by: Sequence[Column | str] | None):
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w = Window.orderBy(*cols)
    if partition_by:
        w = Window.partitionBy(*[F.col(c) if isinstance(c, str) else c for c in partition_by]).orderBy(*cols)
    return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)


def running_reduce(col: Column | str, *, order_by: Sequence[Column | str],
                   partition_by: Sequence[Column | str] | None = None,
                   fn: str | Callable[[Column], Column] = "sum",
                   output: str = "acc") -> Flow:
    """Seedless running aggregate (Reduce, ``flow/reduce.go:80-91``).

    ``fn`` is an algebraic aggregate name or a Column aggregator; the
    emitted column holds the accumulator value at each element, matching
    the reference's emit-after-every-element contract.
    """
    c = F.col(col) if isinstance(col, str) else col
    w = _window(order_by, partition_by)
    if isinstance(fn, str) and fn in _BUILTIN_WINDOWED:
        expr = _BUILTIN_WINDOWED[fn](c, w)
    else:
        agg = _BUILTIN[fn] if isinstance(fn, str) else fn
        expr = agg(c).over(w)
    return Flow(lambda df: df.withColumn(output, expr), name="reduce")


def running_fold(col: Column | str, init, *, order_by: Sequence[Column | str],
                 partition_by: Sequence[Column | str] | None = None,
                 fn: str | Callable[[Column], Column] = "sum",
                 combine_init: Callable[[Column, object], Column] | None = None,
                 output: str = "acc") -> Flow:
    """Seeded running aggregate (Fold, ``flow/fold.go:83-90``).

    For an algebraic ``fn`` the seed merges via ``combine_init`` (defaults
    to ``+`` for sum-like folds), preserving ``f(x, acc)`` left-fold
    semantics when f is associative-with-identity-shifted-seed.
    """
    inner = running_reduce(col, order_by=order_by, partition_by=partition_by,
                           fn=fn, output=output)
    merge = combine_init or (lambda acc, z: acc + F.lit(z))

    def _apply(df: DataFrame) -> DataFrame:
        return inner(df).withColumn(output, merge(F.col(output), init))

    return Flow(_apply, name="fold")


def final_reduce(*aggs: Column) -> Flow:
    """Final-value-only aggregate — plain ``df.agg`` (map-side partials +
    one exchange; the scalable default when only the last accumulator is
    wanted)."""
    return Flow(lambda df: df.agg(*aggs), name="reduce_final")


def running_fold_py(fold_fn: Callable, init, *, order_col: str, value_col: str,
                    key_cols: Sequence[str], output_schema: str,
                    output: str = "acc") -> Flow:
    """Arbitrary-Python running fold, sequential per key via applyInPandas.

    The per-key group is sorted by ``order_col`` then folded left-to-right
    — exactly the reference loop (``flow/fold.go:83-90``) but parallel
    across keys. Keys shuffle once; each group must fit in executor memory
    (same contract as any Spark grouped-map op).

    r9 (guide §4.2): the grouped-map boundary is keyed on a hash BUCKET
    of ``key_cols``, not the raw key — FlatMapGroupsInPandas pays a
    per-GROUP Arrow round-trip (~2-4 ms), so one call per key turned a
    1500-key corpus into seconds of pure group overhead. One call now
    folds a whole bucket: rows sort by (key, order) and the accumulator
    resets to ``init`` on key change, which is fold-for-fold identical
    to the per-key form (each key still folds alone, in order-col
    order, from the same init). The user fold_fn stays an opaque
    per-row Python step — that is the operator's contract.
    """

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = (pdf.sort_values([*key_cols, order_col])
               .drop(columns=["__fold_b"]))
        out = []
        acc = init
        prev_key = None
        for key, v in zip(zip(*(pdf[k] for k in key_cols)), pdf[value_col]):
            if key != prev_key:
                acc = init
                prev_key = key
            acc = fold_fn(v, acc)
            out.append(acc)
        pdf = pdf.copy()
        pdf[output] = out
        return pdf

    def _apply(df: DataFrame) -> DataFrame:
        n_buckets = df.sparkSession.sparkContext.defaultParallelism * 2
        bucketed = df.withColumn(
            "__fold_b",
            F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]),
                   F.lit(n_buckets)))
        return bucketed.groupBy("__fold_b").applyInPandas(
            _fold, schema=output_schema)

    return Flow(_apply, name="fold_py")


def salted_agg(keys: Sequence[str], aggs: dict, *, salt_buckets: int = 16,
               salt_col: str = "__salt") -> Flow:
    """Two-phase skew-resistant aggregation: partial agg on
    (keys + salt), final merge on keys.

    For hot keys (one key >> everything else) a plain groupBy funnels
    the key's entire volume through one reducer; salting spreads the
    partial aggregation across ``salt_buckets`` reducers and the final
    merge handles only ``salt_buckets`` rows per key. Only algebraic
    aggregates decompose this way — ``aggs`` maps output column ->
    (partial_fn, merge_fn) pairs, e.g. {"cnt": ("count", "sum"),
    "total": ("sum", "sum"), "mx": ("max", "max")}.

    AQE's skew handling covers JOINS; skewed AGGREGATION keys still need
    this (or partial-agg push-down, which Spark does apply — salting is
    the explicit form when partials alone can't keep up).
    """
    _fns = {"sum": F.sum, "count": lambda c: F.count(F.lit(1)), "max": F.max,
            "min": F.min}

    def _apply(df: DataFrame) -> DataFrame:
        salted = df.withColumn(salt_col, F.pmod(F.spark_partition_id()
                                                + F.crc32(F.concat_ws("|", *keys)),
                                                F.lit(salt_buckets)))
        partial = salted.groupBy(*keys, salt_col).agg(
            *[_fns[p](c if p != "count" else F.lit(1)).alias(f"__p_{out}")
              for out, (p, _m, c) in _normalize(aggs).items()])
        return partial.groupBy(*keys).agg(
            *[_fns[m](F.col(f"__p_{out}")).alias(out)
              for out, (_p, m, _c) in _normalize(aggs).items()])

    return Flow(_apply, name="salted_agg")


def _normalize(aggs: dict) -> dict:
    out = {}
    for name, spec in aggs.items():
        if len(spec) == 2:
            p, m = spec
            out[name] = (p, m, name)
        else:
            p, m, c = spec
            out[name] = (p, m, c)
    return out


def ewma_halving(df: DataFrame, *, key_cols: Sequence[str],
                 order_cols: Sequence[str], value_col: str,
                 lags: int = 10, out_col: str = "ewma") -> DataFrame:
    """Per-key exponentially-weighted moving average with decay 1/2
    per step, truncated at ``lags`` terms (2^-10 < 0.1% residual
    weight — the pandas ``ewm(adjust=True)`` form over a bounded
    history):

      ewma_t = sum_{j=0..L-1} 2^(L-1-j) * x_(t-j)
             / sum over the same available lags of 2^(L-1-j)

    Engine-exactness is by CONSTRUCTION, not rounding luck: values are
    pinned to integer micro-units (floor(x*1e6 + 0.5), the
    embedding_quantize_int8 convention), the weighted numerator and
    denominator are pure BIGINT sums of lag() columns — no float
    accumulation whose order could differ between engines — and the
    single double division at the end is IEEE-identical everywhere.

    Scale shape: one shuffle on the key, one per-key sort shared by
    every lag column; ``lags`` is a constant column count, not a
    per-row loop. The streaming analogue is running_fold_stream with
    the same integer kernel.
    """
    if lags < 1:
        raise ValueError("ewma_halving: lags must be >= 1")
    if lags > 60:
        raise ValueError("ewma_halving: lags > 60 overflows the "
                         "BIGINT weight 2^(lags-1)")
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    m = F.floor(F.col(value_col) * 1000000 + F.lit(0.5)).cast("long")
    base = df.withColumn("__m", m)
    lag_cols = [F.lag("__m", j).over(w) for j in range(lags)]
    num = None
    den = None
    for j, lc in enumerate(lag_cols):
        wt = F.lit(1 << (lags - 1 - j)).cast("long")
        term = F.when(lc.isNotNull(), lc * wt).otherwise(F.lit(0))
        avail = F.when(lc.isNotNull(), wt).otherwise(F.lit(0))
        num = term if num is None else num + term
        den = avail if den is None else den + avail
    return (base.withColumn(
        out_col,
        F.round(num.cast("double") / den.cast("double") / 1000000.0, 4))
        .drop("__m"))


def _tdiv(a: int, d: int) -> int:
    """Truncating (toward-zero) division — matches Spark SQL `div` and
    DuckDB `//` on negatives, unlike Python's floor `//`."""
    return a // d if a >= 0 else -((-a) // d)


def holt_linear(df: DataFrame, *, key_col: str, order_col: str,
                value_col: str) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend) with
    alpha = beta = 1/4, in exact int64 arithmetic:

        l_t = (y_t + 3*(l_{t-1} + b_{t-1})) div 4
        b_t = ((l_t - l_{t-1}) + 3*b_{t-1}) div 4

    initialized classically (l_1 = y_1, b_1 = y_2 - y_1; series shorter
    than 2 points are dropped). The trend-corrected sibling of
    ``ewma_halving``: EWMA lags a trending series by design, Holt
    tracks it — the standard capacity-planning / forecasting smoother.
    Rational 1/4 weights + truncating division keep every state exact
    (Spark `div` and DuckDB `//` both truncate toward zero), so the
    sequential fold is engine- and partitioning-exact and a recursive
    CTE replays it bit-for-bit.

    Plan: one applyInPandas fold per key over the key's ordered grid
    rows — state is two ints, work is grid-grain (e.g. hours), never
    row-grain; keys parallelize across the cluster."""
    key_type = dict(df.dtypes).get(key_col)
    val_type = dict(df.dtypes).get(value_col)
    order_type = dict(df.dtypes).get(order_col)
    if key_type is None or val_type is None or order_type is None:
        raise ValueError(
            f"holt_linear: missing column among {key_col!r}, "
            f"{order_col!r}, {value_col!r}")

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort") \
            .reset_index(drop=True)
        if len(pdf) < 2:
            return pdf.iloc[0:0].assign(level=pd.Series(dtype="int64"),
                                        trend=pd.Series(dtype="int64"))
        ys = [int(v) for v in pdf[value_col]]
        lv, tr = ys[0], ys[1] - ys[0]
        levels, trends = [lv], [tr]
        for y in ys[1:]:
            nl = _tdiv(y + 3 * (lv + tr), 4)
            tr = _tdiv((nl - lv) + 3 * tr, 4)
            lv = nl
            levels.append(lv)
            trends.append(tr)
        return pd.DataFrame({
            key_col: pdf[key_col],
            order_col: pdf[order_col],
            value_col: pdf[value_col],
            "level": pd.Series(levels, dtype="int64"),
            "trend": pd.Series(trends, dtype="int64")})

    schema = (f"{key_col} {key_type}, {order_col} {order_type}, "
              f"{value_col} {val_type}, level long, trend long")
    return df.groupBy(key_col).applyInPandas(_fold, schema=schema)


def holt_winters_additive(df: DataFrame, *, key_col: str, order_col: str,
                          value_col: str, period: int,
                          emit_forecast: bool = False) -> DataFrame:
    """Holt-Winters triple exponential smoothing (additive seasonality)
    with alpha = beta = gamma = 1/4, in exact int64 arithmetic:

        l_t = (y_t - s_{t-m} + 3*(l_{t-1} + b_{t-1})) div 4
        b_t = ((l_t - l_{t-1}) + 3*b_{t-1})            div 4
        s_t = ((y_t - l_t) + 3*s_{t-m})                div 4

    over season length ``m = period``, classically initialized from the
    first season: l_m = mean(y_1..y_m) (truncating div), b_m = 0,
    s_i = y_i - l_m for i = 1..m. Rows 1..m are consumed by the
    initialization; every row after it emits (level, trend, seasonal).
    Keys with fewer than ``period + 1`` rows emit nothing.

    The seasonal sibling of ``holt_linear``: Holt tracks a trend but
    lags a daily cycle by construction; Holt-Winters carries one
    seasonal component per grid slot (m extra ints of state) and is the
    standard capacity-planning forecaster for diurnal load. Rational
    1/4 weights + truncating division keep every state exact, so the
    fold is engine- and partitioning-exact and a recursive CTE that
    carries the seasonal vector as a LIST column replays it
    bit-for-bit.

    ``emit_forecast=True`` adds the ONE-STEP-AHEAD forecast column
    f_t = l_{t-1} + b_{t-1} + s_{t-m} (the state BEFORE observing
    y_t) — the residual y_t - f_t is the seasonal-adjusted surprise a
    monitoring rule thresholds on.

    Plan: one applyInPandas fold per key over the key's ordered grid
    rows — state is m+2 ints, work is grid-grain (e.g. hours), never
    event-grain; keys parallelize across the cluster.
    """
    if period < 2:
        raise ValueError("holt_winters_additive: period must be >= 2")
    from collections import deque
    key_type = dict(df.dtypes).get(key_col)
    val_type = dict(df.dtypes).get(value_col)
    order_type = dict(df.dtypes).get(order_col)
    if key_type is None or val_type is None or order_type is None:
        raise ValueError(
            f"holt_winters_additive: missing column among {key_col!r}, "
            f"{order_col!r}, {value_col!r}")

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort") \
            .reset_index(drop=True)
        extra = {"level": pd.Series(dtype="int64"),
                 "trend": pd.Series(dtype="int64"),
                 "seasonal": pd.Series(dtype="int64")}
        if emit_forecast:
            extra["forecast"] = pd.Series(dtype="int64")
        empty = pdf.iloc[0:0].assign(**extra)
        if len(pdf) < period + 1:
            return empty
        ys = [int(v) for v in pdf[value_col]]
        lv = _tdiv(sum(ys[:period]), period)
        tr = 0
        sea = deque(y - lv for y in ys[:period])
        levels, trends, seas, fores = [], [], [], []
        for y in ys[period:]:
            s_old = sea.popleft()
            fores.append(lv + tr + s_old)
            nl = _tdiv(y - s_old + 3 * (lv + tr), 4)
            tr = _tdiv((nl - lv) + 3 * tr, 4)
            lv = nl
            ns = _tdiv((y - nl) + 3 * s_old, 4)
            sea.append(ns)
            levels.append(lv)
            trends.append(tr)
            seas.append(ns)
        out = pdf.iloc[period:].reset_index(drop=True)
        cols = {
            key_col: out[key_col],
            order_col: out[order_col],
            value_col: out[value_col],
            "level": pd.Series(levels, dtype="int64"),
            "trend": pd.Series(trends, dtype="int64"),
            "seasonal": pd.Series(seas, dtype="int64")}
        if emit_forecast:
            cols["forecast"] = pd.Series(fores, dtype="int64")
        return pd.DataFrame(cols)

    schema = (f"{key_col} {key_type}, {order_col} {order_type}, "
              f"{value_col} {val_type}, level long, trend long, "
              f"seasonal long")
    if emit_forecast:
        schema += ", forecast long"
    return df.groupBy(key_col).applyInPandas(_fold, schema=schema)
