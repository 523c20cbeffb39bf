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
``running_fold_py`` (per-key sequential).

Sequential per-key folds share ONE core, ``_fold_keys``: one
``step(key, rows, state)`` per key's (key, order)-sorted run. It has a
batch driver, ``_keyed_fold`` (one ``mapInPandas`` pass that carries
only the last key's state across Arrow batches), and a streaming one,
``streaming.stateful._bucketed_state``. ``running_fold_py``,
``holt_linear``, ``holt_winters_additive`` and
``throttle.token_bucket_admit`` are steps on the batch driver, each
sharing its step with its streaming twin.
"""

from __future__ import annotations

from itertools import chain
from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegralType

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


def _concat(pieces: list):
    """One output column from every key's piece. A piece turns float64
    where its key's rows hold a null in an integral column; pieces of
    mixed dtypes join as objects, so one key's null does not round
    another key's values through float64."""
    if len(pieces) == 1:
        return pieces[0]
    if not isinstance(pieces[0], np.ndarray):
        return list(chain.from_iterable(pieces))
    if len({p.dtype for p in pieces}) > 1:
        return np.concatenate([p.astype(object) for p in pieces])
    return np.concatenate(pieces)


def _null_flagged(df: DataFrame, *extra: Column) -> tuple[DataFrame, dict]:
    """``df`` with each integral column null-free beside a
    ``__null_<column>`` flag, plus ``extra`` columns, for ``_fold_keys``;
    and the integral columns' types."""
    ints = {f.name: f.dataType for f in df.schema
            if isinstance(f.dataType, IntegralType)}
    cols = [F.coalesce(c, F.lit(0).cast(ints[c])).alias(c) if c in ints
            else c for c in df.columns]
    flags = [F.col(c).isNull().alias(f"__null_{c}") for c in ints]
    return df.select(*cols, *flags, *extra), ints


def _fold_keys(rows: pd.DataFrame, store: dict, *, key_cols: list[str],
               order_cols: list[str], ints: dict,
               step: Callable) -> pd.DataFrame | None:
    """The per-key fold core (module docstring) over one pandas frame of
    ``_null_flagged`` rows.

    The rows are stably sorted ONCE by (key, *order_cols) — ties keep
    arrival order, nulls sort last — and ``step(key, rows, state)``
    runs for each key in the frame:

    - ``key``: tuple of the key values, null as None (so null keys fold
      as one key, like ``groupBy``);
    - ``rows``: the key's rows, ``{column: ndarray}``;
    - ``state``: the key's state from ``store``, None for a new key.

    It returns (new state, output columns ``{name: list|ndarray}`` or
    None); the new state goes back into ``store``, and the result is one
    frame of every key's output columns concatenated, None when no key
    emitted. The step sees each key's rows as a per-key group would:
    pyspark hands pandas an integer column holding a null as float64
    (exact only to 2**53), so integral columns reach pandas null-free
    beside a null flag, and only a key whose own rows hold a null sees
    that column as float64 with NaN (key columns: as Python ints and
    None).
    """
    nulls = []
    for c in ints:
        flag = f"__null_{c}"
        if not rows[flag].any():
            del rows[flag]
        elif c in key_cols:
            rows[c] = rows[c].astype(object).where(~rows.pop(flag), None)
        else:
            nulls.append(c)
    rows["__key"] = rows.groupby(key_cols, sort=False,
                                 dropna=False).ngroup()
    order = [o for c in order_cols
             for o in ((f"__null_{c}", c) if c in nulls else (c,))]
    rows = rows.sort_values(["__key", *order], kind="stable")
    cols = {c: rows[c].to_numpy() for c in rows.columns}
    flags = {c: cols.pop(f"__null_{c}") for c in nulls}
    cuts = (np.flatnonzero(np.diff(cols["__key"])) + 1).tolist()
    starts = [0, *cuts]
    keys = zip(*([None if pd.isna(v) else v
                  for v in rows[k].iloc[starts].tolist()]
                 for k in key_cols))
    out: dict = {}
    for key, lo, hi in zip(keys, starts, [*cuts, len(rows)]):
        part = {c: a[lo:hi] for c, a in cols.items()}
        for c, flag in flags.items():
            if flag[lo:hi].any():
                part[c] = np.where(flag[lo:hi], np.nan, part[c])
        new, emitted = step(key, part, store.get(key))
        store[key] = new
        for c, v in (emitted or {}).items():
            out.setdefault(c, []).append(v)
    return pd.DataFrame({c: _concat(p) for c, p in out.items()}) if out \
        else None


def _keyed_fold(df: DataFrame, *, key_cols: list[str], order_cols: list[str],
                step: Callable, output_schema: str) -> DataFrame:
    """The batch driver of ``_fold_keys`` (module docstring): one
    shuffle on the keys, a sort within partitions by (keys, *order_cols
    nulls last), so a key's rows are one contiguous run, and one
    ``mapInPandas`` pass. Only the last key's state carries from one
    Arrow batch to the next: a key whose rows span batches folds on, and
    per-task memory is one Arrow batch plus one key's state, whatever
    the partition holds."""

    def run(batches):
        store: dict = {}
        for rows in filter(len, batches):
            out = _fold_keys(rows, store, key_cols=key_cols,
                             order_cols=order_cols, ints=ints, step=step)
            last = next(reversed(store))
            store = {last: store[last]}
            if out is not None:
                yield out

    part = df.repartition(*key_cols).sortWithinPartitions(
        *key_cols, *(F.col(c).asc_nulls_last() for c in order_cols))
    flagged, ints = _null_flagged(part)
    return flagged.mapInPandas(run, output_schema)


def _fold_step(fold_fn: Callable, init, value_col: str,
               output_schema: str) -> Callable:
    """The running-fold step of ``_fold_keys``: folds a key's rows left
    to right from its accumulator (``init`` for a new key) and emits the
    accumulator after EVERY element as column ``acc``, beside the other
    ``output_schema`` columns."""
    out_cols = DataType.fromDDL(output_schema).names

    def step(key, rows, state):
        acc = init if state is None else state[0]
        accs = []
        for v in rows[value_col]:
            acc = fold_fn(v, acc)
            accs.append(acc)
        return (acc,), {c: accs if c == "acc" else rows[c] for c in out_cols}

    return step


def running_fold_py(fold_fn: Callable, init, *, order_col: str, value_col: str,
                    key_cols: Sequence[str], output_schema: str) -> Flow:
    """Arbitrary-Python running fold, sequential per key.

    Each key's rows fold in ``order_col`` order from ``init`` — exactly
    the reference loop (``flow/fold.go:83-90``) but parallel across
    keys — and every row comes out with its accumulator in column
    ``acc``; null keys fold as one key. It is ``running_fold_stream``'s
    fold step on the batch driver (module docstring): keys shuffle once,
    and a task holds one Arrow batch plus one key's accumulator, never a
    whole key group. The user fold_fn stays an opaque per-row Python
    step — that is the operator's contract.
    """

    def _apply(df: DataFrame) -> DataFrame:
        return _keyed_fold(df, key_cols=list(key_cols), order_cols=[order_col],
                           step=_fold_step(fold_fn, init, value_col,
                                           output_schema),
                           output_schema=output_schema)

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


def _grid_schema(fn: str, df: DataFrame, cols: tuple) -> str:
    """The (key, order, value) columns' DDL of a Holt fold's output,
    with its level and trend; a missing column fails loudly."""
    types = dict(df.dtypes)
    if any(c not in types for c in cols):
        raise ValueError(f"{fn}: missing column among {cols}")
    return ", ".join(f"{c} {types[c]}" for c in cols) \
        + ", level long, trend long"


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

    Plan: a step on the per-key fold core's batch driver (module
    docstring) over the key's ordered grid rows — state is two ints
    (and the key's first row, held until the second arrives), work is
    grid-grain (e.g. hours), never row-grain; keys parallelize across
    the cluster."""
    cols = (key_col, order_col, value_col)
    schema = _grid_schema("holt_linear", df, cols)

    def step(key, rows, state):
        lv, tr, first = state or (None, None, None)
        if first is not None:
            rows = {c: _concat([first[c], rows[c]]) for c in cols}
        ys = [int(v) for v in rows[value_col]]
        levels, trends = [], []
        if lv is None:
            if len(ys) < 2:
                return (None, None, {c: rows[c] for c in cols}), None
            lv, tr = ys[0], ys[1] - ys[0]
            levels, trends, ys = [lv], [tr], ys[1:]
        for y in ys:
            nl = _tdiv(y + 3 * (lv + tr), 4)
            tr = _tdiv((nl - lv) + 3 * tr, 4)
            lv = nl
            levels.append(lv)
            trends.append(tr)
        return (lv, tr, None), {**{c: rows[c] for c in cols},
                                "level": levels, "trend": trends}

    return _keyed_fold(df, key_cols=[key_col], order_cols=[order_col],
                       step=step, output_schema=schema)


def _hw_feed(model: tuple, y: int, period: int) -> tuple:
    """Feed one slot value ``y`` to the additive Holt-Winters model
    (init buffer, l, b, seasonal vector): the first ``period`` values
    fill the init buffer, every later one runs the recurrence. Returns
    the new model and, past the init, (forecast, level, trend,
    seasonal)."""
    buf, lv, tr, sea = model
    if len(sea) < period:
        buf.append(y)
        if len(buf) == period:
            lv = _tdiv(sum(buf), period)
            sea = [v - lv for v in buf]
        return (buf, lv, tr, sea), None
    s_old = sea.pop(0)
    forecast = lv + tr + s_old
    nl = _tdiv(y - s_old + 3 * (lv + tr), 4)
    tr = _tdiv((nl - lv) + 3 * tr, 4)
    ns = _tdiv((y - nl) + 3 * s_old, 4)
    sea.append(ns)
    return (buf, nl, tr, sea), (forecast, nl, tr, ns)


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

    Plan: a step on the per-key fold core's batch driver (module
    docstring) that feeds each grid row to ``_hw_feed``, the slot feed
    ``holt_winters_stream`` shares — state is m+2 ints, work is
    grid-grain (e.g. hours), never event-grain; keys parallelize across
    the cluster.
    """
    if period < 2:
        raise ValueError("holt_winters_additive: period must be >= 2")
    cols = (key_col, order_col, value_col)
    schema = _grid_schema("holt_winters_additive", df, cols) \
        + ", seasonal long" + (", forecast long" if emit_forecast else "")

    def step(key, rows, model):
        model, fed = model or ([], 0, 0, []), []
        for y in rows[value_col].tolist():
            model, out = _hw_feed(model, int(y), period)
            if out is not None:
                fed.append(out)
        if not fed:
            return model, None
        forecast, *lbs = (list(c) for c in zip(*fed))
        out = {c: rows[c][len(rows[c]) - len(fed):] for c in cols}
        out.update(zip(("level", "trend", "seasonal"), lbs))
        if emit_forecast:
            out["forecast"] = forecast
        return model, out

    return _keyed_fold(df, key_cols=[key_col], order_cols=[order_col],
                       step=step, output_schema=schema)
