"""Throttler: rate-limit to N elements per period.

Reference: ``flow/throttler.go:12-26,58,117-132,160-170`` — quota per
period, Backpressure mode blocks upstream, Discard mode drops when the
buffer is full.

Spark-first: rate control belongs at the SOURCE in a micro-batch engine —
per-element token buckets inside a distributed stage would serialize the
pipeline. The faithful mappings:

  - Backpressure == ingestion caps: Kafka ``maxOffsetsPerTrigger``, file
    ``maxFilesPerTrigger``, rate source ``rowsPerSecond`` + trigger
    interval. ``throttle_options`` computes these.
  - Discard == admission control: deterministic sampling/limit per
    micro-batch (``discard_over_quota`` keeps the first ``quota`` elements
    per period bucket — the reference's drop-when-full approximated
    deterministically, flagged in SURVEY §2.1#8 as approximate).

The token bucket (``token_bucket_admit``) is one step, ``_token_bucket``,
on the per-key fold core's batch driver (``aggregate._keyed_fold``);
``streaming.stateful.token_bucket_stream`` runs the same step on the
streaming driver.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..api import Flow
from .aggregate import _keyed_fold


#: per-source spelling of "at most N elements per trigger"
_QUOTA_OPTION = {
    "kafka": "maxOffsetsPerTrigger",
    "rate-micro-batch": "rowsPerBatch",
    "gss_replay": "rowsPerBatch",
    "file": "maxFilesPerTrigger",
}


def throttle_options(elements: int, period_seconds: float,
                     source: str = "kafka") -> dict[str, str]:
    """Source/trigger options implementing Backpressure-mode throttling
    (``flow/throttler.go:160-170``: quota per period, upstream blocked —
    in a micro-batch engine the source simply doesn't advance its offset
    past the quota, which IS blocking the upstream).

    Use with: ``readStream.format(source).options(**opts)`` plus
    ``trigger(processingTime=opts.pop("__trigger_processing_time"))``.
    ``source`` picks the right option spelling (Kafka
    ``maxOffsetsPerTrigger``, rate-micro-batch/gss_replay
    ``rowsPerBatch``, file ``maxFilesPerTrigger``).
    """
    if elements <= 0 or period_seconds <= 0:
        raise ValueError("elements and period must be positive")  # flow/throttler_test.go:74-96
    quota_key = _QUOTA_OPTION.get(source, "maxOffsetsPerTrigger")
    return {
        quota_key: str(elements),
        "__trigger_processing_time": f"{period_seconds} seconds",
    }


def discard_over_quota(quota: int, ts: str | Column, period: str,
                       *, order_by: Sequence[Column | str] | None = None,
                       keys: Sequence[Column | str] = ()) -> Flow:
    """Discard-mode approximation: keep first ``quota`` elements per
    ``period`` bucket of ``ts`` (``flow/throttler.go:117-125``).

    ``keys`` scopes the quota per key (per-tenant/per-user rate
    limiting — beyond the reference's single global bucket): the window
    partitions on (keys..., bucket), so hot tenants can't starve the
    rest and the shuffle spreads across tenants instead of one global
    period partition. Deterministic given ``order_by``.
    """
    if quota <= 0:
        raise ValueError("quota must be positive")
    tcol = F.col(ts) if isinstance(ts, str) else ts

    def _apply(df: DataFrame) -> DataFrame:
        bucket = F.window(tcol, period).getField("start").alias("__tb")
        ob = [F.col(c) if isinstance(c, str) else c for c in (order_by or [tcol])]
        kcols = [F.col(k) if isinstance(k, str) else k for k in keys]
        w = Window.partitionBy(*kcols, F.col("__tb")).orderBy(*ob)
        return (df.withColumn("__tb", bucket)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= quota)
                .drop("__tb", "__rn"))

    return Flow(_apply, name="throttler_discard")


def _token_bucket(df: DataFrame, rate_micro_per_sec: int, burst_micro: int,
                  cost_micro: int, ts_col: str) -> tuple:
    """The token-bucket step of the per-key fold core (state: micro-tokens
    and the last-seen second, null before the key's first event) and its
    output schema, for ``token_bucket_admit`` and ``token_bucket_stream``.
    A row with a null ts gets a null decision and balance and leaves its
    key's bucket as it was."""
    if rate_micro_per_sec < 0 or burst_micro < 1 or cost_micro < 1:
        raise ValueError(
            "need rate_micro_per_sec >= 0, burst_micro >= 1, "
            f"cost_micro >= 1; got {rate_micro_per_sec}/{burst_micro}/"
            f"{cost_micro}")
    cols = df.columns
    out_schema = ", ".join(
        f"{n} {t}" for n, t in df.dtypes) + ", admitted boolean, " \
        "tokens_after_micro bigint"

    def step(key, rows, state):
        tokens, last = (burst_micro, None) if state is None else state
        ts = rows[ts_col].astype("datetime64[ns]")
        secs = (ts.view("int64") // 1_000_000_000).tolist()
        admitted, after = [], []
        for s, null in zip(secs, np.isnat(ts)):
            if null:
                admitted.append(None)
                after.append(None)
                continue
            if last is not None:
                tokens = min(burst_micro,
                             tokens + (s - last) * rate_micro_per_sec)
            last = s
            ok = tokens >= cost_micro
            if ok:
                tokens -= cost_micro
            admitted.append(ok)
            after.append(tokens)
        # object only when a null is present: a float64 column would
        # round the balances through 2**53
        return (tokens, last), {
            **{c: rows[c] for c in cols}, "admitted": admitted,
            "tokens_after_micro": np.array(
                after, dtype=object if None in after else np.int64)}

    return step, out_schema


def token_bucket_admit(df: DataFrame, *, rate_micro_per_sec: int,
                       burst_micro: int, cost_micro: int = 1_000_000,
                       key_col: str = "user_id", ts_col: str = "ts",
                       tiebreak_col: str = "event_id") -> DataFrame:
    """Token-bucket admission control — the burst-tolerant rate limiter
    the fixed-window Discard throttler cannot express (a client may
    burst up to ``burst_micro`` at once, then sustain
    ``rate_micro_per_sec``; fixed windows allow 2x bursts at window
    boundaries). Semantics are the textbook bucket: tokens start full,
    refill linearly with event-time seconds, cap at burst; an event is
    admitted iff >= ``cost_micro`` tokens remain, and only admission
    spends.

    ENGINE-EXACT: all arithmetic is INTEGER micro-tokens (refill =
    whole-second delta x rate), so the sequential fold is
    bit-reproducible in any engine — the DuckDB oracle replays it as a
    recursive CTE. The fold is inherently sequential per key AND
    data-dependent (a rejection spends nothing, so the admitted set
    feeds back into the state — the GCRA recursion; no associative
    prefix form exists, hence no JVM window-fold path like
    ``ewma_halving``'s linear recurrence). A key's rows fold in
    (ts, tiebreak) order on the per-key fold core's batch driver
    (module docstring): one shuffle on the key, and a task holds one
    Arrow batch plus one key's bucket. Returns the input rows plus
    (admitted: boolean, tokens_after_micro: long).
    """
    step, out_schema = _token_bucket(df, rate_micro_per_sec, burst_micro,
                                     cost_micro, ts_col)
    return _keyed_fold(df, key_cols=[key_col],
                       order_cols=[ts_col, tiebreak_col], step=step,
                       output_schema=out_schema)
