"""Batch operator: buffer into groups by max count OR time interval.

Reference: ``flow/batch.go:31,82-119`` — emits ``[]T`` when the buffer hits
``maxBatchSize`` or ``timeInterval`` elapses, whichever first; final partial
batch on close (``flow/batch.go:98-104``).

Spark-first:
  - Bounded/batch data: count-batching is a deterministic grouping by
    ``floor((row_number-1)/maxSize)`` over an explicit order; time-batching
    is a tumbling window. Both are single-shuffle group-bys.
  - Streaming: Spark has no count-or-time window built-in; the faithful
    hybrid lives in ``streaming/stateful.py`` (applyInPandasWithState with
    count + processing-time timeout). Micro-batches themselves are already
    a time-bounded batch, so the streaming default is the native trigger.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..api import Flow
from .topology import distributed_ordinal


def batch_by_count(max_size: int, *, order_by: Sequence[Column | str],
                   partition_by: Sequence[Column | str] | None = None,
                   batch_col: str = "batch_id") -> Flow:
    """Assign each row a batch id: consecutive groups of ``max_size`` in
    ``order_by`` order (``flow/batch.go:86-96`` count path).

    Emits the row + ``batch_id`` rather than an array element — the
    relational idiom (SURVEY §1.2: keep one row per element + group column
    instead of materializing ``[]T``). ``collect_batches`` converts to the
    array form when the reference shape is wanted.

    Two numbering strategies:
      * ``partition_by`` — per-key ``row_number()`` window, fully
        distributed;
      * otherwise GLOBAL numbering via ``distributed_ordinal`` (range
        shuffle + per-partition rank + broadcast prefix offsets): the
        global ``row_number()`` batch ids with no Exchange
        SinglePartition anywhere.
    """
    if max_size <= 0:
        raise ValueError("max_size must be positive")  # flow/batch_test.go:82-89
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    if partition_by:
        w = Window.partitionBy(*[F.col(c) if isinstance(c, str) else c
                                 for c in partition_by]).orderBy(*cols)
        return Flow(lambda df: df.withColumn(
            batch_col, F.floor((F.row_number().over(w) - 1) / max_size)),
            name="batch")

    def _apply(df: DataFrame) -> DataFrame:
        ordd = distributed_ordinal(df, order_by=cols, idx="__bord")
        return (ordd.withColumn(
            batch_col, F.floor((F.col("__bord") - 1) / max_size))
            .drop("__bord"))

    return Flow(_apply, name="batch")


def batch_by_time(ts: str | Column, interval: str, *, batch_col: str = "batch_id") -> Flow:
    """Time-interval batching == tumbling window id
    (``flow/batch.go:97-112`` timer path)."""
    tcol = F.col(ts) if isinstance(ts, str) else ts
    return Flow(lambda df: df.withColumn(
        batch_col, F.window(tcol, interval).getField("start")), name="batch_time")


def collect_batches(value_col: str | Column, *, group_cols: Sequence[str],
                    output: str = "value") -> Flow:
    """Materialize ``[]T`` per batch group — the reference element shape
    (``flow/batch.go:14``)."""
    vcol = F.col(value_col) if isinstance(value_col, str) else value_col
    return Flow(lambda df: df.groupBy(*group_cols)
                .agg(F.collect_list(vcol).alias(output)), name="collect_batches")
