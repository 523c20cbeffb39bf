"""Output checks, run outside every timed region.

Event workloads compare an order-insensitive digest of each output (row
count and column sums) with the same aggregation computed by DuckDB
over the generated files. The curation workload compares each query's
rows with the registry's own ``oracle_sql`` on DuckDB, normalised by
``tools/check_oracle.normalize`` and compared column by column as that
sweep compares them (floats within 1e-9, everything else as strings).
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from tools.check_oracle import normalize

MIN = 60_000_000  # microseconds


def spark_digest(df, cols: list[str]) -> tuple:
    """(row count, sum of each column) of a Spark DataFrame; timestamp
    columns are summed exactly as epoch microseconds."""
    from pyspark.sql import functions as F
    types = dict(df.dtypes)
    exprs = [F.count(F.lit(1))]
    for c in cols:
        col = F.col(c)
        if types[c].startswith("timestamp"):
            col = F.unix_micros(col).cast("decimal(38,0)")
        exprs.append(F.sum(col))
    return tuple(df.agg(*exprs).first())


def duck_digest(sql: str, cols: list[str]) -> tuple:
    sums = ", ".join(f"sum({c})" for c in cols)
    return tuple(duckdb.sql(f"SELECT count(*), {sums} FROM ({sql})").fetchone())


def same_digest(a: tuple, b: tuple) -> bool:
    """Integer sums must agree exactly, float sums to 1e-12 relative."""
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if x is None or y is None:
            if x is not y:
                return False
        elif isinstance(x, float) or isinstance(y, float):
            if not math.isclose(float(x), float(y), rel_tol=1e-12, abs_tol=1e-9):
                return False
        elif int(x) != int(y):
            return False
    return True


def events_sql(glob: str) -> str:
    """The generated events with ``t`` as epoch microseconds."""
    return (f"SELECT *, epoch_us(ts) AS t, filename AS file "
            f"FROM read_parquet('{glob}', filename = true)")


def ops_expected(glob: str) -> dict[str, tuple]:
    """Digests of the four batch chains in ``workloads.ops_chains``."""
    ev = events_sql(glob)
    w5, w10, gap = 5 * MIN, 10 * MIN, 5 * MIN
    tumbling = f"""
      SELECT user_id, t - t % {w5} AS ws, t - t % {w5} + {w5} AS we,
             count(*) AS n, sum(value * 2) AS v
      FROM ({ev}) WHERE event_type <> 'error' GROUP BY ALL"""
    sliding = f"""
      SELECT user_id, ws, ws + {w10} AS we, count(*) AS n, sum(value) AS v
      FROM (SELECT user_id, value, unnest([t - t % {w5}, t - t % {w5} - {w5}]) AS ws
            FROM ({ev}))
      GROUP BY ALL"""
    session = f"""
      SELECT user_id, sid, min(t) AS ws, max(t) + {gap} AS we,
             count(*) AS n, sum(value) AS v
      FROM (SELECT user_id, t, value,
                   sum(CASE WHEN t - prev >= {gap} THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY t, event_id) AS sid
            FROM (SELECT user_id, t, value, event_id,
                         lag(t, 1, t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
                  FROM ({ev})))
      GROUP BY ALL"""
    fold = f"""
      SELECT user_id, sum(value) OVER (PARTITION BY user_id ORDER BY t, event_id
                                       ROWS UNBOUNDED PRECEDING) AS acc
      FROM ({ev})"""
    win = ["user_id", "n", "v", "ws", "we"]
    return {
        "tumbling": duck_digest(tumbling, win),
        "sliding": duck_digest(sliding, win),
        "session": duck_digest(session, win),
        "fold": duck_digest(fold, ["user_id", "acc"]),
    }


def stream_window_expected(glob: str, watermark_us: int) -> tuple:
    """Digest of the append-mode windowed stream: exactly the windows the
    final watermark has closed."""
    w5 = 5 * MIN
    sql = f"""
      SELECT * FROM (
        SELECT user_id, t - t % {w5} AS ws, t - t % {w5} + {w5} AS we,
               count(*) AS n, sum(value * 2) AS v
        FROM ({events_sql(glob)}) WHERE event_type <> 'error' GROUP BY ALL)
      WHERE we <= {watermark_us}"""
    return duck_digest(sql, ["user_id", "n", "v", "ws", "we"])


def stream_fold_expected(glob: str) -> tuple:
    """Digest of the Python-state running fold: per key, micro-batches
    in file order and rows by ``event_id`` within each batch."""
    sql = f"""
      SELECT user_id, event_id,
             sum(value) OVER (PARTITION BY user_id ORDER BY file, event_id
                              ROWS UNBOUNDED PRECEDING) AS acc
      FROM ({events_sql(glob)})"""
    return duck_digest(sql, ["user_id", "event_id", "acc"])


def max_ts_us(files: list[str], where: str) -> int:
    listed = ", ".join(f"'{f}'" for f in files)
    return duckdb.sql(f"SELECT max(epoch_us(ts)) FROM read_parquet([{listed}]) "
                      f"WHERE {where}").fetchone()[0]


def oracle_mismatch(spark_rows: pd.DataFrame, oracle_rows: pd.DataFrame) -> str | None:
    """None when the rows match the oracle's, else a one-line reason."""
    s, d = normalize(spark_rows), normalize(oracle_rows)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} != {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} != {len(d)}"
    for c in s.columns:
        a, b = s[c], d[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            ok = ((a.astype(float) - b.astype(float)).abs() < 1e-9) | (a.isna() & b.isna())
        else:
            ok = a.astype(str) == b.astype(str)
        if not ok.all():
            return f"column {c} differs in {int((~ok).sum())} rows"
    return None
