"""Query registry: every SURVEY §2 operator demonstrated as a (Spark
DataFrame query, DuckDB oracle SQL) pair over the driver's synthetic
tables. ``__spark_entry__.py`` exposes this registry to the driver.

Conventions (driver compare contract):
  - every computed column is aliased identically in Spark and SQL;
  - floating aggregates are rounded (2-4 dp) on BOTH sides so
    accumulation-order noise can't flip the value hash;
  - results are deterministic (explicit orders for any positional op).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .api import Source
from .plans.caching import track_persist
from .operators import (
    Map, FlatMap, Filter, PassThrough,
    running_reduce, batch_by_count,
    tumbling_window, sliding_window, session_window, keyed,
    split, merge, round_robin, zip_with, discard_over_quota,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

#: The driver's correctness gate runs at this SF; ``{SF_DIR}``
#: placeholders in oracle SQL (used by the few oracles that must name a
#: parquet path directly, e.g. parquet_metadata()) resolve here by
#: default so the driver's plain ``oracle_sql()`` stays valid, while
#: multi-SF sweeps (tools/check_oracle.py) resolve them to the sweep
#: dir — un-pinning the oracle from one SF.
GATE_SF_DIR = "/root/testdata/sf0.01"


def oracle_for(sf_dir: str = GATE_SF_DIR) -> dict[str, str]:
    """The oracle registry resolved for one SF: ``{SF_DIR}``
    placeholders substituted (plain string replace — oracle SQL
    contains no other brace tokens), and PER-SF GENERATOR callables
    (oracles whose literals are data-dependent, e.g. the Mahalanobis
    ridge-inverse) invoked with ``sf_dir``."""
    return {name: (sql(sf_dir) if callable(sql)
                   else sql.replace("{SF_DIR}", sf_dir))
            for name, sql in ORACLE.items()}

#: SinglePartition exemption classes a query may declare at registration
#: time (``@query(..., bound="customer-grain")``). The scale sweep
#: (tests/test_scale_patterns.py::test_single_partition_exchange_inputs_bounded)
#: derives the numeric row bound for each class FROM THE DATA at audit
#: time — declaring a class here documents WHY the query's global
#: sort/rank is volume-independent, it never grants a free pass on row
#: counts. Undeclared queries get only the default scalar/bookkeeping
#: bound and fail the sweep with a message pointing at this declaration.
BOUND_CLASSES: dict[str, str] = {
    # reduce-first series analytics: rows entering the global window are
    # one per hour bucket, independent of event volume
    "hour-grid": "distinct hours in events.ts",
    # one row per month bucket, independent of order volume
    "month-grid": "distinct months in orders.o_orderdate",
    # global concentration ranks over one row per customer; grows with
    # the business, not event volume (1e8+ mitigation: histogram-sketch
    # siblings, SCALE.md §13)
    "customer-grain": "rows in customer",
    "user-grain": "distinct user_id in events",
    # one row per document; grows with corpus CATALOG size, not token
    # volume (1e9+ docs: replace the global rank with a weight-threshold
    # filter or a per-shard top-k merge)
    "doc-grain": "rows in documents",
    # one row per bootstrap replicate — a CONSTANT chosen at call time
    # (B=200 here), volume-independent by construction
    "replicate-grid": "bootstrap replicate count (constant 200)",
}
BOUNDS: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a synthetic table. ``events.ts`` is parquet TIMESTAMP(NANOS)
    which Spark's vectorized reader rejects — read nanos as long and
    convert (integer div, matching DuckDB's truncation to micros).

    Session timezone is pinned to UTC here because the DRIVER's session
    (not ours) executes these queries: a non-UTC session would shift
    every collected timestamp relative to the DuckDB oracle's naive-UTC
    values and window alignment for day-scale windows."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table. Streaming file sources need an
    explicit schema, so take it from the parquet footer (one cheap batch
    read) instead of hard-coding — the synthetic data has shipped both
    TIMESTAMP(NANOS) (readable only as long via nanosAsLong) and native
    micros. Normalize ``ts`` to a timestamp column either way."""
    from .streaming import file_stream_source
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    src = file_stream_source(spark, sf_dir, fmt="parquet", schema=raw.schema,
                             pathGlobFilter="events.parquet")
    if dict(src.dtypes).get("ts") == "bigint":
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return src


def query(name: str, sql: str | None = None, bound: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        if bound is not None:
            if bound not in BOUND_CLASSES:
                raise ValueError(
                    f"{name}: unknown SinglePartition bound class {bound!r}; "
                    f"known: {sorted(BOUND_CLASSES)}")
            BOUNDS[name] = bound
        return fn
    return deco


# ---------------------------------------------------------------------------
# Flagship + keyed aggregation (Keyed #12 / final Reduce #5 — SURVEY §2)
# ---------------------------------------------------------------------------

@query("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       round(avg(l_quantity), 4)                                        AS avg_qty,
       round(avg(l_extendedprice), 4)                                   AS avg_price,
       round(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: Filter -> Keyed agg.

    Scale notes: predicate pushes down to the parquet scan; hash
    aggregation with map-side partials; two-column group key has tiny
    cardinality so the final exchange moves a handful of rows.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        Source(li)
        .via(Filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")))
        .via(keyed(
            ["l_returnflag", "l_linestatus"],
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        ))
        .to_df()
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Map (#1)
# ---------------------------------------------------------------------------

@query("map_project", """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS revenue,
       upper(l_returnflag)                          AS flag
FROM lineitem
""")
def map_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map as a multi-column projection (flow/map.go:11) — pure codegen,
    no shuffle, column pruning reaches the scan."""
    li = _t(spark, sf_dir, "lineitem")
    return Source(li).via(Map({
        "l_orderkey": F.col("l_orderkey"),
        "l_linenumber": F.col("l_linenumber"),
        "revenue": F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4),
        "flag": F.upper("l_returnflag"),
    })).to_df()


# ---------------------------------------------------------------------------
# Filter (#3)
# ---------------------------------------------------------------------------

@query("filter_predicate", """
SELECT event_id, user_id, event_type, round(value, 2) AS value
FROM events
WHERE event_type = 'click' AND value > 50
""")
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter with a pushdown-able compound predicate (flow/filter.go:93)."""
    ev = _t(spark, sf_dir, "events")
    return (
        Source(ev)
        .via(Filter((F.col("event_type") == "click") & (F.col("value") > 50)))
        .via(Map({"event_id": "event_id", "user_id": "user_id",
                  "event_type": "event_type", "value": F.round("value", 2)}))
        .to_df()
    )


# ---------------------------------------------------------------------------
# FlatMap (#2) + Flatten (#18)
# ---------------------------------------------------------------------------

@query("flatmap_words", """
SELECT word, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
""")
def flatmap_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FlatMap: 1 document -> N words (flow/flat_map.go:96), then keyed
    count. explode stays in codegen; agg is one shuffle on word."""
    docs = _t(spark, sf_dir, "documents")
    return (
        Source(docs)
        .via(FlatMap(F.split(F.col("text"), " "), output="word"))
        .via(Filter(F.col("word") != ""))
        .via(keyed(["word"], F.count(F.lit(1)).alias("cnt")))
        .to_df()
    )


# ---------------------------------------------------------------------------
# Running Reduce (#5) — per-element emission
# ---------------------------------------------------------------------------

@query("reduce_running_max", """
SELECT event_id, user_id,
       max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc
FROM events
""")
def reduce_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduce with per-element emission (flow/reduce.go:80-91): running max
    per user. Distributed: one shuffle on user_id, frame computed locally."""
    ev = _t(spark, sf_dir, "events")
    out = Source(ev).via(running_reduce(
        "value", order_by=["ts", "event_id"], partition_by=["user_id"],
        fn="max", output="acc")).to_df()
    return out.select("event_id", "user_id", "acc")


@query("fold_running_sum", """
SELECT event_id, user_id,
       round(100.0 + sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS acc
FROM events
""")
def fold_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold: seeded (init=100.0) running sum per user (flow/fold.go:83-90,
    golden model flow/fold_test.go:38-39)."""
    from .operators import running_fold
    ev = _t(spark, sf_dir, "events")
    out = Source(ev).via(running_fold(
        "value", 100.0, order_by=["ts", "event_id"], partition_by=["user_id"],
        fn="sum", output="acc")).to_df()
    return out.select("event_id", "user_id", F.round("acc", 2).alias("acc"))


# ---------------------------------------------------------------------------
# Windows (#9-11)
# ---------------------------------------------------------------------------

@query("tumbling_window_events", """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*)            AS cnt,
       round(sum(value),2) AS sum_value
FROM events
GROUP BY 1, 2
""")
def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TumblingWindow (flow/tumbling_window.go:88-118): 1h fixed windows,
    keyed by event_type. Single hash shuffle on (type, window)."""
    ev = _t(spark, sf_dir, "events")
    out = Source(ev).via(tumbling_window(
        "ts", "1 hour",
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        keys=["event_type"],
    )).to_df()
    return out.select("window_start", "event_type", "cnt", "sum_value")


@query("sliding_window_events", """
SELECT ws AS window_start, count(*) AS cnt, round(sum(value),2) AS sum_value
FROM (
  SELECT e.value,
         unnest([time_bucket(INTERVAL '30 minutes', e.ts),
                 time_bucket(INTERVAL '30 minutes', e.ts) - INTERVAL '30 minutes']) AS ws
  FROM events e
)
GROUP BY ws
""")
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SlidingWindow (flow/sliding_window.go:155-326): 1h size / 30m slide;
    start alignment floor-to-slide matches the reference exactly
    (flow/sliding_window.go:309-326). Each event lands in size/slide = 2
    windows; Spark expands then hash-aggregates — one shuffle."""
    ev = _t(spark, sf_dir, "events")
    out = Source(ev).via(sliding_window(
        "ts", "1 hour", "30 minutes",
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )).to_df()
    return out.select("window_start", "cnt", "sum_value")


@query("session_window_events", """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes' OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts)                         AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       count(*)                        AS cnt,
       round(sum(value), 2)            AS sum_value
FROM sessions
GROUP BY user_id, sid
""")
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SessionWindow (flow/session_window.go:102-140): 30m inactivity gap
    per user — built-in session_window(); oracle is the classic
    gaps-and-islands rewrite. One shuffle on (user, session)."""
    ev = _t(spark, sf_dir, "events")
    out = Source(ev).via(session_window(
        "ts", "30 minutes",
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        keys=["user_id"],
    )).to_df()
    return out.select("user_id",
                      F.col("window_start").alias("session_start"),
                      F.col("window_end").alias("session_end"),
                      "cnt", "sum_value")


# ---------------------------------------------------------------------------
# Topology: Split (#13), Merge (#16), RoundRobin (#15), FanOut (#14)
# ---------------------------------------------------------------------------

@query("split_merge_branches", """
SELECT branch, event_type, count(*) AS cnt
FROM (
  SELECT CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS branch, event_type
  FROM events
)
GROUP BY branch, event_type
""")
def split_merge_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split (flow/util.go:23-41) into two predicate branches, tag each,
    Merge (UNION ALL, flow/util.go:84-105) back, keyed count."""
    ev = _t(spark, sf_dir, "events")
    hi, lo = split(ev, F.col("value") >= 50)
    tagged = merge(hi.withColumn("branch", F.lit("high")),
                   lo.withColumn("branch", F.lit("low")))
    return (
        Source(tagged)
        .via(keyed(["branch", "event_type"], F.count(F.lit(1)).alias("cnt")))
        .to_df()
    )


@query("fanout_merge", """
SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
FROM (
  SELECT event_type, value FROM events
  UNION ALL
  SELECT event_type, value FROM events
)
GROUP BY event_type
""")
def fanout_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FanOut(2) + Merge: duplicates preserved (bag-union golden
    flow/flow_test.go:208-214 expects [B,B,C,C])."""
    from .operators import fan_out
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    b1, b2 = fan_out(ev, 2)
    return (
        Source(merge(b1, b2))
        .via(keyed(["event_type"], F.count(F.lit(1)).alias("cnt"),
                   F.round(F.sum("value"), 2).alias("sum_value")))
        .to_df()
    )


@query("round_robin_buckets", """
SELECT (event_id % 4) AS bucket, count(*) AS cnt
FROM events
GROUP BY 1
""")
def round_robin_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RoundRobin (flow/util.go:67-80): each element to exactly one of 4
    branches; per-branch counts via Merge of tagged branches."""
    ev = _t(spark, sf_dir, "events")
    branches = round_robin(ev, 4, by=F.col("event_id"))
    tagged = merge(*[b.withColumn("bucket", F.lit(i).cast("long"))
                     for i, b in enumerate(branches)])
    return (
        Source(tagged)
        .via(keyed(["bucket"], F.count(F.lit(1)).alias("cnt")))
        .to_df()
    )


# ---------------------------------------------------------------------------
# ZipWith (#17)
# ---------------------------------------------------------------------------

@query("zip_with_padding", """
WITH a AS (
  SELECT row_number() OVER (ORDER BY o_orderkey) AS idx, o_totalprice
  FROM orders ORDER BY o_orderkey LIMIT 500
), b AS (
  SELECT row_number() OVER (ORDER BY c_custkey) AS idx, c_acctbal
  FROM customer ORDER BY c_custkey LIMIT 300
)
SELECT round(coalesce(a.o_totalprice, 0) + coalesce(b.c_acctbal, 0), 2) AS value
FROM a FULL OUTER JOIN b USING (idx)
""")
def zip_with_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZipWith (flow/util.go:116-171): positional zip of two ordered
    streams of different length; shorter side zero-padded (goldens
    flow/flow_test.go:296-345)."""
    orders = _t(spark, sf_dir, "orders").orderBy("o_orderkey").limit(500)
    cust = _t(spark, sf_dir, "customer").orderBy("c_custkey").limit(300)
    out = zip_with(
        lambda a, b: F.round(a + b, 2),
        [orders, cust],
        [["o_orderkey"], ["c_custkey"]],
        ["o_totalprice", "c_acctbal"],
        [0.0, 0.0],
    )
    return out


# ---------------------------------------------------------------------------
# Batch (#7) and Throttler (#8)
# ---------------------------------------------------------------------------

@query("batch_by_count", """
SELECT batch_id, count(*) AS cnt, min(event_id) AS min_id, max(event_id) AS max_id
FROM (
  SELECT floor((row_number() OVER (ORDER BY event_id) - 1) / 100)::BIGINT AS batch_id,
         event_id
  FROM events
)
GROUP BY batch_id
""")
def batch_by_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch max-size path (flow/batch.go:86-96): groups of 100 in
    event_id order; final partial batch kept (flow/batch.go:98-104).
    Numbering via ``distributed_ordinal`` — identical global batch ids
    with no single-partition WindowExec in the plan."""
    ev = _t(spark, sf_dir, "events")
    out = Source(ev).via(batch_by_count(100, order_by=["event_id"])).to_df()
    return (out.groupBy("batch_id")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id")))


@query("throttler_discard", """
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, count(*) AS cnt
FROM (
  SELECT ts, row_number() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts)
                                ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn <= 5
GROUP BY 1
""")
def throttler_discard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throttler Discard mode (flow/throttler.go:117-125): quota of 5
    elements per 1h period, overflow dropped deterministically."""
    ev = _t(spark, sf_dir, "events")
    out = Source(ev).via(discard_over_quota(
        5, "ts", "1 hour", order_by=["ts", "event_id"])).to_df()
    return (out.withColumn("bucket", F.window("ts", "1 hour").getField("start"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")))


# ---------------------------------------------------------------------------
# PassThrough (#6)
# ---------------------------------------------------------------------------

@query("pass_through", """
SELECT n_nationkey, n_name, n_regionkey FROM nation
""")
def pass_through_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PassThrough identity (flow/pass_through.go:63-68)."""
    return Source(_t(spark, sf_dir, "nation")).via(PassThrough()).to_df()


# ===========================================================================
# Training-data pipeline ops (north star): text analysis, dedup,
# similarity search, multimodal plumbing
# ===========================================================================

from .functions import text as T          # noqa: E402
from .functions import dedup as D         # noqa: E402
from .functions import similarity as S    # noqa: E402
from .functions import multimodal as M    # noqa: E402


@query("text_stats", """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens_bpe,
       round(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','for','on','with')))
             / greatest(len(toks), 1), 4) AS stopword_ratio,
       round(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) / greatest(length(text), 1), 4) AS punct_ratio,
       round(list_sum(list_transform(toks, x -> length(x))) / greatest(len(toks), 1), 4) AS avg_token_len
FROM t
""")
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and quality ratios —
    all JVM-side array/regexp expressions, zero UDFs, zero shuffles."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.bpe_token_count("text").alias("n_tokens_bpe"),
        F.round(T.stopword_ratio("text"), 4).alias("stopword_ratio"),
        F.round(T.punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(T.avg_token_len("text"), 4).alias("avg_token_len"),
    )


@query("text_normalize_docs", """
WITH dirty AS (
  SELECT doc_id,
         'Cafe' || chr(769) || chr(7) || ' ' || chr(195) || chr(169)
         || ' crowd' || chr(226) || chr(8364) || chr(8482) || 's   view,'
         || chr(194) || chr(160) || text || ' ' || chr(9) || ' end'
         || chr(13) || chr(10) || 'line' || repeat(chr(10), 4) || 'fin ' AS t
  FROM documents
), clean AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(nfc_normalize(
           replace(replace(replace(replace(replace(replace(replace(replace(replace(
             nfc_normalize(regexp_replace(replace(t, chr(13)||chr(10), chr(10)),
                            '[\\x00-\\x08\\x0b-\\x1f\\x7f\\x80-\\x9f]', '', 'g')),
             chr(226)||chr(8364)||chr(8482), ''''),
             chr(226)||chr(8364)||chr(8220), '-'),
             chr(226)||chr(8364)||chr(339), '"'),
             chr(195)||chr(169), chr(233)),
             chr(195)||chr(168), chr(232)),
             chr(195)||chr(188), chr(252)),
             chr(195)||chr(182), chr(246)),
             chr(195)||chr(177), chr(241)),
             chr(194)||chr(160), ' ')),
           '[ \\t]+', ' ', 'g'),
           ' ?\\n ?', chr(10), 'g'),
           '\\n{3,}', chr(10)||chr(10), 'g')) AS norm_text
  FROM dirty
)
SELECT doc_id, norm_text, length(norm_text)::BIGINT AS n_chars
FROM clean
""")
def text_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/text normalization — step zero of a web-corpus pipeline
    (C4/CCNet/RefinedWeb all NFC-normalize and strip control bytes
    before any dedup or quality pass). The query injects a
    deterministic dirt prefix/suffix (combining accent, BEL control,
    cp1252 mojibake, nbsp, CRLF, tab runs, 4-newline run) around each
    real document and runs the full cleaning chain: control strip ->
    NFC -> mojibake repair -> NFC (the one Python hop: pandas' vectorized
    str.normalize, which agrees exactly with DuckDB's nfc_normalize) ->
    whitespace collapse. Per-row and shuffle-free — scales as a pure map over
    input splits."""
    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("Café Ã© crowdâ€™"
              "s   view,Â "),
        F.col("text"),
        F.lit(" \t end\r\nline\n\n\n\nfin "))
    return docs.select(
        "doc_id",
        T.normalize_text(dirty).alias("norm_text")) \
        .withColumn("n_chars", F.length("norm_text").cast("long"))


@query("html_strip_docs", """
WITH dirty AS (
  SELECT doc_id,
         '<html><head><style type="text/css">body {color: red}</style>'
         || '<script>var x = 1 < 2;</script></head><!-- strip -- me -->'
         || '<body><p class="a">' || text || '</p><br/>Tom &amp; Jerry '
         || '&lt;3 &quot;q&#39; x&nbsp;end</body></html>' AS t
  FROM documents
), stripped AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g'),
             '<[^>]+>', ' ', 'g'),
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
           '&nbsp;', ' '), '&amp;', '&') AS t
  FROM dirty
)
SELECT doc_id,
       trim(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(replace(t, chr(13)||chr(10), chr(10)),
              '[ \\t]+', ' ', 'g'),
              ' ?\\n ?', chr(10), 'g'),
              '\\n{3,}', chr(10)||chr(10), 'g'),
              '[ \\t]+', ' ', 'g')) AS clean_text
FROM stripped
""")
def html_strip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping — the step-zero text extractor for
    web corpora (C4 drops markup before any quality pass): script/style
    blocks (content removed), comments, remaining tags -> space, a
    minimal entity decode (&amp; LAST so double-escapes unwrap one
    level), whitespace collapse. The query wraps each real document in
    a deterministic HTML shell and strips it. Per-row JVM regex chain
    in the Java∩RE2 subset — zero UDFs, zero shuffles."""
    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit('<html><head><style type="text/css">body {color: red}'
              '</style><script>var x = 1 < 2;</script></head>'
              '<!-- strip -- me --><body><p class="a">'),
        F.col("text"),
        F.lit("</p><br/>Tom &amp; Jerry "
              "&lt;3 &quot;q&#39; x&nbsp;end</body></html>"))
    return docs.select("doc_id", T.strip_html(dirty).alias("clean_text"))


@query("token_bucket_admissions", """
WITH RECURSIVE e AS (
  SELECT user_id, event_id,
         floor(epoch(ts))::BIGINT AS sec,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), r AS (
  SELECT user_id, event_id, sec, rn,
         true AS admitted,
         (3000000 - 1000000)::BIGINT AS tok
  FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.event_id, e.sec, e.rn,
         least(3000000, r.tok + (e.sec - r.sec) * 20000) >= 1000000,
         (CASE WHEN least(3000000, r.tok + (e.sec - r.sec) * 20000)
                    >= 1000000
               THEN least(3000000, r.tok + (e.sec - r.sec) * 20000)
                    - 1000000
               ELSE least(3000000, r.tok + (e.sec - r.sec) * 20000)
          END)::BIGINT
  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id, event_id, admitted,
       tok AS tokens_after_micro
FROM r
""")
def token_bucket_admissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate limiting per user (burst 3 tokens, refill 0.02
    tokens/s, cost 1/event): the burst-tolerant admission semantics a
    fixed-window throttler cannot express. Integer micro-token
    arithmetic makes the sequential fold bit-identical to the DuckDB
    recursive-CTE replay; the fold itself runs on the per-key fold
    core's batch driver (one mapInPandas pass, only the last user's
    bucket carried across Arrow batches)."""
    ev = _t(spark, sf_dir, "events")
    from .operators.throttle import token_bucket_admit
    out = token_bucket_admit(
        ev.select("user_id", "event_id", "ts"),
        rate_micro_per_sec=20_000, burst_micro=3_000_000)
    return out.select("user_id", "event_id", "admitted",
                      "tokens_after_micro")


@query("corpus_dataset_card", """
WITH t AS (
  SELECT doc_id, lang, source, n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS dup_key
  FROM documents
), langs AS (
  SELECT lang, count(*) AS n FROM t GROUP BY lang
), top_lang AS (
  SELECT lang, n FROM langs ORDER BY n DESC, lang LIMIT 1
), dups AS (
  SELECT count(*) - count(DISTINCT dup_key) AS n_dup FROM t
)
SELECT count(*)::BIGINT                          AS n_docs,
       sum(t.n_tokens)::BIGINT                   AS n_tokens,
       sum(t.n_chars)::BIGINT                    AS n_chars,
       count(DISTINCT t.lang)::BIGINT            AS n_langs,
       count(DISTINCT t.source)::BIGINT          AS n_sources,
       max(top_lang.lang)                        AS top_lang,
       round(max(top_lang.n) * 1.0 / count(*), 4) AS top_lang_share,
       max(dups.n_dup)::BIGINT                   AS n_exact_dups,
       round(max(dups.n_dup) * 1.0 / count(*), 4) AS dup_rate,
       round(avg(t.n_tokens), 2)                 AS mean_tokens
FROM t CROSS JOIN top_lang CROSS JOIN dups
""")
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the one-row manifest every corpus release ships —
    doc/token/char counts, language and source diversity, dominant
    language share, exact-duplicate rate, mean length. Three bounded
    aggregates (doc-grain stats, lang-grain top-1, dup-key distinct)
    joined as 1-row scalar metadata; nothing beyond group-grain rows
    shuffles."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", "source", "n_chars",
        T.token_count("text").alias("n_tokens"),
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                               "\\s+", " ")).alias("dup_key"))
    top = (t.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
           .orderBy(F.col("n").desc(), "lang").limit(1)
           .select(F.col("lang").alias("tl"), F.col("n").alias("tn")))
    dups = t.agg((F.count(F.lit(1))
                  - F.countDistinct("dup_key")).alias("n_dup"))
    return (t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("n_tokens"), 2).alias("mean_tokens"))
        .crossJoin(F.broadcast(top))    # 1-row scalar metadata
        .crossJoin(F.broadcast(dups))   # 1-row scalar metadata
        .select("n_docs", "n_tokens", "n_chars", "n_langs", "n_sources",
                F.col("tl").alias("top_lang"),
                F.round(F.col("tn") / F.col("n_docs"), 4)
                 .alias("top_lang_share"),
                F.col("n_dup").cast("long").alias("n_exact_dups"),
                F.round(F.col("n_dup") / F.col("n_docs"), 4)
                 .alias("dup_rate"),
                "mean_tokens"))


@query("measure_correlation_matrix", """
WITH c AS (
  SELECT round(corr(l_quantity, l_extendedprice), 4) AS qty_price,
         round(corr(l_quantity, l_discount), 4)      AS qty_disc,
         round(corr(l_quantity, l_tax), 4)           AS qty_tax,
         round(corr(l_extendedprice, l_discount), 4) AS price_disc,
         round(corr(l_extendedprice, l_tax), 4)      AS price_tax,
         round(corr(l_discount, l_tax), 4)           AS disc_tax,
         count(*)::BIGINT AS n
  FROM lineitem
)
SELECT p.col_a, p.col_b,
       CASE p.col_a || '|' || p.col_b
         WHEN 'l_quantity|l_extendedprice' THEN c.qty_price
         WHEN 'l_quantity|l_discount' THEN c.qty_disc
         WHEN 'l_quantity|l_tax' THEN c.qty_tax
         WHEN 'l_extendedprice|l_discount' THEN c.price_disc
         WHEN 'l_extendedprice|l_tax' THEN c.price_tax
         ELSE c.disc_tax END AS corr,
       c.n
FROM c CROSS JOIN (VALUES
  ('l_quantity', 'l_extendedprice'), ('l_quantity', 'l_discount'),
  ('l_quantity', 'l_tax'), ('l_extendedprice', 'l_discount'),
  ('l_extendedprice', 'l_tax'), ('l_discount', 'l_tax')) p(col_a, col_b)
""")
def measure_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures
    in ONE aggregate pass — all k(k-1)/2 corr() moments are algebraic,
    so the whole matrix costs a single scan with map-side partials
    (the naive per-pair loop is 6 scans). The feature-redundancy
    profiling step before model training. Unpivoted to (col_a, col_b,
    corr) rows via a literal pair table."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = _t(spark, sf_dir, "lineitem")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    wide = li.agg(
        *[F.round(F.corr(a, b), 4).alias(f"c_{i}")
          for i, (a, b) in enumerate(pairs)],
        F.count(F.lit(1)).alias("n"))
    pair_lit = F.array(*[
        F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                 F.lit(i).alias("i")) for i, (a, b) in enumerate(pairs)])
    corr_arr = F.array(*[F.col(f"c_{i}") for i in range(len(pairs))])
    return (wide.select(F.explode(pair_lit).alias("p"), corr_arr.alias("cs"),
                        "n")
            .select(F.col("p.col_a").alias("col_a"),
                    F.col("p.col_b").alias("col_b"),
                    F.element_at("cs", F.col("p.i") + 1).alias("corr"),
                    "n"))


@query("observed_ingest_metrics", """
SELECT count(*)::BIGINT AS n_rows,
       sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_shipdates,
       sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)::BIGINT AS nonpositive_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
""")
def observed_ingest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass side-channel telemetry via Spark's Observation API: the
    data-quality counters (row count, null ship dates, non-positive
    quantities) ride the SAME scan as the business aggregate (revenue)
    — `observe()` attaches accumulator-backed metrics to the plan, so
    ingest monitoring costs zero extra passes at 100 TB (the naive
    shape is one extra full scan per counter). The observed values are
    returned as the result row; the oracle recomputes them
    declaratively."""
    from pyspark.sql import Observation
    li = _t(spark, sf_dir, "lineitem")
    obs = Observation("ingest")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_shipdate").isNull().cast("long"))
         .alias("null_shipdates"),
        F.sum((F.col("l_quantity") <= 0).cast("long"))
         .alias("nonpositive_qty"))
    revenue = (observed.agg(
        F.round(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .collect()[0]["revenue"])  # the action that populates obs.get
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["null_shipdates"], m["nonpositive_qty"], revenue)],
        "n_rows bigint, null_shipdates bigint, nonpositive_qty bigint, "
        "revenue double")


@query("benford_price_audit", """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(l_extendedprice * 100 AS BIGINT) AS VARCHAR),
              1, 1) AS INT) AS digit
  FROM lineitem WHERE l_extendedprice > 0
), c AS (
  SELECT digit, count(*) AS n FROM d GROUP BY digit
), tot AS (SELECT sum(n) AS t FROM c),
b(digit, benford_share) AS (VALUES
  (1, 0.30103), (2, 0.176091), (3, 0.124939), (4, 0.09691),
  (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
  (9, 0.045757))
SELECT b.digit, coalesce(c.n, 0)::BIGINT AS n,
       round(coalesce(c.n, 0) / tot.t, 6) AS share,
       b.benford_share,
       round(coalesce(c.n, 0) / tot.t - b.benford_share, 6) AS excess
FROM b LEFT JOIN c ON c.digit = b.digit CROSS JOIN tot
""")
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on prices — the classic
    fabricated-numbers detector for financial columns: observed
    first-digit shares vs the Benford expectation log10(1+1/d)
    (hardcoded 6-dp constants in BOTH engines: no cross-libm log
    drift). Prices are read at exact cent grain (x100 -> BIGINT)
    before digit extraction so float formatting never leaks in.
    One digit-grain aggregate; the 9-row report joins a literal
    table."""
    li = _t(spark, sf_dir, "lineitem")
    benford = spark.createDataFrame(
        [(1, 0.30103), (2, 0.176091), (3, 0.124939), (4, 0.09691),
         (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
         (9, 0.045757)], "digit int, benford_share double")
    digits = (li.where(F.col("l_extendedprice") > 0)
              .select(F.substring(
                  (F.col("l_extendedprice") * 100).cast("long")
                  .cast("string"), 1, 1).cast("int").alias("digit")))
    c = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").alias("t"))
    return (F.broadcast(benford)
            .join(c, "digit", "left")
            .crossJoin(F.broadcast(tot))  # 1-row scalar metadata
            .select("digit",
                    F.coalesce("n", F.lit(0)).cast("long").alias("n"),
                    F.round(F.coalesce("n", F.lit(0)) / F.col("t"), 6)
                    .alias("share"),
                    "benford_share",
                    F.round(F.coalesce("n", F.lit(0)) / F.col("t")
                            - F.col("benford_share"), 6).alias("excess")))


@query("quantile_normalize_sources", """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r
  FROM documents
), ref AS (
  SELECT r, round(avg(n_chars), 4) AS qnorm FROM ranked GROUP BY r
)
SELECT ranked.doc_id, ranked.source, ranked.n_chars, ref.qnorm
FROM ranked JOIN ref ON ref.r = ranked.r
""")
def quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source document-length
    distributions (the batch-effect corrector applied to corpus
    mixing): after it, every source has an IDENTICAL n_chars
    distribution — rank within source, replace by the cross-source
    rank mean. One group shuffle + a rank-grain aggregate (rows =
    group size) broadcast back; integer values keep the rank means
    exact."""
    docs = _t(spark, sf_dir, "documents")
    from .functions.checks import quantile_normalize
    return quantile_normalize(docs, value_col="n_chars",
                              group_col="source", id_col="doc_id")


@query("theilsen_slope_by_type", """
WITH g AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', ts::DATE) AS d,
         round(sum(value), 2) AS v
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type, (b.v - a.v) / (b.d - a.d) AS slope
  FROM g a JOIN g b ON a.event_type = b.event_type AND b.d > a.d
), r AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM pairs
)
SELECT event_type,
       round(avg(slope), 4) AS slope,
       max(m)::BIGINT AS n_pairs
FROM r
WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
GROUP BY event_type
""")
def theilsen_slope_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the MEDIAN of all pairwise slopes of the
    daily volume series per event type — immune to the outlier days
    that bend the least-squares line (trend_slope_by_type is the OLS
    sibling). Volume reduces to the (type, day) grid FIRST, so the
    pair space is grid^2 per type — bounded by the calendar, never by
    event volume; the per-type rank runs on those bounded pairs."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    g = (ev.groupBy("event_type",
                    F.datediff(F.col("ts").cast("date"),
                               F.lit("2024-01-01").cast("date")).alias("d"))
         .agg(F.round(F.sum("value"), 2).alias("v")))
    a = g.select("event_type", F.col("d").alias("da"), F.col("v").alias("va"))
    b = g.select(F.col("event_type").alias("et_b"),
                 F.col("d").alias("db"), F.col("v").alias("vb"))
    pairs = (a.join(b, (F.col("event_type") == F.col("et_b"))
                    & (F.col("db") > F.col("da")))
             .select("event_type",
                     ((F.col("vb") - F.col("va"))
                      / (F.col("db") - F.col("da"))).alias("slope")))
    w = Window.partitionBy("event_type")
    r = pairs.select(
        "event_type", "slope",
        F.row_number().over(w.orderBy("slope")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("m"))
    return (r.where((F.col("rn") == F.expr("(m + 1) div 2"))
                    | (F.col("rn") == F.expr("(m + 2) div 2")))
            .groupBy("event_type")
            .agg(F.round(F.avg("slope"), 4).alias("slope"),
                 F.max("m").cast("long").alias("n_pairs")))


@query("url_canonical_dedup", """
WITH u AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'HTTPS://Example.COM:443/a/b?utm_source=x&q='
                       || (doc_id // 4) || '&b=2#frag'
           WHEN 1 THEN 'https://example.com/a/b?b=2&q=' || (doc_id // 4)
           WHEN 2 THEN 'http://Example.com:80/page/' || (doc_id // 4) || '/'
           ELSE 'http://example.com/page/' || (doc_id // 4)
         END AS url
  FROM documents
), c AS (
  SELECT doc_id, url,
         string_split(string_split(url, '#')[1], '?')[1] AS base,
         string_split(string_split(url, '#')[1], '?')[2] AS qs
  FROM u
), p AS (
  SELECT doc_id, url,
         regexp_replace(regexp_replace(
           lower(regexp_extract(base,
                 '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)(.*)$', 1)),
           ':80$', ''), ':443$', '') AS auth,
         regexp_replace(regexp_extract(base,
                 '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)(.*)$', 2),
                 '/+$', '') AS path,
         array_to_string(list_sort(list_filter(
           string_split(coalesce(qs, ''), '&'),
           kv -> kv <> '' AND NOT list_contains(
             ['utm_source','utm_medium','utm_campaign','utm_term',
              'utm_content','gclid','fbclid','ref'],
             string_split(kv, '=')[1]))), '&') AS query
  FROM c
)
SELECT doc_id,
       auth || path
       || CASE WHEN query <> '' THEN '?' || query ELSE '' END AS canon_url
FROM p
""")
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the key-builder for URL-level dedup
    (RefinedWeb runs it BEFORE any content dedup): lowercase
    scheme+host, strip default ports, drop fragments and tracking
    params, sort surviving params, trim bare trailing slashes. The
    query injects four deterministic URL variants per doc-id pair that
    MUST collapse to equal canonical keys (case/port noise vs clean,
    param-order + utm noise vs clean). Zero-UDF expression tree, zero
    shuffle."""
    docs = _t(spark, sf_dir, "documents")
    nn = F.expr("doc_id div 4").cast("string")
    v = F.col("doc_id") % 4
    url = (F.when(v == 0, F.concat(
               F.lit("HTTPS://Example.COM:443/a/b?utm_source=x&q="), nn,
               F.lit("&b=2#frag")))
           .when(v == 1, F.concat(
               F.lit("https://example.com/a/b?b=2&q="), nn))
           .when(v == 2, F.concat(
               F.lit("http://Example.com:80/page/"), nn, F.lit("/")))
           .otherwise(F.concat(F.lit("http://example.com/page/"), nn)))
    return docs.select(
        "doc_id", T.canonical_url(url).alias("canon_url"))


@query("pii_scrub_docs", """
WITH seeded AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'mail user' || (doc_id // 4)
                       || '@example.com soon '
           WHEN 1 THEN 'server 10.0.' || (doc_id % 200) || '.7 down '
           WHEN 2 THEN 'call 555-123-' || lpad((doc_id % 9000
                                                + 1000)::VARCHAR, 4, '0')
                       || ' now '
           ELSE 'ref 123-45-' || lpad((doc_id % 9000
                                       + 1000)::VARCHAR, 4, '0') || ' '
         END || substr(text, 1, 40) AS t
  FROM documents
), s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT
           AS n_email,
         regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS t
  FROM seeded
), s2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t,
             '\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b'))::INT
           AS n_ccnum,
         regexp_replace(t, '\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b',
                        '<CCNUM>', 'g') AS t
  FROM s1
), s3 AS (
  SELECT doc_id, n_email, n_ccnum,
         len(regexp_extract_all(t,
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::INT
           AS n_ipv4,
         regexp_replace(t,
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
             '<IPV4>', 'g') AS t
  FROM s2
), s4 AS (
  SELECT doc_id, n_email, n_ccnum, n_ipv4,
         len(regexp_extract_all(t,
             '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b'))::INT AS n_phone,
         regexp_replace(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b',
                        '<PHONE>', 'g') AS t
  FROM s3
), s5 AS (
  SELECT doc_id, n_email, n_ccnum, n_ipv4, n_phone,
         len(regexp_extract_all(t,
             '\\b\\d{3}-\\d{2}-\\d{4}\\b'))::INT AS n_ssn,
         regexp_replace(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b',
                        '<SSN>', 'g') AS t
  FROM s4
)
SELECT doc_id, n_email, n_ccnum, n_ipv4, n_phone, n_ssn,
       md5(t) AS redacted_md5
FROM s5
""")
def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (functions/text.py::pii_scrub) — the
    scrub stage before any corpus release. The synthetic corpus carries
    no PII, so the query SEEDS four deterministic variants per doc-id
    class (email / IPv4 / phone-shaped / SSN-shaped, prepended to a
    slice of the real text — the url_canonical_dedup injection
    precedent) and the oracle replays the exact progressive
    count-then-redact chain; parity of every pattern between Java
    regex and DuckDB RE2 is pinned by tests. Zero-UDF per-row regexp
    chain, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    nn = F.expr("doc_id div 4").cast("string")
    v = F.col("doc_id") % 4
    pad4 = F.lpad((F.col("doc_id") % 9000 + 1000).cast("string"), 4, "0")
    seeded = (F.when(v == 0, F.concat(
                  F.lit("mail user"), nn, F.lit("@example.com soon ")))
              .when(v == 1, F.concat(
                  F.lit("server 10.0."),
                  (F.col("doc_id") % 200).cast("string"), F.lit(".7 down ")))
              .when(v == 2, F.concat(
                  F.lit("call 555-123-"), pad4, F.lit(" now ")))
              .otherwise(F.concat(
                  F.lit("ref 123-45-"), pad4, F.lit(" "))))
    t = F.concat(seeded, F.substring("text", 1, 40))
    redacted, counts = T.pii_scrub(t)  # F.size counts are already int
    return docs.select(
        "doc_id", *counts, F.md5(redacted).alias("redacted_md5"))


@query("rowgroup_pruning_audit", """
WITH m AS (
  SELECT row_group_id, path_in_schema AS col,
         stats_min_value::BIGINT AS mn, stats_max_value::BIGINT AS mx
  FROM parquet_metadata('{SF_DIR}/lineitem.parquet')
  WHERE path_in_schema IN ('l_orderkey', 'l_partkey', 'l_suppkey')
), adj AS (
  SELECT col, mn, mx,
         lag(mx) OVER (PARTITION BY col ORDER BY row_group_id) AS pmx
  FROM m
)
SELECT col AS col_name, count(*)::BIGINT AS n_rowgroups,
       sum(CASE WHEN mn = mx THEN 1 ELSE 0 END)::BIGINT AS n_constant,
       sum(CASE WHEN pmx IS NOT NULL AND mn <= pmx THEN 1 ELSE 0 END)::BIGINT
         AS n_overlap_breaks,
       sum(mx - mn)::BIGINT AS sum_range,
       min(mn) AS global_min, max(mx) AS global_max
FROM adj GROUP BY col
""")
def rowgroup_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer-statistics audit: per integer key column of
    lineitem, how prunable is the physical layout (constant row groups,
    range-sorted adjacencies)? Reads ONLY footer metadata — no data
    scan; the DuckDB oracle is parquet_metadata() over the same file
    (``{SF_DIR}`` placeholder — resolves to the gate dir for the
    driver, to the sweep dir in multi-SF sweeps). The
    measurement half of the compact_parquet / zorder_sorted layout
    story; multi-row-group depth is exercised in tests."""
    import os as _os
    from .operators.layout import rowgroup_stats
    return rowgroup_stats(
        spark, _os.path.join(sf_dir, "lineitem.parquet"),
        ["l_orderkey", "l_partkey", "l_suppkey"])


@query("salted_join_events", """
SELECT e.event_id, e.user_id, c.c_name,
       round(e.value, 2) AS value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
""")
def salted_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted equi-join: events (fact) enriched with the
    customer dim via an explicit 8-bucket salt — the deterministic
    hot-key shape when the build side exceeds broadcast budget (here it
    would broadcast; the query pins the salted plan regardless via a
    join on (key, salt)). Result is EXACTLY the plain join, which is
    what the oracle checks."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 2).alias("value"))
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name")
    from .operators.joins import salted_join
    out = salted_join(ev, cust, on=["user_id"], salt_buckets=8)
    return out.select("event_id", "user_id", "c_name", "value")


@query("bloom_join_prune_audit", """
WITH build AS (
  SELECT DISTINCT c_custkey % 1048573 AS kk
  FROM customer WHERE c_acctbal > 7000
), bits AS (
  SELECT DISTINCT bit FROM (
    SELECT (kk * 2654435761) % 8192 AS bit FROM build
    UNION ALL
    SELECT (kk * 998244353 + 12345) % 8192 FROM build)
), flags AS (
  SELECT ((o_custkey % 1048573) * 2654435761) % 8192
           IN (SELECT bit FROM bits)
         AND ((o_custkey % 1048573) * 998244353 + 12345) % 8192
           IN (SELECT bit FROM bits)                        AS pass,
         o_custkey IN (SELECT c_custkey FROM customer
                       WHERE c_acctbal > 7000)              AS hit
  FROM orders
)
SELECT count(*)                                             AS probe_rows,
       sum(CASE WHEN pass THEN 1 ELSE 0 END)::BIGINT        AS bloom_pass_rows,
       sum(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT         AS true_match_rows,
       sum(CASE WHEN pass AND NOT hit THEN 1 ELSE 0 END)::BIGINT
                                                            AS false_positive_rows,
       round(sum(CASE WHEN pass AND NOT hit THEN 1 ELSE 0 END)
             / greatest(count(*) - sum(CASE WHEN hit THEN 1 ELSE 0 END), 1),
             6)                                             AS fp_rate
FROM flags
""")
def bloom_join_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning audit — the scale pattern behind
    operators/joins.py::bloom_semi_join: before shuffling a 100 TB fact
    table into a join, a <= m_bits-row bloom bit set built over the dim
    keys (broadcast, never a shuffle) drops the non-matching fact rows
    at scan time, no false negatives. The audit measures exactly what a
    capacity planner needs: probe volume, bloom survivors, true
    matches, and the false-positive count/rate the m_bits budget buys
    (expected fp_rate ~ (set_bits/m)^2 — here ~1%). One probe scan;
    the bit set and the exact key set are both broadcast; bit math is
    shared with bloom_semi_join via bloom_hashes, so the audit pins the
    operator's arithmetic against the ANSI-SQL oracle."""
    from .operators.joins import bloom_bits_df, bloom_hashes
    cust = _t(spark, sf_dir, "customer")
    build = cust.where(F.col("c_acctbal") > 7000)
    bits = bloom_bits_df(build, "c_custkey", m_bits=8192)
    orders = _t(spark, sf_dir, "orders")
    h1, h2 = bloom_hashes(F.col("o_custkey"), 8192)
    flags = (orders.select(F.col("o_custkey"), h1.alias("__h1"),
                           h2.alias("__h2"))
             .join(F.broadcast(bits.withColumnRenamed("__bit", "__b1")),
                   F.col("__h1") == F.col("__b1"), "left")
             .join(F.broadcast(bits.withColumnRenamed("__bit", "__b2")),
                   F.col("__h2") == F.col("__b2"), "left")
             .join(F.broadcast(build.select("c_custkey").distinct()
                               .withColumn("__m", F.lit(1))),
                   F.col("o_custkey") == F.col("c_custkey"), "left")
             .select((F.col("__b1").isNotNull()
                      & F.col("__b2").isNotNull()).alias("pass"),
                     F.col("__m").isNotNull().alias("hit")))
    p = F.sum(F.when(F.col("pass"), 1).otherwise(0))
    t = F.sum(F.when(F.col("hit"), 1).otherwise(0))
    fp = F.sum(F.when(F.col("pass") & ~F.col("hit"), 1).otherwise(0))
    return flags.agg(
        F.count(F.lit(1)).alias("probe_rows"),
        p.cast("long").alias("bloom_pass_rows"),
        t.cast("long").alias("true_match_rows"),
        fp.cast("long").alias("false_positive_rows"),
        F.round(fp / F.greatest(F.count(F.lit(1)) - t, F.lit(1)), 6)
        .alias("fp_rate"))


@query("cusum_changepoint_hourly", bound="hour-grid", sql="""
WITH grid AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS hour,
         round(sum(value), 2) AS v
  FROM events GROUP BY 1
), tot AS (
  SELECT sum(v) AS t, count(*) AS n FROM grid
), s AS (
  SELECT hour,
         round(sum(v) OVER (ORDER BY hour)
               - (row_number() OVER (ORDER BY hour) * tot.t) / tot.n, 2)
           AS cusum
  FROM grid CROSS JOIN tot
)
SELECT hour AS cp_hour, cusum,
       (SELECT n FROM tot)::BIGINT AS n_hours
FROM s
ORDER BY abs(cusum) DESC, hour
LIMIT 1
""")
def cusum_changepoint_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM single-changepoint estimate on the hourly value series:
    S_t = cumsum(v) - t*mean; the hour maximizing |S_t| is the level-
    shift point (Page's statistic in its cumulative form — declarative,
    no recursion/clamp needed). Event volume reduces to the hour grid
    first, so the ordered scan costs hours-count rows at any input
    scale; the cumsum runs in hour order in both engines, making the
    float sequence bit-identical."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    grid = (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
            .agg(F.round(F.sum("value"), 2).alias("v")))
    tot = grid.agg(F.sum("v").alias("t"), F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    rn = F.row_number().over(Window.orderBy("hour"))
    s = (grid.crossJoin(F.broadcast(tot))  # 1-row scalar metadata
         .select("hour",
                 F.round(F.sum("v").over(w)
                         - (rn * F.col("t")) / F.col("n"), 2)
                 .alias("cusum"),
                 F.col("n").cast("long").alias("n_hours")))
    return (s.orderBy(F.abs(F.col("cusum")).desc(), "hour").limit(1)
            .withColumnRenamed("hour", "cp_hour")
            .select("cp_hour", "cusum", "n_hours"))


@query("bootstrap_ci_tokens", bound="replicate-grid", sql="""
WITH base AS (
  SELECT doc_id,
         len(list_filter(string_split(lower(text), ' '),
                         x -> x <> ''))::BIGINT AS x
  FROM documents
), reps AS (
  SELECT unnest(range(0, 200)) AS b
), wtab AS (
  SELECT r.b, base.x,
         CASE
           WHEN u < 0.36787944117144233 THEN 0
           WHEN u < 0.7357588823428847  THEN 1
           WHEN u < 0.9196986029286058  THEN 2
           WHEN u < 0.9810118431238462  THEN 3
           WHEN u < 0.9963401531726563  THEN 4
           WHEN u < 0.9994058151824183  THEN 5
           ELSE 6
         END::BIGINT AS w
  FROM base CROSS JOIN reps r,
       LATERAL (SELECT ('0x' || substr(md5(base.doc_id::VARCHAR || '_'
                                           || r.b::VARCHAR), 1, 8))::BIGINT
                       / 4294967296.0 AS u) t
), per_rep AS (
  SELECT b, sum(w * x)::BIGINT AS s, sum(w)::BIGINT AS n
  FROM wtab GROUP BY b
), means AS (
  SELECT b, floor(s / n * 1000000 + 0.5) / 1000000.0 AS m,
         row_number() OVER (ORDER BY floor(s / n * 1000000 + 0.5)
                                       / 1000000.0, b) AS r
  FROM per_rep
), ci AS (
  SELECT max(CASE WHEN r = 6   THEN m END) AS ci_low,
         max(CASE WHEN r = 195 THEN m END) AS ci_high,
         count(*)::BIGINT AS n_replicates
  FROM means
)
SELECT (SELECT count(*) FROM base)::BIGINT AS n_rows,
       (SELECT floor(sum(x) / count(*) * 1000000 + 0.5) / 1000000.0
        FROM base) AS point_mean,
       ci_low, ci_high, n_replicates
FROM ci
""")
def bootstrap_ci_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean tokens/doc — the uncertainty
    line a corpus quality report carries. checks.bootstrap_mean_ci:
    per-(doc, replicate) md5-derived Poisson(1) weights (Chamandy et
    al.'s resample-weights-not-rows trick — one scan for any B),
    exact int64 weighted sums per replicate, ONE rounded division per
    replicate mean, percentile bounds as order statistics over the
    B=200 means. Every step hash-matches the oracle. The only
    SinglePartition stage ranks the 200 replicate means
    (replicate-grid bound class)."""
    docs = _t(spark, sf_dir, "documents")
    from .functions.checks import bootstrap_mean_ci
    from .functions.text import token_count
    base = docs.select("doc_id", token_count("text").alias("n_tokens"))
    return bootstrap_mean_ci(base, key_col="doc_id",
                             value_col="n_tokens", replicates=200)


@query("bootstrap_ci_tokens_by_source", sql="""
WITH base AS (
  SELECT doc_id, source,
         len(list_filter(string_split(lower(text), ' '),
                         x -> x <> ''))::BIGINT AS x
  FROM documents
), reps AS (
  SELECT unnest(range(0, 200)) AS b
), wtab AS (
  SELECT base.source, r.b, base.x,
         CASE
           WHEN u < 0.36787944117144233 THEN 0
           WHEN u < 0.7357588823428847  THEN 1
           WHEN u < 0.9196986029286058  THEN 2
           WHEN u < 0.9810118431238462  THEN 3
           WHEN u < 0.9963401531726563  THEN 4
           WHEN u < 0.9994058151824183  THEN 5
           ELSE 6
         END::BIGINT AS w
  FROM base CROSS JOIN reps r,
       LATERAL (SELECT ('0x' || substr(md5(base.doc_id::VARCHAR || '_'
                                           || r.b::VARCHAR), 1, 8))::BIGINT
                       / 4294967296.0 AS u) t
), per_rep AS (
  SELECT source, b, sum(w * x)::BIGINT AS s, sum(w)::BIGINT AS n
  FROM wtab GROUP BY source, b
), means AS (
  SELECT source, b, floor(s / n * 1000000 + 0.5) / 1000000.0 AS m,
         row_number() OVER (PARTITION BY source
                            ORDER BY floor(s / n * 1000000 + 0.5)
                                       / 1000000.0, b) AS r
  FROM per_rep
), ci AS (
  SELECT source,
         max(CASE WHEN r = 6   THEN m END) AS ci_low,
         max(CASE WHEN r = 195 THEN m END) AS ci_high,
         count(*)::BIGINT AS n_replicates
  FROM means GROUP BY source
), pt AS (
  SELECT source, count(*)::BIGINT AS n_rows,
         floor(sum(x) / count(*) * 1000000 + 0.5) / 1000000.0
           AS point_mean
  FROM base GROUP BY source
)
SELECT pt.source, n_rows, point_mean, ci_low, ci_high, n_replicates
FROM pt JOIN ci USING (source)
""")
def bootstrap_ci_tokens_by_source(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Per-source Poisson-bootstrap CIs for mean tokens/doc — the
    per-shard uncertainty table a mixing decision reads (is source A
    really longer-form than B, or within noise?). Fully group-parallel:
    replicate means at (source, b) grain, percentile ranks windowed per
    source over exactly B rows — NO global stage at all."""
    docs = _t(spark, sf_dir, "documents")
    from .functions.checks import bootstrap_mean_ci_grouped
    from .functions.text import token_count
    base = docs.select("doc_id", "source",
                       token_count("text").alias("n_tokens"))
    return bootstrap_mean_ci_grouped(base, key_col="doc_id",
                                     value_col="n_tokens",
                                     group_cols=["source"],
                                     replicates=200)


@query("fd_violation_events", bound="user-grain", sql="""
WITH per AS (
  SELECT user_id::VARCHAR AS key_str,
         count(DISTINCT event_type) AS n_rhs
  FROM events GROUP BY user_id
)
SELECT count(*)::BIGINT AS n_groups,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_violating_groups,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds,
       round(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS violation_share,
       min(CASE WHEN n_rhs > 1 THEN key_str END) AS example_key
FROM per
""")
def fd_violation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling, violated case: does user_id
    determine event_type? (No — users emit many event types; the
    report quantifies the fan-out and names a violating key.) One
    lhs-grain shuffle with map-side partial distinct."""
    ev = _t(spark, sf_dir, "events")
    from .functions.checks import fd_report
    return fd_report(ev, ["user_id"], "event_type")


@query("fd_holds_orders", """
WITH per AS (
  SELECT o_orderkey::VARCHAR AS key_str,
         count(DISTINCT o_custkey) AS n_rhs
  FROM orders GROUP BY o_orderkey
)
SELECT count(*)::BIGINT AS n_groups,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_violating_groups,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds,
       round(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS violation_share,
       min(CASE WHEN n_rhs > 1 THEN key_str END) AS example_key
FROM per
""")
def fd_holds_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling, holding case: o_orderkey ->
    o_custkey (a real key determines everything). example_key is NULL
    and holds=true — the schema-audit green path."""
    od = _t(spark, sf_dir, "orders")
    from .functions.checks import fd_report
    return fd_report(od, ["o_orderkey"], "o_custkey")


@query("training_shuffle_docs", """
WITH k AS (
  SELECT doc_id, md5(doc_id::VARCHAR || '_7') AS key,
         (('0x' || substr(md5(doc_id::VARCHAR || '_7'), 1, 13))::BIGINT
          % 16)::INT AS shard
  FROM documents
)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)::BIGINT
         AS pos
FROM k
""")
def training_shuffle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training export: md5(id, seed)
    picks the shard and the in-shard order — reproducible pseudo-random
    example order without a global sort (hash partition + in-shard
    rank; no single-partition stage). Changing the seed reshuffles the
    corpus between epochs."""
    docs = _t(spark, sf_dir, "documents")
    from .operators.layout import training_shuffle
    return training_shuffle(docs, id_col="doc_id", shards=16, seed=7)


@query("compression_ratio_docs", T.compression_ratio_oracle_sql)
def compression_ratio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal (Gopher/Dolma class):
    boilerplate/templated text compresses far below prose. Hash-checked
    against a PER-SF GENERATED oracle (no SQL-expressible zlib — DuckDB
    ships no compressor): the generator reads the parquet independently
    and bakes each doc's CPython-zlib (raw_len, comp_len, ratio) as a
    VALUES table (text.py::compression_ratio_oracle_sql), pinning the
    Spark/Arrow path end-to-end; the in-process parity test
    (tests/test_functions.py::test_compression_ratio_exact_vs_zlib)
    stays as the second, engine-internal pin. One Arrow map pass, zero
    shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return T.compression_ratio(docs, level=6)


@query("token_budget_selection", bound="doc-grain", sql="""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), r AS (
  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','for','on','with')))
           / greatest(len(toks), 1) AS sw,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))
           / greatest(length(text), 1) AS pr,
         list_sum(list_transform(toks, x -> length(x)))
           / greatest(len(toks), 1) AS tl
  FROM t
), q AS (
  SELECT doc_id, n_tokens,
         floor(least(1.0, greatest(0.0,
               0.4 * least(sw * 4, 1.0)
             + 0.4 * (CASE WHEN tl >= 3 AND tl <= 10
                           THEN 1.0 ELSE 0.5 END)
             + 0.2 * (1 - least(pr * 5, 1.0)))) * 1000000 + 0.5) AS qm
  FROM r
), d AS (
  SELECT doc_id, n_tokens,
         least(floor(qm * 256 / 1000000.0), 255)::INT AS qbin
  FROM q
), tot AS (
  SELECT floor(sum(n_tokens) * 300000 / 1000000.0) AS budget FROM d
), c AS (
  SELECT qbin, sum(n_tokens)::BIGINT AS bt,
         sum(sum(n_tokens)::BIGINT)
           OVER (ORDER BY qbin DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d GROUP BY qbin
), marked AS (
  SELECT c.qbin, c.bt, c.cum, tot.budget,
         c.cum <= tot.budget AS full_sel,
         c.cum > tot.budget AND c.cum - c.bt <= tot.budget AS is_boundary,
         tot.budget - (c.cum - c.bt) AS residual
  FROM c CROSS JOIN tot
), j AS (
  SELECT d.doc_id, d.n_tokens, d.qbin, m.full_sel, m.is_boundary,
         m.residual,
         sum(d.n_tokens) OVER (
           PARTITION BY m.is_boundary
           ORDER BY md5(d.doc_id::VARCHAR), d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM d JOIN marked m USING (qbin)
)
SELECT doc_id, n_tokens, qbin,
       (full_sel OR (is_boundary AND run <= residual)) AS selected
FROM j
""")
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked corpus cut to a token budget (30% of corpus
    tokens) — functions/text.py::token_budget_select: fixed 256-cell
    quality grid, grid-grain cumulative sums pick the boundary bucket,
    boundary docs admitted in deterministic md5 order until the
    residual budget spends. All integer counts -> hash-exact; the only
    data-sized ordered stage is the one boundary bucket (doc-grain
    bound, shrink with more bins at scale)."""
    return T.token_budget_select(_t(spark, sf_dir, "documents"),
                                 budget_frac_micro=300_000, bins=256)


@query("quality_scores", """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), r AS (
  SELECT doc_id,
         len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','for','on','with')))
           / greatest(len(toks), 1) AS sw,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) / greatest(length(text), 1) AS pr,
         list_sum(list_transform(toks, x -> length(x))) / greatest(len(toks), 1) AS tl
  FROM t
)
SELECT doc_id,
       round(least(1.0, greatest(0.0,
             0.4 * least(sw * 4, 1.0)
           + 0.4 * (CASE WHEN tl >= 3 AND tl <= 10 THEN 1.0 ELSE 0.5 END)
           + 0.2 * (1 - least(pr * 5, 1.0)))), 4) AS quality
FROM r
""")
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristic (length/punct/stopword ratios)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.round(T.quality_score("text"), 4).alias("quality"))


@query("lang_id_counts", """
WITH s AS (
  SELECT doc_id,
         list_transform(list_filter(string_split(text, ' '), x -> x <> ''), x -> lower(x)) AS toks
  FROM documents
), sc AS (
  SELECT doc_id,
         len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','for','on','with'))) AS en,
         len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','zu','auf'))) AS de,
         len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','pour','dans','que'))) AS fr
  FROM s
)
SELECT CASE WHEN en > 0 AND en >= de AND en >= fr THEN 'en'
            WHEN de > 0 AND de >= fr THEN 'de'
            WHEN fr > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred,
       count(*) AS cnt
FROM sc
GROUP BY 1
""")
def lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID (marker-word n-gram heuristic), aggregated."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(T.lang_id("text").alias("lang_pred"))
            .groupBy("lang_pred").agg(F.count(F.lit(1)).alias("cnt")))


@query("doc_fingerprint", """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 4 THEN
           list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                          for i in generate_series(1, len(toks) - 3)])
         ELSE [] END AS grams
  FROM t
)
SELECT doc_id, list_min(list_transform(grams, x -> md5(x))) AS fingerprint
FROM g
""")
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint: min-md5 over word 4-gram shingles."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint("text", 4).alias("fingerprint"))


@query("dedup_exact", """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS dup_key,
       min(doc_id) AS keeper,
       count(*)    AS cnt
FROM documents
GROUP BY 1
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content digest."""
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs)


@query("minhash_signatures", """
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3 THEN
      list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     for i in generate_series(1, len(toks) - 2)])
    ELSE [] END) AS s
  FROM t
)
SELECT sh.doc_id, seeds.seed::INT AS seed,
       min(('0x' || substr(md5(sh.s), 1, 15))::BIGINT
           + seeds.seed * (('0x' || substr(md5(sh.s), 16, 15))::BIGINT % 1000000007)) AS minhash
FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed) seeds
GROUP BY sh.doc_id, seeds.seed
""")
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (12 hashes over word-3gram shingles), long
    format (doc_id, seed, minhash). Signature computed per-row with
    array lambdas — no shuffle; the unpivot is stack()."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_rows(D.shingle_rows(docs), num_hashes=12)


@query("dedup_minhash_pairs", """
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3 THEN
      list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     for i in generate_series(1, len(toks) - 2)])
    ELSE [] END) AS s
  FROM t
), mh AS (
  SELECT sh.doc_id, seeds.seed,
         min(('0x' || substr(md5(sh.s), 1, 15))::BIGINT
             + seeds.seed * (('0x' || substr(md5(sh.s), 16, 15))::BIGINT % 1000000007)) AS m
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed) seeds
  GROUP BY sh.doc_id, seeds.seed
), bands AS (
  SELECT doc_id, seed // 3 AS band, md5(string_agg(m::VARCHAR, '|' ORDER BY seed)) AS band_key
  FROM mh GROUP BY doc_id, seed // 3
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
), cnts AS (
  SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       round(i.i / greatest(ca.c + cb.c - i.i, 1), 4) AS jaccard
FROM inter i
JOIN cnts ca ON ca.doc_id = i.id_a
JOIN cnts cb ON cb.doc_id = i.id_b
WHERE round(i.i / greatest(ca.c + cb.c - i.i, 1), 4) >= 0.5
""")
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline (``ngram_jaccard_pairs``, the one
    LSH set-similarity path and the memory-safe production order at
    100 TB): shingle -> 12-hash signature -> 4 bands -> bucket
    equi-join -> PPJoin's lossless length filter -> exact Jaccard
    verify >= 0.5. Never materializes the O(N^2) pair space;
    candidate volume is bounded by bucket occupancy (the sf10-proven
    0.55-exponent shape). Result is EXACTLY {pairs the verify keeps} ∩
    {LSH candidates}: recall is LSH's, precision is exact. The oracle
    replays it without the length filter, so the gate also proves
    that filter prunes no pair the verify keeps."""
    docs = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, ngram=3, threshold=0.5,
                                 num_hashes=12, rows_per_band=3)


@query("setsim_prefix_pairs", """
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3 THEN
      list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     for i in generate_series(1, len(toks) - 2)])
    ELSE [] END) AS s
  FROM t
), cnts AS (
  SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id
), inter AS (
  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, count(*) AS i
  FROM sh sa JOIN sh sb ON sb.s = sa.s AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(i.i / greatest(ca.c + cb.c - i.i, 1), 4) AS jaccard
FROM inter i
JOIN cnts ca ON ca.doc_id = i.id_a
JOIN cnts cb ON cb.doc_id = i.id_b
WHERE round(i.i / greatest(ca.c + cb.c - i.i, 1), 4) >= 0.5
""")
def setsim_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join (PPJoin/All-Pairs class): every pair
    with 3-gram Jaccard >= 0.5, via rare-first prefix filtering +
    length filter + candidate-only verification
    (``prefix_filter_pairs``) — deterministic completeness where
    MinHash-LSH is probabilistic. The oracle is brute-force all-pairs,
    so the gate proves the prefix filter drops NO qualifying pair.
    Candidates form only on shared rare prefix shingles: bucket
    equi-join, no cartesian."""
    docs = _t(spark, sf_dir, "documents")
    return D.prefix_filter_pairs(docs, ngram=3, threshold=0.5)


# the memory-safe set-similarity join the prefix_filter_pairs budget
# guard names (SCALE.md §22): the same call, and so the same oracle,
# as dedup_minhash_pairs, kept as its own gate entry
query("setsim_pairs_lsh", ORACLE["dedup_minhash_pairs"])(dedup_minhash_pairs)


@query("simhash_docs", """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, md5(tok) AS h FROM toks
), bits AS (
  SELECT doc_id, j.j,
         ((strpos('0123456789abcdef', substr(th.h, (j.j // 4) + 1, 1)) - 1) >> (j.j % 4)) & 1 AS bit
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) j
), sums AS (
  SELECT doc_id, j, sum(2 * bit - 1) AS s FROM bits GROUP BY doc_id, j
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END)::BIGINT AS simhash
FROM sums GROUP BY doc_id
""")
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (md5 bit votes over distinct tokens)."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash(docs, bits=32)


@query("simhash_near_pairs", """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, md5(tok) AS h FROM toks
), bits AS (
  SELECT doc_id, j.j,
         ((strpos('0123456789abcdef', substr(th.h, (j.j // 4) + 1, 1)) - 1) >> (j.j % 4)) & 1 AS bit
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j) j
), sums AS (
  SELECT doc_id, j, sum(2 * bit - 1) AS s FROM bits GROUP BY doc_id, j
), simh AS (
  SELECT doc_id, sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END)::BIGINT AS simhash
  FROM sums GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM simh a JOIN simh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
""")
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming distance <= 6 on 32-bit hashes."""
    docs = _t(spark, sf_dir, "documents")
    sim = D.simhash(docs, bits=32)
    out = D.simhash_pairs(sim, max_hamming=6)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@query("simhash64_docs", """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, md5(tok) AS h FROM toks
), bits AS (
  SELECT doc_id, j.j,
         ((strpos('0123456789abcdef', substr(th.h, (j.j // 4) + 1, 1)) - 1) >> (j.j % 4)) & 1 AS bit
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
), sums AS (
  SELECT doc_id, j, sum(2 * bit - 1) AS s FROM bits GROUP BY doc_id, j
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN
             CASE WHEN j = 63 THEN (-9223372036854775807 - 1)
                  ELSE (1::BIGINT << (j % 63)) END
           ELSE 0 END)::BIGINT AS simhash
FROM sums GROUP BY doc_id
""")
def simhash64_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document — the corpus-scale hash width (16-bit
    pigeonhole bands at max_hamming=3)."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash(docs, bits=64)


@query("simhash64_near_pairs", """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, md5(tok) AS h FROM toks
), bits AS (
  SELECT doc_id, j.j,
         ((strpos('0123456789abcdef', substr(th.h, (j.j // 4) + 1, 1)) - 1) >> (j.j % 4)) & 1 AS bit
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
), sums AS (
  SELECT doc_id, j, sum(2 * bit - 1) AS s FROM bits GROUP BY doc_id, j
), simh AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN
               CASE WHEN j = 63 THEN (-9223372036854775807 - 1)
                    ELSE (1::BIGINT << (j % 63)) END
             ELSE 0 END)::BIGINT AS simhash
  FROM sums GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM simh a JOIN simh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""")
def simhash64_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at hamming <= 3 on 64-bit simhashes: four
    pigeonhole bands of 16 bits (65536 buckets each) — the band
    granularity that keeps candidate volume sub-quadratic at corpus
    scale. Oracle states the O(N^2) definition; the engine never runs
    it (per-band equi-join + exact hamming verify, recall 1.0 by
    pigeonhole)."""
    docs = _t(spark, sf_dir, "documents")
    sim = D.simhash(docs, bits=64)
    out = D.simhash_pairs(sim, max_hamming=3, bits=64)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# --- quadratic eval-audit class: the "sample in production" contract
# lives in CODE (round-9 verdict task #1). Every audit gate below
# (a) guards its unsampled exact pass behind S.DEFAULT_EVAL_FLOP_BUDGET
# (loud ValueError naming the remedy past ~2e12 int-ops), and (b) has a
# *_sampled twin whose deterministic md5-ordered query pick
# (S.eval_query_sample) is replayed verbatim by the smp CTE in its
# oracle — so the sampled production shape is itself hash-gated.

#: sampled-twin query-set size (shared by Spark gates and oracles)
_EVAL_SAMPLE_N = 200


def _eval_smp_cte(n: int) -> str:
    """The DuckDB replay of S.eval_query_sample: same md5-order pick."""
    return (f"smp AS (SELECT vec_id FROM embeddings "
            f"ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {n})")


def _eval_qfilter(sample_n: int | None) -> str:
    """Query-side restriction fragment for the pair CTEs (alias a =
    query side; index side b stays the FULL corpus)."""
    return ("" if sample_n is None
            else " AND a.vec_id IN (SELECT vec_id FROM smp)")


def _embedding_knn_sql(sample_n: int | None = None) -> str:
    smp = f", {_eval_smp_cte(sample_n)}" if sample_n else ""
    return f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv,
         list_sum(list_transform(embedding,
             x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT
                  * floor(x::DOUBLE * 1000000 + 0.5)::BIGINT))::BIGINT AS nrm
  FROM embeddings
){smp}, pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         floor(list_sum(list_transform(list_zip(a.qv, b.qv),
                                       p -> p[1] * p[2]))::BIGINT
               / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)
           / 1000000.0 AS sim
  FROM v a JOIN v b ON a.vec_id <> b.vec_id{_eval_qfilter(sample_n)}
)
SELECT id_a AS vec_id, id_b AS neighbor_id, sim, rank::INT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rank
      FROM pairs)
WHERE rank <= 5
"""


@query("embedding_knn", _embedding_knn_sql())
def embedding_knn(spark: SparkSession, sf_dir: str,
                  sample_n_queries: int | None = None) -> DataFrame:
    """Exact cosine top-5 per vector via the 2-D blocked distributed
    matrix product (``block_knn``): every vector moves (blocks+shards)
    times, per-cogroup BLAS matmuls emit local top-k, one window pass
    takes the global top-k. Nothing is ever collected to the driver —
    the corpus-as-index shape that survives 100 TB.

    Still O(N^2*d) FLOPs by definition, so the run is budget-guarded:
    unsampled past S.DEFAULT_EVAL_FLOP_BUDGET raises loudly;
    ``sample_n_queries`` switches the query side to the deterministic
    md5 pick (index side stays full — sampled queries get their TRUE
    top-5)."""
    emb = _t(spark, sf_dir, "embeddings")
    sample = None
    if sample_n_queries is not None:
        sample = S.eval_query_sample(emb, n=sample_n_queries)
    else:
        S.guard_eval_flops(emb, op="embedding_knn")
    out = S.block_knn(emb, k=5, queries_df=sample)
    return out.withColumn("rank", F.col("rank").cast("int"))


@query("embedding_knn_sampled", _embedding_knn_sql(_EVAL_SAMPLE_N))
def embedding_knn_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape of ``embedding_knn`` at corpus scale: exact
    top-5 for a deterministic 200-query md5 sample against the FULL
    index — n_q*N*d work instead of N^2*d. The oracle's smp CTE replays
    the identical pick, so the sampled path is hash-gated end to end."""
    return embedding_knn(spark, sf_dir, sample_n_queries=_EVAL_SAMPLE_N)


def _ann_filtered_recall_sql(sample_n: int | None = None) -> str:
    smp = f", {_eval_smp_cte(sample_n)}" if sample_n else ""
    return f"""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv,
         list_sum(list_transform(embedding,
             x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT
                  * floor(x::DOUBLE * 1000000 + 0.5)::BIGINT))::BIGINT AS nrm
  FROM embeddings
){smp}, pf AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.label AS la, b.label AS lb,
         floor(list_sum(list_transform(list_zip(a.qv, b.qv),
                                       p -> p[1] * p[2]))::BIGINT
               / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)
           / 1000000.0 AS sim
  FROM v a JOIN v b ON a.vec_id <> b.vec_id{_eval_qfilter(sample_n)}
), fullk AS (
  SELECT *, row_number() OVER (PARTITION BY id_a
                               ORDER BY sim DESC, id_b) AS rk
  FROM pf
), truth3 AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a
                                          ORDER BY sim DESC, id_b) AS rk
    FROM pf WHERE la % 2 = 0 AND lb % 2 = 0)
  WHERE rk <= 3
), post3 AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a
                                          ORDER BY sim DESC, id_b) AS rk2
    FROM fullk WHERE rk <= 9 AND la % 2 = 0 AND lb % 2 = 0)
  WHERE rk2 <= 3
)
SELECT q.vec_id,
       coalesce(p.n_post, 0)::BIGINT AS n_post,
       coalesce(h.n_hit, 0)::BIGINT  AS n_hit,
       ((coalesce(h.n_hit, 0) * 1000000) // 3)::BIGINT AS recall_micro
FROM (SELECT DISTINCT id_a AS vec_id FROM truth3) q
LEFT JOIN (SELECT id_a, count(*) AS n_post FROM post3 GROUP BY id_a) p
  ON p.id_a = q.vec_id
LEFT JOIN (SELECT t.id_a, count(*) AS n_hit
           FROM truth3 t JOIN post3 s
             ON s.id_a = t.id_a AND s.id_b = t.id_b
           GROUP BY t.id_a) h
  ON h.id_a = q.vec_id
"""


@query("ann_filtered_recall_audit", _ann_filtered_recall_sql())
def ann_filtered_recall_audit(spark: SparkSession, sf_dir: str,
                              sample_n_queries: int | None = None
                              ) -> DataFrame:
    """Filtered vector search done BOTH ways, per-query recall audit —
    the decision every metadata-filtered ANN deployment faces:
    PRE-FILTER (restrict the index to the predicate slice, search
    within it — exact, needs a filtered index) vs POST-FILTER (take
    top-k' from the full index, keep slice survivors, cut to k — one
    shared index, loses recall when matches rank below k'). Slice =
    even labels; truth = exact cosine top-3 within the slice
    (block_knn on the filtered frame); post = slice survivors of the
    full top-9, cut to 3. Emits per query (n_post, n_hit,
    recall_micro) — the measured recall the k'=3k over-fetch buys, the
    number that sizes k' in production.

    Scale: two block_knn passes (2-D blocked BLAS matmuls, nothing
    driver-resident) + label joins at neighbor-row grain and one
    left-semi intersection; all integer micro-unit sims, so the audit
    is engine-exact against the N^2 SQL replay. Unsampled runs are
    budget-guarded (S.DEFAULT_EVAL_FLOP_BUDGET); ``sample_n_queries``
    restricts BOTH passes' query side to the deterministic md5 pick
    (index sides stay full) — the production contract, in code."""
    emb = _t(spark, sf_dir, "embeddings")
    sample = None
    if sample_n_queries is not None:
        sample = S.eval_query_sample(emb, n=sample_n_queries)
    else:
        S.guard_eval_flops(emb, op="ann_filtered_recall_audit")
    pred = (F.col("label") % 2) == 0
    truth = (S.block_knn(emb.where(pred), k=3, queries_df=sample)
             .select("vec_id", "neighbor_id"))
    full = S.block_knn(emb, k=9, queries_df=sample)
    labels = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    from pyspark.sql import Window
    post = (full
            .join(labels.select(F.col("vec_id"),
                                F.col("label").alias("__ql")), "vec_id")
            .join(labels.select(F.col("vec_id").alias("neighbor_id"),
                                F.col("label").alias("__nl")),
                  "neighbor_id")
            .where(((F.col("__ql") % 2) == 0) & ((F.col("__nl") % 2) == 0))
            .withColumn("__rk2", F.row_number().over(
                Window.partitionBy("vec_id")
                .orderBy(F.col("sim").desc(), "neighbor_id")))
            .where(F.col("__rk2") <= 3)
            .select("vec_id", "neighbor_id"))
    hits = (truth.join(post, ["vec_id", "neighbor_id"], "left_semi")
            .groupBy("vec_id").agg(F.count(F.lit(1)).alias("n_hit")))
    n_post = post.groupBy("vec_id").agg(F.count(F.lit(1)).alias("n_post"))
    return (truth.select("vec_id").distinct()
            .join(n_post, "vec_id", "left")
            .join(hits, "vec_id", "left")
            .select("vec_id",
                    F.coalesce("n_post", F.lit(0)).alias("n_post"),
                    F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
                    F.expr("(coalesce(n_hit, 0) * 1000000) div 3")
                    .alias("recall_micro")))


@query("ann_filtered_recall_audit_sampled",
       _ann_filtered_recall_sql(_EVAL_SAMPLE_N))
def ann_filtered_recall_audit_sampled(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Production shape of the pre/post-filter recall audit: both exact
    passes run only the deterministic 200-query md5 sample against the
    full index — n_q*N*d, the cost a 1e9-vector deployment pays. The
    oracle's smp CTE replays the identical pick."""
    return ann_filtered_recall_audit(spark, sf_dir,
                                     sample_n_queries=_EVAL_SAMPLE_N)


@query("ann_sign_lsh", """
WITH cfg AS (
  SELECT least(62, min(len(embedding)),
               greatest(8, length(bin((count(*) + 7) // 8 - 1))))::INT AS nbits
  FROM embeddings
), v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), bv AS (
  SELECT vec_id, v,
         list_sum(list_transform(range(0, nbits),
           i -> CASE WHEN v[i + 1] >= 0 THEN (1::BIGINT << i) ELSE 0 END)
         )::BIGINT AS bucket
  FROM v CROSS JOIN cfg
), pairs AS (
  SELECT a.vec_id AS id_a, a.bucket, b.vec_id AS id_b,
         round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS sim
  FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
)
SELECT id_a AS vec_id, bucket, id_b AS neighbor_id, sim, rank::INT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rank
      FROM pairs)
WHERE rank <= 3
""")
def ann_sign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN (sign-LSH): equi-join on the bucket key instead of a
    cross join — the plan shape that survives 100 TB. nbits='auto'
    (integer formula mirrored in the cfg CTE) grows the bucket space
    with the corpus so expected occupancy — and with it per-bucket pair
    work — stays constant; a fixed nbits was measured at exponent 1.57
    on 10x data (SCALE.md §16)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.sign_lsh_knn(emb, k=3, nbits="auto")
    return out.withColumn("rank", F.col("rank").cast("int"))


def _ann_recall_report_sql(sample_n: int | None = None) -> str:
    smp = f", {_eval_smp_cte(sample_n)}" if sample_n else ""
    return f"""
WITH cfg AS (
  SELECT least(62, min(len(embedding)),
               greatest(8, length(bin((count(*) + 7) // 8 - 1))))::INT AS nbits
  FROM embeddings
), v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), vq AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv,
         list_sum(list_transform(embedding,
             x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT
                  * floor(x::DOUBLE * 1000000 + 0.5)::BIGINT))::BIGINT AS nrm
  FROM embeddings
){smp}, ep AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         floor(list_sum(list_transform(list_zip(a.qv, b.qv),
                                       p -> p[1] * p[2]))::BIGINT
               / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)
           / 1000000.0 AS sim
  FROM vq a JOIN vq b ON a.vec_id <> b.vec_id{_eval_qfilter(sample_n)}
), exact AS (
  SELECT id_a, id_b FROM (
    SELECT *, row_number() OVER (PARTITION BY id_a
                                 ORDER BY sim DESC, id_b) AS rank
    FROM ep) WHERE rank <= 5
), bv AS (
  SELECT vec_id, v,
         list_sum(list_transform(range(0, nbits),
           i -> CASE WHEN v[i + 1] >= 0 THEN (1::BIGINT << i) ELSE 0 END)
         )::BIGINT AS bucket
  FROM v CROSS JOIN cfg
), lp AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS sim
  FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
), approx AS (
  SELECT id_a, id_b FROM (
    SELECT *, row_number() OVER (PARTITION BY id_a
                                 ORDER BY sim DESC, id_b) AS rank
    FROM lp) WHERE rank <= 5
), per AS (
  SELECT e.id_a,
         count(a.id_b) AS hits
  FROM exact e LEFT JOIN approx a
    ON a.id_a = e.id_a AND a.id_b = e.id_b
  GROUP BY e.id_a
)
SELECT count(*)                                    AS n_queries,
       sum(hits)                                   AS total_hits,
       count(*) * 5                                AS possible,
       round(sum(hits) * 1.0 / (count(*) * 5), 6)  AS recall_at_5,
       sum(CASE WHEN hits = 5 THEN 1 ELSE 0 END)   AS n_perfect,
       sum(CASE WHEN hits = 0 THEN 1 ELSE 0 END)   AS n_zero
FROM per
"""


@query("ann_recall_report", _ann_recall_report_sql())
def ann_recall_report(spark: SparkSession, sf_dir: str,
                      sample_n_queries: int | None = None) -> DataFrame:
    """In-engine ANN quality evaluation: recall@5 of the sign-LSH
    index against exact cosine top-5 over the whole corpus — the
    recall harness a production vector store runs after (re)building an
    index, as an engine op instead of a test. Hits are integer counts
    and the single recall division is exact, so the report is
    hash-stable. Cost = the exact evaluator (the quadratic
    embedding_knn class) plus the LSH query path; the sampling contract
    is code — unsampled runs are budget-guarded and
    ``sample_n_queries`` switches to the deterministic md5 query pick
    (ann_recall_against_exact's knob)."""
    emb = _t(spark, sf_dir, "embeddings")
    approx = S.sign_lsh_knn(emb, k=5, nbits="auto") \
        .select("vec_id", "neighbor_id")
    return S.ann_recall_against_exact(
        emb, approx, id_col="vec_id", k=5,
        sample_n_queries=sample_n_queries,
        flop_budget=S.DEFAULT_EVAL_FLOP_BUDGET)


@query("ann_recall_report_sampled", _ann_recall_report_sql(_EVAL_SAMPLE_N))
def ann_recall_report_sampled(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Production shape of the recall harness: exact truth computed for
    the deterministic 200-query md5 sample only (full index side), the
    LSH list joined against it — recall over the sample estimates
    corpus recall without the N^2 pass. Oracle smp CTE replays the
    pick; n_queries = 200 by construction."""
    return ann_recall_report(spark, sf_dir,
                             sample_n_queries=_EVAL_SAMPLE_N)


def _ann_ndcg_sql(sample_n: int | None = None) -> str:
    smp = f", {_eval_smp_cte(sample_n)}" if sample_n else ""
    qset = "smp" if sample_n else "(SELECT vec_id FROM embeddings)"
    return f"""
WITH cfg AS (
  SELECT least(62, min(len(embedding)),
               greatest(8, length(bin((count(*) + 7) // 8 - 1))))::INT AS nbits
  FROM embeddings
), v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), vq AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv,
         list_sum(list_transform(embedding,
             x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT
                  * floor(x::DOUBLE * 1000000 + 0.5)::BIGINT))::BIGINT AS nrm
  FROM embeddings
){smp}, ep AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         floor(list_sum(list_transform(list_zip(a.qv, b.qv),
                                       p -> p[1] * p[2]))::BIGINT
               / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)
           / 1000000.0 AS sim
  FROM vq a JOIN vq b ON a.vec_id <> b.vec_id{_eval_qfilter(sample_n)}
), exact AS (
  SELECT id_a, id_b FROM (
    SELECT *, row_number() OVER (PARTITION BY id_a
                                 ORDER BY sim DESC, id_b) AS rank
    FROM ep) WHERE rank <= 5
), bv AS (
  SELECT vec_id, v,
         list_sum(list_transform(range(0, nbits),
           i -> CASE WHEN v[i + 1] >= 0 THEN (1::BIGINT << i) ELSE 0 END)
         )::BIGINT AS bucket
  FROM v CROSS JOIN cfg
), lp AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS sim
  FROM bv a JOIN bv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id{_eval_qfilter(sample_n)}
), sys AS (
  SELECT id_a, id_b, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY id_a
                                 ORDER BY sim DESC, id_b) AS rank
    FROM lp) WHERE rank <= 3
), w(r, wt) AS (VALUES (1, 1000000), (2, 630930), (3, 500000)),
rel AS (
  SELECT s.id_a, s.rank, w.wt
  FROM sys s JOIN exact e ON e.id_a = s.id_a AND e.id_b = s.id_b
  JOIN w ON w.r = s.rank
), per AS (
  SELECT id_a, sum(wt) AS dcg, min(rank) AS fr, count(*) AS nrel
  FROM rel GROUP BY id_a
), nsys AS (SELECT id_a, count(*) AS ns FROM sys GROUP BY id_a)
SELECT q.vec_id,
       coalesce(nsys.ns, 0)::BIGINT   AS n_sys,
       coalesce(per.nrel, 0)::BIGINT  AS n_rel,
       ((coalesce(per.dcg, 0) * 1000000) // 2130930)::BIGINT AS ndcg_micro,
       (CASE WHEN per.fr IS NULL THEN 0
             ELSE 1000000 // per.fr END)::BIGINT             AS mrr_micro
FROM {qset} q
LEFT JOIN nsys ON nsys.id_a = q.vec_id
LEFT JOIN per ON per.id_a = q.vec_id
"""


@query("ann_ndcg_report", _ann_ndcg_sql())
def ann_ndcg_report(spark: SparkSession, sf_dir: str,
                    sample_n_queries: int | None = None) -> DataFrame:
    """Rank-AWARE ANN quality: per-query nDCG@3 and MRR of the
    sign-LSH index against the exact cosine top-5 — recall counts hits
    anywhere in the list, but a vector store that puts the true
    neighbor at rank 3 instead of rank 1 degrades every downstream
    RAG/recommendation consumer; nDCG/MRR price the POSITION. Binary
    relevance (in the exact top-5), integer micro DCG weights
    floor(1e6/log2(r+1)+0.5) baked as a 3-row literal table on both
    sides, IDCG@3 constant — so the report is engine-exact, no float
    log anywhere. Queries whose bucket produced no candidates emit
    zeros (the honest number: an empty result page).

    Cost = the exact evaluator (quadratic eval class) + the LSH query
    path — the same contract as ann_recall_report, one rank-weighted
    join deeper; same code-level sampling knob (budget-guarded
    unsampled, deterministic md5 pick via ``sample_n_queries``)."""
    emb = _t(spark, sf_dir, "embeddings")
    sample = None
    if sample_n_queries is not None:
        sample = S.eval_query_sample(emb, n=sample_n_queries)
    else:
        S.guard_eval_flops(emb, op="ann_ndcg_report")
    sysd = (S.sign_lsh_knn(emb, k=3, nbits="auto")
            .select("vec_id", "neighbor_id", "rank"))
    if sample is not None:
        sysd = sysd.join(F.broadcast(sample), "vec_id", "left_semi")
    from .plans.caching import track_persist
    sysd = track_persist(sysd)  # two consumers: rel + n_sys
    ideal = (S.block_knn(emb, k=5, queries_df=sample)
             .select("vec_id", "neighbor_id"))
    wts = F.array(F.lit(1000000), F.lit(630930), F.lit(500000))
    rel = (sysd.join(ideal, ["vec_id", "neighbor_id"], "left_semi")
           .select("vec_id", "rank",
                   F.element_at(wts, F.col("rank").cast("int"))
                   .alias("wt")))
    per = rel.groupBy("vec_id").agg(F.sum("wt").alias("dcg"),
                                    F.min("rank").alias("fr"),
                                    F.count(F.lit(1)).alias("nrel"))
    nsys = sysd.groupBy("vec_id").agg(F.count(F.lit(1)).alias("ns"))
    qset = emb.select("vec_id") if sample is None else sample
    return (qset
            .join(nsys, "vec_id", "left").join(per, "vec_id", "left")
            .select("vec_id",
                    F.coalesce("ns", F.lit(0)).cast("long").alias("n_sys"),
                    F.coalesce("nrel", F.lit(0)).cast("long")
                    .alias("n_rel"),
                    F.expr("(coalesce(dcg, 0) * 1000000) div 2130930")
                    .cast("long").alias("ndcg_micro"),
                    F.when(F.col("fr").isNull(), F.lit(0))
                    .otherwise(F.expr("1000000 div fr")).cast("long")
                    .alias("mrr_micro")))


@query("ann_ndcg_report_sampled", _ann_ndcg_sql(_EVAL_SAMPLE_N))
def ann_ndcg_report_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production shape of the rank-aware audit: nDCG@3/MRR for the
    deterministic 200-query md5 sample only — exact truth computed
    against the full index for just those queries. Oracle smp CTE
    replays the pick; one row per sampled query."""
    return ann_ndcg_report(spark, sf_dir, sample_n_queries=_EVAL_SAMPLE_N)


@query("jl_project_embeddings", """
WITH sgn AS (
  SELECT j, list(CASE WHEN ('0x' || substr(md5(i::VARCHAR || '_' || j::VARCHAR),
                             1, 1))::BIGINT % 2 = 0
                      THEN 1 ELSE -1 END ORDER BY i) AS srow
  FROM (SELECT unnest(range(16)) AS j) tj
  CROSS JOIN (SELECT unnest(range(64)) AS i) ti
  GROUP BY j
), q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv
  FROM embeddings
)
SELECT q.vec_id, s.j::INT AS j,
       round(list_sum(list_transform(list_zip(s.srow, q.qv),
                                     p -> p[1] * p[2])) / 1000000.0, 6)
       AS value
FROM q CROSS JOIN sgn s
""")
def jl_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss Rademacher projection 64 -> 16 dims — the
    cheap dimensionality-reduction pass before ANN indexing. Signs are
    md5-derived (no RNG state), inputs quantized to integer micro-units
    so every output coordinate is an exact int64 sum divided once:
    hash-identical across engines. Pure per-row map, zero shuffle; the
    16x64 sign matrix is plan-literal index metadata."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.jl_project(emb, dim=64, out_dim=16)
    return out.select(
        "vec_id", F.posexplode("proj").alias("j", "value"))


@query("embedding_near_dup", """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
            / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
               * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) >= 0.5
""")
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs (sim >= 0.5) via the
    blocked distributed pair scan: cogroup per block pair, one BLAS
    matmul each, pairs above threshold only — no BroadcastNestedLoopJoin
    and no driver collect (the O(N^2) FLOPs are inherent to the exact
    contract at a weak threshold; ``embedding_near_dup_lsh`` is the
    sub-quadratic bucketed path)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_near_dup(emb, threshold=0.5)


@query("embedding_near_dup_lsh", """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), bv AS (
  SELECT vec_id, v,
         (CASE WHEN v[1]  >= 0 THEN 1     ELSE 0 END
        + CASE WHEN v[2]  >= 0 THEN 2     ELSE 0 END
        + CASE WHEN v[3]  >= 0 THEN 4     ELSE 0 END
        + CASE WHEN v[4]  >= 0 THEN 8     ELSE 0 END
        + CASE WHEN v[5]  >= 0 THEN 16    ELSE 0 END
        + CASE WHEN v[6]  >= 0 THEN 32    ELSE 0 END
        + CASE WHEN v[7]  >= 0 THEN 64    ELSE 0 END
        + CASE WHEN v[8]  >= 0 THEN 128   ELSE 0 END
        + CASE WHEN v[9]  >= 0 THEN 256   ELSE 0 END
        + CASE WHEN v[10] >= 0 THEN 512   ELSE 0 END
        + CASE WHEN v[11] >= 0 THEN 1024  ELSE 0 END
        + CASE WHEN v[12] >= 0 THEN 2048  ELSE 0 END
        + CASE WHEN v[13] >= 0 THEN 4096  ELSE 0 END
        + CASE WHEN v[14] >= 0 THEN 8192  ELSE 0 END
        + CASE WHEN v[15] >= 0 THEN 16384 ELSE 0 END
        + CASE WHEN v[16] >= 0 THEN 32768 ELSE 0 END)::BIGINT AS bucket
  FROM v
), bands AS (
  SELECT vec_id, v,
         b.band,
         CASE b.band
           WHEN 0 THEN (bucket >> 0)  & 7
           WHEN 1 THEN (bucket >> 3)  & 7
           WHEN 2 THEN (bucket >> 6)  & 7
           WHEN 3 THEN (bucket >> 9)  & 7
           WHEN 4 THEN (bucket >> 12) & 3
           ELSE        (bucket >> 14) & 3
         END AS band_key
  FROM bv CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS band) b
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       round(list_sum(list_transform(list_zip(va.v, vb.v), p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(va.v, x -> x * x)))
                * sqrt(list_sum(list_transform(vb.v, x -> x * x)))), 6) AS sim
FROM cand c
JOIN v va ON va.vec_id = c.id_a
JOIN v vb ON vb.vec_id = c.id_b
WHERE round(list_sum(list_transform(list_zip(va.v, vb.v), p -> p[1] * p[2]))
            / (sqrt(list_sum(list_transform(va.v, x -> x * x)))
               * sqrt(list_sum(list_transform(vb.v, x -> x * x)))), 6) >= 0.5
""")
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE near-dup via banded sign-LSH (16 sign bits, 6
    pigeonhole bands) + exact cosine verify on candidates only — the
    bucketed equi-join plan that avoids the quadratic pair space. The
    oracle expresses the SAME candidate restriction, so the hash-match
    is exact at any SF; recall vs the exact query is pinned separately
    in tests (a cos-0.5 pair disagrees per sign bit w.p. ~1/3 — weak
    thresholds are inherently recall-lossy under LSH)."""
    emb = _t(spark, sf_dir, "embeddings")
    # one band-occupancy agg decides the plan at runtime — this
    # config's 2-3-bit band keys retain ~2/3 of ALL pairs at any corpus
    # size (measured: 1.34M of 2.0M at sf0.1), so it runs the blocked
    # BLAS scan with the in-batch band predicate, not the band join
    return S.cosine_near_dup_lsh(emb, threshold=0.5, nbits=16,
                                 max_band_hamming=5)


@query("multimodal_meta", """
SELECT doc_id,
       octet_length(text::BLOB)::BIGINT AS byte_len,
       'application/octet-stream'       AS media_type,
       md5(text)                        AS content_hash
FROM documents
""")
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: opaque binary + typed metadata
    (magic-byte sniffing, sizes, digests) — JVM-side only."""
    docs = _t(spark, sf_dir, "documents")
    blob = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.length(blob).cast("long").alias("byte_len"),
        M.sniff_media_type(blob).alias("media_type"),
        F.md5("text").alias("content_hash"),
    )


@query("multimodal_features", """
WITH b AS (
  SELECT doc_id, text, substr(hex(text::BLOB), 1, 8) AS head,
         list_transform(range(1, 17),
           i -> CASE WHEN i <= octet_length(text::BLOB)
                     THEN ascii(substr(text, i::INT, 1)) ELSE 0 END) AS bytes
  FROM documents
), n AS (
  SELECT doc_id, head, bytes,
         sqrt(list_sum(list_transform(bytes, x -> (x * x)::DOUBLE))) AS nrm
  FROM b
)
SELECT doc_id,
       CASE WHEN starts_with(head, 'FFD8')     THEN 'image/jpeg'
            WHEN starts_with(head, '89504E47') THEN 'image/png'
            WHEN starts_with(head, '52494646') THEN 'audio/wav'
            WHEN starts_with(head, '1A45DFA3') THEN 'video/webm'
            ELSE 'application/octet-stream' END AS media_type,
       1 AS n_frames,
       round((bytes[1] / CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END)::REAL::DOUBLE, 4) AS f0
FROM n
""")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stubbed decode/feature-extract over binary media via mapInPandas —
    real Arrow plumbing (schema, batch shape, partition parallelism),
    deterministic fake features (no text blob starts with ``BM``, so
    no row takes the BMP decode). The stub feature is a pure function
    of the leading bytes (float64 math, float32 storage), so the oracle
    reproduces it exactly in SQL —
    byte extraction, L2 norm, ::REAL cast (documents are ASCII, so
    ascii(substr) == byte; non-ASCII corpora would need a blob
    get-byte)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select("doc_id", F.col("text").cast("binary").alias("media"))
    tagged = M.attach_media_metadata(media)
    feats = M.extract_features(tagged)
    # cast BEFORE round: round(float32) stays float32 and its widened
    # double differs from the oracle's double round in the low bits
    return feats.select(
        "doc_id", "media_type", "n_frames",
        F.round(F.element_at("feature", 1).cast("double"), 4).alias("f0"))


@query("multimodal_resize", """
WITH b AS (
  SELECT doc_id,
         list_transform(range(1, 17),
           i -> CASE WHEN i <= octet_length(text::BLOB)
                     THEN ascii(substr(text, i::INT, 1)) ELSE 0 END) AS bytes
  FROM documents
), n AS (
  SELECT doc_id, bytes,
         sqrt(list_sum(list_transform(bytes, x -> (x * x)::DOUBLE))) AS nrm
  FROM b
), feat AS (
  SELECT doc_id,
         list_transform(bytes,
           x -> (x / CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END)::REAL) AS f
  FROM n
)
SELECT doc_id,
       round(f[1]::DOUBLE, 4)  AS r0,
       round(f[5]::DOUBLE, 4)  AS r1,
       round(f[9]::DOUBLE, 4)  AS r2,
       round(f[13]::DOUBLE, 4) AS r3
FROM feat
""")
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/downsample over extracted media features: stub 16-dim
    feature -> uniform-stride resize to 4 dims (indices i*16//4 =
    0,4,8,12) via the vectorized pandas UDF. The oracle reproduces the
    full chain — byte extraction, L2 normalize, float32 store, stride
    pick — in SQL."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select("doc_id", F.col("text").cast("binary").alias("media"))
    feats = M.extract_features(M.attach_media_metadata(media))
    small = M.resize_features(feats, out_dim=4)
    return small.select(
        "doc_id",
        *[F.round(F.element_at("feature", i + 1).cast("double"), 4)
          .alias(f"r{i}") for i in range(4)])


@query("multimodal_frame_sample", """
WITH f AS (
  SELECT doc_id, text, octet_length(text::BLOB) // 32 AS n FROM documents
), idx AS (
  SELECT doc_id, text, g.f AS frame_idx,
         row_number() OVER (PARTITION BY doc_id ORDER BY g.f) - 1 AS j
  FROM f, LATERAL (SELECT unnest(range(0, n, 2)) AS f) g
)
SELECT doc_id, frame_idx::INT AS frame_idx,
       md5(substr(text, (frame_idx * 32 + 1)::INT, 32)) AS frame_hash
FROM idx WHERE j < 4
""")
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary media (every 2nd 32-byte frame, max 4
    per doc) via mapInPandas — one row per sampled frame, the shape
    downstream feature extraction consumes. The stub container format
    (fixed-size frames) is deterministic, so the oracle reproduces each
    frame by byte arithmetic and hashes it (ASCII corpus: text substr ==
    byte substr)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select("doc_id", F.col("text").cast("binary").alias("media"))
    frames = M.sample_frames(media, frame_size=32, every_k=2, max_frames=4)
    return frames.select("doc_id", "frame_idx",
                         F.md5("frame").alias("frame_hash"))


@query("audio_pcm_features", """
WITH s AS (
  SELECT doc_id, t.k,
         ord(substr(text, (2 * t.k + 1)::INT, 1))
           + 256 * ord(substr(text, (2 * t.k + 2)::INT, 1))
           - CASE WHEN ord(substr(text, (2 * t.k + 2)::INT, 1)) >= 128
                  THEN 65536 ELSE 0 END AS val
  FROM documents, UNNEST(generate_series(0, length(text) // 2 - 1)) t(k)
  WHERE length(text) >= 2
), win AS (
  SELECT d.doc_id, g.w
  FROM (SELECT doc_id, length(text) // 2 AS n FROM documents) d,
       LATERAL (SELECT unnest(generate_series(0, (d.n - 16) // 8)) AS w) g
  WHERE d.n >= 16
), j AS (
  SELECT win.doc_id, win.w, s.k, s.val,
         lag(s.val) OVER (PARTITION BY win.doc_id, win.w ORDER BY s.k)
           AS pv
  FROM win JOIN s ON s.doc_id = win.doc_id
                 AND s.k >= win.w * 8 AND s.k < win.w * 8 + 16
)
SELECT doc_id, w::INT AS win_idx, count(*)::INT AS n_samples,
       sum(val * val)::BIGINT AS energy,
       max(abs(val))::INT AS peak,
       sum(CASE WHEN pv IS NOT NULL AND ((val < 0) <> (pv < 0))
                THEN 1 ELSE 0 END)::INT AS zero_crossings
FROM j GROUP BY doc_id, w
""")
def audio_pcm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio windowed features (int16 LE PCM: energy / peak / zero
    crossings per 16-sample window, hop 8) via vectorized mapInPandas
    — functions/multimodal.py::pcm_window_features, the audio leg of
    the modality triad. The oracle reproduces the int16 decode by byte
    arithmetic (ASCII corpus: char == byte, the multimodal_frame_sample
    convention); features are integer-exact by design."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select("doc_id", F.col("text").cast("binary").alias("media"))
    return M.pcm_window_features(media, window=16, hop=8)


# ===========================================================================
# Relational capabilities beyond the reference surface (ship free with
# Spark — SURVEY §2.5: joins, analytic windows, set ops, sorts/limits,
# scalar function catalog). Broadcast/shuffle strategy noted per query.
# ===========================================================================


@query("q3_shipping_priority", """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join + agg + top-10.

    Scale: customer filter prunes before the join; orders/lineitem join
    shuffles on the orderkey (both sides huge — sort-merge/shuffle-hash,
    AQE picks); the filtered customer side is broadcast-eligible and
    hinted so. LIMIT after ORDER BY = TakeOrderedAndProject (no global
    sort materialization).
    """
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
            .orderBy(F.col("revenue").desc(), "l_orderkey")
            .limit(10))


@query("q5_local_supplier_volume", """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""")
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 6-way join through the star schema.

    Scale: region/nation/supplier are broadcast (tiny dims — no shuffle);
    the orders-lineitem join is the one real shuffle; customer-supplier
    nation equality is applied as a post-join filter exactly as in the
    spec. Catalyst reorders the join tree; AQE re-plans on runtime stats.
    """
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem")
    return (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(customer, orders.o_custkey == customer.c_custkey)
            .join(F.broadcast(supplier),
                  (li.l_suppkey == supplier.s_suppkey)
                  & (customer.c_nationkey == supplier.s_nationkey))
            .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


@query("top_orders_per_customer", """
SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice, rn::INT AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
""")
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational analytic window (ranking) — absent in the reference
    (SURVEY §2.5); one shuffle on the partition key, per-key local sort."""
    from pyspark.sql import Window
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (orders
            .select(F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice",
                    F.row_number().over(w).cast("int").alias("rn"))
            .where(F.col("rn") <= 3))


@query("set_ops_users", """
SELECT user_id, 'both' AS tag FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'error'
)
UNION ALL
SELECT user_id, 'purchase_only' AS tag FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'error'
)
""")
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT — set ops beyond the reference's UNION ALL
    Merge (flow/util.go:84-105). Hash-based set operators, one shuffle."""
    ev = _t(spark, sf_dir, "events")
    purch = ev.where("event_type = 'purchase'").select("user_id")
    err = ev.where("event_type = 'error'").select("user_id")
    both = purch.intersect(err).withColumn("tag", F.lit("both"))
    only = purch.subtract(err).withColumn("tag", F.lit("purchase_only"))  # EXCEPT (set)
    return both.unionByName(only)


@query("json_props_extract", """
SELECT event_type,
       count(*) AS cnt,
       round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k
FROM events
GROUP BY event_type
""")
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions over the events props column — part of the
    scalar catalog the reference delegates to user closures (SURVEY
    §2.5). get_json_object is codegen'd; no UDF."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.avg(F.get_json_object("props", "$.k").cast("long")), 4)
                 .alias("avg_k")))


@query("scalar_function_sampler", """
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS DATE)       AS order_month,
       year(o_orderdate)                                    AS order_year,
       substr(o_orderpriority, 1, 1)                        AS prio_code,
       concat(o_orderstatus, '-', o_orderpriority)          AS status_prio,
       round(abs(o_totalprice - 100000.0), 2)               AS price_dist,
       o_orderkey % 7                                       AS bucket7,
       round(sqrt(o_totalprice), 4)                         AS price_sqrt
FROM orders
""")
def scalar_function_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar catalog sampler — the pyspark.sql.functions
    surface standing in for the reference's arbitrary Go closures."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).alias("price_dist"),
        (F.col("o_orderkey") % 7).alias("bucket7"),
        F.round(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
    )


# ===========================================================================
# Remaining §2 inventory demonstrations: Batch->[]T->Flatten round-trip,
# final Reduce, Python-UDF Map path, arbitrary-Python Fold, and
# batch/streaming parity through the SAME operator code path.
# ===========================================================================


@query("batch_collect_flatten", """
WITH batched AS (
  SELECT floor((row_number() OVER (ORDER BY event_id) - 1) / 50)::BIGINT AS batch_id,
         event_id
  FROM events
)
SELECT batch_id, count(*) AS n, min(event_id) AS first_id, max(event_id) AS last_id
FROM batched
GROUP BY batch_id
""")
def batch_collect_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch -> []T -> Flatten round-trip (flow/batch.go:14 element shape,
    flow/util.go:175-179 inverse): batch into arrays of 50, flatten back,
    prove bijection via per-batch stats."""
    from .operators import collect_batches, Flatten
    ev = _t(spark, sf_dir, "events")
    batched = Source(ev.select("event_id")) \
        .via(batch_by_count(50, order_by=["event_id"])) \
        .via(collect_batches("event_id", group_cols=["batch_id"], output="value")) \
        .to_df()
    # flatten back and recompute stats per batch (round-trip proof)
    exploded = batched.select("batch_id", F.explode("value").alias("event_id"))
    return (exploded.groupBy("batch_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("event_id").alias("first_id"),
                 F.max("event_id").alias("last_id")))


@query("reduce_final_global", """
SELECT count(*) AS n_rows,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
       round(max(l_extendedprice), 2) AS max_price,
       round(min(l_extendedprice), 2) AS min_price
FROM lineitem
""")
def reduce_final_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final-value Reduce (flow/reduce.go:8 when only the last accumulator
    matters): plain df.agg — map-side partials, single-row exchange."""
    from .operators import final_reduce
    li = _t(spark, sf_dir, "lineitem")
    return Source(li).via(final_reduce(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("total_revenue"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
    )).to_df()


@query("map_python_udf", """
SELECT doc_id, upper(substr(text, 1, 16)) AS head
FROM documents
""")
def map_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map with an arbitrary Python callable (MapFunction[T,R],
    flow/map.go:11) routed through an Arrow pandas UDF — proving the
    UDF path yields byte-identical results to the SQL catalog."""
    docs = _t(spark, sf_dir, "documents")
    out = Source(docs.withColumn("value", F.col("text"))) \
        .via(Map(lambda s: s[:16].upper(), output="head", column="value")) \
        .to_df()
    return out.select("doc_id", "head")


@query("fold_python_per_key", """
SELECT user_id, event_id,
       round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE value * 0.1 END)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS acc
FROM events
""")
def fold_python_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-Python Fold (FoldFunction analogue, flow/fold.go:8) on
    the per-key fold core's batch driver: per-key sequential accumulate
    with custom logic the Column algebra can't express as one aggregate
    — still parallel across keys (one shuffle, one mapInPandas pass),
    matching the reference's per-key chain."""
    from .operators import running_fold_py
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "value")

    def step(row, acc):
        # struct columns arrive as dicts in the pandas exchange
        v, et = row["value"], row["event_type"]
        return acc + (v if et == "purchase" else v * 0.1)

    df = ev.withColumn("__pair", F.struct("value", "event_type"))
    out = Source(df).via(running_fold_py(
        step, 0.0, order_col="event_id", value_col="__pair",
        key_cols=["user_id"],
        output_schema="user_id long, event_id long, event_type string, "
                      "value double, __pair struct<value:double,event_type:string>, acc double",
    )).to_df()
    return out.select("user_id", "event_id", F.round("acc", 4).alias("acc"))


@query("stream_batch_parity_tumbling", """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       count(*)             AS cnt,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1
""")
def stream_batch_parity_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch/streaming parity: the SAME tumbling_window flow executed as
    a Structured Streaming query (file stream -> availableNow -> memory
    sink), returned as the materialized result. Proves the streaming
    path computes byte-identical answers to the SQL oracle."""
    import uuid as _uuid
    from .streaming import memory_sink, state_sized_partitions
    src = _events_stream(spark, sf_dir)
    windowed = Source(src).via(tumbling_window(
        "ts", "1 hour",
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"))).to_df()
    name = "parity_" + _uuid.uuid4().hex[:10]
    with state_sized_partitions(spark, 8):
        Source(windowed).to(memory_sink(name, output_mode="complete"))
    return spark.table(name).select("window_start", "cnt", "sum_value")


@query("q6_forecast_revenue", """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure scan-filter-aggregate. The whole query is one
    codegen stage + a single-row exchange; every predicate pushes to the
    parquet scan (range + between + comparison)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
             .alias("revenue"),
             F.count(F.lit(1)).alias("n")))


@query("semi_anti_join_customers", """
SELECT tag, count(*) AS cnt, round(sum(c_acctbal), 2) AS total_bal
FROM (
  SELECT c_custkey, c_acctbal, 'has_urgent' AS tag
  FROM customer
  WHERE EXISTS (SELECT 1 FROM orders
                WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
  UNION ALL
  SELECT c_custkey, c_acctbal, 'no_urgent' AS tag
  FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
)
GROUP BY tag
""")
def semi_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins (EXISTS / NOT EXISTS) — join types the
    reference lacks entirely (SURVEY §2.5 'no semi/anti'). Semi/anti
    never duplicate or widen rows: the probe side streams through one
    hash lookup, the build side ships only the key column."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    has_urgent = (cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
                  .withColumn("tag", F.lit("has_urgent")))
    no_urgent = (cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
                 .withColumn("tag", F.lit("no_urgent")))
    both = has_urgent.select("c_custkey", "c_acctbal", "tag").unionByName(
        no_urgent.select("c_custkey", "c_acctbal", "tag"))
    return (both.groupBy("tag")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.sum("c_acctbal"), 2).alias("total_bal")))


@query("ann_query_vector_topk", """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), q AS (
  SELECT v AS qv FROM v WHERE vec_id = 0
)
SELECT vec_id,
       round(list_sum(list_transform(list_zip(v.v, q.qv), p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(v.v, x -> x * x)))
                * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 6) AS sim
FROM v, q
WHERE vec_id <> 0
ORDER BY sim DESC, vec_id
LIMIT 10
""")
def ann_query_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search for ONE query vector: broadcast the query,
    score every row JVM-side, TakeOrderedAndProject for top-k — the
    single-probe ANN shape (no shuffle except the final top-k gather)."""
    emb = _t(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", S.as_double("embedding").alias("v"))
    q = v.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scored = (v.join(F.broadcast(q))
              .where(F.col("vec_id") != 0)
              .select("vec_id",
                      F.round(S.cosine(F.col("v"), F.col("qv")), 6).alias("sim")))
    return scored.orderBy(F.col("sim").desc(), "vec_id").limit(10)


@query("keyed_tumbling_window", """
SELECT user_id,
       time_bucket(INTERVAL '6 hours', ts) AS window_start,
       count(*)             AS cnt,
       round(sum(value), 2) AS sum_value,
       round(max(value), 2) AS max_value
FROM events
GROUP BY 1, 2
""")
def keyed_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed composed with a window flow (flow/keyed.go:53-158 wrapping
    flow/tumbling_window.go) — per-key independent window state in the
    reference collapses to ONE grouped aggregation on (key, window):
    single shuffle, map-side partials, per-key parallelism for free."""
    ev = _t(spark, sf_dir, "events")
    out = Source(ev).via(tumbling_window(
        "ts", "6 hours",
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        keys=["user_id"],
    )).to_df()
    return out.select("user_id", "window_start", "cnt", "sum_value", "max_value")


@query("pandas_udaf_weighted_avg", """
SELECT event_type,
       round(sum(value * (1.0 + user_id % 5)) / sum(1.0 + user_id % 5), 4) AS wavg
FROM events
GROUP BY event_type
""")
def pandas_udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined aggregate via pandas_udf GROUPED_AGG (the
    FoldFunction-as-UDAF surface, SURVEY §2.5): weighted average with
    per-row weights, Arrow-vectorized per group. Oracle mirrors the
    arithmetic exactly (sum-of-products order is per-group sequential)."""
    from pyspark.sql.functions import pandas_udf, PandasUDFType

    # explicit functionType: `from __future__ import annotations` makes the
    # type hints strings, which defeats Spark's signature inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def wavg(v, w):
        return float((v * w).sum() / w.sum())

    ev = _t(spark, sf_dir, "events")
    weighted = ev.withColumn("w", 1.0 + (F.col("user_id") % 5))
    return (weighted.groupBy("event_type")
            .agg(F.round(wavg("value", "w"), 4).alias("wavg")))


@query("zip_distributed_full", """
WITH a AS (
  SELECT row_number() OVER (ORDER BY o_orderkey) AS idx, o_totalprice
  FROM orders
), b AS (
  SELECT row_number() OVER (ORDER BY c_custkey) AS idx, c_acctbal
  FROM customer
)
SELECT round(coalesce(a.o_totalprice, 0) + coalesce(b.c_acctbal, 0), 2) AS value
FROM a FULL OUTER JOIN b USING (idx)
""")
def zip_distributed_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZipWith at scale: both inputs numbered via the two-pass
    distributed ordinal (range shuffle + broadcast offsets — no
    Exchange SinglePartition), zipped over the full tables."""
    from .operators import zip_with_distributed
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return zip_with_distributed(
        lambda a, b: F.round(a + b, 2),
        [orders, cust], [["o_orderkey"], ["c_custkey"]],
        ["o_totalprice", "c_acctbal"], [0.0, 0.0],
        sort_output=False)  # hash compare is order-insensitive


@query("asof_join_purchases", """
SELECT c.event_id, c.user_id,
       round(c.value, 2) AS click_value,
       round(p.value, 2) AS last_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts <= c.ts
""")
def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join — each click joined to the user's most
    recent purchase at-or-before it. Implemented as the union + window
    carry-forward trick (operators/joins.py): ONE shuffle on user_id, no
    range join, no explosion; oracle is DuckDB's native ASOF JOIN."""
    from .operators import asof_join
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    out = asof_join(clicks, purchases, on=["user_id"], left_ts="ts",
                    right_ts="ts", right_values=["value"])
    return out.select(
        "event_id", "user_id",
        F.round("value", 2).alias("click_value"),
        F.round("value_asof", 2).alias("last_purchase_value"))


@query("rollup_status_priority", """
SELECT coalesce(o_orderstatus, 'ALL')   AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*)                          AS cnt,
       round(sum(o_totalprice), 2)       AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""")
def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (status -> priority -> grand total) — grouping
    sets are absent from the reference (SURVEY §2.5 'no grouping sets/
    cube/rollup'); Spark expands them in ONE pass over the data (single
    shuffle, expand node), not one job per level."""
    o = _t(spark, sf_dir, "orders")
    return (o.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.sum("o_totalprice"), 2).alias("total"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "cnt", "total"))


@query("salted_agg_user_totals", """
SELECT user_id, count(*) AS cnt, round(sum(value), 2) AS total,
       round(max(value), 2) AS mx
FROM events
GROUP BY user_id
""")
def salted_agg_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation (salt on partition id):
    identical results to a plain groupBy — the point is the PLAN (hot
    keys spread over salt_buckets reducers before the tiny final merge).
    """
    from .operators import salted_agg
    ev = _t(spark, sf_dir, "events")
    out = Source(ev).via(salted_agg(
        ["user_id"],
        {"cnt": ("count", "sum"),
         "__total_raw": ("sum", "sum", "value"),
         "__mx_raw": ("max", "max", "value")},
        salt_buckets=8)).to_df()
    return out.select("user_id", "cnt",
                      F.round("__total_raw", 2).alias("total"),
                      F.round("__mx_raw", 2).alias("mx"))


@query("interval_join_purchase_context", """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts AS p_ts, value AS p_value FROM events WHERE event_type = 'purchase'
), matched AS (
  SELECT c.event_id, count(*) AS n_purchases, round(sum(p.p_value), 2) AS purchase_sum
  FROM clicks c JOIN purchases p
    ON p.user_id = c.user_id
   AND p.p_ts >= c.ts - INTERVAL '1 hour' AND p.p_ts <= c.ts
  GROUP BY c.event_id
)
SELECT c.event_id, c.user_id,
       coalesce(m.n_purchases, 0) AS n_purchases,
       coalesce(m.purchase_sum, 0.0) AS purchase_sum
FROM clicks c LEFT JOIN matched m ON m.event_id = c.event_id
""")
def interval_join_purchase_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: purchases within the hour BEFORE each click,
    per user. Bucketized into a (key, time-bucket) equi-join + exact
    range filter (operators/joins.py::interval_join) — never a
    nested-loop range join."""
    from .operators import interval_join
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where("event_type = 'click'").select("event_id", "user_id", "ts")
    purchases = ev.where("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
    pairs = interval_join(clicks, purchases, on=["user_id"],
                          left_ts="ts", right_ts="p_ts",
                          lower_seconds=-3600, upper_seconds=0)
    matched = (pairs.groupBy("event_id")
               .agg(F.count(F.lit(1)).alias("n_purchases"),
                    F.round(F.sum("p_value"), 2).alias("purchase_sum")))
    return (clicks.join(matched, "event_id", "left")
            .select("event_id", "user_id",
                    F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
                    F.coalesce("purchase_sum", F.lit(0.0)).alias("purchase_sum")))


@query("percentiles_by_flag", """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem
GROUP BY l_returnflag
""")
def percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (linear interpolation — Spark
    percentile() == DuckDB quantile_cont). The aggregation state
    buffers EVERY value of a group in one task at merge time — fine at
    dim-table grain, a memory cliff on a fact-sized group. The
    code-level 100 TB forms are ``percentiles_by_flag_distributed``
    (EXACT, identical oracle, no per-group materialization — ordinal
    range-shuffle + offset arithmetic) and percentile_approx (t-digest,
    mergeable partials, loses oracle exactness); this buffering form
    doubles as both paths' test anchor."""
    li = _t(spark, sf_dir, "lineitem")
    # one percentile buffer per group (array of quantiles), not three
    return (li.groupBy("l_returnflag")
            .agg(F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").alias("q"))
            .select("l_returnflag",
                    F.round(F.col("q")[0], 4).alias("p50"),
                    F.round(F.col("q")[1], 4).alias("p90"),
                    F.round(F.col("q")[2], 4).alias("p99")))


@query("percentiles_by_flag_hist", """
WITH hist AS (
  SELECT l_returnflag, CAST(floor(l_extendedprice / 64.0) AS BIGINT) AS b,
         count(*) AS c
  FROM lineitem GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, b, c,
         sum(c) OVER (PARTITION BY l_returnflag ORDER BY b) AS cumc,
         sum(c) OVER (PARTITION BY l_returnflag) AS n
  FROM hist
)
SELECT l_returnflag,
       (min(CASE WHEN cumc >= ceil(n * 0.5)  THEN b END) + 0.5) * 64.0 AS p50,
       (min(CASE WHEN cumc >= ceil(n * 0.9)  THEN b END) + 0.5) * 64.0 AS p90,
       (min(CASE WHEN cumc >= ceil(n * 0.99) THEN b END) + 0.5) * 64.0 AS p99
FROM cum GROUP BY l_returnflag
""")
def percentiles_by_flag_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch percentiles — the scale sibling of the exact
    ``percentiles_by_flag`` (same trade as ``mad_outlier_stats_hist``):
    exact per-group percentile buffers whole columns through one
    reducer per group, while the histogram aggregates to (group,
    64-unit bucket) grain with map-side partials and reads every
    quantile off one cumulative pass over the tiny histogram. Bucket
    mids are integral, so the sketch is bit-deterministic and
    oracle-checkable, unlike engine-specific approx_percentile."""
    from pyspark.sql import Window as W
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    w64 = 64.0
    per_flag = W.partitionBy("l_returnflag")
    hist = (li.groupBy("l_returnflag",
                       F.floor(F.col("l_extendedprice") / w64).alias("b"))
            .agg(F.count(F.lit(1)).alias("c")))
    cum = (hist.withColumn("n", F.sum("c").over(per_flag))
           .withColumn("cumc", F.sum("c").over(per_flag.orderBy("b"))))

    def q(p, name):
        return ((F.min(F.when(F.col("cumc") >= F.ceil(F.col("n") * p),
                              F.col("b"))) + 0.5) * w64).alias(name)

    return (cum.groupBy("l_returnflag")
            .agg(q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99")))


@query("text_redact_pii", """
SELECT doc_id,
       length(text) - length(
         regexp_replace(
           regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
           '\\d{3}[-.]?\\d{3}[-.]?\\d{4}', '<PHONE>', 'g')
       ) AS delta_chars,
       md5(regexp_replace(
           regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
           '\\d{3}[-.]?\\d{3}[-.]?\\d{4}', '<PHONE>', 'g')) AS redacted_hash
FROM documents
""")
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing (emails, phone numbers) as pure regexp
    projections — the redaction stage of a curation pipeline; codegen'd,
    zero shuffles. Output is the redacted-content digest so the oracle
    verifies the exact transform without shipping full texts."""
    docs = _t(spark, sf_dir, "documents")
    email = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone = r"\d{3}[-.]?\d{3}[-.]?\d{4}"
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), phone, "<PHONE>")
    return docs.select(
        "doc_id",
        (F.length("text") - F.length(redacted)).cast("long").alias("delta_chars"),
        F.md5(redacted).alias("redacted_hash"))


@query("sentence_stats", """
WITH s AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
                     x -> x <> '') AS sents
  FROM documents
)
SELECT doc_id,
       len(sents)::BIGINT AS n_sentences,
       round(list_sum(list_transform(sents, x -> length(x)))
             / greatest(len(sents), 1), 4) AS avg_sentence_len
FROM s
""")
def sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (regex splitter) + per-doc stats — array
    lambdas over a per-row split; no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(F.split(F.col("text"), "[.!?]+"), lambda x: F.trim(x)),
        lambda x: x != "")
    total_len = F.aggregate(F.transform(sents, F.length), F.lit(0), lambda a, x: a + x)
    return docs.select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sentences"),
        F.round(total_len / F.greatest(F.size(sents), F.lit(1)), 4)
        .alias("avg_sentence_len"))



#: Shared DuckDB oracle CTE fragments. A convention fix (shingle shape,
#: band hashing, PQ encode rounding) must change ONE definition, never
#: N copy-pasted oracles that silently diverge (the k_core_oracle_sql /
#: lpa_oracle_sql pattern, applied to the MinHash-CC and PQ families).

#: MinHash-LSH near-dup pairs -> symmetric edge set -> transitive
#: closure (recursive CTE). Ends at ``reach(n, m)``; consumers group it
#: into labels. Mirrors dedup.ngram_jaccard_pairs + connected_components.
_NEARDUP_CC_CTES = """t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3 THEN
      list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     for i in generate_series(1, len(toks) - 2)])
    ELSE [] END) AS s
  FROM t
), mh AS (
  SELECT sh.doc_id, seeds.seed,
         min(('0x' || substr(md5(sh.s), 1, 15))::BIGINT
             + seeds.seed * (('0x' || substr(md5(sh.s), 16, 15))::BIGINT % 1000000007)) AS m
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed) seeds
  GROUP BY sh.doc_id, seeds.seed
), bands AS (
  SELECT doc_id, seed // 3 AS band, md5(string_agg(m::VARCHAR, '|' ORDER BY seed)) AS band_key
  FROM mh GROUP BY doc_id, seed // 3
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
), cnts AS (
  SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY c.id_a, c.id_b
), pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN cnts ca ON ca.doc_id = i.id_a
  JOIN cnts cb ON cb.doc_id = i.id_b
  WHERE round(i.i / greatest(ca.c + cb.c - i.i, 1), 4) >= 0.5
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(n, m) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
)"""

@query("dedup_components", f"""
WITH RECURSIVE {_NEARDUP_CC_CTES}
SELECT n AS id, min(m) AS component
FROM reach GROUP BY n ORDER BY id
""")
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash-LSH
    pair graph (iterative min-label propagation). Output: one row per
    clustered doc with its component id (= canonical keeper). The
    oracle states the same fixpoint as a recursive transitive closure
    (component = min reachable id), so the iterative Spark algorithm is
    hash-checked against a declarative spec — feasible because the
    oracle graph is sf0.01-sized; the Spark side never materializes the
    closure, only per-node labels."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5)
    comps = D.connected_components(pairs)
    return comps.orderBy("id").select("id", "component")


@query("kmv_distinct_users", """
WITH h AS (
  SELECT DISTINCT event_type,
         (('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT + 1)
           / 4503599627370497.0 AS u
  FROM events
), ranked AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n_exact
  FROM h
)
SELECT event_type,
       CAST(round(CASE WHEN n_exact <= 64 THEN n_exact
                       ELSE (64 - 1) / max(CASE WHEN rk = 64 THEN u END)
                  END) AS BIGINT) AS kmv_estimate,
       CAST(max(n_exact) AS BIGINT) AS exact_distinct
FROM ranked
GROUP BY event_type, n_exact
""")
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct estimator (k=64) per event type — the
    deterministic, engine-portable cousin of HyperLogLog: hash each key
    to uniform (0,1], keep the k smallest per group, estimate
    (k-1)/u_(k). Like HLL the sketch is MERGEABLE (union of k-min sets
    re-truncated to k), which is why sketch cardinality — not exact
    distinct — is the 100 TB path; unlike HLL the estimate is a pure
    function of md5, so DuckDB reproduces it bit-for-bit and the
    accuracy claim (vs the exact count, also returned) is hash-checked
    rather than taken on faith. The exact count lives in a separate
    group-grain aggregate (tiny, broadcast back) instead of a window
    beside row_number — an unbounded count-over window would block the
    rank-filter pushdown (WindowGroupLimit) and funnel every group's
    rows through one reducer; with rank alone only k rows per partition
    reach the per-group window."""
    ev = _t(spark, sf_dir, "events")
    k = 64
    u = ((F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13),
                 16, 10).cast("double") + 1) / F.lit(4503599627370497.0))
    from pyspark.sql import Window
    hashed = ev.select("event_type", u.alias("u")).distinct()
    n_exact = hashed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact"))
    w = Window.partitionBy("event_type").orderBy("u")
    ranked = (hashed
              .withColumn("rk", F.row_number().over(w))
              .where(F.col("rk") <= k))
    return (ranked.groupBy("event_type")
            .agg(F.max(F.when(F.col("rk") == k, F.col("u"))).alias("uk"))
            .join(F.broadcast(n_exact), "event_type")
            .select("event_type",
                    F.round(F.when(F.col("n_exact") <= k, F.col("n_exact"))
                            .otherwise((k - 1) / F.col("uk")))
                    .cast("long").alias("kmv_estimate"),
                    F.col("n_exact").cast("long").alias("exact_distinct")))


@query("kmv_audience_overlap", """
WITH h AS (
  SELECT DISTINCT event_type,
         (('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT + 1)
           / 4503599627370497.0 AS u
  FROM events WHERE event_type IN ('view', 'purchase')
), unioned AS (
  SELECT DISTINCT u FROM h
), ranked AS (
  SELECT u, row_number() OVER (ORDER BY u) AS rk,
         count(*) OVER () AS n_union
  FROM unioned
), sketch AS (
  SELECT max(CASE WHEN rk = 64 THEN u END) AS uk, max(n_union) AS n_union
  FROM ranked WHERE rk <= 64
), est AS (
  SELECT CASE WHEN n_union <= 64 THEN n_union::DOUBLE
              ELSE (64 - 1) / uk END AS union_est,
         CASE WHEN n_union <= 64 THEN 1.0
              ELSE NULL END AS exact_flag
  FROM sketch
), inter AS (
  -- intersection fraction measured on the union sketch's k-min sample:
  -- of the 64 smallest union hashes, the share present in BOTH sets
  SELECT count(*) FILTER (WHERE in_a AND in_b) * 1.0
           / greatest(count(*), 1) AS frac
  FROM (
    SELECT r.u,
           bool_or(h.event_type = 'view')     AS in_a,
           bool_or(h.event_type = 'purchase') AS in_b
    FROM ranked r JOIN h ON h.u = r.u
    WHERE r.rk <= 64
    GROUP BY r.u
  )
)
SELECT CAST(round(e.union_est) AS BIGINT) AS union_users_est,
       CAST(round(e.union_est * i.frac) AS BIGINT) AS overlap_users_est
FROM est e CROSS JOIN inter i
""")
def kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra (theta-sketch style) on the KMV sample:
    audience union and overlap between viewers and purchasers WITHOUT
    touching exact distinct machinery. The union sketch is the k
    smallest hashes of the union; the intersection estimate is the
    union estimate times the fraction of those k sample hashes present
    in both sets — the standard KMV/theta combination rule, mergeable
    across partitions and deterministic (pure md5), so the estimates
    hash-match the DuckDB oracle."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase"))
    k = 64
    u = ((F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13),
                 16, 10).cast("double") + 1) / F.lit(4503599627370497.0))
    h = ev.select("event_type", u.alias("u")).distinct()
    flags = h.groupBy("u").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("in_b"))
    # total union cardinality as a 1-row scalar agg, NOT a window: an
    # unbounded count-over-() beside row_number forces every row
    # through the final single partition; with the rank filter alone,
    # Catalyst rewrites it to TakeOrderedAndProject(limit=k) — per-
    # partition top-k then a k-row merge, the distributed k-min-sketch
    # build (plan verified)
    n_union_df = flags.agg(F.count(F.lit(1)).alias("n_union"))
    w = Window.orderBy("u")
    ranked = (flags.withColumn("rk", F.row_number().over(w))
              .where(F.col("rk") <= k))
    agg = ranked.agg(
        F.max(F.when(F.col("rk") == k, F.col("u"))).alias("uk"),
        (F.sum(F.col("in_a") * F.col("in_b"))
         / F.greatest(F.count(F.lit(1)), F.lit(1))).alias("frac")) \
        .crossJoin(F.broadcast(n_union_df))
    union_est = F.when(F.col("n_union") <= k,
                       F.col("n_union").cast("double")) \
        .otherwise((k - 1) / F.col("uk"))
    return agg.select(
        F.round(union_est).cast("long").alias("union_users_est"),
        F.round(union_est * F.col("frac")).cast("long")
         .alias("overlap_users_est"))


@query("approx_distinct_users")  # HLL implementations differ across engines: rows-only
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via HyperLogLog++
    (approx_count_distinct, rsd=2%). The sketch is MERGEABLE — partial
    sketches combine across partitions/executors without a global
    shuffle of raw values, which is why this (not exact distinct) is the
    100 TB cardinality path. No oracle: DuckDB's HLL differs by
    implementation; accuracy is pinned in tests instead (within 5% of
    exact on the same data)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
                 F.count(F.lit(1)).alias("events")))


@query("stream_parity_sliding", """
SELECT ws AS window_start, count(*) AS cnt, round(sum(value), 2) AS sum_value
FROM (
  SELECT e.value,
         unnest([time_bucket(INTERVAL '30 minutes', e.ts),
                 time_bucket(INTERVAL '30 minutes', e.ts) - INTERVAL '30 minutes']) AS ws
  FROM events e
)
GROUP BY ws
""")
def stream_parity_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window batch/streaming parity: the same sliding_window
    flow as the batch query, executed as a Structured Streaming query
    (availableNow -> complete-mode memory sink), hash-matched against
    the SQL oracle."""
    import uuid as _uuid
    from .streaming import memory_sink, state_sized_partitions
    src = _events_stream(spark, sf_dir)
    windowed = Source(src).via(sliding_window(
        "ts", "1 hour", "30 minutes",
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"))).to_df()
    name = "parity_sw_" + _uuid.uuid4().hex[:10]
    with state_sized_partitions(spark, 8):
        Source(windowed).to(memory_sink(name, output_mode="complete"))
    return spark.table(name).select("window_start", "cnt", "sum_value")


@query("window_functions_sampler", """
SELECT o_custkey, o_orderkey,
       dense_rank() OVER w                    AS drank,
       ntile(4) OVER w                        AS quartile,
       round(lag(o_totalprice) OVER w, 2)     AS prev_price,
       round(lead(o_totalprice) OVER w, 2)    AS next_price,
       round(o_totalprice - max(o_totalprice) OVER (PARTITION BY o_custkey), 2)
                                              AS dev_from_max
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""")
def window_functions_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window catalog beyond ranking: dense_rank, ntile, lag,
    lead, windowed avg deviation — one shuffle on the partition key
    serves every function (shared WINDOW clause == shared exchange)."""
    from pyspark.sql import Window
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    wp = Window.partitionBy("o_custkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.round(F.col("o_totalprice") - F.max("o_totalprice").over(wp), 2)
        .alias("dev_from_max"))  # max: order-independent, exact in doubles


@query("cogroup_user_activity", """
WITH c AS (
  SELECT user_id, count(*) AS clicks, round(sum(value), 2) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id
), p AS (
  SELECT user_id, count(*) AS purchases, round(sum(value), 2) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT coalesce(c.user_id, p.user_id) AS user_id,
       coalesce(c.clicks, 0)          AS clicks,
       coalesce(c.click_value, 0.0)   AS click_value,
       coalesce(p.purchases, 0)       AS purchases,
       coalesce(p.purchase_value, 0.0) AS purchase_value
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
""")
def cogroup_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed COGROUP of two streams (clicks x purchases per user) via
    applyInPandas cogroup — both sides shuffle once and meet in a
    single Arrow-batched function; the relational equivalent (two aggs
    + full outer join) is the oracle.

    r9 production composition (guide §4.1/§4.2/§2.2): the naive form
    shipped every raw event row into Python and called merge once per
    user (sf0.1: 40k Arrow rows, 1500 per-key calls at ~4 ms each =
    ~6 s of pure FlatMapCoGroupsInPandas group overhead; the two JVM
    aggs cost 0.25 s). Now each side is pre-aggregated in the JVM (at
    most one row per user per side crosses the boundary, and the
    map-side partial agg shrinks the cogroup shuffle identically) and
    the cogroup key is a hash BUCKET of the user, so one Python call
    merges a whole bucket of users vectorized (pandas outer-merge) —
    ~2x defaultParallelism calls total instead of one per user. Same
    rows out: the per-user grain is restored inside the merge, and
    round(sum) is applied after the per-user total exactly as before
    (the sum was an order-varying hash aggregate in both shapes)."""
    import pandas as pd
    ev = _t(spark, sf_dir, "events")
    n_buckets = spark.sparkContext.defaultParallelism * 2
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("b")
    clicks = (ev.where("event_type = 'click'")
              .groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("clicks"),
                   F.round(F.sum("value"), 2).alias("click_value"))
              .select(bucket, "*"))
    purchases = (ev.where("event_type = 'purchase'")
                 .groupBy("user_id")
                 .agg(F.count(F.lit(1)).alias("purchases"),
                      F.round(F.sum("value"), 2).alias("purchase_value"))
                 .select(bucket, "*"))

    def merge(c: pd.DataFrame, p: pd.DataFrame) -> pd.DataFrame:
        out = pd.merge(c.drop(columns=["b"]), p.drop(columns=["b"]),
                       on="user_id", how="outer")
        for col in ("clicks", "purchases"):
            out[col] = out[col].fillna(0).astype("int64")
        for col in ("click_value", "purchase_value"):
            out[col] = out[col].fillna(0.0)
        return out

    return (clicks.groupBy("b").cogroup(purchases.groupBy("b"))
            .applyInPandas(merge,
                           schema="user_id long, clicks long, click_value double, "
                                  "purchases long, purchase_value double"))


@query("udtf_word_positions", """
SELECT doc_id, word, pos
FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
  FROM documents
  WHERE doc_id < 10
)
WHERE word <> ''
""")
def udtf_word_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 @udtf) — the FlatMapFunction-as-table-function
    surface (SURVEY §2.5 'UDTF'): one input row -> N output rows with
    arbitrary Python logic, used via LATERAL join. Slow path by design;
    the explode/posexplode form is the JVM fast path for this shape."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, pos: int")
    class SplitWords:
        def eval(self, text):
            for i, w in enumerate((text or "").split(" ")):
                if w:
                    yield w, i

    docs = _t(spark, sf_dir, "documents").where("doc_id < 10")
    spark.udtf.register("gss_split_words", SplitWords)
    docs.createOrReplaceTempView("gss_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, s.word, s.pos "
        "FROM gss_udtf_docs d, LATERAL gss_split_words(d.text) s")


@query("q17_small_quantity_revenue", """
SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey)
""")
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: correlated scalar subquery (per-part average)
    decorrelated by Catalyst into an aggregate + join — the subquery
    never executes per-row. Brand filter prunes parts before the join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")) \
        .agg((F.avg("l_quantity") * 0.2).alias("qty_limit"))
    return (li
            .join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(per_part, li.l_partkey == per_part.pk)
            .where(F.col("l_quantity") < F.col("qty_limit"))
            .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")))


@query("q12_shipmode_priority", """
SELECT l_linestatus,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS high_line_count,
       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
""")
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: conditional aggregation (pivot-by-CASE) over a
    fact-fact join; the CASE folds into the partial aggregate so only
    two counters per group cross the exchange."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count")))


@query("q18_large_orders", """
SELECT c_name, o_orderkey, round(o_totalprice, 2) AS o_totalprice, total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
) big
JOIN orders   ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
""")
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: HAVING-filtered aggregate feeding joins + top-k.
    The aggregate shrinks lineitem to qualifying orderkeys BEFORE any
    join; customer lookup broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("total_qty"))
           .where(F.col("total_qty") > 150))
    return (big.join(orders, orders.o_orderkey == big.l_orderkey)
            .join(F.broadcast(cust), cust.c_custkey == orders.o_custkey)
            .select("c_name", "o_orderkey",
                    F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty")
            .orderBy(F.col("total_qty").desc(), "o_orderkey")
            .limit(20))


# ---------------------------------------------------------------------------
# TPC-H-style relational coverage, round 2 (adapted to the simplified
# synthetic schema: no partsupp, no commit/receipt dates, no phone).
# ---------------------------------------------------------------------------

@query("q4_order_priority", """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority
""")
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: EXISTS decorrelated to a LEFT SEMI join.

    Scale: the semi join carries only the orderkey from lineitem (column
    pruning drops everything else at the scan), dedupes on the build
    side, and the date filter prunes orders before the shuffle.
    """
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


@query("q7_nation_volume", """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         year(l_shipdate)::INT AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
  JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
  WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
      OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""")
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: bilateral nation-pair trade volume by year.

    Scale: both nation dims broadcast; the disjunctive nation-pair
    predicate applies after the dim joins (cheap, on broadcast values);
    the only real shuffles are lineitem-orders and orders-customer.
    """
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31"))
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    pair = (((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
            .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
            .where(pair)
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("int").alias("l_year"))
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


@query("q8_market_share", """
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
             / sum(volume), 4) AS mkt_share
FROM (
  SELECT year(o_orderdate)::INT AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         sn.n_name AS nation
  FROM lineitem l
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
  JOIN part p     ON p.p_partkey = l.l_partkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
) all_nations
GROUP BY o_year
""")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style: one nation's share of a region's market by year.

    Scale: the share is a conditional-sum / sum on ONE aggregation pass
    (no self-join, no second scan); part filter broadcast-prunes the
    fact early; region restriction rides the customer-nation broadcast.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31"))
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
            .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
            .join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
            .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
            .agg(F.round(
                F.sum(F.when(F.col("nation") == "NATION_5", vol).otherwise(F.lit(0.0)))
                / F.sum(vol), 4).alias("mkt_share")))


@query("q9_product_profit", """
SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
FROM (
  SELECT n.n_name AS nation, year(o.o_orderdate)::INT AS o_year,
         l.l_extendedprice * (1 - l.l_discount)
           - p.p_retailprice * 0.6 * l.l_quantity AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  WHERE p.p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
""")
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product-line profit (supply cost approximated as
    60% of retail price — the synthetic schema has no partsupp).

    Scale: part filter broadcasts into the fact scan; supplier/nation
    broadcast; the single big shuffle is lineitem-orders.
    """
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.col("p_retailprice") * 0.6 * F.col("l_quantity"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("o_orderdate").cast("int").alias("o_year"))
            .agg(F.round(F.sum(amount), 2).alias("sum_profit")))


@query("q10_returned_items", """
SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c_acctbal, 2) AS c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: top-20 customers by returned-item revenue.

    Scale: returnflag + date filters push to the scans; one shuffle for
    lineitem-orders, customer join shuffles on custkey, nation
    broadcasts; TakeOrderedAndProject caps the result without a global
    sort.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp")))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .select("c_custkey", "c_name", "revenue",
                    F.round("c_acctbal", 2).alias("c_acctbal"), "n_name")
            .orderBy(F.col("revenue").desc(), "c_custkey")
            .limit(20))


@query("q13_customer_distribution", """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
""")
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style: two-level aggregation over an outer join
    (customers grouped by how many non-urgent orders they placed,
    including zero). Scale: the outer join shuffles on custkey; the
    second agg's key space is tiny (order counts) so its exchange is
    negligible; count(col) vs count(*) null semantics preserved.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    return (c.join(o, c.c_custkey == o.o_custkey, "left")
            .groupBy(c.c_custkey)
            .agg(F.count("o_orderkey").alias("c_count"))
            .groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


@query("q14_promo_revenue", """
SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'
""")
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo revenue share: conditional sum / sum in a
    single global aggregate; part broadcasts; month filter pushes down.
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .agg(F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev), 4).alias("promo_revenue")))


@query("q15_top_supplier", """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style: top supplier via scalar-subquery max over a CTE.

    Scale: the revenue aggregate is computed once and reused for both
    the max and the filter (Spark dedups the subquery subtree); the
    max is a 1-row broadcast into the filter — no second scan of
    lineitem, no window over the full aggregate.
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    s = _t(spark, sf_dir, "supplier")
    rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (s.join(rev, s.s_suppkey == rev.supplier_no)
            .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey"))


@query("q19_disjunctive_revenue", """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
    OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40))
""")
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: disjunctive mixed-table predicate over an
    equi-join. Scale: Catalyst extracts the common p_partkey equi-key
    (hash join, never nested-loop) and pushes the single-table parts of
    the OR (brand/size) into the part scan as an IN-filter.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40)))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .where(cond)
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


@query("q22_idle_rich_customers", """
SELECT seg, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM (
  SELECT substr(c_mktsegment, 1, 4) AS seg, c_acctbal
  FROM customer c
  WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
) custsale
GROUP BY seg
""")
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: above-average-balance customers with no orders
    with no RECENT orders (scalar subquery + anti join), grouped by
    segment prefix.

    Scale: the average is a 1-row broadcast; NOT EXISTS is a LEFT ANTI
    join shuffling only custkeys; both inputs column-pruned to the keys.
    """
    c = _t(spark, sf_dir, "customer")
    o = (_t(spark, sf_dir, "orders")
         .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
         .select("o_custkey"))
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("ab"))
            .join(o, c.c_custkey == o.o_custkey, "left_anti")
            .groupBy(F.substring("c_mktsegment", 1, 4).alias("seg"))
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.round(F.sum("c_acctbal"), 2).alias("totacctbal")))


@query("ann_ivf_knn", """
WITH cfg AS (
  SELECT greatest(16, floor(4 * sqrt(count(*)))::BIGINT) AS nlist
  FROM embeddings
), v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), c AS (
  SELECT vec_id AS cid, v AS cv FROM v CROSS JOIN cfg WHERE vec_id < nlist
), csims AS (
  SELECT v.vec_id, c.cid, v.v,
         round(list_sum(list_transform(list_zip(v.v, c.cv), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(v.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.cv, x -> x * x)))), 6) AS csim
  FROM v CROSS JOIN c
), ranked AS (
  SELECT vec_id, cid, v,
         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crn
  FROM csims
), assign AS (
  SELECT vec_id AS id_b, v AS vb, cid FROM ranked WHERE crn = 1
), probes AS (
  SELECT vec_id AS id_a, v AS va, cid FROM ranked WHERE crn <= 4
), pairs AS (
  SELECT id_a, id_b,
         max(round(list_sum(list_transform(list_zip(va, vb), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(va, x -> x * x)))
                  * sqrt(list_sum(list_transform(vb, x -> x * x)))), 6)) AS sim
  FROM probes JOIN assign USING (cid)
  WHERE id_a <> id_b
  GROUP BY id_a, id_b
)
SELECT id_a AS vec_id, id_b AS neighbor_id, sim, rank::INT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rank
      FROM pairs)
WHERE rank <= 3
""")
def ann_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: deterministic codebook, broadcast assignment,
    top-nprobe probing, per-list exact re-rank (functions/similarity.py
    ::ivf_knn). The 100 TB plan: one broadcast join against the codebook
    builds inverted lists AND probe lists in a single pass; candidate
    generation is an equi-join on the list id. nlist='auto' follows the
    FAISS nlist ~ 4*sqrt(N) rule (mirrored in the cfg CTE) so inverted
    lists stay sqrt-sized — a fixed nlist was measured at exponent 1.63
    on 10x data (SCALE.md §16)."""
    from .functions.similarity import ivf_knn
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_knn(emb, k=3, nlist="auto", nprobe=4)


@query("tfidf_top_terms", """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
), df AS (
  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
), n AS (
  SELECT count(DISTINCT doc_id) AS n FROM toks
), scored AS (
  SELECT tf.doc_id, tf.tok,
         round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, tfidf, rn::INT AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
      FROM scored)
WHERE rn <= 3
""")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with smoothed IDF, top-3 terms per document — the keyword
    extraction stage of a curation pipeline.

    Scale: the corpus is exploded ONCE into the (doc, term, tf)
    aggregate; document frequency and the corpus size both derive from
    that aggregate (tf rows are already distinct doc-term pairs, so
    df = row-count per term and N = distinct docs) — the branches share
    the tf subtree's exchange instead of re-exploding the corpus per
    statistic. N is a 1-row broadcast; the ranking window shuffles on
    doc_id. No collect, no vocabulary driver-side.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower("text"), " "), lambda x: x != ""))
        .alias("tok"))
    # persist the doc-term aggregate: its three consumers prune
    # different columns, so their subtrees don't canonicalize to one
    # exchange and the corpus explode would run three times. At 100 TB
    # this is "materialize the doc-term matrix to parquet once" — the
    # standard intermediate of every TF-IDF/BM25 pipeline.
    tf = track_persist(toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n"))
    scored = (tf.join(dfreq, "tok").join(F.broadcast(n))
              .select("doc_id", "tok",
                      F.round(F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)),
                              6).alias("tfidf")))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (scored.withColumn("rn", F.row_number().over(w).cast("int"))
            .where(F.col("rn") <= 3))


@query("curation_pipeline", """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, text, len(toks) AS n_tokens,
         least(1.0, greatest(0.0,
             0.4 * least(len(list_filter(toks, x -> x IN
                   ('the','a','of','and','to','in','is','for','on','with')))
                 / greatest(len(toks), 1) * 4, 1.0)
           + 0.4 * (CASE WHEN list_sum(list_transform(toks, x -> length(x)))
                              / greatest(len(toks), 1) BETWEEN 3 AND 10
                         THEN 1.0 ELSE 0.5 END)
           + 0.2 * (1 - least(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))
                 / greatest(length(text), 1) * 5, 1.0)))) AS quality
  FROM t
), kept AS (
  SELECT doc_id, text, n_tokens, quality FROM scored WHERE quality >= 0.7
), canonical AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS dup_key,
         min(doc_id) AS doc_id
  FROM kept GROUP BY 1
)
SELECT k.doc_id, round(k.quality, 4) AS quality, k.n_tokens
FROM kept k JOIN canonical c ON c.doc_id = k.doc_id
""")
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation as ONE fluent pipeline: quality score
    -> threshold filter (drops ~80% of this corpus) -> exact dedup
    (keep lowest doc_id per content digest; a no-op on this synthetic
    corpus, structurally exercised) -> token stats. The composition surface is the point: each
    stage is a reusable Flow, and the whole chain stays one lazy Catalyst
    plan (filters push down through the score projection; the dedup is
    the only shuffle).
    """
    from .functions.dedup import content_digest
    from .functions.text import quality_score, token_count
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    kept = (Source(docs)
            .via(Map({"doc_id": F.col("doc_id"), "text": F.col("text"),
                      "n_tokens": token_count("text"),
                      "quality": quality_score("text")}))
            .via(Filter(F.col("quality") >= 0.7))
            .to_df())
    w = Window.partitionBy(content_digest("text")).orderBy("doc_id")
    return (kept.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("doc_id", F.round("quality", 4).alias("quality"), "n_tokens"))


@query("range_frame_rolling_revenue", """
SELECT o_custkey, o_orderkey, o_orderdate,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL '30 days' PRECEDING AND CURRENT ROW), 2)
         AS revenue_30d
FROM orders
""")
def range_frame_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame analytic window: per-customer 30-day trailing revenue.
    A VALUE-based frame (interval preceding), not a row count — one
    shuffle on the partition key, per-key local sort, single pass."""
    from pyspark.sql import Window
    o = _t(spark, sf_dir, "orders")
    # o_orderdate is TIMESTAMP_NTZ; session tz is pinned UTC so the
    # epoch-seconds ordering key matches the oracle's naive timestamps
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
         .rangeBetween(-30 * 86400, 0))
    return o.select(
        "o_custkey", "o_orderkey", "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("revenue_30d"))


@query("pivot_priority_counts", """
SELECT o_orderstatus AS status,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
       count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
       count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
       count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
FROM orders
GROUP BY o_orderstatus
""")
def pivot_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (long -> wide): explicit value list so Catalyst skips the
    extra distinct-values collect job and plans ONE hash aggregate with
    conditional counters — no per-value scan, no second shuffle."""
    o = _t(spark, sf_dir, "orders")
    piv = (o.groupBy(F.col("o_orderstatus").alias("status"))
           .pivot("o_orderpriority",
                  ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
           .count())
    renames = [("1-URGENT", "urgent"), ("2-HIGH", "high"), ("3-MEDIUM", "medium"),
               ("4-NOT SPECIFIED", "not_specified"), ("5-LOW", "low")]
    return piv.select(
        "status", *[F.coalesce(F.col(f"`{old}`"), F.lit(0)).alias(new)
                    for old, new in renames])


@query("unpivot_lineitem_measures", """
SELECT metric, round(sum(value), 2) AS total
FROM (
  SELECT 'quantity' AS metric, l_quantity AS value FROM lineitem
  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'discount', l_discount FROM lineitem
  UNION ALL SELECT 'tax', l_tax FROM lineitem
)
GROUP BY metric
""")
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long) via the native melt/Expand node: one scan
    of the 4 measure columns (vs the naive 4x UNION ALL re-scan), then a
    single hash aggregate over 4 groups."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        [], ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric", "value")
    return (long.groupBy(F.expr("substring(metric, 3)").alias("metric"))
            .agg(F.round(F.sum("value"), 2).alias("total")))


@query("deterministic_sample_docs", """
SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS chars
FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10 = 0
GROUP BY lang
""")
def deterministic_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-mod sampling — the reproducible 10% corpus
    sample a training pipeline uses instead of rand(): stable across
    runs/engines/partitionings, pushes down as a plain filter, and the
    same doc set is selected on re-runs at any cluster size."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                    16, 10).cast("long") % 10
    return (d.where(bucket == 0)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("chars")))


@query("domain_quota_sample", """
SELECT lang, source, doc_id, rk FROM (
  SELECT lang, source, doc_id,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY md5(doc_id::VARCHAR)) AS rk
  FROM documents)
WHERE rk <= 3
""")
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling (corpus balancing): keep at most K docs
    per (lang, source) cell, chosen by deterministic hash order. One
    shuffle on the cell key; rank is computed per-partition after a
    local sort, so no global ordering bottleneck."""
    from pyspark.sql import Window
    d = _t(spark, sf_dir, "documents")
    w = (Window.partitionBy("lang", "source")
         .orderBy(F.md5(F.col("doc_id").cast("string"))))
    return (d.select("lang", "source", "doc_id",
                     F.row_number().over(w).cast("int").alias("rk"))
            .where(F.col("rk") <= 3))


@query("gopher_repetition_stats", """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
  FROM documents
), pos AS (
  SELECT doc_id, generate_subscripts(ts, 1) AS p, unnest(ts) AS tok
  FROM toks
), tri AS (
  SELECT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS tg
  FROM pos
  WINDOW w AS (PARTITION BY doc_id ORDER BY p)
  QUALIFY lead(tok, 2) OVER w IS NOT NULL
), cnts AS (
  SELECT doc_id, tg, count(*) AS c FROM tri GROUP BY doc_id, tg
)
SELECT doc_id,
       sum(c)::BIGINT AS n_trigrams,
       sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS n_dup,
       round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c), 4) AS dup_frac
FROM cnts GROUP BY doc_id
""")
def gopher_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition filter: fraction of word
    trigrams that are duplicated inside the document. Relational form —
    posexplode + per-doc window (lead x2) + two hash aggregates, all in
    whole-stage codegen; ONE shuffle on doc_id serves the window and
    both aggregations (same key)."""
    from pyspark.sql import Window
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    pos = d.select("doc_id", F.posexplode(toks).alias("p", "tok"))
    w = Window.partitionBy("doc_id").orderBy("p")
    tri = (pos.select(
        "doc_id",
        F.concat_ws(" ", "tok", F.lead("tok", 1).over(w),
                    F.lead("tok", 2).over(w)).alias("tg"),
        F.lead("tok", 2).over(w).alias("_t2"))
        .where(F.col("_t2").isNotNull()))
    cnts = tri.groupBy("doc_id", "tg").agg(F.count(F.lit(1)).alias("c"))
    dup = F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
    return (cnts.groupBy("doc_id")
            .agg(F.sum("c").alias("n_trigrams"),
                 dup.alias("n_dup"),
                 F.round(dup / F.sum("c"), 4).alias("dup_frac")))


@query("array_functions_sampler", """
SELECT vec_id,
       round(list_reduce(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
                         (a, b) -> a + b), 3) AS norm_sq,
       len(list_filter(embedding, x -> x::DOUBLE > 0)) AS n_pos,
       round(embedding[1]::DOUBLE, 4) AS first_dim
FROM embeddings
""")
def array_functions_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column: transform
    / aggregate (fold) / filter — the Column-lambda surface a user needs
    for vector features without leaving the JVM. Narrow (zero-shuffle)
    map-only plan. For the bulk-numeric hot path prefer the matmul
    mapInPandas kNN (SCALE.md) — this is the expression-level API."""
    e = _t(spark, sf_dir, "embeddings")
    arr = F.transform("embedding", lambda x: x.cast("double"))
    norm_sq = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x)
    return e.select(
        "vec_id",
        F.round(norm_sq, 3).alias("norm_sq"),
        F.size(F.filter(arr, lambda x: x > 0)).cast("long").alias("n_pos"),
        F.round(F.element_at(arr, 1), 4).alias("first_dim"))


@query("chunk_dedup_reassembly", """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
  FROM documents
), pos AS (
  SELECT doc_id, generate_subscripts(ts, 1) - 1 AS p, unnest(ts) AS tok
  FROM toks
), chunks AS (
  SELECT doc_id, p // 8 AS cid, string_agg(tok, ' ' ORDER BY p) AS chunk
  FROM pos GROUP BY doc_id, p // 8
), keep AS (
  SELECT doc_id, cid, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cid) AS rn
  FROM chunks
)
SELECT doc_id,
       count(*)::BIGINT AS n_chunks,
       count(*) FILTER (WHERE rn = 1)::BIGINT AS n_kept,
       CASE WHEN count(*) FILTER (WHERE rn = 1) = 0 THEN NULL
            ELSE md5(string_agg(chunk, ' ' ORDER BY cid) FILTER (WHERE rn = 1))
       END AS clean_digest
FROM keep GROUP BY doc_id
""")
def chunk_dedup_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level chunk dedup WITH document reassembly: split
    every doc into 8-word chunks, keep only the globally-first occurrence
    of each distinct chunk (min doc_id, then position), and rebuild each
    document from its surviving chunks in order. Three shuffles total —
    (doc_id,cid) chunk build, chunk-text dedup window, doc_id regroup —
    each keyed, no global sort, no driver collect; at 100 TB every stage
    is a plain hash exchange. Output pins the cleaned text via digest."""
    from .functions.dedup import chunk_dedup
    d = _t(spark, sf_dir, "documents")
    out = chunk_dedup(d, text_col="text", id_col="doc_id", chunk_size=8)
    return out.select("doc_id", "n_chunks", "n_kept",
                      F.md5("clean_text").alias("clean_digest"))


@query("decontaminate_ngram_overlap", """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
  FROM documents
), pos AS (
  SELECT doc_id, source, generate_subscripts(ts, 1) AS p, unnest(ts) AS tok
  FROM toks
), grams AS (
  SELECT doc_id, source,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
             || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS g
  FROM pos
  WINDOW w AS (PARTITION BY doc_id ORDER BY p)
  QUALIFY lead(tok, 4) OVER w IS NOT NULL
), eval_grams AS (
  SELECT DISTINCT g FROM grams WHERE source = 'src0'
), train_grams AS (
  SELECT DISTINCT doc_id, g FROM grams WHERE source <> 'src0'
)
SELECT t.doc_id, count(*)::BIGINT AS n_hits
FROM train_grams t JOIN eval_grams e USING (g)
GROUP BY t.doc_id
""")
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    5-gram with the eval slice (source='src0'). Distinct-gram sets on
    both sides, then an equi-join on the gram text and a per-doc count.
    The train side never materializes a cross product — the join is
    gram-keyed, and skewed stop-grams are already thinned by DISTINCT.
    Joined via shuffle_hash: the eval side is an exploded+distinct
    intermediate, the shape whose BroadcastExchange stalls aged local
    sessions (SCALE.md §8); on a real cluster where the eval set is a
    fixed small benchmark suite, flip the hint to broadcast."""
    from pyspark.sql import Window
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    pos = d.select("doc_id", "source", F.posexplode(toks).alias("p", "tok"))
    w = Window.partitionBy("doc_id").orderBy("p")
    leads = [F.lead("tok", i).over(w) for i in range(1, 5)]
    grams = (pos.select("doc_id", "source",
                        F.concat_ws(" ", F.col("tok"), *leads).alias("g"),
                        leads[-1].alias("_t4"))
             .where(F.col("_t4").isNotNull()))
    eval_g = grams.where(F.col("source") == "src0").select("g").distinct()
    train_g = (grams.where(F.col("source") != "src0")
               .select("doc_id", "g").distinct())
    return (train_g.join(eval_g.hint("shuffle_hash"), "g")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hits")))


@query("decontaminate_containment", """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
  FROM documents
), pos AS (
  SELECT doc_id, source, generate_subscripts(ts, 1) AS p, unnest(ts) AS tok
  FROM toks
), grams AS (
  SELECT doc_id, source,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
             || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS g
  FROM pos
  WINDOW w AS (PARTITION BY doc_id ORDER BY p)
  QUALIFY lead(tok, 4) OVER w IS NOT NULL
), eval_grams AS (
  SELECT DISTINCT doc_id, g FROM grams WHERE source = 'src0'
), train_set AS (
  SELECT DISTINCT g FROM grams WHERE source <> 'src0'
), leaked AS (
  SELECT e.doc_id, count(t.g)::BIGINT AS n_leaked
  FROM eval_grams e LEFT JOIN train_set t USING (g)
  GROUP BY e.doc_id
), sizes AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams
  FROM eval_grams GROUP BY doc_id
)
SELECT s.doc_id, s.n_grams, l.n_leaked,
       floor(l.n_leaked / s.n_grams * 1000000 + 0.5) / 1000000.0
         AS containment
FROM sizes s JOIN leaked l USING (doc_id)
""")
def decontaminate_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT-scored decontamination, the asymmetric complement of
    the overlap flagger: for every EVAL doc (source='src0'), what
    fraction of its distinct word 5-grams appears ANYWHERE in the
    training split — |eval_grams(doc) INTERSECT train_grams| /
    |eval_grams(doc)|. This is the metric you rank to decide which
    benchmark items are burned (resemblance-Jaccard under-scores a
    short eval doc fully contained in a long train doc — the exact
    failure containment exists to catch). Integer counts + one rounded
    division, hash-exact. Plan: gram-keyed left join of the eval grams
    against the distinct train-gram set — no cross product, stop-gram
    skew thinned by DISTINCT on both sides."""
    from pyspark.sql import Window
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    pos = d.select("doc_id", "source", F.posexplode(toks).alias("p", "tok"))
    w = Window.partitionBy("doc_id").orderBy("p")
    leads = [F.lead("tok", i).over(w) for i in range(1, 5)]
    grams = (pos.select("doc_id", "source",
                        F.concat_ws(" ", F.col("tok"), *leads).alias("g"),
                        leads[-1].alias("_t4"))
             .where(F.col("_t4").isNotNull()))
    eval_g = (grams.where(F.col("source") == "src0")
              .select("doc_id", "g").distinct())
    train_set = (grams.where(F.col("source") != "src0")
                 .select("g").distinct())
    leaked = (eval_g.join(train_set.hint("shuffle_hash")
                          .withColumn("__hit", F.lit(1)), "g", "left")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_grams"),
                   F.count("__hit").alias("n_leaked")))
    return leaked.select(
        "doc_id", "n_grams", "n_leaked",
        (F.floor(F.col("n_leaked") / F.col("n_grams") * 1_000_000
                 + F.lit(0.5)) / 1_000_000.0).alias("containment"))


@query("label_centroids", """
WITH dims AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
), means AS (
  SELECT label, dim, avg(v) AS m, count(*) AS n
  FROM dims GROUP BY label, dim
)
SELECT label,
       (max(n))::BIGINT AS n_vecs,
       round(list_reduce(list(m * m ORDER BY dim), (a, b) -> a + b), 3)
         AS centroid_norm_sq,
       round(min(CASE WHEN dim = 1 THEN m END), 4) AS dim1_mean
FROM means GROUP BY label
""")
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids — the building block for IVF
    codebooks, class prototypes, and drift monitoring. Element-wise mean
    via posexplode -> (label, dim) hash aggregate: fully JVM-side, scales
    as rows x dims with map-side partial aggregation; NO Python UDF and
    no per-label collect. Centroid re-packed with an ordered fold."""
    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode(F.transform("embedding",
                                          lambda x: x.cast("double"))
                              ).alias("dim0", "v"))
    means = (dims.groupBy("label", (F.col("dim0") + 1).alias("dim"))
             .agg(F.avg("v").alias("m"), F.count(F.lit(1)).alias("n")))
    packed = F.transform(
        F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s.m)
    norm_sq = F.aggregate(packed, F.lit(0.0), lambda a, x: a + x * x)
    return (means.groupBy("label")
            .agg(F.max("n").alias("n_vecs"),
                 F.round(norm_sq, 3).alias("centroid_norm_sq"),
                 F.round(F.min(F.when(F.col("dim") == 1, F.col("m"))), 4)
                  .alias("dim1_mean")))


@query("resample_fill_forward", """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         sum(value) AS s, count(*) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM bounds
)
SELECT g.event_type, g.hour,
       round(last_value(hy.s IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.hour), 2) AS s_fill,
       (last_value(hy.n IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.hour))::BIGINT AS n_fill,
       (hy.s IS NULL) AS is_gap
FROM grid g
LEFT JOIN hourly hy ON hy.event_type = g.event_type AND hy.h = g.hour
""")
def resample_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap fill: snap events to an hourly
    grid per series, materialize MISSING hours via sequence()+explode
    (no driver loop, no UDF), and forward-fill each gap with the last
    observed value (last_value IGNORE NULLS window). The grid is built
    from per-series bounds so its size is hours x series — independent
    of event volume; at 100 TB the expensive side is one keyed hash
    aggregate over the raw events, everything after is tiny."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("h"))
              .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n")))
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"))
    # grid derives from hourly (self-join lineage) — re-key the right
    # side so the analyzer sees distinct attributes
    samples = hourly.select(F.col("event_type").alias("et2"),
                            F.col("h").alias("h2"), "s", "n")
    joined = grid.join(
        samples,
        (grid.event_type == samples.et2) & (grid.hour == samples.h2),
        "left").select("event_type", "hour", "s", "n")
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(Window.unboundedPreceding, 0))
    # fill sum+count, not avg: sums stay on the input's 2-decimal grid,
    # so rounding is boundary-safe across engines (an avg like x.xx75
    # rounds differently under 1e-13 of cross-engine float noise)
    return joined.select(
        "event_type", "hour",
        F.round(F.last("s", ignorenulls=True).over(w), 2).alias("s_fill"),
        F.last("n", ignorenulls=True).over(w).alias("n_fill"),
        F.col("s").isNull().alias("is_gap"))


@query("feature_moments", """
WITH dims AS (
  SELECT label,
         embedding[1]::DOUBLE AS d1,
         embedding[2]::DOUBLE AS d2
  FROM embeddings
)
SELECT label,
       count(*) AS n,
       round(stddev_samp(d1), 4) AS sd_d1,
       round(var_samp(d2), 4) AS var_d2,
       round(corr(d1, d2), 4) AS corr_d12,
       round(covar_samp(d1, d2), 4) AS cov_d12
FROM dims GROUP BY label
""")
def feature_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class feature statistics (stddev / variance / correlation /
    covariance) — the dataset-QA pass before training. All second-moment
    aggregates are algebraic: they decompose into sum/sum²/sum-of-
    products partials, so Spark computes them with map-side partial
    aggregation and ONE shuffle of constant-size state per label."""
    e = _t(spark, sf_dir, "embeddings")
    d1 = F.element_at("embedding", 1).cast("double")
    d2 = F.element_at("embedding", 2).cast("double")
    dims = e.select("label", d1.alias("d1"), d2.alias("d2"))
    return (dims.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.stddev_samp("d1"), 4).alias("sd_d1"),
                 F.round(F.var_samp("d2"), 4).alias("var_d2"),
                 F.round(F.corr("d1", "d2"), 4).alias("corr_d12"),
                 F.round(F.covar_samp("d1", "d2"), 4).alias("cov_d12")))


@query("q16_supplier_part_counts", """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'ECONOMY%'
  AND p_size IN (1, 4, 7)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type
""")
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted (no partsupp in the synthetic schema: supplier-
    part relationships come from lineitem; the 'complaint supplier'
    exclusion becomes a negative-balance exclusion). NOT IN -> anti join
    on a tiny broadcast side; distinct-count shuffles once on the
    grouping key after the part filter prunes the probe."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").startswith("ECONOMY")
        & F.col("p_size").isin(1, 4, 7))
    bad = _t(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
            .groupBy("p_brand", "p_type")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


@query("q11_important_parts", """
WITH val AS (
  SELECT l_partkey,
         sum(l_extendedprice::DECIMAL(18,2)
             * (1 - l_discount)::DECIMAL(18,2)) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_9'
  GROUP BY l_partkey
)
SELECT l_partkey AS partkey, round(v, 2)::DOUBLE AS value
FROM val
WHERE v > (SELECT 2.0 * avg(v) FROM val)
""")
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted (partsupp value -> discounted revenue through
    one nation's suppliers). The global-total scalar subquery is a
    single-row broadcast cross join against the reused per-part
    aggregate; Catalyst's ReuseExchange computes the keyed agg once."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_9")
    val = (li.join(F.broadcast(
                sup.join(F.broadcast(nat),
                         sup.s_nationkey == nat.n_nationkey)
                .select("s_suppkey")),
                li.l_suppkey == F.col("s_suppkey"))
           .groupBy("l_partkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                      * (F.lit(1) - F.col("l_discount"))
                      .cast("decimal(18,2)")).alias("v")))
    total = val.agg((F.avg("v") * 2.0).alias("cut"))
    return (val.crossJoin(F.broadcast(total))
            .where(F.col("v") > F.col("cut"))
            .select(F.col("l_partkey").alias("partkey"),
                    F.round("v", 2).cast("double").alias("value")))


@query("q20_excess_shippers", """
WITH shipped AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
), part_total AS (
  SELECT l_partkey, sum(qty) AS total,
         count(*) AS n_shippers FROM shipped GROUP BY 1
)
SELECT DISTINCT s_suppkey, s_name
FROM shipped
JOIN part_total USING (l_partkey)
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE qty > 1.5 * total / n_shippers AND n_name = 'NATION_9'
""")
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted (availqty -> share of a part's 1994 shipments):
    suppliers in one nation who shipped >1.5x the average per-supplier
    share of any part's 1996 volume (scale-free cutoff). Two aggregations over ONE shuffled dataset (part_total
    derives from shipped, same key prefix), then broadcast dims; the
    date filter pushes to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01"))
    shipped = (li.groupBy("l_suppkey", "l_partkey")
               .agg(F.sum("l_quantity").alias("qty")))
    part_total = (shipped.groupBy("l_partkey")
                  .agg(F.sum("qty").alias("total"),
                       F.count(F.lit(1)).alias("n_shippers")))
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_9")
    return (shipped.join(part_total, "l_partkey")
            .where(F.col("qty")
                   > 1.5 * F.col("total") / F.col("n_shippers"))
            .join(F.broadcast(sup.join(
                F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
                .select("s_suppkey", "s_name")),
                F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name").distinct())


@query("q21_waiting_suppliers", """
WITH lines AS (
  SELECT l_orderkey, l_suppkey, s_name,
         (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey AND o_orderstatus = 'F'
  JOIN supplier ON s_suppkey = l_suppkey
), stats AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
  FROM lines GROUP BY l_orderkey
)
SELECT s_name, count(*) AS numwait
FROM lines JOIN stats USING (l_orderkey)
WHERE late AND n_supp > 1 AND n_late = 1
GROUP BY s_name
""")
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (no commit/receipt dates: 'late' = shipped >90
    days after order date). The classic EXISTS / NOT-EXISTS pair is
    DECORRELATED into per-order WINDOW aggregates (distinct suppliers,
    distinct late suppliers over partition l_orderkey) — one fact scan
    and one shuffle replace the reference shape's two correlated
    re-scans; the supplier who is late while every other supplier on a
    multi-supplier 'F' order is on time takes the blame."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    from pyspark.sql import Window
    lines = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
             .select("l_orderkey", "l_suppkey", "s_name",
                     (F.col("l_shipdate")
                      > F.col("o_orderdate") + F.expr("interval 90 days")
                      ).alias("late")))
    # per-order stats as WINDOW aggregates, not groupBy + self-join: one
    # lineitem scan and one shuffle on l_orderkey (the join form scanned
    # the fact twice — column pruning diverges, so ReuseExchange can't
    # deduplicate the subtrees). Per-order supplier sets are tiny, so
    # collect_set state is bounded.
    w = Window.partitionBy("l_orderkey")
    stats = lines.select(
        "s_name", "late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(F.collect_set(
            F.when(F.col("late"), F.col("l_suppkey"))).over(w)).alias("n_late"))
    return (stats
            .where(F.col("late") & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait")))


@query("q2_min_cost_supplier", """
WITH costs AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
  GROUP BY 1, 2
)
SELECT c.l_partkey AS partkey, s.s_name, c.unit_cost
FROM costs c
JOIN supplier s ON s.s_suppkey = c.l_suppkey
WHERE c.unit_cost = (SELECT min(c2.unit_cost) FROM costs c2
                     WHERE c2.l_partkey = c.l_partkey)
""")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adapted (no partsupp: supply cost = cheapest observed
    unit price per (part, supplier) in one region). The correlated
    min-subquery is decorrelated into a per-part window min — ONE extra
    pass over the already-shuffled aggregate instead of a re-scan join;
    cost values are selections (min), not sums, so they are bit-exact
    across engines and emitted UNROUNDED — round() on a boundary-adjacent
    division differs between engines (BigDecimal half-up vs scaled
    nearbyint), while the raw double cannot. Dims broadcast; part filter semi-joins
    before the aggregate to shrink the shuffle."""
    from pyspark.sql import Window
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    parts = _t(spark, sf_dir, "part").where(
        F.col("p_size") <= 5).select("p_partkey")
    eu_sup = (sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
              .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
              .select("s_suppkey", "s_name"))
    costs = (li.join(F.broadcast(parts),
                     li.l_partkey == parts.p_partkey, "left_semi")
             .join(F.broadcast(eu_sup), li.l_suppkey == eu_sup.s_suppkey)
             .groupBy("l_partkey", "l_suppkey", "s_name")
             .agg(F.min(F.col("l_extendedprice")
                        / F.col("l_quantity")).alias("unit_cost")))
    w = Window.partitionBy("l_partkey")
    return (costs.withColumn("min_cost", F.min("unit_cost").over(w))
            .where(F.col("unit_cost") == F.col("min_cost"))
            .select(F.col("l_partkey").alias("partkey"), "s_name",
                    "unit_cost"))


@query("vocab_top_tokens", """
SELECT tok, cnt, rank FROM (
  SELECT tok, cnt,
         row_number() OVER (ORDER BY cnt DESC, tok) AS rank
  FROM (
    SELECT tok, count(*) AS cnt
    FROM (
      SELECT unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS tok
      FROM documents
    )
    GROUP BY tok
  )
)
WHERE rank <= 50
""")
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: corpus-wide token frequencies, top 50 by
    count (deterministic tie-break on the token). The heavy stage is a
    map-side-combined hash aggregate over exploded tokens (distinct
    token count is vocabulary-sized, far below row count); the global
    top-k is TakeOrderedAndProject over the tiny aggregate — no full
    sort of the corpus."""
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    freq = (d.select(F.explode(toks).alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))
    top = (freq.orderBy(F.col("cnt").desc(), "tok").limit(50)
           .select("tok", "cnt"))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("cnt").desc(), "tok")
    return top.select("tok", "cnt",
                      F.row_number().over(w).cast("int").alias("rank"))


@query("data_quality_report", """
WITH agg AS (
  SELECT count(*) AS n_rows,
         count(CASE WHEN l_quantity IS NULL THEN 1 END) AS q_null,
         count(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 END) AS q_range,
         count(CASE WHEN l_discount NOT BETWEEN 0 AND 0.1 THEN 1 END) AS d_range,
         count(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 END) AS rf_set,
         count(CASE WHEN NOT regexp_matches(l_linestatus, '^[OF]$') THEN 1 END) AS ls_re
  FROM lineitem
)
SELECT 'l_quantity_not_null' AS check, n_rows, q_null AS n_violations,
       round(q_null / n_rows, 6) AS violation_frac FROM agg
UNION ALL
SELECT 'l_quantity_in_range', n_rows, q_range, round(q_range / n_rows, 6) FROM agg
UNION ALL
SELECT 'l_discount_in_range', n_rows, d_range, round(d_range / n_rows, 6) FROM agg
UNION ALL
SELECT 'l_returnflag_is_in', n_rows, rf_set, round(rf_set / n_rows, 6) FROM agg
UNION ALL
SELECT 'l_linestatus_matches', n_rows, ls_re, round(ls_re / n_rows, 6) FROM agg
""")
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style batch validation (functions/checks.py): five
    constraints over lineitem — completeness, two ranges, set
    membership, regex — evaluated in ONE aggregation pass (conditional
    counters, map-side partials), then widened to long format by a
    constant-size Expand. The naive per-check filter/count loop would
    scan the fact table five times."""
    from .functions import checks as C
    li = _t(spark, sf_dir, "lineitem")
    return C.check_report(li, [
        C.not_null("l_quantity"),
        C.in_range("l_quantity", 1, 50),
        C.in_range("l_discount", 0, 0.1),
        C.is_in("l_returnflag", ["A", "N", "R"]),
        C.matches("l_linestatus", "^[OF]$"),
    ])


@query("price_histogram", """
SELECT CASE WHEN o_totalprice < 0 THEN 0
            WHEN o_totalprice >= 60000 THEN 13
            ELSE floor(o_totalprice / 5000)::BIGINT + 1 END AS bucket,
       count(*) AS cnt,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders
GROUP BY 1
""")
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via width_bucket: a single hash aggregate
    over bucket ids (bounded groups regardless of row count) — the
    distribution-profiling pass that runs on every ingest batch. No
    sort, no per-bucket scan."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy(F.width_bucket("o_totalprice", F.lit(0),
                                     F.lit(60000), F.lit(12)).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.min("o_totalprice"), 2).alias("lo"),
                 F.round(F.max("o_totalprice"), 2).alias("hi")))


@query("weighted_sample_docs", """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (ORDER BY
           -ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT + 1)
               / 4503599627370497.0) / n_chars) AS rk
  FROM documents
)
WHERE rk <= 25
""")
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis-Spirakis exponential
    keys, u derived from a hash instead of rand()): each doc gets key
    -ln(u)/weight and the k smallest keys win — reproducible across
    runs, engines, and partitionings, P(select) proportional to
    n_chars. The global top-k is TakeOrdered over per-partition
    candidates, not a full sort. 13 hex digits -> u in (0,1] exactly
    representable; the +1 avoids ln(0)."""
    d = _t(spark, sf_dir, "documents")
    u = ((F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13),
                 16, 10).cast("double") + 1) / F.lit(4503599627370497.0))
    key = -F.log(u) / F.col("n_chars")
    from pyspark.sql import Window
    w = Window.orderBy(key)
    return (d.select("doc_id", "lang", "n_chars",
                     F.row_number().over(w).alias("rk"))
            .where(F.col("rk") <= 25)
            .select("doc_id", "lang", "n_chars"))


@query("outlier_filtered_stats", """
WITH cuts AS (
  SELECT round(quantile_cont(o_totalprice, 0.01), 4) AS p01,
         round(quantile_cont(o_totalprice, 0.99), 4) AS p99
  FROM orders
)
SELECT o_orderstatus AS status,
       count(*) AS cnt,
       round(sum(o_totalprice), 2) AS total
FROM orders, cuts
WHERE o_totalprice > p01 AND o_totalprice < p99
GROUP BY o_orderstatus
""")
def outlier_filtered_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based outlier trimming: compute p1/p99 cutoffs (exact
    percentile — one pass), broadcast the single-row cutoffs to the
    filter, aggregate the survivors. Cutoffs are rounded to 4 dp on both
    engines so interpolated thresholds compare identically; at 100 TB
    swap percentile for approx_percentile (same plan shape, sketch
    merge instead of sort)."""
    o = _t(spark, sf_dir, "orders")
    cuts = o.agg(
        F.round(F.expr("percentile(o_totalprice, 0.01)"), 4).alias("p01"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"))
    return (o.crossJoin(F.broadcast(cuts))
            .where((F.col("o_totalprice") > F.col("p01"))
                   & (F.col("o_totalprice") < F.col("p99")))
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.sum("o_totalprice"), 2).alias("total")))


@query("funnel_view_click_purchase", """
WITH s1 AS (
  SELECT user_id, min(ts) FILTER (WHERE event_type = 'view') AS t1
  FROM events GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND s1.t1 IS NOT NULL AND e.ts > s1.t1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT 'view' AS step, count(*) AS users
FROM s1 WHERE t1 IS NOT NULL
UNION ALL SELECT 'view>click', count(*) FROM s2
UNION ALL SELECT 'view>click>purchase', count(*) FROM s3
""")
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analytics: users who viewed, then clicked AFTER
    the first view, then purchased AFTER that click (first-touch
    semantics at every step). ONE scan and ONE shuffle: each user's
    step timestamps reduce in a single keyed aggregate (first view +
    per-type sorted timestamp lists), then the ordered constraints are
    array filters over that per-user state — no per-stage rescan of the
    event log, no join chain. Per-user state is bounded by that user's
    click/purchase count (the usual funnel assumption; a pathological
    hot user would call for pre-capping the lists — top-N per type is
    enough since only the minimum survivor matters)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1"),
        F.sort_array(F.collect_list(
            F.when(F.col("event_type") == "click", F.col("ts")))).alias("cl"),
        F.sort_array(F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("ts")))).alias("pu"))
    t2 = F.array_min(F.filter("cl", lambda c: c > F.col("t1")))
    funnel = per_user.withColumn("t2", t2).withColumn(
        "t3", F.array_min(F.filter("pu", lambda p: p > F.col("t2"))))
    counts = funnel.agg(F.count("t1").alias("c1"), F.count("t2").alias("c2"),
                        F.count("t3").alias("c3"))
    return counts.selectExpr(
        "stack(3, 'view', c1, 'view>click', c2, "
        "'view>click>purchase', c3) as (step, users)")


# ---------------------------------------------------------------------------
# Behavioral analytics: cohort retention, transition matrix, RFM segments
# ---------------------------------------------------------------------------

@query("retention_cohorts", """
WITH e AS (SELECT user_id, ts::DATE AS d FROM events),
     f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id)
SELECT f.cohort_day,
       (e.d - f.cohort_day)::BIGINT AS day_offset,
       count(DISTINCT e.user_id)    AS active_users
FROM e JOIN f USING (user_id)
GROUP BY f.cohort_day, day_offset
""")
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, activity
    counted per day-offset. Two shuffles, both keyed on user_id — the
    per-user min(d) aggregate and the fact->cohort join co-partition,
    so Spark reuses the exchange; the final (cohort, offset) grid is
    bounded by days^2 regardless of event volume."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d"))
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .groupBy("cohort_day",
                 F.datediff("d", "cohort_day").cast("long").alias("day_offset"))
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@query("markov_transitions", """
WITH s AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events)
SELECT event_type, next_type,
       count(*) AS transitions,
       sum(count(*)) OVER (PARTITION BY event_type) AS out_total
FROM s
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""")
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-sequence transition matrix (Markov chain edge
    counts). One shuffle keyed on user_id for the lead() window (ties
    broken by event_id so both engines see the same sequence), then a
    tiny |event_type|^2 aggregate. Counts are exact integers —
    transition probability = transitions/out_total is left to the
    consumer so no float rounding can flip the hash."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts",
                                            "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.withColumn("next_type", F.lead("event_type").over(w))
               .where(F.col("next_type").isNotNull()))
    counts = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("transitions"))
    wt = Window.partitionBy("event_type")
    return counts.withColumn(
        "out_total", F.sum("transitions").over(wt))


@query("rfm_segments", bound="customer-grain", sql="""
WITH c AS (
  SELECT o_custkey,
         max(o_orderdate::DATE)             AS last_dt,
         count(*)                           AS freq,
         sum(o_totalprice::DECIMAL(18,2))   AS mon
  FROM orders GROUP BY o_custkey),
mx AS (SELECT max(o_orderdate::DATE) AS mxd FROM orders),
s AS (
  SELECT c.o_custkey,
         (mx.mxd - c.last_dt)::BIGINT AS recency_days,
         ntile(4) OVER (ORDER BY c.last_dt DESC, c.o_custkey) AS r,
         ntile(4) OVER (ORDER BY c.freq DESC, c.o_custkey)    AS f,
         ntile(4) OVER (ORDER BY c.mon DESC, c.o_custkey)     AS m
  FROM c, mx)
SELECT (r::VARCHAR || f::VARCHAR || m::VARCHAR) AS segment,
       count(*)         AS n_customers,
       sum(recency_days) AS sum_recency_days
FROM s
GROUP BY segment
""")
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile-code customers on Recency /
    Frequency / Monetary and count each segment. Monetary uses a
    DECIMAL(18,2) sum (bit-exact, order-independent) so the ntile sort
    key is identical across engines; all ntile orderings tie-break on
    o_custkey. The three unpartitioned ntile windows sort only the
    customer-grain aggregate (|customers| rows, not |orders|) — on a
    cluster that's a range-partitioned sort of the dim-sized
    intermediate, not the fact table."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_dt"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"))
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("mxd"))
    s = (c.crossJoin(F.broadcast(mx))
         .select(
             F.datediff("mxd", "last_dt").cast("long").alias("recency_days"),
             F.ntile(4).over(Window.orderBy(F.col("last_dt").desc(),
                                            "o_custkey")).alias("r"),
             F.ntile(4).over(Window.orderBy(F.col("freq").desc(),
                                            "o_custkey")).alias("f"),
             F.ntile(4).over(Window.orderBy(F.col("mon").desc(),
                                            "o_custkey")).alias("m")))
    return (s.groupBy(F.concat(F.col("r").cast("string"),
                               F.col("f").cast("string"),
                               F.col("m").cast("string")).alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("recency_days").alias("sum_recency_days")))


@query("stream_parity_session", """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes' OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts)                         AS session_start,
       max(ts) + INTERVAL '30 minutes' AS session_end,
       count(*)                        AS cnt,
       round(sum(value), 2)            AS sum_value
FROM sessions
GROUP BY user_id, sid
""")
def stream_parity_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window batch/streaming parity — completes the parity trio
    (tumbling/sliding/session): the same keyed session_window flow run
    as a Structured Streaming query (availableNow -> complete-mode
    memory sink), hash-matched against the gaps-and-islands oracle.
    Mirrors flow/session_window.go:102-140 flush-on-close."""
    import uuid as _uuid
    from .streaming import memory_sink, state_sized_partitions
    src = _events_stream(spark, sf_dir)
    windowed = Source(src).via(session_window(
        "ts", "30 minutes",
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        keys=["user_id"])).to_df()
    name = "parity_sess_" + _uuid.uuid4().hex[:10]
    with state_sized_partitions(spark, 8):
        Source(windowed).to(memory_sink(name, output_mode="complete"))
    return spark.table(name).select(
        "user_id",
        F.col("window_start").alias("session_start"),
        F.col("window_end").alias("session_end"),
        "cnt", "sum_value")


@query("windowed_distinct_users", """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       count(DISTINCT user_id) AS users,
       count(*)                AS events,
       round(sum(value), 2)    AS sum_value
FROM events
GROUP BY 1
""")
def windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed COUNT DISTINCT — per-hour unique actors, the canonical
    stream-analytics cardinality query. Catalyst plans distinct via
    Expand + two-level hash agg with map-side partials: the per-window
    distinct never collects raw user lists, so the plan survives
    arbitrary window fan-in at 100 TB (swap approx_count_distinct for
    the sketch path when exactness isn't required)."""
    ev = _t(spark, sf_dir, "events")
    out = Source(ev).via(tumbling_window(
        "ts", "1 hour",
        F.countDistinct("user_id").alias("users"),
        F.count(F.lit(1)).alias("events"),
        F.round(F.sum("value"), 2).alias("sum_value"))).to_df()
    return out.select("window_start", "users", "events", "sum_value")


@query("anomaly_zscore_events", """
WITH scored AS (
  SELECT event_id, user_id, value,
         avg(value)         OVER w AS mu,
         stddev_samp(value) OVER w AS sigma,
         count(value)       OVER w AS n_prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id,
       round(value, 2)                AS value,
       round((value - mu) / sigma, 2) AS z
FROM scored
WHERE n_prev >= 10 AND sigma > 1e-9
  AND abs((value - mu) / sigma) > 2.5
""")
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against the
    trailing 20 events of the SAME user (frame excludes the current
    row — no self-masking). One hash shuffle on user_id; the per-key
    sort is bounded by per-user history, never a global sort. The
    |z| > 2.5 flag is computed pre-round so both engines cut on the
    same float."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-20, -1))
    scored = ev.select(
        "event_id", "user_id", "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count("value").over(w).alias("n_prev"))
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (scored.where((F.col("n_prev") >= 10) & (F.col("sigma") > 1e-9)
                         & (F.abs(z) > 2.5))
            .select("event_id", "user_id",
                    F.round("value", 2).alias("value"),
                    F.round(z, 2).alias("z")))


@query("sql_surface_market_share", """
WITH sales AS (
  SELECT n.n_name AS nation, o.o_orderdate,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM lineitem l
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n   ON n.n_nationkey = c.c_nationkey
  WHERE o.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
)
SELECT nation,
       CAST(count(*) AS BIGINT)   AS n_lines,
       round(sum(volume), 2)      AS volume,
       round(sum(volume) * 100.0 / sum(sum(volume)) OVER (), 4) AS share_pct
FROM sales
GROUP BY nation
""")
def sql_surface_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-SQL pipeline surface as a first-class path: register the
    tables as views and hand Spark essentially the SAME ANSI SQL the
    DuckDB oracle runs (multi-join + grouped agg + windowed share).
    Catalyst applies the identical optimizations to SQL text as to the
    DataFrame API — broadcast dims, partial aggs, pushdown — because
    both compile to the same logical plan."""
    from .session import register_views
    register_views(spark, sf_dir)
    return spark.sql("""
        WITH sales AS (
          SELECT n.n_name AS nation, o.o_orderdate,
                 l.l_extendedprice * (1 - l.l_discount) AS volume
          FROM lineitem l
          JOIN orders o   ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n   ON n.n_nationkey = c.c_nationkey
          WHERE o.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        )
        SELECT nation,
               count(*)              AS n_lines,
               round(sum(volume), 2) AS volume,
               round(sum(volume) * 100.0 / sum(sum(volume)) OVER (), 4)
                   AS share_pct
        FROM sales
        GROUP BY nation
    """)


@query("temperature_mixture_sample", """
WITH cnt AS (
  SELECT source, count(*) AS n,
         floor(sqrt(count(*)) * 1000000)::BIGINT AS w
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(w) AS tot_w, sum(n) AS n_docs FROM cnt
), rates AS (
  SELECT source, n, w,
         least(1.0, ((n_docs // 2) * w)::DOUBLE / (tot_w * n)::DOUBLE)
           AS rate
  FROM cnt CROSS JOIN tot
), u AS (
  SELECT d.source, rates.n, rates.w, rates.rate,
         (('0x' || substr(md5(d.doc_id::VARCHAR || ':tmix'), 1, 13))::BIGINT
          + 1) / 4503599627370497.0 AS u
  FROM documents d JOIN rates ON d.source = rates.source
)
SELECT source,
       max(n)                                    AS n_total,
       round(max(rate), 6)                       AS rate,
       count(*) FILTER (WHERE u <= rate)         AS n_kept,
       round(count(*) FILTER (WHERE u <= rate) * 1.0 / max(n), 3)
                                                 AS realized
FROM u GROUP BY source
""")
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax-style temperature mixing: per-source keep-rates DERIVED
    FROM THE DATA as n_s^0.5 temperature weights (alpha=0.5 upsamples
    rare sources, downsamples dominant ones) normalized to a corpus
    budget of half the docs, capped at 1.0 — then the same
    deterministic md5 coin as mixture_sample_docs. The weight/rate
    arithmetic is pinned to integer micro-units (floor(sqrt(n)*1e6))
    so the source-grain sum is order-independent and the final doubles
    are bit-identical across engines.

    Plan: source-grain count (bounded, map-side partials), rate table
    broadcasts back onto the scan, coin+filter is per-row, final agg
    is source-grain. ONE corpus-sized pass, zero corpus shuffles."""
    d = _t(spark, sf_dir, "documents")
    cnt = (d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
           .select("source", "n",
                   F.floor(F.sqrt(F.col("n")) * 1000000)
                   .cast("long").alias("w")))
    tot = cnt.agg(F.sum("w").alias("tot_w"), F.sum("n").alias("n_docs"))
    rates = (cnt.crossJoin(F.broadcast(tot))  # 1-row scalar metadata
             .select("source", "n", "w",
                     F.least(F.lit(1.0),
                             (F.floor(F.col("n_docs") / 2).cast("long")
                              * F.col("w")).cast("double")
                             / (F.col("tot_w") * F.col("n")).cast("double"))
                     .alias("rate")))
    u = ((F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                            F.lit(":tmix"))), 1, 13),
                 16, 10).cast("double") + 1) / F.lit(4503599627370497.0))
    joined = (d.select("doc_id", "source")
              .join(F.broadcast(rates), "source")
              .select("source", "n", "rate", (u <= F.col("rate")).alias("k")))
    return (joined.groupBy("source")
            .agg(F.max("n").alias("n_total"),
                 F.round(F.max("rate"), 6).alias("rate"),
                 F.sum(F.col("k").cast("long")).alias("n_kept"),
                 F.round(F.sum(F.col("k").cast("long"))
                         / F.max("n"), 3).alias("realized")))


@query("ewma_value_by_user", """
WITH m AS (
  SELECT event_id, user_id, ts,
         floor(value * 1000000 + 0.5)::BIGINT AS m
  FROM events
)
SELECT event_id, user_id,
       round((CASE WHEN m IS NOT NULL THEN m * 512 ELSE 0 END
         + CASE WHEN lag(m, 1) OVER w IS NOT NULL THEN lag(m, 1) OVER w * 256 ELSE 0 END
         + CASE WHEN lag(m, 2) OVER w IS NOT NULL THEN lag(m, 2) OVER w * 128 ELSE 0 END
         + CASE WHEN lag(m, 3) OVER w IS NOT NULL THEN lag(m, 3) OVER w * 64 ELSE 0 END
         + CASE WHEN lag(m, 4) OVER w IS NOT NULL THEN lag(m, 4) OVER w * 32 ELSE 0 END
         + CASE WHEN lag(m, 5) OVER w IS NOT NULL THEN lag(m, 5) OVER w * 16 ELSE 0 END
         + CASE WHEN lag(m, 6) OVER w IS NOT NULL THEN lag(m, 6) OVER w * 8 ELSE 0 END
         + CASE WHEN lag(m, 7) OVER w IS NOT NULL THEN lag(m, 7) OVER w * 4 ELSE 0 END
         + CASE WHEN lag(m, 8) OVER w IS NOT NULL THEN lag(m, 8) OVER w * 2 ELSE 0 END
         + CASE WHEN lag(m, 9) OVER w IS NOT NULL THEN lag(m, 9) OVER w * 1 ELSE 0 END)::DOUBLE
       / (CASE WHEN m IS NOT NULL THEN 512 ELSE 0 END
         + CASE WHEN lag(m, 1) OVER w IS NOT NULL THEN 256 ELSE 0 END
         + CASE WHEN lag(m, 2) OVER w IS NOT NULL THEN 128 ELSE 0 END
         + CASE WHEN lag(m, 3) OVER w IS NOT NULL THEN 64 ELSE 0 END
         + CASE WHEN lag(m, 4) OVER w IS NOT NULL THEN 32 ELSE 0 END
         + CASE WHEN lag(m, 5) OVER w IS NOT NULL THEN 16 ELSE 0 END
         + CASE WHEN lag(m, 6) OVER w IS NOT NULL THEN 8 ELSE 0 END
         + CASE WHEN lag(m, 7) OVER w IS NOT NULL THEN 4 ELSE 0 END
         + CASE WHEN lag(m, 8) OVER w IS NOT NULL THEN 2 ELSE 0 END
         + CASE WHEN lag(m, 9) OVER w IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 1000000.0, 4) AS ewma
FROM m WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def ewma_value_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA smoothing of event values (decay 1/2 per event,
    10-term history) — operators/aggregate.py::ewma_halving. The
    recsys/monitoring smoothing primitive; integer-micro-unit lag
    arithmetic makes it bit-identical across engines. One shuffle on
    user_id, one per-key sort shared by all lag columns."""
    from .operators.aggregate import ewma_halving
    ev = _t(spark, sf_dir, "events")
    out = ewma_halving(ev, key_cols=["user_id"],
                       order_cols=["ts", "event_id"], value_col="value",
                       lags=10)
    return out.select("event_id", "user_id", "ewma")


@query("unimax_budget_allocation", """
WITH d AS (
  SELECT source,
         sum(len(list_filter(string_split(text, ' '),
                             x -> x <> '')))::BIGINT AS s
  FROM documents GROUP BY source
), t AS (
  SELECT sum(s)::BIGINT AS tot, ((sum(s) * 2) // 5)::BIGINT AS b,
         count(*)::BIGINT AS n
  FROM d
), o AS (
  SELECT source, s,
         row_number() OVER (ORDER BY s, source) AS rn,
         sum(s) OVER (ORDER BY s, source) AS cum
  FROM d
), lv AS (
  SELECT (t.b - coalesce(lag(o.cum) OVER (ORDER BY o.rn), 0))
           // (t.n - o.rn + 1) AS lvl,
         coalesce(lag(o.s) OVER (ORDER BY o.rn), 0) AS s_prev,
         o.s AS s_cur
  FROM o CROSS JOIN t
), pick AS (
  SELECT min(lvl)::BIGINT AS lvl FROM lv
  WHERE lvl >= s_prev AND lvl < s_cur
)
SELECT o.source, o.s AS supply_tokens,
       CASE WHEN t.b >= t.tot THEN o.s
            ELSE least(o.s, coalesce(pick.lvl, t.tot)) END::BIGINT
         AS alloc_tokens,
       CASE WHEN t.b >= t.tot THEN FALSE
            ELSE o.s > coalesce(pick.lvl, t.tot) END AS level_limited
FROM o CROSS JOIN t CROSS JOIN pick
""")
def unimax_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-uniform training-token allocation under per-domain supply
    caps — the UniMax idea (Chung et al. 2023: spread the budget as
    evenly as possible across domains, never oversampling a domain
    past its supply) solved exactly as an integer water-fill. Domains
    sorted by supply; the unique level L with
    sum(min(s_i, L)) <= budget < sum(min(s_i, L+1)) is found by the
    classic prefix-sum feasibility test (cap the k smallest domains at
    full supply, level the rest); every domain then gets
    min(supply, L). Budget here = 40% of corpus tokens, derived from
    the data. The allocation table is what a sampler consumes (e.g.
    temperature_mixture_sample's weights swap for these quotas).

    Scale: token counts are one hash agg to SOURCE grain; the
    water-fill windows run over domain-grain rows (bounded by the
    domain catalog, ~dozens), never token or doc volume."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window
    d = (docs.select("source",
                     F.size(F.filter(F.split("text", " "),
                                     lambda x: x != "")).alias("__nt"))
         .groupBy("source").agg(F.sum("__nt").cast("long").alias("s")))
    t = d.agg(F.sum("s").cast("long").alias("tot"),
              F.expr("(sum(s) * 2) div 5").cast("long").alias("b"),
              F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.orderBy("s", "source")
    o = d.select("source", "s",
                 F.row_number().over(w).alias("rn"),
                 F.sum("s").over(w).alias("cum"))
    wr = Window.orderBy("rn")
    lv = (o.crossJoin(F.broadcast(t))
          .select(F.expr("(b - coalesce(lag(cum) over (order by rn), 0))"
                         " div (n - rn + 1)").alias("lvl"),
                  F.coalesce(F.lag("s").over(wr), F.lit(0)).alias("s_prev"),
                  F.col("s").alias("s_cur")))
    pick = (lv.where((F.col("lvl") >= F.col("s_prev"))
                     & (F.col("lvl") < F.col("s_cur")))
            .agg(F.min("lvl").cast("long").alias("lvl")))
    return (o.crossJoin(F.broadcast(t)).crossJoin(F.broadcast(pick))
            .select("source",
                    F.col("s").alias("supply_tokens"),
                    F.when(F.col("b") >= F.col("tot"), F.col("s"))
                    .otherwise(F.least(
                        F.col("s"),
                        F.coalesce(F.col("lvl"), F.col("tot"))))
                    .cast("long").alias("alloc_tokens"),
                    F.when(F.col("b") >= F.col("tot"), F.lit(False))
                    .otherwise(F.col("s")
                               > F.coalesce(F.col("lvl"), F.col("tot")))
                    .alias("level_limited")))


@query("l_diversity_audit", """
SELECT event_type, date_trunc('day', ts) AS day,
       count(*)::BIGINT AS n_rows,
       count(DISTINCT user_id)::BIGINT AS distinct_users,
       (count(DISTINCT user_id) < 5) AS low_diversity
FROM events GROUP BY 1, 2
""")
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al. 2007) of the
    released (event_type, day) aggregation grain: a group whose rows
    trace back to fewer than l=5 distinct users lets an observer link
    the released aggregate to individuals even when k-anonymity on row
    COUNT passes — the companion check to k_anonymity_audit (which
    bounds group size, not identity diversity). One hash agg with a
    distinct-count; grain is (type x day)-bounded."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type",
                       F.date_trunc("day", "ts").alias("day"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.countDistinct("user_id").cast("long")
                 .alias("distinct_users"))
            .withColumn("low_diversity", F.col("distinct_users") < 5))


@query("k_anonymity_audit", """
WITH g AS (
  SELECT lang, source,
         least(n_chars // 250, 8)::INT AS len_bucket,
         count(*) AS k
  FROM documents GROUP BY 1, 2, 3
)
SELECT lang, source, len_bucket::INT AS len_bucket, k,
       (k < 5) AS reidentifiable
FROM g
""")
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-risk profile: k-anonymity over the quasi-identifier
    tuple (lang, source, coarse length bucket) — equivalence classes
    with k < 5 members are re-identification risks a release gate
    should suppress or generalize (the Sweeney k-anonymity criterion,
    the Deequ-style audit shape). One hash aggregation to
    quasi-identifier grain; bucket count is fixed, so the output is
    bounded regardless of corpus size."""
    d = _t(spark, sf_dir, "documents")
    g = (d.groupBy("lang", "source",
                   F.least(F.floor(F.col("n_chars") / 250), F.lit(8))
                   .cast("int").alias("len_bucket"))
         .agg(F.count(F.lit(1)).alias("k")))
    return g.select("lang", "source", "len_bucket", "k",
                    (F.col("k") < 5).alias("reidentifiable"))


@query("corpus_content_fingerprint", """
SELECT source,
       count(*) AS n_docs,
       (sum(('0x' || substr(md5(doc_id::VARCHAR || ':' || md5(text)), 1, 15))
            ::BIGINT) % 2305843009213693951)::BIGINT AS fingerprint
FROM documents GROUP BY source
""")
def corpus_content_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset version fingerprint: an ORDER-INDEPENDENT content digest
    per source — sum of per-row 60-bit md5(doc_id:content-hash) values
    (commutative, so partitioning/ingest order/engine cannot change
    it), plus row count. Any row added, dropped, or edited flips the
    fingerprint; two pipelines can cheaply assert they trained on the
    same corpus snapshot. Map-side partial sums; one source-grain
    aggregation, no shuffle of content."""
    d = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                       F.md5("text"))), 1, 15), 16, 10).cast("long")
    # the 60-bit row hashes sum in DECIMAL(38) (no int64 overflow at
    # any corpus size; DuckDB's BIGINT sum widens to HUGEINT the same
    # way), compacted mod the Mersenne prime 2^61-1 at the end
    return (d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 (F.sum(h.cast("decimal(38,0)"))
                  % F.lit(2305843009213693951).cast("decimal(38,0)"))
                 .cast("long").alias("fingerprint")))


@query("isotonic_quality_calibration", """
WITH t AS (
  SELECT doc_id, text, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), r AS (
  SELECT doc_id, lang,
         len(list_filter(toks, x -> x IN
             ('the','a','of','and','to','in','is','for','on','with')))
           / greatest(len(toks), 1) AS sw,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))
           / greatest(length(text), 1) AS pr,
         list_sum(list_transform(toks, x -> length(x)))
           / greatest(len(toks), 1) AS tl
  FROM t
), q AS (
  SELECT doc_id, (lang = 'en') AS y,
         round(least(1.0, greatest(0.0,
               0.4 * least(sw * 4, 1.0)
             + 0.4 * (CASE WHEN tl >= 3 AND tl <= 10 THEN 1.0 ELSE 0.5 END)
             + 0.2 * (1 - least(pr * 5, 1.0)))), 4) AS score
  FROM r
), agg AS (
  SELECT least(greatest(floor(score / 1.0 * 16), 0), 15)::INT AS bin,
         count(*) AS n, sum(y::INT) AS n_pos
  FROM q GROUP BY 1
), ord AS (
  SELECT bin, n, n_pos,
         sum(n) OVER (ORDER BY bin) AS cn,
         sum(n_pos) OVER (ORDER BY bin) AS cp
  FROM agg
), iv AS (
  SELECT a.bin AS i, b.bin AS j,
         (b.cp - a.cp + a.n_pos) * 1.0 / (b.cn - a.cn + a.n) AS m
  FROM ord a JOIN ord b ON a.bin <= b.bin
), inner_min AS (
  SELECT k.bin AS bin, iv.i, min(iv.m) AS mn
  FROM ord k JOIN iv ON iv.i <= k.bin AND iv.j >= k.bin
  GROUP BY 1, 2
), cal AS (
  SELECT bin, max(mn) AS calibrated FROM inner_min GROUP BY bin
)
SELECT ord.bin, ord.n, ord.n_pos,
       round(ord.n_pos * 1.0 / ord.n, 6) AS rate,
       round(cal.calibrated, 6)          AS calibrated
FROM ord JOIN cal USING (bin)
""")
def isotonic_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the heuristic quality score
    against the lang='en' label — functions/checks.py::
    isotonic_calibration. The imperative numpy stack algorithm is
    hash-checked against the DuckDB oracle's DECLARATIVE minimax
    characterization (PAV's unique solution equals
    max_{i<=k} min_{j>=k} mean(i..j)) — two independent formulations,
    exact integer block sums, one division per pooled block. Corpus
    cost: one (bin)-grain aggregation; PAV itself runs over <= 16
    rows."""
    from .functions.checks import isotonic_calibration
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.round(T.quality_score("text"), 4).alias("score"),
        (F.col("lang") == "en").alias("y"))
    return isotonic_calibration(scored, score_col="score", label_col="y",
                                bins=16, lo=0.0, hi=1.0)


@query("type_token_diversity", """
WITH arrs AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS arr
  FROM documents
), uni AS (
  SELECT source, count(*) AS n_tokens,
         count(DISTINCT arr[i]) AS n_types
  FROM arrs, UNNEST(generate_series(1, len(arr))) t(i)
  GROUP BY source
), quad AS (
  SELECT source, count(*) AS n_grams,
         count(DISTINCT array_to_string(arr[i : i + 3], ' ')) AS n_gram_types
  FROM arrs, UNNEST(generate_series(1, len(arr) - 3)) t(i)
  WHERE len(arr) >= 4
  GROUP BY source
)
SELECT uni.source, n_tokens, n_types,
       round(n_types * 1.0 / n_tokens, 6) AS ttr,
       n_grams, n_gram_types,
       round(n_gram_types * 1.0 / n_grams, 6) AS distinct_4gram_ratio
FROM uni JOIN quad ON uni.source = quad.source
""")
def type_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity diagnostics per source: type-token ratio and
    the distinct-4-gram ratio — the lexical-diversity / self-repetition
    measures (low distinct-n-gram ratios flag boilerplate-heavy or
    synthetic-collapse sources; the Self-BLEU-style check in data-
    mixing work). Token and 4-gram streams each reduce to source grain
    in one aggregation (COUNT DISTINCT via Expand + partials — no
    per-source collection); the 4-gram lead chain shares one (doc,
    pos) sort."""
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    toks = (docs.select("source", F.col("doc_id"),
                        F.posexplode(F.split(F.lower(F.col("text")), " "))
                        .alias("pos", "tok"))
            .where(F.col("tok") != ""))
    uni = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_types"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, 4)]
    grams = (toks.select("source", F.col("tok").alias("t0"), *leads)
             .where(F.col("t3").isNotNull())
             .select("source", F.concat_ws(" ", "t0", "t1", "t2", "t3")
                     .alias("g")))
    quad = grams.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("g").alias("n_gram_types"))
    return (uni.join(quad, "source")
            .select("source", "n_tokens", "n_types",
                    F.round(F.col("n_types") / F.col("n_tokens"), 6)
                    .alias("ttr"),
                    "n_grams", "n_gram_types",
                    F.round(F.col("n_gram_types") / F.col("n_grams"), 6)
                    .alias("distinct_4gram_ratio")))


@query("psi_drift_report", """
WITH b AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'baseline' ELSE 'current' END AS snap,
         least(n_chars // 250, 8)::INT AS bin
  FROM documents
), c AS (
  SELECT bin,
         sum(CASE WHEN snap = 'baseline' THEN 1 ELSE 0 END) AS n_base,
         sum(CASE WHEN snap = 'current' THEN 1 ELSE 0 END) AS n_cur
  FROM b GROUP BY bin
), tot AS (
  SELECT sum(n_base) AS t_base, sum(n_cur) AS t_cur FROM c
), p AS (
  SELECT bin, n_base, n_cur,
         (n_base + 1.0) / (t_base + 9.0) AS pb,
         (n_cur + 1.0) / (t_cur + 9.0) AS pc
  FROM c CROSS JOIN tot
)
SELECT bin, n_base, n_cur,
       round((pc - pb) * ln(pc / pb), 6) AS psi_term
FROM p
""")
def psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per bin — the standard production
    drift monitor between a baseline and a current snapshot (proxied
    deterministically by doc_id parity): psi_term =
    (p_cur - p_base) * ln(p_cur / p_base) with add-1 smoothing over
    the fixed 9-bin doc-length grid; sum of terms > 0.2 is the usual
    retrain/alert threshold. Two bounded aggregations (bin grain, then
    1-row totals broadcast back); corpus is read once."""
    d = _t(spark, sf_dir, "documents")
    b = (d.select(F.when(F.col("doc_id") % 2 == 0, "baseline")
                  .otherwise("current").alias("snap"),
                  F.least(F.floor(F.col("n_chars") / 250), F.lit(8))
                  .cast("int").alias("bin")))
    c = b.groupBy("bin").agg(
        F.sum(F.when(F.col("snap") == "baseline", 1).otherwise(0))
        .alias("n_base"),
        F.sum(F.when(F.col("snap") == "current", 1).otherwise(0))
        .alias("n_cur"))
    tot = c.agg(F.sum("n_base").alias("t_base"),
                F.sum("n_cur").alias("t_cur"))
    pcb = (F.col("n_base") + 1.0) / (F.col("t_base") + 9.0)
    pcc = (F.col("n_cur") + 1.0) / (F.col("t_cur") + 9.0)
    return (c.crossJoin(F.broadcast(tot))  # 1-row scalar metadata
            .select("bin", "n_base", "n_cur",
                    F.round((pcc - pcb) * F.log(pcc / pcb), 6)
                    .alias("psi_term")))


@query("mixture_sample_docs", """
WITH u AS (
  SELECT doc_id, lang, source, n_chars,
         (('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 13))::BIGINT + 1)
           / 4503599627370497.0 AS u,
         CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 0.30
              WHEN source IN ('src5','src6','src7','src8','src9') THEN 0.90
              WHEN source IN ('src10','src11','src12','src13','src14') THEN 0.75
              ELSE 0.50 END AS rate
  FROM documents
)
SELECT source,
       count(*) FILTER (WHERE u <= rate)            AS n_kept,
       count(*)                                     AS n_total,
       round(count(*) FILTER (WHERE u <= rate) * 1.0 / count(*), 3) AS realized,
       sum(n_chars) FILTER (WHERE u <= rate)::BIGINT AS kept_chars
FROM u GROUP BY source
""")
def mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling — the data-mixing stage of a training
    pipeline: each source is down/up-weighted to a target rate (30%/90%/75%/50%
    across source groups) by a DETERMINISTIC per-doc coin:
    u = md5(doc_id || salt) mapped to (0,1]. Pure projection + filter,
    no shuffle before the stats agg; reproducible across runs, engines,
    partitionings, and re-ingests (a doc's keep/drop never flips, so
    downstream dedup and eval splits stay consistent). The salt
    decorrelates this coin from the train/valid/test split hash."""
    d = _t(spark, sf_dir, "documents")
    u = ((F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                            F.lit(":mix"))), 1, 13),
                 16, 10).cast("double") + 1) / F.lit(4503599627370497.0))
    rate = (F.when(F.col("source").isin("src0", "src1", "src2", "src3",
                                        "src4"), 0.30)
            .when(F.col("source").isin("src5", "src6", "src7", "src8",
                                       "src9"), 0.90)
            .when(F.col("source").isin("src10", "src11", "src12", "src13",
                                       "src14"), 0.75)
            .otherwise(0.50))
    kept = u <= rate
    return (d.select("source", "n_chars", kept.alias("k"))
            .groupBy("source")
            .agg(F.count(F.when(F.col("k"), 1)).alias("n_kept"),
                 F.count(F.lit(1)).alias("n_total"),
                 F.round(F.count(F.when(F.col("k"), 1))
                         / F.count(F.lit(1)), 3).alias("realized"),
                 F.sum(F.when(F.col("k"), F.col("n_chars"))).alias("kept_chars")))


@query("stratified_split_docs", """
SELECT split, lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS chars
FROM (
  SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid'
              ELSE 'test' END AS split, lang, n_chars
  FROM (
    SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10 AS b,
           lang, n_chars
    FROM documents)
)
GROUP BY split, lang
""")
def stratified_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split — assignment is a
    pure function of doc_id (md5 bucket), so the split is reproducible
    across runs, engines, partitionings and incremental re-ingests (a
    re-appearing doc always lands in the same split: no eval
    contamination). A narrow projection + filter-free scan; the split
    column costs one hash per row and no shuffle before the stats agg."""
    d = _t(spark, sf_dir, "documents")
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
               16, 10).cast("long") % 10
    split = (F.when(b < 8, "train").when(b == 8, "valid")
             .otherwise("test").alias("split"))
    return (d.select(split, "lang", "n_chars")
            .groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("chars")))


@query("trending_topk_users", """
SELECT window_start, user_id, sum_value, rk FROM (
  SELECT time_bucket(INTERVAL '1 day', ts) AS window_start, user_id,
         round(sum(value), 2) AS sum_value,
         row_number() OVER (PARTITION BY time_bucket(INTERVAL '1 day', ts)
                            ORDER BY round(sum(value), 2) DESC, user_id) AS rk
  FROM events
  GROUP BY 1, 2)
WHERE rk <= 5
""")
def trending_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per window (trending leaderboard): aggregate first
    ((window, user) grain — map-side partials), then rank only the
    aggregate with a per-window row_number. The rank sort input is
    |windows x active users|, never the raw event log, and ranking
    partitions by window so no global sort exists. Rank key is the
    ROUNDED sum so both engines order identical floats; user_id
    tie-breaks."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("window_start")
    agg = (ev.groupBy(day, "user_id")
           .agg(F.round(F.sum("value"), 2).alias("sum_value")))
    w = Window.partitionBy("window_start").orderBy(
        F.col("sum_value").desc(), "user_id")
    return (agg.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5))


@query("part_pair_cooccurrence", """
SELECT part_a, part_b, n_orders FROM (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS n_orders
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2)
WHERE n_orders >= 2
""")
def part_pair_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing in the same
    order. Basket-array form beats the naive distinct self-join (which
    scans and shuffles the fact TWICE — no ReuseExchange once AQE
    broadcasts one side): ONE scan, one shuffle building per-order part
    sets (collect_set dedupes lines), then ordered pairs explode from
    the array (`x > part_a` halves the pair space) with work bounded by
    basket size squared, and one pair-grain count shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = (li.groupBy("l_orderkey")
               .agg(F.collect_set("l_partkey").alias("parts")))
    pairs = (baskets
             .select(F.explode("parts").alias("part_a"), "parts")
             .select("part_a",
                     F.explode(F.filter(
                         "parts",
                         lambda x: x > F.col("part_a"))).alias("part_b")))
    return (pairs.groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .where(F.col("n_orders") >= 2))


def _part_edge_cte() -> str:
    """Shared DuckDB edge CTE: the part co-occurrence graph (pairs in
    >= 2 orders), named ``e0`` — reused verbatim by the triangle and
    k-core oracles so the edge definition cannot drift between them
    (it mirrors ``part_pair_cooccurrence``)."""
    return """pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), e0 AS MATERIALIZED (SELECT pa AS a, pb AS b FROM pairs WHERE n >= 2)"""


@query("triangle_count_parts", sql="WITH " + _part_edge_cte() + """, deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
  GROUP BY node
), o AS (
  SELECT CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.a ELSE e0.b END AS u,
         CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.b ELSE e0.a END AS v,
         CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN db.d ELSE da.d END AS dv
  FROM e0
  JOIN deg da ON da.node = e0.a
  JOIN deg db ON db.node = e0.b
), wedges AS (
  SELECT e1.v AS x, e2.v AS y
  FROM o e1 JOIN o e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
)
SELECT
  (SELECT count(*) FROM wedges w JOIN o ON o.u = w.x AND o.v = w.y)::BIGINT
    AS triangles,
  (SELECT coalesce(sum(d * (d - 1) // 2), 0) FROM deg)::BIGINT AS wedges
""")
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle + wedge census of the part co-occurrence graph
    (functions/graph.py::triangle_count): degree-ordered orientation
    bounds per-node out-degree at O(sqrt(m)), so the wedge self-join is
    O(m^1.5) — hub parts (every catalog has them) cannot go quadratic.
    ``wedges`` is the total path-of-length-2 count, so the global
    clustering coefficient is 3*triangles/wedges."""
    from .functions.graph import triangle_count
    edges = part_pair_cooccurrence(spark, sf_dir).select("part_a", "part_b")
    return triangle_count(edges, src="part_a", dst="part_b")


def _rrf_sql() -> str:
    """Compose the RRF oracle from the two ANN oracles' own SQL (nested
    WITH inside a CTE — supported by DuckDB), so the fused oracle can
    never drift from the rankings it fuses."""
    return f"""
WITH s1 AS ({ORACLE["ann_sign_lsh"]}),
s2 AS ({ORACLE["ann_ivf_knn"]}),
u AS (
  SELECT vec_id, neighbor_id, rank FROM s1
  UNION ALL
  SELECT vec_id, neighbor_id, rank FROM s2
), sc AS (
  SELECT vec_id, neighbor_id,
         sum(1000000000000 // (60 + rank))::BIGINT AS rrf_micro
  FROM u GROUP BY 1, 2
)
SELECT vec_id, neighbor_id, rrf_micro, fused_rank::INT AS fused_rank
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY rrf_micro DESC, neighbor_id)
             AS fused_rank
      FROM sc)
WHERE fused_rank <= 3
"""


@query("rrf_fused_ann", sql=_rrf_sql())
def rrf_fused_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval fusion: Reciprocal Rank Fusion of the sign-LSH
    and IVF ANN rankings (functions/similarity.py::rrf_fuse) — the
    calibration-free way to combine retrieval systems (RAG hybrid
    search). Integer micro-unit reciprocals make the fused ranking
    engine-exact; fusion cost is (queries x k)-sized, corpus-volume
    independent."""
    emb = _t(spark, sf_dir, "embeddings")
    from .functions.similarity import ivf_knn, rrf_fuse, sign_lsh_knn
    r1 = sign_lsh_knn(emb, k=3, nbits="auto")
    r2 = ivf_knn(emb, k=3, nlist="auto", nprobe=4)
    return rrf_fuse([r1, r2], k=3)


@query("hard_negatives_by_label", """
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv,
         list_sum(list_transform(embedding,
             x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT
                  * floor(x::DOUBLE * 1000000 + 0.5)::BIGINT))::BIGINT AS nrm
  FROM embeddings
  WHERE label IS NOT NULL
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         floor(list_sum(list_transform(list_zip(a.qv, b.qv),
                                       p -> p[1] * p[2]))::BIGINT
               / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)
           / 1000000.0 AS sim
  FROM v a JOIN v b ON a.vec_id <> b.vec_id AND a.label <> b.label
)
SELECT id_a AS vec_id, id_b AS neighbor_id, sim, rank::INT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rank
      FROM pairs)
WHERE rank <= 3
""")
def hard_negatives_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: each vector's
    top-3 nearest neighbors among OTHER classes (block_knn with
    exclude_match_col="label") — the same fully-distributed 2-D blocked
    matmul as the exact kNN gate, with the class filter applied inside
    each cogroup before its local top-k so exactness is preserved."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.block_knn(emb, k=3, exclude_match_col="label")


@query("cohort_retention_weekly", """
WITH w AS (
  SELECT user_id, date_trunc('week', ts)::DATE AS wk
  FROM events GROUP BY 1, 2
), firsts AS (
  SELECT user_id, min(wk) AS cohort FROM w GROUP BY user_id
), act AS (
  SELECT f.cohort, (date_diff('day', f.cohort, w.wk) // 7)::BIGINT AS age_weeks,
         count(DISTINCT w.user_id) AS active_users
  FROM w JOIN firsts f USING (user_id)
  GROUP BY 1, 2
), base AS (
  SELECT cohort, active_users AS cohort_size FROM act WHERE age_weeks = 0
)
SELECT cohort, age_weeks, active_users, cohort_size,
       round(active_users * 1.0 / cohort_size, 4) AS retention
FROM act JOIN base USING (cohort)
ORDER BY cohort, age_weeks
""")
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix — the classic growth-analytics
    triangle: users cohorted by first-active week, retention = share of
    the cohort active at each week age.

    Scale: (user, week) activity dedupes FIRST (one user-grain
    shuffle); cohorts join back on user_id (co-partitioned with the
    dedup); everything after runs at cohort x age grain — weeks
    squared, volume-independent. The base join is week-grain (tiny,
    broadcast)."""
    ev = _t(spark, sf_dir, "events")
    w = (ev.select("user_id",
                   F.date_trunc("week", F.col("ts")).cast("date").alias("wk"))
         .distinct())
    firsts = w.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    act = (w.join(firsts, "user_id")
           .groupBy("cohort",
                    F.expr("datediff(wk, cohort) div 7")
                    .cast("long").alias("age_weeks"))
           .agg(F.count_distinct("user_id").alias("active_users")))
    base = (act.where(F.col("age_weeks") == 0)
            .select("cohort", F.col("active_users").alias("cohort_size")))
    return (act.join(F.broadcast(base), "cohort")
            .select("cohort", "age_weeks", "active_users", "cohort_size",
                    F.round(F.col("active_users") / F.col("cohort_size"), 4)
                    .alias("retention"))
            .orderBy("cohort", "age_weeks"))


@query("dow_seasonality_residuals", """
WITH daily AS (
  SELECT ts::DATE AS d, round(sum(value), 2) AS rev FROM events GROUP BY 1
), prof AS (
  SELECT (dayofweek(d) + 1)::INT AS dow, round(avg(rev), 4) AS dow_mean
  FROM daily GROUP BY 1
)
SELECT d, rev, (dayofweek(d) + 1)::INT AS dow, dow_mean,
       round(rev - dow_mean, 4) AS residual
FROM daily JOIN prof ON (dayofweek(d) + 1) = prof.dow
ORDER BY d
""")
def dow_seasonality_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition (STL-lite): daily totals,
    per-DOW seasonal means, deseasonalized residuals — the baseline
    anomaly view for weekly-periodic business metrics.

    Scale: event volume collapses to day grain in the first
    aggregation; the profile (7 rows) broadcasts back. Reduce-first:
    nothing after the first shuffle depends on volume."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.col("ts").cast("date").alias("d"))
             .agg(F.round(F.sum("value"), 2).alias("rev")))
    prof = (daily.groupBy(F.dayofweek("d").cast("int").alias("dow"))
            .agg(F.round(F.avg("rev"), 4).alias("dow_mean")))
    return (daily.withColumn("dow", F.dayofweek("d").cast("int"))
            .join(F.broadcast(prof), "dow")
            .select("d", "rev", "dow", "dow_mean",
                    F.round(F.col("rev") - F.col("dow_mean"), 4)
                    .alias("residual"))
            .orderBy("d"))


from .functions.graph import k_core_oracle_sql as _k_core_sql  # noqa: E402
from .functions.graph import lpa_oracle_sql as _lpa_sql  # noqa: E402


@query("lpa_communities_parts", sql=_lpa_sql(_part_edge_cte(), iterations=3))
def lpa_communities_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities over the part
    co-occurrence graph (functions/graph.py::label_propagation): 3
    rounds of most-frequent-neighbor-label with (count desc, label asc)
    tie-break — bit-reproducible, so the chained-CTE oracle matches
    exactly. Community structure over co-purchase graphs is the
    classic assortment/market-basket segmentation."""
    from .functions.graph import label_propagation
    edges = part_pair_cooccurrence(spark, sf_dir).select("part_a", "part_b")
    return label_propagation(edges, src="part_a", dst="part_b", iterations=3)


@query("k_core_parts", sql=_k_core_sql(_part_edge_cte(), k=3, passes=12))
def k_core_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-occurrence graph (functions/graph.py::
    k_core): iterative peel, one degree agg + both-endpoint semi-join
    per pass, lineage truncated per pass. The oracle is a GENERATED
    chain of 12 peel CTEs — exact because the Spark side raises rather
    than returning partial cores if 12 passes ever stop sufficing
    (monotone peel: extra passes after convergence are no-ops)."""
    from .functions.graph import k_core
    edges = part_pair_cooccurrence(spark, sf_dir).select("part_a", "part_b")
    return k_core(edges, src="part_a", dst="part_b", k=3, max_iterations=12)


@query("bpe_encode_corpus", T.bpe_pipeline_oracle_sql(rounds=6))
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BPE loop: train a merge table on the corpus
    (text.bpe_train_merges, 6 rounds, on the driver from one collect
    of the (word, freq) table) and ENCODE the corpus with it
    (text.bpe_encode — per-word greedy merge passes in one
    Arrow-batched pandas UDF).
    Hash-checked against a generated chained-CTE oracle
    (text.bpe_pipeline_oracle_sql) that unrolls all 6 training rounds
    and replays the greedy fold as sentinel-string replaces — training
    AND encoding are SQL-verified. Assumes gate corpora where training
    never hits the min_count early stop and every doc has >= 1 token
    (both asserted true for the testdata). Independent Python-reference
    parity additionally pinned by
    tests/test_functions.py::test_bpe_encode_paths_agree."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    table = T.bpe_train_merges(docs, rounds=6).collect()
    merges = [(r["a"], r["b"]) for r in sorted(table, key=lambda r: r["round"])]
    enc = T.bpe_encode(docs, merges=merges)
    return (enc.select("doc_id", F.size("bpe_tokens").alias("n_bpe"),
                       F.concat_ws("|", F.slice("bpe_tokens", 1, 8))
                       .alias("head_preview"))
            .orderBy("doc_id"))


@query("scd2_user_state_history", """
WITH runs AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
                   IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
  FROM events
), grp AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid
  FROM runs
)
SELECT user_id, event_type AS state,
       min(ts)  AS valid_from,
       max(ts)  AS last_seen,
       count(*) AS n_events
FROM grp
GROUP BY user_id, event_type, rid
""")
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 history build: collapse each user's consecutive runs
    of the same state into versioned validity rows (the
    change-flag + running-sum gaps-and-islands rewrite every warehouse
    uses). All three passes share ONE hash shuffle on user_id — the
    window partitioning is reused by the final group-by, and per-user
    sort is bounded by user history, never global."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(wo).eqNullSafe(F.col("event_type")),
        1).otherwise(0)
    rid = F.sum(chg).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (ev.select("user_id", "event_type", "ts", rid.alias("rid"))
            .groupBy("user_id", F.col("event_type").alias("state"), "rid")
            .agg(F.min("ts").alias("valid_from"),
                 F.max("ts").alias("last_seen"),
                 F.count(F.lit(1)).alias("n_events"))
            .drop("rid"))


@query("bigram_lm_counts", """
SELECT w1, w2, cnt, cond_p FROM (
  SELECT w1, w2, cnt,
         round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY w1), 4) AS cond_p,
         row_number() OVER (ORDER BY cnt DESC, w1, w2) AS rank
  FROM (
    SELECT w1, w2, count(*) AS cnt
    FROM (
      SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i]))     AS w1,
             unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
      FROM (
        SELECT list_filter(string_split(lower(text), ' '),
                           x -> x <> '') AS toks
        FROM documents
      )
    )
    GROUP BY 1, 2
  )
)
WHERE rank <= 40
""")
def bigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model counts with conditional probabilities
    P(w2|w1) — the classic corpus-statistics pass (n-gram LM training,
    collocation mining). Adjacent pairs come from posexplode + a
    per-doc lead(), so pair construction shuffles on doc_id (bounded by
    document length) and the count agg is map-side-partial hash agg;
    the final top-40 rank sorts only the distinct-bigram aggregate.
    cond_p is computed AFTER the count agg — the P(w2|w1) window runs
    on bigram-grain rows, not tokens."""
    from pyspark.sql import Window
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.filter(F.split(F.lower("text"), " "),
                              lambda x: x != "")).alias("pos", "tok"))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (toks.select("doc_id", F.col("tok").alias("w1"),
                         F.lead("tok").over(wd).alias("w2"))
             .where(F.col("w2").isNotNull()))
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    cond_p = F.round(F.col("cnt") / F.sum("cnt").over(
        Window.partitionBy("w1")), 4)
    # top-k via orderBy+limit => TakeOrderedAndProject (per-partition
    # top-k + driver merge of k rows), never a SinglePartition sort of
    # the full bigram vocabulary
    return (counts.select("w1", "w2", "cnt", cond_p.alias("cond_p"))
            .orderBy(F.col("cnt").desc(), "w1", "w2").limit(40))


@query("cdc_latest_state_per_user", """
SELECT user_id, event_id, event_type AS state, ts,
       round(value, 2) AS value
FROM (
  SELECT user_id, event_id, event_type, ts, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""")
def cdc_latest_state_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: latest record per key — the snapshot pass
    every changelog consumer runs (Kafka compacted-topic semantics, the
    batch analogue of the reference's per-key state in Keyed,
    flow/keyed.go:76-95). One hash shuffle on user_id; per-key sort is
    bounded by key history. (ts, event_id) is a total order so the
    winner is engine-independent."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_id",
                    F.col("event_type").alias("state"), "ts",
                    F.round("value", 2).alias("value")))


@query("sequence_packing_batches", """
WITH t AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(lower(text), ' '),
                         x -> x <> '')) AS n_tok,
         md5(doc_id::VARCHAR) AS ord
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY ord, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS prior
  FROM t
)
SELECT lang, CAST(floor(prior / 2000) AS BIGINT) AS batch_id,
       count(*) AS n_docs, sum(n_tok) AS sum_tokens
FROM c
GROUP BY 1, 2
""")
def sequence_packing_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: concatenate documents (in a
    deterministic hash order, per language stratum) into ~2000-token
    batches — batch_id is the running token count before the doc,
    floor-divided by the budget. Pure function of the corpus: the same
    doc always packs into the same batch across engines and re-runs.
    One shuffle on lang; the per-stratum running sum is the only
    ordered pass and its sort key is the md5 hash (uniform, skew-free
    within stratum)."""
    from pyspark.sql import Window
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split(F.lower("text"), " "),
                            lambda x: x != "")).alias("n_tok")
    ordc = F.md5(F.col("doc_id").cast("string")).alias("ord")
    t = d.select("doc_id", "lang", n_tok, ordc)
    w = (Window.partitionBy("lang").orderBy("ord", "doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    prior = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    c = t.withColumn("batch_id",
                     F.floor(prior / 2000).cast("long"))
    return (c.groupBy("lang", "batch_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("sum_tokens")))


@query("embedding_quantize_int8", """
WITH flat AS (
  SELECT vec_id,
         unnest(range(1, len(embedding) + 1)) AS dim,
         unnest(embedding) AS v
  FROM embeddings
), rng AS (
  SELECT dim, min(v) AS lo, max(v) AS hi FROM flat GROUP BY dim
), q AS (
  SELECT f.dim, f.v, r.lo, r.hi,
         CAST(floor((f.v - r.lo) / nullif(r.hi - r.lo, 0) * 254.0 + 0.5) - 127
              AS INTEGER) AS code
  FROM flat f JOIN rng r ON r.dim = f.dim
)
SELECT dim, round(lo, 4) AS lo, round(hi, 4) AS hi,
       round(max(abs((code + 127) / 254.0 * (hi - lo) + lo - v)), 4)
             AS max_abs_err
FROM q
GROUP BY dim, lo, hi
""")
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column — the storage
    pass ANN systems run before indexing (4x smaller vectors). Two
    aggregate passes over (dim, value) rows: per-dim min/max, then
    code + reconstruction error; both shuffle on `dim` (fixed fan-in =
    vector width, independent of corpus size) and the per-dim range
    joins back as a broadcast. Quantization uses floor(x + 0.5), which
    rounds identically in every engine (no banker's-rounding drift)."""
    e = _t(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id",
        F.posexplode("embedding").alias("dim0", "v")) \
        .select("vec_id", (F.col("dim0") + 1).alias("dim"), "v")
    rng = flat.groupBy("dim").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    j = flat.join(F.broadcast(rng), "dim")
    span = F.when(F.col("hi") != F.col("lo"), F.col("hi") - F.col("lo"))
    code = (F.floor((F.col("v") - F.col("lo")) / span * 254.0 + 0.5) - 127) \
        .cast("int")
    q = j.select("dim", "v", "lo", "hi", code.alias("code"))
    err = F.abs((F.col("code") + 127) / 254.0 * (F.col("hi") - F.col("lo"))
                + F.col("lo") - F.col("v"))
    return (q.groupBy("dim",
                      F.round("lo", 4).alias("lo"),
                      F.round("hi", 4).alias("hi"))
            .agg(F.round(F.max(err), 4).alias("max_abs_err")))


def _sq_int8_recall_sql(sample_n: int | None = None) -> str:
    smp = f", {_eval_smp_cte(sample_n)}" if sample_n else ""
    return f"""
WITH vq AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv,
         list_sum(list_transform(embedding,
             x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT
                  * floor(x::DOUBLE * 1000000 + 0.5)::BIGINT))::BIGINT AS nrm
  FROM embeddings
){smp}, ep AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         floor(list_sum(list_transform(list_zip(a.qv, b.qv),
                                       p -> p[1] * p[2]))::BIGINT
               / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)
           / 1000000.0 AS sim
  FROM vq a JOIN vq b ON a.vec_id <> b.vec_id{_eval_qfilter(sample_n)}
), exact AS (
  SELECT id_a, id_b FROM (
    SELECT *, row_number() OVER (PARTITION BY id_a
                                 ORDER BY sim DESC, id_b) AS rank
    FROM ep) WHERE rank <= 5
), flat AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS dim,
         unnest(list_transform(embedding, x -> x::DOUBLE)) AS v
  FROM embeddings
), rng AS (
  SELECT dim, min(v) AS lo, max(v) AS hi FROM flat GROUP BY dim
), deq AS (
  SELECT f.vec_id,
         list(CASE WHEN r.hi = r.lo THEN r.lo
                   ELSE floor((f.v - r.lo) / (r.hi - r.lo) * 254.0 + 0.5)
                        / 254.0 * (r.hi - r.lo) + r.lo END
              ORDER BY f.dim) AS dv
  FROM flat f JOIN rng r ON r.dim = f.dim
  GROUP BY f.vec_id
), dq AS (
  SELECT vec_id,
         list_transform(dv, x -> floor(x * 1000000 + 0.5)::BIGINT) AS qv,
         list_sum(list_transform(dv,
             x -> floor(x * 1000000 + 0.5)::BIGINT
                  * floor(x * 1000000 + 0.5)::BIGINT))::BIGINT AS nrm
  FROM deq
), dp AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         floor(list_sum(list_transform(list_zip(a.qv, b.qv),
                                       p -> p[1] * p[2]))::BIGINT
               / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)
           / 1000000.0 AS sim
  FROM dq a JOIN dq b ON a.vec_id <> b.vec_id{_eval_qfilter(sample_n)}
), approx AS (
  SELECT id_a, id_b FROM (
    SELECT *, row_number() OVER (PARTITION BY id_a
                                 ORDER BY sim DESC, id_b) AS rank
    FROM dp) WHERE rank <= 5
), hits AS (
  SELECT e.id_a, count(a.id_b) AS n_hit
  FROM exact e LEFT JOIN approx a
    ON a.id_a = e.id_a AND a.id_b = e.id_b
  GROUP BY e.id_a
)
SELECT id_a AS vec_id, n_hit::BIGINT AS n_hit,
       ((n_hit * 1000000) // 5)::BIGINT AS recall_micro
FROM hits
"""


@query("sq_int8_recall_audit", _sq_int8_recall_sql())
def sq_int8_recall_audit(spark: SparkSession, sf_dir: str,
                         sample_n_queries: int | None = None) -> DataFrame:
    """What the 4x storage saving of scalar int8 quantization COSTS in
    search quality: exact cosine top-5 on the original vectors vs
    top-5 on the round-tripped (quantize -> dequantize) vectors, per
    query — the audit run before switching an index to int8 storage
    (its sibling embedding_quantize_int8 reports per-DIM value error;
    this reports the end-to-end RANKING damage, which is what users
    see). Per-dim min/max ranges are a 64-row broadcast (min/max are
    order-independent, so the dequantized corpus is partitioning-
    exact); both searches are block_knn integer-micro passes, so the
    whole audit hash-matches the N^2 SQL replay. Budget-guarded
    unsampled; ``sample_n_queries`` restricts both searches' query
    side to the deterministic md5 pick (full index both times)."""
    emb = _t(spark, sf_dir, "embeddings")
    sample = None
    if sample_n_queries is not None:
        sample = S.eval_query_sample(emb, n=sample_n_queries)
    else:
        S.guard_eval_flops(emb, op="sq_int8_recall_audit")
    flat = (emb.select("vec_id", F.posexplode("embedding")
                       .alias("dim0", "v"))
            .select("vec_id", (F.col("dim0") + 1).alias("dim"),
                    F.col("v").cast("double").alias("v")))
    rng = (flat.groupBy("dim").agg(F.min("v").alias("lo"),
                                   F.max("v").alias("hi"))
           .orderBy("dim").collect())          # 64 rows: codebook class
    lo = F.array(*[F.lit(r["lo"]) for r in rng])
    hi = F.array(*[F.lit(r["hi"]) for r in rng])
    idx = F.sequence(F.lit(1), F.size("embedding"))
    dv = F.zip_with(
        F.transform(F.col("embedding"), lambda x: x.cast("double")), idx,
        lambda x, i: F.when(F.element_at(hi, i) == F.element_at(lo, i),
                            F.element_at(lo, i))
        .otherwise(F.floor((x - F.element_at(lo, i))
                           / (F.element_at(hi, i) - F.element_at(lo, i))
                           * 254.0 + F.lit(0.5)) / 254.0
                   * (F.element_at(hi, i) - F.element_at(lo, i))
                   + F.element_at(lo, i)))
    deq = emb.select("vec_id", dv.alias("embedding"))
    exact = (S.block_knn(emb, k=5, queries_df=sample)
             .select("vec_id", "neighbor_id"))
    approx = (S.block_knn(deq, k=5, queries_df=sample)
              .select("vec_id", "neighbor_id"))
    ap2 = approx.select(F.col("vec_id").alias("__qid"),
                        F.col("neighbor_id").alias("__nb"))
    hits = (exact.join(ap2, (F.col("vec_id") == F.col("__qid"))
                       & (F.col("neighbor_id") == F.col("__nb")), "left")
            .select("vec_id", "__nb"))
    return (hits.groupBy("vec_id")
            .agg(F.count("__nb").alias("n_hit"))
            .select("vec_id",
                    F.col("n_hit").cast("long").alias("n_hit"),
                    F.expr("(n_hit * 1000000) div 5").cast("long")
                    .alias("recall_micro")))


@query("sq_int8_recall_audit_sampled", _sq_int8_recall_sql(_EVAL_SAMPLE_N))
def sq_int8_recall_audit_sampled(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Production shape of the int8 ranking-damage audit: both searches
    run the deterministic 200-query md5 sample against their FULL
    indexes — the per-dim ranges (the quantizer itself) still come from
    the whole corpus, so the measured damage is the deployed
    quantizer's. Oracle smp CTE replays the pick."""
    return sq_int8_recall_audit(spark, sf_dir,
                                sample_n_queries=_EVAL_SAMPLE_N)


@query("bpe_first_merges", """
SELECT pair, cnt, rank FROM (
  SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rank
  FROM (
    SELECT chars[i] || chars[i + 1] AS pair, count(*) AS cnt
    FROM (
      SELECT string_split(tok, '') AS chars
      FROM (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS tok
        FROM documents
      )
    ), LATERAL (SELECT unnest(range(1, len(chars))) AS i) g
    GROUP BY 1
  )
)
WHERE rank <= 30
""")
def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge-table iteration: adjacent-character pair
    frequencies across the corpus — the inner loop of tokenizer
    training. Exactly how real BPE trainers scale: first collapse the
    corpus to its VOCABULARY (token -> occurrence count; a map-side
    -partial hash agg that shrinks the data by the token repetition
    factor), then explode each DISTINCT token to character pairs via
    slice-zip (all JVM-side array ops, no Python) and take a weighted
    sum. The expensive explode runs once per vocabulary entry instead
    of once per token instance; the final top-30 ranks the tiny pair
    aggregate only."""
    from pyspark.sql import Window
    d = _t(spark, sf_dir, "documents")
    vocab = (d.select(
        F.explode(F.filter(F.split(F.lower("text"), " "),
                           lambda x: x != "")).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("tok_cnt")))
    chars = vocab.select(F.split("tok", "").alias("chars"), "tok_cnt")
    pairs = chars.select(
        F.explode(F.zip_with(
            F.slice("chars", 1, F.greatest(F.size("chars") - 1, F.lit(0))),
            F.slice("chars", 2, F.greatest(F.size("chars") - 1, F.lit(0))),
            lambda a, b: F.concat(a, b))).alias("pair"), "tok_cnt")
    counts = pairs.groupBy("pair").agg(F.sum("tok_cnt").alias("cnt"))
    # TakeOrderedAndProject top-k; rank stamped on the 30 survivors only
    top = counts.orderBy(F.col("cnt").desc(), "pair").limit(30)
    w = Window.orderBy(F.col("cnt").desc(), "pair")
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


@query("keyed_batch_stats", """
SELECT user_id,
       CAST(ceil(count(*) / 4.0) AS BIGINT) AS n_batches,
       round(sum(value), 2)                 AS sum_value
FROM events
GROUP BY user_id
""")
def keyed_batch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed ∘ Batch composition (flow/keyed_test.go:101-138: per-key
    Batch(4) chains, then batch counts + sums): batch_by_count with
    partition_by numbers rows per key — fully distributed, no global
    order — and the batch count per key equals ceil(n/4), which the
    oracle states in closed form. One hash shuffle on user_id shared
    by the numbering window and the final aggregate."""
    from .operators import batch_by_count
    ev = _t(spark, sf_dir, "events")
    batched = Source(ev).via(batch_by_count(
        4, order_by=["ts", "event_id"], partition_by=["user_id"])).to_df()
    return (batched.groupBy("user_id")
            .agg(F.countDistinct("batch_id").alias("n_batches"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


@query("quality_rank_normalized", """
SELECT lang, doc_id,
       round(percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id),
             4) AS len_pct
FROM documents
""")
def quality_rank_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based feature normalization: percent_rank of document
    length within each language stratum — the distribution-free
    normalization (quantile transform) feature pipelines apply before
    mixing heterogeneous sources. One hash shuffle on lang; the sort is
    per-stratum. (doc_id tie-break makes ranks engine-independent.)"""
    from pyspark.sql import Window
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return d.select("lang", "doc_id",
                    F.round(F.percent_rank().over(w), 4).alias("len_pct"))


@query("chi2_token_lang", """
WITH tl AS (
  SELECT lang, unnest(list_distinct(
           list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS tok
  FROM documents
), obs AS (
  SELECT tok, lang, count(*) AS o FROM tl GROUP BY 1, 2
), tot AS (
  SELECT count(*) AS n FROM (SELECT DISTINCT doc_id FROM documents)
), tok_m AS (
  SELECT tok, sum(o) AS tok_docs FROM obs GROUP BY tok
), lang_m AS (
  SELECT lang, count(*) AS lang_docs FROM documents GROUP BY lang
)
SELECT tok, round(chi2, 4) AS chi2 FROM (
  SELECT o.tok,
         sum(power(o.o - (t.tok_docs * l.lang_docs * 1.0 / tot.n), 2)
             / (t.tok_docs * l.lang_docs * 1.0 / tot.n)) AS chi2
  FROM obs o
  JOIN tok_m t USING (tok)
  JOIN lang_m l USING (lang)
  CROSS JOIN tot
  WHERE t.tok_docs >= 20
  GROUP BY o.tok
)
ORDER BY chi2 DESC, tok
LIMIT 25
""")
def chi2_token_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square token/language association (feature selection): how
    unevenly each token's document frequency distributes across
    language strata vs the independence expectation. Document-distinct
    tokens explode once; every join after the (tok, lang) agg runs at
    vocabulary grain, the language margin broadcasts, and the top-25
    is TakeOrderedAndProject. Tokens in < 20 docs are pruned before the
    expensive arithmetic."""
    d = _t(spark, sf_dir, "documents")
    tl = d.select(
        "lang",
        F.explode(F.array_distinct(
            F.filter(F.split(F.lower("text"), " "),
                     lambda x: x != ""))).alias("tok"))
    obs = tl.groupBy("tok", "lang").agg(F.count(F.lit(1)).alias("o"))
    n = d.select("doc_id").distinct().count()
    tok_m = (obs.groupBy("tok").agg(F.sum("o").alias("tok_docs"))
             .where(F.col("tok_docs") >= 20))
    lang_m = d.groupBy("lang").agg(F.count(F.lit(1)).alias("lang_docs"))
    e = F.col("tok_docs") * F.col("lang_docs") / F.lit(float(n))
    joined = (obs.join(tok_m, "tok")
              .join(F.broadcast(lang_m), "lang"))
    chi2 = (joined.groupBy("tok")
            .agg(F.sum(F.pow(F.col("o") - e, 2) / e).alias("chi2raw")))
    return (chi2.select("tok", F.round("chi2raw", 4).alias("chi2"))
            .orderBy(F.col("chi2").desc(), "tok").limit(25))


@query("stream_fold_running_sum", """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS acc
FROM events
WHERE event_type = 'purchase'
""")
def stream_fold_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Fold (flow/fold.go:83-90 per-element emission) through
    the REAL stateful machinery: applyInPandasWithState, one
    accumulator per user_id in 8 state buckets, run as a Structured
    Streaming query (availableNow -> append memory sink) and
    hash-matched against the prefix-sum oracle. The streaming twin of
    the batch `fold_running_sum` window query."""
    import uuid as _uuid
    from .streaming import memory_sink, state_sized_partitions
    from .streaming.stateful import running_fold_stream
    src = (_events_stream(spark, sf_dir)
           .where("event_type = 'purchase'")
           .select("user_id", "event_id", "value"))
    name = "fold_stream_" + _uuid.uuid4().hex[:10]
    with state_sized_partitions(spark, 8):
        folded = running_fold_stream(
            src, key_cols=["user_id"], value_col="value", order_col="event_id",
            fold_fn=lambda v, a: a + v, init=0.0,
            output_schema="user_id long, event_id long, value double, acc double")
        Source(folded).to(memory_sink(name, output_mode="append"))
    return spark.table(name).select(
        "user_id", "event_id", F.round("acc", 4).alias("acc"))


@query("time_rollup_revenue", """
SELECT CASE WHEN GROUPING(day) = 0 THEN 'day'
            WHEN GROUPING(week) = 0 THEN 'week'
            ELSE 'month' END                   AS level,
       coalesce(day, week, month)              AS period_start,
       round(sum(o_totalprice), 2)             AS revenue,
       count(*)                                AS n_orders
FROM (
  SELECT date_trunc('day', o_orderdate)   AS day,
         date_trunc('week', o_orderdate)  AS week,
         date_trunc('month', o_orderdate) AS month,
         o_totalprice
  FROM orders
)
GROUP BY GROUPING SETS ((day), (week), (month))
""")
def time_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup: revenue at day/week/month grain in ONE
    Expand pass (GROUPING SETS) — one scan and one shuffle for all
    three granularities instead of three scans. The level label comes
    from GROUPING() so each output row names its grain; at 100 TB this
    is the materialized-hierarchy pattern OLAP serving layers
    pre-compute."""
    import uuid as _uuid
    o = _t(spark, sf_dir, "orders")
    v = "t_ro_" + _uuid.uuid4().hex[:10]
    o.select(F.date_trunc("day", "o_orderdate").alias("day"),
             F.date_trunc("week", "o_orderdate").alias("week"),
             F.date_trunc("month", "o_orderdate").alias("month"),
             "o_totalprice").createOrReplaceTempView(v)
    return spark.sql(f"""
        SELECT CASE WHEN GROUPING(day) = 0 THEN 'day'
                    WHEN GROUPING(week) = 0 THEN 'week'
                    ELSE 'month' END       AS level,
               coalesce(day, week, month)  AS period_start,
               round(sum(o_totalprice), 2) AS revenue,
               count(*)                    AS n_orders
        FROM {v}
        GROUP BY GROUPING SETS ((day), (week), (month))""")


@query("mad_outlier_stats", """
WITH med AS (
  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
  FROM lineitem GROUP BY l_returnflag
), dev AS (
  SELECT l.l_returnflag, l.l_extendedprice, m.med,
         abs(l.l_extendedprice - m.med) AS ad
  FROM lineitem l JOIN med m USING (l_returnflag)
), mad AS (
  SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad
  FROM dev GROUP BY l_returnflag
)
SELECT d.l_returnflag,
       round(max(d.med), 4)  AS median_price,
       round(max(m2.mad), 4) AS mad,
       count(*) FILTER (WHERE d.ad > 3 * 1.4826 * m2.mad) AS n_outliers,
       count(*)              AS n
FROM dev d JOIN mad m2 USING (l_returnflag)
GROUP BY d.l_returnflag
""")
def mad_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier statistics via Median Absolute Deviation — the
    heavy-tail-safe alternative to z-scores (3 * 1.4826 * MAD ~ 3
    sigma under normality). Exact medians force two passes over the
    fact; both group to returnflag grain (tiny), so the per-group
    medians broadcast back and the only fact-sized work is two scans +
    one final hash agg. Swap percentile -> approx_percentile for the
    one-pass sketch at 100 TB (documented tolerance trade)."""
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("med"))
    dev = (li.join(F.broadcast(med), "l_returnflag")
           .withColumn("ad", F.abs(F.col("l_extendedprice") - F.col("med"))))
    mad = dev.groupBy("l_returnflag").agg(
        F.expr("percentile(ad, 0.5)").alias("mad"))
    return (dev.join(F.broadcast(mad), "l_returnflag")
            .groupBy("l_returnflag")
            .agg(F.round(F.max("med"), 4).alias("median_price"),
                 F.round(F.max("mad"), 4).alias("mad"),
                 F.count(F.when(
                     F.col("ad") > 3 * 1.4826 * F.col("mad"), 1))
                 .alias("n_outliers"),
                 F.count(F.lit(1)).alias("n")))


@query("mad_outlier_stats_hist", """
WITH hist AS (
  SELECT l_returnflag, CAST(floor(l_extendedprice / 64.0) AS BIGINT) AS b,
         count(*) AS c
  FROM lineitem GROUP BY 1, 2
), med AS (
  SELECT l_returnflag, (min(b) + 0.5) * 64.0 AS med, max(n) AS n
  FROM (
    SELECT l_returnflag, b, n,
           sum(c) OVER (PARTITION BY l_returnflag ORDER BY b) AS cum
    FROM (SELECT *, sum(c) OVER (PARTITION BY l_returnflag) AS n FROM hist)
  ) WHERE cum >= ceil(n * 0.5)
  GROUP BY l_returnflag
), hist2 AS (
  SELECT l.l_returnflag,
         CAST(floor(abs(l.l_extendedprice - m.med) / 64.0) AS BIGINT) AS ab,
         count(*) AS c
  FROM lineitem l JOIN med m USING (l_returnflag)
  GROUP BY 1, 2
), mad AS (
  SELECT l_returnflag, (min(ab) + 0.5) * 64.0 AS mad
  FROM (
    SELECT l_returnflag, ab, n,
           sum(c) OVER (PARTITION BY l_returnflag ORDER BY ab) AS cum
    FROM (SELECT *, sum(c) OVER (PARTITION BY l_returnflag) AS n FROM hist2)
  ) WHERE cum >= ceil(n * 0.5)
  GROUP BY l_returnflag
)
SELECT h.l_returnflag,
       round(max(m.med), 4) AS median_price,
       round(max(d.mad), 4) AS mad,
       CAST(coalesce(sum(CASE WHEN (h.ab + 0.5) * 64.0 > 4.4478 * d.mad
                              THEN h.c END), 0) AS BIGINT) AS n_outliers,
       CAST(sum(h.c) AS BIGINT) AS n
FROM hist2 h JOIN med m USING (l_returnflag) JOIN mad d USING (l_returnflag)
GROUP BY h.l_returnflag
""")
def mad_outlier_stats_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD outliers via fixed-width histogram sketches — the 100 TB
    form of ``mad_outlier_stats``. Exact per-group percentile forces
    every value of a group through one reducer (3 groups -> 3 straggler
    tasks buffering the whole column). Here each scan aggregates to
    (group, price-bucket) grain with map-side partials — full
    parallelism, tiny shuffles — and the median/MAD/outlier-count are
    all read off the histograms (error bounded by the 64-unit bucket
    width; bucket mid * width is integral so both engines agree
    bit-for-bit, making the sketch deterministic and oracle-checkable,
    unlike approx_percentile whose sketch differs per engine)."""
    from pyspark.sql import Window as W
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    w = 64.0
    per_flag = W.partitionBy("l_returnflag")

    h1 = (li.groupBy("l_returnflag",
                     F.floor(F.col("l_extendedprice") / w).alias("b"))
          .agg(F.count(F.lit(1)).alias("c")))
    med = (h1.withColumn("n", F.sum("c").over(per_flag))
           .withColumn("cum", F.sum("c").over(per_flag.orderBy("b")))
           .where(F.col("cum") >= F.ceil(F.col("n") * 0.5))
           .groupBy("l_returnflag")
           .agg(((F.min("b") + 0.5) * w).alias("med")))
    h2 = (li.join(F.broadcast(med), "l_returnflag")
          .groupBy("l_returnflag",
                   F.floor(F.abs(F.col("l_extendedprice") - F.col("med"))
                           / w).alias("ab"))
          .agg(F.count(F.lit(1)).alias("c"), F.max("med").alias("med")))
    # MAD read off the same histogram inline (windows over the tiny
    # (group, bucket) frame) — no self-join, so lineitem scans exactly
    # twice
    h2m = (h2.withColumn("n", F.sum("c").over(per_flag))
           .withColumn("cum", F.sum("c").over(per_flag.orderBy("ab")))
           .withColumn("cand", F.when(
               F.col("cum") >= F.ceil(F.col("n") * 0.5), F.col("ab")))
           .withColumn("mad", (F.min("cand").over(per_flag) + 0.5) * w))
    return (h2m.groupBy("l_returnflag")
            .agg(F.round(F.max("med"), 4).alias("median_price"),
                 F.round(F.max("mad"), 4).alias("mad"),
                 F.coalesce(F.sum(F.when(
                     (F.col("ab") + 0.5) * w > 4.4478 * F.col("mad"),
                     F.col("c"))), F.lit(0)).alias("n_outliers"),
                 F.sum("c").alias("n")))


@query("incremental_agg_merge", """
SELECT o_orderpriority,
       count(*)                    AS n_orders,
       round(sum(o_totalprice), 2) AS revenue,
       round(sum(o_totalprice) / count(*), 4) AS avg_price
FROM orders
GROUP BY o_orderpriority
""")
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the engine aggregates an 'existing'
    partition range and a 'newly arrived' range SEPARATELY, then merges
    the algebraic partials (counts and sums add; avg re-derives as
    sum/count) — provably equal to the full recompute, which is what
    the oracle states. At 100 TB this is the nightly-ETL pattern: touch
    only the new partition, fold its partial into the serving
    aggregate; map-side partials make each side one shuffle of
    group-grain rows."""
    o = _t(spark, sf_dir, "orders")
    cutoff = "1995-06-01"
    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("pc"),
            F.sum("o_totalprice").alias("ps"))
    old = partial(o.where(F.col("o_orderdate") < cutoff))
    new = partial(o.where(F.col("o_orderdate") >= cutoff))
    return (old.unionByName(new)
            .groupBy("o_orderpriority")
            .agg(F.sum("pc").alias("n_orders"),
                 F.round(F.sum("ps"), 2).alias("revenue"),
                 F.round(F.sum("ps") / F.sum("pc"), 4).alias("avg_price")))


@query("equidepth_price_histogram", """
SELECT bucket,
       count(*)                         AS n,
       round(min(l_extendedprice), 2)   AS lo,
       round(max(l_extendedprice), 2)   AS hi
FROM (
  SELECT l_extendedprice,
         ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
             AS bucket
  FROM lineitem
)
GROUP BY bucket
""")
def equidepth_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram — the quantile-bucket
    profile query optimizers and drift monitors build. ntile needs a
    global position, but NOT a single-partition sort: rows are numbered
    with the distributed ordinal (one range shuffle, offsets decoded
    from monotonic ids) and ntile's bucket formula — first n%k buckets
    get ceil(n/k) rows — is applied arithmetically against the 1-row
    total broadcast back. Bit-identical to ntile() (the oracle), scales
    to any row count. (l_orderkey, l_linenumber) tie-break pins bucket
    boundaries across engines."""
    from .operators import distributed_ordinal
    li = _t(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber")
    ordn = distributed_ordinal(
        li, order_by=["l_extendedprice", "l_orderkey", "l_linenumber"],
        idx="rn", total_col="__n")
    k = 10
    q, r = F.floor(F.col("__n") / k), F.col("__n") % k
    big = r * (q + 1)  # rows covered by the ceil-sized leading buckets
    bucket = F.when(
        F.col("rn") <= big,
        F.floor((F.col("rn") - 1) / (q + 1)) + 1
    ).otherwise(
        r + F.floor((F.col("rn") - big - 1) / F.greatest(q, F.lit(1))) + 1)
    return (ordn
            .select("l_extendedprice", bucket.cast("int").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("l_extendedprice"), 2).alias("lo"),
                 F.round(F.max("l_extendedprice"), 2).alias("hi")))


@query("fuzzy_name_match_pairs", """
WITH names AS (SELECT DISTINCT p_name FROM part),
blocked AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         levenshtein(a.p_name, b.p_name) AS dist
  FROM names a JOIN names b
    ON string_split(a.p_name, ' ')[2] = string_split(b.p_name, ' ')[2]
   AND a.p_name < b.p_name
)
SELECT name_a, name_b, dist
FROM blocked
WHERE dist <= 4
""")
def fuzzy_name_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate string-matching join (entity resolution): candidate
    name pairs within an edit distance of 4. Blocking on the head noun
    turns the quadratic all-pairs comparison into a per-block
    equi-join — the standard ER architecture (block -> compare ->
    score); distinct-name pre-projection means pair work scales with
    vocabulary, not row count, and levenshtein runs only inside
    blocks."""
    p = _t(spark, sf_dir, "part")
    names = p.select("p_name").distinct() \
        .withColumn("block", F.split("p_name", " ").getItem(1))
    a = names.select(F.col("p_name").alias("name_a"), "block")
    b = names.select(F.col("p_name").alias("name_b"), "block")
    pairs = a.join(b, "block").where(F.col("name_a") < F.col("name_b"))
    return (pairs
            .select("name_a", "name_b",
                    F.levenshtein("name_a", "name_b").alias("dist"))
            .where(F.col("dist") <= 4))


@query("ab_test_welch", """
WITH s AS (
  SELECT event_type, count(*) AS n, avg(value) AS m, var_samp(value) AS v
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY event_type
)
SELECT a.n AS n_purchase, b.n AS n_click,
       round(a.m - b.m, 4) AS mean_diff,
       round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 4) AS t_stat
FROM s a CROSS JOIN s b
WHERE a.event_type = 'purchase' AND b.event_type = 'click'
""")
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test between two event cohorts — the A/B-experiment
    readout. Entirely algebraic (count/mean/variance have map-side
    partials), so the WHOLE test is one shuffle of 2 group rows no
    matter how many billions of events; the final statistic is a
    2-row cross join on the driver-sized aggregate."""
    ev = _t(spark, sf_dir, "events")
    s = (ev.where(F.col("event_type").isin("click", "purchase"))
         .groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.avg("value").alias("m"),
              F.var_samp("value").alias("v")))
    a = s.where("event_type = 'purchase'").select(
        F.col("n").alias("n_purchase"), F.col("m").alias("ma"),
        F.col("v").alias("va"))
    b = s.where("event_type = 'click'").select(
        F.col("n").alias("n_click"), F.col("m").alias("mb"),
        F.col("v").alias("vb"))
    return (a.crossJoin(b)
            .select("n_purchase", "n_click",
                    F.round(F.col("ma") - F.col("mb"), 4).alias("mean_diff"),
                    F.round((F.col("ma") - F.col("mb")) /
                            F.sqrt(F.col("va") / F.col("n_purchase")
                                   + F.col("vb") / F.col("n_click")), 4)
                    .alias("t_stat")))


@query("pca_whiten_embeddings", S.pca_whiten_oracle_sql)
def pca_whiten_embeddings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening of the embedding corpus onto the top-8 principal
    axes (unit variance + ridge) — the OPQ/ZCA linear pre-stage before
    PQ codebooks / k-means / Mahalanobis scoring.
    functions/similarity.py::pca_whiten_embeddings: exact integer
    moments -> driver eigh -> quantized whitening rows broadcast into
    one int64 projection pass (order-independent dots, one float
    division per coordinate). Hash-checked against a PER-SF GENERATED
    oracle with (mu_q, P_q) baked as literals from an independent
    parquet read — same machinery as the Mahalanobis gate."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.pca_whiten_embeddings(emb, out_dim=8)


@query("procrustes_alignment_drift", S.procrustes_oracle_sql)
def procrustes_alignment_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orthogonal Procrustes drift report between two embedding spaces
    (functions/similarity.py::procrustes_residuals): fit the best
    rotation R = U V^T from the SVD of the exact-integer cross-
    covariance, remove it, and emit each vector's remaining squared
    residual — the embedding-migration diagnostic (model v1 -> v2:
    the global rotation absorbs the harmless coordinate-frame change;
    what's left is per-vector MEANING drift). The v2 space here is a
    planted signed dimension-permutation of v1 (an orthogonal map) for
    98% of vectors — recovered exactly, residual 0 — plus a per-vector
    coordinate swap on vec_id % 50 == 0, which the global rotation
    CANNOT absorb: the report flags exactly those vectors with
    positive residuals. A real migration swaps the planted column for
    a join against the v2 table.

    Scale: one pass for the d x d covariance (mapInPandas integer
    partials -> d^2-row aggregate), one Arrow pass for residuals; the
    only driver-resident object is the 64 x 64 rotation. PER-SF
    generated oracle: independent DuckDB read + the SAME shared
    rotation/residual functions baked to a VALUES table."""
    emb = _t(spark, sf_dir, "embeddings")
    a = F.col("embedding")
    dsz = F.size(a)
    b = F.transform(
        F.sequence(F.lit(0), dsz - F.lit(1)),
        lambda j: F.when(j % 2 == 0,
                         F.element_at(a, ((j + 3) % dsz) + 1))
        .otherwise(-F.element_at(a, ((j + 3) % dsz) + 1)))
    drifted = F.concat(F.array(F.element_at(b, 2), F.element_at(b, 1)),
                       F.slice(b, 3, dsz - 2))
    vb = F.when(F.col("vec_id") % 50 == 0, drifted).otherwise(b)
    return S.procrustes_residuals(
        emb.select("vec_id", a.alias("va"), vb.alias("vb")),
        id_col="vec_id", a_col="va", b_col="vb")


@query("embedding_second_moments", """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv
  FROM embeddings
), e AS (
  SELECT vec_id, t.i, qv[t.i] AS qi
  FROM q, UNNEST(generate_series(1, len(qv))) t(i)
)
SELECT (a.i - 1)::INT AS i, (b.i - 1)::INT AS j,
       (sum(a.qi * b.qi) % 2305843009213693951)::BIGINT AS s_mod
FROM e a JOIN e b ON a.vec_id = b.vec_id
GROUP BY 1, 2
""")
def embedding_second_moments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DxD second-moment matrix of the embedding corpus —
    functions/similarity.py::embedding_second_moments: integer
    micro-unit quantization, ONE int64 X^T X matmul partial per
    partition (D^2 rows per partition, never per row), DECIMAL(38)
    cross-partition sum; compacted mod 2^61-1 for the compare. The
    input to PCA/whitening/OPQ-style rotations. The oracle states the
    same sums via an explicit (i, j) pair join — feasible at gate SF,
    never the executed plan."""
    emb = _t(spark, sf_dir, "embeddings")
    mom = S.embedding_second_moments(emb, vec_col="embedding")
    return mom.select(
        "i", "j",
        (F.col("s") % F.lit(2305843009213693951).cast("decimal(38,0)"))
        .cast("long").alias("s_mod"))


@query("embedding_mahalanobis_outliers", S.mahalanobis_exact_oracle_sql)
def embedding_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier scores: squared Mahalanobis distance
    under the ridge-regularized corpus covariance, ENGINE-EXACT
    (functions/similarity.py::mahalanobis_scores_exact — integer
    micro-unit y, quantized-inverse W_q, big-int y.z fold, one
    trunc-div). Hash-checked against a PER-SF GENERATED oracle
    (mahalanobis_exact_oracle_sql): the generator reads the parquet
    independently, rebuilds the same exact integer moments, and bakes
    (mu_q, W_q) into the SQL as literals — the DxD inversion is driver
    metadata, exactly like a codebook. Top-50 by (maha2 desc, vec_id)
    for a bounded result. Its numpy parity is pinned by
    tests/test_functions.py::test_mahalanobis_matches_numpy_reference."""
    emb = _t(spark, sf_dir, "embeddings")
    scores = S.mahalanobis_scores_exact(emb)
    return (scores.orderBy(F.col("maha2").desc(), "vec_id").limit(50))


@query("embedding_norm_stats", """
SELECT label,
       count(*)                                    AS n,
       round(avg(norm), 3)                         AS avg_norm,
       round(quantile_cont(norm, 0.5), 3)          AS p50_norm,
       round(max(norm), 3)                         AS max_norm
FROM (
  SELECT label,
         sqrt(list_sum(list_transform(embedding,
                                      x -> CAST(x AS DOUBLE) ** 2))) AS norm
  FROM embeddings
)
GROUP BY label
""")
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm hygiene profile per label — the vector sanity
    pass before ANN indexing (zero/exploding norms break cosine).
    The norm is a JVM-side higher-order F.aggregate (no Python, no
    explode — one row stays one row); stats group to label grain."""
    e = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(F.aggregate(
        "embedding", F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return (e.select("label", norm.alias("norm"))
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("norm"), 3).alias("avg_norm"),
                 F.round(F.expr("percentile(norm, 0.5)"), 3).alias("p50_norm"),
                 F.round(F.max("norm"), 3).alias("max_norm")))


@query("referential_integrity_audit", """
SELECT
  (SELECT count(*) FROM lineitem l
   WHERE NOT EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_orderkey = l.l_orderkey)) AS orphan_lineitems,
  (SELECT count(*) FROM orders o
   WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey)) AS childless_orders,
  (SELECT count(*) FROM lineitem)                        AS n_lineitems,
  (SELECT count(*) FROM orders)                          AS n_orders
""")
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across a fact/parent pair — the
    foreign-key check a warehouse runs after every load (Deequ
    hasReferentialIntegrity analogue). ONE job: union the two key
    columns tagged by side, aggregate to key grain (the only fact-sized
    shuffle, key-width rows with map-side partials), then fold the
    per-key (child_count, parent_count) pairs into all four audit
    numbers in a final tiny agg. No joins, no driver-side round-trips
    per metric — the previous 4-action form scanned the fact six times;
    this scans each table once."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    keys = (li.select(F.col("l_orderkey").alias("k"),
                      F.lit(1).alias("lc"), F.lit(0).alias("oc"))
            .unionAll(o.select(F.col("o_orderkey").alias("k"),
                               F.lit(0), F.lit(1))))
    per_key = keys.groupBy("k").agg(F.sum("lc").alias("lc"),
                                    F.sum("oc").alias("oc"))
    return per_key.agg(
        F.sum(F.when(F.col("oc") == 0, F.col("lc")).otherwise(0))
         .alias("orphan_lineitems"),
        F.count(F.when(F.col("lc") == 0, 1)).alias("childless_orders"),
        F.sum("lc").alias("n_lineitems"),
        F.sum("oc").alias("n_orders"))


@query("merge_upsert_customers", """
WITH src AS (
  SELECT c_custkey, c_name,
         round(c_acctbal + 100, 2) AS c_acctbal,
         c_mktsegment, FALSE AS del
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, c_name, NULL AS c_acctbal, c_mktsegment, TRUE AS del
  FROM customer WHERE c_custkey % 10 = 1
  UNION ALL
  SELECT c_custkey + 1000000 AS c_custkey,
         'NEW-' || c_custkey AS c_name, 0.0 AS c_acctbal,
         'NEW' AS c_mktsegment, FALSE AS del
  FROM customer WHERE c_custkey % 100 = 2
)
SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
            ELSE t.c_name END                              AS c_name,
       round(CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                  ELSE t.c_acctbal END, 2)                 AS c_acctbal,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
            ELSE t.c_mktsegment END                        AS c_mktsegment
FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
WHERE NOT coalesce(s.del, FALSE)
""")
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE INTO (SCD1) — operators/joins.py::merge_upsert: a
    deterministic change set (balance bump for custkey%10=0, delete
    for %10=1, synthetic inserts for %100=2) applied to the customer
    snapshot in ONE full-outer key shuffle. The Delta/Iceberg MERGE
    semantics over plain parquet, NULL-faithful (an update that sets a
    column to NULL wins over the target value)."""
    from .operators.joins import merge_upsert
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    upd = (cust.where(F.col("c_custkey") % 10 == 0)
           .select("c_custkey", "c_name",
                   F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
                   "c_mktsegment", F.lit(False).alias("del")))
    dele = (cust.where(F.col("c_custkey") % 10 == 1)
            .select("c_custkey", "c_name",
                    F.lit(None).cast("double").alias("c_acctbal"),
                    "c_mktsegment", F.lit(True).alias("del")))
    ins = (cust.where(F.col("c_custkey") % 100 == 2)
           .select((F.col("c_custkey") + 1000000).alias("c_custkey"),
                   F.concat(F.lit("NEW-"), F.col("c_custkey")).alias("c_name"),
                   F.lit(0.0).alias("c_acctbal"),
                   F.lit("NEW").alias("c_mktsegment"),
                   F.lit(False).alias("del")))
    src = upd.unionByName(dele).unionByName(ins)
    out = merge_upsert(cust, src, keys=["c_custkey"], delete_col="del")
    return out.select("c_custkey", "c_name",
                      F.round("c_acctbal", 2).alias("c_acctbal"),
                      "c_mktsegment")


@query("snapshot_diff_users", """
WITH s1 AS (
  SELECT user_id, round(sum(value), 2) AS total
  FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY user_id
), s2 AS (
  SELECT user_id, round(sum(value), 2) AS total
  FROM events WHERE ts >= TIMESTAMP '2024-01-15' GROUP BY user_id
)
SELECT CASE WHEN s1.user_id IS NULL THEN 'added'
            WHEN s2.user_id IS NULL THEN 'removed'
            WHEN s1.total <> s2.total THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       count(*) AS n_users
FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
GROUP BY 1
""")
def snapshot_diff_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC table compare): classify every key as
    added/removed/changed/unchanged between two aggregate snapshots via
    one full-outer join on the key — the reconciliation pass data
    platforms run between warehouse generations. Snapshot grain is
    user-sized, so the join input is already reduced; at 100 TB you'd
    compare row-hashes instead of values, same plan."""
    ev = _t(spark, sf_dir, "events")
    cutoff = "2024-01-15"
    s1 = (ev.where(F.col("ts") < cutoff).groupBy("user_id")
          .agg(F.round(F.sum("value"), 2).alias("t1")))
    s2 = (ev.where(F.col("ts") >= cutoff).groupBy("user_id")
          .agg(F.round(F.sum("value"), 2).alias("t2")))
    j = s1.withColumnRenamed("user_id", "u1").join(
        s2.withColumnRenamed("user_id", "u2"),
        F.col("u1") == F.col("u2"), "full_outer")
    change = (F.when(F.col("u1").isNull(), "added")
              .when(F.col("u2").isNull(), "removed")
              .when(F.col("t1") != F.col("t2"), "changed")
              .otherwise("unchanged"))
    return (j.select(change.alias("change_type"))
            .groupBy("change_type")
            .agg(F.count(F.lit(1)).alias("n_users")))


@query("time_decay_engagement", """
SELECT user_id,
       round(sum(value * exp(-0.1 * date_diff('day', ts::DATE,
                                              DATE '2024-02-01'))), 2)
           AS decayed_score,
       count(*) AS n_events
FROM events
GROUP BY user_id
""")
def time_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay engagement score (recsys/ranking feature):
    recent events weigh more, half-life ~= 7 days at lambda=0.1. The
    decay factor is a per-row projection (integer day age keeps the
    exp() argument engine-exact), the score a map-side-partial sum —
    one shuffle at user grain for any event volume."""
    ev = _t(spark, sf_dir, "events")
    age_days = F.datediff(F.lit("2024-02-01").cast("date"),
                          F.col("ts").cast("date"))
    return (ev.groupBy("user_id")
            .agg(F.round(F.sum(F.col("value") * F.exp(-0.1 * age_days)), 2)
                 .alias("decayed_score"),
                 F.count(F.lit(1)).alias("n_events")))


@query("rolling_correlation_series", bound="hour-grid", sql="""
WITH grid AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS hour,
         sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END)    AS clicks,
         sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS purchases
  FROM events
  GROUP BY 1
)
SELECT hour,
       round(corr(clicks, purchases) OVER (ORDER BY hour
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW), 3) AS corr_24h,
       count(*) OVER (ORDER BY hour
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)     AS n_hours
FROM grid
""")
def rolling_correlation_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling cross-series correlation: click-value vs purchase-value
    per hour, correlated over a trailing 24-hour frame — the co-move
    diagnostic time-series monitoring runs. The event-volume work is
    ONE conditional-sum aggregation to the hourly grid; the window
    correlation then runs on grid-sized data (hours, volume-
    independent), so the global order costs a sort of ~10^4 rows even
    at 100 TB of events."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    grid = (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
            .agg(F.sum(F.when(F.col("event_type") == "click",
                              F.col("value")).otherwise(0.0)).alias("clicks"),
                 F.sum(F.when(F.col("event_type") == "purchase",
                              F.col("value")).otherwise(0.0)).alias("purchases")))
    w = Window.orderBy("hour").rowsBetween(-23, 0)
    # null-safe correlation: F.corr throws DIVIDE_BY_ZERO under ANSI
    # mode when a frame holds a constant series (e.g. 24 hours of zero
    # clicks); the oracle's corr() yields NULL there. Computing
    # covar/(sx*sy) behind a both-stddevs-positive guard reproduces the
    # NULL (n=1 frames: stddev_samp is NULL -> guard is NULL -> NULL).
    sx = F.stddev_samp("clicks").over(w)
    sy = F.stddev_samp("purchases").over(w)
    cv = F.covar_samp("clicks", "purchases").over(w)
    corr = F.when((sx > 0) & (sy > 0), cv / (sx * sy))
    return grid.select(
        "hour",
        F.round(corr, 3).alias("corr_24h"),
        F.count(F.lit(1)).over(w).alias("n_hours"))


@query("stream_parity_keyed_tumbling", """
SELECT user_id,
       time_bucket(INTERVAL '6 hours', ts) AS window_start,
       count(*)             AS cnt,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""")
def stream_parity_keyed_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed ∘ TumblingWindow under Structured Streaming (the
    reference's Keyed-wrapping-window composition, flow/keyed.go:53 +
    flow/tumbling_window.go:30, executed as a stream): groupBy(key,
    window) is ONE shuffle keyed by (user, window) with map-side
    partials; complete-mode memory sink + availableNow gives the
    flush-on-close batch answer, hash-matched against SQL."""
    import uuid as _uuid
    from .streaming import memory_sink, state_sized_partitions
    src = _events_stream(spark, sf_dir)
    windowed = Source(src).via(tumbling_window(
        "ts", "6 hours",
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        keys=["user_id"])).to_df()
    name = "parity_kt_" + _uuid.uuid4().hex[:10]
    with state_sized_partitions(spark, 8):
        Source(windowed).to(memory_sink(name, output_mode="complete"))
    return spark.table(name).select("user_id", "window_start",
                                    "cnt", "sum_value")


@query("hourly_peak_detection", bound="hour-grid", sql="""
WITH grid AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS hour,
         round(sum(value), 2) AS v
  FROM events GROUP BY 1
), flagged AS (
  SELECT hour, v,
         lag(v)  OVER (ORDER BY hour) AS pv,
         lead(v) OVER (ORDER BY hour) AS nv
  FROM grid
)
SELECT hour, v
FROM flagged
WHERE pv IS NOT NULL AND nv IS NOT NULL AND v > pv AND v > nv
""")
def hourly_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maxima peak detection on the hourly value series (alert/
    seasonality diagnostics): a point is a peak when it beats both
    neighbors. Event volume reduces to the grid first; lag/lead then
    run on grid-sized data, so the total order costs a sort of
    hours-count rows regardless of input scale."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    grid = (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
            .agg(F.round(F.sum("value"), 2).alias("v")))
    w = Window.orderBy("hour")
    flagged = grid.select(
        "hour", "v",
        F.lag("v").over(w).alias("pv"),
        F.lead("v").over(w).alias("nv"))
    return (flagged.where(F.col("pv").isNotNull() & F.col("nv").isNotNull()
                          & (F.col("v") > F.col("pv"))
                          & (F.col("v") > F.col("nv")))
            .select("hour", "v"))


@query("topn_sum_via_arrayagg", """
SELECT user_id,
       round(coalesce(list_sum(list_sort(list(value))[-3:]), 0), 2)
           AS top3_sum,
       count(*) AS n
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
""")
def topn_sum_via_arrayagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key top-N WITHOUT a rank window: collect + sort + slice
    inside ONE hash aggregation. Versus the row_number() plan this
    removes the per-key sort pass entirely — the array never exceeds
    the per-key event count, partials combine map-side, and for
    bounded N a 100 TB variant caps the array at N during aggregation
    (slice in the merge). The classic agg-vs-window trade, stated as a
    query so the oracle pins both plans to identical answers."""
    ev = _t(spark, sf_dir, "events").where("event_type = 'purchase'")
    top3 = F.slice(F.sort_array(F.collect_list("value"), asc=False), 1, 3)
    return (ev.groupBy("user_id")
            .agg(F.round(F.coalesce(
                    F.aggregate(top3, F.lit(0.0), lambda a, x: a + x),
                    F.lit(0.0)), 2).alias("top3_sum"),
                 F.count(F.lit(1)).alias("n")))


@query("out_of_order_audit", """
SELECT count(*) FILTER (WHERE mx IS NOT NULL AND ts < mx) AS out_of_order,
       count(*)                                           AS n_events,
       round(count(*) FILTER (WHERE mx IS NOT NULL AND ts < mx)
             * 1.0 / count(*), 4)                         AS ooo_rate
FROM (
  SELECT ts,
         max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
  FROM events
)
""")
def out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit: fraction of events whose event time
    regresses below the per-user running high-water mark in arrival
    (event_id) order — the diagnostic that sizes streaming watermarks
    (`withWatermark` delay should cover the observed disorder). One
    hash shuffle on user_id; the running max is a frame walk."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    flagged = ev.select("ts", F.max("ts").over(w).alias("mx"))
    ooo = F.count(F.when(F.col("mx").isNotNull()
                         & (F.col("ts") < F.col("mx")), 1))
    return flagged.agg(
        ooo.alias("out_of_order"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(ooo / F.count(F.lit(1)), 4).alias("ooo_rate"))


@query("readability_flesch", """
SELECT lang,
       count(*) AS n_docs,
       round(avg(206.835 - 1.015 * words - 84.6 * (syll * 1.0 / words)), 2)
           AS avg_flesch
FROM (
  SELECT lang,
         len(toks) AS words,
         list_sum(list_transform(toks,
             t -> greatest(len(regexp_extract_all(t, '[aeiouy]+')), 1)))
             AS syll
  FROM (
    SELECT lang, list_filter(string_split(lower(text), ' '),
                             x -> x <> '') AS toks
    FROM documents
  )
  WHERE len(toks) > 0
)
GROUP BY lang
""")
def readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per language (single-'sentence'
    variant: words-per-doc + vowel-group syllable estimate) — the
    fluency gate complementing quality_score. All array/regex work is
    JVM-side higher-order functions on the token array (no explode:
    one row stays one row), then a language-grain aggregate."""
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    base = d.select("lang", toks.alias("toks")).where(F.size("toks") > 0)
    # regexp_extract_all over the lambda variable needs the SQL expr
    # form (the Python Column lambda can't reference it)
    per_doc = base.select(
        "lang",
        F.size("toks").alias("words"),
        F.expr("aggregate(transform(toks, t -> "
               "greatest(size(regexp_extract_all(t, '[aeiouy]+', 0)), 1)), "
               "0, (a, x) -> a + x)").alias("syll"))
    flesch = (F.lit(206.835) - 1.015 * F.col("words")
              - 84.6 * (F.col("syll") / F.col("words")))
    return (per_doc.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg(flesch), 2).alias("avg_flesch")))


@query("trend_slope_by_type", """
SELECT event_type,
       round(regr_slope(daily, d), 4)     AS slope,
       round(regr_intercept(daily, d), 2) AS intercept,
       count(*)                           AS n_days
FROM (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', ts::DATE) AS d,
         round(sum(value), 2) AS daily
  FROM events
  GROUP BY 1, 2
)
GROUP BY event_type
""")
def trend_slope_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-SQL trend estimation: least-squares slope/intercept of daily
    volume per event type (regr_slope/regr_intercept — algebraic
    moments, map-side partials). Two grain reductions: events -> days
    (volume work) -> types; nothing beyond group-grain rows ever
    shuffles. The SQL-native alternative to exporting to a stats
    library for monitoring-style regressions."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")).alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("daily")))
    return (daily.groupBy("event_type")
            .agg(F.round(F.regr_slope("daily", "d"), 4).alias("slope"),
                 F.round(F.regr_intercept("daily", "d"), 2).alias("intercept"),
                 F.count(F.lit(1)).alias("n_days")))


@query("revenue_gini_concentration", bound="customer-grain", sql="""
WITH per_cust AS (
  SELECT o_custkey, sum(o_totalprice) AS rev
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i,
         count(*) OVER () AS n, sum(rev) OVER () AS total
  FROM per_cust
)
SELECT round(2.0 * sum(i * rev) / (max(n) * max(total))
             - (max(n) + 1.0) / max(n), 4) AS gini,
       max(n)                              AS n_customers,
       round(max(total), 2)                AS total_revenue
FROM ranked
""")
def revenue_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    inequality metric cohort/market analyses report. The fact table
    reduces to customer grain first; the rank-weighted formula then
    sorts only |customers| rows (range-partitioned at scale), and the
    closed form needs no pairwise differences. (o_custkey breaks rev
    ties so ranks are engine-identical.)"""
    from pyspark.sql import Window
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    wi = Window.orderBy("rev", "o_custkey")
    wall = Window.partitionBy()
    ranked = per_cust.select(
        "rev",
        F.row_number().over(wi).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("rev").over(wall).alias("total"))
    return ranked.agg(
        F.round(2.0 * F.sum(F.col("i") * F.col("rev"))
                / (F.max("n") * F.max("total"))
                - (F.max("n") + 1.0) / F.max("n"), 4).alias("gini"),
        F.max("n").alias("n_customers"),
        F.round(F.max("total"), 2).alias("total_revenue"))


@query("stream_dedup_event_pairs", """
SELECT event_type, count(*) AS n_distinct_users
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY event_type
""")
def stream_dedup_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication (the cross-batch digest-dedup stage of
    an ingest pipeline): dropDuplicates on (user_id, event_type) runs
    under Structured Streaming with keyed state, lands in a memory
    sink, and the distinct-pair counts hash-match the batch DISTINCT
    oracle. (The bounded-state variant is
    dropDuplicatesWithinWatermark — pinned in
    test_streaming.py::test_streaming_dedup_within_watermark.)"""
    import uuid as _uuid
    from .streaming import memory_sink, state_sized_partitions
    src = _events_stream(spark, sf_dir).select("user_id", "event_type")
    deduped = src.dropDuplicates(["user_id", "event_type"])
    name = "dedup_st_" + _uuid.uuid4().hex[:10]
    with state_sized_partitions(spark, 8):
        Source(deduped).to(memory_sink(name, output_mode="append"))
    return (spark.table(name).groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_distinct_users")))


@query("cross_source_vocab_overlap", """
WITH st AS (
  SELECT DISTINCT source, unnest(list_filter(string_split(lower(text), ' '),
                                 x -> x <> '')) AS tok
  FROM documents
), cnt AS (
  SELECT source, count(*) AS c FROM st GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS i
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b,
       round(i.i * 1.0 / (ca.c + cb.c - i.i), 4) AS vocab_jaccard
FROM inter i
JOIN cnt ca ON ca.source = i.source_a
JOIN cnt cb ON cb.source = i.source_b
""")
def cross_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus-similarity matrix: Jaccard overlap of the
    distinct token vocabularies of every source pair — the
    provenance/mixture diagnostic run before weighting sources in a
    training mix (high overlap => redundant sources). All joins run at
    vocabulary grain (distinct (source, token)), never document grain;
    the per-source vocab sizes broadcast back onto the tiny pair
    matrix."""
    d = _t(spark, sf_dir, "documents")
    st = d.select(
        "source",
        F.explode(F.array_distinct(
            F.filter(F.split(F.lower("text"), " "),
                     lambda x: x != ""))).alias("tok")).distinct()
    cnt = st.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    a = st.select("tok", F.col("source").alias("source_a"))
    b = st.select(F.col("tok").alias("tb"), F.col("source").alias("source_b"))
    inter = (a.join(b, (F.col("tok") == F.col("tb"))
                    & (F.col("source_a") < F.col("source_b")))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).alias("i")))
    ca = cnt.select(F.col("source").alias("source_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("source").alias("source_b"), F.col("c").alias("cb"))
    return (inter.join(F.broadcast(ca), "source_a")
            .join(F.broadcast(cb), "source_b")
            .select("source_a", "source_b",
                    F.round(F.col("i") / (F.col("ca") + F.col("cb")
                                          - F.col("i")), 4)
                    .alias("vocab_jaccard")))


@query("interarrival_latency_profile", """
WITH g AS (
  SELECT event_type,
         epoch(ts) - epoch(lag(ts) OVER (PARTITION BY event_type
                                         ORDER BY ts, event_id)) AS gap_s
  FROM events
)
SELECT event_type,
       count(*)                            AS n_gaps,
       round(avg(gap_s), 2)                AS mean_gap_s,
       round(quantile_cont(gap_s, 0.5), 2) AS p50_gap_s,
       round(quantile_cont(gap_s, 0.95), 2) AS p95_gap_s
FROM g
WHERE gap_s IS NOT NULL
GROUP BY event_type
""")
def interarrival_latency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival latency profile per event type (p50/p95 gap
    seconds) — the ingestion-health metric that sizes micro-batch
    triggers and detects upstream stalls. One shuffle on event_type
    for the lag pass; exact percentiles run per-type on gap scalars
    ((ts, event_id) ordering keeps gaps engine-identical)."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    # microsecond-exact epoch (cast-to-long would truncate sub-second
    # precision and drift from DuckDB's epoch())
    epoch = F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000.0
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (epoch - F.lag(epoch).over(w)).alias("gap_s")).where(
        F.col("gap_s").isNotNull())
    return (g.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_gaps"),
                 F.round(F.avg("gap_s"), 2).alias("mean_gap_s"),
                 F.round(F.expr("percentile(gap_s, 0.5)"), 2).alias("p50_gap_s"),
                 F.round(F.expr("percentile(gap_s, 0.95)"), 2).alias("p95_gap_s")))


@query("char_entropy_by_source", """
SELECT source,
       round(entropy(ch), 4) AS char_entropy,
       count(*)              AS n_chars
FROM (
  SELECT source, unnest(string_split(text, '')) AS ch
  FROM documents
)
GROUP BY source
""")
def char_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per source — the information-
    theoretic quality proxy (gibberish and boilerplate both shift
    entropy away from natural-language range; compression-ratio
    filters approximate the same signal). Spark computes it from the
    (source, char) count table: two hash aggs whose output is bounded
    by alphabet x sources, never text volume; the -sum(p log2 p) fold
    runs on that tiny table."""
    d = _t(spark, sf_dir, "documents")
    chars = d.select("source", F.explode(F.split("text", "")).alias("ch"))
    cnt = chars.groupBy("source", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    p = F.col("c") / F.col("t")
    return (cnt.join(F.broadcast(tot), "source")
            .groupBy("source")
            .agg(F.round(-F.sum(p * F.log2(p)), 4).alias("char_entropy"),
                 F.sum("c").alias("n_chars")))


@query("weighted_median_price", """
WITH o AS (
  SELECT l_returnflag, l_extendedprice AS v, l_quantity AS w,
         sum(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice, l_orderkey, l_linenumber
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
  FROM lineitem
)
SELECT l_returnflag,
       round(min(v), 2)  AS weighted_median,
       round(max(tw), 1) AS total_weight
FROM o
WHERE cw >= 0.5 * tw
GROUP BY l_returnflag
""")
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per flag — the weighted order
    statistic plain quantile_cont can't express (each row counts with
    its weight). One hash shuffle on the flag; the cumulative-weight
    walk is a per-group frame, and the first row crossing half the
    total weight is the answer ((orderkey, linenumber) pins ties)."""
    from pyspark.sql import Window
    li = _t(spark, sf_dir, "lineitem")
    wo = (Window.partitionBy("l_returnflag")
          .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy("l_returnflag")
    o = li.select(
        "l_returnflag", F.col("l_extendedprice").alias("v"),
        F.sum("l_quantity").over(wo).alias("cw"),
        F.sum("l_quantity").over(wt).alias("tw"))
    return (o.where(F.col("cw") >= 0.5 * F.col("tw"))
            .groupBy("l_returnflag")
            .agg(F.round(F.min("v"), 2).alias("weighted_median"),
                 F.round(F.max("tw"), 1).alias("total_weight")))


@query("longest_activity_streak", """
WITH days AS (
  SELECT DISTINCT user_id, ts::DATE AS d FROM events
), grp AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS anchor
  FROM days
), streaks AS (
  SELECT user_id, count(*) AS len FROM grp GROUP BY user_id, anchor
)
SELECT user_id, max(len) AS longest_streak_days
FROM streaks
GROUP BY user_id
""")
def longest_activity_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (retention/
    habit analytics): the date-minus-row_number trick — consecutive
    days share an anchor, so streaks become plain groups. Everything
    after the DISTINCT day reduction runs at (user, day) grain; one
    hash shuffle on user_id serves the numbering and both aggregates."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "anchor", F.date_sub("d", F.row_number().over(w)))
    streaks = (grp.groupBy("user_id", "anchor")
               .agg(F.count(F.lit(1)).alias("len")))
    return (streaks.groupBy("user_id")
            .agg(F.max("len").alias("longest_streak_days")))


@query("pagination_orders_page3", """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20 OFFSET 40
""")
def pagination_orders_page3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-stable pagination (page 3 of a price-ranked listing):
    ORDER BY + LIMIT/OFFSET. Catalyst still plans a top-(offset+limit)
    per partition + driver merge of 60 rows — no full sort
    materializes; at deep offsets you'd switch to keyset pagination
    (WHERE (price, key) < last-seen), same ordering contract. The
    o_orderkey tie-break makes pages engine-deterministic."""
    o = _t(spark, sf_dir, "orders")
    return (o.select("o_orderkey", "o_custkey",
                     F.round("o_totalprice", 2).alias("o_totalprice"))
            .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
            .offset(40).limit(20))


@query("log_domain_means_by_lang", """
SELECT lang,
       round(exp(avg(ln(n_chars))), 2)        AS geomean_chars,
       round(count(*) / sum(1.0 / n_chars), 2) AS harmonic_chars,
       round(avg(n_chars), 2)                  AS arith_chars
FROM documents
WHERE n_chars > 0
GROUP BY lang
""")
def log_domain_means_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-domain aggregates: geometric mean (exp∘avg∘ln — the
    perplexity aggregation pattern: averaging log-losses then
    exponentiating IS a geometric mean) and harmonic mean alongside
    the arithmetic one. All algebraic with map-side partials; the
    log/reciprocal transforms are row projections, so the shuffle
    carries only per-group moments."""
    d = _t(spark, sf_dir, "documents").where("n_chars > 0")
    return (d.groupBy("lang")
            .agg(F.round(F.exp(F.avg(F.log("n_chars"))), 2)
                 .alias("geomean_chars"),
                 F.round(F.count(F.lit(1))
                         / F.sum(1.0 / F.col("n_chars")), 2)
                 .alias("harmonic_chars"),
                 F.round(F.avg("n_chars"), 2).alias("arith_chars")))


@query("null_semantics_groupby", """
WITH t AS (
  SELECT CASE WHEN value < 5 THEN NULL ELSE event_type END AS k, value
  FROM events
)
SELECT coalesce(k, '<null>') AS k,
       count(*)              AS n_rows,
       count(k)              AS n_nonnull_keys,
       round(sum(value), 2)  AS sum_value
FROM t
GROUP BY k
""")
def null_semantics_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics parity pin: NULL keys form ONE group under
    GROUP BY (SQL three-valued logic would never equate them in a
    join), count(*) counts rows while count(col) skips NULLs, and the
    coalesce label makes the group printable. Engines disagree on
    null sorting/equality more than anything else — this pins the
    grouping contract against the oracle."""
    ev = _t(spark, sf_dir, "events")
    k = F.when(F.col("value") < 5, None).otherwise(F.col("event_type"))
    t = ev.select(k.alias("k"), "value")
    return (t.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.count("k").alias("n_nonnull_keys"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.coalesce("k", F.lit("<null>")).alias("k"),
                    "n_rows", "n_nonnull_keys", "sum_value"))


@query("multi_distinct_aggregates", """
SELECT event_type,
       count(DISTINCT user_id)  AS users,
       count(DISTINCT ts::DATE) AS active_days,
       count(*)                 AS n_events,
       round(sum(value), 2)     AS sum_value
FROM events
GROUP BY event_type
""")
def multi_distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT(DISTINCT ...) over different columns in ONE
    aggregation — the planner stressor Catalyst handles with a single
    Expand (one row per distinct-column group) + two-level agg, not one
    scan per distinct. The non-distinct sums ride the same pass."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("users"),
                 F.countDistinct(F.col("ts").cast("date")).alias("active_days"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


@query("ordered_string_agg_users", """
SELECT user_id,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
       count(DISTINCT event_type) AS n_types
FROM events
GROUP BY user_id
""")
def ordered_string_agg_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG): the denormalized label
    list feature stores export. Spark's idiom is collect_set ->
    sort_array -> concat_ws — explicit sort makes the concatenation
    deterministic across partitionings (bare collect order is not),
    which is exactly what the ORDER BY in the oracle's string_agg
    pins."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.concat_ws(",", F.sort_array(F.collect_set("event_type")))
                 .alias("event_types"),
                 F.countDistinct("event_type").alias("n_types")))


@query("event_pair_lift", """
WITH ue AS (
  SELECT DISTINCT user_id, event_type FROM events
), tot AS (
  SELECT count(DISTINCT user_id) AS n FROM events
), s AS (
  SELECT event_type, count(*) AS c FROM ue GROUP BY event_type
), pair AS (
  SELECT a.event_type AS ea, b.event_type AS eb, count(*) AS cab
  FROM ue a JOIN ue b ON a.user_id = b.user_id
                     AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.ea, p.eb, p.cab AS co_users,
       round(p.cab * 1.0 * t.n / (sa.c * sb.c), 4) AS lift
FROM pair p
JOIN s sa ON sa.event_type = p.ea
JOIN s sb ON sb.event_type = p.eb
CROSS JOIN tot t
""")
def event_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift between event-type pairs (P(A∩B) /
    P(A)P(B) over users) — the co-engagement metric recommender
    pipelines mine. The user×type distinct reduction happens once;
    the pair join is keyed on user_id (fan-out bounded by types per
    user), and the tiny per-type supports broadcast onto the pair
    matrix."""
    ev = _t(spark, sf_dir, "events")
    ue = ev.select("user_id", "event_type").distinct()
    n = ue.select("user_id").distinct().count()
    s = ue.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = ue.select("user_id", F.col("event_type").alias("ea"))
    b = ue.select(F.col("user_id").alias("ub"),
                  F.col("event_type").alias("eb"))
    pair = (a.join(b, (F.col("user_id") == F.col("ub"))
                   & (F.col("ea") < F.col("eb")))
            .groupBy("ea", "eb").agg(F.count(F.lit(1)).alias("cab")))
    sa = s.select(F.col("event_type").alias("ea"), F.col("c").alias("ca"))
    sb = s.select(F.col("event_type").alias("eb"), F.col("c").alias("cb"))
    return (pair.join(F.broadcast(sa), "ea").join(F.broadcast(sb), "eb")
            .select("ea", "eb", F.col("cab").alias("co_users"),
                    F.round(F.col("cab") * float(n)
                            / (F.col("ca") * F.col("cb")), 4).alias("lift")))


@query("mom_revenue_growth", bound="month-grid", sql="""
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS mo,
         round(sum(o_totalprice), 2) AS rev
  FROM orders GROUP BY 1
)
SELECT mo, rev,
       round((rev - lag(rev) OVER (ORDER BY mo))
             / lag(rev) OVER (ORDER BY mo) * 100, 2) AS pct_change
FROM m
""")
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth rate — the BI staple. Fact volume
    collapses to month grain first; the lag comparison then runs on a
    months-count series, so the ordered window is volume-independent
    (the same reduce-then-window shape as the rolling-correlation
    query)."""
    from pyspark.sql import Window
    o = _t(spark, sf_dir, "orders")
    m = (o.groupBy(F.date_trunc("month", "o_orderdate").alias("mo"))
         .agg(F.round(F.sum("o_totalprice"), 2).alias("rev")))
    w = Window.orderBy("mo")
    prev = F.lag("rev").over(w)
    return m.select("mo", "rev",
                    F.round((F.col("rev") - prev) / prev * 100, 2)
                    .alias("pct_change"))


@query("weekly_churn_rate", """
WITH wu AS (
  SELECT DISTINCT date_trunc('week', ts) AS wk, user_id FROM events
)
SELECT a.wk,
       count(*)                                        AS active_users,
       count(*) FILTER (WHERE b.user_id IS NULL)       AS churned_next_week,
       round(count(*) FILTER (WHERE b.user_id IS NULL)
             * 1.0 / count(*), 4)                      AS churn_rate
FROM wu a
LEFT JOIN wu b ON b.user_id = a.user_id
              AND b.wk = a.wk + INTERVAL '7 days'
GROUP BY a.wk
""")
def weekly_churn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week churn: active users this week with NO activity
    next week. The (week, user) DISTINCT reduction happens once and
    self-joins on (user, next-week) — both sides share the user_id
    shuffle; everything downstream is week-grain. The left-anti
    pattern is expressed as LEFT JOIN + NULL test so the churned and
    active counts ride one aggregation."""
    ev = _t(spark, sf_dir, "events")
    wu = ev.select(F.date_trunc("week", "ts").alias("wk"),
                   "user_id").distinct()
    b = wu.select(F.col("user_id").alias("ub"),
                  F.col("wk").alias("wkb"))
    j = wu.join(b, (F.col("user_id") == F.col("ub"))
                & (F.col("wkb") == F.col("wk") + F.expr("INTERVAL 7 DAYS")),
                "left")
    churned = F.count(F.when(F.col("ub").isNull(), 1))
    return (j.groupBy("wk")
            .agg(F.count(F.lit(1)).alias("active_users"),
                 churned.alias("churned_next_week"),
                 F.round(churned / F.count(F.lit(1)), 4).alias("churn_rate")))


@query("new_vs_returning_orders", """
WITH firsts AS (
  SELECT o_custkey, min(o_orderdate) AS first_dt FROM orders GROUP BY o_custkey
)
SELECT date_trunc('month', o.o_orderdate) AS mo,
       count(*) FILTER (WHERE o.o_orderdate = f.first_dt)  AS first_orders,
       count(*) FILTER (WHERE o.o_orderdate <> f.first_dt) AS repeat_orders,
       round(sum(o.o_totalprice) FILTER (WHERE o.o_orderdate <> f.first_dt),
             2) AS repeat_revenue
FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
GROUP BY 1
""")
def new_vs_returning_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning decomposition per month — the acquisition/
    retention revenue split. The customer first-order date is a
    customer-grain aggregate broadcast back onto the fact; the
    classification is a row predicate, so the monthly rollup stays one
    fact-sized pass + one shuffle."""
    o = _t(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    j = o.join(F.broadcast(firsts), "o_custkey")
    is_first = F.col("o_orderdate") == F.col("first_dt")
    return (j.groupBy(F.date_trunc("month", "o_orderdate").alias("mo"))
            .agg(F.count(F.when(is_first, 1)).alias("first_orders"),
                 F.count(F.when(~is_first, 1)).alias("repeat_orders"),
                 F.round(F.sum(F.when(~is_first, F.col("o_totalprice"))), 2)
                 .alias("repeat_revenue")))


@query("pivot_multi_agg_metrics", """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')                 AS click_cnt,
       round(sum(value) FILTER (WHERE event_type = 'click'), 2)     AS click_sum,
       count(*) FILTER (WHERE event_type = 'purchase')              AS purchase_cnt,
       round(sum(value) FILTER (WHERE event_type = 'purchase'), 2)  AS purchase_sum
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY user_id
""")
def pivot_multi_agg_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate pivot: one pivot pass producing BOTH a count and
    a sum column per pivoted value (Spark names them <value>_<alias>,
    which the oracle's FILTER columns mirror). Explicit pivot values
    skip the distinct pre-scan, and the whole reshape is one hash agg
    — no per-metric rescans."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase"))
    out = (ev.groupBy("user_id")
           .pivot("event_type", ["click", "purchase"])
           .agg(F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum("value"), 2).alias("sum")))
    return out.select(
        "user_id",
        F.col("click_cnt"), F.col("click_sum"),
        F.col("purchase_cnt"), F.col("purchase_sum"))


@query("conversion_latency_stats", """
WITH v AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), p AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT count(*) AS converted_users,
       round(avg(epoch(p.t) - epoch(v.t)) / 3600, 2)  AS mean_hours,
       round(quantile_cont(epoch(p.t) - epoch(v.t), 0.5) / 3600, 2)
           AS p50_hours
FROM v JOIN p ON p.user_id = v.user_id
WHERE p.t >= v.t
""")
def conversion_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: time from a user's first view to first
    purchase (mean + exact median hours) — the funnel-TIMING readout
    complementing the step-count funnel. Two first-touch aggregates
    co-partitioned on user_id join without rescanning the log; the
    latency math is µs-exact epochs."""
    ev = _t(spark, sf_dir, "events")
    epoch = F.unix_micros(F.col("t").cast("timestamp")) / 1_000_000.0
    v = (ev.where("event_type = 'view'").groupBy("user_id")
         .agg(F.min("ts").alias("t")))
    p = (ev.where("event_type = 'purchase'").groupBy("user_id")
         .agg(F.min("ts").alias("t")))
    j = (v.select("user_id", F.col("t").alias("vt"))
         .join(p.select(F.col("user_id").alias("up"), F.col("t").alias("pt")),
               F.col("user_id") == F.col("up"))
         .where(F.col("pt") >= F.col("vt")))
    lat = (F.unix_micros(F.col("pt").cast("timestamp"))
           - F.unix_micros(F.col("vt").cast("timestamp"))) / 1_000_000.0
    g = j.select(lat.alias("lat_s"))
    return g.agg(
        F.count(F.lit(1)).alias("converted_users"),
        F.round(F.avg("lat_s") / 3600, 2).alias("mean_hours"),
        F.round(F.expr("percentile(lat_s, 0.5)") / 3600, 2).alias("p50_hours"))


@query("ltv_decile_profile", bound="user-grain", sql="""
WITH u AS (
  SELECT user_id, round(sum(value), 2) AS ltv FROM events GROUP BY user_id
)
SELECT decile, count(*) AS users,
       round(sum(ltv), 2) AS total_ltv,
       round(min(ltv), 2) AS lo, round(max(ltv), 2) AS hi
FROM (
  SELECT ntile(10) OVER (ORDER BY ltv, user_id) AS decile, ltv FROM u
)
GROUP BY decile
""")
def ltv_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value decile profile: users ntiled into 10 equal-count
    LTV bands with per-band revenue share — the concentration readout
    marketing ops use (whale analysis). The ntile sorts only the
    user-grain aggregate (rounded so the sort key is engine-identical;
    user_id tie-break), never the event log."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.round(F.sum("value"), 2).alias("ltv"))
    w = Window.orderBy("ltv", "user_id")
    d = u.select(F.ntile(10).over(w).alias("decile"), "ltv")
    return (d.groupBy("decile")
            .agg(F.count(F.lit(1)).alias("users"),
                 F.round(F.sum("ltv"), 2).alias("total_ltv"),
                 F.round(F.min("ltv"), 2).alias("lo"),
                 F.round(F.max("ltv"), 2).alias("hi")))


@query("modal_event_type_per_user", """
SELECT user_id, event_type AS modal_type, cnt FROM (
  SELECT user_id, event_type, count(*) AS cnt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY count(*) DESC, event_type) AS rk
  FROM events
  GROUP BY user_id, event_type
)
WHERE rk = 1
""")
def modal_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group, deterministically: most frequent
    event type per user with an explicit (count desc, type asc)
    tie-break — built-in mode() functions break ties arbitrarily and
    can't hash-match across engines. Rank runs on the (user, type)
    aggregate, sharing the user_id shuffle."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    cnt = (ev.groupBy("user_id", "event_type")
           .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), "event_type")
    return (cnt.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("user_id", F.col("event_type").alias("modal_type"), "cnt"))


@query("seasonality_dow_hour", """
SELECT isodow(ts)          AS dow,
       extract(hour FROM ts) AS hod,
       count(*)            AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""")
def seasonality_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day seasonality matrix (the traffic
    heatmap behind anomaly baselines and capacity planning): one
    map-side-partial hash agg into a fixed 7x24 output regardless of
    event volume. ISO day numbering (Mon=1) is computed as
    weekday()+1 so both engines agree on the row labels."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy((F.weekday("ts") + 1).alias("dow"),
                       F.hour("ts").alias("hod"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


@query("boolean_aggregates_sampler", """
SELECT event_type,
       bool_and(value >= 0)                   AS all_nonneg,
       bool_or(value > 99)                    AS any_over_99,
       count(*) FILTER (WHERE value > 50)     AS n_over_50,
       count(*)                               AS n
FROM events
GROUP BY event_type
""")
def boolean_aggregates_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate surface (bool_and/bool_or + conditional
    counts): invariant checks expressed as aggregates — 'every value
    nonnegative', 'any outlier present' — one hash agg with partials,
    the assertion form data-quality monitors compile to."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
                 F.bool_or(F.col("value") > 99).alias("any_over_99"),
                 F.count(F.when(F.col("value") > 50, 1)).alias("n_over_50"),
                 F.count(F.lit(1)).alias("n")))


@query("union_by_name_evolution", """
SELECT event_type,
       count(*)             AS n,
       count(extra)         AS n_with_extra,
       round(sum(coalesce(extra, 0)), 2) AS extra_sum
FROM (
  SELECT event_type, value AS extra FROM events WHERE value > 50
  UNION ALL BY NAME
  SELECT event_type FROM events WHERE value <= 50
)
GROUP BY event_type
""")
def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two generations of a feed with
    different columns combine by NAME with NULL backfill for the
    missing one (unionByName allowMissingColumns — the batch analogue
    of mergeSchema reads). Count/count(col) over the union pins the
    backfill contract; both branches stay filters over one scan."""
    ev = _t(spark, sf_dir, "events")
    new_gen = ev.where("value > 50").select(
        "event_type", F.col("value").alias("extra"))
    old_gen = ev.where("value <= 50").select("event_type")
    u = new_gen.unionByName(old_gen, allowMissingColumns=True)
    return (u.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count("extra").alias("n_with_extra"),
                 F.round(F.sum(F.coalesce("extra", F.lit(0.0))), 2)
                 .alias("extra_sum")))


@query("mean_ci_by_type", """
SELECT event_type,
       count(*)             AS n,
       round(avg(value), 4) AS mean_value,
       round(avg(value) - 1.96 * stddev_samp(value) / sqrt(count(*)), 4)
           AS ci_lo,
       round(avg(value) + 1.96 * stddev_samp(value) / sqrt(count(*)), 4)
           AS ci_hi
FROM events
GROUP BY event_type
""")
def mean_ci_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% confidence interval of the mean per cohort (normal
    approximation) — the error-bar readout dashboards attach to every
    mean. Pure algebraic moments: one hash agg with map-side partials,
    the CI arithmetic runs on group-grain rows."""
    ev = _t(spark, sf_dir, "events")
    se = F.stddev_samp("value") / F.sqrt(F.count(F.lit(1)))
    m = F.avg("value")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(m, 4).alias("mean_value"),
                 F.round(m - 1.96 * se, 4).alias("ci_lo"),
                 F.round(m + 1.96 * se, 4).alias("ci_hi")))


@query("cumulative_user_growth", bound="user-grain", sql="""
WITH firsts AS (
  SELECT user_id, min(ts::DATE) AS d FROM events GROUP BY user_id
), daily AS (
  SELECT d, count(*) AS new_users FROM firsts GROUP BY d
)
SELECT d, new_users,
       sum(new_users) OVER (ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_users
FROM daily
""")
def cumulative_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users over time WITHOUT a windowed
    DISTINCT: each user reduces to a first-seen date, daily new-user
    counts aggregate, and a running sum over the day series gives the
    growth curve — running work is day-grain, never user x day. The
    standard rewrite that makes 'cumulative uniques' tractable at any
    scale."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    firsts = (ev.groupBy("user_id")
              .agg(F.min(F.col("ts").cast("date")).alias("d")))
    daily = firsts.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = (Window.orderBy("d")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return daily.select("d", "new_users",
                        F.sum("new_users").over(w).alias("cum_users"))


@query("join_fanout_profile", """
SELECT o.o_orderpriority,
       count(*)                AS n_orders,
       round(avg(lc.lines), 2) AS avg_lines,
       max(lc.lines)           AS max_lines
FROM orders o
JOIN (SELECT l_orderkey, count(*) AS lines FROM lineitem GROUP BY l_orderkey) lc
  ON lc.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""")
def join_fanout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-fanout profile: lines-per-order distribution by priority —
    the cardinality statistic that predicts fact-fact join blowup
    (planners estimate it; this measures it). The fact pre-aggregates
    to order grain BEFORE joining, so the join moves one row per
    order, not per line."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lc = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("lines"))
    return (o.join(lc, o.o_orderkey == lc.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.avg("lines"), 2).alias("avg_lines"),
                 F.max("lines").alias("max_lines")))


@query("key_uniqueness_profile", """
SELECT count(*)                                     AS n_rows,
       count(DISTINCT (l_orderkey, l_linenumber))   AS n_distinct_keys,
       count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS n_dup_rows,
       count(DISTINCT l_orderkey)                   AS n_orders
FROM lineitem
""")
def key_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key uniqueness profile: is (orderkey, linenumber) a
    primary key? Composite-distinct counts vs row count in ONE
    aggregation pass — the key-discovery/constraint-validation check
    a warehouse runs before declaring uniqueness (Deequ isUnique on a
    composite)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey", "l_linenumber").alias("n_distinct_keys"),
        (F.count(F.lit(1))
         - F.countDistinct("l_orderkey", "l_linenumber")).alias("n_dup_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"))


# ---------------------------------------------------------------------------
# Round 3: corpus-as-its-own-LM quality filtering + training-window prep
# ---------------------------------------------------------------------------

@query("bigram_lm_doc_scores", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
),
bg AS (
  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
  FROM toks, UNNEST(generate_series(1, len(arr)-1)) AS t(i)
  WHERE len(arr) >= 2
),
model AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
first AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY w1),
vocab AS (
  SELECT count(DISTINCT w) AS v
  FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg)
)
SELECT bg.doc_id,
       count(*)                                               AS n_bigrams,
       round(avg(-ln((c12 + 1.0) / (c1 + v))), 6)             AS avg_nll,
       round(exp(avg(-ln((c12 + 1.0) / (c1 + v)))), 4)        AS ppl
FROM bg JOIN model USING (w1, w2) JOIN first USING (w1) CROSS JOIN vocab
GROUP BY bg.doc_id
""")
def bigram_lm_doc_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter with the corpus as its own bigram
    model (add-1 smoothing): per-document average negative
    log-likelihood and perplexity. See
    functions.text.bigram_lm_doc_scores for the 100 TB plan shape (one
    data shuffle through the model join; model is vocab²-bounded)."""
    return T.bigram_lm_doc_scores(_t(spark, sf_dir, "documents"))


@query("ccnet_ppl_buckets", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
),
bg AS (
  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
  FROM toks, UNNEST(generate_series(1, len(arr)-1)) AS t(i)
  WHERE len(arr) >= 2
),
model AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
first AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY w1),
vocab AS (
  SELECT count(DISTINCT w) AS v
  FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg)
),
scored AS (
  SELECT bg.doc_id,
         round(exp(avg(-ln((c12 + 1.0) / (c1 + v)))), 4) AS ppl
  FROM bg JOIN model USING (w1, w2) JOIN first USING (w1) CROSS JOIN vocab
  GROUP BY bg.doc_id
)
SELECT s.doc_id, d.lang, s.ppl,
       CASE ntile(3) OVER (PARTITION BY d.lang ORDER BY s.ppl, s.doc_id)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM scored s JOIN documents d USING (doc_id)
""")
def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus partitioning (Wenzek et al.
    2020): per-LANGUAGE perplexity terciles under the LM quality score
    — the bucketing step CCNet applies after KenLM scoring, so that
    'well-written' (head) data can be up-sampled and tail data dropped
    or down-sampled per language rather than globally (a global cut
    would silently delete low-resource languages whose ppl runs high).
    Composes functions.text.bigram_lm_doc_scores (corpus-as-model,
    add-1 smoothing; swap-in point for a KenLM join at production) with
    one lang-partitioned ntile pass, ties broken by doc_id so bucket
    edges are deterministic.

    Scale: the LM scoring is one data shuffle through a vocab²-bounded
    model join; the tercile window shuffles doc-GRAIN score rows by
    lang (never token volume). At 1e9+ docs per language the exact
    ntile's per-lang sort dominates — use ``ccnet_ppl_buckets_sampled``
    (thresholds from a deterministic hash sample, broadcast back; CCNet
    itself computes thresholds on a sample), which is code, not a
    docstring promise."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window
    scored = T.bigram_lm_doc_scores(docs).select("doc_id", "ppl")
    w = Window.partitionBy("lang").orderBy("ppl", "doc_id")
    return (scored.join(docs.select("doc_id", "lang"), "doc_id")
            .withColumn("__n", F.ntile(3).over(w))
            .select("doc_id", "lang", "ppl",
                    F.when(F.col("__n") == 1, "head")
                    .when(F.col("__n") == 2, "middle")
                    .otherwise("tail").alias("bucket")))


@query("ccnet_ppl_buckets_sampled", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
),
bg AS (
  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
  FROM toks, UNNEST(generate_series(1, len(arr)-1)) AS t(i)
  WHERE len(arr) >= 2
),
model AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
first AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY w1),
vocab AS (
  SELECT count(DISTINCT w) AS v
  FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg)
),
scored AS (
  SELECT bg.doc_id, d.lang,
         round(exp(avg(-ln((c12 + 1.0) / (c1 + v)))), 4) AS ppl
  FROM bg JOIN model USING (w1, w2) JOIN first USING (w1) CROSS JOIN vocab
  JOIN documents d USING (doc_id)
  GROUP BY bg.doc_id, d.lang
),
nt AS (
  SELECT doc_id, lang, ppl,
         ntile(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS n
  FROM scored
  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 3 = 0
),
thr AS (
  SELECT lang,
         max(CASE WHEN n = 1 THEN ppl END)  AS t1p,
         max(CASE WHEN n <= 2 THEN ppl END) AS t2p
  FROM nt GROUP BY lang
),
t1 AS (SELECT nt.lang, max(doc_id) AS t1d
       FROM nt JOIN thr USING (lang) WHERE n = 1 AND ppl = t1p
       GROUP BY nt.lang),
t2 AS (SELECT nt.lang, max(doc_id) AS t2d
       FROM nt JOIN thr USING (lang) WHERE n <= 2 AND ppl = t2p
       GROUP BY nt.lang)
SELECT s.doc_id, s.lang, s.ppl,
       CASE WHEN s.ppl < t1p OR (s.ppl = t1p AND s.doc_id <= t1d)
              THEN 'head'
            WHEN s.ppl < t2p OR (s.ppl = t2p AND s.doc_id <= t2d)
              THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s
LEFT JOIN thr USING (lang) LEFT JOIN t1 USING (lang) LEFT JOIN t2 USING (lang)
""")
def ccnet_ppl_buckets_sampled(spark: SparkSession, sf_dir: str,
                              sample_mod: int = 3) -> DataFrame:
    """CCNet bucketing the way CCNet ACTUALLY runs it at corpus scale
    (Wenzek et al. 2020 compute head/middle/tail thresholds on a
    sample): per-language tercile THRESHOLDS come from the
    deterministic md5 hash sample (doc_id bucket % ``sample_mod`` = 0 —
    the repo's cross-engine sampling convention, oracle-replayable),
    then every document is assigned by comparing its (ppl, doc_id)
    against the broadcast threshold tuples. The per-lang sort that
    dominates the exact ntile at 1e9+ docs now runs over sample-sized
    rows only; assignment is one broadcast join + a CASE — no
    corpus-sized window anywhere.

    Determinism: thresholds are (max ppl, then max doc_id at that ppl)
    of sample-terciles 1 and 2 — exact values both engines reproduce;
    ties at the threshold split by doc_id. Languages with no sampled
    docs get NULL thresholds -> every doc lands in 'tail' (the honest
    degenerate answer; raise sample coverage, not the code path)."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window
    scored = (T.bigram_lm_doc_scores(docs).select("doc_id", "ppl")
              .join(docs.select("doc_id", "lang"), "doc_id"))
    scored = track_persist(scored)   # two consumers: sample + assignment
    hbucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                  1, 15), 16, 10)
               .cast("long") % sample_mod)
    w = Window.partitionBy("lang").orderBy("ppl", "doc_id")
    nt = (scored.where(hbucket == 0)
          .withColumn("__n", F.ntile(3).over(w)))
    thr = (nt.groupBy("lang")
           .agg(F.max(F.when(F.col("__n") == 1, F.col("ppl"))).alias("t1p"),
                F.max(F.when(F.col("__n") <= 2, F.col("ppl"))).alias("t2p")))
    t1 = (nt.join(thr, "lang")
          .where((F.col("__n") == 1) & (F.col("ppl") == F.col("t1p")))
          .groupBy("lang").agg(F.max("doc_id").alias("t1d")))
    t2 = (nt.join(thr, "lang")
          .where((F.col("__n") <= 2) & (F.col("ppl") == F.col("t2p")))
          .groupBy("lang").agg(F.max("doc_id").alias("t2d")))
    th = thr.join(t1, "lang", "left").join(t2, "lang", "left")
    head = ((F.col("ppl") < F.col("t1p"))
            | ((F.col("ppl") == F.col("t1p"))
               & (F.col("doc_id") <= F.col("t1d"))))
    middle = ((F.col("ppl") < F.col("t2p"))
              | ((F.col("ppl") == F.col("t2p"))
                 & (F.col("doc_id") <= F.col("t2d"))))
    return (scored.join(F.broadcast(th), "lang", "left")
            .select("doc_id", "lang", "ppl",
                    F.when(head, "head").when(middle, "middle")
                    .otherwise("tail").alias("bucket")))


@query("token_window_chunks", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
)
SELECT doc_id,
       CAST((i - 1) / 24 AS INT)                  AS chunk_idx,
       array_to_string(arr[i : i + 31], ' ')      AS chunk_text,
       CAST(len(arr[i : i + 31]) AS BIGINT)       AS n_tokens
FROM toks, UNNEST(generate_series(1, len(arr), 24)) AS t(i)
WHERE len(arr) >= 1
""")
def token_window_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window chunking: size-32 token windows at stride 24
    (8-token overlap), one row per window, partial tail kept. Per-row
    array fan-out inside codegen — no shuffle (the flatMap shape)."""
    return T.token_window_chunks(_t(spark, sf_dir, "documents"),
                                 size=32, stride=24)


@query("semdedup_prune",
       S.semdedup_exact_oracle_sql(dim=64, k=8, iterations=2,
                                   threshold_micro=400_000))
def semdedup_prune_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540) keep/drop verdicts over the
    embeddings table, TRAINING INCLUDED, hash-checked against a
    generated chained-CTE oracle: integer k-means codebook
    (``train_codebook_exact`` — cosine is scale-invariant, so spherical
    Lloyd's reduces to exact int64 cluster sums + truncated division;
    2 unrolled iterations in the SQL) -> one exact assignment pass ->
    per-cluster quantized-cosine pair scan (micro threshold 400000 =
    0.4) -> drop any vector similar to a lower-id cluster-mate. Its
    NumPy parity (integer Lloyd's included) is pinned by
    tests/test_functions.py::test_semdedup_matches_numpy_reference."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.semdedup_prune_exact(emb, threshold_micro=400_000,
                                  nlist=8, iterations=2)


@query("bpe_train_merge_table",
       T.bpe_pipeline_oracle_sql(rounds=8, emit="merges"))
def bpe_train_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training over the documents corpus: 8
    merge rounds (most frequent adjacent pair, greedy left-to-right
    rewrite), trained on the driver from one collect of the corpus
    (word, freq) table. Hash-checked against the generated
    unrolled-training oracle
    (text.bpe_pipeline_oracle_sql emit="merges" — sentinel-string
    replaces replay the greedy fold); independent Python-trainer parity
    additionally pinned by
    tests/test_functions.py::test_bpe_train_matches_python_reference."""
    return T.bpe_train_merges(_t(spark, sf_dir, "documents"), rounds=8)


def _kcenter_ctes(k: int) -> str:
    """Chained greedy k-center CTEs replaying S.kcenter_select round by
    round: n = micro-unit quantized base, c1..ck = selected rows,
    d1..d{k-1} = running min-dist frames with selected ids progressively
    excluded. Every distance is an exact int64 squared L2; every pick
    tie-breaks (stat DESC, id) exactly like the Spark side."""
    def dist(va: str, vb: str) -> str:
        return (f"list_sum(list_transform(list_zip({va}, {vb}), "
                f"p -> (p[1]-p[2])*(p[1]-p[2])))::BIGINT")

    parts = ["""n AS (
  SELECT vec_id AS id,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS v,
         list_sum(list_transform(embedding,
             x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT
                  * floor(x::DOUBLE * 1000000 + 0.5)::BIGINT))::BIGINT AS norm2
  FROM embeddings
)""",
             "c1 AS (SELECT id, v, norm2 AS md FROM n "
             "ORDER BY norm2 DESC, id LIMIT 1)"]
    for r in range(2, k + 1):
        d = f"d{r - 1}"
        if r == 2:
            parts.append(
                f"{d} AS (SELECT n.id, n.v, {dist('n.v', 'c1.v')} AS md\n"
                f"  FROM n CROSS JOIN c1 WHERE n.id <> c1.id)")
        else:
            p, c = f"d{r - 2}", f"c{r - 1}"
            parts.append(
                f"{d} AS (SELECT {p}.id, {p}.v, "
                f"least({p}.md, {dist(p + '.v', c + '.v')}) AS md\n"
                f"  FROM {p} CROSS JOIN {c} WHERE {p}.id <> {c}.id)")
        parts.append(f"c{r} AS (SELECT id, v, md FROM {d} "
                     f"ORDER BY md DESC, id LIMIT 1)")
    return ",\n".join(parts)


def _kcenter_select_sql(k: int = 8) -> str:
    sel = "\nUNION ALL ".join(
        f"SELECT {r}::INT AS sel_round, id AS vec_id, md AS dist_usq FROM c{r}"
        for r in range(1, k + 1))
    return (f"WITH {_kcenter_ctes(k)}\n"
            f"SELECT * FROM (\n{sel}\n) ORDER BY sel_round")


def _kcenter_assign_sql(k: int = 8) -> str:
    cent = "\nUNION ALL ".join(
        f"SELECT {r}::INT AS center_round, id AS center_id, v AS cv FROM c{r}"
        for r in range(1, k + 1))
    return f"""WITH {_kcenter_ctes(k)},
cent AS (
{cent}
), asg AS (
  SELECT id, center_round, center_id, d,
         row_number() OVER (PARTITION BY id ORDER BY d, center_round) AS rn
  FROM (SELECT n.id, cent.center_round, cent.center_id,
               list_sum(list_transform(list_zip(n.v, cent.cv),
                                       p -> (p[1]-p[2])*(p[1]-p[2])))::BIGINT AS d
        FROM n CROSS JOIN cent)
)
SELECT center_round, center_id,
       count(*) AS n_assigned, max(d) AS radius_usq
FROM asg WHERE rn = 1
GROUP BY center_round, center_id
ORDER BY center_round
"""


@query("kcenter_coreset_select", _kcenter_select_sql(8))
def kcenter_coreset_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; Sener &
    Savarese ICLR 2018): 8 maximally-spread representatives, each round
    picking the vector farthest (exact int64 squared L2) from the
    already-selected set — so round r's dist_usq IS the realized
    k-center coverage radius after r-1 centers. Complements
    semdedup_prune: SemDeDup removes redundancy, k-center SELECTS a
    budget-sized cover (data pruning / eval-set seeding).

    Scale shape: one persisted quantized scan; each of the k rounds is
    a fused least-of-distances projection (codegen, no UDF) ending in a
    TakeOrderedAndProject top-1 — k single-row collects total, centers
    are k x d driver metadata like a codebook. At corpus scale the
    greedy runs over cluster representatives or a deterministic sample
    (the composition real coreset pipelines ship)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.kcenter_coreset(emb, k=8)


@query("kcenter_cover_summary", _kcenter_assign_sql(8))
def kcenter_cover_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cover quality of the greedy k-center selection: every vector
    assigned to its nearest selected center (exact int64 squared L2,
    ties -> earliest-selected), rolled up to per-center population and
    radius — max(radius_usq) is the k-center objective the selection
    2-approximates. Assignment is ONE scan against the broadcast 8-row
    center table, then a k-group hash agg with map-side partials; no
    data-sized shuffle anywhere."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.kcenter_assignments(emb, k=8)


@query("ann_sign_lsh_multiprobe", """
WITH cfg AS (
  SELECT least(62, min(len(embedding)),
               greatest(8, length(bin((count(*) + 7) // 8 - 1))))::INT AS nbits
  FROM embeddings
), v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), bv AS (
  SELECT vec_id, v, nbits,
         list_sum(list_transform(range(0, nbits),
           i -> CASE WHEN v[i + 1] >= 0 THEN (1::BIGINT << i) ELSE 0 END)
         )::BIGINT AS bucket
  FROM v CROSS JOIN cfg
), probes AS (
  SELECT vec_id, v,
         unnest(list_prepend(bucket, list_transform(range(0, nbits),
                i -> xor(bucket, (1::BIGINT << i))))) AS bucket
  FROM bv
), pairs AS (
  SELECT a.vec_id AS id_a, b.bucket, b.vec_id AS id_b,
         round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS sim
  FROM probes a JOIN bv b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
)
SELECT id_a AS vec_id, bucket, id_b AS neighbor_id, sim, rank::INT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rank
      FROM pairs)
WHERE rank <= 3
""")
def ann_sign_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN: queries probe their own bucket plus
    every Hamming-1 neighbor (nbits+1 probes) — the standard recall
    knob that keeps the equi-join plan while bounding extra candidate
    volume to (nbits+1)x. Recall uplift over single-probe is pinned by
    tests/test_functions.py::test_sign_lsh_multiprobe_recall.
    nbits='auto' holds bucket occupancy constant as the corpus grows
    (fixed nbits measured at exponent 1.93 on 10x data, SCALE.md §16)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.sign_lsh_knn(emb, k=3, nbits="auto", multi_probe=1)


@query("cube_status_flag_metrics", """
SELECT coalesce(l_linestatus, 'ALL')  AS status,
       coalesce(l_returnflag, 'ALL') AS flag,
       CAST(grouping(l_linestatus) * 2 + grouping(l_returnflag) AS INT) AS gid,
       count(*)                      AS cnt,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY CUBE (l_linestatus, l_returnflag)
""")
def cube_status_flag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (linestatus, returnflag) with grouping_id disambiguation
    — all four grouping sets (detail, each margin, grand total) in ONE
    expand + ONE shuffle; grouping() bits distinguish a real NULL from
    a subtotal row (the OLAP-correctness detail coalesce alone gets
    wrong)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.cube("l_linestatus", "l_returnflag")
            .agg((F.grouping("l_linestatus") * 2
                  + F.grouping("l_returnflag")).cast("int").alias("gid"),
                 F.count(F.lit(1)).alias("cnt"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("revenue"))
            .select(F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
                    F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
                    "gid", "cnt", "revenue"))


@query("count_min_freq_estimates", """
WITH cm AS (
  SELECT i,
         ('0x' || substr(md5(i::VARCHAR || ':' || user_id::VARCHAR), 1, 13))::BIGINT % 256 AS bucket,
         count(*) AS c
  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
  GROUP BY 1, 2
), truth AS (
  SELECT user_id, count(*) AS true_cnt
  FROM events GROUP BY user_id
  ORDER BY true_cnt DESC, user_id LIMIT 20
)
SELECT t.user_id, t.true_cnt, min(cm.c) AS est_cnt
FROM truth t
JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r ON true
JOIN cm ON cm.i = r.i
      AND cm.bucket = ('0x' || substr(md5(r.i::VARCHAR || ':' || t.user_id::VARCHAR), 1, 13))::BIGINT % 256
GROUP BY t.user_id, t.true_cnt
""")
def count_min_freq_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode-Muthukrishnan): 4x256 counters built in
    ONE pass (explode to 4 hash rows, hash agg — mergeable across
    partitions/streams by counter addition), then point-queries for the
    true top-20 users: est = min over rows of the hashed counter. The
    estimate NEVER undercounts (est >= true, test-pinned); width trades
    memory for overcount. Deterministic md5 bucket hashing is
    bit-identical in DuckDB, so the whole sketch is hash-checked."""
    ev = _t(spark, sf_dir, "events")

    def bucket(i_col, item):
        return F.conv(F.substring(
            F.md5(F.concat(i_col.cast("string"), F.lit(":"),
                           item.cast("string"))), 1, 13), 16, 10) \
            .cast("long") % 256

    rows = ev.select(F.col("user_id"),
                     F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"))
    cm = (rows.groupBy("i", bucket(F.col("i"), F.col("user_id")).alias("bucket"))
          .agg(F.count(F.lit(1)).alias("c")))
    truth = (ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
             .orderBy(F.col("true_cnt").desc(), "user_id").limit(20))
    probes = truth.crossJoin(
        spark.range(4).select(F.col("id").cast("int").alias("i")))
    return (probes.alias("p")
            .join(cm.alias("s"),
                  (F.col("s.i") == F.col("p.i"))
                  & (F.col("s.bucket")
                     == bucket(F.col("p.i"), F.col("p.user_id"))))
            .groupBy("p.user_id", "p.true_cnt")
            .agg(F.min("s.c").alias("est_cnt"))
            .select(F.col("user_id"), F.col("true_cnt"), "est_cnt"))


@query("duplicate_span_profile", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
), win AS (
  SELECT doc_id, md5(array_to_string(arr[i : i + 15], ' ')) AS h
  FROM toks, UNNEST(generate_series(1, len(arr) - 15)) AS t(i)
  WHERE len(arr) >= 16
), spread AS (
  SELECT h, count(DISTINCT doc_id) AS nd FROM win GROUP BY h
)
SELECT doc_id,
       count(*)                                        AS n_windows,
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)          AS n_dup_windows,
       round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
             / count(*), 6)                             AS dup_frac
FROM win JOIN spread USING (h)
GROUP BY doc_id
""")
def duplicate_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span (16-token, stride-1) fraction per document
    — functions/dedup.py::duplicate_span_stats. The memorization-risk
    metric exact-substring dedup acts on."""
    return D.duplicate_span_stats(_t(spark, sf_dir, "documents"), span=16)


@query("duplicate_span_removal", """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
), tok AS (
  SELECT doc_id, i AS pos, arr[i] AS tok
  FROM toks, UNNEST(generate_series(1, len(arr))) AS t(i)
), win AS (
  SELECT doc_id, i AS s, md5(array_to_string(arr[i : i + 15], ' ')) AS h
  FROM toks, UNNEST(generate_series(1, len(arr) - 15)) AS t(i)
  WHERE len(arr) >= 16
), rk AS (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
  FROM win
), droppos AS (
  SELECT DISTINCT doc_id, s + o AS pos
  FROM rk, UNNEST(generate_series(0, 15)) AS t(o)
  WHERE rn > 1
), kept AS (
  SELECT tok.doc_id, tok.pos, tok.tok
  FROM tok ANTI JOIN droppos
    ON tok.doc_id = droppos.doc_id AND tok.pos = droppos.pos
), re AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT toks.doc_id,
       coalesce(re.clean_text, '')                        AS clean_text,
       len(toks.arr)::BIGINT                              AS n_tokens,
       (len(toks.arr) - coalesce(re.n_kept, 0))::BIGINT   AS n_removed
FROM toks LEFT JOIN re ON toks.doc_id = re.doc_id
""")
def duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REWRITE (Lee et al. 2022's acting half):
    non-canonical occurrences of any 16-token span repeated corpus-wide
    are cut and each document reassembled from its surviving tokens —
    functions/dedup.py::remove_duplicate_spans. Every doc comes back
    (clean_text, n_tokens, n_removed)."""
    return D.remove_duplicate_spans(
        _t(spark, sf_dir, "documents"), span=16)


@query("neardup_keep_best", f"""
WITH RECURSIVE {_NEARDUP_CC_CTES}, labels AS (
  SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n
), asgn AS (
  SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
), q AS (
  SELECT doc_id,
         round(least(1.0, greatest(0.0,
               0.4 * least(len(list_filter(toks, x -> x IN
                     ('the','a','of','and','to','in','is','for','on','with')))
                   / greatest(len(toks), 1) * 4, 1.0)
             + 0.4 * (CASE WHEN tl >= 3 AND tl <= 10 THEN 1.0 ELSE 0.5 END)
             + 0.2 * (1 - least(len(regexp_extract_all(text,
                     '[^a-zA-Z0-9\\s]')) / greatest(length(text), 1)
                     * 5, 1.0)))), 4) AS quality
  FROM (SELECT doc_id, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks,
               list_sum(list_transform(
                   list_filter(string_split(text, ' '), x -> x <> ''),
                   x -> length(x)))
                 / greatest(len(list_filter(string_split(text, ' '),
                                            x -> x <> '')), 1) AS tl
        FROM documents)
), ranked AS (
  SELECT a.component, a.doc_id, q.quality,
         row_number() OVER (PARTITION BY a.component
                            ORDER BY q.quality DESC, a.doc_id) AS rn,
         count(*) OVER (PARTITION BY a.component) AS n_members
  FROM asgn a JOIN q ON q.doc_id = a.doc_id
)
SELECT component, doc_id AS keeper, n_members, quality AS best_quality
FROM ranked WHERE rn = 1
""")
def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization, keep-BEST flavor: real curation
    pipelines keep the highest-quality member of each near-dup
    cluster, not the lowest id (min-id keeps whichever shard ingested
    first; argmax-quality keeps the cleanest copy). Composition:
    MinHash-LSH pairs -> connected components -> per-cluster rank by
    (rounded quality desc, doc_id) -> rn=1. Singleton docs are their
    own cluster. The rank window partitions by component — bounded by
    cluster size, never corpus-global."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5)
    comps = D.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component")
    asgn = (docs.select("doc_id").join(comps, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", "doc_id").alias("component")))
    q = docs.select("doc_id",
                    F.round(T.quality_score("text"), 4).alias("quality"))
    from pyspark.sql import Window
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id"))
    ranked = (asgn.join(q, "doc_id")
              .select("component", "doc_id", "quality",
                      F.row_number().over(w).alias("rn"),
                      F.count(F.lit(1)).over(
                          Window.partitionBy("component")).alias("n_members")))
    return (ranked.where(F.col("rn") == 1)
            .select("component", F.col("doc_id").alias("keeper"),
                    "n_members", F.col("quality").alias("best_quality")))


@query("session_path_topk", """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts))::BIGINT
                   - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, event_id, event_type,
         sum(brk) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS sid
  FROM e
), p AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM s GROUP BY user_id, sid
)
SELECT path, count(*) AS cnt
FROM p GROUP BY path ORDER BY cnt DESC, path LIMIT 20
""")
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey mining: sessionize per user (30-min inactivity gap,
    lag-islands), build each session's ORDERED event-type path, count
    path frequencies, top-20. The product-analytics staple (what do
    sessions look like?) — two window passes over user-partitioned data
    (one shuffle on user_id that both reuse), then path-grain
    aggregation; collect_list is per-session bounded, never corpus-wide.
    Path order is (ts, event_id)-deterministic in both engines."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ on current testdata — NTZ won't cast
    # straight to long; hop through timestamp (same wall-clock seconds)
    sec = F.col("ts").cast("timestamp").cast("long")
    brk = F.when(F.lag("ts").over(w).isNull()
                 | ((sec - F.lag(sec).over(w)) > 1800), 1).otherwise(0)
    s = (ev.select("user_id", "ts", "event_id", "event_type",
                   brk.alias("brk"))
         .withColumn("sid", F.sum("brk").over(
             w.rowsBetween(Window.unboundedPreceding, 0))))
    paths = (s.groupBy("user_id", "sid")
             .agg(F.concat_ws(">", F.transform(
                 F.array_sort(F.collect_list(
                     F.struct("ts", "event_id", "event_type"))),
                 lambda x: x.event_type)).alias("path")))
    return (paths.groupBy("path").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), "path").limit(20))


@query("skew_advisor_user_key", bound="user-grain", sql="""
WITH kc AS (
  SELECT user_id::VARCHAR AS key_str, count(*) AS key_rows
  FROM events GROUP BY user_id
), r AS (
  SELECT *, row_number() OVER (ORDER BY key_rows DESC, key_str) AS rnk
  FROM kc
)
SELECT sum(key_rows)::BIGINT AS n_rows,
       count(*)::BIGINT AS n_keys,
       floor(sum(key_rows) / count(*) * 10000 + 0.5) / 10000.0
         AS mean_rows,
       max(key_rows)::BIGINT AS max_rows,
       floor(max(key_rows) * count(*) / sum(key_rows) * 10000 + 0.5)
         / 10000.0 AS skew_ratio,
       floor(sum(CASE WHEN rnk <= 5 THEN key_rows ELSE 0 END)
             / sum(key_rows) * 10000 + 0.5) / 10000.0 AS top5_share,
       max(CASE WHEN rnk = 1 THEN key_str END) AS top1_key,
       greatest(1, ceil(max(key_rows) * count(*)
                        / (4 * sum(key_rows))))::BIGINT AS salt_buckets
FROM r
""")
def skew_advisor_user_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew advisor over the user_id key: the measurement step
    of the salting decision before any user-keyed join/agg (the fix is
    salted_agg or AQE skew-join). One key-grain shuffle — the same
    shuffle the real job pays — then a distributed top-k sort-limit;
    the only rank runs over the <= top_k survivors (the user-grain
    bound class declared here is now a loose upper bound).
    salt_buckets=1 means the distribution needs no salting."""
    ev = _t(spark, sf_dir, "events")
    from .functions.checks import skew_report
    return skew_report(ev, ["user_id"], target_factor=4, top_k=5)


_CEP_SESSION_SQL = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR floor(epoch(ts))::BIGINT
                   - floor(epoch(lag(ts) OVER w))::BIGINT > 86400
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, event_id, event_type,
         sum(brk) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id)::BIGINT AS sid
  FROM e
), seq AS (
  SELECT user_id, sid,
         string_agg(CASE event_type
                      WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                      WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                      WHEN 'error' THEN 'e' ELSE 'x' END, ''
                    ORDER BY ts, event_id) AS seq
  FROM s GROUP BY user_id, sid
)
"""

#: event_type -> symbol map shared by the CEP queries (and their oracle
#: SQL above — keep in sync).
_CEP_SYMBOLS = {"view": "v", "click": "c", "purchase": "p",
                "signup": "s", "error": "e"}


@query("cep_funnel_pattern", _CEP_SESSION_SQL + """
SELECT * FROM (
  SELECT user_id, sid, seq,
         len(regexp_extract_all(seq, 'v[^p]*c[^p]*p'))::BIGINT AS n_matches,
         coalesce(regexp_extract_all(seq, 'v[^p]*c[^p]*p')[1], '') AS first_match
  FROM seq)
WHERE n_matches > 0
""")
def cep_funnel_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event processing (MATCH_RECOGNIZE / Flink-CEP class):
    sessions whose ordered event sequence matches view -> click ->
    purchase with no intervening purchase — expressed as a regex over
    the per-session symbol string instead of an NFA interpreter
    (1-day inactivity gap: the synthetic corpus is sparse per user). One
    user-grain shuffle reused by both window passes; matching is
    per-row regexp over session-bounded strings. Match sweep is
    leftmost/non-overlapping/greedy in both engines."""
    ev = _t(spark, sf_dir, "events")
    from .functions.cep import event_pattern_matches
    return event_pattern_matches(
        ev, pattern="v[^p]*c[^p]*p", symbols=_CEP_SYMBOLS,
        gap_seconds=86400)


@query("cep_error_burst", _CEP_SESSION_SQL + """
SELECT * FROM (
  SELECT user_id, sid, seq,
         len(regexp_extract_all(seq, 'e{2,}'))::BIGINT AS n_matches,
         coalesce(regexp_extract_all(seq, 'e{2,}')[1], '') AS first_match
  FROM seq)
WHERE n_matches > 0
""")
def cep_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP alarm pattern: sessions containing a run of 2+ consecutive
    errors (each maximal run counted once — the greedy quantifier
    consumes the whole run, so 'eee' is one match, not two). Same
    sessionize-once, regex-per-session plan as cep_funnel_pattern."""
    ev = _t(spark, sf_dir, "events")
    from .functions.cep import event_pattern_matches
    return event_pattern_matches(
        ev, pattern="e{2,}", symbols=_CEP_SYMBOLS, gap_seconds=86400)


@query("cep_stream_funnel", _CEP_SESSION_SQL + """
SELECT user_id, sid, seq, n_matches, first_match FROM (
  SELECT user_id, sid, seq,
         len(regexp_extract_all(seq, 'v[^p]*c[^p]*p'))::BIGINT AS n_matches,
         coalesce(regexp_extract_all(seq, 'v[^p]*c[^p]*p')[1], '') AS first_match,
         max(sid) OVER (PARTITION BY user_id) AS max_sid
  FROM seq)
WHERE n_matches > 0 AND sid < max_sid
""")
def cep_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CEP against the batch oracle: the funnel matcher as an
    incremental stateful operator (applyInPandasWithState, per-user
    open-session buffer), run over a bounded replay of the events
    table. With close_on_timeout=False the emitted set is exactly
    "every matched session except each user's last" — deterministic
    w.r.t. watermark/timeout tie-breaking, which is what the SQL
    oracle's max-sid exclusion expresses."""
    import uuid as _uuid
    from .streaming import memory_sink, state_sized_partitions
    from .streaming.stateful import cep_stream
    src = _events_stream(spark, sf_dir)
    out = cep_stream(src, pattern="v[^p]*c[^p]*p", symbols=_CEP_SYMBOLS,
                     gap_seconds=86400, close_on_timeout=False)
    name = "cepstream_" + _uuid.uuid4().hex[:10]
    with state_sized_partitions(spark, 8):
        Source(out).to(memory_sink(name, output_mode="append"))
    return spark.table(name)


@query("per_user_rate_limit", """
WITH b AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, count(*) AS kept, round(sum(value), 2) AS kept_value
FROM b WHERE rn <= 3
GROUP BY user_id
""")
def per_user_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tenant Discard throttling: at most 3 events per user per
    hour (keys= scoping of discard_over_quota — beyond the reference's
    single global bucket), then per-user admission stats. The window
    partitions on (user, hour): no global single-partition stage."""
    ev = _t(spark, sf_dir, "events")
    limited = discard_over_quota(
        3, F.col("ts").cast("timestamp"), "1 hour",
        order_by=["ts", "event_id"], keys=["user_id"])(ev)
    return (limited.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("kept"),
                 F.round(F.sum("value"), 2).alias("kept_value")))


_PAGERANK_PART_SQL = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), nodes AS (
  SELECT u AS node, count(*) AS outdeg FROM pairs GROUP BY u
), meta AS (SELECT count(*) AS n FROM nodes),
pr0 AS (
  SELECT node, outdeg, 1000000000000 // n AS pr FROM nodes CROSS JOIN meta
),
it1 AS (
  SELECT nd.node, nd.outdeg,
         (15 * 1000000000000) // (100 * meta.n)
         + (85 * coalesce(s.s, 0)) // 100 AS pr
  FROM nodes nd CROSS JOIN meta
  LEFT JOIN (SELECT p.v AS node, sum(pr0.pr // pr0.outdeg) AS s
             FROM pr0 JOIN pairs p ON pr0.node = p.u GROUP BY p.v) s
    USING (node)
),
it2 AS (
  SELECT nd.node, nd.outdeg,
         (15 * 1000000000000) // (100 * meta.n)
         + (85 * coalesce(s.s, 0)) // 100 AS pr
  FROM nodes nd CROSS JOIN meta
  LEFT JOIN (SELECT p.v AS node, sum(it1.pr // it1.outdeg) AS s
             FROM it1 JOIN pairs p ON it1.node = p.u GROUP BY p.v) s
    USING (node)
),
it3 AS (
  SELECT nd.node, nd.outdeg,
         (15 * 1000000000000) // (100 * meta.n)
         + (85 * coalesce(s.s, 0)) // 100 AS pr
  FROM nodes nd CROSS JOIN meta
  LEFT JOIN (SELECT p.v AS node, sum(it2.pr // it2.outdeg) AS s
             FROM it2 JOIN pairs p ON it2.node = p.u GROUP BY p.v) s
    USING (node)
)
SELECT node, round(pr / 1000000000000.0, 6) AS pr FROM it3
"""


def _weighted_pagerank_sql(iterations: int = 3) -> str:
    """Chained-CTE oracle for WEIGHTED integer PageRank over the part
    co-occurrence graph: per-edge share = (w * 1e6) div wdeg(u),
    contrib = (pr * share) div 1e6 — mirrors functions/graph.py
    ::pagerank(weight=...) exactly."""
    its = []
    prev = "pr0"
    for i in range(1, iterations + 1):
        its.append(f"""it{i} AS (
  SELECT nd.node, nd.outdeg,
         (15 * 1000000000000) // (100 * meta.n)
         + (85 * coalesce(s.s, 0)) // 100 AS pr
  FROM nodes nd CROSS JOIN meta
  LEFT JOIN (SELECT ew.v AS node, sum(({prev}.pr * ew.share) // 1000000) AS s
             FROM {prev} JOIN ew ON {prev}.node = ew.u GROUP BY ew.v) s
    USING (node)
)""")
        prev = f"it{i}"
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS w
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
), wdeg AS MATERIALIZED (
  SELECT u, sum(w) AS wdeg FROM pairs GROUP BY u
), ew AS MATERIALIZED (
  SELECT p.u, p.v, (p.w * 1000000) // d.wdeg AS share
  FROM pairs p JOIN wdeg d USING (u)
), nodes AS MATERIALIZED (
  SELECT u AS node, wdeg AS outdeg FROM wdeg
), meta AS (SELECT count(*) AS n FROM nodes),
pr0 AS (
  SELECT node, outdeg, 1000000000000 // n AS pr FROM nodes CROSS JOIN meta
),
{', '.join(its)}
SELECT node, round(pr / 1000000000000.0, 6) AS pr FROM {prev}
"""


@query("pagerank_weighted_parts", sql=_weighted_pagerank_sql(3))
def pagerank_weighted_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank over the part co-occurrence graph: edge weight
    = number of co-occurring orders, so frequently-bought-together
    parts pass proportionally more rank mass — the realistic variant
    for co-occurrence/citation graphs. Engine-exact integer arithmetic
    (per-edge parts-per-million shares precomputed once; see
    functions/graph.py::pagerank weight contract) hash-checked against
    the generated chained-CTE oracle."""
    from .functions.graph import pagerank
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts"))
    fwd = (baskets.select(F.explode("parts").alias("src"), "parts")
           .select("src", F.explode(F.filter(
               "parts", lambda x: x != F.col("src"))).alias("dst")))
    weighted = fwd.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
    return pagerank(weighted, weight="w", iterations=3)


@query("pagerank_part_graph", _PAGERANK_PART_SQL)
def pagerank_part_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, d=0.85) over the part co-occurrence
    graph — functions/graph.py::pagerank. ENGINE-EXACT by integer
    micro-unit arithmetic (floor division, order-independent integer
    sums), so the iterative algorithm is hash-checked against a
    chained-CTE DuckDB oracle — unlike float PageRank, which no two
    engines reproduce bitwise. Edge build is the basket-explode shape
    (one fact scan)."""
    from .functions.graph import pagerank
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts"))
    fwd = (baskets.select(F.explode("parts").alias("src"), "parts")
           .select("src", F.explode(F.filter(
               F.col("parts"), lambda x: x != F.col("src"))).alias("dst")))
    return pagerank(fwd, iterations=3)


@query("pagerank_part_graph_shuffle", _PAGERANK_PART_SQL)
def pagerank_part_graph_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same integer-exact PageRank, forced onto the LARGE-GRAPH plan:
    ``broadcast_ranks=False`` hash-partitions the edge set on src once
    and shuffle-hash-joins the node-grain rank tables against it — the
    co-partitioned GraphX/Pregel shape with bounded memory at any node
    count (no rank-table broadcast anywhere; plan-pinned in
    tests/test_plans.py). Identical oracle SQL as pagerank_part_graph:
    floor-division integer arithmetic makes both plans bitwise equal."""
    from .functions.graph import pagerank
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts"))
    fwd = (baskets.select(F.explode("parts").alias("src"), "parts")
           .select("src", F.explode(F.filter(
               F.col("parts"), lambda x: x != F.col("src"))).alias("dst")))
    return pagerank(fwd, iterations=3, broadcast_ranks=False)


@query("entity_resolution_clusters", """
WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
pairs AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b
  FROM names a JOIN names b
    ON string_split(a.p_name, ' ')[2] = string_split(b.p_name, ' ')[2]
   AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= 4
), edges AS (
  SELECT name_a AS a, name_b AS b FROM pairs
  UNION
  SELECT name_b, name_a FROM pairs
), reach(n, m) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
), labels AS (
  SELECT n AS name, min(m) AS canonical FROM reach GROUP BY n
)
SELECT canonical, count(*) AS n_aliases
FROM labels GROUP BY canonical HAVING count(*) > 1
""")
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: block -> edit-distance compare ->
    connected components -> canonical entity per alias group (the
    block/compare/cluster architecture, stages reused from
    fuzzy_name_match_pairs + dedup.connected_components). Oracle states
    the same fixpoint declaratively (recursive transitive closure);
    emits multi-alias entities with their alias counts."""
    pairs = QUERIES["fuzzy_name_match_pairs"](spark, sf_dir)
    comps = D.connected_components(pairs, src="name_a", dst="name_b")
    return (comps.groupBy(F.col("component").alias("canonical"))
            .agg(F.count(F.lit(1)).alias("n_aliases"))
            .where(F.col("n_aliases") > 1))


# ---------------------------------------------------------------------------
# Product quantization (round 5): compressed-domain ANN — the FAISS
# IndexPQ memory model (Jégou et al. 2011). The index side of every
# shuffle carries m-byte codes + one norm instead of 4*dim-byte raw
# vectors, which is what makes a 100 TB float32 embedding corpus
# cache-resident (~26x smaller at dim=64 / m=4).
# ---------------------------------------------------------------------------


#: PQ oracle fragments (see the shared-fragment note above
#: _NEARDUP_CC_CTES). _PQ_BASE_CTES: config + double-cast vectors +
#: fixed sub-codebooks (vec_id<8) + rounded-L2 encode ranking.
#: _PQ_ADC_CTES: the encode selection, reconstruction norms and query
#: norms ADC scoring needs. _PQ_FULLSCAN_SIMS: every query scores every
#: code (the flat IndexPQ scan) into rounded cosines.
_PQ_BASE_CTES = """cfg AS (
  SELECT greatest(16, floor(4 * sqrt(count(*)))::BIGINT) AS nlist,
         (min(len(embedding)) // 4)::INT AS sd
  FROM embeddings
), v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), cb AS (
  SELECT m, vec_id AS cid, v[m * sd + 1 : m * sd + sd] AS cv
  FROM v CROSS JOIN cfg CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m)
  WHERE vec_id < 8
), dists AS (
  SELECT a.vec_id, cb.m, cb.cid, cb.cv,
         round(list_sum(list_transform(
             list_zip(a.v[cb.m * sd + 1 : cb.m * sd + sd], cb.cv),
             p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d,
         list_sum(list_transform(cb.cv, x -> x * x)) AS cnorm2
  FROM v a CROSS JOIN cfg CROSS JOIN cb
), enc AS (
  SELECT vec_id, m, cid, cv, cnorm2,
         row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
  FROM dists
)"""

_PQ_ADC_CTES = """sel AS (
  SELECT vec_id, m, cv FROM enc WHERE rn = 1
), rnorm AS (
  SELECT vec_id, sqrt(sum(cnorm2)) AS rnorm FROM enc WHERE rn = 1 GROUP BY vec_id
), qn AS (
  SELECT vec_id, sqrt(list_sum(list_transform(v, x -> x * x))) AS qnorm FROM v
)"""

_PQ_FULLSCAN_SIMS = """adots AS (
  SELECT q.vec_id AS id_a, s.vec_id AS id_b,
         sum(list_sum(list_transform(
             list_zip(q.v[s.m * sd + 1 : s.m * sd + sd], s.cv),
             p -> p[1] * p[2]))) AS adot
  FROM v q CROSS JOIN cfg JOIN sel s ON q.vec_id <> s.vec_id
  GROUP BY 1, 2
), sims AS (
  SELECT id_a, id_b, round(adot / (qn.qnorm * rnorm.rnorm), 6) AS sim
  FROM adots JOIN qn ON qn.vec_id = adots.id_a
             JOIN rnorm ON rnorm.vec_id = adots.id_b
)"""

@query("pq_encode_codes", f"""
WITH {_PQ_BASE_CTES}
SELECT vec_id,
       max(CASE WHEN m = 0 THEN cid END)::INT AS c0,
       max(CASE WHEN m = 1 THEN cid END)::INT AS c1,
       max(CASE WHEN m = 2 THEN cid END)::INT AS c2,
       max(CASE WHEN m = 3 THEN cid END)::INT AS c3,
       round(sqrt(sum(cnorm2)), 6) AS recon_norm
FROM enc WHERE rn = 1 GROUP BY vec_id
""")
def pq_encode_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codes for every vector: m=4 subspaces, 8 sub-centroids each
    (the deterministic vec_id<8 codebook convention of ann_ivf_knn —
    at scale you'd plug in train_pq_codebooks, same plan). Each 256-byte float vector becomes
    4 bytes of codes + one reconstruction norm. Encoding is ONE
    vectorized mapInPandas pass, zero shuffle; argmin over rounded
    squared L2 with lowest-centroid tie-break is reproduced exactly by
    the oracle's window rank."""
    emb = _t(spark, sf_dir, "embeddings")
    cbs = S.fixed_pq_codebooks(emb, m=4, ksub=8)
    enc = S.pq_encode(emb, cbs)
    return enc.select(
        "vec_id",
        F.col("codes")[0].alias("c0"), F.col("codes")[1].alias("c1"),
        F.col("codes")[2].alias("c2"), F.col("codes")[3].alias("c3"),
        F.round("recon_norm", 6).alias("recon_norm"))


@query("pq_adc_topk", f"""
WITH {_PQ_BASE_CTES}, {_PQ_ADC_CTES}, {_PQ_FULLSCAN_SIMS}
SELECT id_a AS vec_id, id_b AS neighbor_id, sim, rank::INT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rank
      FROM sims)
WHERE rank <= 3
""")
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain top-3 via asymmetric distance computation
    (FAISS IndexPQ): queries stay full-precision, candidates exist
    ONLY as 4-byte PQ codes + a norm; each cogroup builds the per-query
    LUT (one einsum) and scores candidates by pure table gather —
    no decode, no per-pair float dot. 2-D blocked cogroup (the
    block_knn shape), so the code table shuffles in m-byte rows: the
    plan a 100 TB corpus actually runs. The re-rank composition and
    its recall (which must beat this raw compressed scan) are pinned by
    tests/test_functions.py::test_pq_rerank_recall_monotone; compose
    with exact re-rank (ann_pq_rerank) when recall matters."""
    emb = _t(spark, sf_dir, "embeddings")
    cbs = S.fixed_pq_codebooks(emb, m=4, ksub=8)
    return S.pq_adc_knn(emb, cbs, k=3)


@query("ann_pq_rerank", f"""
WITH {_PQ_BASE_CTES}, {_PQ_ADC_CTES}, {_PQ_FULLSCAN_SIMS}, shortlist AS (
  SELECT id_a, id_b
  FROM (SELECT id_a, id_b,
               row_number() OVER (PARTITION BY id_a
                                  ORDER BY sim DESC, id_b) AS arank
        FROM sims)
  WHERE arank <= 20
), exact AS (
  SELECT s.id_a, s.id_b,
         round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS sim
  FROM shortlist s
  JOIN v a ON a.vec_id = s.id_a
  JOIN v b ON b.vec_id = s.id_b
)
SELECT id_a AS vec_id, id_b AS neighbor_id, sim, rank::INT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rank
      FROM exact)
WHERE rank <= 3
""")
def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ pipeline: compressed ADC scan shortlists 20
    candidates per query, exact full-precision cosine re-ranks ONLY
    those pairs to a final top-3 (FAISS IndexPQ + refine). The corpus
    is scanned exclusively in code space (4 bytes/vector); raw vectors
    are rehydrated for N*20 pairs, never N². Recall grows monotonically
    with the shortlist size — the PQ cost/recall knob — pinned by
    tests/test_functions.py::test_pq_rerank_recall_monotone."""
    emb = _t(spark, sf_dir, "embeddings")
    cbs = S.fixed_pq_codebooks(emb, m=4, ksub=8)
    return S.pq_rerank_knn(emb, cbs, k=3, shortlist=20)


@query("dsir_importance_weights", """
WITH arrs AS (
  SELECT doc_id, lang,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS arr
  FROM documents
), feats AS (
  SELECT doc_id, lang, unnest(
    list_concat(arr, list_transform(range(1, greatest(len(arr), 1)),
                                    i -> arr[i] || '_' || arr[i + 1]))) AS feat
  FROM arrs
), db AS (
  SELECT doc_id, lang, (lang = 'en') AS is_target,
         ('0x' || substr(md5(feat), 1, 13))::BIGINT % 512 AS bucket,
         count(*) AS cnt
  FROM feats GROUP BY 1, 2, 3, 4
), bt AS (
  SELECT bucket, sum(cnt) AS n_raw,
         sum(CASE WHEN is_target THEN cnt ELSE 0 END) AS n_tgt
  FROM db GROUP BY bucket
), tot AS (
  SELECT sum(n_raw) AS t_raw, sum(n_tgt) AS t_tgt FROM bt
), lr AS (
  SELECT bucket,
         ln((n_tgt + 1.0) / (t_tgt + 512.0))
           - ln((n_raw + 1.0) / (t_raw + 512.0)) AS log_ratio
  FROM bt CROSS JOIN tot
), w AS (
  SELECT db.doc_id, db.lang, sum(cnt) AS n_feats,
         round(sum(cnt * log_ratio), 4) AS dsir_weight
  FROM db JOIN lr USING (bucket) GROUP BY 1, 2
)
SELECT doc_id, lang, n_feats, dsir_weight, sel_rank::INT AS sel_rank
FROM (SELECT *, row_number() OVER (ORDER BY dsir_weight DESC, doc_id)
             AS sel_rank
      FROM w)
WHERE sel_rank <= 100
""", bound="doc-grain")
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): score
    every document by the log-ratio of its hashed bag-of-ngrams
    likelihood under a target distribution (here: the lang='en'
    subset) vs the raw corpus, keep the top 100. The standard
    importance-resampling selection pass a pretraining pipeline runs
    over a raw crawl.

    Plan: ONE feature explode -> (doc, bucket) counts (the only
    corpus-sized shuffle); both 512-bucket histograms roll up from
    that aggregate; the log-ratio table broadcasts back. Ranking uses
    the ROUNDED weight with doc_id tie-break so Spark and the oracle
    order identically; the global top-100 rank is doc-grain-bounded
    (declared)."""
    docs = _t(spark, sf_dir, "documents")
    w = T.dsir_importance(docs, target=F.col("lang") == "en",
                          buckets=512, keep_cols=("lang",))
    w = w.select("doc_id", "lang", "n_feats",
                 F.round("dsir_weight", 4).alias("dsir_weight"))
    from pyspark.sql import Window
    rk = Window.orderBy(F.col("dsir_weight").desc(), F.col("doc_id"))
    return (w.withColumn("sel_rank", F.row_number().over(rk).cast("int"))
            .where(F.col("sel_rank") <= 100))


@query("nb_quality_classifier", """
WITH arrs AS (
  SELECT doc_id, lang,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS arr
  FROM documents
), feats AS (
  SELECT doc_id, lang, unnest(
    list_concat(arr, list_transform(range(1, greatest(len(arr), 1)),
                                    i -> arr[i] || '_' || arr[i + 1]))) AS feat
  FROM arrs
), db AS (
  SELECT doc_id, lang, (lang = 'en') AS y, (doc_id % 5 < 4) AS tr,
         ('0x' || substr(md5(feat), 1, 13))::BIGINT % 512 AS bucket,
         count(*) AS cnt
  FROM feats GROUP BY 1, 2, 3, 4, 5
), bt AS (
  SELECT bucket,
         sum(CASE WHEN y THEN cnt ELSE 0 END) AS n_pos,
         sum(CASE WHEN NOT y THEN cnt ELSE 0 END) AS n_neg
  FROM db WHERE tr GROUP BY bucket
), fullb AS (
  SELECT r.bucket, coalesce(bt.n_pos, 0) AS n_pos,
         coalesce(bt.n_neg, 0) AS n_neg
  FROM (SELECT unnest(range(0, 512)) AS bucket) r
  LEFT JOIN bt ON r.bucket = bt.bucket
), tot AS (
  SELECT sum(n_pos) AS t_pos, sum(n_neg) AS t_neg FROM fullb
), w AS (
  SELECT bucket, ln((n_pos + 1.0) / (t_pos + 512.0))
                   - ln((n_neg + 1.0) / (t_neg + 512.0)) AS llr
  FROM fullb CROSS JOIN tot
), prior AS (
  SELECT ln((sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1.0)
            / (sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) + 1.0))
         AS prior
  FROM documents WHERE doc_id % 5 < 4
), s AS (
  SELECT doc_id, lang, sum(cnt) AS n_feats, sum(cnt * llr) AS ev
  FROM db JOIN w USING (bucket) GROUP BY 1, 2
)
SELECT doc_id, lang, n_feats,
       round(prior + ev, 4) AS log_odds,
       (round(prior + ev, 4) > 0) AS pred
FROM s CROSS JOIN prior
""")
def nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality/domain filtering, the fastText-classifier
    role in DCLM/FineWeb-style pipelines: a multinomial Naive Bayes
    classifier over hashed unigram+bigram features
    (functions/text.py::nb_classifier_scores), fit on the
    doc_id % 5 < 4 training split with lang='en' as the class, scoring
    every document with per-doc log-odds + predicted class. One
    corpus-sized feature shuffle; 512-bucket model broadcasts back."""
    docs = _t(spark, sf_dir, "documents")
    out = T.nb_classifier_scores(
        docs, label=F.col("lang") == "en",
        train=F.col("doc_id") % 5 < 4, buckets=512, keep_cols=("lang",))
    return out.select("doc_id", "lang", "n_feats", "log_odds",
                      (F.col("log_odds") > 0).alias("pred"))


@query("stream_join_view_purchase", """
WITH v AS (
  SELECT user_id, ts AS v_ts FROM events WHERE event_type = 'view'
), p AS (
  SELECT user_id, ts AS p_ts, value FROM events WHERE event_type = 'purchase'
)
SELECT time_bucket(INTERVAL '1 hour', v_ts) AS view_hour,
       count(*)             AS n_pairs,
       round(sum(value), 2) AS purchase_value
FROM v JOIN p USING (user_id)
WHERE p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 30 MINUTE
GROUP BY 1
""")
def stream_join_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM watermarked interval join — view events joined to
    purchase events of the same user within [view, view + 30 min],
    both sides moving (the attribution-join shape the reference's
    single-input flows cannot express). Watermarks on BOTH streams
    bound the join state to O(users x window); the availableNow replay
    lands matched pairs in a memory sink and the hourly rollup
    hash-matches the batch interval-join oracle.

    State partitioning is SIZED TO STATE (round-9 verdict task #4):
    profiling the 5.8 s streaming-lane wall showed 2 micro-batches —
    batch 0 (200k rows): trigger 4.9 s of which addBatch 3.9 s with
    ~34 s of summed state-store commit time across 32 partitions x 4
    join stores; batch 1 (the mandatory zero-row watermark-close
    batch): 2.2 s of pure store reload+commit. With ~40k state rows,
    32 partitions is commit overhead, not parallelism: warm A/B
    measured 5.4-6.1 s at 32 partitions vs ~2.0 s at 4-8. The stream
    starts under state_sized_partitions(8); a 100 TB deployment raises
    the number (state must spread), same deliberate sizing decision."""
    import uuid as _uuid
    from .streaming import (memory_sink, state_sized_partitions,
                            stream_interval_join)
    views = (_events_stream(spark, sf_dir)
             .where(F.col("event_type") == "view")
             .select("user_id",
                     F.col("ts").cast("timestamp").alias("v_ts")))
    purchases = (_events_stream(spark, sf_dir)
                 .where(F.col("event_type") == "purchase")
                 .select("user_id",
                         F.col("ts").cast("timestamp").alias("p_ts"),
                         "value"))
    joined = stream_interval_join(
        views, purchases, key="user_id", left_ts="v_ts", right_ts="p_ts",
        lower="0 seconds", upper="30 minutes", watermark="1 hour")
    name = "ssjoin_" + _uuid.uuid4().hex[:10]
    with state_sized_partitions(spark, 8):
        Source(joined).to(memory_sink(name, output_mode="append"))
    return (spark.table(name)
            .groupBy(F.date_trunc("hour", "v_ts").alias("view_hour"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.round(F.sum("value"), 2).alias("purchase_value")))


@query("ann_ivf_pq", f"""
WITH {_PQ_BASE_CTES}, {_PQ_ADC_CTES}, c AS (
  SELECT vec_id AS ccid, v AS cv FROM v CROSS JOIN cfg WHERE vec_id < nlist
), csims AS (
  SELECT v.vec_id, c.ccid,
         round(list_sum(list_transform(list_zip(v.v, c.cv), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(v.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.cv, x -> x * x)))), 6) AS csim
  FROM v CROSS JOIN c
), ranked AS (
  SELECT vec_id, ccid,
         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, ccid) AS crn
  FROM csims
), assign AS (
  SELECT vec_id AS id_b, ccid FROM ranked WHERE crn = 1
), probes AS (
  SELECT vec_id AS id_a, ccid FROM ranked WHERE crn <= 4
), pcand AS (
  SELECT DISTINCT p.id_a, a.id_b
  FROM probes p JOIN assign a ON a.ccid = p.ccid
  WHERE a.id_b <> p.id_a
), adots AS (
  SELECT cd.id_a, cd.id_b,
         sum(list_sum(list_transform(
             list_zip(q.v[s.m * sd + 1 : s.m * sd + sd], s.cv),
             p -> p[1] * p[2]))) AS adot
  FROM pcand cd
  JOIN v q ON q.vec_id = cd.id_a
  JOIN sel s ON s.vec_id = cd.id_b
  CROSS JOIN cfg
  GROUP BY 1, 2
), sims AS (
  SELECT id_a, id_b, round(adot / (qn.qnorm * rnorm.rnorm), 6) AS sim
  FROM adots JOIN qn ON qn.vec_id = adots.id_a
             JOIN rnorm ON rnorm.vec_id = adots.id_b
)
SELECT id_a AS vec_id, id_b AS neighbor_id, sim, rank::INT AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY sim DESC, id_b) AS rank
      FROM sims)
WHERE rank <= 3
""")
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS IndexIVFPQ): coarse IVF routing bounds WHICH
    candidates each query meets (probed inverted lists, sqrt-scale
    volume); PQ codes bound what each candidate COSTS in the cogroup
    (4 bytes + a norm, never 256 raw bytes). The composition a 100 TB
    corpus runs: candidate generation is a list-id equi-join, scoring
    is a per-list LUT gather, and member vectors never cross the wire.
    Deterministic codebooks (nlist='auto' coarse = vec_id<nlist,
    sub-codebooks = vec_id<8) make the whole two-level index
    hash-checkable against the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_pq_knn(emb, k=3, nlist="auto", nprobe=4, m=4, ksub=8)


@query("negative_sampling_pairs", """
WITH cfg AS (
  SELECT count(*) AS np FROM part
), inter AS (
  SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), users AS (
  SELECT DISTINCT user_id FROM inter
), cand AS (
  SELECT user_id, i,
         ('0x' || substr(md5(user_id::VARCHAR || ':' || i::VARCHAR), 1, 13))::BIGINT
           % np AS item
  FROM users CROSS JOIN cfg
       CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i)
), neg AS (
  SELECT c.user_id, c.item, min(c.i) AS i
  FROM cand c ANTI JOIN inter USING (user_id, item)
  GROUP BY 1, 2
)
SELECT user_id, item AS neg_item, slot::INT AS slot
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY i, item) AS slot
      FROM neg)
WHERE slot <= 4
""")
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive / recsys
    training: for every user with interactions (customer x purchased
    part via orders⋈lineitem), draw 8 hash-derived candidate items,
    drop the ones the user actually interacted with (anti-join), keep
    the first 4 survivors — reproducible negatives with no RNG state,
    the same md5-derived-uniform trick as the sampling queries.

    Scale: candidates are user-grain x 8 (bounded fan-out); the
    anti-join against the fact-sized interaction set is ONE hash
    shuffle on (user, item); the slot rank is per-user (parallel,
    WindowGroupLimit). Collision dedup (two draws hitting the same
    item) keeps the lowest draw index so engine and oracle rank
    identically."""
    cfg = _t(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("np"))
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # pinned: inter feeds both the user list and the anti-join —
    # unpinned, the orders⋈lineitem join runs twice (two full scans of
    # both fact tables). The pin is the distinct (user, item) set,
    # already deduped far below lineitem grain.
    inter = track_persist(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("user_id"),
                F.col("l_partkey").alias("item")).distinct())
    users = inter.select("user_id").distinct()
    cand = (users.crossJoin(F.broadcast(cfg))  # 1-row scalar metadata
            .select("user_id", "np",
                    F.explode(F.array(*[F.lit(i) for i in range(8)]))
                    .alias("i"))
            .select("user_id", "i",
                    (F.conv(F.substring(
                        F.md5(F.concat(F.col("user_id").cast("string"),
                                       F.lit(":"),
                                       F.col("i").cast("string"))), 1, 13),
                        16, 10).cast("long") % F.col("np")).alias("item")))
    neg = (cand.join(inter, ["user_id", "item"], "left_anti")
           .groupBy("user_id", "item").agg(F.min("i").alias("i")))
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("i", "item")
    return (neg.withColumn("slot", F.row_number().over(w).cast("int"))
            .where(F.col("slot") <= 4)
            .select("user_id", F.col("item").alias("neg_item"), "slot"))


@query("leakage_safe_split", f"""
WITH RECURSIVE {_NEARDUP_CC_CTES}, labels AS (
  SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n
), asgn AS (
  SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
)
SELECT doc_id, component,
       CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id, component,
             ('0x' || substr(md5(component::VARCHAR), 1, 13))::BIGINT % 10 AS b
      FROM asgn)
""")
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: hash-split by NEAR-DUP
    CLUSTER, never by document — a near-duplicate of a training doc
    can't land in the eval split (the contamination mode a naive
    per-doc hash split ships silently; cf. the dedup-then-split rule
    of C4/Gopher data work). Docs outside any near-dup pair are their
    own singleton cluster.

    Composition: MinHash-LSH pairs -> connected components -> hash of
    the component id picks train(80%)/val(10%)/test(10%). Adds one
    doc-grain left join over the dedup_components pipeline; split
    assignment is a pure hash, no extra shuffle. No-straddle is pinned
    by tests/test_functions.py::test_leakage_safe_split_no_straddle."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5)
    comps = D.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component")
    asgn = (docs.select("doc_id").join(comps, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", "doc_id").alias("component")))
    b = (F.conv(F.substring(F.md5(F.col("component").cast("string")), 1, 13),
                16, 10).cast("long") % 10)
    return asgn.select(
        "doc_id", "component",
        F.when(b < 8, "train").when(b == 8, "val").otherwise("test")
        .alias("split"))


@query("bm25_search_topk", """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), df AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
), qterms AS (
  SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 3
), scored AS (
  SELECT tf.doc_id,
         sum(ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1.0)
             * tf.tf * 2.2
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) AS score
  FROM tf
  JOIN qterms q ON q.tok = tf.tok
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 4) AS bm25, rk::INT AS rk
FROM (SELECT doc_id, round(score, 4) AS score,
             row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS rk
      FROM scored)
WHERE rk <= 20
""", bound="doc-grain")
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-20 retrieval for the corpus's 3
    highest-df terms — the lexical-retrieval sibling of
    tfidf_top_terms (Robertson-Sparck Jones idf with the +1 floor, the
    Lucene convention). Query terms are data-derived so the gate needs
    no fixed vocabulary.

    Scale: ONE token explode feeds tf, dl and df aggregates (the df
    and stats tables are vocab-/scalar-grain); scoring touches only
    rows matching the 3 query terms (broadcast semi-join prunes the
    term stream), so score volume is matching-docs-grain. Ranking on
    the ROUNDED score with doc_id tie-break keeps engine and oracle
    total orders identical; the global top-20 is doc-grain-bounded."""
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower(F.col("text")), " "),
                           lambda x: x != "")).alias("tok"))
    # pinned: tf feeds dl, df, the query-term pick AND the scoring join
    # — unpinned that is 4 corpus scans + explodes (measured). dl
    # derives FROM tf (sum of term counts = token count), so the token
    # stream is exploded exactly once, into a doc-term-grain cache.
    tf = track_persist(
        toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    qterms = dfreq.orderBy(F.col("df").desc(), "tok").limit(3)
    scored = (tf.join(F.broadcast(qterms), "tok")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))  # 1-row scalar metadata
              .groupBy("doc_id")
              .agg(F.sum(
                  F.log((F.col("n") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5) + 1.0)
                  * F.col("tf") * 2.2
                  / (F.col("tf")
                     + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))))
                  .alias("score")))
    return (scored.select("doc_id", F.round("score", 4).alias("bm25"))
            .withColumn("rk", F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
                .cast("int"))
            .where(F.col("rk") <= 20))


@query("decontaminate_bloom", """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
  FROM documents
), pos AS (
  SELECT doc_id, source, generate_subscripts(ts, 1) AS p, unnest(ts) AS tok
  FROM toks
), grams AS (
  SELECT doc_id, source,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
             || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS g
  FROM pos
  WINDOW w AS (PARTITION BY doc_id ORDER BY p)
  QUALIFY lead(tok, 4) OVER w IS NOT NULL
), hashed AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(g), 1, 13))::BIGINT % 65536 AS h1,
         ('0x' || substr(md5(g), 14, 13))::BIGINT % 65536 AS h2
  FROM grams
), eval_bits AS (
  SELECT b >> 5 AS word_idx, bit_or(1 << (b & 31)) AS bits
  FROM (SELECT h1 AS b FROM hashed WHERE source = 'src0'
        UNION ALL
        SELECT h2 FROM hashed WHERE source = 'src0')
  GROUP BY 1
), train AS (
  SELECT DISTINCT doc_id, h1, h2 FROM hashed WHERE source <> 'src0'
)
SELECT t.doc_id, count(*)::BIGINT AS n_bloom_hits
FROM train t
LEFT JOIN eval_bits w1 ON w1.word_idx = t.h1 >> 5
LEFT JOIN eval_bits w2 ON w2.word_idx = t.h2 >> 5
WHERE (w1.bits & (1 << (t.h1 & 31))) <> 0
  AND (w2.bits & (1 << (t.h2 & 31))) <> 0
GROUP BY t.doc_id
""")
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a BLOOM SKETCH of the eval set instead of a
    join against it — the shape that scales when the training corpus
    is 100 TB: the eval suite's 5-grams compress into a 64 Kbit / k=2
    Bloom bitmap (2048 broadcast words), and every training gram is
    checked by two bit probes — NO shuffle of the eval side, no
    gram-keyed join at all. False positives possible (bounded by the
    bitmap load factor), false negatives impossible — the guarantee
    that matters for decontamination, pinned as a superset check
    against the exact join in tests/test_functions.py::
    test_bloom_decontamination_superset. Deterministic md5 bit
    positions keep the whole bitmap oracle-exact.

    Hits count DISTINCT (h1, h2) probe pairs per doc (gram text is
    dropped the moment it is hashed): the dedup shuffle carries 24-byte
    hash rows instead of gram strings, and the gram builder is the
    lead-chain form shared with the exact query (the zip-of-slices
    word_ngrams builder allocates 4 intermediate string arrays per doc
    — measured 2x slower at 10x data)."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    pos = docs.select("doc_id", "source", F.posexplode(toks).alias("p", "tok"))
    w = Window.partitionBy("doc_id").orderBy("p")
    leads = [F.lead("tok", i).over(w) for i in range(1, 5)]
    grams = (pos.select("doc_id", "source",
                        F.concat_ws(" ", F.col("tok"), *leads).alias("g"),
                        leads[-1].alias("_t4"))
             .where(F.col("_t4").isNotNull()))

    def h(start: int) -> F.Column:
        return (F.conv(F.substring(F.md5(F.col("g")), start, 13), 16, 10)
                .cast("long") % 65536)

    hashed = grams.select("doc_id", "source",
                          h(1).alias("h1"), h(14).alias("h2"))
    # ONE scan of the eval side: explode the two hash columns instead
    # of unionAll-ing two copies of the gram+md5 pipeline (r9 — the
    # union ran the whole token-explode + per-doc window + md5 chain
    # twice for the same rows; bit_or over the exploded bag is the
    # same bit set). The eval side is eval-suite-bounded, so the
    # pinned frame is small at any corpus scale.
    ev = track_persist(hashed.where(F.col("source") == "src0")
                       .select(F.explode(F.array("h1", "h2")).alias("b")))
    bits = (ev
            .groupBy((F.col("b") / 32).cast("long").alias("word_idx"))
            .agg(F.expr("bit_or(shiftleft(1, cast(b % 32 as int)))")
                 .alias("bits")))
    train = (hashed.where(F.col("source") != "src0")
             .select("doc_id", "h1", "h2").distinct())
    w1 = bits.select(F.col("word_idx").alias("i1"), F.col("bits").alias("b1"))
    w2 = bits.select(F.col("word_idx").alias("i2"), F.col("bits").alias("b2"))
    return (train
            .join(F.broadcast(w1),
                  (F.col("h1") / 32).cast("long") == F.col("i1"), "left")
            .join(F.broadcast(w2),
                  (F.col("h2") / 32).cast("long") == F.col("i2"), "left")
            .where((F.expr("b1 & shiftleft(1, cast(h1 % 32 as int))") != 0)
                   & (F.expr("b2 & shiftleft(1, cast(h2 % 32 as int))") != 0))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bloom_hits")))


@query("next_event_training_pairs", """
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER w AS pos,
         lag(event_type, 3) OVER w AS c1,
         lag(event_type, 2) OVER w AS c2,
         lag(event_type, 1) OVER w AS c3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, pos::INT AS pos,
       c1 || '>' || c2 || '>' || c3 AS context,
       event_type AS label
FROM seq WHERE c1 IS NOT NULL
""")
def next_event_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-dataset builder: one next-event-prediction training
    example per event with a full 3-event context window — (user,
    position, 'a>b>c' context, label) — the example-emission stage a
    behavioral-model pipeline runs before packing/splitting (the
    aggregate sibling is markov_transitions; THIS op keeps the
    examples).

    Scale: one shuffle keyed on user_id serves the row_number and all
    three lags (a single WindowExec over the same spec); emission is
    per-row, no second pass. Per-user sequences are the partition
    grain — the skew knob is user activity, same class as
    session_path_topk."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    out = ev.select(
        "user_id",
        F.row_number().over(w).cast("int").alias("pos"),
        F.lag("event_type", 3).over(w).alias("c1"),
        F.lag("event_type", 2).over(w).alias("c2"),
        F.lag("event_type", 1).over(w).alias("c3"),
        F.col("event_type").alias("label"))
    return (out.where(F.col("c1").isNotNull())
            .select("user_id", "pos",
                    F.concat_ws(">", "c1", "c2", "c3").alias("context"),
                    "label"))


# ---------------------------------------------------------------------------
# Round 7: corpus-release + fingerprinting + estimator-quality additions
# ---------------------------------------------------------------------------

@query("blocklist_filter_docs", """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), c AS (
  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         len(list_filter(toks,
             x -> x IN ('slow', 'error', 'spam')))::BIGINT AS n_blocked
  FROM t
)
SELECT doc_id, n_tokens, n_blocked,
       floor(n_blocked * 1000000 / greatest(n_tokens, 1))::BIGINT
         AS blocked_ratio_micro,
       floor(n_blocked * 1000000 / greatest(n_tokens, 1)) <= 0 AS keep
FROM c
""")
def blocklist_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist gate: drop any page containing a blocklisted
    token (C4's any-hit rule; max_ratio_micro generalizes to a rate).
    Exact-token, case-insensitive occurrence counts — per-row JVM array
    lambdas, zero UDF, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return T.blocklist_scrub(docs)


@query("winnowing_fingerprints", """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3 THEN
      [('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' '
                           || toks[i+2]), 1, 10))::BIGINT
         * 1048576 + (i - 1)
       for i in generate_series(1, len(toks) - 2)]
    ELSE [] END) AS c
  FROM t
), w AS (
  SELECT doc_id, c % 1048576 AS pos,
         count(*) OVER (PARTITION BY doc_id) AS n_grams,
         min(c) OVER (PARTITION BY doc_id ORDER BY c % 1048576
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM g
)
SELECT doc_id, (wmin // 1048576)::BIGINT AS fp_hash,
       min(wmin % 1048576)::INT AS fp_pos
FROM w
WHERE pos <= greatest(n_grams - 4, 0)
GROUP BY doc_id, wmin // 1048576
""")
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) document fingerprints: min-hash per sliding
    window over the word-3-gram hash sequence — any shared run of
    window+ngram-1 tokens between two docs shares a fingerprint (the
    positional guarantee MinHash doesn't give). Engine-exact via the
    single-int64 hash*2^20+pos packing (min-of-combined = min-hash with
    leftmost tie-break in every engine)."""
    docs = _t(spark, sf_dir, "documents")
    return T.winnow_fingerprints(docs, ngram=3, window=4)


@query("minhash_quality_report", """
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3 THEN
      list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     for i in generate_series(1, len(toks) - 2)])
    ELSE [] END) AS s
  FROM t
), mh AS (
  SELECT sh.doc_id, seeds.seed,
         min(('0x' || substr(md5(sh.s), 1, 15))::BIGINT
             + seeds.seed * (('0x' || substr(md5(sh.s), 16, 15))::BIGINT % 1000000007)) AS m
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed) seeds
  GROUP BY sh.doc_id, seeds.seed
), bands AS (
  SELECT doc_id, seed // 3 AS band,
         md5(string_agg(m::VARCHAR, '|' ORDER BY seed)) AS band_key
  FROM mh GROUP BY doc_id, seed // 3
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
), est AS (
  SELECT c.id_a, c.id_b,
         floor(count(*) FILTER (ma.m = mb.m) * 1000000 / 12 + 0.5)::BIGINT
           AS est_micro
  FROM cand c
  JOIN mh ma ON ma.doc_id = c.id_a
  JOIN mh mb ON mb.doc_id = c.id_b AND mb.seed = ma.seed
  GROUP BY c.id_a, c.id_b
), cnts AS (
  SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(sb.s)::BIGINT AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  LEFT JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY c.id_a, c.id_b
), ex AS (
  SELECT i.id_a, i.id_b,
         floor(i.i * 1000000 / greatest(ca.c + cb.c - i.i, 1) + 0.5)::BIGINT
           AS exact_micro
  FROM inter i
  JOIN cnts ca ON ca.doc_id = i.id_a
  JOIN cnts cb ON cb.doc_id = i.id_b
)
SELECT e.id_a, e.id_b, e.est_micro, x.exact_micro,
       abs(e.est_micro - x.exact_micro)::BIGINT AS abs_err_micro
FROM est e JOIN ex x ON x.id_a = e.id_a AND x.id_b = e.id_b
""")
def minhash_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-quality report over LSH candidates: signature
    agreement (the Jaccard estimate) vs exact shingle Jaccard per
    candidate pair, with absolute error — the pre-flight that sizes the
    signature width before a 100 TB dedup commit. Bucketed candidates
    only, never all pairs."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_quality_report(docs)


@query("mrl_truncation_eval", """
WITH v AS (
  SELECT vec_id, list_transform(embedding,
           x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv
  FROM embeddings
), p AS (
  SELECT vec_id AS id_a, qv AS va FROM v WHERE vec_id % 25 = 0
), pairs AS (
  SELECT p.id_a, c.vec_id AS id_b, d.d, p.va, c.qv AS vb
  FROM p JOIN v c ON c.vec_id <> p.id_a
  CROSS JOIN (VALUES (8), (16), (32)) d(d)
), s AS (
  SELECT id_a, id_b, d,
    floor(list_sum(list_transform(list_zip(va[1:d], vb[1:d]),
                                  q -> q[1] * q[2]))::BIGINT
          / (sqrt(greatest(list_sum(list_transform(va[1:d], x -> x*x))::BIGINT, 1))
             * sqrt(greatest(list_sum(list_transform(vb[1:d], x -> x*x))::BIGINT, 1)))
          * 1000000 + 0.5) / 1000000.0 AS sim_t,
    floor(list_sum(list_transform(list_zip(va, vb), q -> q[1] * q[2]))::BIGINT
          / (sqrt(greatest(list_sum(list_transform(va, x -> x*x))::BIGINT, 1))
             * sqrt(greatest(list_sum(list_transform(vb, x -> x*x))::BIGINT, 1)))
          * 1000000 + 0.5) / 1000000.0 AS sim_f
  FROM pairs
), r AS (
  SELECT id_a, d,
         row_number() OVER (PARTITION BY id_a, d
                            ORDER BY sim_t DESC, id_b) AS rt,
         row_number() OVER (PARTITION BY id_a, d
                            ORDER BY sim_f DESC, id_b) AS rf
  FROM s
)
SELECT id_a AS vec_id, d::INT AS trunc_dim,
       sum(CASE WHEN rt <= 5 AND rf <= 5 THEN 1 ELSE 0 END)::BIGINT
         AS overlap_at_k,
       floor(sum(CASE WHEN rt <= 5 AND rf <= 5 THEN 1 ELSE 0 END)
             * 1000000 / 5 + 0.5)::BIGINT AS recall_micro
FROM r GROUP BY 1, 2
""")
def mrl_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation eval: per probe vector, how much of the
    exact full-dim top-5 survives when cosine uses only the first
    8/16/32 components — grades prefix-dim storage/search before
    adopting it. Eval-by-contract probe subset (ann_recall class);
    engine-exact quantized sims over sliced int64 vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.mrl_truncation_eval(emb, dims=(8, 16, 32), k=5, probe_mod=25)


@query("winnowing_overlap_pairs", """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents WHERE doc_id IS NOT NULL
), g AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3 THEN
      [('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' '
                           || toks[i+2]), 1, 10))::BIGINT
         * 1048576 + (i - 1)
       for i in generate_series(1, len(toks) - 2)]
    ELSE [] END) AS c
  FROM t
), w AS (
  SELECT doc_id, c % 1048576 AS pos,
         count(*) OVER (PARTITION BY doc_id) AS n_grams,
         min(c) OVER (PARTITION BY doc_id ORDER BY c % 1048576
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM g
), fp AS (
  SELECT DISTINCT doc_id, (wmin // 1048576)::BIGINT AS fp_hash
  FROM w WHERE pos <= greatest(n_grams - 4, 0)
), rare AS (
  SELECT fp_hash FROM fp GROUP BY fp_hash
  HAVING count(*) <= 20
), f2 AS (
  SELECT fp.doc_id, fp.fp_hash FROM fp JOIN rare USING (fp_hash)
), sizes AS (
  SELECT doc_id, count(*) AS nf FROM f2 GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
  FROM f2 a JOIN f2 b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b, p.n_shared,
       floor(p.n_shared * 1000000
             / greatest(least(sa.nf, sb.nf), 1) + 0.5)::BIGINT
         AS overlap_micro
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.id_a
JOIN sizes sb ON sb.doc_id = p.id_b
WHERE p.n_shared >= 2
""")
def winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional near-dup pairs from WINNOWING fingerprints (the MOSS
    pipeline's second half): docs sharing >= 2 selected fingerprints,
    scored by containment of the smaller fingerprint set — catches
    copied PASSAGES that whole-doc MinHash dilutes away. Fingerprints
    present in > 20 docs are dropped before pairing (the MOSS
    common-code exclusion), which is also the skew guard: bucket
    fan-out is bounded by the doc-frequency cap, so the equi-join never
    degenerates on boilerplate grams. Integer counts + one rounded
    division — hash-exact."""
    docs = _t(spark, sf_dir, "documents")
    # capped fingerprints come from one fp_hash shuffle (see the
    # helper); the pair self-join reads that same partitioning, and its
    # sides pin MERGE (fan-out-sized — the SHJ-build-OOM class SCALE.md
    # §26 measured at sf100); doc-grain sizes keep shuffle_hash.
    f2 = T.capped_winnow_fingerprints(docs)
    sizes = f2.groupBy(F.col("doc_id").alias("sid")) \
        .agg(F.count(F.lit(1)).alias("nf"))
    a = f2.select(F.col("doc_id").alias("id_a"), "fp_hash")
    b = f2.select(F.col("doc_id").alias("id_b"), "fp_hash")
    pairs = (a.join(b.hint("merge"), "fp_hash")
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .where(F.col("n_shared") >= 2))
    return (pairs
            .join(sizes.withColumnRenamed("sid", "id_a")
                  .withColumnRenamed("nf", "na").hint("shuffle_hash"),
                  "id_a")
            .join(sizes.withColumnRenamed("sid", "id_b")
                  .withColumnRenamed("nf", "nb").hint("shuffle_hash"),
                  "id_b")
            .select("id_a", "id_b", "n_shared",
                    F.floor(F.col("n_shared") * 1_000_000
                            / F.greatest(F.least("na", "nb"), F.lit(1))
                            + F.lit(0.5)).cast("long")
                    .alias("overlap_micro")))


def _bpe_fertility_oracle(sf_dir: str) -> str:
    """Per-SF generated oracle for bpe_fertility_by_lang: wraps the
    full BPE train+encode chained-CTE replay (bpe_pipeline_oracle_sql)
    in a per-lang fertility rollup."""
    inner = T.bpe_pipeline_oracle_sql(rounds=6)
    return f"""WITH enc AS ({inner}),
t AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
           AS n_ws
  FROM documents
)
SELECT t.lang, count(*)::BIGINT AS n_docs,
       sum(enc.n_bpe)::BIGINT AS n_bpe,
       sum(t.n_ws)::BIGINT AS n_ws,
       floor(sum(enc.n_bpe) * 1000000
             / greatest(sum(t.n_ws), 1) + 0.5)::BIGINT AS fertility_micro
FROM enc JOIN t USING (doc_id)
GROUP BY t.lang"""


@query("bpe_fertility_by_lang", _bpe_fertility_oracle)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language under the corpus-trained BPE:
    encoded tokens per whitespace word — the standard multilingual
    tokenizer-equity report (high fertility = that language pays more
    sequence length per word; re-balance the merge training mix). Runs
    the real train(6 rounds, on the driver)+encode(Arrow pandas UDF)
    loop and rolls up at lang grain; oracle = the BPE chained-CTE
    replay wrapped in the same rollup (integer sums, one rounded
    division)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    table = T.bpe_train_merges(docs.select("doc_id", "text"),
                               rounds=6).collect()
    merges = [(r["a"], r["b"])
              for r in sorted(table, key=lambda r: r["round"])]
    enc = T.bpe_encode(docs, merges=merges)
    return (enc.select(
        "lang", F.size("bpe_tokens").alias("n_bpe"),
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .alias("n_ws"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_bpe").alias("n_bpe"),
             F.sum("n_ws").alias("n_ws"))
        .select("lang", "n_docs", "n_bpe", "n_ws",
                F.floor(F.col("n_bpe") * 1_000_000
                        / F.greatest(F.col("n_ws"), F.lit(1))
                        + F.lit(0.5)).cast("long")
                .alias("fertility_micro")))


#: Shared oracle CTE deriving each doc's dHash bands from the PIXEL
#: MATH alone (md5-derived base values -> channel formula -> integer
#: luminance -> 9x8 block means -> adjacent-column bits -> 16-bit
#: bands) — independently of the BMP bytes. The engine path builds a
#: real BMP file and PARSES it back (functions/multimodal.py), so any
#: decode bug (header offsets, 4-byte row padding, bottom-up flip,
#: BGR order) lands here as a hash mismatch.
_BMP_BANDS_CTE = """
heads AS (
  SELECT doc_id,
         array_to_string(list_filter(string_split(lower(text), ' '),
                                     x -> x <> '')[1:8], ' ') AS head
  FROM documents
), rows AS (
  SELECT doc_id, r,
         md5(head || ':' || r::VARCHAR) AS h1,
         md5(head || ':' || r::VARCHAR || ':x') AS h2
  FROM heads CROSS JOIN generate_series(0, 15) s(r)
), px AS (
  SELECT doc_id, r, c,
         CASE WHEN c < 16 THEN ('0x' || substr(h1, 2*c + 1, 2))::INT
              ELSE ('0x' || substr(h2, 2*(c - 16) + 1, 2))::INT
         END AS v
  FROM rows CROSS JOIN generate_series(0, 17) s2(c)
), lum AS (
  SELECT doc_id, r, c,
         (299 * v + 587 * ((2 * v) % 256) + 114 * ((3 * v) % 256)) // 1000
           AS g
  FROM px
), avg9x8 AS (
  SELECT doc_id, r // 2 AS rr, c // 2 AS cc, sum(g) // 4 AS a
  FROM lum GROUP BY 1, 2, 3
), bits AS (
  SELECT l.doc_id, l.rr, l.cc AS j,
         CASE WHEN l.a > rt.a THEN 1 ELSE 0 END AS bit
  FROM avg9x8 l JOIN avg9x8 rt
    ON rt.doc_id = l.doc_id AND rt.rr = l.rr AND rt.cc = l.cc + 1
), bands AS (
  SELECT doc_id, (rr // 2)::INT AS k,
         sum(bit << (15 - ((rr % 2) * 8 + j)))::INT AS bv
  FROM bits GROUP BY 1, 2
), feat AS (
  SELECT doc_id,
         max(CASE WHEN k = 0 THEN bv END)::INT AS b0,
         max(CASE WHEN k = 1 THEN bv END)::INT AS b1,
         max(CASE WHEN k = 2 THEN bv END)::INT AS b2,
         max(CASE WHEN k = 3 THEN bv END)::INT AS b3
  FROM bands GROUP BY doc_id
)"""


@query("image_bmp_decode_features", f"""
WITH {_BMP_BANDS_CTE}
SELECT doc_id, 18::INT AS width, 16::INT AS height, 24::INT AS bpp,
       b0, b1, b2, b3
FROM feat
""")
def image_bmp_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode gate: synthesize an actual 18x16 24bpp BMP per
    doc, parse it back with the pure-Python BMP decoder (struct — no
    pillow), and emit header fields + dHash bands. The oracle
    re-derives the expected values from the pixel MATH alone, so the
    round-trip (encode -> real parse) must be the identity for the
    hash to match — padding, bottom-up flip, BGR order, and header
    offsets are all under test. Two Arrow map passes, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    from .functions.multimodal import decode_bmp_dhash, synth_bmp
    return decode_bmp_dhash(synth_bmp(docs))


@query("image_dhash_neardup_pairs", f"""
WITH {_BMP_BANDS_CTE}, e AS (
  SELECT doc_id, k, bv FROM bands
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM e a JOIN e b ON a.k = b.k AND a.bv = b.bv
  WHERE a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       (bit_count(xor(fa.b0, fb.b0)) + bit_count(xor(fa.b1, fb.b1))
        + bit_count(xor(fa.b2, fb.b2))
        + bit_count(xor(fa.b3, fb.b3)))::INT AS hamming
FROM cand c
JOIN feat fa ON fa.doc_id = c.id_a
JOIN feat fb ON fb.doc_id = c.id_b
WHERE bit_count(xor(fa.b0, fb.b0)) + bit_count(xor(fa.b1, fb.b1))
      + bit_count(xor(fa.b2, fb.b2)) + bit_count(xor(fa.b3, fb.b3)) <= 3
""")
def image_dhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-level near-dup via dHash banding: pigeonhole over the four
    16-bit bands (hamming <= 3 across 64 bits forces >= 1 equal band),
    per-band equi-join candidates, exact hamming (bit_count of xor)
    verified on candidates only — the SimHash plan shape applied to a
    REAL image decode path. Exact-duplicate docs produce hamming-0
    pairs; the near-dup tail is the perceptual margin."""
    docs = _t(spark, sf_dir, "documents")
    from .functions.multimodal import (decode_bmp_dhash,
                                       dhash_neardup_pairs, synth_bmp)
    feat = decode_bmp_dhash(synth_bmp(docs))
    return dhash_neardup_pairs(feat, max_hamming=3)


@query("audio_wav_decode_features", """
WITH heads AS (
  SELECT doc_id,
         array_to_string(list_filter(string_split(lower(text), ' '),
                                     x -> x <> '')[1:8], ' ') AS head
  FROM documents
), blk AS (
  SELECT doc_id, k, md5(head || ':w:' || k::VARCHAR) AS h
  FROM heads CROSS JOIN generate_series(0, 7) s(k)
), smp AS (
  SELECT doc_id, k * 8 + j AS i,
         ('0x' || substr(h, 4*j + 1, 2))::INT
           + 256 * ('0x' || substr(h, 4*j + 3, 2))::INT AS u
  FROM blk CROSS JOIN generate_series(0, 7) s2(j)
), v AS (
  SELECT doc_id, i,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
  FROM smp
), win AS (
  SELECT d.doc_id, w.wi
  FROM (SELECT DISTINCT doc_id FROM v) d
  CROSS JOIN generate_series(0, 6) w(wi)
), jw AS (
  SELECT w.doc_id, w.wi, v.i, v.v,
         lag(v.v) OVER (PARTITION BY w.doc_id, w.wi ORDER BY v.i) AS pv
  FROM win w
  JOIN v ON v.doc_id = w.doc_id
        AND v.i >= w.wi * 8 AND v.i < w.wi * 8 + 16
)
SELECT doc_id, wi::INT AS win_idx, 16::INT AS n_samples,
       sum(v * v)::BIGINT AS energy,
       max(abs(v))::INT AS peak,
       sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
                THEN 1 ELSE 0 END)::INT AS zero_crossings
FROM jw GROUP BY doc_id, wi
""")
def audio_wav_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-container gate, the WAV sibling of the BMP round-trip:
    synthesize an actual RIFF/WAVE file per doc (canonical fmt chunk,
    an odd-sized junk chunk exercising the RIFF even-padding rule, then
    data), parse it back by WALKING CHUNKS (functions/multimodal.py::
    decode_wav_pcm — unknown chunks skipped, PCM/mono/16-bit
    validated), and run the integer windowed-PCM features over the
    extracted payload. The oracle re-derives the samples from md5 math
    alone, so a chunk-walk bug (padding, offsets, fmt fields) breaks
    the hash. Three Arrow map passes, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    from .functions.multimodal import (decode_wav_pcm, pcm_window_features,
                                       synth_wav)
    pcm = decode_wav_pcm(synth_wav(docs))
    return pcm_window_features(pcm, blob_col="pcm", window=16, hop=8)


@query("video_avi_frame_sample", """
WITH heads AS (
  SELECT doc_id,
         array_to_string(list_filter(string_split(lower(text), ' '),
                                     x -> x <> '')[1:8], ' ') AS head
  FROM documents
), fr AS (
  SELECT doc_id, f, r,
         md5(head || ':v:' || f::VARCHAR || ':' || r::VARCHAR)
           || substr(md5(head || ':v:' || f::VARCHAR || ':'
                         || r::VARCHAR || ':x'), 1, 4) AS hx
  FROM heads
  CROSS JOIN (VALUES (0), (2), (4)) fs(f)
  CROSS JOIN generate_series(0, 15) rs(r)
), lum AS (
  SELECT doc_id, f,
         sum(('0x' || substr(hx, 2*c + 1, 2))::INT)::BIGINT AS tot
  FROM fr CROSS JOIN generate_series(0, 17) cs(c)
  GROUP BY doc_id, f
), hexstr AS (
  SELECT doc_id, f, string_agg(hx, '' ORDER BY r) AS hs
  FROM fr GROUP BY doc_id, f
)
SELECT l.doc_id, l.f::INT AS frame_idx, 18::INT AS width,
       16::INT AS height, (l.tot // 288)::INT AS mean_lum,
       md5(h.hs) AS frame_md5
FROM lum l JOIN hexstr h ON h.doc_id = l.doc_id AND h.f = l.f
""")
def video_avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container gate completing the triad (BMP image,
    RIFF/WAVE audio): synthesize an actual minimal AVI per doc (nested
    RIFF LISTs — hdrl/avih/strl headers, movi of '00db' raw frames,
    a padded JUNK chunk mid-stream), parse it back by walking the
    NESTED list structure (functions/multimodal.py::decode_avi_frames —
    declared-vs-present frame count enforced), and sample every 2nd
    frame's integer mean luminance + hex-payload md5 fingerprint. The
    oracle re-derives frames from md5 math alone — a nesting/padding/
    offset bug in the walker breaks the hash. Zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    from .functions.multimodal import decode_avi_frames, synth_avi
    return decode_avi_frames(synth_avi(docs), every_k=2)


@query("multimodal_features_real_bmp", f"""
WITH {_BMP_BANDS_CTE}, blk AS (
  SELECT doc_id,
         (r // 4) * 4 + (CASE WHEN c < 4 THEN 0 WHEN c < 9 THEN 1
                              WHEN c < 13 THEN 2 ELSE 3 END) AS i,
         sum(g)::BIGINT AS tot, count(*)::BIGINT AS n
  FROM lum
  GROUP BY doc_id, (r // 4) * 4 + (CASE WHEN c < 4 THEN 0 WHEN c < 9
                                        THEN 1 WHEN c < 13 THEN 2
                                        ELSE 3 END)
), q AS (
  SELECT doc_id, i, tot // n AS v FROM blk
), nrm AS (
  SELECT doc_id, sqrt(sum(v * v)::BIGINT) AS den FROM q GROUP BY doc_id
)
SELECT q.doc_id, 'image/bmp' AS media_type, 1 AS n_frames,
       round((max(CASE WHEN i = 0 THEN v END)
             / greatest(max(den), 1.0))::REAL::DOUBLE, 4) AS f0,
       round((max(CASE WHEN i = 5 THEN v END)
             / greatest(max(den), 1.0))::REAL::DOUBLE, 4) AS f5,
       round((max(CASE WHEN i = 10 THEN v END)
             / greatest(max(den), 1.0))::REAL::DOUBLE, 4) AS f10,
       round((max(CASE WHEN i = 15 THEN v END)
             / greatest(max(den), 1.0))::REAL::DOUBLE, 4) AS f15
FROM q JOIN nrm ON nrm.doc_id = q.doc_id
GROUP BY q.doc_id
""")
def multimodal_features_real_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generic media-feature pipeline running a REAL in-container
    decode end to end: synth actual BMP files -> magic-byte sniff tags
    them image/bmp -> ``extract_features`` (the one decode rule: an
    image blob starting with ``BM``) struct-parses the bytes and emits
    floor-boundary block-mean luminance features
    (integer means + exact int64 norm, so the float32 vector is
    engine-reproducible). The oracle re-derives the features from the
    pixel math — the whole write->sniff->parse->featurize chain must be
    the identity to hash green. Four spread feature components sampled
    (the full vector feeds the similarity ops downstream)."""
    docs = _t(spark, sf_dir, "documents")
    from .functions.multimodal import (attach_media_metadata,
                                       extract_features, synth_bmp)
    media = attach_media_metadata(synth_bmp(docs), blob_col="image")
    feats = extract_features(media, blob_col="image", dim=16)

    def f(i):
        return F.round(F.element_at("feature", i + 1).cast("double"), 4) \
            .alias(f"f{i}")

    return feats.select("doc_id", "media_type", "n_frames",
                        f(0), f(5), f(10), f(15))


# ---------------------------------------------------------------------------
# Data layout: Z-order clustering effectiveness (round 7)
# ---------------------------------------------------------------------------

#: Morton interleave of two 8-bit quantized values, matching
#: operators/layout.py::zorder_key's bit placement (bit j of column i at
#: position j*n + i): qa occupies even bit positions, qb odd.
_MORTON8_SQL = " + ".join(
    f"(((qa >> {j}) & 1) << {2 * j}) + (((qb >> {j}) & 1) << {2 * j + 1})"
    for j in range(8))


@query("zorder_layout_audit", f"""
WITH base AS (
  SELECT l_orderkey, l_linenumber, l_partkey AS a, l_suppkey AS b
  FROM lineitem
), bounds AS (
  SELECT min(a) AS la, max(a) AS ha, min(b) AS lb, max(b) AS hb FROM base
), q AS (
  SELECT l_orderkey, l_linenumber, a, b,
         least(255, ((a - la) * 255) // greatest(ha - la, 1)) AS qa,
         least(255, ((b - lb) * 255) // greatest(hb - lb, 1)) AS qb
  FROM base CROSS JOIN bounds
), z AS (
  SELECT a, b, l_orderkey, l_linenumber, {_MORTON8_SQL} AS zkey FROM q
), bk AS (
  SELECT a, b,
         ntile(64) OVER (ORDER BY zkey, l_orderkey, l_linenumber) AS bz,
         ntile(64) OVER (ORDER BY l_orderkey, l_linenumber) AS bi
  FROM z
), lng AS (
  SELECT 'zorder' AS layout, bz AS bucket, a, b FROM bk
  UNION ALL
  SELECT 'insertion' AS layout, bi AS bucket, a, b FROM bk
), stats AS (
  SELECT layout, bucket, min(a) AS mna, max(a) AS mxa,
         min(b) AS mnb, max(b) AS mxb
  FROM lng GROUP BY layout, bucket
), statsl AS (
  SELECT layout, bucket, 'part' AS dim, mna AS mn, mxa AS mx FROM stats
  UNION ALL
  SELECT layout, bucket, 'supp' AS dim, mnb AS mn, mxb AS mx FROM stats
), probes AS (
  SELECT 'part' AS dim, k::INT AS k,
         la + ((2 * k + 1) * greatest(ha - la, 1)) // 16 AS p
  FROM bounds CROSS JOIN generate_series(0, 7) s(k)
  UNION ALL
  SELECT 'supp' AS dim, k::INT AS k,
         lb + ((2 * k + 1) * greatest(hb - lb, 1)) // 16 AS p
  FROM bounds CROSS JOIN generate_series(0, 7) s(k)
), doms AS (
  SELECT 'part' AS dim, greatest(ha - la, 1) AS dom FROM bounds
  UNION ALL
  SELECT 'supp' AS dim, greatest(hb - lb, 1) AS dom FROM bounds
), hits AS (
  SELECT s.layout, s.dim,
         sum(CASE WHEN p.p BETWEEN s.mn AND s.mx THEN 1 ELSE 0 END)::BIGINT
           AS buckets_scanned_total
  FROM statsl s JOIN probes p ON p.dim = s.dim
  GROUP BY s.layout, s.dim
), spans AS (
  SELECT layout, dim, sum(mx - mn)::BIGINT AS span_sum
  FROM statsl GROUP BY layout, dim
)
SELECT h.layout, h.dim, 64 AS buckets, 8 AS probes,
       h.buckets_scanned_total,
       (h.buckets_scanned_total * 1000000) // 512 AS scanned_ratio_micro,
       (sp.span_sum * 1000000) // (64 * d.dom) AS avg_bucket_span_micro
FROM hits h
JOIN spans sp ON sp.layout = h.layout AND sp.dim = h.dim
JOIN doms d ON d.dim = h.dim
""")
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering effectiveness, MEASURED: cluster lineitem 64
    ways by the Morton key of (l_partkey, l_suppkey) vs by insertion
    order, then replay an 8-point probe grid per dimension against each
    bucket's min/max footer stats — exactly the skip-or-scan decision a
    parquet reader makes per row group. ``buckets_scanned_total`` /
    ``avg_bucket_span_micro`` quantify WHY z-ordered writes prune on
    BOTH dimensions while insertion order prunes on neither (the
    measurement twin of operators/layout.py::zorder_sorted, which the
    write-path test exercises on real files).

    Scale shape: quantization bounds are one 1-row aggregate broadcast
    back; bucket assignment is the distributed ordinal (range shuffle +
    broadcast offsets — NO Exchange SinglePartition) with ntile's
    arithmetic applied in closed form; the audit aggregates 64 bucket
    rows x 16 probes of bounded metadata. Everything is int64 with
    truncating division — engine-exact, partitioning-independent."""
    from .operators import distributed_ordinal
    from .operators.layout import (integer_quantize, ntile_arithmetic,
                                   zorder_key)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.col("l_partkey").alias("a"), F.col("l_suppkey").alias("b"))
    bounds = li.agg(F.min("a").alias("la"), F.max("a").alias("ha"),
                    F.min("b").alias("lb"), F.max("b").alias("hb"))
    # r9, revised after a measurement-caught revert: a first rewrite
    # ran the two layouts as INDEPENDENT slim ordinal branches
    # (5.60 -> 3.76 s at sf0.1) — but (l_orderkey, l_linenumber) is
    # NOT unique in the synthetic lineitem (6000 rows / 4599 distinct
    # keys at sf0.001), so both ntile orderings carry ties and the
    # audit's min/max stats are pinned on Spark and DuckDB breaking
    # those ties identically; feeding the insertion ordinal from the
    # raw scan instead of the z-ranked frame changed the tie arrival
    # order and flipped one bucket boundary (sweep-caught: 1-row
    # avg_bucket_span_micro mismatch at sf0.001). The CHAINED ordinal
    # pipeline therefore stays.
    # What is kept from the rewrite (provably order-preserving: same
    # rows, same keys, same arrival order into each range exchange,
    # stable within-partition sort): the broadcast bounds columns
    # (la/ha/lb/hb/qa/qb) are dropped BEFORE the first range shuffle
    # instead of riding both ordinal shuffles and persists (guide
    # §2.3). A two-aggregate stats split was also tried and dropped —
    # consuming the ranked frame twice duplicates every
    # above-the-cache plan subtree (131 -> 235 Exchange nodes); the
    # explode doubles rows into a map-side partial aggregate, which is
    # the cheaper half of that trade.
    q = (li.crossJoin(F.broadcast(bounds))
         .withColumn("qa", integer_quantize(
             F.col("a"), F.col("la"), F.col("ha"), bits=8))
         .withColumn("qb", integer_quantize(
             F.col("b"), F.col("lb"), F.col("hb"), bits=8))
         .withColumn("zkey", zorder_key([F.col("qa"), F.col("qb")],
                                        bits=8))
         .select("zkey", "l_orderkey", "l_linenumber", "a", "b"))
    oz = distributed_ordinal(
        q, order_by=["zkey", "l_orderkey", "l_linenumber"],
        idx="rz", total_col="__n")
    ob = distributed_ordinal(
        oz, order_by=["l_orderkey", "l_linenumber"], idx="ri")
    bk = ob.select(
        "a", "b",
        ntile_arithmetic(F.col("rz"), F.col("__n"), 64).alias("bz"),
        ntile_arithmetic(F.col("ri"), F.col("__n"), 64).alias("bi"))
    lng = (bk.select(F.explode(F.array(
        F.struct(F.lit("zorder").alias("layout"),
                 F.col("bz").alias("bucket")),
        F.struct(F.lit("insertion").alias("layout"),
                 F.col("bi").alias("bucket")))).alias("lb"), "a", "b")
        .select(F.col("lb.layout").alias("layout"),
                F.col("lb.bucket").alias("bucket"), "a", "b"))
    stats = lng.groupBy("layout", "bucket").agg(
        F.min("a").alias("mna"), F.max("a").alias("mxa"),
        F.min("b").alias("mnb"), F.max("b").alias("mxb"))
    statsl = (stats.select(
        "layout", "bucket", F.lit("part").alias("dim"),
        F.col("mna").alias("mn"), F.col("mxa").alias("mx"))
        .unionByName(stats.select(
            "layout", "bucket", F.lit("supp").alias("dim"),
            F.col("mnb").alias("mn"), F.col("mxb").alias("mx"))))
    # 16-row probe grid (8 equal-width cell midpoints per dimension),
    # derived from the same 1-row bounds aggregate — bounded metadata
    probes = (bounds
              .select(F.explode(F.sequence(F.lit(0), F.lit(7))).alias("k"),
                      "la", "ha", "lb", "hb")
              .select(F.explode(F.array(
                  F.struct(
                      F.lit("part").alias("dim"), F.col("k"),
                      F.expr("la + ((2 * k + 1) * greatest(ha - la, 1)) "
                             "div 16").alias("p")),
                  F.struct(
                      F.lit("supp").alias("dim"), F.col("k"),
                      F.expr("lb + ((2 * k + 1) * greatest(hb - lb, 1)) "
                             "div 16").alias("p")))).alias("pr"))
              .select("pr.dim", "pr.k", "pr.p"))
    doms = (bounds.select(F.explode(F.array(
        F.struct(F.lit("part").alias("dim"),
                 F.expr("greatest(ha - la, 1)").alias("dom")),
        F.struct(F.lit("supp").alias("dim"),
                 F.expr("greatest(hb - lb, 1)").alias("dom")))).alias("d"))
        .select("d.dim", "d.dom"))
    hits = (statsl.join(F.broadcast(probes), "dim")
            .groupBy("layout", "dim")
            .agg(F.sum(F.when((F.col("p") >= F.col("mn"))
                              & (F.col("p") <= F.col("mx")), 1)
                       .otherwise(0)).cast("long")
                 .alias("buckets_scanned_total")))
    spans = (statsl.groupBy("layout", "dim")
             .agg(F.sum(F.col("mx") - F.col("mn")).cast("long")
                  .alias("span_sum")))
    return (hits.join(spans, ["layout", "dim"])
            .join(F.broadcast(doms), "dim")
            .select(
                "layout", "dim",
                F.lit(64).alias("buckets"), F.lit(8).alias("probes"),
                "buckets_scanned_total",
                F.expr("(buckets_scanned_total * 1000000) div 512")
                  .alias("scanned_ratio_micro"),
                F.expr("(span_sum * 1000000) div (64 * dom)")
                  .alias("avg_bucket_span_micro")))


# ---------------------------------------------------------------------------
# Probabilistic record linkage: Fellegi–Sunter over LSH blocks (round 7)
# ---------------------------------------------------------------------------

def _fs_weight_sql(k: str) -> str:
    return (f"CASE WHEN ag_{k} THEN (m_{k} * 1000000) // u_{k} "
            f"ELSE ((1000000 - m_{k}) * 1000000) // (1000000 - u_{k}) END")


def _fs_mu_sql(src: str, cls: str) -> str:
    """m/u estimation CTE body: one aggregate over ``src`` pairs with
    0/1 classification column ``cls`` — micro-units clamped [1, 999999]
    (mirrors functions/dedup.py::_fs_mu)."""
    parts = []
    for k in ("lang", "source", "len", "head"):
        parts.append(
            f"least(greatest(sum(CASE WHEN ag_{k} AND {cls} = 1 THEN 1 "
            f"ELSE 0 END) * 1000000 // greatest(sum({cls}), 1), 1), "
            f"999999) AS m_{k}")
        parts.append(
            f"least(greatest(sum(CASE WHEN ag_{k} AND {cls} = 0 THEN 1 "
            f"ELSE 0 END) * 1000000 // greatest(sum(1 - {cls}), 1), 1), "
            f"999999) AS u_{k}")
    return f"SELECT {', '.join(parts)} FROM {src}"


@query("record_linkage_fs", f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3 THEN
      list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     for i in generate_series(1, len(toks) - 2)])
    ELSE [] END) AS s
  FROM t
), mh AS (
  SELECT sh.doc_id, seeds.seed,
         min(('0x' || substr(md5(sh.s), 1, 15))::BIGINT
             + seeds.seed * (('0x' || substr(md5(sh.s), 16, 15))::BIGINT % 1000000007)) AS m
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS seed) seeds
  GROUP BY sh.doc_id, seeds.seed
), bands AS (
  SELECT doc_id, seed // 3 AS band,
         md5(string_agg(m::VARCHAR, '|' ORDER BY seed)) AS band_key
  FROM mh GROUP BY doc_id, seed // 3
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
), cnts AS (
  SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(sb.s)::BIGINT AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  LEFT JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY c.id_a, c.id_b
), ex AS (
  SELECT i.id_a, i.id_b,
         (i.i * 1000000) // greatest(ca.c + cb.c - i.i, 1) AS jaccard_micro
  FROM inter i
  JOIN cnts ca ON ca.doc_id = i.id_a
  JOIN cnts cb ON cb.doc_id = i.id_b
), attrs AS (
  SELECT doc_id, lang, source, n_chars, lower(substr(text, 1, 12)) AS head
  FROM documents
), pr AS (
  SELECT e.id_a, e.id_b, e.jaccard_micro,
         (a.lang = b.lang) AS ag_lang,
         (a.source = b.source) AS ag_source,
         (abs(a.n_chars - b.n_chars) * 10 <= least(a.n_chars, b.n_chars))
           AS ag_len,
         (a.head = b.head) AS ag_head,
         CASE WHEN e.jaccard_micro >= 500000 THEN 1 ELSE 0 END AS seed
  FROM ex e
  JOIN attrs a ON a.doc_id = e.id_a
  JOIN attrs b ON b.doc_id = e.id_b
), st1 AS (
  {_fs_mu_sql('pr', 'seed')}
), w1 AS (
  SELECT pr.*, ({' + '.join(_fs_weight_sql(k) for k in ('lang', 'source', 'len', 'head'))})::BIGINT
           AS score_seed_micro
  FROM pr CROSS JOIN st1
), c1 AS (
  SELECT w1.*, CASE WHEN score_seed_micro >= 4000000 THEN 1 ELSE 0 END AS cls
  FROM w1
), st2 AS (
  {_fs_mu_sql('c1', 'cls')}
), w2 AS (
  SELECT c1.id_a, c1.id_b, c1.jaccard_micro,
         c1.ag_lang, c1.ag_source, c1.ag_len, c1.ag_head,
         c1.score_seed_micro,
         ({' + '.join(_fs_weight_sql(k) for k in ('lang', 'source', 'len', 'head'))})::BIGINT
           AS score_micro
  FROM c1 CROSS JOIN st2
)
SELECT id_a, id_b, jaccard_micro,
       (CASE WHEN ag_lang THEN 1 ELSE 0 END + CASE WHEN ag_source THEN 1 ELSE 0 END
        + CASE WHEN ag_len THEN 1 ELSE 0 END + CASE WHEN ag_head THEN 1 ELSE 0 END)::INT
         AS n_agree,
       score_seed_micro, score_micro,
       score_micro >= 4000000 AS matched
FROM w2
""")
def record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (functions/dedup.py::
    fellegi_sunter_link): MinHash-LSH blocking -> four-field comparison
    vectors -> unsupervised m/u estimation seeded by exact Jaccard ->
    integer-odds additive scoring -> ONE engine-exact EM refinement.
    The model-based sibling of fuzzy_name_match_pairs' hand rule and
    the probabilistic half of entity resolution: at 100 TB the pair set
    comes from the same bucketed blocker as the dedup pipeline, the m/u
    "model fit" is two 1-row broadcast aggregates, and every weight is
    an exact int64 odds ratio (a monotone stand-in for the classical
    log2 weights, which no two libms agree on to the last bit)."""
    docs = _t(spark, sf_dir, "documents")
    return D.fellegi_sunter_link(docs)


# ---------------------------------------------------------------------------
# Spectral band energies on the real WAV decode path (round 7)
# ---------------------------------------------------------------------------

from .functions.multimodal import dft_basis_values_sql as _dft_vals  # noqa: E402


@query("audio_dft_band_energy", f"""
WITH heads AS (
  SELECT doc_id,
         array_to_string(list_filter(string_split(lower(text), ' '),
                                     x -> x <> '')[1:8], ' ') AS head
  FROM documents
), blk AS (
  SELECT doc_id, k, md5(head || ':w:' || k::VARCHAR) AS h
  FROM heads CROSS JOIN generate_series(0, 7) s(k)
), smp AS (
  SELECT doc_id, k * 8 + j AS i,
         ('0x' || substr(h, 4*j + 1, 2))::INT
           + 256 * ('0x' || substr(h, 4*j + 3, 2))::INT AS u
  FROM blk CROSS JOIN generate_series(0, 7) s2(j)
), v AS (
  SELECT doc_id, i,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
  FROM smp
), tab AS (
  SELECT b.bin, i.i, b.cs[i.i + 1] AS c, b.sn[i.i + 1] AS s
  FROM {_dft_vals()} b(bin, cs, sn)
  CROSS JOIN generate_series(0, 63) i(i)
), corr AS (
  SELECT v.doc_id, t.bin,
         sum(v.v::BIGINT * t.c)::BIGINT AS re,
         sum(v.v::BIGINT * t.s)::BIGINT AS im
  FROM v JOIN tab t ON t.i = v.i
  GROUP BY v.doc_id, t.bin
)
SELECT doc_id, bin::INT AS bin,
       (abs(re) // 1000000)::BIGINT AS re_mag,
       (abs(im) // 1000000)::BIGINT AS im_mag,
       ((abs(re) // 1000000) * (abs(re) // 1000000)
        + (abs(im) // 1000000) * (abs(im) // 1000000))::BIGINT
         AS band_energy
FROM corr
""")
def audio_dft_band_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral band energies over the REAL WAV decode chain: synth an
    actual RIFF/WAVE file per doc -> chunk-walk parse back the PCM ->
    exact integer DFT correlation against a quantized cos/sin basis at
    bins {{1,2,3,5}} (functions/multimodal.py::pcm_dft_band_energy).
    The audio-fingerprint primitive: band-energy vectors are the input
    to Shazam-style landmark hashes and VAD gates. The oracle
    re-derives the samples from the md5 math AND the transform from the
    same literal micro-unit basis, so a decode bug or a drifting cos
    breaks the hash. One Arrow map pass over the clip bytes, zero
    shuffle; the basis matrix is a per-executor constant."""
    docs = _t(spark, sf_dir, "documents")
    from .functions.multimodal import (decode_wav_pcm, pcm_dft_band_energy,
                                       synth_wav)
    return pcm_dft_band_energy(decode_wav_pcm(synth_wav(docs)),
                               blob_col="pcm")


# ---------------------------------------------------------------------------
# MMR diversity re-ranking (round 7)
# ---------------------------------------------------------------------------

#: engine-exact micro-unit cosine between two BIGINT list columns (the
#: quantized_cosine formula before its final /1e6)
def _qcos_micro_sql(a: str, b: str) -> str:
    return (f"floor(list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> p[1] * p[2]))::BIGINT "
            f"/ (sqrt(greatest(list_sum(list_transform({a}, "
            f"x -> x * x))::BIGINT, 1)) "
            f"* sqrt(greatest(list_sum(list_transform({b}, "
            f"x -> x * x))::BIGINT, 1))) "
            f"* 1000000 + 0.5)::BIGINT")


@query("mmr_diverse_topk", f"""
WITH q AS (
  SELECT label AS grp, vec_id AS vid,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv
  FROM embeddings
), cd AS (
  SELECT grp, generate_subscripts(qv, 1) AS dim, unnest(qv) AS c FROM q
), cm AS (
  SELECT grp, dim, sum(c) AS s, count(*) AS n FROM cd GROUP BY grp, dim
), cent AS (
  SELECT grp, list((s + n * 1000000) // n - 1000000 ORDER BY dim) AS cv
  FROM cm GROUP BY grp
), rel AS (
  SELECT q.grp, q.vid, q.qv,
         {_qcos_micro_sql('q.qv', 'c.cv')} AS rel_micro
  FROM q JOIN cent c ON c.grp = q.grp
), cand AS (
  SELECT * FROM (
    SELECT rel.*, row_number() OVER (
      PARTITION BY grp ORDER BY rel_micro DESC, vid) AS rn FROM rel)
  WHERE rn <= 8
), sims AS (
  SELECT a.grp, a.vid AS id_a, b.vid AS id_b,
         {_qcos_micro_sql('a.qv', 'b.qv')} AS sim
  FROM cand a JOIN cand b ON a.grp = b.grp AND a.vid <> b.vid
), s1 AS (
  SELECT grp, vid, rel_micro FROM cand WHERE rn = 1
), r2 AS (
  SELECT c.grp, c.vid, c.rel_micro, s.sim AS maxsim
  FROM cand c
  JOIN s1 ON s1.grp = c.grp AND c.vid <> s1.vid
  JOIN sims s ON s.grp = c.grp AND s.id_a = c.vid AND s.id_b = s1.vid
), s2 AS (
  SELECT grp, vid, rel_micro, maxsim FROM (
    SELECT r2.*, row_number() OVER (
      PARTITION BY grp
      ORDER BY (7 * rel_micro - 3 * maxsim) DESC, vid) AS rn2 FROM r2)
  WHERE rn2 = 1
), r3 AS (
  SELECT c.grp, c.vid, c.rel_micro, greatest(sa.sim, sb.sim) AS maxsim
  FROM cand c
  JOIN s1 ON s1.grp = c.grp
  JOIN s2 ON s2.grp = c.grp
  JOIN sims sa ON sa.grp = c.grp AND sa.id_a = c.vid AND sa.id_b = s1.vid
  JOIN sims sb ON sb.grp = c.grp AND sb.id_a = c.vid AND sb.id_b = s2.vid
  WHERE c.vid <> s1.vid AND c.vid <> s2.vid
), s3 AS (
  SELECT grp, vid, rel_micro, maxsim FROM (
    SELECT r3.*, row_number() OVER (
      PARTITION BY grp
      ORDER BY (7 * rel_micro - 3 * maxsim) DESC, vid) AS rn3 FROM r3)
  WHERE rn3 = 1
)
SELECT grp AS label, 1 AS rank, vid AS vec_id, rel_micro,
       0::BIGINT AS max_sim_micro, (7 * rel_micro)::BIGINT AS mmr_score
FROM s1
UNION ALL
SELECT grp, 2, vid, rel_micro, maxsim,
       (7 * rel_micro - 3 * maxsim)::BIGINT FROM s2
UNION ALL
SELECT grp, 3, vid, rel_micro, maxsim,
       (7 * rel_micro - 3 * maxsim)::BIGINT FROM s3
""")
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking per label (functions/
    similarity.py::mmr_topk): greedy pick of 3 from the top-8
    relevance pool, scoring 7*rel - 3*max_sim_to_selected in exact
    integer micro-units — the diversity selection every RAG/retrieval
    stack runs after ANN, here over the integer label centroids as
    queries. The pool cut bounds the quadratic half to pool^2 per
    group; the oracle replays all three greedy steps as chained CTEs,
    so Spark's per-group numpy greedy must match the SQL argmax
    bit-for-bit (same tie-breaks, same micro-unit cosines)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.mmr_topk(emb, k=3, pool=8, w_rel=7, w_div=3) \
        .withColumn("rank", F.col("rank").cast("int"))


@query("ann_ivf_balance_audit", """
WITH cfg AS (
  SELECT greatest(16, floor(4 * sqrt(count(*)))::BIGINT) AS nlist
  FROM embeddings
), v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
), c AS (
  SELECT vec_id AS cid, v AS cv FROM v CROSS JOIN cfg WHERE vec_id < nlist
), csims AS (
  SELECT v.vec_id, c.cid,
         round(list_sum(list_transform(list_zip(v.v, c.cv), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(v.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(c.cv, x -> x * x)))), 6) AS csim
  FROM v CROSS JOIN c
), ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crn
  FROM csims
), sizes AS (
  SELECT cid, count(*)::BIGINT AS sz FROM ranked WHERE crn = 1 GROUP BY cid
), tot AS (
  SELECT sum(sz)::BIGINT AS n_vecs, count(*)::BIGINT AS nonempty_lists,
         min(sz)::BIGINT AS min_list, max(sz)::BIGINT AS max_list
  FROM sizes
), top8 AS (
  SELECT sum(sz)::BIGINT AS t8
  FROM (SELECT sz FROM sizes ORDER BY sz DESC, cid LIMIT 8)
), scan AS (
  SELECT sum(s.sz)::BIGINT AS scanned
  FROM ranked r JOIN sizes s ON s.cid = r.cid WHERE r.crn <= 4
)
SELECT cfg.nlist, t.n_vecs, t.nonempty_lists, t.min_list, t.max_list,
       (t.max_list * cfg.nlist * 1000000) // t.n_vecs AS imbalance_micro,
       (top8.t8 * 1000000) // t.n_vecs AS top_share_micro,
       (scan.scanned * 1000000) // (t.n_vecs * t.n_vecs) AS probe_scan_micro
FROM cfg, tot t, top8, scan
""")
def ann_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health (functions/similarity.py::ivf_balance_audit):
    list-size spread, FAISS imbalance factor (max/mean), skew mass in
    the 8 fattest lists, and the expected probe-scan fraction at
    nprobe=4 — the measurements that decide re-train vs salt vs raise
    nlist BEFORE a 100 TB corpus commits to an inverted-file layout.
    Same deterministic codebook + routing pass as ann_ivf_knn; all
    ratios exact int64 micro-units over list-grain (bounded) rows."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_balance_audit(emb, nlist="auto", nprobe=4)


@query("image_png_decode_features", """
WITH heads AS (
  SELECT doc_id,
         array_to_string(list_filter(string_split(lower(text), ' '),
                                     x -> x <> '')[1:8], ' ') AS head
  FROM documents
), rows AS (
  SELECT doc_id, r,
         md5(head || ':' || r::VARCHAR) AS h1,
         md5(head || ':' || r::VARCHAR || ':x') AS h2
  FROM heads CROSS JOIN generate_series(0, 15) s(r)
), px AS (
  SELECT doc_id, r, c,
         CASE WHEN c < 16 THEN ('0x' || substr(h1, 2*c + 1, 2))::INT
              ELSE ('0x' || substr(h2, 2*(c - 16) + 1, 2))::INT
         END AS v
  FROM rows CROSS JOIN generate_series(0, 17) s2(c)
)
SELECT doc_id, 18::INT AS width, 16::INT AS height, 8::INT AS bit_depth,
       2::INT AS n_idat,
       sum(v)::BIGINT AS lum_sum, min(v)::INT AS lum_min,
       max(v)::INT AS lum_max,
       sum(CASE WHEN r < 8 AND c < 9 THEN v ELSE 0 END)::BIGINT AS q00,
       sum(CASE WHEN r < 8 AND c >= 9 THEN v ELSE 0 END)::BIGINT AS q01,
       sum(CASE WHEN r >= 8 AND c < 9 THEN v ELSE 0 END)::BIGINT AS q10,
       sum(CASE WHEN r >= 8 AND c >= 9 THEN v ELSE 0 END)::BIGINT AS q11
FROM px GROUP BY doc_id
""")
def image_png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG round-trip gate, the strongest codec in the in-container
    family: the synth writes an actual 8-bit grayscale PNG per doc —
    scanlines filtered with type r % 5 (all five spec filters), a real
    zlib DEFLATE stream split across two IDAT chunks, CRC-32 on every
    chunk — and the decoder (functions/multimodal.py::decode_png_gray)
    must verify CRCs, concatenate IDATs, inflate, and invert every
    filter (Sub/Up/Average/Paeth reconstruction) to recover the pixels.
    The oracle re-derives the luminance features from the md5 pixel
    math alone, so any bug anywhere in the compression pipeline breaks
    the hash. Two Arrow map passes, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    from .functions.multimodal import decode_png_gray, synth_png
    return decode_png_gray(synth_png(docs))


@query("link_prediction_parts", sql="WITH " + _part_edge_cte() + """, adj AS (
  SELECT a AS node, b AS nbr FROM e0
  UNION ALL
  SELECT b AS node, a AS nbr FROM e0
), deg AS (
  SELECT node, count(*) AS d FROM adj GROUP BY node
), wedges AS (
  SELECT a1.nbr AS x, a2.nbr AS y, d.d
  FROM adj a1
  JOIN adj a2 ON a1.node = a2.node AND a1.nbr < a2.nbr
  JOIN deg d ON d.node = a1.node
  WHERE d.d <= 256
), sc AS (
  SELECT x, y, count(*)::BIGINT AS cn,
         sum(1000000 // d)::BIGINT AS ra_micro
  FROM wedges GROUP BY x, y
), nonedge AS (
  SELECT sc.* FROM sc
  LEFT JOIN e0 ON e0.a = sc.x AND e0.b = sc.y
  WHERE e0.a IS NULL
), bidir AS (
  SELECT x AS node, y AS candidate, cn, ra_micro FROM nonedge
  UNION ALL
  SELECT y AS node, x AS candidate, cn, ra_micro FROM nonedge
)
SELECT node, candidate, cn, ra_micro, rank::INT AS rank FROM (
  SELECT bidir.*, row_number() OVER (
    PARTITION BY node
    ORDER BY ra_micro DESC, cn DESC, candidate) AS rank
  FROM bidir)
WHERE rank <= 5
""")
def link_prediction_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural link prediction on the part co-occurrence graph
    (functions/graph.py::link_prediction): per-node top-5 non-adjacent
    candidates by resource-allocation score (sum of floor(1e6/deg)
    over shared neighbors — Adamic-Adar's exactly-representable
    sibling) with common-neighbor count as tie-break. The "parts bought
    together predict the next co-purchase" recommender. Wedge
    enumeration goes through each center once with the standard
    degree-cap hub guard (a deg-D hub is D^2 candidate pairs and ~zero
    RA signal); existing edges drop via one anti-join; per-node rank is
    a partitioned window."""
    from .functions.graph import link_prediction
    edges = part_pair_cooccurrence(spark, sf_dir).select("part_a", "part_b")
    return link_prediction(edges, src="part_a", dst="part_b",
                           hub_cap=256, top_k=5)


# ---------------------------------------------------------------------------
# Dedup method-selection report (round 7)
# ---------------------------------------------------------------------------

def _dedup_method_eval_sql() -> str:
    """Compose the method-eval oracle from the oracles of the pair sets
    it evaluates (nested WITH, the rrf_fused_ann pattern) — the ground
    truth and two of the three candidate generators can never drift
    from their own gates; simhash band collisions (pre-verify) are
    restated inline since the simhash gate's oracle post-verifies."""
    return f"""
WITH truth AS (
  SELECT id_a, id_b FROM ({ORACLE["setsim_prefix_pairs"]})
), mh AS (
  SELECT DISTINCT id_a, id_b FROM ({ORACLE["minhash_quality_report"]})
), stoks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(string_split(lower(text), ' '),
                                          x -> x <> ''))) AS tok
  FROM documents
), sth AS (
  SELECT doc_id, md5(tok) AS h FROM stoks
), sbits AS (
  SELECT doc_id, j.j,
         ((strpos('0123456789abcdef', substr(sth.h, (j.j // 4) + 1, 1)) - 1)
          >> (j.j % 4)) & 1 AS bit
  FROM sth CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) j
), ssums AS (
  SELECT doc_id, j, sum(2 * bit - 1) AS s FROM sbits GROUP BY doc_id, j
), simh AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN
               CASE WHEN j = 63 THEN (-9223372036854775807 - 1)
                    ELSE (1::BIGINT << (j % 63)) END
             ELSE 0 END)::BIGINT AS simhash
  FROM ssums GROUP BY doc_id
), sband AS (
  SELECT doc_id, k, (simhash >> (16 * k)) & 65535 AS bv
  FROM simh CROSS JOIN generate_series(0, 3) s(k)
), shc AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sband a JOIN sband b
    ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
), wn AS (
  SELECT id_a, id_b FROM ({ORACLE["winnowing_overlap_pairs"]})
), preds AS (
  SELECT 'minhash_lsh' AS method, id_a, id_b FROM mh
  UNION ALL SELECT 'simhash64_bands', id_a, id_b FROM shc
  UNION ALL SELECT 'winnowing', id_a, id_b FROM wn
), np AS (
  SELECT method, count(*)::BIGINT AS n_pred FROM preds GROUP BY method
), tp AS (
  SELECT p.method, count(*)::BIGINT AS true_pos
  FROM preds p JOIN truth t ON t.id_a = p.id_a AND t.id_b = p.id_b
  GROUP BY p.method
), nt AS (
  SELECT count(*)::BIGINT AS n_truth FROM truth
)
SELECT np.method, np.n_pred, nt.n_truth,
       coalesce(tp.true_pos, 0)::BIGINT AS true_pos,
       (coalesce(tp.true_pos, 0) * 1000000) // greatest(np.n_pred, 1)
         AS precision_micro,
       (coalesce(tp.true_pos, 0) * 1000000) // greatest(nt.n_truth, 1)
         AS recall_micro
FROM np LEFT JOIN tp ON tp.method = np.method CROSS JOIN nt
"""


@query("dedup_method_eval", _dedup_method_eval_sql())
def dedup_method_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup method-selection report (functions/dedup.py::
    dedup_method_eval): candidate-pair precision/recall of MinHash-LSH
    banding, simhash64 pigeonhole banding, and winnowing fingerprint
    sharing — each against the COMPLETE exact-Jaccard ground truth the
    PPJoin gate proves. Precision quantifies wasted verify work; recall
    what each blocker misses (simhash/winnowing hunt a different
    similarity notion — their sub-1 Jaccard-recall is that mismatch,
    measured). The oracle composes the evaluated pair sets' own gate
    oracles (nested WITH), so the report can never drift from the
    methods it scores."""
    docs = _t(spark, sf_dir, "documents")
    return D.dedup_method_eval(docs)


# ---------------------------------------------------------------------------
# Incremental join maintenance + attribution (round 7)
# ---------------------------------------------------------------------------

@query("incremental_join_maintenance", """
WITH ob AS (
  SELECT o_custkey AS c_custkey, o_totalprice FROM orders
  WHERE o_orderkey % 10 <> 0
), od AS (
  SELECT o_custkey AS c_custkey, o_totalprice FROM orders
  WHERE o_orderkey % 10 = 0
), cb AS (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 7 <> 0
), cd AS (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 7 = 0
), oldr AS (
  SELECT c_mktsegment, o_totalprice FROM ob JOIN cb USING (c_custkey)
), newr AS (
  SELECT c_mktsegment, o_totalprice
  FROM (SELECT * FROM ob UNION ALL SELECT * FROM od) o
  JOIN (SELECT * FROM cb UNION ALL SELECT * FROM cd) c USING (c_custkey)
), delta AS (
  SELECT * FROM newr EXCEPT ALL SELECT * FROM oldr
)
SELECT c_mktsegment, count(*)::BIGINT AS added_rows,
       round(sum(o_totalprice), 2) AS added_revenue
FROM delta GROUP BY c_mktsegment
""")
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view DELTA maintenance (operators/joins.py::
    join_delta): with insert-only batches ΔO (10% of orders) and ΔC
    (1/7 of customers), the engine computes the join's added rows as
    ΔO⋈C ∪ O⋈ΔC ∪ ΔO⋈ΔC — three delta-sized joins, never re-joining
    the bases and never reading the old result. The oracle computes the
    DEFINITION instead (new join EXCEPT ALL old join), so a hash match
    proves the maintenance identity on real data. At 100 TB this is
    the difference between a petabyte re-join and a batch-sized
    refresh; with a small batch, broadcast_deltas=True turns every
    term into a scan-speed broadcast join."""
    from .operators.joins import join_delta
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ob = o.where(F.col("o_orderkey") % 10 != 0).drop("o_orderkey")
    od = o.where(F.col("o_orderkey") % 10 == 0).drop("o_orderkey")
    cb = c.where(F.col("c_custkey") % 7 != 0)
    cd = c.where(F.col("c_custkey") % 7 == 0)
    delta = join_delta(ob, od, cb, cd, on="c_custkey")
    return (delta.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("added_rows"),
                 F.round(F.sum("o_totalprice"), 2).alias("added_revenue")))


@query("attribution_credit", """
WITH ev AS (
  SELECT event_id, user_id, ts, event_type,
         floor(value * 1000000 + 0.5)::BIGINT AS v_micro
  FROM events
), purchases AS (
  SELECT event_id AS pid, user_id, ts AS pts, v_micro
  FROM ev WHERE event_type = 'purchase'
), touches AS (
  SELECT event_id AS tid, user_id, ts AS tts, event_type AS touch_type
  FROM ev WHERE event_type IN ('view', 'click')
), paired AS (
  SELECT p.pid, p.v_micro, t.tid, t.touch_type,
         row_number() OVER (PARTITION BY p.pid
                            ORDER BY t.tts DESC, t.tid DESC) AS rn,
         count(*) OVER (PARTITION BY p.pid) AS n
  FROM purchases p
  JOIN touches t
    ON t.user_id = p.user_id AND t.tts < p.pts
   AND t.tts >= p.pts - INTERVAL 1 HOUR
), lookback AS (
  SELECT pid, v_micro, touch_type, rn, least(n, 3) AS nl
  FROM paired WHERE rn <= 3
)
SELECT model, touch_type, count(*)::BIGINT AS n_credits,
       sum(credit)::BIGINT AS credit_micro
FROM (
  SELECT 'last_touch' AS model, touch_type, v_micro AS credit
  FROM lookback WHERE rn = 1
  UNION ALL
  SELECT 'first_touch' AS model, touch_type, v_micro AS credit
  FROM lookback WHERE rn = nl
  UNION ALL
  SELECT 'linear' AS model, touch_type,
         v_micro // nl + CASE WHEN rn = 1 THEN v_micro % nl ELSE 0 END
           AS credit
  FROM lookback
) GROUP BY model, touch_type
""")
def attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution: each purchase's value (exact
    micro-units) credited to the view/click touchpoints in its 1-hour
    same-user lookback (most-recent 3) under three standard models —
    last-touch (all to rn=1), first-touch (all to the earliest kept),
    linear (exact integer split: floor share per touch, remainder to
    the most recent, so credit conservation is EXACT — sum of shares
    equals the purchase value to the micro-unit). The pairing is the
    interval-join shape: user-partitioned equi-join with a time-range
    band, bounded by per-user event rate, never a cross join; model
    scoring is one window per purchase grain."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type",
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
        .alias("v_micro"))
    p = (ev.where(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("pid"), "user_id",
                 F.col("ts").alias("pts"), "v_micro"))
    t = (ev.where(F.col("event_type").isin("view", "click"))
         .select(F.col("event_id").alias("tid"), "user_id",
                 F.col("ts").alias("tts"),
                 F.col("event_type").alias("touch_type")))
    paired = (p.join(t, "user_id")
              .where((F.col("tts") < F.col("pts"))
                     & (F.col("tts") >= F.col("pts")
                        - F.expr("INTERVAL 1 HOUR"))))
    w = Window.partitionBy("pid").orderBy(F.col("tts").desc(),
                                          F.col("tid").desc())
    wc = Window.partitionBy("pid")
    lookback = (paired
                .withColumn("rn", F.row_number().over(w))
                .withColumn("nl", F.least(F.count(F.lit(1)).over(wc),
                                          F.lit(3)))
                .where(F.col("rn") <= 3)
                .select("pid", "v_micro", "touch_type", "rn", "nl"))
    last = (lookback.where(F.col("rn") == 1)
            .select(F.lit("last_touch").alias("model"), "touch_type",
                    F.col("v_micro").alias("credit")))
    first = (lookback.where(F.col("rn") == F.col("nl"))
             .select(F.lit("first_touch").alias("model"), "touch_type",
                     F.col("v_micro").alias("credit")))
    linear = lookback.select(
        F.lit("linear").alias("model"), "touch_type",
        (F.expr("v_micro div nl")
         + F.when(F.col("rn") == 1, F.col("v_micro") % F.col("nl"))
         .otherwise(F.lit(0))).alias("credit"))
    return (last.unionByName(first).unionByName(linear)
            .groupBy("model", "touch_type")
            .agg(F.count(F.lit(1)).alias("n_credits"),
                 F.sum("credit").cast("long").alias("credit_micro")))


@query("unigram_lm_segment", T.unigram_oracle_sql)
def unigram_lm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer (functions/text.py::
    unigram_segment_report): one collect of the corpus (word, freq)
    table, then on the driver exact piece counts -> integer log-prob
    scores -> Viterbi max-likelihood segmentation of the 500 most
    frequent corpus words, with deterministic tie-breaks (fewer pieces,
    then lexicographic). The non-greedy sibling of the BPE family —
    together they cover both dominant subword-tokenizer architectures.
    PER-SF generated oracle: DuckDB re-derives the word frequencies
    through its own tokenizer chain and the same in-memory helper
    replays counts, scores and segmentation into a VALUES table — a
    drift in Spark's tokenize/count path breaks the hash; the counting
    and the DP are pinned by hand-computed values in
    tests/test_functions.py::test_unigram_lm_segments_frequent_word_whole."""
    docs = _t(spark, sf_dir, "documents")
    return T.unigram_segment_report(docs)


@query("wordpiece_segment_report", T.wordpiece_oracle_sql)
def wordpiece_segment_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer (functions/text.py::wordpiece_segment_report,
    trained on the driver from one collect of the corpus (word, freq)
    table, then greedy longest-match encode): merges chosen by the
    LIKELIHOOD score cnt(ab)/(cnt(a)*cnt(b)) (Schuster & Nakajima 2012,
    the BERT trainer) rather than BPE's raw frequency, then the top-40
    corpus words segmented with maximal munch and '##' continuation
    prefixes.
    Completes the tokenizer triad — BPE (frequency merge, rank-order
    encode), unigram-LM (Viterbi), WordPiece (likelihood merge, greedy
    encode) — on one corpus with one report shape. PER-SF generated
    oracle: DuckDB re-derives word frequencies through its own
    tokenizer chain and the same in-memory helper replays training and
    segmentation into a VALUES table — a drift in Spark's
    tokenize/count path breaks the hash; scoring, tie-break and the
    munch rule are pinned against from-scratch references in
    tests/test_functions.py."""
    docs = _t(spark, sf_dir, "documents")
    return T.wordpiece_segment_report(docs)


@query("tokenizer_fertility_compare", T.tokenizer_compare_oracle_sql)
def tokenizer_fertility_compare_q(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The tokenizer SELECTION report: BPE (frequency merges), WordPiece
    (likelihood merges, maximal munch), and unigram-LM (Viterbi) all
    trained on this corpus and priced on one shared eval set — the
    frequency-weighted pieces-per-word (fertility) each family would
    charge, i.e. the context-window and compute cost of the choice
    (functions/text.py::tokenizer_fertility_compare). Composes the
    three pinned tokenizer pipelines; PER-SF generated oracle replays
    all three with their independent pure-Python twins."""
    docs = _t(spark, sf_dir, "documents")
    return T.tokenizer_fertility_compare(docs)


def _dp_noisy_counts_sql() -> str:
    from .functions.checks import dp_laplace_cdf_micro
    rows = ", ".join(f"({k}, {c})" for k, c in dp_laplace_cdf_micro())
    return f"""
WITH cdf(k, cdf_micro) AS (VALUES {rows}),
counts AS (
  SELECT event_type, count(*)::BIGINT AS true_n FROM events
  GROUP BY event_type
), u AS (
  SELECT event_type, true_n,
         ('0x' || substr(md5(event_type || ':dp:7'), 1, 12))::BIGINT
           % 1000000 AS u_micro
  FROM counts
), pick AS (
  SELECT u.event_type, u.true_n, u.u_micro, min(c.k) AS noise
  FROM u JOIN cdf c ON u.u_micro < c.cdf_micro
  GROUP BY 1, 2, 3
)
SELECT event_type, u_micro, noise::INT AS noise,
       greatest(true_n + noise, 0)::BIGINT AS noisy_count,
       1000000::BIGINT AS epsilon_micro
FROM pick
"""


def _dp_user_level_sql() -> str:
    from .functions.checks import DP_NOISE_BOUND, dp_laplace_cdf_micro
    rows = ", ".join(f"({k}, {c})" for k, c in dp_laplace_cdf_micro(
        1_000_000 // 3, DP_NOISE_BOUND * 3))
    return f"""
WITH cdf(k, cdf_micro) AS (VALUES {rows}),
per_user AS (
  SELECT event_type, user_id, least(count(*), 3) AS contrib
  FROM events GROUP BY 1, 2
), counts AS (
  SELECT event_type, sum(contrib)::BIGINT AS true_n,
         count(*)::BIGINT AS n_users
  FROM per_user GROUP BY 1
), u AS (
  SELECT event_type, true_n, n_users,
         ('0x' || substr(md5(event_type || ':dpu:7'), 1, 12))::BIGINT
           % 1000000 AS u_micro
  FROM counts
), pick AS (
  SELECT u.event_type, u.true_n, u.n_users, u.u_micro, min(c.k) AS noise
  FROM u JOIN cdf c ON u.u_micro < c.cdf_micro
  GROUP BY 1, 2, 3, 4
)
SELECT event_type, n_users, u_micro, noise::INT AS noise,
       greatest(true_n + noise, 0)::BIGINT AS noisy_count,
       3::INT AS contribution_bound,
       1000000::BIGINT AS epsilon_micro
FROM pick
"""


@query("dp_user_level_counts", _dp_user_level_sql())
def dp_user_level_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER-level DP count release (functions/checks.py::
    dp_user_level_counts): per-user contributions clamped at 3, then
    truncated discrete Laplace at eps/3 (sensitivity = the clamp) —
    the privacy unit production releases actually need, since one user
    contributes many events and event-level DP leaks under user
    adjacency (Wilson et al., VLDB'20). Same seeded inverse-CDF
    mechanism as dp_noisy_event_counts, so the oracle replays clamp,
    aggregate, AND noise end to end."""
    from .functions.checks import dp_user_level_counts
    ev = _t(spark, sf_dir, "events")
    return dp_user_level_counts(ev, "event_type", "user_id",
                                contribution_bound=3, seed=7)


@query("ks_drift_events", """
WITH g AS (
  SELECT floor(value * 1000000 + 0.5)::BIGINT AS v,
         count(*) FILTER (WHERE event_type = 'click') AS ca,
         count(*) FILTER (WHERE event_type = 'purchase') AS cb
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
), c AS (
  SELECT v, sum(ca) OVER (ORDER BY v) AS cum_a,
         sum(cb) OVER (ORDER BY v) AS cum_b
  FROM g
), n AS (
  SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b FROM g
), s AS (
  SELECT c.v, abs(c.cum_a * n.n_b - c.cum_b * n.n_a) AS gap, n.n_a, n.n_b
  FROM c CROSS JOIN n
)
SELECT n_a, n_b,
       (max(gap) * 1000000 // (n_a * n_b))::BIGINT AS d_micro,
       min(CASE WHEN gap = (SELECT max(gap) FROM s) THEN v END)::BIGINT
         AS at_value_micro
FROM s GROUP BY n_a, n_b
""")
def ks_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift statistic between the
    click and purchase value distributions (functions/checks.py::
    ks_two_sample) — the sup-norm CDF test that catches within-bin
    shifts binned PSI smooths over (psi_drift_report's sibling). Exact
    integer arithmetic end to end; the cumulative CDFs use the
    distributed two-pass scheme (range shuffle + one Arrow pass +
    broadcast per-partition offsets), never Exchange SinglePartition,
    so the sup runs at any value cardinality."""
    from .functions.checks import ks_two_sample
    ev = _t(spark, sf_dir, "events")
    return ks_two_sample(ev, value_col="value", side_col="event_type",
                         side_a="click", side_b="purchase")


@query("compaction_bin_packing", """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) * 64 AS bytes
  FROM events GROUP BY 1
), c AS (
  SELECT h, bytes, sum(bytes) OVER (ORDER BY h) AS cum FROM hourly
)
SELECT ((cum - bytes) // 1048576)::BIGINT AS bin,
       count(*)::BIGINT AS n_partitions,
       sum(bytes)::BIGINT AS bytes,
       min(h) AS hour_first, max(h) AS hour_last
FROM c GROUP BY 1
""", bound="hour-grid")
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (functions/checks.py::
    compaction_bins) — the OPTIMIZE/rewriteDataFiles maintenance pass:
    per-hour partition sizes packed greedily IN TIME ORDER into ~1 MiB
    bins by cumulative size, so every planned output file covers a
    contiguous time range and time-predicate pruning survives the
    rewrite (arbitrary bin packing would destroy it). The only global
    window runs over hour-GRID rows (bounded, declared class); at
    100 TB the same plan packs table partitions from metadata, not
    row counts."""
    from .functions.checks import compaction_bins
    ev = _t(spark, sf_dir, "events")
    return compaction_bins(ev, ts_col="ts", row_bytes=64,
                           target_bytes=1_048_576)


@query("dp_noisy_event_counts", _dp_noisy_counts_sql())
def dp_noisy_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (functions/checks.py::
    dp_noisy_counts): per-event-type counts plus truncated
    discrete-Laplace noise at eps=1, sampled by inverse-CDF over a
    hash-seeded uniform — reproducible DP, the deployment mode where
    re-running a release must not spend fresh budget. The CDF constants
    are one CPython-computed literal table shared by the Spark plan and
    the oracle (the DFT-basis convention); the mechanism itself is one
    count aggregate + one broadcast join against 41 CDF rows.
    Completes the privacy family: k_anonymity_audit measures
    identifiability, pii_scrub_docs redacts, this releases aggregates
    with a formal budget."""
    from .functions.checks import dp_noisy_counts
    ev = _t(spark, sf_dir, "events")
    return dp_noisy_counts(ev, "event_type", seed=7)


@query("holt_linear_hourly", """
WITH RECURSIVE hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         sum(floor(value * 1000000 + 0.5))::BIGINT AS y
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT event_type, h, y,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hourly
), rec AS (
  SELECT s1.event_type, 1::BIGINT AS rn, s1.y,
         s1.y AS l, s2.y - s1.y AS b
  FROM seq s1 JOIN seq s2
    ON s2.event_type = s1.event_type AND s2.rn = 2
  WHERE s1.rn = 1
  UNION ALL
  SELECT s.event_type, s.rn, s.y,
         (s.y + 3 * (r.l + r.b)) // 4 AS l,
         (((s.y + 3 * (r.l + r.b)) // 4 - r.l) + 3 * r.b) // 4 AS b
  FROM rec r JOIN seq s
    ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT r.event_type, s.h AS hour, r.y AS y_micro,
       r.l AS level_micro, r.b AS trend_micro
FROM rec r JOIN seq s
  ON s.event_type = r.event_type AND s.rn = r.rn
""")
def holt_linear_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing of hourly event value per type
    (operators/aggregate.py::holt_linear): level + linear trend at
    alpha = beta = 1/4 in exact int64 micro-units — the
    trend-corrected forecaster EWMA can't be (EWMA lags a ramp by
    construction). The per-key fold is sequential BY THE MODEL'S
    DEFINITION (each state depends on the previous), so the engine
    folds each type's HOUR-GRID rows (720 at this corpus' span — never
    event-grain) on the per-key fold core's batch driver, one
    mapInPandas pass over all types; the recursive-CTE oracle
    replays every step, so a single off-by-one in the fold breaks the
    hash."""
    from .operators.aggregate import holt_linear
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.sum(F.floor(F.col("value") * 1_000_000 + F.lit(0.5)))
                   .cast("long").alias("y_micro")))
    out = holt_linear(hourly, key_col="event_type", order_col="hour",
                      value_col="y_micro")
    return out.select("event_type", "hour", "y_micro",
                      F.col("level").alias("level_micro"),
                      F.col("trend").alias("trend_micro"))


@query("holt_winters_hourly", """
WITH RECURSIVE hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         sum(floor(value * 1000000 + 0.5))::BIGINT AS y
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT event_type, h, y,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hourly
), init AS (
  SELECT event_type, list(y ORDER BY rn) AS ys
  FROM seq WHERE rn <= 24 GROUP BY event_type HAVING count(*) = 24
), init2 AS (
  SELECT event_type, (list_sum(ys)::BIGINT // 24) AS l0, ys FROM init
), rec AS (
  SELECT event_type, 24::BIGINT AS rn, l0 AS l, 0::BIGINT AS b,
         list_transform(ys, y -> y - l0) AS sea
  FROM init2
  UNION ALL
  SELECT s.event_type, s.rn,
         (s.y - r.sea[1] + 3 * (r.l + r.b)) // 4 AS l,
         (((s.y - r.sea[1] + 3 * (r.l + r.b)) // 4) - r.l + 3 * r.b) // 4
           AS b,
         list_append(r.sea[2:],
           ((s.y - ((s.y - r.sea[1] + 3 * (r.l + r.b)) // 4))
            + 3 * r.sea[1]) // 4) AS sea
  FROM rec r JOIN seq s
    ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT r.event_type, s.h AS hour, s.y AS y_micro,
       r.l AS level_micro, r.b AS trend_micro, r.sea[24] AS seasonal_micro
FROM rec r JOIN seq s
  ON s.event_type = r.event_type AND s.rn = r.rn
WHERE r.rn > 24
""")
def holt_winters_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters triple exponential smoothing (additive DAILY
    seasonality, period 24 on the hour grid) of hourly event value per
    type — operators/aggregate.py::holt_winters_additive. The seasonal
    completion of the forecasting family: EWMA lags a ramp,
    ``holt_linear`` tracks it but lags the diurnal cycle, Holt-Winters
    carries one seasonal int per hour-of-day slot. All state is exact
    int64 micro-units (alpha=beta=gamma=1/4 as truncating `div 4`), so
    the oracle — a recursive CTE that carries the 24-slot seasonal
    vector as a LIST column, sliding it with list_append(sea[2:], s_new)
    — replays every step bit-for-bit.

    Plan: the fold is sequential per key BY THE MODEL'S DEFINITION, so
    the engine folds each event_type's HOUR-GRID rows (~720 here),
    never event-grain, on the per-key fold core's batch driver (one
    mapInPandas pass, the slot feed shared with holt_winters_stream);
    types parallelize across the cluster and the pre-aggregation to the
    grid is the only data-volume shuffle."""
    from .operators.aggregate import holt_winters_additive
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.sum(F.floor(F.col("value") * 1_000_000 + F.lit(0.5)))
                   .cast("long").alias("y_micro")))
    out = holt_winters_additive(hourly, key_col="event_type",
                                order_col="hour", value_col="y_micro",
                                period=24)
    return out.select("event_type", "hour", "y_micro",
                      F.col("level").alias("level_micro"),
                      F.col("trend").alias("trend_micro"),
                      F.col("seasonal").alias("seasonal_micro"))


@query("hw_anomaly_hourly", """
WITH RECURSIVE hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         sum(floor(value * 1000000 + 0.5))::BIGINT AS y
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT event_type, h, y,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hourly
), init AS (
  SELECT event_type, list(y ORDER BY rn) AS ys
  FROM seq WHERE rn <= 24 GROUP BY event_type HAVING count(*) = 24
), init2 AS (
  SELECT event_type, (list_sum(ys)::BIGINT // 24) AS l0, ys FROM init
), rec AS (
  SELECT event_type, 24::BIGINT AS rn, l0 AS l, 0::BIGINT AS b,
         list_transform(ys, y -> y - l0) AS sea
  FROM init2
  UNION ALL
  SELECT s.event_type, s.rn,
         (s.y - r.sea[1] + 3 * (r.l + r.b)) // 4 AS l,
         (((s.y - r.sea[1] + 3 * (r.l + r.b)) // 4) - r.l + 3 * r.b) // 4
           AS b,
         list_append(r.sea[2:],
           ((s.y - ((s.y - r.sea[1] + 3 * (r.l + r.b)) // 4))
            + 3 * r.sea[1]) // 4) AS sea
  FROM rec r JOIN seq s
    ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT s.event_type, s.h AS hour, s.y AS y_micro,
       (r0.l + r0.b + r0.sea[1]) AS forecast_micro,
       abs(s.y - (r0.l + r0.b + r0.sea[1])) AS abs_dev_micro,
       (abs(s.y - (r0.l + r0.b + r0.sea[1])) * 4
        > abs(r0.l + r0.b + r0.sea[1])) AS is_anomaly
FROM rec r0 JOIN seq s
  ON s.event_type = r0.event_type AND s.rn = r0.rn + 1
""")
def hw_anomaly_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-adjusted anomaly detection: Holt-Winters ONE-STEP-AHEAD
    forecast (state before observing the hour: f_t = l_{t-1} + b_{t-1}
    + s_{t-24}) against the realized hourly value; the flag fires when
    the deviation exceeds 25% of the forecast magnitude. This is what
    a raw z-score misses on diurnal load — 3am traffic that is normal
    FOR 3AM but 5 sigma below the daily mean stays quiet, while a
    modest dip during the peak hour (a real incident) fires. Same
    exact-int64 fold as holt_winters_hourly with emit_forecast=True (the
    same per-key fold core's batch driver and slot feed); the oracle
    joins each recursion step's PREVIOUS state row, so the forecast
    definition itself is hash-pinned."""
    from .operators.aggregate import holt_winters_additive
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.sum(F.floor(F.col("value") * 1_000_000 + F.lit(0.5)))
                   .cast("long").alias("y_micro")))
    out = holt_winters_additive(hourly, key_col="event_type",
                                order_col="hour", value_col="y_micro",
                                period=24, emit_forecast=True)
    dev = F.abs(F.col("y_micro") - F.col("forecast"))
    return out.select("event_type", "hour", "y_micro",
                      F.col("forecast").alias("forecast_micro"),
                      dev.alias("abs_dev_micro"),
                      (dev * 4 > F.abs(F.col("forecast")))
                      .alias("is_anomaly"))


@query("hw_stream_hourly", """
WITH RECURSIVE hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         sum(floor(value * 1000000 + 0.5))::BIGINT AS y
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT event_type, h, y,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hourly
), mx AS (
  SELECT event_type, max(rn) AS mr FROM seq GROUP BY event_type
), init AS (
  SELECT event_type, list(y ORDER BY rn) AS ys
  FROM seq WHERE rn <= 24 GROUP BY event_type HAVING count(*) = 24
), init2 AS (
  SELECT event_type, (list_sum(ys)::BIGINT // 24) AS l0, ys FROM init
), rec AS (
  SELECT event_type, 24::BIGINT AS rn, l0 AS l, 0::BIGINT AS b,
         list_transform(ys, y -> y - l0) AS sea
  FROM init2
  UNION ALL
  SELECT s.event_type, s.rn,
         (s.y - r.sea[1] + 3 * (r.l + r.b)) // 4 AS l,
         (((s.y - r.sea[1] + 3 * (r.l + r.b)) // 4) - r.l + 3 * r.b) // 4
           AS b,
         list_append(r.sea[2:],
           ((s.y - ((s.y - r.sea[1] + 3 * (r.l + r.b)) // 4))
            + 3 * r.sea[1]) // 4) AS sea
  FROM rec r JOIN seq s
    ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT r.event_type, s.h AS hour, s.y AS y_micro,
       r.l AS level_micro, r.b AS trend_micro, r.sea[24] AS seasonal_micro
FROM rec r
JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn
JOIN mx ON mx.event_type = r.event_type
WHERE r.rn > 24 AND r.rn < mx.mr
""")
def hw_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt-Winters through the REAL stateful machinery
    (streaming/stateful.py::holt_winters_stream): one
    applyInPandasWithState fold per event_type (8 state buckets) fuses
    the hourly-slot close (a slot completes when a later-slot row
    arrives) with the seasonal forecast fold; state = the open slot's
    partial sum + the init buffer or (l, b, 24-slot seasonal vector),
    all exact int64.
    Run availableNow into an append memory sink and hash-matched
    against the SAME recursive-CTE replay as the batch twin
    (holt_winters_hourly) minus each key's FINAL hour — the append-mode
    final-window hold: the last slot never sees a successor, so it
    stays open, exactly like every streaming window op here."""
    import uuid as _uuid
    from .streaming import memory_sink, state_sized_partitions
    from .streaming.stateful import holt_winters_stream
    src = (_events_stream(spark, sf_dir)
           .select("event_type",
                   F.date_trunc("hour", "ts").alias("hour"),
                   F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                   .cast("long").alias("y")))
    name = "hw_stream_" + _uuid.uuid4().hex[:10]
    with state_sized_partitions(spark, 8):
        out = holt_winters_stream(src, key_col="event_type", hour_col="hour",
                                  value_col="y", period=24)
        Source(out).to(memory_sink(name, output_mode="append"))
    return spark.table(name).select(
        "event_type", "hour", "y_micro",
        F.col("level").alias("level_micro"),
        F.col("trend").alias("trend_micro"),
        F.col("seasonal").alias("seasonal_micro"))


@query("kaplan_meier_conversion", """
WITH RECURSIVE f AS (
  SELECT user_id, min(ts) AS first_ev, max(ts) AS last_ev,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_p
  FROM events GROUP BY user_id
), subj AS (
  SELECT user_id,
         CASE WHEN first_p IS NOT NULL
              THEN (epoch_us(first_p) - epoch_us(first_ev)) // 3600000000
              ELSE (epoch_us(last_ev) - epoch_us(first_ev)) // 3600000000
         END::BIGINT AS duration_h,
         CASE WHEN first_p IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM f
), dist AS (
  SELECT duration_h AS t, count(*)::BIGINT AS n, sum(ev)::BIGINT AS d
  FROM subj GROUP BY duration_h
), risk AS (
  SELECT t, d AS n_events,
         sum(n) OVER (ORDER BY t DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ::BIGINT AS n_risk
  FROM dist
), evt AS (
  SELECT t, n_risk, n_events,
         row_number() OVER (ORDER BY t) AS rn
  FROM risk WHERE n_events > 0
), rec AS (
  SELECT t, n_risk, n_events, rn,
         (1000000 * (n_risk - n_events)) // n_risk AS s
  FROM evt WHERE rn = 1
  UNION ALL
  SELECT e.t, e.n_risk, e.n_events, e.rn,
         (r.s * (e.n_risk - e.n_events)) // e.n_risk AS s
  FROM rec r JOIN evt e ON e.rn = r.rn + 1
)
SELECT t AS duration_h, n_risk, n_events, s AS survival_micro FROM rec
""", bound="hour-grid")
def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve (functions/checks.py::
    kaplan_meier): survival probability that a user has NOT yet made a
    first purchase t hours after their first activity, users who never
    purchase right-censored at their last observed activity — the
    estimator behind time-to-value and churn dashboards, in exact int64
    micro-units (S *= (n-d) div n per event time) so the recursive-CTE
    oracle replays the whole curve. One user-grain aggregate, a
    duration-grid suffix-sum window (bounded — hours between first and
    last activity), and a one-int sequential fold over <= grid-many
    event times."""
    from .functions.checks import kaplan_meier
    ev = _t(spark, sf_dir, "events")
    f = (ev.groupBy("user_id")
         .agg(F.min("ts").alias("first_ev"), F.max("ts").alias("last_ev"),
              F.min(F.when(F.col("event_type") == "purchase",
                           F.col("ts"))).alias("first_p")))
    subj = f.select(
        F.when(
            F.col("first_p").isNotNull(),
            F.expr("(unix_micros(cast(first_p as timestamp)) - "
                   "unix_micros(cast(first_ev as timestamp))) "
                   "div 3600000000"))
        .otherwise(
            F.expr("(unix_micros(cast(last_ev as timestamp)) - "
                   "unix_micros(cast(first_ev as timestamp))) "
                   "div 3600000000"))
        .cast("long").alias("duration_h"),
        F.when(F.col("first_p").isNotNull(), 1).otherwise(0).alias("ev"))
    out = kaplan_meier(subj, duration_col="duration_h", event_col="ev")
    return out.select(F.col("t").alias("duration_h"), "n_risk",
                      "n_events", "survival_micro")


def _random_walk_sql(walks: int = 2, steps: int = 4, seed: int = 7) -> str:
    """Chained-CTE oracle for random_walks: one CTE per step, the hash
    next-hop formula restated per step literal."""
    parts = [f"""adj AS (
  SELECT a AS node, b AS nbr FROM e0
  UNION ALL SELECT b AS node, a AS nbr FROM e0
), deg AS (
  SELECT node, count(*) AS deg FROM adj GROUP BY node
), ranked AS (
  SELECT a.node, a.nbr,
         row_number() OVER (PARTITION BY a.node ORDER BY a.nbr) AS rank,
         d.deg
  FROM adj a JOIN deg d USING (node)
), f0 AS (
  SELECT s.node AS start, w.walk, s.node AS cur
  FROM (SELECT DISTINCT node FROM adj) s
  CROSS JOIN (SELECT unnest(generate_series(0, {walks - 1})) AS walk) w
)"""]
    for s in range(1, steps + 1):
        parts.append(f""", f{s} AS (
  SELECT f.start, f.walk, r.nbr AS cur
  FROM f{s - 1} f JOIN ranked r ON r.node = f.cur
   AND r.rank = ('0x' || substr(md5(f.start::VARCHAR || ':'
                 || f.walk::VARCHAR || ':{s}:' || f.cur::VARCHAR
                 || ':{seed}'), 1, 12))::BIGINT % r.deg + 1
)""")
    unions = ["SELECT start, walk::INT AS walk, 0::INT AS step, "
              "cur AS node FROM f0"]
    unions += [f"SELECT start, walk::INT, {s}::INT, cur FROM f{s}"
               for s in range(1, steps + 1)]
    return ("WITH " + _part_edge_cte() + ", " + "".join(parts)
            + "\n" + "\nUNION ALL\n".join(unions))


@query("graph_random_walks", _random_walk_sql())
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style random-walk corpus over the part co-occurrence
    graph (functions/graph.py::random_walks): 2 hash-seeded walks of 4
    steps from every node — the reproducible sequence corpus a
    skip-gram embedding trainer consumes. Next hops are
    md5(start:walk:step:cur:seed) mod degree against a ranked adjacency
    (no RNG state anywhere), so the corpus is bitwise identical under
    any partitioning and the chained-CTE oracle replays every hop.
    Each step is one frontier-vs-adjacency equi-join."""
    from .functions.graph import random_walks
    edges = part_pair_cooccurrence(spark, sf_dir).select("part_a", "part_b")
    return random_walks(edges, src="part_a", dst="part_b",
                        walks=2, steps=4, seed=7)


from .functions.checks import markov_attribution_oracle_sql as _markov_sql  # noqa: E402


@query("markov_attribution", _markov_sql)
def markov_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution — the data-driven
    sibling of attribution_credit's positional rules: build the
    first-order journey chain per user (events up to first purchase,
    'conv'/'null' absorbing), then credit each channel by how much the
    chain's conversion probability drops when that channel is removed
    (transitions into it reroute to 'null'), normalized into shares.
    Transition counting is one distributed user-grain window pass; the
    <= 7x7 count matrix is bounded model metadata (codebook class) and
    the fixed-32-sweep integer value iteration is the shared CPython
    source of truth for both engines. PER-SF generated oracle
    re-derives the journeys independently from a DuckDB read."""
    from .functions.checks import markov_attribution
    ev = _t(spark, sf_dir, "events")
    return markov_attribution(ev)


@query("rake_keyphrases", """
WITH base AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '),
                             x -> x <> '') AS l
  FROM documents
), toks AS (
  SELECT doc_id, generate_subscripts(l, 1) AS i, unnest(l) AS t FROM base
), marked AS (
  SELECT doc_id, i, t,
         t IN ('the','a','of','and','to','in','is','for','on','with')
           AS stop
  FROM toks
), runs AS (
  SELECT doc_id, i, t, stop,
         sum(CASE WHEN stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i) AS run
  FROM marked
), words AS (
  SELECT doc_id, run, i, t FROM runs WHERE NOT stop
), phr AS (
  SELECT doc_id, run, count(*) AS nw,
         string_agg(t, ' ' ORDER BY i) AS phrase
  FROM words GROUP BY doc_id, run
  HAVING count(*) <= 4
), wstat AS (
  SELECT w.doc_id, w.t, count(*) AS freq, sum(p.nw)::BIGINT AS deg
  FROM words w JOIN phr p ON p.doc_id = w.doc_id AND p.run = w.run
  GROUP BY w.doc_id, w.t
), pscore AS (
  SELECT p.doc_id, p.run, p.phrase, p.nw,
         sum((s.deg * 1000000) // s.freq)::BIGINT AS score_micro
  FROM phr p
  JOIN words w ON w.doc_id = p.doc_id AND w.run = p.run
  JOIN wstat s ON s.doc_id = w.doc_id AND s.t = w.t
  GROUP BY p.doc_id, p.run, p.phrase, p.nw
), dedup AS (
  SELECT doc_id, phrase, nw::INT AS n_words,
         max(score_micro) AS score_micro
  FROM pscore GROUP BY doc_id, phrase, nw
)
SELECT doc_id, phrase, n_words, score_micro, rank::INT AS rank FROM (
  SELECT dedup.*, row_number() OVER (
    PARTITION BY doc_id ORDER BY score_micro DESC, phrase) AS rank
  FROM dedup)
WHERE rank <= 3
""")
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (functions/text.py::rake_keyphrases):
    top-3 stopword-free phrase runs per document scored by summed
    deg/freq word scores — the classic unsupervised keyword extractor
    (Rose et al.), here with exact integer micro-unit scores and fully
    document-parallel execution (doc-grain windows + hash aggregates,
    no corpus-global state)."""
    docs = _t(spark, sf_dir, "documents")
    return T.rake_keyphrases(docs, top_k=3, max_run=4)


# ---------------------------------------------------------------------------
# Off-policy evaluation + conformal calibration (round 7)
# ---------------------------------------------------------------------------

@query("offpolicy_ips_eval", """
WITH logged AS (
  SELECT event_type AS action,
         floor(value * 1000000 + 0.5)::BIGINT AS r_micro,
         extract(hour FROM ts)::INT AS hr
  FROM events
), pol AS (
  SELECT 'daypart_rule' AS policy, action, r_micro,
         CASE WHEN (CASE WHEN hr < 12 THEN 'view' ELSE 'click' END)
              = action THEN 1 ELSE 0 END AS m
  FROM logged
  UNION ALL
  SELECT 'always_purchase', action, r_micro,
         CASE WHEN action = 'purchase' THEN 1 ELSE 0 END
  FROM logged
)
SELECT policy,
       count(*)::BIGINT AS n_logged,
       sum(m)::BIGINT AS n_matched,
       (sum(m * r_micro * 5)) // count(*) AS ips_micro,
       (sum(m * r_micro)) // greatest(sum(m), 1) AS snips_micro
FROM pol GROUP BY policy
""")
def offpolicy_ips_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy (counterfactual) evaluation by importance sampling —
    the bandit-replay estimator: the synthetic event log's actions are
    declared uniformly logged (propensity 1/5 over the five event
    types), and two deterministic target policies are valued WITHOUT
    deployment: IPS = E[r * 1(pi(x)=a) / p] (here * 5), SNIPS = the
    self-normalized variant that trades a little bias for much lower
    variance (the production default). Exact integer micro-units, one
    scan + one group-grain aggregate per policy — the evaluation shape
    that replays a 100 TB log in a single pass. The daypart rule's
    context is the event hour; matching is exact-action."""
    ev = _t(spark, sf_dir, "events")
    logged = ev.select(
        F.col("event_type").alias("action"),
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
        .alias("r_micro"),
        F.hour(F.col("ts").cast("timestamp")).alias("hr"))
    daypart = F.when(F.col("hr") < 12, "view").otherwise("click")
    p1 = logged.select(
        F.lit("daypart_rule").alias("policy"), "action", "r_micro",
        F.when(daypart == F.col("action"), 1).otherwise(0).alias("m"))
    p2 = logged.select(
        F.lit("always_purchase").alias("policy"), "action", "r_micro",
        F.when(F.col("action") == "purchase", 1).otherwise(0).alias("m"))
    return (p1.unionByName(p2)
            .groupBy("policy")
            .agg(F.count(F.lit(1)).alias("n_logged"),
                 F.sum("m").cast("long").alias("n_matched"),
                 F.expr("sum(m * r_micro * 5) div count(*)")
                 .alias("ips_micro"),
                 F.expr("sum(m * r_micro) div greatest(sum(m), 1)")
                 .alias("snips_micro")))


@query("conformal_calibration", """
WITH base AS (
  SELECT user_id, event_type,
         floor(value * 1000000 + 0.5)::BIGINT AS y,
         user_id % 2 = 0 AS is_cal
  FROM events
), pred AS (
  SELECT event_type, sum(y) // count(*) AS yhat
  FROM base WHERE is_cal GROUP BY event_type
), cal AS (
  SELECT abs(b.y - p.yhat) AS score
  FROM base b JOIN pred p USING (event_type) WHERE b.is_cal
), ncal AS (
  SELECT count(*)::BIGINT AS n FROM cal
), qhat AS (
  SELECT score AS q FROM (
    SELECT score, row_number() OVER (ORDER BY score) AS rn FROM cal)
  CROSS JOIN ncal
  WHERE rn = least(((n + 1) * 9 + 9) // 10, n)
), test AS (
  SELECT abs(b.y - p.yhat) <= q.q AS covered
  FROM base b JOIN pred p USING (event_type) CROSS JOIN qhat q
  WHERE NOT b.is_cal
)
SELECT 100000::BIGINT AS alpha_micro,
       (SELECT n FROM ncal) AS n_cal,
       count(*)::BIGINT AS n_test,
       (SELECT q FROM qhat) AS qhat_micro,
       (sum(CASE WHEN covered THEN 1 ELSE 0 END) * 1000000) // count(*)
         AS coverage_micro
FROM test
""")
def conformal_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction calibration — the distribution-free
    uncertainty wrapper every model-serving stack is adding: a simple
    per-type mean predictor is fit on the calibration half (even user
    ids), nonconformity = |y - yhat|, q_hat = the ceil((n+1)*0.9)-th
    smallest calibration score (alpha = 0.1), and the test half reports
    empirical coverage of the interval yhat +/- q_hat (the
    finite-sample >= 90% guarantee, checked by the test). Exact
    integers end to end; the calibration order statistic uses the
    distributed ordinal (one range shuffle + broadcast offsets — no
    SinglePartition over the calibration set)."""
    from .operators import distributed_ordinal
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type",
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
        .alias("y"),
        (F.col("user_id") % 2 == 0).alias("is_cal"))
    pred = (base.where("is_cal").groupBy("event_type")
            .agg(F.expr("sum(y) div count(*)").alias("yhat")))
    joined = base.join(F.broadcast(pred), "event_type") \
        .withColumn("score", F.abs(F.col("y") - F.col("yhat")))
    cal = joined.where("is_cal").select("score")
    ordn = distributed_ordinal(cal, order_by=["score"], idx="rn",
                               total_col="__n")
    qhat = (ordn.where(F.col("rn") == F.least(
        F.expr("((__n + 1) * 9 + 9) div 10"), F.col("__n")))
        .select(F.col("score").alias("q")).limit(1))
    test = (joined.where(~F.col("is_cal"))
            .crossJoin(F.broadcast(qhat))
            .select((F.col("score") <= F.col("q")).alias("covered"),
                    "q"))
    n_cal = cal.agg(F.count(F.lit(1)).alias("n_cal"))
    summary = test.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.max("q").alias("qhat_micro"),
        F.expr("(sum(CASE WHEN covered THEN 1 ELSE 0 END) * 1000000)"
               " div count(*)").alias("coverage_micro"))
    return (F.broadcast(n_cal).crossJoin(summary)
            .select(F.lit(100000).cast("long").alias("alpha_micro"),
                    "n_cal", "n_test", "qhat_micro", "coverage_micro"))


@query("offpolicy_dr_eval", """
WITH logged AS (
  SELECT event_type AS action,
         floor(value * 1000000 + 0.5)::BIGINT AS r_micro,
         extract(hour FROM ts)::INT AS hr
  FROM events
), qhat AS (
  SELECT action, sum(r_micro) // count(*) AS q FROM logged GROUP BY action
), pol AS (
  SELECT 'daypart_rule' AS policy, l.action, l.r_micro,
         CASE WHEN l.hr < 12 THEN 'view' ELSE 'click' END AS pi_a
  FROM logged l
  UNION ALL
  SELECT 'always_purchase', l.action, l.r_micro, 'purchase'
  FROM logged l
), terms AS (
  SELECT p.policy,
         qp.q AS q_pol,
         CASE WHEN p.pi_a = p.action THEN 1 ELSE 0 END AS m,
         p.r_micro, ql.q AS q_log
  FROM pol p
  JOIN qhat qp ON qp.action = p.pi_a
  JOIN qhat ql ON ql.action = p.action
)
SELECT policy, count(*)::BIGINT AS n_logged,
       (sum(q_pol)) // count(*) AS dm_micro,
       (sum(m * r_micro * 5)) // count(*) AS ips_micro,
       (sum(q_pol + 5 * m * (r_micro - q_log))) // count(*) AS dr_micro
FROM terms GROUP BY policy
""")
def offpolicy_dr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust off-policy evaluation — the estimator that
    completes the OPE family (offpolicy_ips_eval): the direct-method
    term scores the target action with a reward model (per-action mean
    trained on the log — 5 rows of bounded model metadata, broadcast),
    and the importance-weighted residual corrects the model's bias on
    matched rows: DR = E[q(pi(x)) + (1(pi=a)/p)(r - q(a))]. Unbiased if
    EITHER the propensity or the reward model is right — the property
    that makes DR the production OPE default. One scan, two broadcast
    joins against the 5-row model, group-grain aggregates; exact int64
    micro-units."""
    ev = _t(spark, sf_dir, "events")
    logged = ev.select(
        F.col("event_type").alias("action"),
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
        .alias("r_micro"),
        F.hour(F.col("ts").cast("timestamp")).alias("hr"))
    qhat = (logged.groupBy("action")
            .agg(F.expr("sum(r_micro) div count(*)").alias("q")))
    daypart = F.when(F.col("hr") < 12, "view").otherwise("click")
    p1 = logged.select(F.lit("daypart_rule").alias("policy"),
                       "action", "r_micro", daypart.alias("pi_a"))
    p2 = logged.select(F.lit("always_purchase").alias("policy"),
                       "action", "r_micro", F.lit("purchase").alias("pi_a"))
    pol = p1.unionByName(p2)
    qp = qhat.select(F.col("action").alias("pi_a"),
                     F.col("q").alias("q_pol"))
    ql = qhat.select(F.col("action").alias("action"),
                     F.col("q").alias("q_log"))
    terms = (pol.join(F.broadcast(qp), "pi_a")
             .join(F.broadcast(ql), "action")
             .withColumn("m", F.when(F.col("pi_a") == F.col("action"), 1)
                         .otherwise(0)))
    return (terms.groupBy("policy")
            .agg(F.count(F.lit(1)).alias("n_logged"),
                 F.expr("sum(q_pol) div count(*)").alias("dm_micro"),
                 F.expr("sum(m * r_micro * 5) div count(*)")
                 .alias("ips_micro"),
                 F.expr("sum(q_pol + 5 * m * (r_micro - q_log)) "
                        "div count(*)").alias("dr_micro")))


@query("diff_in_diff_value", """
WITH bounds AS (
  SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us FROM events
), cells AS (
  SELECT (user_id % 2 = 0) AS treated,
         (epoch_us(ts) >= mid_us) AS post,
         floor(value * 1000000 + 0.5)::BIGINT AS r
  FROM events CROSS JOIN bounds
), agg AS (
  SELECT treated, post, count(*)::BIGINT AS n,
         sum(r) // count(*) AS mean_micro
  FROM cells GROUP BY treated, post
)
SELECT
  max(CASE WHEN treated AND NOT post THEN n END) AS n_pre_treat,
  max(CASE WHEN treated AND post THEN n END) AS n_post_treat,
  max(CASE WHEN NOT treated AND NOT post THEN n END) AS n_pre_ctrl,
  max(CASE WHEN NOT treated AND post THEN n END) AS n_post_ctrl,
  max(CASE WHEN treated AND NOT post THEN mean_micro END) AS pre_treat_micro,
  max(CASE WHEN treated AND post THEN mean_micro END) AS post_treat_micro,
  max(CASE WHEN NOT treated AND NOT post THEN mean_micro END) AS pre_ctrl_micro,
  max(CASE WHEN NOT treated AND post THEN mean_micro END) AS post_ctrl_micro,
  (max(CASE WHEN treated AND post THEN mean_micro END)
   - max(CASE WHEN treated AND NOT post THEN mean_micro END))
  - (max(CASE WHEN NOT treated AND post THEN mean_micro END)
     - max(CASE WHEN NOT treated AND NOT post THEN mean_micro END))
    AS did_micro
FROM agg
""")
def diff_in_diff_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the workhorse quasi-experimental
    estimator: treatment = even user ids, period split at the corpus
    time midpoint (epoch-microsecond arithmetic, engine-exact), effect
    = (post - pre) of treated minus (post - pre) of control, canceling
    both group-level and time-level confounds under parallel trends.
    Completes the causal/eval family (ab_test_welch = randomized,
    offpolicy_* = counterfactual replay, this = observational panel).
    One scan + a 4-cell aggregate; exact int64 micro-unit means."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.expr(
        "(unix_micros(cast(min(ts) as timestamp)) "
        "+ unix_micros(cast(max(ts) as timestamp))) div 2").alias("mid_us"))
    cells = (ev.crossJoin(F.broadcast(bounds))
             .select((F.col("user_id") % 2 == 0).alias("treated"),
                     F.expr("unix_micros(cast(ts as timestamp)) >= mid_us")
                     .alias("post"),
                     F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
                     .cast("long").alias("r")))
    agg = (cells.groupBy("treated", "post")
           .agg(F.count(F.lit(1)).alias("n"),
                F.expr("sum(r) div count(*)").alias("mean_micro")))

    def cell(tr, po, col):
        return F.max(F.when((F.col("treated") == tr)
                            & (F.col("post") == po), F.col(col)))

    did = ((cell(True, True, "mean_micro")
            - cell(True, False, "mean_micro"))
           - (cell(False, True, "mean_micro")
              - cell(False, False, "mean_micro")))
    return agg.agg(
        cell(True, False, "n").alias("n_pre_treat"),
        cell(True, True, "n").alias("n_post_treat"),
        cell(False, False, "n").alias("n_pre_ctrl"),
        cell(False, True, "n").alias("n_post_ctrl"),
        cell(True, False, "mean_micro").alias("pre_treat_micro"),
        cell(True, True, "mean_micro").alias("post_treat_micro"),
        cell(False, False, "mean_micro").alias("pre_ctrl_micro"),
        cell(False, True, "mean_micro").alias("post_ctrl_micro"),
        did.alias("did_micro"))


# ---------------------------------------------------------------------------
# Corpus statistics for data curation: Zipf tail fit, Heaps vocabulary
# growth, margin-based bitext mining (round 9)
# ---------------------------------------------------------------------------

@query("zipf_tail_fit", """
WITH toks AS (
  SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS tok
  FROM documents
), tf AS (
  SELECT lang, tok, count(*)::BIGINT AS freq FROM toks GROUP BY lang, tok
), ranked AS (
  SELECT lang, freq,
         row_number() OVER (PARTITION BY lang
                            ORDER BY freq DESC, tok) AS rnk
  FROM tf
), tail AS (
  SELECT lang, ln(rnk::DOUBLE) AS x, ln(freq::DOUBLE) AS y
  FROM ranked WHERE rnk BETWEEN 2 AND 1000
)
SELECT lang, count(*)::BIGINT AS n_tail_types,
       round((count(*) * sum(x * y) - sum(x) * sum(y))
             / (count(*) * sum(x * x) - sum(x) * sum(x)), 4) AS zipf_slope,
       round(pow(count(*) * sum(x * y) - sum(x) * sum(y), 2)
             / ((count(*) * sum(x * x) - sum(x) * sum(x))
                * (count(*) * sum(y * y) - sum(y) * sum(y))), 4) AS zipf_r2
FROM tail GROUP BY lang
""")
def zipf_tail_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency tail fit per language: OLS slope of
    ln(freq) on ln(rank) over ranks 2..1000 of the token frequency
    table (rank 1 excluded — the head word flattens every natural
    corpus' fit; real pipelines fit the tail). The slope is the Zipf
    exponent (natural text ~ -1), r^2 the fit quality — a cheap,
    model-free signal that a corpus shard is templated/boilerplate
    (slope near 0, low r^2) vs natural (slope near -1, high r^2),
    used as a shard-level quality gate before expensive filters.

    Scale shape: the token count rides data volume with map-side
    partials; everything after is VOCABULARY-grain (the rank window
    partitions by lang — per-lang type tables, never a global funnel),
    and the regression is a 5-sum closed form in one hash agg. At any
    corpus size the post-agg work is bounded by tail width x languages.
    """
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    toks = (docs.select("lang",
                        F.explode(F.split(F.lower("text"), " ")).alias("tok"))
            .where(F.col("tok") != ""))
    tf = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), "tok")
    tail = (tf.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk").between(2, 1000))
            .select("lang", F.log(F.col("rnk").cast("double")).alias("x"),
                    F.log(F.col("freq").cast("double")).alias("y")))
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    return tail.groupBy("lang").agg(
        n.alias("n_tail_types"),
        F.round(cov_n / var_x, 4).alias("zipf_slope"),
        F.round(F.pow(cov_n, F.lit(2)) / (var_x * var_y), 4)
        .alias("zipf_r2"))


@query("heaps_vocab_growth", """
WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
dtoks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '),
                             x -> x <> '') AS toks
  FROM documents
), dbuck AS (
  SELECT d.doc_id, (d.doc_id * 10) // mx.m AS bucket,
         len(d.toks)::BIGINT AS n_toks
  FROM dtoks d CROSS JOIN mx
), btok AS (
  SELECT bucket, count(*)::BIGINT AS n_docs, sum(n_toks)::BIGINT AS toks
  FROM dbuck GROUP BY bucket
), sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3 THEN
      list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     for i in generate_series(1, len(toks) - 2)])
    ELSE [] END) AS s
  FROM dtoks
), firsts AS (
  SELECT sh.s, min(db.bucket) AS bucket
  FROM sh JOIN dbuck db USING (doc_id) GROUP BY sh.s
), newt AS (
  SELECT bucket, count(*)::BIGINT AS new_types FROM firsts GROUP BY bucket
)
SELECT b.bucket::INT AS bucket, b.n_docs,
       sum(b.toks) OVER (ORDER BY b.bucket
                         ROWS UNBOUNDED PRECEDING) AS cum_tokens,
       coalesce(n.new_types, 0)::BIGINT AS new_types,
       sum(coalesce(n.new_types, 0)) OVER (ORDER BY b.bucket
                                           ROWS UNBOUNDED PRECEDING)
         AS cum_types,
       round(ln(sum(coalesce(n.new_types, 0))
                  OVER (ORDER BY b.bucket ROWS UNBOUNDED PRECEDING))
             / ln(sum(b.toks) OVER (ORDER BY b.bucket
                                    ROWS UNBOUNDED PRECEDING)), 4)
         AS heaps_beta
FROM btok b LEFT JOIN newt n USING (bucket)
""")
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct 3-gram shingle
    types vs cumulative token volume across ten corpus deciles (by
    doc_id), with the realized Heaps exponent ln(V)/ln(N) per prefix —
    the "is more data still adding new content" saturation diagnostic
    that decides whether the next 10 TB of a crawl is worth ingesting
    (a flattening curve means dedup/filtering should tighten instead).

    Scale shape: shingling is the corpus scan (posexplode + lead,
    whole-stage codegen); first-occurrence is one hash agg at shingle
    TYPE grain (min bucket — no ordered window over the fact table);
    the cumulative window sees exactly 10 decile rows (constant grid,
    under the default SinglePartition bound). The decile bucket is
    pure doc_id arithmetic against a broadcast 1-row max — no global
    sort, no ntile over the corpus.
    """
    from pyspark.sql import Window
    docs = _t(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    toks_arr = F.filter(F.split(F.lower("text"), " "),
                        lambda x: x != "")
    dbuck = (docs.crossJoin(F.broadcast(mx))
             .select("doc_id",
                     F.expr("(doc_id * 10) div m").alias("bucket"),
                     F.size(toks_arr).cast("long").alias("n_toks")))
    btok = dbuck.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("toks"))
    sh = D.shingle_rows(docs, ngram=3)
    firsts = (sh.join(dbuck.select("doc_id", "bucket"), "doc_id")
              .groupBy("s").agg(F.min("bucket").alias("bucket")))
    newt = firsts.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("new_types"))
    w = (Window.orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    nt = F.coalesce("new_types", F.lit(0))
    return (btok.join(newt, "bucket", "left")
            .select(F.col("bucket").cast("int").alias("bucket"), "n_docs",
                    F.sum("toks").over(w).alias("cum_tokens"),
                    nt.alias("new_types"),
                    F.sum(nt).over(w).alias("cum_types"),
                    F.round(F.log(F.sum(nt).over(w))
                            / F.log(F.sum("toks").over(w)), 4)
                    .alias("heaps_beta")))


@query("margin_mining_pairs", """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv,
         list_sum(list_transform(embedding,
             x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT
                  * floor(x::DOUBLE * 1000000 + 0.5)::BIGINT))::BIGINT AS nrm
  FROM embeddings
), ps AS (
  SELECT a.vec_id AS sid, b.vec_id AS tid,
         floor(list_sum(list_transform(list_zip(a.qv, b.qv),
                                       p -> p[1] * p[2]))::BIGINT
               / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)::BIGINT AS micro
  FROM v a JOIN v b ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
), fwd AS (
  SELECT sid, tid, micro FROM (
    SELECT *, row_number() OVER (PARTITION BY sid
                                 ORDER BY micro DESC, tid) AS r FROM ps)
  WHERE r <= 4
), bwd AS (
  SELECT sid, tid, micro FROM (
    SELECT *, row_number() OVER (PARTITION BY tid
                                 ORDER BY micro DESC, sid) AS r FROM ps)
  WHERE r <= 4
), fstat AS (
  SELECT sid, sum(micro)::BIGINT AS fsum, count(*)::BIGINT AS fcnt
  FROM fwd GROUP BY sid
), bstat AS (
  SELECT tid, sum(micro)::BIGINT AS bsum, count(*)::BIGINT AS bcnt
  FROM bwd GROUP BY tid
), cand AS (
  SELECT DISTINCT sid, tid, micro
  FROM (SELECT * FROM fwd UNION ALL SELECT * FROM bwd)
), m AS (
  SELECT c.sid, c.tid, c.micro,
         round((2 * c.micro * f.fcnt * b.bcnt)::DOUBLE
               / (f.fsum * b.bcnt + b.bsum * f.fcnt), 4) AS margin
  FROM cand c JOIN fstat f USING (sid) JOIN bstat b USING (tid)
), rk AS (
  SELECT *,
         row_number() OVER (PARTITION BY sid
                            ORDER BY margin DESC, tid) AS rf,
         row_number() OVER (PARTITION BY tid
                            ORDER BY margin DESC, sid) AS rb
  FROM m
)
SELECT sid AS src_id, tid AS tgt_id, micro / 1000000.0 AS sim, margin
FROM rk WHERE rf = 1 AND rb = 1 AND margin > 1.0
""")
def margin_mining_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019)
    between the even/odd id halves of the embedding corpus — the
    bitext-mining shape that builds translation training pairs from
    two monolingual embedding spaces. Ratio margin over the k=4
    neighborhood means suppresses hub vectors; kept pairs are mutual
    margin-argmaxes above 1.0.

    Exactness: integer micro-unit cosines from the distributed blocked
    matmul (block_knn, cross-set via index_df); the margin is one
    double division of exact int64 products, so the oracle replays it
    bit-for-bit. The exact candidate passes are O(|src|*|tgt|*d) FLOPs
    and budget-guarded (guard_eval_flops) — at corpus scale swap
    candidate generation to sign_lsh_knn/ivf_knn, same margin math
    downstream (the contract the guard's error names)."""
    emb = _t(spark, sf_dir, "embeddings")
    S.guard_eval_flops(
        emb, op="margin_mining_pairs",
        remedy="Swap candidate generation to sign_lsh_knn/ivf_knn "
               "(same downstream margin math) past the exact-FLOP "
               "budget; the exact pass is for gate-scale audits.")
    return S.margin_mining_pairs(emb, k=4, threshold=1.0)


@query("dedup_containment_pairs", """
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3 THEN
      list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                     for i in generate_series(1, len(toks) - 2)])
    ELSE [] END) AS s
  FROM t
), cnts AS (
  SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id
), freq AS (
  SELECT s, count(*) AS sf FROM sh GROUP BY s
), ranked AS (
  SELECT sh.doc_id, sh.s, cn.c,
         row_number() OVER (PARTITION BY sh.doc_id
                            ORDER BY f.sf, sh.s) AS rnk
  FROM sh JOIN freq f USING (s) JOIN cnts cn ON cn.doc_id = sh.doc_id
), pref AS (
  SELECT doc_id, s FROM ranked
  WHERE rnk <= c - ((700000 * c + 999999) // 1000000) + 1
), cand AS (
  SELECT DISTINCT least(p.doc_id, b.doc_id) AS id_a,
                  greatest(p.doc_id, b.doc_id) AS id_b
  FROM pref p JOIN sh b ON b.s = p.s AND b.doc_id <> p.doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       (i.i * 1000000) // greatest(least(ca.c, cb.c), 1) AS containment_micro
FROM inter i
JOIN cnts ca ON ca.doc_id = i.id_a
JOIN cnts cb ON cb.doc_id = i.id_b
WHERE (i.i * 1000000) // greatest(least(ca.c, cb.c), 1) >= 700000
""")
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs — |A ∩ B| / min(|A|,|B|)
    >= 0.7: the doc-SUBSUMPTION detector (quotes, excerpts,
    boilerplate-wrapped copies) that symmetric Jaccard dilutes toward
    |small|/|large|. Blocking is the LOSSLESS one-sided prefix filter
    (recall 1.0 — symmetric MinHash bands are structurally blind to
    small-into-large pairs, measured as a test failure before this
    blocker replaced them; see functions/dedup.py::containment_pairs);
    exact integer micro-unit scores and overlap ceilings."""
    docs = _t(spark, sf_dir, "documents")
    return D.containment_pairs(docs, ngram=3, threshold_micro=700_000)


@query("percentiles_by_flag_distributed", ORACLE["percentiles_by_flag"])
def percentiles_by_flag_distributed(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """EXACT per-group percentiles at fact scale — the code-level form
    of percentiles_by_flag's "at 100 TB you'd swap" prose. Spark's
    percentile() buffers every value of a group in one aggregation
    state; this sibling computes the identical interpolated values
    with NO per-group materialization:

      1. ``distributed_ordinal`` over (flag, price): range shuffle +
         local sort + partition-count-bounded offset collect — global
         positions without the Exchange SinglePartition a global
         row_number would need;
      2. per-group base/count (a 3-row agg, broadcast) turns global
         ordinals into 0-indexed in-group positions;
      3. the quantile_cont formula r = (n-1)*q picks positions
         floor(r) and floor(r)+1 (a 9-row broadcast target table),
         and one filtered join + linear interpolation yields the
         exact percentile.

    Same oracle as the buffering form — the two must agree to the
    rounded digit, which is the cross-check that makes this the
    production path and that one the test anchor."""
    from .operators import distributed_ordinal
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag",
                                              "l_extendedprice")
    ordn = distributed_ordinal(li, order_by=["l_returnflag",
                                             "l_extendedprice"],
                               idx="__ord")
    g = ordn.groupBy("l_returnflag").agg(
        F.min("__ord").alias("base"), F.count(F.lit(1)).alias("n"))
    qs = F.array(*[F.lit(q) for q in (0.5, 0.9, 0.99)])
    tgt = (g.select("l_returnflag", "n",
                    F.explode(qs).alias("q"))
           .select("l_returnflag", "q",
                   F.floor((F.col("n") - 1) * F.col("q")).alias("k"),
                   ((F.col("n") - 1) * F.col("q")
                    - F.floor((F.col("n") - 1) * F.col("q")))
                   .alias("frac")))
    pos = (ordn.join(F.broadcast(g.select("l_returnflag", "base")),
                     "l_returnflag")
           .select("l_returnflag", "l_extendedprice",
                   (F.col("__ord") - F.col("base")).alias("pos")))
    picked = (pos.join(F.broadcast(tgt),
                       (pos["l_returnflag"] == tgt["l_returnflag"])
                       & ((F.col("pos") == F.col("k"))
                          | (F.col("pos") == F.col("k") + 1)))
              .select(pos["l_returnflag"].alias("flag"), "q", "k",
                      "frac", "pos", "l_extendedprice"))
    vk = F.max(F.when(F.col("pos") == F.col("k"),
                      F.col("l_extendedprice")))
    vk1 = F.max(F.when(F.col("pos") == F.col("k") + 1,
                       F.col("l_extendedprice")))
    per_q = (picked.groupBy("flag", "q", "frac")
             .agg(vk.alias("vk"), vk1.alias("vk1"))
             .select("flag", "q",
                     (F.col("vk") + F.col("frac")
                      * (F.coalesce("vk1", "vk") - F.col("vk")))
                     .alias("v")))
    return (per_q.groupBy(F.col("flag").alias("l_returnflag"))
            .agg(F.round(F.max(F.when(F.col("q") == 0.5, F.col("v"))), 4)
                 .alias("p50"),
                 F.round(F.max(F.when(F.col("q") == 0.9, F.col("v"))), 4)
                 .alias("p90"),
                 F.round(F.max(F.when(F.col("q") == 0.99, F.col("v"))), 4)
                 .alias("p99")))


@query("margin_mining_pairs_ann", """
WITH cfg AS (
  SELECT least(62, min(len(embedding)),
               greatest(8, length(bin((count(*) + 7) // 8 - 1))))::INT AS nbits
  FROM embeddings
), v AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv,
         list_sum(list_transform(embedding,
             x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT
                  * floor(x::DOUBLE * 1000000 + 0.5)::BIGINT))::BIGINT AS nrm
  FROM embeddings
), bv AS (
  SELECT vec_id, qv, nrm,
         list_sum(list_transform(range(0, nbits),
           i -> CASE WHEN embedding[i + 1] >= 0 THEN (1::BIGINT << i)
                ELSE 0 END))::BIGINT AS bucket
  FROM v CROSS JOIN cfg
), ps AS (
  SELECT a.vec_id AS sid, b.vec_id AS tid,
         floor(list_sum(list_transform(list_zip(a.qv, b.qv),
                                       p -> p[1] * p[2]))::BIGINT
               / (sqrt(a.nrm) * sqrt(b.nrm)) * 1000000 + 0.5)::BIGINT AS micro
  FROM bv a JOIN bv b
    ON a.bucket = b.bucket AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
), fwd AS (
  SELECT sid, tid, micro FROM (
    SELECT *, row_number() OVER (PARTITION BY sid
                                 ORDER BY micro DESC, tid) AS r FROM ps)
  WHERE r <= 4
), bwd AS (
  SELECT sid, tid, micro FROM (
    SELECT *, row_number() OVER (PARTITION BY tid
                                 ORDER BY micro DESC, sid) AS r FROM ps)
  WHERE r <= 4
), fstat AS (
  SELECT sid, sum(micro)::BIGINT AS fsum, count(*)::BIGINT AS fcnt
  FROM fwd GROUP BY sid
), bstat AS (
  SELECT tid, sum(micro)::BIGINT AS bsum, count(*)::BIGINT AS bcnt
  FROM bwd GROUP BY tid
), cand AS (
  SELECT DISTINCT sid, tid, micro
  FROM (SELECT * FROM fwd UNION ALL SELECT * FROM bwd)
), m AS (
  SELECT c.sid, c.tid, c.micro,
         round((2 * c.micro * f.fcnt * b.bcnt)::DOUBLE
               / (f.fsum * b.bcnt + b.bsum * f.fcnt), 4) AS margin
  FROM cand c JOIN fstat f USING (sid) JOIN bstat b USING (tid)
), rk AS (
  SELECT *,
         row_number() OVER (PARTITION BY sid
                            ORDER BY margin DESC, tid) AS rf,
         row_number() OVER (PARTITION BY tid
                            ORDER BY margin DESC, sid) AS rb
  FROM m
)
SELECT sid AS src_id, tid AS tgt_id, micro / 1000000.0 AS sim, margin
FROM rk WHERE rf = 1 AND rb = 1 AND margin > 1.0
""")
def margin_mining_pairs_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production composition of margin_mining_pairs: sign-LSH
    bucket candidates (auto_nbits keeps expected occupancy constant as
    the corpus grows — pair work scales with N, not N^2) + the
    identical exact-integer margin math and mutual-argmax selection.
    This is the swap the exact twin's FLOP-budget guard names; the
    oracle re-derives buckets, candidates, margins, and the mutual
    filter verbatim."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.margin_mining_pairs_ann(emb, k=4, threshold=1.0)
