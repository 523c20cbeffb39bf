"""Structured Streaming tests: bounded streams (Trigger.AvailableNow,
the reference's closed-channel analogue) through the same operator code
paths as batch, plus the custom stateful ops."""

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from go_streams_spark.api import Source
from go_streams_spark.operators import Map, Filter, tumbling_window
from go_streams_spark.streaming import (
    file_stream_source, memory_sink, running_fold_stream, global_fold_stream,
    count_or_time_batch_stream,
)


@pytest.fixture()
def stream_dir(spark):
    d = tempfile.mkdtemp(prefix="gss_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mem_name():
    return "t" + uuid.uuid4().hex[:10]


def test_stream_map_filter_pipeline(spark, stream_dir):
    # reference pipeline shape: FileSource -> Map -> Filter -> sink
    spark.createDataFrame([(i,) for i in range(10)], "value int") \
        .coalesce(1).write.mode("overwrite").parquet(stream_dir)
    src = file_stream_source(spark, stream_dir, fmt="parquet",
                             schema="value int")
    name = _mem_name()
    (Source(src)
     .via(Map(F.col("value") * 10, output="value"))
     .via(Filter("value >= 50"))
     .to(memory_sink(name)))
    got = sorted(r["value"] for r in spark.table(name).collect())
    assert got == [50, 60, 70, 80, 90]


def test_stream_tumbling_window_watermark(spark, stream_dir):
    rows = [("2024-01-01 00:00:05", 1.0), ("2024-01-01 00:00:30", 2.0),
            ("2024-01-01 00:01:10", 3.0), ("2024-01-01 00:02:50", 4.0)]
    spark.createDataFrame(rows, "ts string, value double") \
        .select(F.col("ts").cast("timestamp").alias("ts"), "value") \
        .coalesce(1).write.mode("overwrite").parquet(stream_dir)
    src = file_stream_source(spark, stream_dir, fmt="parquet",
                             schema="ts timestamp, value double")
    windowed = Source(src).via(tumbling_window(
        "ts", "1 minute", F.sum("value").alias("total"),
        watermark="10 seconds")).to_df()

    # append mode: only watermark-closed windows emit — the final window
    # stays open (no flush-on-close in append; documented delta vs
    # flow/tumbling_window.go:96-101)
    name_a = _mem_name()
    Source(windowed).to(memory_sink(name_a, output_mode="append"))
    got_a = {str(r["window_start"]): r["total"] for r in spark.table(name_a).collect()}
    assert got_a == {"2024-01-01 00:00:00": 3.0,
                     "2024-01-01 00:01:00": 3.0}

    # complete mode: all windows including the open one — the
    # flush-on-close analogue for bounded runs
    name_c = _mem_name()
    Source(windowed).to(memory_sink(name_c, output_mode="complete"))
    got_c = {str(r["window_start"]): r["total"] for r in spark.table(name_c).collect()}
    assert got_c == {"2024-01-01 00:00:00": 3.0,
                     "2024-01-01 00:01:00": 3.0,
                     "2024-01-01 00:02:00": 4.0}


def test_running_fold_stream(spark, stream_dir):
    # two files, one per micro-batch, each holding rows of both keys: the
    # second batch's sums must start from the state the first one left
    first = [(1, i, float(i)) for i in range(1, 4)] + [(2, i, 10.0) for i in range(2)]
    second = [(1, i, float(i)) for i in range(4, 6)] + [(2, 2, 10.0)]
    for mode, rows in (("overwrite", first), ("append", second)):
        spark.createDataFrame(rows, "k int, seq int, value double") \
            .coalesce(1).write.mode(mode).parquet(stream_dir)
    src = file_stream_source(spark, stream_dir, fmt="parquet",
                             schema="k int, seq int, value double",
                             maxFilesPerTrigger=1)
    out = running_fold_stream(
        src, key_cols=["k"], value_col="value", order_col="seq",
        fold_fn=lambda v, acc: acc + v, init=0.0,
        output_schema="k int, seq int, value double, acc double")
    name = _mem_name()
    q = Source(out).to(memory_sink(name, output_mode="append"))
    assert [p["numInputRows"] for p in q.recentProgress
            if p["numInputRows"]] == [len(first), len(second)]
    rows = spark.table(name).collect()
    accs = {(r["k"], r["seq"]): r["acc"] for r in rows}
    # reduce golden semantics: prefix sums (flow/reduce_test.go:34-35)
    assert [accs[(1, i)] for i in range(1, 6)] == [1.0, 3.0, 6.0, 10.0, 15.0]
    assert [accs[(2, i)] for i in range(3)] == [10.0, 20.0, 30.0]


def _fold_two_batches(spark, stream_dir, batches, buckets):
    """Fold ``(k, seq, value)`` batches, one file per micro-batch, with
    ``buckets`` state buckets; returns ({(k, seq): acc}, progress)."""
    from go_streams_spark.streaming import state_sized_partitions
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "k long, seq int, value double") \
            .coalesce(1).write.mode("append" if i else "overwrite") \
            .parquet(stream_dir)
    src = file_stream_source(spark, stream_dir, fmt="parquet",
                             schema="k long, seq int, value double",
                             maxFilesPerTrigger=1)
    name = _mem_name()
    with state_sized_partitions(spark, buckets):
        out = running_fold_stream(
            src, key_cols=["k"], value_col="value", order_col="seq",
            fold_fn=lambda v, acc: acc + v, init=0.0,
            output_schema="k long, seq int, value double, acc double")
        q = Source(out).to(memory_sink(name, output_mode="append"))
    assert [p["numInputRows"] for p in q.recentProgress
            if p["numInputRows"]] == [len(b) for b in batches]
    return ({(r["k"], r["seq"]): r["acc"] for r in spark.table(name).collect()},
            q.recentProgress)


def test_running_fold_stream_null_key(spark, stream_dir):
    """groupBy folds every null key as ONE key; so does the bucketed
    state, though pyspark hands pandas a null in an integer column as
    NaN (NaN != NaN) and turns the column float64. One bucket puts the
    null key and the integer keys in the same pandas frame, the second
    micro-batch must continue both accumulators from the stored state,
    and a key above 2**53 must come out exact."""
    big = 2 ** 60 + 1
    first = [(None, 1, 1.0), (7, 1, 10.0), (None, 2, 2.0), (big, 1, 5.0)]
    second = [(7, 2, 20.0), (None, 3, 4.0), (None, 4, 8.0), (big, 2, 1.0)]
    accs, _ = _fold_two_batches(spark, stream_dir, [first, second], 1)
    assert accs == {(None, 1): 1.0, (None, 2): 3.0, (None, 3): 7.0,
                    (None, 4): 15.0, (7, 1): 10.0, (7, 2): 30.0,
                    (big, 1): 5.0, (big, 2): 6.0}


def test_running_fold_stream_nullable_long_column(spark, stream_dir):
    """A nullable long pass-through column folds as in a per-key group:
    a key whose own rows hold a null sees it as NaN (null out), and the
    other keys' values in the same bucket stay exact above 2**53."""
    from go_streams_spark.streaming import state_sized_partitions
    big = 2 ** 60 + 1
    schema = "k long, seq int, big long, value double"
    spark.createDataFrame(
        [(1, 1, big, 1.0), (2, 1, None, 2.0), (1, 2, big + 2, 3.0),
         (2, 2, 7, 4.0)], schema).coalesce(1).write.mode("overwrite") \
        .parquet(stream_dir)
    src = file_stream_source(spark, stream_dir, fmt="parquet", schema=schema)
    name = _mem_name()
    with state_sized_partitions(spark, 1):
        out = running_fold_stream(
            src, key_cols=["k"], value_col="value", order_col="seq",
            fold_fn=lambda v, acc: acc + v, init=0.0,
            output_schema=f"{schema}, acc double")
        Source(out).to(memory_sink(name, output_mode="append"))
    got = sorted((r["k"], r["seq"], r["big"], r["acc"])
                 for r in spark.table(name).collect())
    assert got == [(1, 1, big, 1.0), (1, 2, big + 2, 4.0),
                   (2, 1, None, 2.0), (2, 2, 7, 6.0)]


def test_running_fold_stream_struct_output_column(spark, stream_dir):
    """The output column names come from parsing ``output_schema``, so a
    pass-through column whose type holds commas (a struct, a decimal)
    keeps its name instead of splitting into bogus ones."""
    schema = "k long, seq int, value double"
    spark.createDataFrame([(1, 1, 1.0), (2, 1, 5.0), (1, 2, 2.0)], schema) \
        .coalesce(1).write.mode("overwrite").parquet(stream_dir)
    src = file_stream_source(spark, stream_dir, fmt="parquet", schema=schema)
    src = src.select("k", "seq", "value",
                     F.struct("value", F.col("seq").cast("string")
                              .alias("tag")).alias("p"),
                     F.col("value").cast("decimal(10,2)").alias("d"))
    name = _mem_name()
    out = running_fold_stream(
        src, key_cols=["k"], value_col="value", order_col="seq",
        fold_fn=lambda v, acc: acc + v, init=0.0,
        output_schema="k long, seq int, p struct<value:double,tag:string>, "
                      "d decimal(10,2), acc double")
    Source(out).to(memory_sink(name, output_mode="append"))
    got = sorted((r["k"], r["seq"], r["p"]["tag"], float(r["d"]), r["acc"])
                 for r in spark.table(name).collect())
    assert got == [(1, 1, "1", 1.0, 1.0), (1, 2, "2", 2.0, 3.0),
                   (2, 1, "1", 5.0, 5.0)]


@pytest.mark.parametrize("n", [1, 2, 8, 200])
def test_state_slots_one_bucket_per_partition(spark, n):
    """Slot b of n lands in partition b of Spark's n-way hash
    partitioning, so each state bucket gets a task of its own."""
    from go_streams_spark.streaming.stateful import _murmur3_int, _slots
    slots = _slots(n)
    got = spark.createDataFrame([(v,) for v in slots], "v int").select(
        F.hash("v").alias("h"), F.pmod(F.hash("v"), F.lit(n)).alias("p"))
    rows = got.collect()
    assert [r["h"] for r in rows] == [_murmur3_int(v) for v in slots]
    assert [r["p"] for r in rows] == list(range(n))


@pytest.mark.parametrize("n_keys", [10, 5000])
def test_running_fold_stream_bucket_state_two_sizes(spark, stream_dir, n_keys):
    """At 10 and at 5,000 distinct keys, over two micro-batches, the
    bucketed fold emits exactly the prefix sums, and the state store
    holds one row per bucket (<= B), not one per key."""
    buckets = 4
    batches = [[(k, s, float(k % 7 + s)) for k in range(n_keys) for s in seqs]
               for seqs in ((0, 1), (2,))]
    accs, progress = _fold_two_batches(spark, stream_dir, batches, buckets)
    want, run = {}, {}
    for k, s, v in sorted(batches[0] + batches[1]):
        run[k] = run.get(k, 0.0) + v
        want[(k, s)] = run[k]
    assert accs == want
    rows = [p["stateOperators"][0]["numRowsTotal"] for p in progress
            if p["stateOperators"]]
    assert rows and max(rows) <= buckets


def test_count_or_time_batch_stream(spark, stream_dir):
    rows = [(1, float(i)) for i in range(10)]
    spark.createDataFrame(rows, "k int, value double") \
        .coalesce(1).write.mode("overwrite").parquet(stream_dir)
    src = file_stream_source(spark, stream_dir, fmt="parquet",
                             schema="k int, value double")
    out = count_or_time_batch_stream(
        src, key_cols=["k"], value_col="value", max_size=3, interval_ms=3000,
        output_schema="k int, batch array<double>, batch_size int, reason string")
    name = _mem_name()
    # processing-time timeouts + AvailableNow never self-terminate (see
    # stateful.py docstring) -> continuous trigger, poll, explicit stop
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    import time
    deadline = time.time() + 60
    while time.time() < deadline and spark.table(name).count() < 4:
        time.sleep(1)
    q.stop()
    got = spark.table(name).collect()
    # 10 elements, size 3 -> three size-flushes + the residual element
    # flushed by the processing-time timeout (count OR time, whichever
    # first — flow/batch.go:86-112)
    assert len(got) == 4
    sizes = sorted((r["batch_size"], r["reason"]) for r in got)
    assert sizes == [(1, "time"), (3, "size"), (3, "size"), (3, "size")]
    flat = sorted(v for r in got for v in r["batch"])
    assert flat == [float(i) for i in range(10)]


def test_stream_session_window(spark, stream_dir):
    rows = [("2024-01-01 00:00:00", 1, 1.0), ("2024-01-01 00:10:00", 1, 2.0),
            ("2024-01-01 01:00:00", 1, 3.0), ("2024-01-01 00:05:00", 2, 4.0)]
    spark.createDataFrame(rows, "ts string, k int, value double") \
        .select(F.col("ts").cast("timestamp").alias("ts"), "k", "value") \
        .coalesce(1).write.mode("overwrite").parquet(stream_dir)
    src = file_stream_source(spark, stream_dir, fmt="parquet",
                             schema="ts timestamp, k int, value double")
    from go_streams_spark.operators import session_window
    name = _mem_name()
    (Source(src)
     .via(session_window("ts", "30 minutes", F.sum("value").alias("total"),
                         keys=["k"], watermark="1 minute"))
     .to(memory_sink(name, output_mode="complete")))
    got = {(r["k"], str(r["window_start"])): r["total"]
           for r in spark.table(name).collect()}
    # user 1: two sessions (00:00-00:10 merged by 30m gap; 01:00 separate)
    assert got == {(1, "2024-01-01 00:00:00"): 3.0,
                   (1, "2024-01-01 01:00:00"): 3.0,
                   (2, "2024-01-01 00:05:00"): 4.0}


def test_stream_sliding_window(spark, stream_dir):
    rows = [("2024-01-01 00:00:10", 1.0), ("2024-01-01 00:00:50", 2.0)]
    spark.createDataFrame(rows, "ts string, value double") \
        .select(F.col("ts").cast("timestamp").alias("ts"), "value") \
        .coalesce(1).write.mode("overwrite").parquet(stream_dir)
    src = file_stream_source(spark, stream_dir, fmt="parquet",
                             schema="ts timestamp, value double")
    from go_streams_spark.operators import sliding_window
    name = _mem_name()
    (Source(src)
     .via(sliding_window("ts", "1 minute", "30 seconds",
                         F.sum("value").alias("total")))
     .to(memory_sink(name, output_mode="complete")))
    got = {str(r["window_start"]): r["total"] for r in spark.table(name).collect()}
    # floor-to-slide alignment (flow/sliding_window.go:309-326 == Spark):
    # event 00:00:10 -> windows starting 23:59:30 and 00:00:00
    # event 00:00:50 -> windows starting 00:00:00 and 00:00:30
    assert got == {"2023-12-31 23:59:30": 1.0,
                   "2024-01-01 00:00:00": 3.0,
                   "2024-01-01 00:00:30": 2.0}


def test_running_fold_stream_matches_batch_window(spark):
    """Cross-validation: the custom stateful streaming fold
    (applyInPandasWithState) computes EXACTLY what the batch window
    frame computes, on real events data (sf0.001)."""
    from go_streams_spark.queries import _t
    from go_streams_spark.operators import running_reduce

    ev = _t(spark, "/root/testdata/sf0.001", "events") \
        .select("user_id", "event_id", "value")
    batch = Source(ev).via(running_reduce(
        "value", order_by=["event_id"], partition_by=["user_id"],
        fn="sum", output="acc")).to_df()
    expect = {(r["user_id"], r["event_id"]): round(r["acc"], 6)
              for r in batch.collect()}

    import tempfile
    d = tempfile.mkdtemp(prefix="gss_xval_")
    ev.coalesce(1).write.mode("overwrite").parquet(d)
    src = file_stream_source(spark, d, fmt="parquet",
                             schema="user_id long, event_id long, value double")
    out = running_fold_stream(
        src, key_cols=["user_id"], value_col="value", order_col="event_id",
        fold_fn=lambda v, acc: acc + v, init=0.0,
        output_schema="user_id long, event_id long, value double, acc double")
    name = _mem_name()
    Source(out).to(memory_sink(name, output_mode="append"))
    got = {(r["user_id"], r["event_id"]): round(r["acc"], 6)
           for r in spark.table(name).collect()}
    assert got == expect  # identical accumulator at every element


def test_sliding_window_emit_partial(spark, tmp_path):
    """EmitPartialWindow (flow/sliding_window.go:12-32): update output
    mode re-emits a window's aggregate as each new element lands in it —
    partial results before the window closes. Replay source at one row
    per micro-batch makes the emission sequence deterministic."""
    import json, time, uuid
    from go_streams_spark.sources import register_replay_source
    from go_streams_spark.operators import tumbling_window

    path = str(tmp_path / "rows.jsonl")
    with open(path, "w") as f:
        for ts, v in [("2024-01-01 00:00:10", 1.0), ("2024-01-01 00:00:20", 2.0),
                      ("2024-01-01 00:00:40", 4.0)]:
            f.write(json.dumps({"ts": ts, "value": v}) + "\n")
    fmt = register_replay_source(spark)
    src = (spark.readStream.format(fmt)
           .option("path", path).option("ddl", "ts string, value double")
           .option("rowsPerBatch", "1").load()
           .select(F.col("ts").cast("timestamp").alias("ts"), "value"))
    windowed = Source(src).via(tumbling_window(
        "ts", "1 minute", F.sum("value").alias("total"))).to_df()
    name = "partial_" + uuid.uuid4().hex[:8]
    q = (windowed.writeStream.format("memory").queryName(name)
         .outputMode("update").start())
    deadline = time.time() + 60
    while time.time() < deadline:
        totals = sorted(r["total"] for r in spark.table(name).collect())
        if 7.0 in totals:
            break
        time.sleep(0.5)
    q.stop()
    totals = sorted(r["total"] for r in spark.table(name).collect())
    # one window, three progressive partials: 1.0 -> 3.0 -> 7.0
    assert totals == [1.0, 3.0, 7.0]


def test_streaming_dedup_across_batches(spark, tmp_path):
    """Stateful streaming dedup (dropDuplicates on a stream): duplicate
    ids arriving in LATER micro-batches are suppressed by the state
    store — the exactly-once ingest dedup a training pipeline runs in
    front of everything else."""
    import json, time, uuid
    from go_streams_spark.sources import register_replay_source
    path = str(tmp_path / "rows.jsonl")
    rows = [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}, {"id": 1, "v": "a-dup"},
            {"id": 3, "v": "c"}, {"id": 2, "v": "b-dup"}]
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    fmt = register_replay_source(spark)
    src = (spark.readStream.format(fmt)
           .option("path", path).option("ddl", "id int, v string")
           .option("rowsPerBatch", "2").load())
    deduped = src.dropDuplicates(["id"])
    name = "dd_" + uuid.uuid4().hex[:8]
    q = (deduped.writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    deadline = time.time() + 60
    while time.time() < deadline and spark.table(name).count() < 3:
        time.sleep(0.5)
    q.stop()
    got = {r["id"]: r["v"] for r in spark.table(name).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # first occurrence wins, dups dropped


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: dedup state is EVICTED once the
    watermark passes — the bounded-state form that survives unbounded
    streams (plain dropDuplicates state grows forever). Duplicates
    arriving within the watermark window are suppressed."""
    import json, time, uuid
    from go_streams_spark.sources import register_replay_source
    path = str(tmp_path / "rows.jsonl")
    rows = [
        {"id": 1, "ts": "2024-01-01 00:00:00"},
        {"id": 1, "ts": "2024-01-01 00:00:05"},   # dup within watermark -> dropped
        {"id": 2, "ts": "2024-01-01 00:00:10"},
    ]
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    fmt = register_replay_source(spark)
    src = (spark.readStream.format(fmt)
           .option("path", path).option("ddl", "id int, ts string")
           .option("rowsPerBatch", "1").load()
           .select("id", F.col("ts").cast("timestamp").alias("ts"))
           .withWatermark("ts", "1 minute"))
    deduped = src.dropDuplicatesWithinWatermark(["id"])
    name = "ddw_" + uuid.uuid4().hex[:8]
    q = (deduped.writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    deadline = time.time() + 60
    while time.time() < deadline and spark.table(name).count() < 2:
        time.sleep(0.5)
    q.stop()
    got = sorted(r["id"] for r in spark.table(name).collect())
    assert got == [1, 2]  # the duplicate id=1 within the watermark was dropped


def test_streaming_curation_pipeline(spark, tmp_path):
    """Continuous-ingestion curation: a documents stream flows through
    quality gating (length + token heuristics), exact dedup on content
    digest across micro-batches, and enrichment — the batch
    curation_pipeline's filters running under Structured Streaming with
    bounded dedup state. Two files -> two micro-batches; a cross-batch
    duplicate must be dropped by the state store, not batch-local
    logic."""
    import os as _os
    src = str(tmp_path / "docs")
    b1 = [(1, "good document with enough words to pass the gate"),
          (2, "xx")]                                  # too short: gated
    b2 = [(3, "good document with enough words to pass the gate"),  # dup of 1
          (4, "another acceptable document with plenty of words here")]
    spark.createDataFrame(b1, "doc_id long, text string").coalesce(1) \
        .write.mode("append").json(src)
    spark.createDataFrame(b2, "doc_id long, text string").coalesce(1) \
        .write.mode("append").json(src)

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).json(src))
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    curated = (stream
               .withColumn("n_tokens", F.size(toks))
               .where((F.length("text") >= 20) & (F.col("n_tokens") >= 5))
               .withColumn("digest", F.md5(F.lower(F.trim("text"))))
               .dropDuplicates(["digest"]))
    name = "cur_" + uuid.uuid4().hex[:8]
    q = (curated.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.table(name).collect())
    # 2 gated by quality, 3 deduped against batch-1 state, 1 and 4 kept
    assert kept == [1, 4]


def test_throttler_backpressure_per_trigger_quota(spark):
    """Executable Backpressure demonstration (flow/throttler_test.go:
    12-45: with quota 2/interval, a 4-element backlog drains as 2 then 2,
    never more per interval). Here: rate-micro-batch emits EXACTLY the
    throttle_options quota per processing-time trigger — the source does
    not advance past the quota, which is how a micro-batch engine blocks
    the upstream."""
    import time as _time
    from go_streams_spark.operators import throttle_options

    opts = throttle_options(5, 0.5, source="rate-micro-batch")
    trigger = opts.pop("__trigger_processing_time")
    assert opts == {"rowsPerBatch": "5"} and trigger == "0.5 seconds"

    counts: dict[int, int] = {}
    stream = (spark.readStream.format("rate-micro-batch")
              .options(**opts).option("numPartitions", "2").load())
    q = (stream.writeStream
         .foreachBatch(lambda df, bid: counts.__setitem__(bid, df.count()))
         .trigger(processingTime=trigger).start())
    deadline = _time.time() + 60
    while _time.time() < deadline and len(counts) < 3:
        _time.sleep(0.25)
    q.stop()
    assert len(counts) >= 3
    # every trigger delivered exactly the quota — per-interval reads
    # match the reference's [2,2]-style drain pattern at quota 5
    assert all(c == 5 for c in counts.values()), counts


def test_throttler_backpressure_bounded_backlog_drain(spark, tmp_path):
    """Backpressure over a BOUNDED backlog (the reference test's exact
    shape): 15 queued elements at quota 6/trigger drain as 6, 6, 3 —
    the last partial batch flushes, and no trigger ever exceeds the
    quota."""
    import json as _json
    import time as _time
    from go_streams_spark.operators import throttle_options
    from go_streams_spark.sources import register_replay_source

    path = str(tmp_path / "backlog.jsonl")
    with open(path, "w") as f:
        for i in range(15):
            f.write(_json.dumps({"id": i}) + "\n")
    fmt = register_replay_source(spark)
    opts = throttle_options(6, 0.25, source="gss_replay")
    trigger = opts.pop("__trigger_processing_time")
    counts: dict[int, int] = {}
    q = (spark.readStream.format(fmt)
         .option("path", path).option("ddl", "id int")
         .options(**opts).load()
         .writeStream
         .foreachBatch(lambda df, bid: counts.__setitem__(bid, df.count()))
         .trigger(processingTime=trigger).start())
    deadline = _time.time() + 60
    while _time.time() < deadline and sum(counts.values()) < 15:
        _time.sleep(0.25)
    q.stop()
    nonempty = [c for _, c in sorted(counts.items()) if c > 0]
    assert nonempty == [6, 6, 3]  # flow/throttler_test.go:12-45 pattern


def test_foreach_batch_bounded_retry_recovers(spark, tmp_path):
    """FileSink retry policy (extension/file.go:126-186): transient
    write failures are retried per micro-batch; the batch lands exactly
    once after the retries succeed."""
    import json as _json
    from go_streams_spark.sources import register_replay_source
    from go_streams_spark.streaming import with_bounded_retry

    src = str(tmp_path / "rows.jsonl")
    with open(src, "w") as f:
        for i in range(4):
            f.write(_json.dumps({"id": i}) + "\n")
    attempts = {"n": 0}
    landed = []

    def flaky_write(df, batch_id):
        attempts["n"] += 1
        if attempts["n"] <= 2:
            raise IOError("transient sink outage")
        landed.extend(sorted(r["id"] for r in df.collect()))

    fmt = register_replay_source(spark)
    q = (spark.readStream.format(fmt)
         .option("path", src).option("ddl", "id int")
         .option("rowsPerBatch", "10").load()
         .writeStream
         .foreachBatch(with_bounded_retry(flaky_write, max_retries=3,
                                          backoff_seconds=0.01))
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    assert attempts["n"] == 3 and landed == [0, 1, 2, 3]


def test_foreach_batch_retry_exhaustion_cancels_upstream(spark, tmp_path):
    """Fatal-path (extension/file.go:135-140,173-180): when retries are
    exhausted the query FAILS — the upstream stops being polled (the
    ctxCancel analogue) — and the on_give_up fatal hook fires first."""
    import json as _json
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from go_streams_spark.sources import register_replay_source
    from go_streams_spark.streaming import with_bounded_retry

    src = str(tmp_path / "rows.jsonl")
    with open(src, "w") as f:
        f.write(_json.dumps({"id": 1}) + "\n")
    calls = {"n": 0}
    fatal = []

    def always_fails(df, batch_id):
        calls["n"] += 1
        raise IOError("permanent sink outage")

    fmt = register_replay_source(spark)
    q = (spark.readStream.format(fmt)
         .option("path", src).option("ddl", "id int")
         .option("rowsPerBatch", "10").load()
         .writeStream
         .foreachBatch(with_bounded_retry(always_fails, max_retries=2,
                                          backoff_seconds=0.01,
                                          on_give_up=fatal.append))
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    with _pytest.raises(StreamingQueryException, match="permanent sink outage"):
        q.awaitTermination(60)
    assert calls["n"] == 2          # bounded: exactly max_retries attempts
    assert len(fatal) == 1          # fatal hook saw the terminal error


def test_sliding_window_emit_partial_update_mode(spark, tmp_path):
    """EmitPartialWindow (flow/sliding_window.go:25-32,213-246): the
    reference can emit a window's partial contents before the window
    closes. Spark's analogue is update output mode: each trigger emits
    the CURRENT aggregate of every window that changed, so a window
    spanning two micro-batches appears first with its partial value and
    again with its final value."""
    import os as _os
    src = str(tmp_path / "ev")
    # two files -> two micro-batches; both land in the 10:00-10:10 window
    spark.createDataFrame([("2024-01-01 10:01:00", 1.0),
                           ("2024-01-01 10:03:00", 2.0)],
                          "ts string, v double").coalesce(1) \
        .write.mode("append").json(src)
    spark.createDataFrame([("2024-01-01 10:07:00", 4.0)],
                          "ts string, v double").coalesce(1) \
        .write.mode("append").json(src)

    stream = (spark.readStream.schema("ts string, v double")
              .option("maxFilesPerTrigger", 1).json(src)
              .withColumn("ts", F.to_timestamp("ts")))
    agg = (stream.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
           .agg(F.sum("v").alias("total"))
           .select(F.col("w.start").alias("ws"), "total"))
    name = "part_" + uuid.uuid4().hex[:8]
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = [(str(r["ws"]), r["total"])
            for r in spark.table(name).orderBy("ws", "total").collect()]
    # the 10:00 window emits TWICE: partial (3.0 after batch 1) then
    # updated final (7.0 after batch 2) — EmitPartialWindow semantics
    win_10 = [t for ws, t in rows if ws.endswith("10:00:00")]
    assert win_10 == [3.0, 7.0]
    # overlapping slide windows also present (10:05 window sees only v=4
    # after batch 2, plus its batch-1 partial if any: 9:55 covers 1,2)
    win_0955 = [t for ws, t in rows if ws.endswith("09:55:00")]
    assert win_0955 == [3.0]
    win_1005 = [t for ws, t in rows if ws.endswith("10:05:00")]
    assert win_1005 == [4.0]


def test_incremental_near_dup_across_batches(spark, tmp_path):
    """Continuous corpus near-dedup: within-batch near-dups drop by
    exact verify (keep min id), cross-batch near-dups drop against the
    band-key state of previously KEPT docs, and unique docs flow
    through. Driven through a real two-micro-batch streaming query."""
    import os as _os
    from go_streams_spark.streaming.incremental_dedup import (
        incremental_near_dup_sink)

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from a warm windowsill in the morning sun today")
    near = base + " indeed"  # near-dup of base (jaccard 0.95, collides)
    other = ("completely different content about distributed query "
             "engines shuffling partitions across a thousand executors "
             "with adaptive execution and broadcast join planning")
    b1 = [(1, base), (2, near), (3, other)]          # 2 is in-batch dup of 1
    b2 = [(4, base.replace("sun", "rain")),          # cross-batch dup of 1
          (5, "short unrelated note on parquet footer statistics and "
              "column chunk dictionary encodings for fast pruning scans")]

    src = str(tmp_path / "docs")
    spark.createDataFrame(b1, "doc_id long, text string").coalesce(1) \
        .write.mode("append").json(src)
    spark.createDataFrame(b2, "doc_id long, text string").coalesce(1) \
        .write.mode("append").json(src)

    out_dir = str(tmp_path / "kept")
    state_dir = str(tmp_path / "state")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).json(src))
    q = (stream.writeStream
         .foreachBatch(incremental_near_dup_sink(
             spark, state_dir=state_dir, out_dir=out_dir))
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    kept = sorted(r["doc_id"] for r in spark.read.option(
        "basePath", out_dir).parquet(out_dir).collect())
    # 1 kept, 2 dropped (in-batch near-dup of 1), 3 kept,
    # 4 dropped (cross-batch near-dup of kept 1), 5 kept
    assert kept == [1, 3, 5]
    # state holds band keys only for KEPT docs (3 docs x 4 bands)
    state = spark.read.parquet(state_dir)
    assert state.count() == 12 and set(state.columns) == {"band", "band_key"}


def test_incremental_embedding_dedup_across_batches(spark, tmp_path):
    """Continuous embedding near-dedup: within-batch near-identical
    vectors collapse by exact cosine verify (keep min id), cross-batch
    near-dups drop against the sign-LSH band state of previously kept
    vectors, and distinct vectors flow through."""
    from go_streams_spark.streaming.incremental_dedup import (
        incremental_embedding_dedup_sink)

    base = [1.0] * 16
    near = [1.0] * 15 + [0.9]          # cos ~ 0.999 vs base
    opposite = [-1.0] * 16              # cos = -1: distinct
    mixed = [1.0, -1.0] * 8             # orthogonal-ish: distinct
    b1 = [(1, base), (2, near), (3, opposite)]     # 2 is in-batch dup of 1
    b2 = [(4, [1.0] * 14 + [0.95, 1.0]),           # cross-batch dup of 1
          (5, mixed)]

    src = str(tmp_path / "vecs")
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("append").json(src)
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").json(src)

    out_dir = str(tmp_path / "kept")
    state_dir = str(tmp_path / "state")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(src))
    q = (stream.writeStream
         .foreachBatch(incremental_embedding_dedup_sink(
             spark, state_dir=state_dir, out_dir=out_dir, threshold=0.95))
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    kept = sorted(r["vec_id"] for r in spark.read.option(
        "basePath", out_dir).parquet(out_dir).collect())
    assert kept == [1, 3, 5]


def test_global_fold_stream_reference_golden(spark, tmp_path):
    """The reference's Fold golden, verbatim (flow/fold_test.go:38-39):
    input 1..5, fold acc+str(x) from "" -> emissions "1","12","123",
    "1234","12345" in GLOBAL arrival order. global_fold_stream provides
    the reference's single-accumulator contract via the documented
    rate-bounded constant key; maxFilesPerTrigger=1 forces each element
    group through its own micro-batch, so the accumulator provably
    carries across batches in the state store, not within one pandas
    group."""
    src_dir = str(tmp_path / "src")
    for batch, vals in enumerate([[1, 2], [3, 4], [5]]):
        spark.createDataFrame([(10 * batch + i, v) for i, v in enumerate(vals)],
                              "seq int, value int") \
            .coalesce(1).write.mode("append").parquet(src_dir)
    src = (spark.readStream.schema("seq int, value int")
           .option("maxFilesPerTrigger", 1).parquet(src_dir))
    out = global_fold_stream(
        src, value_col="value", order_col="seq",
        fold_fn=lambda v, acc: acc + str(v), init="",
        output_schema="seq int, value int, acc string")
    name = _mem_name()
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = sorted(spark.table(name).collect(), key=lambda r: r["seq"])
    assert [r["acc"] for r in rows] == ["1", "12", "123", "1234", "12345"]


def test_token_window_chunks_stream_batch_parity(spark, tmp_path):
    """token_window_chunks is stateless per-row fan-out, so it runs
    unchanged on a stream and emits exactly the batch result."""
    from go_streams_spark.functions.text import token_window_chunks
    src = str(tmp_path / "src")
    rows = [(i, " ".join(f"w{j}" for j in range(i + 3))) for i in range(5)]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(src)
    batch = token_window_chunks(
        spark.read.parquet(src), size=4, stride=3)
    stream = token_window_chunks(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        size=4, stride=3)
    name = _mem_name()
    q = (stream.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    key = lambda r: (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
    assert sorted(map(key, spark.table(name).collect())) == \
        sorted(map(key, batch.collect()))


def test_heavy_hitters_stream_space_saving(spark, tmp_path):
    """SpaceSaving sketch over a multi-batch skewed stream: bounded
    state (capacity counters per bucket), and the classic guarantees
    hold against exact counts — every tracked counter satisfies
    cnt - err <= true <= cnt, and the genuinely heavy items are all
    tracked with EXACT counts (they never get evicted)."""
    from collections import Counter

    from go_streams_spark.streaming import heavy_hitters_stream
    src = str(tmp_path / "src")
    # 3 micro-batches; heavy items h0..h2 dominate, long tail of t-items
    batches, truth = [], Counter()
    for b in range(3):
        items = []
        for h in range(3):
            items += [f"h{h}"] * (40 - 10 * h)
        items += [f"t{b}_{j}" for j in range(30)]
        batches.append(items)
        truth.update(items)
    for b, items in enumerate(batches):
        spark.createDataFrame([(x,) for x in items], "item string") \
            .coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema("item string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = heavy_hitters_stream(stream, item_col="item",
                               capacity=8, num_buckets=4)
    by_batch: dict[int, list] = {}
    q = (out.writeStream
         .foreachBatch(lambda df, bid: by_batch.__setitem__(bid, df.collect()))
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # each invocation emits a bucket's FULL tracked set, so the final
    # counter state per bucket is its rows in the LAST batch that
    # touched it (earlier emissions are superseded wholesale)
    final = {}
    for bid in sorted(by_batch):
        per_bucket_rows = {}
        for r in by_batch[bid]:
            per_bucket_rows.setdefault(r["bucket"], []).append(r)
        for b, rows in per_bucket_rows.items():
            final = {k: v for k, v in final.items() if k[0] != b}
            for r in rows:
                final[(b, r["item"])] = (r["cnt"], r["err"])
    # bounded state: per bucket at most `capacity` counters survive
    per_bucket = Counter(b for b, _ in final)
    assert all(n <= 8 for n in per_bucket.values())
    by_item = {i: ce for (_, i), ce in final.items()}
    for item, (cnt, err) in by_item.items():
        assert cnt - err <= truth[item] <= cnt, (item, cnt, err)
    for h in ("h0", "h1", "h2"):  # heavy items tracked, exactly counted
        assert by_item[h] == (truth[h], 0)
    # cross-batch accumulation actually happened (not one-batch counts)
    assert by_item["h0"][0] == 120


def test_stream_session_paths_with_watermark(spark, tmp_path):
    """Sessionized ordered event paths under Structured Streaming:
    session_window(gap 30m) + per-session ordered collect across
    multiple micro-batches emits, in append mode, exactly the finalized
    sessions (watermark passed end+gap); a far-future flush event
    advances the watermark to close them."""
    import datetime as dt
    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 1, 1)

    def ev(mins, user, typ):
        return (user, t0 + dt.timedelta(minutes=mins), typ)

    b1 = [ev(0, 1, "view"), ev(5, 1, "click"), ev(0, 2, "view")]
    b2 = [ev(10, 1, "purchase"), ev(90, 1, "view"),  # 2nd session for u1
          ev(4, 2, "click")]
    b3 = [ev(600, 1, "flush"), ev(600, 2, "flush")]  # watermark advancer
    for batch in (b1, b2, b3):
        spark.createDataFrame(batch, "user_id long, ts timestamp, event_type string") \
            .coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema("user_id long, ts timestamp, event_type string")
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withWatermark("ts", "10 minutes"))
    paths = (stream.groupBy(F.session_window("ts", "30 minutes"), "user_id")
             .agg(F.concat_ws(">", F.transform(
                 F.array_sort(F.collect_list(F.struct("ts", "event_type"))),
                 lambda x: x.event_type)).alias("path")))
    name = _mem_name()
    q = (paths.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["path"]) for r in spark.table(name).collect()}
    # finalized sessions: u1 view>click>purchase (0-10m), u1 view (90m),
    # u2 view>click (0-4m); the flush events' own sessions stay open
    assert got == {(1, "view>click>purchase"), (1, "view"),
                   (2, "view>click")}


def test_stream_stream_interval_join_cross_batch(spark, tmp_path):
    """Stream-stream interval join matches across MICRO-BATCHES: a view
    buffered in the join state store is matched by a purchase arriving
    in a later batch — the property that distinguishes a true
    stream-stream join from a per-batch join. Out-of-range purchases
    (beyond the +30 min bound) must NOT match."""
    import json, time, uuid
    from go_streams_spark.sources import register_replay_source
    from go_streams_spark.streaming import stream_interval_join

    path = str(tmp_path / "ssj.jsonl")
    rows = [
        {"side": "v", "user_id": 1, "ts": "2024-01-01 00:00:00", "value": 0.0},
        {"side": "v", "user_id": 2, "ts": "2024-01-01 00:00:00", "value": 0.0},
        # later batch: in-range purchase for user 1 (+10 min) ...
        {"side": "p", "user_id": 1, "ts": "2024-01-01 00:10:00", "value": 5.0},
        # ... and an OUT-OF-RANGE one for user 2 (+2 h)
        {"side": "p", "user_id": 2, "ts": "2024-01-01 02:00:00", "value": 7.0},
    ]
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    fmt = register_replay_source(spark)

    def load():
        return (spark.readStream.format(fmt)
                .option("path", path)
                .option("ddl", "side string, user_id int, ts string, value double")
                .option("rowsPerBatch", "1").load())

    views = (load().where(F.col("side") == "v")
             .select("user_id", F.col("ts").cast("timestamp").alias("v_ts")))
    purchases = (load().where(F.col("side") == "p")
                 .select("user_id", F.col("ts").cast("timestamp").alias("p_ts"),
                         "value"))
    joined = stream_interval_join(
        views, purchases, key="user_id", left_ts="v_ts", right_ts="p_ts",
        upper="30 minutes", watermark="10 minutes")
    name = "ssj_" + uuid.uuid4().hex[:8]
    q = (joined.writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    deadline = time.time() + 90
    while time.time() < deadline and spark.table(name).count() < 1:
        time.sleep(0.5)
    time.sleep(2)  # grace: catch a spurious second match if one exists
    q.stop()
    got = [(r["user_id"], r["value"]) for r in spark.table(name).collect()]
    assert got == [(1, 5.0)]  # cross-batch match; out-of-range excluded


def test_token_bucket_stream_matches_batch(spark, tmp_path):
    """Streaming token bucket == batch fold over the same rows: split
    the events across two files (maxFilesPerTrigger=1 so the bucket
    state crosses a micro-batch boundary) and compare every admission
    decision and token balance against token_bucket_admit."""
    import datetime as dt
    from go_streams_spark.operators.throttle import token_bucket_admit
    from go_streams_spark.streaming.stateful import token_bucket_stream

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in (1, 2):
        for s in (0, 1, 2, 3, 60, 61, 7200, 7201, 7202, 7203):
            rows.append((u, eid, base + dt.timedelta(seconds=s + u)))
            eid += 1
    schema = "user_id long, event_id long, ts timestamp"
    df = spark.createDataFrame(rows, schema)
    d = str(tmp_path / "tb")
    # split each USER's timeline across the two files, so the bucket
    # balance genuinely carries across a micro-batch boundary per key
    df.where("event_id % 10 < 4").coalesce(1).write.mode("append").parquet(d)
    df.where("event_id % 10 >= 4").coalesce(1).write.mode("append").parquet(d)

    src = file_stream_source(spark, d, fmt="parquet", schema=schema,
                             maxFilesPerTrigger="1")
    out = token_bucket_stream(src, rate_micro_per_sec=20_000,
                              burst_micro=3_000_000)
    q = (out.writeStream.format("memory").queryName("tb_par")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["event_id"]: (r["admitted"], r["tokens_after_micro"])
           for r in spark.table("tb_par").collect()}
    want = {r["event_id"]: (r["admitted"], r["tokens_after_micro"])
            for r in token_bucket_admit(
                df, rate_micro_per_sec=20_000,
                burst_micro=3_000_000).collect()}
    assert got == want and len(got) == len(rows)


def test_token_bucket_stream_null_ts_matches_batch(spark, tmp_path):
    """A null-ts row gets a null decision and balance and leaves its
    key's bucket as it was, in the stream as in the batch fold: the
    null row sits in the first micro-batch, so a bucket it corrupted
    would refill the second micro-batch's rows from a bogus last-seen
    second."""
    import datetime as dt
    from go_streams_spark.operators.throttle import token_bucket_admit
    from go_streams_spark.streaming.stateful import token_bucket_stream

    base = dt.datetime(2024, 1, 1)
    first = [(1, e, base + dt.timedelta(seconds=e)) for e in range(3)]
    first += [(1, 9, None), (2, 10, None)]
    second = [(1, 20, base + dt.timedelta(seconds=60)),
              (1, 21, base + dt.timedelta(seconds=61)),
              (2, 22, base + dt.timedelta(seconds=5))]
    schema = "user_id long, event_id long, ts timestamp"
    d = str(tmp_path / "tbn")
    for rows in (first, second):
        spark.createDataFrame(rows, schema).coalesce(1).write \
            .mode("append").parquet(d)

    src = file_stream_source(spark, d, fmt="parquet", schema=schema,
                             maxFilesPerTrigger="1")
    out = token_bucket_stream(src, rate_micro_per_sec=20_000,
                              burst_micro=3_000_000)
    q = (out.writeStream.format("memory").queryName("tb_null")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["event_id"]: (r["admitted"], r["tokens_after_micro"])
           for r in spark.table("tb_null").collect()}
    want = {r["event_id"]: (r["admitted"], r["tokens_after_micro"])
            for r in token_bucket_admit(
                spark.createDataFrame(first + second, schema),
                rate_micro_per_sec=20_000,
                burst_micro=3_000_000).collect()}
    assert got == want and len(got) == len(first) + len(second)
    assert got[9] == got[10] == (None, None)
    # the refill at 60 s starts from the 2 s event: 58 s x 20,000
    assert got[20] == (True, 40_000 + 58 * 20_000 - 1_000_000)


def test_holt_winters_stream_cross_batch_parity(spark, tmp_path):
    """holt_winters_stream matches the batch fold minus each key's
    FINAL slot (the append-mode open-slot hold), with the model state —
    init buffer, level/trend, seasonal vector, and the OPEN slot's
    partial sum — carried across two real micro-batches whose boundary
    splits both an hour slot and the init/fold phase."""
    from go_streams_spark.operators.aggregate import holt_winters_additive
    from go_streams_spark.streaming.stateful import holt_winters_stream

    period = 3
    # key 'a': 8 hour-slots, two rows per slot (partial sums matter);
    # the file split lands mid-slot-4 AND before the fold phase begins
    rows = []
    for h in range(8):
        rows.append(("a", h, 10 + 7 * h))
        rows.append(("a", h, 3 + h))
    b1 = [r for r in rows if r[1] < 4 or (r[1] == 4 and r[2] % 2 == 0)]
    b2 = [r for r in rows if r[1] > 4 or (r[1] == 4 and r[2] % 2 == 1)]

    def to_df(rs):
        return spark.createDataFrame(
            [(k, f"2024-01-01 {h:02d}:00:00", v) for k, h, v in rs],
            "k string, hs string, y long").select(
            "k", F.col("hs").cast("timestamp").alias("hour"), "y")

    src = str(tmp_path / "hw")
    to_df(b1).coalesce(1).write.mode("append").parquet(src)
    to_df(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("k string, hour timestamp, y long")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = holt_winters_stream(stream, key_col="k", hour_col="hour",
                              value_col="y", period=period)
    import uuid as _uuid
    name = "hwst_" + _uuid.uuid4().hex[:8]
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "cp"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["k"], r["hour"].hour, r["y_micro"], r["level"],
                  r["trend"], r["seasonal"])
                 for r in spark.table(name).collect())

    hourly = (to_df(rows).groupBy("k", "hour")
              .agg(F.sum("y").alias("ym")))
    batch = holt_winters_additive(hourly, key_col="k", order_col="hour",
                                  value_col="ym", period=period)
    last = 7  # final slot never closes in the stream
    expect = sorted((r["k"], r["hour"].hour, r["ym"], r["level"],
                     r["trend"], r["seasonal"])
                    for r in batch.collect() if r["hour"].hour != last)
    assert got == expect and len(got) == 8 - period - 1


def test_holt_winters_stream_pre_epoch_hours(spark, tmp_path):
    """Pre-1970 hours have NEGATIVE epoch-ns; the state's open slot is
    tracked by an explicit has_open flag, so a batch boundary landing
    mid-slot on a negative timestamp must NOT drop the open partial sum
    (the old cur_ns = -1 sentinel made any pre-epoch open slot
    indistinguishable from 'no open slot')."""
    from go_streams_spark.operators.aggregate import holt_winters_additive
    from go_streams_spark.streaming.stateful import holt_winters_stream

    period = 2
    rows = []
    for h in range(6):
        rows.append(("a", h, 100 + 13 * h))
        rows.append(("a", h, 5 + h))
    # boundary splits slot 2: one row in each batch — the partial sum
    # must survive the batch boundary on a NEGATIVE cur_ns
    b1 = [r for r in rows if r[1] < 2 or (r[1] == 2 and r[2] % 2 == 0)]
    b2 = [r for r in rows if r[1] > 2 or (r[1] == 2 and r[2] % 2 == 1)]

    def to_df(rs):
        return spark.createDataFrame(
            [(k, f"1969-12-30 {h:02d}:00:00", v) for k, h, v in rs],
            "k string, hs string, y long").select(
            "k", F.col("hs").cast("timestamp").alias("hour"), "y")

    src = str(tmp_path / "hwneg")
    to_df(b1).coalesce(1).write.mode("append").parquet(src)
    to_df(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("k string, hour timestamp, y long")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = holt_winters_stream(stream, key_col="k", hour_col="hour",
                              value_col="y", period=period)
    import uuid as _uuid
    name = "hwneg_" + _uuid.uuid4().hex[:8]
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "cpneg"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["k"], r["hour"].hour, r["y_micro"], r["level"],
                  r["trend"], r["seasonal"])
                 for r in spark.table(name).collect())

    hourly = (to_df(rows).groupBy("k", "hour")
              .agg(F.sum("y").alias("ym")))
    batch = holt_winters_additive(hourly, key_col="k", order_col="hour",
                                  value_col="ym", period=period)
    expect = sorted((r["k"], r["hour"].hour, r["ym"], r["level"],
                     r["trend"], r["seasonal"])
                    for r in batch.collect() if r["hour"].hour != 5)
    assert got == expect and len(got) == 6 - period - 1
