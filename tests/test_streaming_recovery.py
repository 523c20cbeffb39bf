"""Fault-tolerance evidence the reference cannot give: checkpointed
state survives a query restart (exactly-once input consumption +
recovered aggregation state), and the same stateful plan runs on the
RocksDB state store provider — the disk-backed store a 100 TB cluster
uses when keyed state exceeds executor heap. The reference's state
lives in goroutine-local variables and dies with the process
(e.g. flow/tumbling_window.go buffers); go-streams has no restart
story at all.
"""

import os
import uuid

from pyspark.sql import functions as F


def _mem():
    return "t" + uuid.uuid4().hex[:10]


def _run_counts(spark, src_dir, cp_dir):
    """Start the counts-per-key query against src_dir with checkpoint
    cp_dir, drain with AvailableNow, return {key: count}."""
    stream = spark.readStream.schema("k string, v int").json(src_dir)
    counts = stream.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    name = _mem()
    w = (counts.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", cp_dir)
         .trigger(availableNow=True))
    q = w.start()
    q.awaitTermination(120)
    return {r["k"]: r["n"] for r in spark.table(name).collect()}


def _write_json(spark, path, rows):
    spark.createDataFrame(rows, "k string, v int").coalesce(1) \
        .write.mode("append").json(path)


def test_checkpoint_recovery_restores_state(spark, tmp_path):
    """Restart the same stateful query from its checkpoint: the second
    run must (a) NOT reprocess already-committed input and (b) resume
    with the aggregation state of the first run — counts are cumulative
    across the restart boundary."""
    src = str(tmp_path / "src")
    cp = str(tmp_path / "cp")
    _write_json(spark, src, [("a", 1), ("a", 2), ("b", 3)])
    first = _run_counts(spark, src, cp)
    assert first == {"a": 2, "b": 1}

    # simulate a crash/redeploy: new query object, same checkpoint
    _write_json(spark, src, [("a", 4), ("c", 5)])
    second = _run_counts(spark, src, cp)
    # 'a' continues from recovered state (2+1), 'b' survives untouched,
    # 'c' is new — and nothing was double-counted
    assert second == {"a": 3, "b": 1, "c": 1}


def test_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """A restart with no new input runs ZERO batches — AvailableNow
    consults the checkpoint, sees every file already committed, and
    terminates without emitting (the memory sink stays empty). This is
    the exactly-once half of recovery: committed input is never
    replayed through the pipeline."""
    src = str(tmp_path / "src")
    cp = str(tmp_path / "cp")
    _write_json(spark, src, [("x", 1), ("y", 2), ("y", 3)])
    assert _run_counts(spark, src, cp) == {"x": 1, "y": 2}
    assert _run_counts(spark, src, cp) == {}


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The identical stateful plan on the RocksDB state store — keyed
    state spills to local disk instead of living on-heap, which is the
    config a large cluster runs with (state >> executor memory). Also
    exercises recovery on that provider."""
    provider = ("org.apache.spark.sql.execution.streaming."
                "state.RocksDBStateStoreProvider")
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, provider)
    try:
        src = str(tmp_path / "src")
        cp = str(tmp_path / "cp")
        _write_json(spark, src, [("a", 1), ("b", 2), ("a", 3)])
        assert _run_counts(spark, src, cp) == {"a": 2, "b": 1}
        _write_json(spark, src, [("b", 4)])
        assert _run_counts(spark, src, cp) == {"a": 2, "b": 2}
        # the checkpoint must actually contain RocksDB-format state files
        found = []
        for root, _dirs, files in os.walk(cp):
            found.extend(f for f in files if f.endswith(".zip") or f.endswith(".sst"))
        assert found, "no RocksDB snapshot/changelog files under checkpoint"
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_idempotent_parquet_sink_replay_safe(spark, tmp_path):
    """The batchId-partitioned parquet sink is replay-idempotent: a
    batch written twice (simulating the crash-between-write-and-commit
    replay) overwrites its own partition, and the directory holds
    exactly-once data across a query restart."""
    from go_streams_spark.api import Source
    from go_streams_spark.streaming import idempotent_parquet_sink
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "cp")
    _write_json(spark, src, [("a", 1), ("b", 2)])
    stream = spark.readStream.schema("k string, v int").json(src)
    sink = idempotent_parquet_sink(out, checkpoint=ckpt, available_now=True)
    q = Source(stream).to(sink)
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    assert {(r["k"], r["v"]) for r in first.collect()} == {("a", 1), ("b", 2)}

    # restart with more input: new batch lands in its own partition
    _write_json(spark, src, [("c", 3)])
    q2 = Source(spark.readStream.schema("k string, v int").json(src)).to(
        idempotent_parquet_sink(out, checkpoint=ckpt, available_now=True))
    q2.awaitTermination(120)
    # simulate a REPLAY of the last batch: rewrite batch_id=1 directly
    bdf = spark.createDataFrame([("c", 3)], "k string, v int")
    from pyspark.sql import functions as F
    (bdf.withColumn("batch_id", F.lit(1))
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(out))
    final = spark.read.parquet(out)
    assert sorted((r["k"], r["v"]) for r in final.collect()) == [
        ("a", 1), ("b", 2), ("c", 3)]  # no duplicates after replay


def test_incremental_fingerprint_matches_batch_and_replays_safely(spark, tmp_path):
    """The streamed fingerprint equals the batch corpus fingerprint
    over the same rows, and a simulated batch replay (same batch_id)
    leaves it unchanged — additive partials + dynamic overwrite."""
    import uuid as _uuid

    from go_streams_spark.streaming.io import (
        incremental_fingerprint_sink, read_corpus_fingerprint, _FP_PRIME)

    src = str(tmp_path / "docs")
    state = str(tmp_path / "fp")
    b1 = [(1, "alpha text", "s1"), (2, "beta text", "s2")]
    b2 = [(3, "gamma text", "s1"), (4, "delta text", "s1")]
    for b in (b1, b2):
        spark.createDataFrame(b, "doc_id long, text string, source string") \
            .coalesce(1).write.mode("append").json(src)

    stream = (spark.readStream.schema("doc_id long, text string, source string")
              .option("maxFilesPerTrigger", 1).json(src))
    sink = incremental_fingerprint_sink(
        state, checkpoint=str(tmp_path / "cp"), available_now=True)
    q = sink(stream)
    q.awaitTermination(120)

    got = {r["source"]: (r["n_docs"], r["fingerprint"])
           for r in read_corpus_fingerprint(spark, state).collect()}

    allrows = spark.createDataFrame(
        b1 + b2, "doc_id long, text string, source string")
    h = F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                       F.md5("text"))), 1, 15), 16, 10).cast("long")
    want = {r["source"]: (r["n_docs"], r["fingerprint"])
            for r in allrows.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 (F.sum(h.cast("decimal(38,0)"))
                  % F.lit(_FP_PRIME).cast("decimal(38,0)"))
                 .cast("long").alias("fingerprint")).collect()}
    assert got == want and set(got) == {"s1", "s2"}

    # simulated replay: rewrite batch 0's partial with the same payload
    batch0 = spark.createDataFrame(b1, "doc_id long, text string, source string")
    part = (batch0.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 (F.sum(h.cast("decimal(38,0)"))
                  % F.lit(_FP_PRIME).cast("decimal(38,0)"))
                 .cast("long").alias("fp_partial"))
            .withColumn("batch_id", F.lit(0)))
    (part.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(state))
    again = {r["source"]: (r["n_docs"], r["fingerprint"])
             for r in read_corpus_fingerprint(spark, state).collect()}
    assert again == want


def test_cep_stream_checkpoint_recovery_exactly_once(spark, tmp_path):
    """cep_stream across a crash/redeploy: run bounded, add a later
    event file, restart a NEW query object on the SAME checkpoint. The
    open-session buffer must survive the restart (the pre-crash session
    closes by gap-break against post-crash events and emits with its
    full pre-crash sequence), and no closed session is ever emitted
    twice (append-mode exactly-once over the union of both runs)."""
    import datetime as dt
    from pyspark.sql import functions as F
    from go_streams_spark.streaming import file_stream_source
    from go_streams_spark.streaming.stateful import cep_stream

    SCHEMA = ("event_id long, ts timestamp, user_id long, "
              "event_type string")
    base = dt.datetime(2024, 1, 1, 8)

    def ev(uid, minute, etype, eid):
        return (eid, base + dt.timedelta(minutes=minute), uid, etype)

    src = str(tmp_path / "src")
    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")
    seen = []

    def run_once(batch):
        spark.createDataFrame(batch, SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
        stream = file_stream_source(spark, src, fmt="parquet",
                                    schema=SCHEMA)
        # memory sinks cannot recover from a checkpoint; a parquet sink
        # is the real exactly-once surface anyway
        q = (cep_stream(stream, pattern="v[^p]*c[^p]*p",
                        symbols={"view": "v", "click": "c",
                                 "purchase": "p"},
                        gap_seconds=1800, close_on_timeout=False)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", cp)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = spark.read.parquet(out).collect()
        new = {(r["user_id"], r["sid"]): (r["seq"], r["n_matches"])
               for r in rows}
        delta = {k: v for k, v in new.items() if k not in seen}
        # exactly-once: nothing already emitted may appear again with
        # different content, and totals only grow by the delta
        assert len(new) == len(seen) + len(delta)
        seen.extend(delta)
        return delta

    # run 1: one OPEN session per user (funnel-shaped for user 1,
    # non-matching for user 2) — nothing closes, nothing emits
    first = run_once([ev(1, 0, "view", 1), ev(1, 2, "click", 2),
                      ev(1, 4, "purchase", 3),
                      ev(2, 0, "purchase", 10), ev(2, 2, "view", 11)])
    assert first == {}

    # crash/redeploy: new files push both users past the gap; the
    # recovered state must close the PRE-CRASH sessions intact
    second = run_once([ev(1, 600, "view", 20),
                       ev(2, 600, "click", 21)])
    assert second == {(1, 1): ("vcp", 1)}  # user 2's 'pv' never matches

    # third run with no new input: zero new batches, zero re-emission
    stream = file_stream_source(spark, src, fmt="parquet", schema=SCHEMA)
    q = (cep_stream(stream, pattern="v[^p]*c[^p]*p",
                    symbols={"view": "v", "click": "c", "purchase": "p"},
                    gap_seconds=1800, close_on_timeout=False)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", cp)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(seen) == 1


def test_holt_winters_stream_checkpoint_recovery(spark, tmp_path):
    """Kill-restart the streaming Holt-Winters at a checkpoint whose
    boundary splits the fold mid-model: the restarted query must resume
    with the recovered (open slot, init buffer, level/trend, seasonal
    vector) state — the union of both runs' emissions equals the batch
    fold minus the final open slot, with nothing re-emitted."""
    from go_streams_spark.operators.aggregate import holt_winters_additive
    from go_streams_spark.streaming.stateful import holt_winters_stream

    period = 3
    rows = [("a", h, 11 * h + 5) for h in range(9)]
    src = str(tmp_path / "src")
    cp = str(tmp_path / "cp")

    def to_df(rs):
        return spark.createDataFrame(
            [(k, f"2024-02-01 {h:02d}:00:00", v) for k, h, v in rs],
            "k string, hs string, y long").select(
            "k", F.col("hs").cast("timestamp").alias("hour"), "y")

    out_dir = str(tmp_path / "out")
    seen: set = set()

    def run_once():
        stream = (spark.readStream
                  .schema("k string, hour timestamp, y long")
                  .parquet(src))
        out = holt_winters_stream(stream, key_col="k", hour_col="hour",
                                  value_col="y", period=period)
        # memory sinks cannot recover from a checkpoint; a parquet
        # sink is the real exactly-once surface anyway
        q = (out.writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", cp)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = {(r["k"], r["hour"].hour, r["y_micro"], r["level"],
                 r["trend"], r["seasonal"])
                for r in spark.read.parquet(out_dir).collect()}
        new = rows - seen
        seen.update(rows)
        return sorted(new)

    # run 1: slots 0-5 (init consumes 0-2; folds emit 3,4; 5 stays open)
    to_df(rows[:6]).coalesce(1).write.mode("append").parquet(src)
    first = run_once()
    assert sorted(h for _, h, *_ in first) == [3, 4]

    # crash/redeploy: slots 6-8 arrive; recovered state closes 5, folds
    # 6, 7; 8 stays open; nothing from run 1 is re-emitted
    to_df(rows[6:]).coalesce(1).write.mode("append").parquet(src)
    second = run_once()
    assert sorted(h for _, h, *_ in second) == [5, 6, 7]

    hourly = to_df(rows).groupBy("k", "hour").agg(F.sum("y").alias("ym"))
    batch = holt_winters_additive(hourly, key_col="k", order_col="hour",
                                  value_col="ym", period=period)
    expect = sorted((r["k"], r["hour"].hour, r["ym"], r["level"],
                     r["trend"], r["seasonal"])
                    for r in batch.collect() if r["hour"].hour != 8)
    assert sorted(first + second) == expect


def test_running_fold_stream_kill_restart(spark, tmp_path):
    """Kill-restart the bucketed running fold: (1) a restart on the same
    checkpoint and bucket count continues every key's sum from the
    recovered state, with nothing re-emitted; (2) a restart built under
    another ``spark.sql.shuffle.partitions`` would route keys to other
    buckets and silently restart their sums, so it fails loudly and
    names both bucket counts, (3) also when the count grew and the
    batch touches one bucket only, which runs in the same state
    partition as before and has no stored state."""
    import pytest

    from go_streams_spark.streaming import state_sized_partitions
    from go_streams_spark.streaming.stateful import (_murmur3_int, _slots,
                                                     running_fold_stream)

    schema = "k long, seq int, value double"

    def write(src, rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    def run_once(run_dir, buckets):
        out_dir = str(run_dir / "out")
        with state_sized_partitions(spark, buckets):
            out = running_fold_stream(
                spark.readStream.schema(schema).parquet(str(run_dir / "src")),
                key_cols=["k"], value_col="value", order_col="seq",
                fold_fn=lambda v, acc: acc + v, init=0.0,
                output_schema="k long, seq int, value double, acc double")
            q = (out.writeStream.format("parquet").option("path", out_dir)
                 .option("checkpointLocation", str(run_dir / "cp"))
                 .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        return sorted((r["k"], r["seq"], r["acc"])
                      for r in spark.read.parquet(out_dir).collect())

    a, src = tmp_path / "a", str(tmp_path / "a" / "src")
    keys = range(20)
    write(src, [(k, 0, float(k)) for k in keys])
    assert run_once(a, 4) == [(k, 0, float(k)) for k in keys]

    write(src, [(k, 1, 1.0) for k in keys])
    assert run_once(a, 4) == sorted([(k, 0, float(k)) for k in keys]
                                    + [(k, 1, k + 1.0) for k in keys])

    write(src, [(k, 2, 1.0) for k in keys])
    with pytest.raises(Exception, match=r"written with 4 buckets.*built with 2"):
        run_once(a, 2)

    b, src = tmp_path / "b", str(tmp_path / "b" / "src")
    write(src, [(k, 0, 1.0) for k in range(40)])
    run_once(b, 4)
    # bucket 2 of 8 runs in state partition 2 of the checkpoint's 4, and
    # its group value is not the one bucket 2 of 4 stored its state under
    s4, s8 = _slots(4), _slots(8)
    assert _murmur3_int(s8[2]) % 4 == 2 and s8[2] not in s4
    key = spark.range(40, 400).where(
        F.pmod(F.xxhash64("id"), F.lit(8)) == 2).first()["id"]
    write(src, [(key, 1, 1.0)])
    with pytest.raises(Exception, match=r"written with 4 buckets.*built with 8"):
        run_once(b, 8)
