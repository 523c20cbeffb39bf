"""Custom connectors via the Python Data Source API (Spark 4).

The reference's non-Kafka streaming connectors — Redis streams
(redis/redis_stream.go:45), Redis pub/sub (redis/redis_pubsub.go),
NATS JetStream (nats/nats_jetstream.go:82), Pulsar (pulsar/pulsar.go:25),
WebSocket (websocket/web_socket.go:33), Aerospike CDC polling
(aerospike/aerospike.go:52,91-127) — have no official Spark connector.
The scalable Spark idiom is a Python Data Source: the driver tracks
offsets (the ack/consumer-group analogue), executors read partitions,
and exactly-once falls out of offset-range replay + checkpointing.

``ReplayDataSource`` is the fully-working, dependency-free instance of
that pattern (batch + micro-batch streaming over a JSONL file with
line-number offsets — the shape a Redis XREADGROUP source takes with
stream IDs as offsets). The real network connectors live in sibling
modules (redis_stream.py, nats_jetstream.py, pulsar.py, websocket.py,
aerospike.py) on one shared core, ``_broker.py``: one ``clientFactory``
lookup (``resolve_factory``) for the injectable client, so the
connector logic is tested broker-free, plus one row writer, one
lazily opened reader client and one driver-side tail buffer. Each
module's ``register_*`` function registers its format;
``redis_stream_source`` below also returns a loaded DataFrame.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceStreamReader, DataSourceStreamWriter,
    DataSourceWriter, InputPartition, WriterCommitMessage,
)

REPLAY_SOURCE_NAME = "gss_replay"
DEFAULT_DDL = "value string"


class _RangePartition(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class _RangeRead:
    """Executor side of both replay readers: the JSONL rows whose line
    numbers fall in ``[start, end)``, as tuples in ``ddl`` column order."""

    def read(self, partition: _RangePartition):
        fields = [c.strip().split(" ")[0] for c in self.ddl.split(",")]
        with open(partition.path) as f:
            for i, line in enumerate(f):
                if partition.start <= i < partition.end and line.strip():
                    row = json.loads(line)
                    yield tuple(row[k] for k in fields)


class ReplayBatchReader(_RangeRead, DataSourceReader):
    def __init__(self, options, ddl: str):
        self.path = options.get("path")
        self.num_partitions = int(options.get("numpartitions", "4"))
        self.ddl = ddl

    def partitions(self):
        with open(self.path) as f:
            n = sum(1 for _ in f)
        step = max(1, (n + self.num_partitions - 1) // self.num_partitions)
        return [_RangePartition(self.path, i, min(i + step, n))
                for i in range(0, n, step)]


class ReplayStreamReader(_RangeRead, DataSourceStreamReader):
    """Micro-batch reader with line-number offsets — the pattern for
    any cursor/ack-based stream (Redis stream IDs, NATS sequence
    numbers, Aerospike last-update timestamps)."""

    def __init__(self, options, ddl: str):
        self.path = options.get("path")
        self.rows_per_batch = int(options.get("rowsperbatch", "10"))
        self.ddl = ddl

    def _total(self) -> int:
        with open(self.path) as f:
            return sum(1 for _ in f)

    def initialOffset(self):
        return {"offset": 0}

    def latestOffset(self):
        # advance at most rows_per_batch per COMMITTED micro-batch:
        # the maxOffsetsPerTrigger/Throttler-Backpressure analogue
        # (flow/throttler.go:160-170). Spark may call latestOffset
        # several times while planning one trigger — only advance
        # when the previous range was committed, else the cap
        # silently collapses into one giant batch.
        # gate on the planning callback (partitions), not commit():
        # Spark does not reliably call commit() on this instance, but
        # partitions(start, end) fires exactly once per planned batch.
        planned = getattr(self, "_planned", 0)
        cur = getattr(self, "_last", 0)
        if cur > planned:
            return {"offset": cur}
        nxt = min(cur + self.rows_per_batch, self._total())
        self._last = nxt
        return {"offset": nxt}

    def partitions(self, start, end):
        self._planned = max(getattr(self, "_planned", 0), end["offset"])
        # restart repair: partitions() sees the true logged offsets;
        # advance the rate-cap cursor so a recovered reader doesn't
        # re-plan delivered ranges (the DS protocol restores nothing)
        self._last = max(getattr(self, "_last", 0),
                         start["offset"], end["offset"])
        return [_RangePartition(self.path, start["offset"], end["offset"])]

    def commit(self, end):
        # ack analogue (kafka MarkMessage kafka_sarama.go:128, NATS
        # Ack nats_jetstream.go:135-140): offsets below `end` are
        # durable in the checkpoint; unblocks the next rate-limited
        # advance in latestOffset.
        self._committed = end["offset"]


class _TaskCommit(WriterCommitMessage):
    """Per-task commit message: the staged file + row count (the
    shape a network sink's message-id/sequence ack list takes)."""

    def __init__(self, tmp_path: str, rows: int):
        self.tmp_path = tmp_path
        self.rows = rows


class _StagedWrite:
    """Executor side of both replay writers: stage the task's rows in a
    temp file beside ``path``; the driver's commit publishes it."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("gss_replay writer requires option 'path'")

    def write(self, iterator):
        tmp = f"{self.path}.task-{uuid.uuid4().hex}"
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _TaskCommit(tmp, n)

    @staticmethod
    def _discard(messages):
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class ReplayBatchWriter(_StagedWrite, DataSourceWriter):
    """Two-phase-commit JSONL sink — the Data Source API writer
    analogue of the reference's connector sinks (Redis XADD
    redis/redis_stream.go:176-210, NATS publish
    nats/nats_jetstream.go:239-275, Aerospike batched Put
    aerospike/aerospike.go:255-332). Executors stage per-task
    output in write(); the driver's commit() publishes every staged
    file atomically-enough (rename), abort() discards — a network
    connector keeps exactly the same skeleton with publish-in-write
    + ack/cleanup-in-commit, and exactly-once falls out of
    (batchId, task) idempotence."""

    def __init__(self, options, overwrite: bool = False):
        super().__init__(options)
        self.overwrite = overwrite

    def commit(self, messages):
        # honor save-mode: mode("overwrite") truncates the target,
        # mode("append") appends (previously overwrite was silently
        # treated as append)
        with open(self.path, "w" if self.overwrite else "a") as out:
            for m in messages:
                if m is None:
                    continue
                with open(m.tmp_path) as f:
                    out.write(f.read())
                os.remove(m.tmp_path)

    def abort(self, messages):
        self._discard(messages)


class ReplayStreamWriter(_StagedWrite, DataSourceStreamWriter):
    """Streaming flavor: commit(batchId) makes replays idempotent —
    a batch marker file skips re-publication when a micro-batch is
    replayed after failure (the checkpoint/ack interplay every
    reference sink approximates with client-side acks).

    Markers are namespaced by the ``runId`` option (pass a distinct
    value per query writing to a shared path — otherwise a prior
    query's marker would silently suppress another query's batch 0),
    and published via temp-file + atomic rename. KNOWN LIMIT: the
    data append and the marker rename are two filesystem operations;
    a crash between them duplicates that batch on replay. Appending
    to a single shared file admits no true atomicity — a
    production sink writes one file per (runId, batchId) staged via
    rename, or keys an idempotent upsert by (runId, batchId, task).
    Acceptable for this demo/bridge sink; the two-phase skeleton is
    the part network connectors inherit."""

    def __init__(self, options):
        super().__init__(options)
        self.run_id = options.get("runid", "")

    def commit(self, messages, batchId):
        suffix = f"{self.run_id}-{batchId}" if self.run_id else str(batchId)
        marker = f"{self.path}.batch-{suffix}"
        already = os.path.exists(marker)
        with open(self.path, "a") as out:
            for m in messages:
                if m is None:
                    continue
                if not already:
                    with open(m.tmp_path) as f:
                        out.write(f.read())
                os.remove(m.tmp_path)
        if not already:
            tmp_marker = f"{marker}.tmp"
            open(tmp_marker, "w").close()
            os.replace(tmp_marker, marker)  # atomic publish of the marker

    def abort(self, messages, batchId):
        self._discard(messages)


class ReplayDataSource(DataSource):
    """format("gss_replay"): options path, ddl, numPartitions,
    rowsPerBatch (streaming)."""

    @classmethod
    def name(cls):
        return REPLAY_SOURCE_NAME

    def schema(self):
        return self.options.get("ddl", DEFAULT_DDL)

    def reader(self, schema):
        return ReplayBatchReader(self.options, self.options.get("ddl", DEFAULT_DDL))

    def streamReader(self, schema):
        return ReplayStreamReader(self.options, self.options.get("ddl", DEFAULT_DDL))

    def writer(self, schema, overwrite):
        return ReplayBatchWriter(self.options, overwrite=overwrite)

    def streamWriter(self, schema, overwrite):
        return ReplayStreamWriter(self.options)


def register_replay_source(spark: SparkSession) -> str:
    """Register the replay data source; returns the format name."""
    spark.dataSource.register(ReplayDataSource)
    return REPLAY_SOURCE_NAME


def redis_stream_source(spark, **options):
    """Redis stream source (redis/redis_stream.go:45,94-124) — REAL
    implementation in redis_stream.py: entry IDs as offsets, XRANGE
    replay, XGROUP SETID on commit. Requires 'redis' at runtime (or a
    ``clientFactory`` option); the connector logic itself is tested
    broker-free with the file-backed FakeRedis."""
    from .redis_stream import register_redis_sources
    fmt, _ = register_redis_sources(spark)
    reader = spark.readStream if options.pop("streaming", True) else spark.read
    return reader.format(fmt).options(**options).load()

