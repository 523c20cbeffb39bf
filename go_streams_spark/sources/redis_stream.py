"""Redis Streams source/sink as a Spark Python Data Source.

Reference semantics being reproduced (redis/redis_stream.go):

- ``StreamSource`` (redis_stream.go:45,94-124): consumer-group read loop
  — ``XGROUP CREATE`` (optionally MKSTREAM, start at ``"0"`` for history
  or ``"$"`` for new-only, redis_stream.go:30-41) then ``XREADGROUP``
  per batch, emitting ``XMessage{ID, Values}``.
- ``StreamSink`` (redis_stream.go:153,176-210): ``XADD`` each element's
  field map to the target stream; fire-and-forget (errors are logged,
  not retried), i.e. at-least-once.

Spark-first redesign, not a port: in Spark the *checkpoint* is the
consumer group. ``XREADGROUP`` hands each entry to exactly one consumer
and cannot re-deliver a committed range, which breaks Spark's
exactly-once contract (a failed micro-batch must be replayable from its
offset range). So the reader uses **stream entry IDs as offsets** and
replays ranges with ``XRANGE (start end`` (exclusive start, Redis 6.2+
semantics); progress is still published to a consumer group on commit
via ``XGROUP SETID`` so redis-side tooling (XINFO GROUPS, lag monitors)
observes the Spark query exactly as it would observe the reference's
consumer — that is the ack analogue of redis_stream.go:128's implicit
group cursor advance.

Scale model: one Redis stream is a single totally-ordered shard, so one
stream = one input partition per micro-batch (matching the reference's
single consumer goroutine). Horizontal scale comes from reading many
streams — pass a comma-separated ``stream`` option and each stream
becomes its own partition read by its own executor task.

The client is injected via the ``clientFactory`` option
(``"module:function"``, called with the lower-cased option dict) so the
connector logic is testable without a broker; the default factory
builds a real ``redis.Redis`` from host/port/db/password options.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ._broker import ClientReader, RowWriter, TailReader, connected, resolve_factory

REDIS_STREAM_SOURCE_NAME = "gss_redis_stream"
REDIS_PUBSUB_SOURCE_NAME = "gss_redis_pubsub"

STREAM_SCHEMA = "id string, stream string, values map<string,string>"
PUBSUB_SCHEMA = "channel string, pattern string, payload string"


def _parse_id(entry_id: str) -> tuple[int, int]:
    ms, _, seq = entry_id.partition("-")
    return int(ms), int(seq or 0)


def _redis_client(opts: dict):
    """The real client: ``redis.Redis`` from host/port/db/password."""
    try:
        import redis
    except ImportError as e:  # pragma: no cover - depends on env
        raise ImportError(
            "Redis connector requires the 'redis' client library "
            "(pip install redis), or pass clientFactory pointing at a "
            "compatible client builder") from e
    return redis.Redis(
        host=opts.get("host", "localhost"),
        port=int(opts.get("port", "6379")),
        db=int(opts.get("db", "0")),
        password=opts.get("password"),
        decode_responses=True,
    )


def resolve_client_factory(options: dict):
    """The redis client builder: ``clientFactory`` option
    (``module:function``) or the default real-client builder."""
    return resolve_factory(options, _redis_client)


def _streams(options: dict) -> list[str]:
    raw = options.get("stream")
    if not raw:
        raise ValueError("redis stream connector requires option 'stream'")
    return [s.strip() for s in raw.split(",") if s.strip()]


def _channel(options: dict, role: str) -> str:
    channel = options.get("channel")
    if not channel:
        raise ValueError(f"redis pubsub {role} requires option 'channel'")
    return channel


def _ensure_group(client, options: dict, streams: list[str]):
    """XGROUP CREATE MKSTREAM per stream (redis_stream.go:50-71), treating
    BUSYGROUP (group exists) as success like every consumer-group app."""
    group = options.get("group")
    if not group:
        return
    start = options.get("startid", "0")
    for s in streams:
        try:
            client.xgroup_create(s, group, id=start, mkstream=True)
        except Exception as e:  # redis.ResponseError / fake BusyGroupError
            if "BUSYGROUP" not in str(e):
                raise


class _StreamSlice(InputPartition):
    """One (stream, exclusive-start-id, inclusive-end-id] range."""

    def __init__(self, stream: str, start: str, end: str):
        self.stream = stream
        self.start = start
        self.end = end


def _read_slice(options: dict, part: _StreamSlice) -> Iterator[tuple]:
    """Executor-side range read — deterministic replay via XRANGE with an
    exclusive lower bound, the property XREADGROUP cannot give us."""
    if part.start == part.end:
        return
    with connected(options, _redis_client) as client:
        for eid, values in client.xrange(
                part.stream, f"({part.start}", part.end):
            yield (eid, part.stream, dict(values))


class RedisStreamBatchReader(DataSourceReader):
    """Bounded read of full streams (or an explicit (startId, endId]
    range) — one partition per stream."""

    def __init__(self, options: dict):
        self.options = dict(options)

    def partitions(self):
        # "-" (the smallest id) reads the same entries as "(0-0"
        start = self.options.get("startid", "0-0")
        return [_StreamSlice(s, "0-0" if start == "-" else start,
                             self.options.get("endid", "+"))
                for s in _streams(self.options)]

    def read(self, partition: _StreamSlice):
        yield from _read_slice(self.options, partition)


class RedisStreamStreamReader(ClientReader, DataSourceStreamReader):
    """Micro-batch reader: offsets are ``{stream: last_entry_id}``."""

    default_client = staticmethod(_redis_client)

    def __init__(self, options: dict):
        super().__init__(options)
        self.streams = _streams(self.options)
        self.max_per_trigger = int(
            self.options.get("maxentriespertrigger", "1000"))

    def _open(self, client):
        _ensure_group(client, self.options, self.streams)
        return client

    def initialOffset(self) -> dict:
        cli = self._cli()
        off = {}
        new_only = self.options.get("startid", "0") == "$"
        for s in self.streams:
            if new_only:
                last = cli.xrevrange(s, "+", "-", count=1)
                off[s] = last[0][0] if last else "0-0"
            else:
                off[s] = "0-0"
        return off

    def _recovered_floor(self) -> dict:
        """Seed the rate-cap cursor on a fresh instance. The Python data
        source protocol gives a restarted reader no committed offset, so
        a rate-capped reader would re-plan delivered ranges after a
        restart. The durable position lives in the BROKER: the consumer
        group's last-delivered-id, which commit() advances — exactly the
        recovery semantics the reference gets from XREADGROUP groups
        (redis_stream.go:30-41). Without a group, restart delivery is
        at-least-once (idempotent sinks recommended)."""
        cur = dict(self.initialOffset())
        group = self.options.get("group")
        if group:
            cli = self._cli()
            for s in self.streams:
                try:
                    for g in cli.xinfo_groups(s):
                        if g.get("name") == group:
                            last = g.get("last-delivered-id", "0-0")
                            if _parse_id(last) > _parse_id(cur[s]):
                                cur[s] = last
                except Exception:
                    pass  # stream/group may not exist yet
        return cur

    def latestOffset(self) -> dict:
        cur = dict(getattr(self, "_last", None) or self._recovered_floor())
        cli = self._cli()
        for s in self.streams:
            # cap the per-trigger advance (the Throttler-Backpressure /
            # maxOffsetsPerTrigger analogue): scan at most N new entries
            # and park the offset at the last one seen
            entries = cli.xrange(s, f"({cur[s]}", "+",
                                 count=self.max_per_trigger)
            if entries:
                cur[s] = entries[-1][0]
        self._last = cur
        return cur

    def partitions(self, start: dict, end: dict):
        # RESTART REPAIR: after recovery Spark replays the logged batch
        # through partitions() without telling latestOffset where the
        # offset log stands — a fresh reader instance would otherwise
        # re-plan already-delivered ranges (duplicates under new batch
        # ids). Advance the rate-cap cursor to the logged high-water
        # mark before the next latestOffset call.
        cur = dict(getattr(self, "_last", None) or {})
        for s, eid in end.items():
            if s not in cur or _parse_id(eid) > _parse_id(cur[s]):
                cur[s] = eid
        self._last = cur
        parts = [
            _StreamSlice(s, start.get(s, "0-0"), end[s])
            for s in end
            if end[s] != start.get(s, "0-0")
        ]
        # Spark requires >= 1 partition per planned batch
        return parts or [_StreamSlice(self.streams[0], "0-0", "0-0")]

    def read(self, partition: _StreamSlice):
        yield from _read_slice(self.options, partition)

    def commit(self, end: dict):
        # Publish progress to the consumer group (ack analogue): after a
        # micro-batch is durable in the checkpoint, XGROUP SETID advances
        # the group cursor so redis-side lag tooling sees the consumption
        group = self.options.get("group")
        if group:
            cli = self._cli()
            for s, eid in end.items():
                if eid != "0-0":
                    cli.xgroup_setid(s, group, id=eid)


def _xadd_rows(options: dict, iterator) -> int:
    """Executor-side XADD loop (redis_stream.go:176-210): a ``values``
    map column is written as the entry's field map; otherwise every
    column becomes a stringified field (the map[string]any case)."""
    stream = options.get("stream")
    if not stream:
        raise ValueError("redis stream sink requires option 'stream'")
    n = 0
    with connected(options, _redis_client) as client:
        for row in iterator:
            d = row.asDict(recursive=True)
            values = d.get("values")
            if not isinstance(values, dict):
                values = {k: "" if v is None else str(v) for k, v in d.items()}
            client.xadd(stream, values)
            n += 1
    return n


class RedisStreamDataSource(DataSource):
    """``format("gss_redis_stream")`` — options:

    - ``stream``: stream name(s), comma-separated (source) / target (sink)
    - ``group`` / ``startId`` ("0" history | "$" new-only): consumer-group
      bookkeeping, mirroring XGroupCreateArgs (redis_stream.go:30-41)
    - ``maxEntriesPerTrigger``: per-micro-batch cap (backpressure)
    - ``host``/``port``/``db``/``password``: real client connection
    - ``clientFactory``: ``module:function`` client injection hook
    """

    @classmethod
    def name(cls):
        return REDIS_STREAM_SOURCE_NAME

    def schema(self):
        return STREAM_SCHEMA

    def reader(self, schema):
        return RedisStreamBatchReader(self.options)

    def streamReader(self, schema):
        return RedisStreamStreamReader(self.options)

    def writer(self, schema, overwrite):
        if overwrite:
            raise ValueError(
                "redis streams are append-only; mode('overwrite') is not "
                "supported — use mode('append')")
        return RowWriter(self.options, _xadd_rows)

    def streamWriter(self, schema, overwrite):
        return RowWriter(self.options, _xadd_rows)


def _text(value):
    return value.decode("utf-8", "replace") if isinstance(value, bytes) else value


class RedisPubSubStreamReader(TailReader):
    """Redis Pub/Sub source (redis_pubsub.go:35,65-83).

    Pub/Sub is fire-and-forget: a message not consumed at publish time is
    gone, so there is no server-side replay. The faithful Spark shape is
    a driver-side subscriber (SimpleDataSourceStreamReader reads on the
    driver — correct for a low-throughput control-plane stream, which is
    what pub/sub is for): SUBSCRIBE once, drain pending messages each
    trigger, and keep a bounded in-memory tail so a failed micro-batch
    can be replayed within the process lifetime. Across driver restarts
    delivery is at-most-once — exactly the reference's guarantee.
    """

    default_client = staticmethod(_redis_client)

    def __init__(self, options: dict):
        super().__init__(options)
        self.channel = _channel(self.options, "source")

    def _open(self, client):
        pubsub = client.pubsub()
        pubsub.subscribe(self.channel)
        return client, pubsub  # the client owns the pubsub's connection

    _sub = TailReader._cli  # subscribe now, before the first trigger

    def _poll(self):
        _, pubsub = self._sub()
        while (msg := pubsub.get_message(ignore_subscribe_messages=True,
                                         timeout=0.01)) is not None:
            if msg.get("type") == "message":
                yield (_text(msg.get("channel")), msg.get("pattern"),
                       _text(msg.get("data")))


def _pubsub_rows(options: dict, iterator) -> int:
    """PUBLISH each row's payload (redis_pubsub.go:112,135-154)."""
    channel = options["channel"]  # checked by streamWriter()
    n = 0
    with connected(options, _redis_client) as client:
        for row in iterator:
            d = row.asDict()
            payload = d.get("payload", d.get("value"))
            if payload is None and d:
                payload = next(iter(d.values()))
            client.publish(channel, "" if payload is None else str(payload))
            n += 1
    return n


class RedisPubSubDataSource(DataSource):
    """``format("gss_redis_pubsub")`` — options: ``channel``, connection
    options, ``clientFactory``. At-most-once source, fire-and-forget
    sink, mirroring redis/redis_pubsub.go."""

    @classmethod
    def name(cls):
        return REDIS_PUBSUB_SOURCE_NAME

    def schema(self):
        return PUBSUB_SCHEMA

    def simpleStreamReader(self, schema):
        return RedisPubSubStreamReader(self.options)

    def streamWriter(self, schema, overwrite):
        _channel(self.options, "sink")
        return RowWriter(self.options, _pubsub_rows)


def register_redis_sources(spark) -> tuple[str, str]:
    """Register both redis data sources; returns their format names."""
    spark.dataSource.register(RedisStreamDataSource)
    spark.dataSource.register(RedisPubSubDataSource)
    return REDIS_STREAM_SOURCE_NAME, REDIS_PUBSUB_SOURCE_NAME


def entry_ts(id_col="id"):
    """Event-time column from a stream entry ID: the ``<ms>-<seq>``
    format's milliseconds part is the server assignment time, i.e. the
    natural event-time column for windowed aggregation over a Redis
    stream (no extra timestamp field needed). JVM-side only."""
    from pyspark.sql import functions as F
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    ms = F.split(col, "-").getItem(0).cast("long")
    return F.timestamp_millis(ms)
