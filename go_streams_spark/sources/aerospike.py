"""Aerospike source/sink as a Spark Python Data Source.

Reference semantics being reproduced (aerospike/aerospike.go):

- ``AerospikeSink`` (aerospike.go:228,255-332): write each record's bin
  map; with ``BatchSize > 1`` records are buffered and flushed through
  one batched operation (``BatchOperate``) per ``BatchSize`` records or
  ``BufferFlushInterval``, whichever first.
- ``PollingSource`` (aerospike.go:52,91-127): scan the (namespace, set)
  every ``PollingInterval`` filtered by ``ExpLastUpdate > lastPoll`` —
  CDC by last-update time.

Spark-first shape: the sink is a Data Source writer whose executor-side
``write()`` buffers rows and issues one ``put_batch`` per ``batchSize``
records (micro-batch boundaries play the role of the flush interval —
a trigger IS a time-bounded buffer, so count-flush inside the task +
trigger-flush at task end reproduces the count-OR-time contract). The
streaming source is the last-update-cursor micro-batch reader: offsets
are the high-water last-update clock, each batch scans
``(cursor, new_cursor]`` — the replayable form of the reference's poll
loop.

Adapter protocol (injected via ``clientFactory``): ``put_batch(ns, set,
[(key, bins)])``, ``scan(ns, set, since_update)``, ``max_last_update(ns,
set)``, ``close()``. The default adapter uses the real ``aerospike``
client; tests inject the file-backed FakeAerospike.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ._broker import ClientReader, RowWriter, connected

AEROSPIKE_SOURCE_NAME = "gss_aerospike"
AEROSPIKE_SCHEMA = "key string, bins map<string,string>, last_update long"
DEFAULT_BATCH_SIZE = 100


class AerospikeClientAdapter:
    """Real adapter over the ``aerospike`` client library."""

    def __init__(self, options: dict):
        try:
            import aerospike
        except ImportError as e:  # pragma: no cover - depends on env
            raise ImportError(
                "Aerospike connector requires the 'aerospike' client library "
                "(pip install aerospike), or pass clientFactory pointing at a "
                "compatible adapter builder") from e
        host = options.get("host", "localhost")
        port = int(options.get("port", "3000"))
        self._client = aerospike.client(
            {"hosts": [(host, port)]}).connect()
        self._aerospike = aerospike

    def put_batch(self, namespace: str, set_name: str, records):
        # batch write (BatchOperate analogue); client.put per record in
        # a loop is the fallback on older servers
        for key, bins in records:
            self._client.put((namespace, set_name, key), bins)

    def scan(self, namespace: str, set_name: str, since_update: int = 0):
        import aerospike_helpers.expressions as exp
        query = self._client.query(namespace, set_name)
        policy = {}
        if since_update:
            policy["expressions"] = exp.GT(
                exp.LastUpdateTime(), since_update).compile()
        for (key_tuple, meta, bins) in query.results(policy):
            yield (str(key_tuple[2]), {k: str(v) for k, v in bins.items()},
                   int(meta.get("last_update_time", 0)))

    def max_last_update(self, namespace: str, set_name: str) -> int:
        mx = 0
        for _, _, lut in self.scan(namespace, set_name, 0):
            mx = max(mx, lut)
        return mx

    def close(self):
        self._client.close()


def _ns_set(options: dict) -> tuple[str, str]:
    ns, st = options.get("namespace"), options.get("set")
    if not ns or not st:
        raise ValueError(
            "Aerospike connector requires options 'namespace' and 'set'")
    return ns, st


class _ScanPartition(InputPartition):
    def __init__(self, since: int, until: int):
        self.since = since
        self.until = until


class AerospikeBatchReader(DataSourceReader):
    """Bounded full-set scan."""

    def __init__(self, options: dict):
        self.options = dict(options)

    def read(self, partition):
        ns, st = _ns_set(self.options)
        with connected(self.options, AerospikeClientAdapter) as adapter:
            yield from adapter.scan(ns, st, 0)


class AerospikeCDCStreamReader(ClientReader, DataSourceStreamReader):
    """Polling CDC source (aerospike.go:91-127): offsets are the
    high-water last-update clock; each micro-batch scans the
    ``(cursor, new_cursor]`` update window."""

    default_client = AerospikeClientAdapter

    def initialOffset(self) -> dict:
        return {"lut": 0}

    def latestOffset(self) -> dict:
        ns, st = _ns_set(self.options)
        return {"lut": self._cli().max_last_update(ns, st)}

    def partitions(self, start: dict, end: dict):
        return [_ScanPartition(start["lut"], end["lut"])]

    def read(self, partition: _ScanPartition):
        if partition.since >= partition.until:
            return
        ns, st = _ns_set(self.options)
        with connected(self.options, AerospikeClientAdapter) as adapter:
            for key, bins, lut in adapter.scan(ns, st, partition.since):
                if lut <= partition.until:
                    yield (key, bins, lut)

    def commit(self, end: dict):
        pass


def _put_rows(options: dict, iterator) -> int:
    """Executor-side batched put loop (aerospike.go:255-332): buffer up
    to ``batchSize`` records, flush via one ``put_batch`` call; the end
    of the task (micro-batch/partition boundary) is the time-flush.
    Puts are keyed upserts, so a replayed task is idempotent."""
    ns, st = _ns_set(options)
    batch_size = int(options.get("batchsize", str(DEFAULT_BATCH_SIZE)))
    key_col = options.get("keycolumn", "key")
    buffer: list[tuple] = []
    n = 0
    with connected(options, AerospikeClientAdapter) as adapter:
        for row in iterator:
            d = row.asDict(recursive=True)
            key = str(d.get(key_col))
            bins = d.get("bins")
            if not isinstance(bins, dict):
                bins = {k: "" if v is None else str(v)
                        for k, v in d.items() if k != key_col}
            buffer.append((key, bins))
            n += 1
            if len(buffer) >= batch_size:
                adapter.put_batch(ns, st, buffer)
                buffer = []
        if buffer:
            adapter.put_batch(ns, st, buffer)
    return n


class AerospikeDataSource(DataSource):
    """``format("gss_aerospike")`` — options:

    - ``namespace`` / ``set``: target record location
    - ``keyColumn``: row column used as the record key (default ``key``)
    - ``batchSize``: records per batched put (default 100)
    - ``host``/``port``: real client connection
    - ``clientFactory``: ``module:function`` adapter injection hook
    """

    @classmethod
    def name(cls):
        return AEROSPIKE_SOURCE_NAME

    def schema(self):
        return AEROSPIKE_SCHEMA

    def reader(self, schema):
        return AerospikeBatchReader(self.options)

    def streamReader(self, schema):
        return AerospikeCDCStreamReader(self.options)

    def writer(self, schema, overwrite):
        return RowWriter(self.options, _put_rows)

    def streamWriter(self, schema, overwrite):
        return RowWriter(self.options, _put_rows)


def register_aerospike_source(spark) -> str:
    spark.dataSource.register(AerospikeDataSource)
    return AEROSPIKE_SOURCE_NAME
