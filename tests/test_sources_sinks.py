"""Sources/sinks tests, including the Python Data Source API connector
(batch + micro-batch streaming with offsets)."""

import json
import os
import shutil
import tempfile
import uuid

import pytest

from go_streams_spark.api import Source
from go_streams_spark.sinks import text_sink, parquet_sink, collect_sink
from go_streams_spark.sources import (
    text_source, parquet_source, binary_source, register_replay_source,
)



@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="gss_io_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_text_roundtrip(spark, tmpdir):
    # FileSource -> FileSink pipeline (extension/file.go), batch mode
    path_in = os.path.join(tmpdir, "in")
    path_out = os.path.join(tmpdir, "out")
    spark.createDataFrame([("hello",), ("world",)], "value string") \
        .coalesce(1).write.text(path_in)
    df = text_source(spark, path_in)
    Source(df).to(text_sink(path_out))
    back = sorted(r["value"] for r in text_source(spark, path_out).collect())
    assert back == ["hello", "world"]


def test_binary_source_object_shape(spark, tmpdir):
    # object-store source shape: (path, length, content) like S3Object{Key, Data}
    blob_path = os.path.join(tmpdir, "obj.bin")
    with open(blob_path, "wb") as f:
        f.write(b"\x89PNG\r\n\x1a\nrest")
    df = binary_source(spark, tmpdir, path_glob="*.bin")
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["length"] == 12
    assert bytes(rows[0]["content"])[:4] == b"\x89PN" + b"G"


def test_parquet_partitioned_sink(spark, tmpdir):
    out = os.path.join(tmpdir, "pq")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id int, part string")
    Source(df).to(parquet_sink(out, partition_by=["part"]))
    entries = [e for e in sorted(os.listdir(out)) if not e.endswith(".crc")]
    assert entries == ["_SUCCESS", "part=a", "part=b"]
    back = parquet_source(spark, out)
    assert back.count() == 3
    # partition pruning: reading one partition touches only its directory
    assert back.where("part = 'a'").count() == 2


def test_replay_datasource_batch(spark, tmpdir):
    path = os.path.join(tmpdir, "rows.jsonl")
    with open(path, "w") as f:
        for i in range(20):
            f.write(json.dumps({"id": i, "name": f"row{i}"}) + "\n")
    fmt = register_replay_source(spark)
    df = (spark.read.format(fmt)
          .option("path", path)
          .option("ddl", "id int, name string")
          .option("numPartitions", "3")
          .load())
    assert df.rdd.getNumPartitions() == 3  # partition planning happens driver-side
    rows = sorted((r["id"], r["name"]) for r in df.collect())
    assert rows[0] == (0, "row0") and len(rows) == 20


def test_replay_datasource_streaming_offsets(spark, tmpdir):
    path = os.path.join(tmpdir, "rows.jsonl")
    with open(path, "w") as f:
        for i in range(15):
            f.write(json.dumps({"id": i}) + "\n")
    fmt = register_replay_source(spark)
    name = "t" + uuid.uuid4().hex[:10]
    # availableNow consults latestOffset only once for Python stream
    # readers, so rate-limited sources need a continuous trigger
    q = (spark.readStream.format(fmt)
         .option("path", path)
         .option("ddl", "id int")
         .option("rowsPerBatch", "6")
         .load()
         .writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    import time
    deadline = time.time() + 60
    while time.time() < deadline and spark.table(name).count() < 15:
        time.sleep(1)
    q.stop()
    got = sorted(r["id"] for r in spark.table(name).collect())
    assert got == list(range(15))  # all micro-batches (6+6+3) delivered


def test_default_adapters_explain_missing_clients():
    """Without the client library installed, the default adapters raise
    an actionable ImportError naming the pip package (the connector
    logic itself is covered broker-free in test_*_connector.py)."""
    from go_streams_spark.sources.aerospike import AerospikeClientAdapter
    from go_streams_spark.sources.nats_jetstream import NatsPyAdapter
    from go_streams_spark.sources.pulsar import PulsarClientAdapter
    from go_streams_spark.sources.websocket import WebsocketsAdapter
    for adapter, pkg in [(NatsPyAdapter, "nats-py"),
                         (PulsarClientAdapter, "pulsar-client"),
                         (WebsocketsAdapter, "websockets"),
                         (AerospikeClientAdapter, "aerospike")]:
        with pytest.raises(ImportError, match=pkg):
            adapter({})


def test_csv_json_roundtrip(spark, tmpdir):
    from go_streams_spark.sources import csv_source, json_source
    from go_streams_spark.sinks import csv_sink, json_sink
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    csv_path, json_path = os.path.join(tmpdir, "c"), os.path.join(tmpdir, "j")
    Source(df).to(csv_sink(csv_path))
    Source(df).to(json_sink(json_path))
    back_csv = csv_source(spark, csv_path, schema="id int, name string")
    back_json = json_source(spark, json_path, schema="id int, name string")
    expect = [(1, "a"), (2, "b")]
    assert sorted((r["id"], r["name"]) for r in back_csv.collect()) == expect
    assert sorted((r["id"], r["name"]) for r in back_json.collect()) == expect


def test_framed_binary_source(spark, tmpdir):
    # ReaderSource framing analogue: custom delimiter, empty frames dropped
    p = os.path.join(tmpdir, "frames.bin")
    with open(p, "wb") as f:
        f.write(b"\x01\x02|\x03||\x04\x05\x06|")
    from go_streams_spark.sources import framed_binary_source
    df = framed_binary_source(spark, tmpdir, delimiter=b"|", path_glob="*.bin")
    frames = sorted(bytes(r["frame"]) for r in df.collect())
    assert frames == [b"\x01\x02", b"\x03", b"\x04\x05\x06"]


def test_json_error_modes(spark, tmpdir):
    # FileSink/Source error policy (extension/file.go:126-186 retry fn):
    # Spark's analogue is per-record parse modes + task retries
    p = os.path.join(tmpdir, "bad.json")
    with open(p, "w") as f:
        f.write('{"id": 1}\n')
        f.write('{"id": NOT_JSON\n')
        f.write('{"id": 3}\n')
    from go_streams_spark.sources import json_source
    permissive = json_source(spark, p, schema="id int, _corrupt_record string",
                             mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt_record")
    rows = permissive.collect()
    good = sorted(r["id"] for r in rows if r["id"] is not None)
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert good == [1, 3] and len(corrupt) == 1
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    failfast = json_source(spark, p, schema="id int", mode="FAILFAST")
    with _pytest.raises(Exception):
        failfast.collect()


def test_merge_schema_evolution_read(spark, tmp_path):
    """Schema evolution across parquet writes: a later file adds a
    column; mergeSchema unions the schemas and back-fills NULL for old
    files — the append-only lake pattern where producers upgrade
    independently of readers."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id int, v string") \
        .write.mode("append").parquet(out)
    spark.createDataFrame([(2, "b", 9.5)], "id int, v string, score double") \
        .write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"id", "v", "score"}
    got = {r["id"]: r["score"] for r in merged.collect()}
    assert got == {1: None, 2: 9.5}


def test_replay_datasource_batch_writer(spark, tmpdir):
    """Custom Data Source API WRITER (two-phase commit): executor-staged
    task files are published on driver commit, none are left behind."""
    import json as _json
    fmt = register_replay_source(spark)
    out = os.path.join(tmpdir, "sink.jsonl")
    df = spark.range(50).selectExpr("CAST(id AS STRING) AS value")
    df.repartition(4).write.format(fmt).option("path", out).mode("append").save()
    lines = [_json.loads(l) for l in open(out)]
    assert sorted(int(r["value"]) for r in lines) == list(range(50))
    leftovers = [f for f in os.listdir(tmpdir) if ".task-" in f]
    assert leftovers == []


def test_replay_datasource_stream_writer_idempotent(spark, tmpdir):
    """Streaming writer: batch-id markers make replayed micro-batches
    no-ops (exactly-once publication per batch)."""
    import json as _json
    fmt = register_replay_source(spark)
    src_dir = os.path.join(tmpdir, "in")
    os.makedirs(src_dir)
    with open(os.path.join(src_dir, "in.jsonl"), "w") as f:
        for i in range(20):
            f.write(_json.dumps({"value": str(i)}) + "\n")
    out = os.path.join(tmpdir, "out.jsonl")
    ckpt = os.path.join(tmpdir, "ckpt")
    def run(ck):
        q = (spark.readStream.format("json").schema("value string")
             .load(src_dir)
             .writeStream.format(fmt).option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run(ckpt)
    lines = [_json.loads(l) for l in open(out)]
    assert sorted(int(r["value"]) for r in lines) == list(range(20))
    # simulate a post-commit failure replay: wipe the checkpoint so
    # batch 0 re-executes — the batch marker must suppress double
    # publication
    shutil.rmtree(ckpt)
    run(os.path.join(tmpdir, "ckpt2"))
    lines2 = [_json.loads(l) for l in open(out)]
    assert len(lines2) == 20


def test_bucketed_table_sink_zero_shuffle_join(spark, tmpdir):
    """bucketed_table_sink writes key-co-located tables: joining two of
    them on the bucket key plans NO exchange on either side."""
    import uuid as _uuid

    from go_streams_spark.sinks import bucketed_table_sink
    a_name = "bs_" + _uuid.uuid4().hex[:8]
    b_name = "bt_" + _uuid.uuid4().hex[:8]
    a = spark.range(300).selectExpr("id as k", "id * 2 as va")
    b = spark.range(200).selectExpr("id as k", "id * 3 as vb")
    Source(a).to(bucketed_table_sink(
        a_name, bucket_by=["k"], n_buckets=4, sort_by=["k"],
        path=os.path.join(tmpdir, a_name)))
    Source(b).to(bucketed_table_sink(
        b_name, bucket_by=["k"], n_buckets=4, sort_by=["k"],
        path=os.path.join(tmpdir, b_name)))
    joined = spark.table(a_name).join(spark.table(b_name), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == 200
    spark.sql(f"DROP TABLE IF EXISTS {a_name}")
    spark.sql(f"DROP TABLE IF EXISTS {b_name}")


def test_orc_and_xml_roundtrip(spark, tmpdir):
    """ORC and XML (both built-in in Spark 4) round-trip through the
    source/sink pairs — the columnar-lake and document-feed formats."""
    from go_streams_spark.sinks import orc_sink, xml_sink
    from go_streams_spark.sources import orc_source, xml_source
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    orc_path = os.path.join(tmpdir, "o")
    xml_path = os.path.join(tmpdir, "x")
    Source(df).to(orc_sink(orc_path))
    Source(df).to(xml_sink(xml_path, row_tag="rec"))
    back_orc = orc_source(spark, orc_path)
    back_xml = xml_source(spark, xml_path, row_tag="rec",
                          schema="id int, name string")
    expect = [(1, "a"), (2, "b")]
    assert sorted((r["id"], r["name"]) for r in back_orc.collect()) == expect
    assert sorted((r["id"], r["name"]) for r in back_xml.collect()) == expect


# ------------------------------------------------------------- Kafka


class _Recorder:
    """Chainable stand-in for DataStreamReader/Writer: records the
    format, options, and trigger that the Kafka wrappers construct.
    No broker or spark-sql-kafka package exists in this environment, so
    the contract test pins the option/schema plumbing — exactly the
    surface that otherwise ships on faith (kafka_sarama.go:26,151)."""

    def __init__(self):
        self.fmt = None
        self.options = {}
        self.trigger_args = None
        self.loaded = False
        self.started = False

    def format(self, f):
        self.fmt = f
        return self

    def option(self, k, v):
        self.options[k] = v
        return self

    def trigger(self, **kw):
        self.trigger_args = kw
        return self

    def load(self):
        self.loaded = True
        return self

    def start(self):
        self.started = True
        return self


class _FakeSession:
    def __init__(self, rec):
        self.readStream = rec


class _FakeDF:
    def __init__(self, rec):
        self.writeStream = rec


def test_kafka_source_contract():
    from go_streams_spark.streaming.io import kafka_source
    rec = _Recorder()
    out = kafka_source(_FakeSession(rec), "broker1:9092,broker2:9092",
                       "topicA,topicB", starting_offsets="latest",
                       maxOffsetsPerTrigger="5000")
    assert out is rec and rec.loaded
    assert rec.fmt == "kafka"
    assert rec.options == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "topicA,topicB",
        "startingOffsets": "latest",
        "maxOffsetsPerTrigger": "5000",
    }


def test_kafka_sink_contract():
    from go_streams_spark.streaming.io import kafka_sink
    rec = _Recorder()
    sink = kafka_sink("b:9092", "out-topic", checkpoint="/cp/x",
                      available_now=True, **{"kafka.acks": "all"})
    assert sink.name == "kafka:out-topic"
    sink(_FakeDF(rec))
    assert rec.started
    assert rec.fmt == "kafka"
    assert rec.trigger_args == {"availableNow": True}
    assert rec.options == {
        "checkpointLocation": "/cp/x",
        "kafka.bootstrap.servers": "b:9092",
        "topic": "out-topic",
        "kafka.acks": "all",
    }


def test_parquet_schema_evolution_merge(spark, tmpdir):
    """Schema evolution on re-ingest: a later batch adds a column;
    mergeSchema reads the union schema with nulls backfilled — the
    append-only ingestion contract a long-lived corpus needs."""
    import os
    p = os.path.join(str(tmpdir), "evolve")
    spark.createDataFrame([(1, "a")], "id long, v string") \
        .write.mode("append").parquet(p)
    spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double") \
        .write.mode("append").parquet(p)
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in df.collect()}
    assert rows == {1: None, 2: 9.5}


def test_csv_corrupt_record_quarantine(spark, tmpdir):
    """Malformed-row quarantine on CSV ingest: PERMISSIVE mode parses
    good rows and routes broken ones to a corrupt-record column instead
    of failing the job — the practical ingestion posture at scale
    (DROPMALFORMED silently loses data; FAILFAST dies on row 1)."""
    import os
    p = os.path.join(str(tmpdir), "raw.csv")
    with open(p, "w") as f:
        f.write("1,alice,10.5\n2,bob,notanumber\n3,carol,7.25\n")
    df = (spark.read
          .schema("id int, name string, score double, _bad string")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .csv(p))
    rows = df.collect()
    good = {r["id"]: r["score"] for r in rows if r["_bad"] is None}
    bad = [r["_bad"] for r in rows if r["_bad"] is not None]
    assert good == {1: 10.5, 3: 7.25}
    assert bad == ["2,bob,notanumber"]
