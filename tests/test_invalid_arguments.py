"""Invalid-argument contract — mirrors the reference's constructor-panic
tests (flow/batch_test.go:82-89, flow/throttler_test.go:74-96,
flow/sliding_window_test.go:187-198): bad parameters fail FAST at
construction with a clear error, never silently misbehave at run time."""

import pytest

from go_streams_spark.operators import (
    batch_by_count, discard_over_quota, throttle_options,
)


def test_batch_by_count_nonpositive_size():
    with pytest.raises(ValueError, match="positive"):
        batch_by_count(0, order_by=["x"])
    with pytest.raises(ValueError, match="positive"):
        batch_by_count(-3, order_by=["x"])


def test_throttle_options_invalid():
    for bad in [(0, 1.0), (5, 0), (-1, 1.0), (5, -0.5)]:
        with pytest.raises(ValueError, match="positive"):
            throttle_options(*bad)


def test_discard_over_quota_invalid():
    with pytest.raises(ValueError, match="positive"):
        discard_over_quota(0, "ts", "1 hour")


def test_redis_connector_missing_options():
    from go_streams_spark.sources.redis_stream import (
        RedisPubSubStreamReader, RedisStreamBatchReader,
        RedisStreamStreamReader, _xadd_rows)
    with pytest.raises(ValueError, match="stream"):
        RedisStreamStreamReader({})
    with pytest.raises(ValueError, match="stream"):
        RedisStreamBatchReader({}).partitions()
    with pytest.raises(ValueError, match="channel"):
        RedisPubSubStreamReader({})
    with pytest.raises(ValueError, match="stream"):
        _xadd_rows({}, iter([]))


def test_nats_pulsar_websocket_aerospike_missing_options():
    from go_streams_spark.sources.aerospike import AerospikeCDCStreamReader
    from go_streams_spark.sources.nats_jetstream import NatsStreamReader
    from go_streams_spark.sources.pulsar import PulsarStreamReader
    from go_streams_spark.sources.websocket import WebSocketStreamReader
    with pytest.raises(ValueError, match="stream"):
        NatsStreamReader({})
    with pytest.raises(ValueError, match="topic"):
        PulsarStreamReader({})
    with pytest.raises(ValueError, match="url"):
        WebSocketStreamReader({})
    with pytest.raises(ValueError, match="namespace"):
        AerospikeCDCStreamReader({}).latestOffset()


def test_retry_wrapper_invalid():
    from go_streams_spark.streaming import with_bounded_retry
    with pytest.raises(ValueError, match="max_retries"):
        with_bounded_retry(lambda df, bid: None, max_retries=0)


def test_distributed_ordinal_requires_order():
    from go_streams_spark.operators import distributed_ordinal
    with pytest.raises(TypeError):
        distributed_ordinal(None)  # order_by is keyword-required


def test_zorder_key_rejects_overwide_keys(spark):
    from pyspark.sql import functions as F

    from go_streams_spark.operators.layout import zorder_key
    cols = [F.lit(1).cast("long")] * 8
    with pytest.raises(ValueError, match="63"):
        zorder_key(cols, bits=8)  # 64 key bits would hit the sign bit
    zorder_key(cols, bits=7)  # 56 bits: fine


def test_token_window_chunks_rejects_nonpositive():
    from go_streams_spark.functions.text import token_window_chunks
    with pytest.raises(ValueError, match="positive"):
        token_window_chunks(None, size=0)
    with pytest.raises(ValueError, match="positive"):
        token_window_chunks(None, stride=-1)


def test_heavy_hitters_invalid():
    from go_streams_spark.streaming import heavy_hitters_stream
    with pytest.raises(ValueError, match=">= 1"):
        heavy_hitters_stream(None, item_col="x", capacity=0)


def test_real_adapter_import_guards():
    """Without the broker client libraries (absent from this container),
    each real adapter must fail with an actionable ImportError naming
    the package and the clientFactory escape hatch — not an opaque
    ModuleNotFoundError deep in a Spark task."""
    from go_streams_spark.sources.nats_jetstream import NatsPyAdapter
    from go_streams_spark.sources.pulsar import PulsarClientAdapter
    from go_streams_spark.sources.redis_stream import resolve_client_factory
    for adapter, pkg in ((PulsarClientAdapter, "pulsar-client"),
                         (NatsPyAdapter, "nats-py"),
                         (resolve_client_factory({}), "'redis'")):
        try:
            adapter({})
        except ImportError as e:
            assert pkg in str(e) and "clientFactory" in str(e), (adapter, e)
        except Exception as e:  # library present: anything else is fine
            pass


def test_round4_graph_and_fusion_invalid():
    """The round-4 ops reject nonsense budgets/knobs loudly at build
    time — never a silent empty/self-label/partial answer."""
    from go_streams_spark.functions.graph import (
        k_core, k_core_oracle_sql, label_propagation, lpa_oracle_sql,
        pagerank)
    from go_streams_spark.functions.similarity import rrf_fuse
    with pytest.raises(ValueError, match="k must be >= 1"):
        k_core(None, k=0)
    with pytest.raises(ValueError, match="raise.*warn|'raise' or 'warn'"):
        k_core(None, k=2, on_nonconverged="explode")
    with pytest.raises(ValueError, match=">= 0"):
        label_propagation(None, iterations=-1)
    with pytest.raises(ValueError, match=">= 0"):
        lpa_oracle_sql("e0 AS (SELECT 1 a, 2 b)", iterations=-1)
    with pytest.raises(ValueError, match="broadcast_ranks"):
        pagerank(None, broadcast_ranks="maybe")
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with pytest.raises(ValueError, match="c must be >= 0"):
        rrf_fuse([None], c=-1)
    # oracle generators emit one CTE pair per pass/round
    assert k_core_oracle_sql("e0 AS (SELECT 1 a, 2 b)",
                             k=2, passes=3).count("AS MATERIALIZED") == 6
    assert lpa_oracle_sql("e0 AS (SELECT 1 a, 2 b)",
                          iterations=2).count("l2") > 0


def test_bpe_encode_and_sampler_invalid():
    from go_streams_spark.functions.similarity import auto_nbits, auto_nlist
    # formulas clamp sanely
    assert auto_nbits(1, 1) == 1           # dim cap
    assert auto_nbits(1, 64) == 8          # floor
    assert auto_nbits(8 * 2**70, 64) == 62  # BIGINT-safe cap
    assert auto_nlist(1) == 16             # floor


def test_parse_byte_string_grammar():
    """parse_byte_string mirrors JavaUtils.byteStringAsBytes: bare
    numbers are bytes, every legal suffix (b/k/kb/m/mb/g/gb/t/tb/p/pb,
    case-insensitive) scales, and anything else raises — it must never
    silently misparse a conf value like '128m' the way a bare
    rstrip('b') would."""
    from go_streams_spark.operators.topology import parse_byte_string

    assert parse_byte_string("134217728") == 134217728
    assert parse_byte_string("128b") == 128
    assert parse_byte_string("128m") == 128 << 20
    assert parse_byte_string("128MB") == 128 << 20
    assert parse_byte_string(" 1g ") == 1 << 30
    assert parse_byte_string("2k") == 2048
    assert parse_byte_string("3TB") == 3 << 40
    assert parse_byte_string("1pb") == 1 << 50
    for bad in ("", "m", "1.5g", "-1k", "12 m", "1q", "0x10", "1gbb"):
        with pytest.raises(ValueError, match="byte string"):
            parse_byte_string(bad)


def test_sample_frames_invalid_knobs():
    """sample_frames validates its knobs at build time: every_k=0 would
    otherwise fail late per-task (a range() ValueError)."""
    from go_streams_spark.functions.multimodal import sample_frames

    with pytest.raises(ValueError, match="frame_size"):
        sample_frames(None, frame_size=0)
    with pytest.raises(ValueError, match="every_k"):
        sample_frames(None, every_k=0)
    with pytest.raises(ValueError, match="max_frames"):
        sample_frames(None, max_frames=-1)


def test_pq_invalid_arguments(spark):
    """PQ constructors fail loudly at build time: a dim not divisible
    by m would silently drop trailing dimensions; fewer than ksub
    low-id vectors would build a short codebook whose codes disagree
    with the oracle's."""
    rows = [(i, [float(i + j) for j in range(6)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from go_streams_spark.functions.similarity import fixed_pq_codebooks
    with pytest.raises(ValueError, match="not divisible"):
        fixed_pq_codebooks(df, m=4, ksub=4)   # dim 6 % 4 != 0
    with pytest.raises(ValueError, match="need 8 vectors"):
        fixed_pq_codebooks(df, m=2, ksub=8)   # only 4 vectors exist


def test_ivf_knn_empty_codebook(spark):
    """ivf_knn on a frame with no id below nlist fails at build time
    naming the cause, not as a numpy axis error in the routing pass."""
    rows = [(1000 + i, [float(i), 1.0, -1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from go_streams_spark.functions.similarity import ivf_knn
    with pytest.raises(ValueError, match="no vectors with vec_id < 16"):
        ivf_knn(df, k=3, nlist=16, nprobe=2).collect()


def test_stream_interval_join_invalid(spark):
    """stream_interval_join fails loudly at build time: unknown join
    type, missing key/timestamp columns, and non-key column collisions
    (which would otherwise surface as Spark ambiguous-reference errors
    deep in analysis)."""
    from go_streams_spark.streaming import stream_interval_join

    l = spark.createDataFrame([], "user_id int, v_ts timestamp, value double")
    r = spark.createDataFrame([], "user_id int, p_ts timestamp, value double")
    with pytest.raises(ValueError, match="join_type"):
        stream_interval_join(l, r, key="user_id", left_ts="v_ts",
                             right_ts="p_ts", join_type="cross")
    with pytest.raises(ValueError, match="no column"):
        stream_interval_join(l, r, key="user_id", left_ts="missing",
                             right_ts="p_ts")
    with pytest.raises(ValueError, match="collision"):
        stream_interval_join(l, r, key="user_id", left_ts="v_ts",
                             right_ts="p_ts")  # 'value' on both sides


def test_round6_constructor_validation(spark):
    """Round-6 additions fail FAST on bad knobs: bootstrap replicate /
    alpha bounds, grouped variant requiring groups, integer-k-means
    k/iterations, exact-semdedup thresholds implicit via k-means, and
    the BPE/whitening oracle generators' parameter checks."""
    from pyspark.sql import functions as F

    from go_streams_spark.functions.checks import (
        bootstrap_mean_ci, bootstrap_mean_ci_grouped)
    from go_streams_spark.functions.similarity import (
        _pca_whiten_params, semdedup_exact_oracle_sql,
        train_codebook_exact)
    from go_streams_spark.functions.text import bpe_pipeline_oracle_sql

    df = spark.range(10).select(F.col("id").alias("k"),
                                F.col("id").alias("x"))
    with pytest.raises(ValueError, match="replicates"):
        bootstrap_mean_ci(df, key_col="k", value_col="x", replicates=3)
    with pytest.raises(ValueError, match="alpha"):
        bootstrap_mean_ci(df, key_col="k", value_col="x", alpha=1.5)
    with pytest.raises(ValueError, match="group_cols"):
        bootstrap_mean_ci_grouped(df, key_col="k", value_col="x",
                                  group_cols=[])

    emb = spark.range(3).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"))
    with pytest.raises(ValueError, match="k >= 1"):
        train_codebook_exact(emb, k=0)
    with pytest.raises(ValueError, match="rows < k"):
        train_codebook_exact(emb, k=5)

    with pytest.raises(ValueError, match="iterations"):
        semdedup_exact_oracle_sql(iterations=-1)
    with pytest.raises(ValueError, match="rounds"):
        bpe_pipeline_oracle_sql(rounds=0)
    with pytest.raises(ValueError, match="emit"):
        bpe_pipeline_oracle_sql(rounds=2, emit="both")
    with pytest.raises(ValueError, match="out_dim"):
        _pca_whiten_params([[4, 0], [0, 4]], [0, 0], 2, out_dim=3,
                           ridge=1e-3, scale=10, pscale=10)
