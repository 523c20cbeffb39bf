"""Golden tests for stateful/topology operators, ported from the
reference goldens (fold/reduce prefix emissions, zip padding matrix,
batch grouping, throttler validation)."""

import pytest
from pyspark.sql import functions as F

from go_streams_spark.api import Source
from go_streams_spark.operators import (
    running_fold, running_reduce, running_fold_py, final_reduce,
    batch_by_count, collect_batches, zip_with, split, merge, round_robin,
    discard_over_quota, throttle_options,
)


def test_reduce_prefix_sums(spark):
    # flow/reduce_test.go:34-35: [1,2,3,4,5] -> [1,3,6,10,15]
    df = spark.createDataFrame([(i, i) for i in range(1, 6)], "ord int, value int")
    out = Source(df).via(running_reduce("value", order_by=["ord"], fn="sum")).to_df()
    assert [r["acc"] for r in out.orderBy("ord").collect()] == [1, 3, 6, 10, 15]


def test_fold_seeded_concat(spark):
    # flow/fold_test.go:38-39: seed "" + concat -> ["1","12","123","1234","12345"]
    df = spark.createDataFrame([(i, str(i)) for i in range(1, 6)], "ord int, value string")
    out = Source(df).via(running_reduce("value", order_by=["ord"], fn="concat")).to_df()
    assert [r["acc"] for r in out.orderBy("ord").collect()] == \
        ["1", "12", "123", "1234", "12345"]


def test_fold_seed_merge(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(1, 4)], "ord int, value double")
    out = Source(df).via(running_fold("value", 100.0, order_by=["ord"], fn="sum")).to_df()
    assert [r["acc"] for r in out.orderBy("ord").collect()] == [101.0, 103.0, 106.0]


def test_running_fold_py_per_key(spark):
    df = spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, 3.0), (2, 1, 5.0)], "k int, ord int, value double")
    out = Source(df).via(running_fold_py(
        lambda v, acc: acc * v, 1.0, order_col="ord", value_col="value",
        key_cols=["k"], output_schema="k int, ord int, value double, acc double")).to_df()
    got = {(r["k"], r["ord"]): r["acc"] for r in out.collect()}
    assert got == {(1, 1): 2.0, (1, 2): 6.0, (2, 1): 5.0}
    # null keys fold as ONE key, as in groupBy and running_fold_stream
    nulls = spark.createDataFrame(
        [(None, 1, 1.0), (None, 2, 2.0), (None, 3, 3.0), (4, 1, 9.0)],
        "k int, ord int, value double")
    out = Source(nulls).via(running_fold_py(
        lambda v, acc: acc + v, 0.0, order_col="ord", value_col="value",
        key_cols=["k"], output_schema="k int, ord int, value double, acc double")).to_df()
    got = {(r["k"], r["ord"]): r["acc"] for r in out.collect()}
    assert got == {(None, 1): 1.0, (None, 2): 3.0, (None, 3): 6.0, (4, 1): 9.0}


def test_running_fold_py_bucket_resets_acc_between_keys(spark):
    # one Arrow batch of a key-sorted partition folds MANY keys — the
    # fold must restart from init at every key boundary inside a batch.
    # 40 keys on a tiny cluster guarantees multi-key batches; a product
    # fold makes cross-key leakage visible (any carried accumulator
    # multiplies the next key's first value).
    rows = [(k, o, 2.0) for k in range(40) for o in range(3)]
    df = spark.createDataFrame(rows, "k int, ord int, value double")
    out = Source(df).via(running_fold_py(
        lambda v, acc: acc * v, 1.0, order_col="ord", value_col="value",
        key_cols=["k"], output_schema="k int, ord int, value double, acc double")).to_df()
    got = {(r["k"], r["ord"]): r["acc"] for r in out.collect()}
    assert len(got) == 120
    for k in range(40):
        assert (got[(k, 0)], got[(k, 1)], got[(k, 2)]) == (2.0, 4.0, 8.0)


def test_batch_folds_carry_state_across_arrow_batches(spark):
    """The batch per-key folds run the fold core once per Arrow batch
    and carry only the last key's state into the next batch. At 3
    records per batch every multi-row key spans batches, so each
    operator must return the same rows as at 10,000 (one batch per
    partition): keys spanning batches, a null key and a null order
    value included."""
    import datetime as dt
    from collections import Counter
    from go_streams_spark.operators.aggregate import (holt_linear,
                                                      holt_winters_additive)
    from go_streams_spark.operators.throttle import token_bucket_admit
    base = dt.datetime(2024, 1, 1)
    rows = [(k, t, base + dt.timedelta(seconds=7 * t + n),
             (t * 37 + n * 11) % 50 - 10)
            for n, (k, size) in enumerate((("a", 11), ("b", 7), (None, 6),
                                           ("c", 1), ("d", 4)))
            for t in range(size)]
    rows.append(("a", None, base, 5))
    df = spark.createDataFrame(rows, "k string, t long, ts timestamp, y long")
    ops = {
        "fold": lambda: Source(df).via(running_fold_py(
            lambda v, acc: acc * 3 + v, 0, order_col="t", value_col="y",
            key_cols=["k"],
            output_schema="k string, t long, ts timestamp, y long, acc long"
        )).to_df(),
        "token_bucket": lambda: token_bucket_admit(
            df, rate_micro_per_sec=200_000, burst_micro=2_000_000,
            key_col="k", ts_col="ts", tiebreak_col="t"),
        "holt": lambda: holt_linear(df, key_col="k", order_col="t",
                                    value_col="y"),
        "holt_winters": lambda: holt_winters_additive(
            df, key_col="k", order_col="t", value_col="y", period=2,
            emit_forecast=True),
    }
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    got = {}
    try:
        for size in (10_000, 3):
            spark.conf.set(conf, str(size))
            got[size] = {name: Counter(tuple(r) for r in op().collect())
                         for name, op in ops.items()}
    finally:
        spark.conf.set(conf, prev)
    for name in ops:
        assert got[3][name] == got[10_000][name], name
    assert sum(got[3]["fold"].values()) == len(rows)
    # the null key folds as one key: acc = 3 * acc + y over t = 0..5
    null_accs = sorted((r[1], r[4]) for r in got[3]["fold"] if r[0] is None)
    assert [acc for _, acc in null_accs] == [12, 35, 141, 446, 1348, 4041]


def test_final_reduce(spark):
    df = spark.createDataFrame([(i,) for i in range(1, 6)], "value int")
    out = Source(df).via(final_reduce(F.sum("value").alias("s"))).to_df()
    assert out.collect()[0]["s"] == 15


def test_zip_with_padding_goldens(spark):
    # flow/flow_test.go:296-345: zip [1,2] with [3] (sum) -> [4, 2] (zero pad)
    a = spark.createDataFrame([(1,), (2,)], "v int")
    b = spark.createDataFrame([(3,)], "w int")
    out = zip_with(lambda x, y: x + y, [a, b], [["v"], ["w"]], ["v", "w"], [0, 0])
    assert [r["value"] for r in out.collect()] == [4, 2]
    # [].zip([5]) with three inputs of len 0/1/0 -> [0 5 0] analogue:
    empty = spark.createDataFrame([], "v int")
    c = spark.createDataFrame([(5,)], "w int")
    out3 = zip_with(lambda x, y, z: F.concat_ws(" ", x, y, z),
                    [empty, c, empty], [["v"], ["w"], ["v"]],
                    ["v", "w", "v"], [0, 0, 0])
    assert [r["value"] for r in out3.collect()] == ["0 5 0"]


def test_batch_by_count_final_partial(spark):
    # flow/batch_test.go:40-44: 8 elements, size 4 -> [4,3,1]-ish partials kept
    df = spark.createDataFrame([(i,) for i in range(8)], "v int")
    out = Source(df).via(batch_by_count(3, order_by=["v"])) \
        .via(collect_batches("v", group_cols=["batch_id"])).to_df()
    sizes = {r["batch_id"]: len(r["value"]) for r in out.collect()}
    assert sizes == {0: 3, 1: 3, 2: 2}  # final partial batch emitted


def test_batch_invalid_args():
    # flow/batch_test.go:82-89 constructor panics -> ValueError
    with pytest.raises(ValueError):
        batch_by_count(0, order_by=["v"])
    with pytest.raises(ValueError):
        throttle_options(0, 1.0)
    with pytest.raises(ValueError):
        discard_over_quota(0, "ts", "1 hour")


def test_split_round_robin_merge(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "v int")
    hi, lo = split(df, F.col("v") >= 5)
    assert hi.count() == 5 and lo.count() == 5
    assert merge(hi, lo).count() == 10
    branches = round_robin(df, 3, by=F.col("v"))
    counts = sorted(b.count() for b in branches)
    assert sum(counts) == 10  # exactly-one-branch per element
    assert counts == [3, 3, 4]


def test_distributed_ordinal_matches_global_row_number(spark):
    from go_streams_spark.operators import distributed_ordinal
    import random
    rng = random.Random(7)
    vals = list(range(200))
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], "v int").repartition(8)
    out = distributed_ordinal(df, order_by=["v"], idx="ord")
    got = {r["v"]: r["ord"] for r in out.collect()}
    assert got == {v: v + 1 for v in range(200)}  # ordinal == rank in v-order


def test_distributed_ordinal_no_single_partition_exchange(spark):
    """The data path must never funnel through one partition: the only
    SinglePartition exchange allowed is the offsets prefix-sum over the
    per-partition COUNTS (one row per partition — bounded metadata at
    any scale), which sits directly above the counts HashAggregate."""
    from go_streams_spark.operators import distributed_ordinal
    from go_streams_spark.plans import explain_str
    df = spark.range(1000).select(F.col("id").alias("v"))
    out = distributed_ordinal(df, order_by=["v"], idx="ord")
    lines = explain_str(out, "simple").splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            below = "\n".join(lines[i + 1:i + 4])
            assert "HashAggregate" in below and "__pid" in below, (
                "SinglePartition exchange over data, not counts:\n" + below)
    got = [r["ord"] for r in out.orderBy("v").collect()]
    assert got == list(range(1, 1001))


def test_zip_with_distributed_matches_zip_with(spark):
    from go_streams_spark.operators import zip_with_distributed
    a = spark.createDataFrame([(i,) for i in range(50)], "v int").repartition(4)
    b = spark.createDataFrame([(i * 10,) for i in range(30)], "w int").repartition(3)
    out = zip_with_distributed(lambda x, y: x + y, [a, b],
                               [["v"], ["w"]], ["v", "w"], [0, 0])
    got = [r["value"] for r in out.collect()]
    expect = [i + i * 10 for i in range(30)] + list(range(30, 50))
    assert got == expect


def test_salted_agg_matches_plain_groupby(spark):
    from go_streams_spark.operators import salted_agg
    df = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(100)], "k int, v double").repartition(8)
    out = Source(df).via(salted_agg(
        ["k"], {"cnt": ("count", "sum"), "total": ("sum", "sum", "v"),
                "mx": ("max", "max", "v")}, salt_buckets=4)).to_df()
    got = {r["k"]: (r["cnt"], r["total"], r["mx"]) for r in out.collect()}
    plain = {r["k"]: (r["cnt"], r["total"], r["mx"]) for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"),
                                 F.sum("v").alias("total"),
                                 F.max("v").alias("mx")).collect()}
    assert got == plain


def _keyed_elements():
    # flow/keyed_test.go:146-158: i%3==0 -> key 3, else i%7==0 -> 7,
    # else i%10==0 -> 10, else key i; 30 elements
    out = []
    for i in range(30):
        for d in (3, 7, 10):
            if i % d == 0:
                out.append(d)
                break
        else:
            out.append(i)
    return out


def test_keyed_batch_golden(spark):
    """Keyed(keySelector) with a per-key Batch(4) chain
    (flow/keyed_test.go:29-61): 30 elements -> 20 batches, key-sum 292.
    Spark form: per-key count-batching = batch_by_count partitioned by
    the key; one shuffle gives every key its independent chain."""
    els = _keyed_elements()
    df = spark.createDataFrame([(i, k) for i, k in enumerate(els)], "ord int, key int")
    batched = Source(df).via(batch_by_count(
        4, order_by=["ord"], partition_by=["key"])) \
        .via(collect_batches("key", group_cols=["key", "batch_id"])).to_df()
    rows = batched.collect()
    assert len(rows) == 20  # 20 per-key batches
    assert sum(v for r in rows for v in r["value"]) == 292


def test_keyed_multiple_operators_golden(spark):
    """Keyed -> per-key Batch -> per-key Map(sum) -> global window sum
    (flow/keyed_test.go:101-138): final value 292."""
    els = _keyed_elements()
    df = spark.createDataFrame([(i, k) for i, k in enumerate(els)], "ord int, key int")
    per_key = Source(df).via(batch_by_count(
        4, order_by=["ord"], partition_by=["key"])) \
        .via(collect_batches("key", group_cols=["key", "batch_id"])).to_df() \
        .select(F.aggregate("value", F.lit(0), lambda a, x: a + x).alias("batch_sum"))
    total = per_key.agg(F.sum("batch_sum").alias("total")).collect()[0]["total"]
    assert total == 292


def test_empty_input_semantics(spark):
    # reference empty-stream/early-closure windows emit nothing
    # (flow/sliding_window_test.go:200-259)
    from go_streams_spark.operators import tumbling_window, running_reduce
    empty = spark.createDataFrame([], "ts timestamp, value double, ord int")
    win = Source(empty).via(tumbling_window(
        "ts", "1 minute", F.sum("value").alias("total"))).to_df()
    assert win.count() == 0
    red = Source(empty).via(running_reduce(
        "value", order_by=["ord"], fn="sum")).to_df()
    assert red.count() == 0
    from go_streams_spark.operators import zip_with
    a = spark.createDataFrame([], "v int")
    out = zip_with(lambda x, y: x + y, [a, a], [["v"], ["v"]], ["v", "v"], [0, 0])
    assert out.count() == 0


def test_distributed_ordinal_branches_consistent_when_sampled(spark):
    """Regression for the range-sampler divergence: RangePartitioner
    seeds boundary sampling with the shuffle RDD id, so the counts
    branch and data branch of distributed_ordinal sample DIFFERENT
    boundaries unless one materialization is pinned. Small inputs mask
    it (the sample takes every row); this input is large enough that
    sampling genuinely subsamples, which made the un-pinned round-4
    prototype mis-number thousands of ordinals at sf0.01."""
    from go_streams_spark.operators import distributed_ordinal
    from go_streams_spark.plans import release_tracked
    n = 300_000
    df = (spark.range(n, numPartitions=8)
          .selectExpr("id", "cast(pmod(hash(id), 1000000) as long) AS k"))
    out = distributed_ordinal(df, order_by=["k", "id"], idx="ord")
    rows = out.selectExpr("ord", "k", "id").collect()
    release_tracked()
    assert len(rows) == n
    assert {r["ord"] for r in rows} == set(range(1, n + 1))  # contiguous
    by_ord = sorted(rows, key=lambda r: r["ord"])
    assert by_ord == sorted(rows, key=lambda r: (r["k"], r["id"]))


def test_merge_upsert_semantics(spark):
    """MERGE semantics: update wins (including explicit NULLs), insert
    appended, delete removed, untouched target rows intact; malformed
    inputs fail loudly."""
    import pytest
    from pyspark.sql import functions as F
    from go_streams_spark.operators.joins import merge_upsert

    tgt = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double")
    src = spark.createDataFrame(
        [(2, "b2", None, False),   # update with NULL bal — must win
         (3, None, None, True),    # delete
         (9, "new", 90.0, False)], # insert
        "k long, name string, bal double, del boolean")
    out = {r["k"]: r for r in
           merge_upsert(tgt, src, keys=["k"], delete_col="del").collect()}
    assert set(out) == {1, 2, 9}
    assert out[1]["name"] == "a" and out[1]["bal"] == 10.0
    assert out[2]["name"] == "b2" and out[2]["bal"] is None
    assert out[9]["name"] == "new" and out[9]["bal"] == 90.0

    with pytest.raises(ValueError, match="keys must be non-empty"):
        merge_upsert(tgt, src, keys=[])
    with pytest.raises(ValueError, match="non-key columns differ"):
        merge_upsert(tgt.drop("bal"), src, keys=["k"], delete_col="del")
    with pytest.raises(ValueError, match="missing from a side"):
        merge_upsert(tgt, src.withColumnRenamed("k", "kk"),
                     keys=["k"], delete_col="del")


def test_ewma_halving_matches_pandas(spark):
    """For histories shorter than `lags`, ewma_halving equals pandas
    ewm(alpha=0.5, adjust=True) exactly (to the 4dp round); knobs are
    validated loudly."""
    import pandas as pd
    import pytest
    from go_streams_spark.operators.aggregate import ewma_halving

    vals = [10.0, 2.5, 7.25, 0.5, 3.125, 9.0]
    rows = [(1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, seq long, value double")
    out = (ewma_halving(df, key_cols=["k"], order_cols=["seq"],
                        value_col="value", lags=10)
           .orderBy("seq").collect())
    want = pd.Series(vals).ewm(alpha=0.5, adjust=True).mean()
    for r, w in zip(out, want):
        assert abs(r["ewma"] - round(w, 4)) <= 1e-4, (r, w)

    with pytest.raises(ValueError, match="lags must be >= 1"):
        ewma_halving(df, key_cols=["k"], order_cols=["seq"],
                     value_col="value", lags=0)
    with pytest.raises(ValueError, match="overflows"):
        ewma_halving(df, key_cols=["k"], order_cols=["seq"],
                     value_col="value", lags=61)


def test_training_shuffle_uniform_and_decorrelated(spark):
    """Shard sizes concentrate near n/shards, sequential ids scatter
    (adjacent ids rarely share a shard), positions are dense 1..size,
    and a different seed produces a different permutation while the
    same seed reproduces it exactly."""
    from go_streams_spark.operators.layout import training_shuffle
    import pytest as _pytest
    n, shards = 2000, 8
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    out = training_shuffle(df, id_col="doc_id", shards=shards, seed=7)
    rows = out.collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    sizes = {s: len(v) for s, v in by_shard.items()}
    assert set(sizes) == set(range(shards))
    for s, sz in sizes.items():
        assert abs(sz - n / shards) < 4 * (n / shards) ** 0.5, (s, sz)
    for s, v in by_shard.items():
        assert sorted(r["pos"] for r in v) == list(range(1, len(v) + 1))
    # adjacent ids decorrelate: ~1/shards stay together, not ~1
    shard_of = {r["doc_id"]: r["shard"] for r in rows}
    same = sum(shard_of[i] == shard_of[i + 1] for i in range(n - 1))
    assert same < 2 * n / shards
    # reproducible per seed, different across seeds
    again = {(r["doc_id"], r["shard"], r["pos"]) for r in
             training_shuffle(df, shards=shards, seed=7).collect()}
    assert again == {(r["doc_id"], r["shard"], r["pos"]) for r in rows}
    other = {r["doc_id"]: r["shard"] for r in
             training_shuffle(df, shards=shards, seed=8).collect()}
    assert sum(other[i] != shard_of[i] for i in range(n)) > n // 2
    with _pytest.raises(ValueError, match="shards"):
        training_shuffle(df, shards=0)


def test_salted_join_equals_plain_join(spark):
    """On a pathologically skewed fact side (90% one key), the salted
    join returns EXACTLY the plain join for inner and left, the physical
    join keys include the salt, and invalid arguments fail loudly."""
    from go_streams_spark.operators.joins import salted_join
    from go_streams_spark.plans import explain_str
    import pytest as _pytest
    facts = ([("hot", i, float(i)) for i in range(900)]
             + [(f"k{i}", 900 + i, 1.0) for i in range(100)])
    left = spark.createDataFrame(facts, "k string, eid int, v double")
    right = spark.createDataFrame(
        [("hot", "H"), ("k1", "A"), ("k2", "B"), ("zzz", "Z")],
        "k string, name string")

    for how in ("inner", "left"):
        got = sorted(tuple(r) for r in
                     salted_join(left, right, on=["k"], salt_buckets=8,
                                 how=how).collect())
        plain = sorted(tuple(r) for r in
                       left.join(right, ["k"], how).collect())
        assert got == plain, how

    plan = explain_str(
        salted_join(left, right, on=["k"], salt_buckets=8), "simple")
    assert "__salt" in plan  # the join really runs on (key, salt)

    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(left, right, on=["k"], how="full")
    with _pytest.raises(ValueError, match="salt_buckets"):
        salted_join(left, right, on=["k"], salt_buckets=0)
    with _pytest.raises(ValueError, match="missing"):
        salted_join(left, right, on=["nope"])
    with _pytest.raises(ValueError, match="ambiguous"):
        salted_join(left.withColumn("name", F.lit("x")), right, on=["k"])
    with _pytest.raises(ValueError, match="at least one join column"):
        salted_join(left, right, on=[])
    with _pytest.raises(ValueError, match="__salt"):
        salted_join(left.withColumn("__salt", F.lit(1)), right, on=["k"])


def test_rowgroup_stats_sorted_vs_shuffled(spark, tmp_path):
    """Footer-audit depth on multi-row-group files: a range-sorted
    column shows 0 overlap breaks (point predicates touch O(1) row
    groups), a shuffled column overlaps everywhere, and a constant
    column is flagged constant in every row group."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest
    from go_streams_spark.operators.layout import rowgroup_stats
    n, rg = 10_000, 1_000
    sorted_col = list(range(n))
    shuffled = [(i * 7919) % n for i in range(n)]   # full-period scatter
    const = [42] * n
    t = pa.table({"s": sorted_col, "r": shuffled, "c": const,
                  "f": [float(i) for i in range(n)]})
    p = str(tmp_path / "audit.parquet")
    pq.write_table(t, p, row_group_size=rg)

    out = {r["col_name"]: r for r in
           rowgroup_stats(spark, p, ["s", "r", "c"]).collect()}
    assert all(v["n_rowgroups"] == n // rg for v in out.values())
    assert out["s"]["n_overlap_breaks"] == 0
    assert out["s"]["global_min"] == 0 and out["s"]["global_max"] == n - 1
    assert out["r"]["n_overlap_breaks"] == n // rg - 1  # every adjacency
    assert out["c"]["n_constant"] == n // rg
    assert out["c"]["global_min"] == out["c"]["global_max"] == 42

    with _pytest.raises(ValueError, match="not in file"):
        rowgroup_stats(spark, p, ["nope"])
    with _pytest.raises(ValueError, match="integer"):
        rowgroup_stats(spark, p, ["f"])
    with _pytest.raises(ValueError, match="columns"):
        rowgroup_stats(spark, p, [])


def test_zorder_improves_rowgroup_prunability(spark, tmp_path):
    """Close the layout loop: write the SAME skewed-scatter data
    unclustered and z-order-clustered (small row groups), then measure
    both with rowgroup_stats — the z-ordered file must show strictly
    fewer overlapping adjacencies on BOTH key columns (footer stats
    become useful for pruning), while the audit's global min/max agree."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from go_streams_spark.operators.layout import (rowgroup_stats,
                                                   zorder_sorted)
    n = 8_000
    rows = [( (i * 7919) % 200, (i * 104729) % 200, i) for i in range(n)]
    df = spark.createDataFrame(rows, "x long, y long, rid long")

    def write_and_audit(frame, name):
        pdf = frame.toPandas()  # keep the frame's row order
        p = str(tmp_path / name)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       p, row_group_size=500)
        return {r["col_name"]: r for r in
                rowgroup_stats(spark, p, ["x", "y"]).collect()}

    plain = write_and_audit(df, "plain.parquet")
    zed = write_and_audit(
        zorder_sorted(df, ["x", "y"], num_partitions=1), "zed.parquet")
    for c in ("x", "y"):
        # the multi-dim prunability metric: z-order shrinks every row
        # group's per-key range (file-order adjacencies still overlap)
        assert zed[c]["sum_range"] < plain[c]["sum_range"] / 2, c
        assert zed[c]["global_min"] == plain[c]["global_min"] == 0
        assert zed[c]["global_max"] == plain[c]["global_max"] == 199
    # scattered layout: every group spans ~the full domain and every
    # adjacency overlaps
    assert plain["x"]["n_overlap_breaks"] >= 14  # 16 row groups -> 15 adj
    assert plain["x"]["sum_range"] >= 16 * 190


def test_token_bucket_burst_and_refill(spark):
    """Textbook bucket semantics on a hand-built timeline (burst 3,
    refill 1 token / 50 s, cost 1): a 5-event burst admits exactly 3;
    one refill period later exactly 1 more; a long idle refills only
    to the cap (never beyond burst); rejection does not spend."""
    import datetime as dt
    import pytest as _pytest
    from go_streams_spark.operators.throttle import token_bucket_admit
    base = dt.datetime(2024, 1, 1)
    rows = []
    # burst of 5 at t=0..4s (refill during burst: 4s * 20000 = 80000 < cost)
    for i in range(5):
        rows.append((1, i, base + dt.timedelta(seconds=i)))
    rows.append((1, 10, base + dt.timedelta(seconds=60)))   # ~1 token back
    rows.append((1, 11, base + dt.timedelta(seconds=61)))   # spent again
    rows.append((1, 20, base + dt.timedelta(hours=2)))      # idle -> full cap
    rows.append((1, 21, base + dt.timedelta(hours=2, seconds=1)))
    rows.append((1, 22, base + dt.timedelta(hours=2, seconds=2)))
    rows.append((1, 23, base + dt.timedelta(hours=2, seconds=3)))
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = {r["event_id"]: (r["admitted"], r["tokens_after_micro"])
           for r in token_bucket_admit(
               df, rate_micro_per_sec=20_000,
               burst_micro=3_000_000).collect()}
    # burst: first 3 admitted, 4th/5th rejected (partial refill kept)
    assert [out[i][0] for i in range(5)] == [True, True, True, False, False]
    assert out[2][1] < 1_000_000            # nearly drained
    assert out[10][0] is True               # one refill period -> admit
    assert out[11][0] is False              # immediately broke again
    # long idle refills to the CAP, so exactly 3 more admits, not 100+
    assert [out[i][0] for i in (20, 21, 22, 23)] == [True, True, True, False]
    with _pytest.raises(ValueError, match="burst_micro"):
        token_bucket_admit(df, rate_micro_per_sec=1, burst_micro=0)


def test_token_bucket_null_ts_keeps_bucket(spark):
    """A null ts gives a null decision and balance, and the key's
    bucket stays as it was: the other rows' decisions equal those of
    the same rows without the null ones."""
    import datetime as dt
    from go_streams_spark.operators.throttle import token_bucket_admit
    base = dt.datetime(2024, 1, 1)
    rows = [(1, i, base + dt.timedelta(seconds=s))
            for i, s in enumerate((0, 1, 2, 60, 61))]
    nulls = [(1, 9, None), (2, 10, None)]
    schema = "user_id long, event_id long, ts timestamp"

    def admit(rs):
        return {r["event_id"]: (r["admitted"], r["tokens_after_micro"])
                for r in token_bucket_admit(
                    spark.createDataFrame(rs, schema),
                    rate_micro_per_sec=20_000,
                    burst_micro=3_000_000).collect()}

    got = admit(rows + nulls)
    assert got[9] == got[10] == (None, None)
    assert {e: got[e] for e in range(5)} == admit(rows)


def test_join_delta_equals_bag_difference(spark):
    """The incremental-maintenance identity on a hand case with
    duplicate keys: three-term delta == new_join bag-minus old_join,
    including multiplicities (2 base orders x 1 delta customer -> 2
    added rows)."""
    from collections import Counter
    from go_streams_spark.operators.joins import join_delta
    ob = spark.createDataFrame([(1, 10.0), (1, 20.0), (2, 5.0)],
                               "k long, v double")
    od = spark.createDataFrame([(1, 30.0), (3, 7.0)], "k long, v double")
    cb = spark.createDataFrame([(2, "B")], "k long, seg string")
    cd = spark.createDataFrame([(1, "A"), (3, "C")], "k long, seg string")
    got = Counter((r["k"], r["v"], r["seg"]) for r in
                  join_delta(ob, od, cb, cd, "k").collect())
    new = (ob.unionByName(od)).join(cb.unionByName(cd), "k")
    old = ob.join(cb, "k")
    want = Counter((r["k"], r["v"], r["seg"]) for r in new.collect())
    want.subtract(Counter((r["k"], r["v"], r["seg"])
                          for r in old.collect()))
    assert got == +want
    # broadcast variant is plan-only: same rows
    got_b = Counter((r["k"], r["v"], r["seg"]) for r in
                    join_delta(ob, od, cb, cd, "k",
                               broadcast_deltas=True).collect())
    assert got_b == got


def test_attribution_credit_conserves_value(spark, sf_dir):
    """Linear attribution must conserve value EXACTLY: summed linear
    credit equals the summed v_micro of every purchase that has at
    least one touch in its lookback window — to the micro-unit."""
    from go_streams_spark.queries import QUERIES, _t
    from pyspark.sql import functions as F
    rows = QUERIES["attribution_credit"](spark, sf_dir).collect()
    linear = sum(r["credit_micro"] for r in rows if r["model"] == "linear")
    last = sum(r["credit_micro"] for r in rows if r["model"] == "last_touch")
    first = sum(r["credit_micro"] for r in rows
                if r["model"] == "first_touch")
    # every model distributes exactly the same attributable value
    assert linear == last == first > 0


def test_holt_linear_tracks_ramp_exactly(spark):
    """Model pins: on a perfect ramp y_t = 100 + 10t the Holt recursion
    (alpha=beta=1/4, trunc div) must match a hand-rolled Python replay
    step for step, and the trend state must approach the true slope
    while plain EWMA-style level-only smoothing lags; a 1-point series
    is dropped (needs the 2-point init)."""
    from go_streams_spark.operators.aggregate import holt_linear, _tdiv
    rows = [("a", t, 100 + 10 * t) for t in range(12)] + [("b", 0, 5)]
    df = spark.createDataFrame(rows, "k string, t int, y long")
    got = {(r["k"], r["t"]): (r["level"], r["trend"])
           for r in holt_linear(df, key_col="k", order_col="t",
                                value_col="y").collect()}
    assert not any(k == "b" for k, _ in got)  # short series dropped
    lv, tr = 100, 10
    expect = {("a", 0): (lv, tr)}
    for t in range(1, 12):
        y = 100 + 10 * t
        nl = _tdiv(y + 3 * (lv + tr), 4)
        tr = _tdiv((nl - lv) + 3 * tr, 4)
        lv = nl
        expect[("a", t)] = (lv, tr)
    assert got == expect
    # on a ramp with exact init, level tracks exactly and trend holds
    assert got[("a", 11)] == (100 + 10 * 11, 10)


def test_bloom_semi_join_prunes_without_false_negatives(spark):
    """Every true match survives the bloom prefilter (no false
    negatives), survivors are a subset of the probe, the bit set is
    bounded by m_bits, and a tiny filter yields false positives the
    exact join would then drop — the documented contract."""
    from go_streams_spark.operators.joins import (
        bloom_bits_df, bloom_semi_join)
    probe = spark.createDataFrame(
        [(i, f"p{i}") for i in range(2000)], "k long, payload string")
    build = spark.createDataFrame(
        [(i * 37,) for i in range(40)], "k long")

    got = {r["k"] for r in
           bloom_semi_join(probe, build, probe_key="k").collect()}
    true_keys = {i * 37 for i in range(40) if i * 37 < 2000}
    assert true_keys <= got               # no false negatives
    assert got <= set(range(2000))        # subset of the probe

    # a deliberately tiny filter must produce false positives (the
    # pigeonhole guarantees it: 2000 probe keys, 64 bits)
    tiny = {r["k"] for r in
            bloom_semi_join(probe, build, probe_key="k",
                            m_bits=64).collect()}
    assert true_keys <= tiny and len(tiny) > len(true_keys)

    bits = bloom_bits_df(build, "k", m_bits=64)
    assert bits.count() <= 64
    assert bits.columns == ["__bit"]


def test_holt_winters_additive_replays_and_guards(spark):
    """The Spark fold matches an independent in-test replay of the
    published recurrence (alpha=beta=gamma=1/4, truncating div), keys
    shorter than period+1 emit nothing, and period < 2 fails loudly."""
    import pytest as _pytest
    from go_streams_spark.operators.aggregate import holt_winters_additive

    period = 3
    ys = [10, 40, 25, 13, 44, 29, 16, 50, 31, 18]
    rows = ([("a", i, y) for i, y in enumerate(ys)]
            + [("short", i, 5) for i in range(period)])  # == period rows
    df = spark.createDataFrame(rows, "k string, t int, y long")

    def tdiv(a, d):
        return a // d if a >= 0 else -((-a) // d)

    lv, tr = tdiv(sum(ys[:period]), period), 0
    sea = [y - lv for y in ys[:period]]
    expected, expected_f = [], []
    for i, y in enumerate(ys[period:], start=period):
        s_old = sea.pop(0)
        fc = lv + tr + s_old
        nl = tdiv(y - s_old + 3 * (lv + tr), 4)
        tr = tdiv((nl - lv) + 3 * tr, 4)
        lv = nl
        ns = tdiv((y - nl) + 3 * s_old, 4)
        sea.append(ns)
        expected.append(("a", i, y, lv, tr, ns))
        expected_f.append(("a", i, y, lv, tr, ns, fc))

    out = holt_winters_additive(df, key_col="k", order_col="t",
                                value_col="y", period=period)
    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted(expected)  # 'short' key emitted nothing

    # emit_forecast adds the pre-update one-step-ahead prediction
    out_f = holt_winters_additive(df, key_col="k", order_col="t",
                                  value_col="y", period=period,
                                  emit_forecast=True)
    got_f = sorted(tuple(r) for r in out_f.collect())
    assert got_f == sorted(expected_f)

    with _pytest.raises(ValueError, match="period"):
        holt_winters_additive(df, key_col="k", order_col="t",
                              value_col="y", period=1)
    with _pytest.raises(ValueError, match="missing column"):
        holt_winters_additive(df, key_col="nope", order_col="t",
                              value_col="y", period=3)


def test_bloom_semi_join_empty_build_and_dim_mismatch(spark):
    """An EMPTY build side yields an empty (but schema-correct) result
    — trivially no false negatives; the prefilter contract holds at
    the degenerate boundary a production dim-table outage produces."""
    from go_streams_spark.operators.joins import bloom_semi_join
    probe = spark.createDataFrame([(i,) for i in range(50)], "k long")
    build = spark.createDataFrame([], "k long")
    out = bloom_semi_join(probe, build, probe_key="k")
    assert out.columns == ["k"]
    assert out.count() == 0


def test_unimax_water_fill_branches(spark):
    """Both water-fill regimes on hand-sized domain tables: a binding
    budget levels the large domains and fully satisfies the small one;
    a single-domain corpus degenerates to min(supply, budget)."""
    from go_streams_spark.queries import QUERIES
    import pandas as pd

    # replicate the registered query's algebra directly on a tiny frame
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def water_fill(pairs, budget_num=2, budget_den=5):
        d = spark.createDataFrame(pairs, "source string, s long")
        t = d.agg(F.sum("s").cast("long").alias("tot"),
                  F.expr(f"(sum(s) * {budget_num}) div {budget_den}")
                  .cast("long").alias("b"),
                  F.count(F.lit(1)).cast("long").alias("n"))
        w = Window.orderBy("s", "source")
        o = d.select("source", "s", F.row_number().over(w).alias("rn"),
                     F.sum("s").over(w).alias("cum"))
        wr = Window.orderBy("rn")
        lv = (o.crossJoin(F.broadcast(t))
              .select(F.expr("(b - coalesce(lag(cum) over (order by rn),"
                             " 0)) div (n - rn + 1)").alias("lvl"),
                      F.coalesce(F.lag("s").over(wr), F.lit(0))
                      .alias("s_prev"), F.col("s").alias("s_cur")))
        pick = (lv.where((F.col("lvl") >= F.col("s_prev"))
                         & (F.col("lvl") < F.col("s_cur")))
                .agg(F.min("lvl").alias("lvl")))
        return {r["source"]: r["alloc"] for r in
                (o.crossJoin(F.broadcast(t)).crossJoin(F.broadcast(pick))
                 .select("source",
                         F.when(F.col("b") >= F.col("tot"), F.col("s"))
                         .otherwise(F.least(F.col("s"), F.coalesce(
                             F.col("lvl"), F.col("tot"))))
                         .alias("alloc"))).collect()}

    # mixed regime: budget 40% of 1000 = 400; level = (400-100) div 2
    # = 150 -> small domain (100) fully satisfied, two large capped
    got = water_fill([("small", 100), ("mid", 400), ("big", 500)])
    assert got == {"small": 100, "mid": 150, "big": 150}
    assert sum(got.values()) <= 400

    # single domain: min(supply, budget)
    assert water_fill([("only", 1000)]) == {"only": 400}


def test_wordpiece_empty_and_tiny_corpus(spark):
    """Degenerate corpora: an empty frame trains zero merges and emits
    an empty report; a one-word corpus below min_count still yields a
    char-fallback segmentation (maximal munch never fails)."""
    from go_streams_spark.functions import text as T
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert T.wordpiece_train_merges(empty, rounds=2).count() == 0
    assert T.wordpiece_segment_report(empty).count() == 0

    one = spark.createDataFrame([(1, "zq")], "doc_id long, text string")
    rep = T.wordpiece_segment_report(one, rounds=2, top_words=5).collect()
    assert len(rep) == 1
    assert rep[0]["segmentation"] == "z|##q"  # char fallback, ## prefix
