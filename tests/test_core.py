"""Golden tests for stateless core flows, ported from the reference
(`flow/map_test.go`, `flow/filter_test.go`, `flow/flat_map_test.go`,
`flow/flow_test.go`)."""

from pyspark.sql import functions as F

from go_streams_spark import Source
from go_streams_spark.operators import Map, FlatMap, Filter, PassThrough, Flatten


def _vals(df, col="value"):
    return [r[col] for r in df.collect()]


def strings_df(spark, items):
    return spark.createDataFrame([(s,) for s in items], "value string")


def test_map_upper_expression(spark):
    # flow/map_test.go:52 / flow/flow_test.go:97 (strings.ToUpper)
    df = strings_df(spark, ["a", "b", "c"])
    out = Source(df).via(Map(F.upper(F.col("value")))).to_df()
    assert sorted(_vals(out)) == ["A", "B", "C"]


def test_map_python_callable(spark):
    df = strings_df(spark, ["a", "b", "c"])
    out = Source(df).via(Map(lambda s: s + "!")).to_df()
    assert sorted(_vals(out)) == ["a!", "b!", "c!"]


def test_map_projection_dict(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, name string")
    out = Source(df).via(Map({"id2": F.col("id") * 2, "name": "upper(name)"})).to_df()
    rows = sorted((r["id2"], r["name"]) for r in out.collect())
    assert rows == [(2, "X"), (4, "Y")]


def test_filter_odd(spark):
    # flow/filter_test.go:12-62 (keep odds)
    df = spark.createDataFrame([(i,) for i in range(1, 11)], "value int")
    out = Source(df).via(Filter("value % 2 = 1")).to_df()
    assert sorted(_vals(out)) == [1, 3, 5, 7, 9]


def test_filter_python_callable(spark):
    df = spark.createDataFrame([(i,) for i in range(1, 11)], "value int")
    out = Source(df).via(Filter(lambda v: v % 2 == 0, column="value")).to_df()
    assert sorted(_vals(out)) == [2, 4, 6, 8, 10]


def test_flat_map_expression(spark):
    # flow/flat_map_test.go:13-88 — each element expands in order
    df = strings_df(spark, ["a", "b"])
    out = Source(df).via(FlatMap(F.array(F.col("value"), F.upper("value")))).to_df()
    assert sorted(_vals(out)) == ["A", "B", "a", "b"]


def test_flat_map_python(spark):
    df = strings_df(spark, ["ab", "c"])
    out = Source(df).via(FlatMap(lambda s: list(s))).to_df()
    assert sorted(_vals(out)) == ["a", "b", "c"]


def test_pass_through(spark):
    # flow/pass_through.go:63-68
    df = strings_df(spark, ["a", "b", "c"])
    out = Source(df).via(PassThrough()).to_df()
    assert sorted(_vals(out)) == ["a", "b", "c"]


def test_flatten(spark):
    # flow/util.go:175-179, flow/flow_test.go:247-294
    df = spark.createDataFrame([([1, 2],), ([3],)], "value array<int>")
    out = Source(df).via(Flatten()).to_df()
    assert sorted(_vals(out)) == [1, 2, 3]


def test_composed_pipeline(spark):
    # flow/flow_test.go:92-124: Map→FlatMap→Filter composition
    df = strings_df(spark, ["a", "b", "c"])
    out = (
        Source(df)
        .via(Map(F.upper("value")))
        .via(FlatMap(F.array(F.concat("value", F.lit("*")), F.concat("value", F.lit("**")))))
        .via(Filter(F.col("value").startswith("B") | F.col("value").startswith("C")))
        .to_df()
    )
    assert sorted(_vals(out)) == ["B*", "B**", "C*", "C**"]


def test_invalid_parallelism_raises():
    # reference constructor panics (flow/map.go:42-44, *_InvalidArguments)
    import pytest
    from pyspark.sql import functions as F
    for make in (lambda: Map(F.upper("value"), parallelism=0),
                 lambda: FlatMap(F.split("value", " "), parallelism=-1),
                 lambda: Filter("value > 0", parallelism=0)):
        with pytest.raises(ValueError):
            make()


def test_sql_surface_over_registered_views(spark, sf_dir):
    """Raw SQL is a first-class pipeline surface: register the tables
    as views and run a join+window query through spark.sql, matching
    the DataFrame form exactly."""
    from pyspark.sql import functions as F

    from go_streams_spark import register_views
    names = register_views(spark, sf_dir)
    assert {"lineitem", "orders", "documents"} <= set(names)
    got = spark.sql("""
        SELECT o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY o_orderpriority
    """)
    expect = (spark.table("orders").groupBy("o_orderpriority")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("o_totalprice"), 2).alias("revenue")))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect()))


def test_registry_integrity():
    """Registry meta-invariants: every oracle belongs to a registered
    query; bench headline names all resolve (a typo would otherwise
    surface only as a KeyError deep into a bench run); no duplicate
    bench entries; no blank names."""
    import bench
    from go_streams_spark.queries import ORACLE, QUERIES
    assert set(ORACLE) <= set(QUERIES)
    missing = [n for n in bench.BENCH_QUERIES if n not in QUERIES]
    assert not missing, f"bench names not in registry: {missing}"
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)
    assert all(n and n == n.strip() for n in QUERIES)


def test_oracle_for_resolution():
    """oracle_for resolves {SF_DIR} placeholders and invokes per-SF
    generator callables with the requested dir; the default is the
    driver's gate dir, so a plain oracle_sql() stays valid SQL."""
    from go_streams_spark.queries import GATE_SF_DIR, ORACLE, oracle_for

    # the path-bearing oracle follows the sweep dir
    raw = ORACLE["rowgroup_pruning_audit"]
    assert "{SF_DIR}" in raw
    assert "/root/testdata/sf0.001/lineitem.parquet" in \
        oracle_for("/root/testdata/sf0.001")["rowgroup_pruning_audit"]
    assert f"{GATE_SF_DIR}/lineitem.parquet" in \
        oracle_for()["rowgroup_pruning_audit"]

    # the generator oracle is a callable in the raw registry and plain
    # SQL after resolution, with data-dependent literals inside
    assert callable(ORACLE["embedding_mahalanobis_outliers"])
    sql = oracle_for("/root/testdata/sf0.001")[
        "embedding_mahalanobis_outliers"]
    assert isinstance(sql, str) and "BIGINT[][]" in sql

    # no unresolved placeholders or callables leak to the driver
    resolved = oracle_for()
    assert all(isinstance(s, str) and "{SF_DIR}" not in s
               for s in resolved.values())


def test_rows_only_manifest_matches_registry():
    """__spark_entry__.rows_only() must name exactly the queries with
    no oracle, and each named parity test must exist."""
    import subprocess
    import sys

    import __spark_entry__ as m
    from go_streams_spark.queries import ORACLE, QUERIES

    manifest = m.rows_only()
    assert set(manifest) == set(QUERIES) - set(ORACLE)
    for test_id in manifest.values():
        r = subprocess.run(
            [sys.executable, "-m", "pytest", test_id,
             "--collect-only", "-q"],
            capture_output=True, text=True, timeout=120)
        assert "1 test collected" in r.stdout, (test_id, r.stdout[-400:])
