"""SparkSession bootstrap tuned for the engine.

Defaults target the test/bench environment (single JVM, ``local[N]``) but
every knob is chosen so the same code scales to a multi-executor cluster:
AQE handles skew and partition coalescing at runtime, shuffle partitions
default to a CPU-derived value locally (on a real cluster you'd size this
to ~2-3x total cores or let AQE coalesce), and Arrow is enabled for every
pandas-exchange path so Python-side operators stay vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "go-streams-spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    These settings are safe on a 1000-executor cluster: AQE re-plans at
    runtime (coalescing small shuffle partitions, splitting skewed ones,
    demoting/promoting joins to broadcast), and nothing here pins state
    to a single node.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE runtime SMJ->SHJ conversion stays at the Spark DEFAULT
        # (maxShuffledHashJoinLocalMapThreshold=0, i.e. OFF). r9 turned
        # it on at 64 MB and the r10 fresh-JVM bisect measured it as a
        # pure loss on this suite at BOTH driver core counts
        # (tools/scaling_probe.py, min-of-3 after codegen run, sf0.1):
        # setsim_prefix_pairs 3.56->2.79 s @32c / 3.90->3.46 @8c,
        # dedup_containment_pairs 5.42->3.23 / 4.03->2.70,
        # dedup_method_eval 14.3->10.1 / 13.0->10.5, setsim_pairs_lsh
        # 3.90->3.01 / 3.26->2.95, embedding_near_dup_lsh 1.11->0.89 /
        # 1.19->0.90 with the conversion DISABLED — and it was the
        # prime suspect in the r9 32-core anti-scaling verdict (32
        # concurrent hash builds stacked in one shared pool alongside
        # the family's persisted caches). Joins where a hash build is
        # provably bounded carry explicit shuffle_hash hints; un-hinted
        # big-big joins keep SMJ's spill safety (guide §3.1).
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Generated-code cache sized for the registry's working set. At
        # Spark's default (100 entries, evicted per cache segment) a loop
        # of tokenizer_fertility_compare + winnowing_overlap_pairs
        # recompiled ~23 classes on every winnowing call, so the JIT never
        # settled and the call's CPU swung 5.3-7.9 s from run to run.
        # Without the stage id in class names, stages with the same code
        # (both sides of a self-join, stages AQE numbers differently from
        # one call to the next) share one class.
        .config("spark.sql.codegen.cache.maxEntries", "500")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load every synthetic table in ``sf_dir`` as a DataFrame dict."""
    names = (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split()
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            out[n] = spark.read.parquet(path)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every synthetic table as a temp view so pipelines can be
    declared in raw SQL (``spark.sql(...)``) as well as through the
    DataFrame API — the full Spark SQL surface (joins, windows, CTEs,
    set ops, lateral) over the same data, optimized by the same Catalyst
    pipeline. Returns the view names registered."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return sorted(tables)
