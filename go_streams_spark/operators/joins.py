"""Join operators Spark lacks natively: as-of (point-in-time) join.

The reference has no relational joins at all (SURVEY §2.5); this module
adds the one join family large-scale event/feature pipelines always need
and Spark does not ship: the as-of join (each left row matched to the
most recent right row at-or-before its timestamp, per key).

Implementation is the scalable union trick — NOT a range join:
tag both sides, union, one window pass per key ordered by (ts, side)
carrying the last-seen right payload forward (``last(..., ignorenulls)``
over an unbounded-preceding frame), then keep left rows. Cost: ONE
shuffle on the key, no join node, no range-explosion — the same plan
shape at 10^3 or 10^12 rows. An equality-ts tie resolves to the right
row (right sorts before left at equal ts), matching DuckDB's
``ASOF JOIN ... ON r.ts <= l.ts``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _epoch_seconds(c: Column) -> Column:
    """Seconds-since-epoch for TIMESTAMP *or* TIMESTAMP_NTZ columns.

    ``unix_micros`` rejects NTZ (what Spark 4 infers for parquet naive
    timestamps); casting to TIMESTAMP first interprets NTZ in the
    SESSION time zone. REQUIREMENT: the session zone must be a
    fixed-offset zone (UTC) — under a DST zone the NTZ->TIMESTAMP offset
    differs across transitions, so rows straddling a transition would
    shift range/bucket comparisons by up to an hour. Not merely "a
    constant shift that cancels". Every caller in this repo goes through
    ``queries._t``/``session.get_spark``, which pin
    ``spark.sql.session.timeZone=UTC``; keep that invariant when
    embedding this helper elsewhere.
    """
    return F.unix_micros(c.cast("timestamp")) / 1_000_000.0


def asof_join(left: DataFrame, right: DataFrame, *, on: Sequence[str],
              left_ts: str, right_ts: str,
              right_values: Sequence[str],
              suffix: str = "_asof") -> DataFrame:
    """For each left row: values of the latest right row with
    ``right_ts <= left_ts`` sharing the ``on`` keys (backward as-of).

    Returns all left columns plus ``<v><suffix>`` for each requested
    right value column (null when no right row precedes).
    """
    lcols = left.columns
    tagged_l = left.withColumn("__ts", F.col(left_ts)) \
        .withColumn("__side", F.lit(1))
    for v in right_values:
        tagged_l = tagged_l.withColumn(f"__rv_{v}", F.lit(None).cast(dict(right.dtypes)[v]))
    tagged_r = right.select(
        *[F.col(k) for k in on],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(v).alias(f"__rv_{v}") for v in right_values])
    for c in lcols:
        if c not in tagged_r.columns:
            tagged_r = tagged_r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    unioned = tagged_l.unionByName(tagged_r.select(tagged_l.columns))
    # right rows (side 0) sort before left rows at equal ts => <= semantics
    w = (Window.partitionBy(*on).orderBy("__ts", "__side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = unioned
    for v in right_values:
        carried = carried.withColumn(
            f"{v}{suffix}", F.last(f"__rv_{v}", ignorenulls=True).over(w))
    return (carried.where(F.col("__side") == 1)
            .select(*lcols, *[f"{v}{suffix}" for v in right_values]))


def interval_join(left: DataFrame, right: DataFrame, *, on: Sequence[str],
                  left_ts: str, right_ts: str,
                  lower_seconds: float, upper_seconds: float,
                  how: str = "inner") -> DataFrame:
    """Interval/range join: pairs where
    ``left_ts + lower <= right_ts <= left_ts + upper``, per key.

    Naive range joins degenerate to per-key cross products (Spark plans
    them as BroadcastNestedLoopJoin). This bucketizes time into
    ``width = upper - lower`` slots: each left row lands in the <=2
    buckets its interval can span (sequence + explode), each right row
    in exactly one, the join is a (key, bucket) EQUI-join, and the exact
    range predicate filters afterwards. Pair work is bounded by real
    temporal locality instead of key cardinality — the standard
    stream-stream interval-join plan (same shape Spark uses for
    stream-stream joins with time bounds).
    """
    if upper_seconds <= lower_seconds:
        raise ValueError("upper must be greater than lower")
    width = max(upper_seconds - lower_seconds, 1e-9)
    l_sec = _epoch_seconds(F.col(left_ts))
    r_sec = _epoch_seconds(F.col(right_ts))
    lo_bucket = F.floor((l_sec + lower_seconds) / width)
    hi_bucket = F.floor((l_sec + upper_seconds) / width)
    lb = left.withColumn("__bucket",
                         F.explode(F.sequence(lo_bucket.cast("long"),
                                              hi_bucket.cast("long"))))
    rb = right.withColumn("__bucket", F.floor(r_sec / width).cast("long"))
    cond = [lb["__bucket"] == rb["__bucket"]] + \
        [lb[k] == rb[k] for k in on]
    joined = lb.join(rb, cond, how)
    in_range = ((_epoch_seconds(rb[right_ts])
                 >= _epoch_seconds(lb[left_ts]) + lower_seconds)
                & (_epoch_seconds(rb[right_ts])
                   <= _epoch_seconds(lb[left_ts]) + upper_seconds))
    return joined.where(in_range).drop("__bucket")


def merge_upsert(target: DataFrame, source: DataFrame, *,
                 keys: Sequence[str],
                 delete_col: str | None = None) -> DataFrame:
    """Batch MERGE INTO (SCD Type 1): apply a change set to a snapshot
    in one pass — update rows whose key exists in both, insert
    source-only rows, keep untouched target rows, and (optionally)
    delete rows the source marks with a true ``delete_col``. The
    Delta/Iceberg MERGE semantics expressed as a single full-outer
    join, for pipelines that maintain plain parquet snapshots.

    Scale shape: ONE shuffle on the merge keys (full-outer equi-join);
    per-row resolution is a coalesce projection, no window, no second
    pass. Both sides' non-key columns must match (schema is validated
    loudly). At 100 TB the same plan holds — the join partitions by
    key, and AQE handles source/target size asymmetry; if the change
    set is tiny relative to the snapshot, prefer partition-pruned
    overwrite (idempotent_parquet_sink) for the write side.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("merge_upsert: keys must be non-empty")
    for k in keys:
        if k not in target.columns or k not in source.columns:
            raise ValueError(f"merge_upsert: key {k!r} missing from a side")
    if delete_col is not None and delete_col not in source.columns:
        raise ValueError(
            f"merge_upsert: delete_col {delete_col!r} not in source")
    if "__is_src" in source.columns:
        raise ValueError("merge_upsert: source may not contain the "
                         "reserved column '__is_src'")
    t_cols = [c for c in target.columns if c not in keys]
    s_cols = [c for c in source.columns
              if c not in keys and c != delete_col]
    if set(t_cols) != set(s_cols):
        raise ValueError(
            f"merge_upsert: non-key columns differ — target {sorted(t_cols)}"
            f" vs source {sorted(s_cols)}")
    # distinct-key contract: a source with duplicate keys would fan out
    # the join; resolution below assumes one change row per key.
    # A literal match flag (never NULL on source rows) keeps the
    # semantics NULL-faithful: an UPDATE that sets a column to NULL
    # must win over the target value, which coalesce(s.c, t.c) would
    # silently undo.
    src = source.withColumn("__is_src", F.lit(True)).alias("s")
    tgt = target.alias("t")
    joined = tgt.join(src, keys, "full_outer")
    if delete_col is not None:
        joined = joined.where(
            ~F.coalesce(F.col(f"s.{delete_col}"), F.lit(False)))
    matched = F.col("s.__is_src").isNotNull()
    out_cols = [F.col(k).alias(k) for k in keys]
    out_cols += [F.when(matched, F.col(f"s.{c}"))
                 .otherwise(F.col(f"t.{c}")).alias(c) for c in t_cols]
    return joined.select(*out_cols)


def salted_join(left: DataFrame, right: DataFrame, *, on: Sequence[str],
                salt_buckets: int = 16, how: str = "inner") -> DataFrame:
    """Skew-resistant equi-join — the hot-key fix when the build side is
    too big to broadcast and a deterministic plan is wanted (AQE's
    skew split is runtime-dependent; this shape is explicit). The LEFT
    (fact) side gets a deterministic salt — xxhash64 of the whole row,
    mod ``salt_buckets`` — and the RIGHT side is replicated once per
    bucket (posexplode of a literal sequence, a metadata-sized blowup:
    right_rows x buckets). The join then runs on (on + salt), so a hot
    key's rows spread over ``salt_buckets`` reducers instead of one
    straggler task.

    Result == the plain join EXACTLY (each left row carries one salt and
    the replicated right covers every salt: the pair space is
    partitioned, never duplicated) — pinned by tests and by the
    salted_join_events gate against a plain-SQL oracle. ``how`` is
    restricted to inner/left: right/full would emit one no-match row per
    REPLICA. Use the `skew_report` advisor to pick ``salt_buckets``.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports inner/left, got {how!r}: right/full "
            "would emit one unmatched row per replica")
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    on = list(on)
    if not on:
        raise ValueError("salted_join requires at least one join column "
                         "(an empty key would salt-replicate a cross join)")
    if "__salt" in left.columns or "__salt" in right.columns:
        raise ValueError("inputs already carry a __salt column")
    missing = [c for c in on if c not in left.columns or c not in right.columns]
    if missing:
        raise ValueError(f"join columns missing from an input: {missing}")
    clash = set(left.columns) & set(right.columns) - set(on)
    if clash:
        raise ValueError(f"ambiguous non-key columns on both sides: "
                         f"{sorted(clash)}")
    # salt = hash of the whole row MIXED with a per-row disambiguator
    # (monotonically_increasing_id = partition id + within-partition
    # offset): fully identical duplicate rows of a hot key would
    # otherwise all hash into ONE salt bucket — recreating the
    # straggler exactly when duplication causes the skew. The
    # disambiguator varies with input partitioning, which is safe: the
    # salt only picks a reducer, and the joined RESULT (salt dropped)
    # is partitioning-independent.
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns],
                             F.monotonically_increasing_id()),
                  F.lit(salt_buckets)).cast("int")
    lf = left.withColumn("__salt", salt)
    rt = (right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))))
        .withColumn("__salt", F.col("__salt").cast("int")))
    return lf.join(rt, on + ["__salt"], how).drop("__salt")


def join_delta(left_base: DataFrame, left_delta: DataFrame,
               right_base: DataFrame, right_delta: DataFrame,
               on: Sequence[str] | str, *,
               broadcast_deltas: bool = False) -> DataFrame:
    """Incremental (delta) maintenance of an inner join under
    insert-only updates — the algebra behind every materialized-view /
    streaming-join refresh:

        Δ(A ⋈ B) = ΔA ⋈ B ∪ A ⋈ ΔB ∪ ΔA ⋈ ΔB

    computed WITHOUT touching the old result. This is the 100 TB win:
    re-joining two petabyte tables for a 0.1% batch costs the full
    join; the three delta terms each shuffle only delta-sized data
    against one base (set ``broadcast_deltas`` when the batch fits in
    memory and even the base-side shuffle disappears — each term
    becomes a broadcast-hash join running at scan speed).

    Returns the bag of ADDED result rows — exactly
    ``new_join EXCEPT ALL old_join`` (the oracle definition), which the
    gate query hash-verifies.
    """
    on = [on] if isinstance(on, str) else list(on)
    ld = F.broadcast(left_delta) if broadcast_deltas else left_delta
    rd = F.broadcast(right_delta) if broadcast_deltas else right_delta
    return (left_base.join(rd, on)
            .unionByName(ld.join(right_base, on))
            .unionByName(ld.join(rd, on)))


# -- Bloom-filter semi-join pruning -----------------------------------------

#: Deterministic bloom parameters shared by builder, prober and the
#: DuckDB oracle: keys fold into [0, _BLOOM_KEY_MOD) first so every
#: product below stays < 2^52 (no int64 overflow on ANY engine), then
#: two independent affine hashes pick bit positions.
_BLOOM_KEY_MOD = 1_048_573          # largest prime < 2^20
_BLOOM_C1 = 2_654_435_761           # Knuth multiplicative constant
_BLOOM_C2 = 998_244_353             # NTT prime
_BLOOM_B2 = 12_345


def bloom_hashes(key: Column, m_bits: int) -> tuple[Column, Column]:
    """The two bloom bit positions for a nonnegative integer key —
    exactly reproducible in ANSI SQL as
    ``((k % 1048573) * 2654435761) % m`` and
    ``((k % 1048573) * 998244353 + 12345) % m``."""
    kk = F.pmod(key.cast("long"), F.lit(_BLOOM_KEY_MOD))
    h1 = F.pmod(kk * F.lit(_BLOOM_C1), F.lit(m_bits))
    h2 = F.pmod(kk * F.lit(_BLOOM_C2) + F.lit(_BLOOM_B2), F.lit(m_bits))
    return h1, h2


def bloom_bits_df(build: DataFrame, key: str, *,
                  m_bits: int = 8192) -> DataFrame:
    """The SET bit positions of a bloom filter over ``build[key]`` as a
    one-column DataFrame (``__bit``) — at most ``m_bits`` rows however
    large the build side, so it always broadcasts."""
    h1, h2 = bloom_hashes(F.col(key), m_bits)
    return build.select(F.explode(F.array(h1, h2)).alias("__bit")).distinct()


def bloom_semi_join(probe: DataFrame, build: DataFrame, *,
                    probe_key: str, build_key: str | None = None,
                    m_bits: int = 8192) -> DataFrame:
    """Bloom-filter PREFILTER for a big join: returns the probe rows
    whose key passes a two-hash bloom built over ``build[build_key]``.
    No false negatives (every true match survives); false positives are
    bounded by the load factor ((set_bits / m_bits)^2), so the result
    must still be joined exactly — the point is that the expensive
    shuffle join now moves only ~matching rows.

    This is the shape Spark's own runtime row-group bloom pushdown
    (spark.sql.optimizer.runtimeFilter.bloomFilter.enabled) applies
    adaptively; the explicit operator exists for when the planner can't
    see the opportunity (pre-aggregated probe, non-equi follow-up, or a
    build side produced mid-pipeline) and for engines/readers where the
    filter must be applied BEFORE an expensive decode. Plan: the bit
    set is <= m_bits rows (broadcast, never a shuffle); the probe scan
    gains two broadcast LeftSemi joins that AQE folds into the scan
    stage — probe data is never shuffled by the bloom filter itself.

    Keys must be nonnegative integers (they fold mod 2^20 before
    hashing so the arithmetic is overflow-free in int64 on any engine).
    """
    build_key = build_key or probe_key
    bits = F.broadcast(bloom_bits_df(build, build_key, m_bits=m_bits))
    h1, h2 = bloom_hashes(F.col(probe_key), m_bits)
    out = probe.withColumn("__h1", h1).withColumn("__h2", h2)
    out = out.join(bits, out["__h1"] == bits["__bit"], "left_semi")
    out = out.join(bits, out["__h2"] == bits["__bit"], "left_semi")
    return out.drop("__h1", "__h2")
