"""Similarity search over embedding columns (array<float>).

Two tiers, per the standard ANN playbook:
  - ``brute_force_knn``: exact cosine top-k via cross join — the
    correctness baseline. O(N^2); only for small N or per-bucket use.
  - ``sign_lsh_knn``: bucketed variant — random-hyperplane LSH
    degenerated to axis-sign projections (deterministic, zero setup):
    bucket key = sign bits of the first ``nbits`` dimensions. Candidates
    come only from the same bucket, turning the cross join into an
    equi-join on the bucket key; this is the shape that survives scale
    (same plan as IVF with learned centroids — swap the bucket expression
    for an argmin-centroid id when a codebook exists).

Dot products use ``F.zip_with`` + ``F.aggregate`` (JVM-side, sequential
left fold in doubles — bit-identical to the DuckDB oracle's list_sum of
per-element products). The EXACT-kNN family (``brute_force_knn``,
``block_knn``) goes one step further: micro-unit int64 quantization
(``quantized_vec`` / ``quantized_cosine`` / ``_np_quantized_cosine``)
makes the similarity bit-identical across the JVM, numpy/BLAS (any thread count), and
DuckDB — float left-folds match DuckDB but NOT BLAS accumulation
order, which once flipped a 0.5e-6 rounding midpoint and with it a
recall report's value hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _band_layout, _band_pairs, _bit_bands


#: Default integer-multiply-add budget for the EXACT-evaluator pass of
#: the eval-audit family (recall / nDCG / quantization audits). An
#: unsampled exact pass costs ~N_queries * N_index * dim int-ops; 2e12
#: is ~minutes of one executor's ALU time — past it the audit must run
#: on a deterministic query sample (``eval_query_sample``), exactly the
#: policy the audits' docstrings promise ("sampled in production").
DEFAULT_EVAL_FLOP_BUDGET = 2_000_000_000_000

#: Most vectors per block of the triangular self-pair scan: one
#: block-pair cell holds at most ROWS_PER_BLOCK^2 float64 sims (32 MB).
ROWS_PER_BLOCK = 2048

#: (query blocks, index shards) of the query x index top-k grid.
KNN_GRID = (8, 4)


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def quantized_vec(vec: Column | str, scale: int = 1_000_000) -> Column:
    """Micro-unit quantization (the repo's cross-engine exactness
    convention, shared with ``jl_project``): each component becomes the
    int64 ``floor(x*scale + 0.5)``. Sums/dots of these are exact
    integers in every engine — no accumulation order to diverge on."""
    return F.transform(as_double(vec),
                       lambda x: F.floor(x * scale + F.lit(0.5)))


def quantized_cosine(qa: Column, qb: Column,
                     scale: int = 1_000_000) -> Column:
    """ENGINE-EXACT 6-dp cosine over micro-unit int64 vectors: the dot
    product and both squared norms are exact int64 folds; the only
    float ops left are one sqrt/multiply/divide chain (IEEE, correctly
    rounded, identical in the JVM, numpy, and DuckDB) and the repo's
    ``floor(s*1e6+0.5)/1e6`` half-up rounding. Any engine computing
    this formula on the same vectors produces bit-identical doubles —
    unlike float left-folds vs BLAS, whose accumulation orders can
    round a 0.5e-6 midpoint differently."""
    zero = F.lit(0).cast("long")
    d = F.aggregate(F.zip_with(qa, qb, lambda x, y: x * y), zero,
                    lambda acc, x: acc + x)
    na = F.aggregate(F.transform(qa, lambda x: x * x), zero,
                     lambda acc, x: acc + x)
    nb = F.aggregate(F.transform(qb, lambda x: x * x), zero,
                     lambda acc, x: acc + x)
    return (F.floor(d / (F.sqrt(na) * F.sqrt(nb)) * scale + F.lit(0.5))
            / float(scale))


def _np_quantized_cosine(qmat_a, qmat_b, scale: int = 1_000_000):
    """numpy twin of ``quantized_cosine``: (n,d) x (m,d) integer-valued
    float64 micro-unit matrices -> (n,m) 6-dp sims, bit-identical to
    the JVM/DuckDB formula. The float64 matmul is EXACT (hence
    order-independent, BLAS-safe) whenever every partial sum stays
    below 2^53; the guard falls back to int64 matmul otherwise."""
    import numpy as np
    d = qmat_a.shape[1]
    maxa = float(np.max(np.abs(qmat_a), initial=0.0))
    maxb = float(np.max(np.abs(qmat_b), initial=0.0))
    lim = float(2 ** 53)
    if d * maxa * maxb < lim and d * maxa * maxa < lim \
            and d * maxb * maxb < lim:
        dots = qmat_a @ qmat_b.T
        na = (qmat_a * qmat_a).sum(axis=1)
        nb = (qmat_b * qmat_b).sum(axis=1)
    else:  # exact regardless of magnitude, no BLAS
        ia, ib = qmat_a.astype(np.int64), qmat_b.astype(np.int64)
        dots = (ia @ ib.T).astype(np.float64)
        na = (ia * ia).sum(axis=1).astype(np.float64)
        nb = (ib * ib).sum(axis=1).astype(np.float64)
    s = dots / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
    return np.floor(s * scale + 0.5) / float(scale)


def _np_quantized_cosine_micro(qmat_a, qmat_b, scale: int = 1_000_000):
    """``_np_quantized_cosine`` before the final division: the (n,m)
    int64 MICRO-unit similarities (floor(s*scale+0.5)) — compare these
    against integer thresholds for engine-exact cuts with no float
    literal in sight."""
    import numpy as np
    return np.rint(_np_quantized_cosine(qmat_a, qmat_b, scale)
                   * scale).astype(np.int64)


def _np_cosine(a, b, round_dp: int):
    """(n,d) x (m,d) float64 -> (n,m) rounded raw-dot cosine: the
    oracle formula dot / (norm * norm), rounded to ``round_dp``."""
    import numpy as np
    return np.round((a @ b.T)
                    / (np.linalg.norm(a, axis=1)[:, None]
                       * np.linalg.norm(b, axis=1)[None, :]),
                    round_dp)


def _np_adc_cosine(qa, codes, rn, cb, round_dp: int):
    """PQ asymmetric-distance cosine of (b,d) raw queries against (n,m)
    codes with reconstruction norms ``rn`` under the (m, ksub, d/m)
    codebooks ``cb``: LUT[q, s, j] = dot(q_sub_s, centroid_{s,j}) in
    one einsum, approx_dot = sum_s LUT[q, s, code[s]] as a table
    gather (no decode), divided by |q| * |recon| and rounded."""
    import numpy as np
    n_m, _, sd = cb.shape
    lut = np.einsum("bmd,mkd->bmk", qa.reshape(len(qa), n_m, sd), cb)
    adot = np.zeros((len(qa), len(codes)), dtype=np.float64)
    for s in range(n_m):
        adot += lut[:, s, codes[:, s]]
    return np.round(adot / (np.linalg.norm(qa, axis=1)[:, None]
                            * rn[None, :]), round_dp)


def _pairs(id_a=(), id_b=(), sim=()):
    """(id_a long, id_b long, sim double) pandas frame of a pair UDF."""
    import numpy as np
    import pandas as pd
    return pd.DataFrame({"id_a": np.asarray(id_a, dtype=np.int64),
                         "id_b": np.asarray(id_b, dtype=np.int64),
                         "sim": np.asarray(sim, dtype=np.float64)})


def _top_k(pairs: DataFrame, *, id_col: str, k: int) -> DataFrame:
    """Top-k (id_a, id_b, sim) pairs per id_a under (sim desc, id_b asc),
    as (id_col, neighbor_id, sim, rank)."""
    w = Window.partitionBy("id_a").orderBy(F.col("sim").desc(), F.col("id_b"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("id_a").alias(id_col),
                    F.col("id_b").alias("neighbor_id"),
                    "sim", F.col("rank").cast("int").alias("rank")))


def brute_force_knn(df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
                    k: int = 5, round_dp: int = 6) -> DataFrame:
    """Exact top-k cosine neighbors for every vector (cross join).

    Ranking uses the quantized ENGINE-EXACT similarity
    (``quantized_cosine``: micro-unit int64 dot/norms, one float
    division, half-up 6-dp round) with id tie-break, so results are
    bit-stable across engines, thread counts, and accumulation orders.
    """
    scale = 10 ** round_dp
    base = df.select(F.col(id_col),
                     quantized_vec(vec_col, scale).alias("v"))
    a = base.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    pairs = (a.join(b, F.col("id_a") != F.col("id_b"))
             .select("id_a", "id_b",
                     quantized_cosine(F.col("va"), F.col("vb"),
                                      scale).alias("sim")))
    return _top_k(pairs, id_col=id_col, k=k)


def auto_nbits(n: int, dim: int, target_bucket: int = 8) -> int:
    """Data-adaptive sign-LSH width: the smallest bit count whose
    2^nbits buckets keep EXPECTED occupancy <= ``target_bucket`` — i.e.
    the knob that holds per-bucket pair work CONSTANT as the corpus
    grows (fixed nbits makes occupancy grow linearly and within-bucket
    candidate pairs quadratically; measured exponent 1.93 at 10x data
    before this, SCALE.md §16). Pure-integer formula (bit_length of the
    ceil-divided bucket demand) so a SQL oracle reproduces it without
    float-rounding hazards; floor of 8 bits, cap at the vector dim (a
    sign bit per dimension is all there is) and 62 (BIGINT-safe)."""
    m = (n + target_bucket - 1) // target_bucket
    return min(62, dim, max(8, (m - 1).bit_length()))


def sign_bucket(vec: Column | str, nbits: int = 8) -> Column:
    """LSH bucket key: packed sign bits of the first ``nbits`` dims.

    Reads the RAW vector column (sign(float) == sign(double cast)) —
    element_at over an ``as_double`` transform would re-run the O(dim)
    cast once per bit (the Catalyst lambda-inlining pathology fixed in
    text.word_ngrams)."""
    v = F.col(vec) if isinstance(vec, str) else vec
    bits = [F.when(F.element_at(v, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(nbits)]
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    return out.cast("long")


def sign_lsh_knn(df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
                 k: int = 3, nbits: int | str = 8, round_dp: int = 6,
                 multi_probe: int = 0, target_bucket: int = 8) -> DataFrame:
    """Approximate top-k: exact cosine ranking within each sign-bucket.

    The join is an equi-join on the bucket key — shuffle-partitioned,
    broadcast-free, and the per-bucket pair count is N_b^2 rather than
    N^2. ``multi_probe=1`` additionally probes every bucket at Hamming
    distance 1 from the query's own (the standard multi-probe LSH
    recall knob): the QUERY side explodes to nbits+1 probe keys — the
    join stays an equi-join and candidate volume grows by at most
    (nbits+1)x, never towards N^2. A (query, member) pair still meets
    at most once because the member side keeps its single true bucket.

    ``nbits="auto"`` sizes the bucket space from the data
    (``auto_nbits``: expected occupancy <= ``target_bucket``) so the
    per-bucket pair work stays constant as the corpus grows — with a
    FIXED nbits, candidate volume is N^2/2^nbits, i.e. still quadratic.
    The count/dim lookup is scalar index metadata (two tiny jobs at
    build time, same decision class as the IVF codebook collect).
    """
    if nbits == "auto":
        # one scalar job for both stats (count + min dim)
        n, dim = df.select(F.count(F.lit(1)),
                           F.min(F.size(vec_col))).first()
        nbits = auto_nbits(max(n or 0, 1), max(dim or 0, 1), target_bucket)
    # per-VECTOR squared norm folded ONCE here (guide §1.2 step 2 /
    # the mrl_truncation_eval precedent): the per-PAIR expression used
    # to be cosine() = dot + two norm folds, i.e. every vector's norm
    # re-folded once per candidate it meets (~bucket-occupancy times).
    # Same double (identical fold over the identical array), same
    # sqrt/division/round — bit-identical sims, one fold per pair.
    nsq = F.aggregate(F.transform(F.col("v"), lambda x: x * x),
                      F.lit(0.0), lambda acc, x: acc + x)
    base = df.select(F.col(id_col), as_double(vec_col).alias("v"),
                     sign_bucket(vec_col, nbits).alias("bucket")) \
        .withColumn("nsq", nsq)
    if multi_probe:
        probe_arr = F.array(F.col("bucket"),
                            *[F.col("bucket").bitwiseXOR(F.lit(1 << i))
                              for i in range(nbits)])
        a = base.select(F.explode(probe_arr).alias("bucket"),
                        F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                        F.col("nsq").alias("na"))
    else:
        a = base.select(F.col("bucket"), F.col(id_col).alias("id_a"),
                        F.col("v").alias("va"), F.col("nsq").alias("na"))
    b = base.select(F.col("bucket"), F.col(id_col).alias("id_b"),
                    F.col("v").alias("vb"), F.col("nsq").alias("nb"))
    pairs = (a.join(b, "bucket")
             .where(F.col("id_a") != F.col("id_b"))
             .select("bucket", "id_a", "id_b",
                     F.round(dot(F.col("va"), F.col("vb"))
                             / (F.sqrt("na") * F.sqrt("nb")),
                             round_dp).alias("sim")))
    w = Window.partitionBy("id_a").orderBy(F.col("sim").desc(), F.col("id_b"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("id_a").alias(id_col), F.col("bucket"),
                    F.col("id_b").alias("neighbor_id"), "sim", "rank"))


def _scan_blocks(n: int) -> int:
    """Block count B of the triangular self-pair scan over ``n``
    vectors: at least 8, and enough that a block (ids spread over
    ``pmod(id, B)``) holds at most ROWS_PER_BLOCK vectors, so one
    cell's sims matrix stays bounded at any corpus size."""
    return max(8, -(-n // ROWS_PER_BLOCK))


def _pair_scan(df: DataFrame, *, id_col: str, vec_col: str, n: int,
               threshold: float, round_dp: int,
               bands: list[tuple[int, int]] | None = None) -> DataFrame:
    """Blocked triangular self-pair scan: every pair (id_a < id_b) with
    rounded cosine ``sim >= threshold`` — and, when ``bands`` (a
    ``_band_layout``) is given, sharing at least one sign-bit band.

      * every vector belongs to block ``b = pmod(id, B)``, B from
        ``_scan_blocks(n)``;
      * "left" role: replicate to cogroup keys (b, j) for j >= b;
        "right" role: keys (i, b) for i <= b — so the unordered block
        pair (i, j), i <= j, meets exactly once, and each vector is
        shipped B+1 times total (vs N times in a naive cross join);
      * each cogroup runs ONE numpy/BLAS matmul over its two blocks and
        emits only the qualifying pairs.

    The band predicate is a function of the two sign buckets alone:
    xor the buckets, and a shared band is an all-zero band of the xor.
    """
    import numpy as np

    B = _scan_blocks(n)
    bkt = ([sign_bucket(vec_col, sum(size for _, size in bands)).alias("bkt")]
           if bands else [])
    # NB: cogroup matches groups by key VALUE AND TYPE — pmod(long col)
    # yields long while explode(sequence(int)) yields int, and mixed
    # types silently split each (bi, bj) into two disjoint groups. Cast
    # every grouping key to int on both sides.
    base = df.select(F.col(id_col), as_double(vec_col).alias("v"), *bkt,
                     F.pmod(F.col(id_col), F.lit(B)).cast("int").alias("blk"))
    ge = F.filter(F.sequence(F.lit(0), F.lit(B - 1)),
                  lambda j: j >= F.col("blk"))
    le = F.filter(F.sequence(F.lit(0), F.lit(B - 1)),
                  lambda i: i <= F.col("blk"))
    kl = [F.col("bkt").alias("kl")] if bands else []
    kr = [F.col("bkt").alias("kr")] if bands else []
    left = base.select(F.col("blk").alias("bi"), F.explode(ge).alias("bj"),
                       F.col(id_col).alias("id_l"), F.col("v").alias("vl"),
                       *kl)
    right = base.select(F.explode(le).alias("bi"), F.col("blk").alias("bj"),
                        F.col(id_col).alias("id_r"), F.col("v").alias("vr"),
                        *kr)

    def _scan(key, lpdf, rpdf):
        if lpdf.empty or rpdf.empty:
            return _pairs()
        la = np.array(list(lpdf["vl"]), dtype=np.float64)
        ra = np.array(list(rpdf["vr"]), dtype=np.float64)
        il = lpdf["id_l"].to_numpy(dtype=np.int64)
        ir = rpdf["id_r"].to_numpy(dtype=np.int64)
        sims = _np_cosine(la, ra, round_dp)
        # diagonal groups (i == j) see the same block on both sides:
        # keep il < ir to emit each pair once. Off-diagonal blocks are
        # disjoint id sets (ids interleave mod B), so every cross pair
        # is unique — emit as (min, max) to honor the id_a < id_b
        # output contract.
        if key[0] == key[1]:
            keep = il[:, None] < ir[None, :]
        else:
            keep = il[:, None] != ir[None, :]
        keep &= sims >= threshold
        if bands:
            xor = (lpdf["kl"].to_numpy(dtype=np.int64)[:, None]
                   ^ rpdf["kr"].to_numpy(dtype=np.int64)[None, :])
            share = np.zeros(xor.shape, dtype=bool)
            for start, size in bands:
                share |= ((xor >> start) & ((1 << size) - 1)) == 0
            keep &= share
        ai, bi = np.nonzero(keep)
        ida, idb = il[ai], ir[bi]
        return _pairs(np.minimum(ida, idb), np.maximum(ida, idb),
                      sims[ai, bi])

    return (left.groupBy("bi", "bj").cogroup(right.groupBy("bi", "bj"))
            .applyInPandas(_scan, schema="id_a long, id_b long, sim double"))


def cosine_near_dup(df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
                    threshold: float = 0.9, round_dp: int = 6,
                    flop_budget: int | None = DEFAULT_EVAL_FLOP_BUDGET
                    ) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs (id_a < id_b, sim >= t)
    by the blocked pair scan (``_pair_scan``): no nested-loop join, no
    driver collect, no single giant task.

    Work is inherently O(N^2) FLOPs — exact near-dup at a weak
    threshold admits nothing less (sign-LSH at cos 0.5 = 60 deg has
    per-bit disagreement 1/3, so no banding gives recall 1; measured on
    the testdata: true pairs differ in up to 9 of 16 sign bits). For
    the recall<1 bucketed path that avoids the quadratic work entirely,
    see ``cosine_near_dup_lsh``.

    The quadratic contract is GUARDED IN CODE: past ``flop_budget``
    (int-ops; default DEFAULT_EVAL_FLOP_BUDGET) the call raises loudly
    naming the bucketed sibling instead of silently launching the N^2
    pass — pass flop_budget=None only when the quadratic cost is an
    explicit decision.
    """
    if flop_budget is not None:
        n = guard_eval_flops(df, id_col=id_col, vec_col=vec_col,
                             budget=flop_budget, op="cosine_near_dup",
                             remedy="Use cosine_near_dup_lsh (bucketed, "
                                    "sub-quadratic) or pass "
                                    "flop_budget=None if the exact N^2 "
                                    "pass is an explicit decision.")
    else:
        n = df.count()
    return _pair_scan(df, id_col=id_col, vec_col=vec_col, n=n,
                      threshold=threshold, round_dp=round_dp)


def sign_band_rows(df: DataFrame, *, id_col: str = "vec_id",
                   vec_col: str = "embedding", nbits: int = 16,
                   max_band_hamming: int = 4) -> DataFrame:
    """(id, v, band, band_key) rows: pigeonhole bands over sign bits.

    The ``nbits`` sign bits (sign of the first nbits dims) split into
    ``max_band_hamming + 1`` contiguous bands: two vectors whose sign
    patterns differ in <= max_band_hamming bits share at least one exact
    band. Candidate generation for ``cosine_near_dup_lsh``.
    """
    return df.select(F.col(id_col), as_double(vec_col).alias("v"),
                     _bit_bands(sign_bucket(vec_col, nbits), nbits,
                                max_band_hamming + 1))


def cosine_near_dup_lsh(df: DataFrame, *, id_col: str = "vec_id",
                        vec_col: str = "embedding", threshold: float = 0.5,
                        round_dp: int = 6, nbits: int = 16,
                        max_band_hamming: int = 4) -> DataFrame:
    """APPROXIMATE near-dup pairs: banded sign-LSH candidates + exact
    cosine verify.

    Candidates = pairs sharing >= 1 exact sign-bit band; the exact
    rounded cosine and the ``sim >= threshold`` filter run on
    candidates only. Recall < 1 by design: a pair at cos ~0.5 (60 deg)
    disagrees on each sign bit w.p. ~1/3, so only pairs whose sign
    patterns differ in <= ``max_band_hamming`` of ``nbits`` bits are
    found. Raise max_band_hamming (more, shorter bands) for recall;
    raise nbits for precision.

    TWO physical plans for the same result set, picked by a runtime
    band-occupancy estimate (one tiny agg over the band-key histogram:
    sum of per-bucket n*(n-1)/2 against all pairs):

    * under 1% of all pairs collide: the band equi-join
      (``_near_dup_lsh_bucketed``) — the bands prune;
    * otherwise: ``cosine_near_dup``'s blocked pair scan with the band
      predicate evaluated in-batch from each vector's sign bucket — the
      same pair set with no pair-row shuffle, distinct or per-pair
      interpreted fold, and no hot-bucket skew. Short wide bands (the
      16-bit/6-band config: 2-3-bit keys, ~2/3 of ALL pairs collide at
      any corpus size) land here. The quadratic scan runs the
      DEFAULT_EVAL_FLOP_BUDGET guard, whose remedy is longer bands.

    ``cosine_near_dup`` is the exact quadratic sibling (recall 1).
    """
    layout = _band_layout(nbits, max_band_hamming + 1)
    occ = (sign_band_rows(df, id_col=id_col, vec_col=vec_col, nbits=nbits,
                          max_band_hamming=max_band_hamming)
           .groupBy("band", "band_key")
           .agg(F.count(F.lit(1)).alias("n"), F.max(F.size("v")).alias("d"))
           .agg(F.sum(F.expr("n * (n - 1) div 2")).alias("coll"),
                F.sum("n").alias("rows"), F.max("d").alias("d"))
           .collect()[0])
    n_vec = int(occ["rows"] or 0) // len(layout)
    coll = int(occ["coll"] or 0)  # >= |candidates| (multi-band dups)
    all_pairs = n_vec * (n_vec - 1) // 2
    if all_pairs > 0 and coll * 100 >= all_pairs:
        _check_flops(n_vec, n_vec, max(int(occ["d"] or 1), 1),
                     DEFAULT_EVAL_FLOP_BUDGET,
                     op="cosine_near_dup_lsh (dense scan: band collisions "
                        f"reach {coll / all_pairs:.0%} of all pairs)",
                     remedy="Use longer bands, which prune: raise nbits "
                            "or lower max_band_hamming.")
        return _pair_scan(df, id_col=id_col, vec_col=vec_col, n=n_vec,
                          threshold=threshold, round_dp=round_dp,
                          bands=layout)
    return _near_dup_lsh_bucketed(df, id_col=id_col, vec_col=vec_col,
                                  threshold=threshold, round_dp=round_dp,
                                  nbits=nbits,
                                  max_band_hamming=max_band_hamming)


def _near_dup_lsh_bucketed(df: DataFrame, *, id_col: str, vec_col: str,
                           threshold: float, round_dp: int, nbits: int,
                           max_band_hamming: int) -> DataFrame:
    """Sparse-regime plan of ``cosine_near_dup_lsh``: band equi-join."""
    # candidates carry ids only: the vectors re-attach AFTER the
    # distinct, via two doc-grain joins, so the pair-dedup shuffle
    # moves 16 bytes per candidate, not both vectors (~1 KB; guide
    # §2.3/§8 — shuffle keys, not payloads)
    cand = _band_pairs(
        sign_band_rows(df, id_col=id_col, vec_col=vec_col, nbits=nbits,
                       max_band_hamming=max_band_hamming)
        .select(F.col(id_col), "band", "band_key"),
        id_col=id_col)
    # per-vector squared norm folded once on the doc-grain side (not
    # per candidate pair): same fold over the same doubles -> the
    # sqrt/division/round below is bit-identical to cosine(), at one
    # array fold per pair instead of three
    nsq = F.aggregate(F.transform(F.col("v"), lambda x: x * x),
                      F.lit(0.0), lambda acc, x: acc + x)
    vecs = df.select(F.col(id_col), as_double(vec_col).alias("v")) \
        .withColumn("nsq", nsq)
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                     F.col("nsq").alias("na"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                     F.col("nsq").alias("nb"))
    # doc-grain sides: bounded per partition, the SHJ-safe class
    cand = (cand.join(va.hint("shuffle_hash"), "id_a")
            .join(vb.hint("shuffle_hash"), "id_b"))
    return (cand.select(
                "id_a", "id_b",
                F.round(dot(F.col("va"), F.col("vb"))
                        / (F.sqrt("na") * F.sqrt("nb")),
                        round_dp).alias("sim"))
            .where(F.col("sim") >= threshold))


def eval_query_sample(df: DataFrame, *, id_col: str = "vec_id",
                      n: int = 200) -> DataFrame:
    """Deterministic n-query evaluation sample: the ``n`` ids with the
    smallest ``(md5(id), id)`` — the repo's cross-engine hash-pick
    convention (md5 is bit-identical everywhere), so a DuckDB oracle
    replays the exact same sample with
    ``ORDER BY md5(id::VARCHAR), id LIMIT n``. Stable across runs,
    partitionings, and cluster sizes; unbiased because md5 order is
    independent of any data column.

    Scale: Spark plans ``orderBy(...).limit(n)`` as
    TakeOrderedAndProject — per-partition top-n then a bounded driver
    merge of n rows per partition; nothing corpus-sized moves."""
    if n < 1:
        raise ValueError(f"sample_n_queries must be >= 1, got {n}")
    return (df.select(id_col)
            .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
            .limit(n))


def guard_eval_flops(df: DataFrame, *, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     n_queries: int | None = None,
                     budget: int = DEFAULT_EVAL_FLOP_BUDGET,
                     op: str = "exact eval pass",
                     remedy: str | None = None) -> int:
    """Loud pre-flight guard for the quadratic eval-audit class: counts
    the corpus once (parquet count-star is metadata-fast) and raises
    when the exact pass ``n_queries x N x dim`` would exceed ``budget``
    int-ops — naming the remedy (``sample_n_queries``) instead of
    silently launching a month of compute. Returns the corpus count so
    callers don't pay it twice."""
    n = df.count()
    if n == 0:
        return 0
    drow = df.select(F.size(F.col(vec_col)).alias("d")).first()
    d = max(int(drow["d"] or 1), 1)
    nq = n if n_queries is None else min(n_queries, n)
    _check_flops(nq, n, d, budget, op=op,
                 remedy=remedy or ("Pass sample_n_queries=<n> (a "
                                   "deterministic md5-ordered pick via "
                                   "eval_query_sample — oracle-"
                                   "replayable) or raise flop_budget "
                                   "explicitly."))
    return n


def _check_flops(nq: int, n: int, d: int, budget: int, *, op: str,
                 remedy: str) -> None:
    """Raise when an exact pass of ``nq`` queries x ``n`` vectors x dim
    ``d`` would exceed ``budget`` integer ops, naming ``remedy``."""
    flops = nq * n * d
    if flops > budget:
        raise ValueError(
            f"{op}: the exact pass needs ~{flops:.2e} integer ops "
            f"({nq} queries x {n} index vectors x dim {d}) > budget "
            f"{budget:.2e}. {remedy}")


def _grid_topk(q: DataFrame, ix: DataFrame, *, id_col: str, k: int,
               cell) -> DataFrame:
    """EXACT top-k of every query over an index on the ``KNN_GRID``
    query x index grid — the core of ``block_knn`` and ``pq_adc_knn``.

    ``q`` carries (id_a, query payload), ``ix`` (id_b, index payload).
    Queries hash into KNN_GRID[0] blocks and replicate to all
    KNN_GRID[1] index shards; index rows hash into shards and replicate
    to all blocks, so each row moves (blocks + shards) times, never N.
    Each cogroup cell calls ``cell(qpdf, ipdf)`` for its (b, n) sims
    (excluded candidates at -inf; real sims are finite or NaN), drops
    self-matches and keeps its local top-k per query. The global top-k
    of that union is the true top-k under (sim desc, id asc): every
    query meets every index row in exactly one cell.
    """
    import numpy as np

    Q, S = KNN_GRID
    # grouping keys cast to int on BOTH sides: cogroup silently splits
    # groups whose key types differ (pmod -> long vs explode -> int)
    q = q.select(F.pmod(F.col("id_a"), F.lit(Q)).cast("int").alias("qb"),
                 F.explode(F.sequence(F.lit(0), F.lit(S - 1))).alias("sb"),
                 *q.columns)
    ix = ix.select(F.explode(F.sequence(F.lit(0), F.lit(Q - 1))).alias("qb"),
                   F.pmod(F.col("id_b"), F.lit(S)).cast("int").alias("sb"),
                   *ix.columns)

    def _local_topk(key, qpdf, ipdf):
        if qpdf.empty or ipdf.empty:
            return _pairs()
        # index side sorted by id so that a STABLE row-wise argsort of
        # -sims breaks ties id-ascending — the per-query
        # np.lexsort((ids, -sims)) order, fully vectorized
        ipdf = ipdf.sort_values("id_b")
        qids = qpdf["id_a"].to_numpy(dtype=np.int64)
        iids = ipdf["id_b"].to_numpy(dtype=np.int64)
        sims = cell(qpdf, ipdf)
        # excluded candidates sink below every real sim and are dropped
        # after selection, so a query with fewer than k valid candidates
        # emits fewer rows
        np.copyto(sims, -np.inf, where=iids[None, :] == qids[:, None])
        kk = min(k, sims.shape[1])
        order = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
        svals = np.take_along_axis(sims, order, axis=1).ravel()
        keep = svals != -np.inf
        return _pairs(np.repeat(qids, kk)[keep], iids[order.ravel()][keep],
                      svals[keep])

    return _top_k(q.groupBy("qb", "sb").cogroup(ix.groupBy("qb", "sb"))
                  .applyInPandas(_local_topk,
                                 schema="id_a long, id_b long, sim double"),
                  id_col=id_col, k=k)


def block_knn(df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
              k: int = 5, round_dp: int = 6,
              exclude_match_col: str | None = None,
              queries_df: DataFrame | None = None,
              index_df: DataFrame | None = None) -> DataFrame:
    """EXACT cosine top-k for every vector, fully distributed — the
    scale-safe replacement for driver-collect brute force: a 2-D
    blocked matrix product on the ``KNN_GRID`` query x index grid
    (``_grid_topk``), one numpy/BLAS matmul per cell.

    ENGINE-EXACT similarities: vectors are quantized to micro-unit
    int64 (``quantized_vec``) and sims computed by
    ``_np_quantized_cosine`` — exact integer dot/norms, so the result
    is bit-identical to the JVM ``quantized_cosine`` and to a DuckDB
    oracle using the same integer formula, independent of BLAS thread
    count or accumulation order (a float-BLAS rounding flip at a
    0.5e-6 midpoint once flipped a rank-5 tie-break and with it a
    recall report's hash).

    ``exclude_match_col``: when set (e.g. ``"label"``), candidates whose
    value in that column EQUALS the query's are excluded — per-class
    HARD-NEGATIVE MINING for contrastive training (nearest vectors that
    are NOT of the query's own class). Exactness is preserved: the
    filter applies inside every cogroup before its local top-k, so the
    shard-winner union is the true top-k of the filtered candidate set.
    Rows with a NULL in that column are dropped up front on both sides
    — SQL's three-valued ``a.label <> b.label`` never matches a NULL
    pair, and numpy's NaN != x would instead KEEP them all, so the
    explicit filter keeps engine and oracle semantics identical.

    ``queries_df``: when set (a frame carrying ``id_col``, e.g. an
    ``eval_query_sample`` pick), only those ids act as QUERIES — the
    index side stays the FULL corpus, so each sampled query's top-k is
    its true corpus-wide top-k. Cost drops from N^2*d to n_q*N*d; the
    sample frame broadcasts (bounded) into a left-semi prune of the
    query side.

    ``index_df``: when set, a DIFFERENT frame (same id/vec columns)
    acts as the index side — cross-set kNN (e.g. margin-based bitext
    mining between two corpus halves). ``df`` stays the query side;
    the self-match exclusion (``id != id``) only matters when the two
    id spaces overlap. Exactness/partitioning are unchanged — the
    blocked product never cared that the two sides were the same frame.
    """
    import numpy as np

    if exclude_match_col:
        df = df.where(F.col(exclude_match_col).isNotNull())
    xcols = [F.col(exclude_match_col)] if exclude_match_col else []
    scale = 10 ** round_dp
    base = df.select(F.col(id_col),
                     quantized_vec(vec_col, scale).alias("v"), *xcols)
    la = [F.col(exclude_match_col).alias("la")] if exclude_match_col else []
    lb = [F.col(exclude_match_col).alias("lb")] if exclude_match_col else []
    ibase = base
    if index_df is not None:
        if exclude_match_col:
            index_df = index_df.where(F.col(exclude_match_col).isNotNull())
        ibase = index_df.select(F.col(id_col),
                                quantized_vec(vec_col, scale).alias("v"),
                                *xcols)
    qbase = base
    if queries_df is not None:
        qbase = base.join(F.broadcast(queries_df.select(id_col)),
                          id_col, "left_semi")
    q = qbase.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), *la)
    ix = ibase.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), *lb)

    def _cell(qpdf, ipdf):
        # inputs arrive micro-unit quantized; sims are bit-exact in
        # every engine (integer dot/norms + one IEEE division)
        sims = _np_quantized_cosine(
            np.array(list(qpdf["va"]), dtype=np.float64),
            np.array(list(ipdf["vb"]), dtype=np.float64), scale)
        if exclude_match_col:
            np.copyto(sims, -np.inf,
                      where=(ipdf["lb"].to_numpy()[None, :]
                             == qpdf["la"].to_numpy()[:, None]))
        return sims

    return _grid_topk(q, ix, id_col=id_col, k=k, cell=_cell)


def _ivf_codebook_mat(base: DataFrame, id_col: str, nlist: int | str,
                      codebook) -> "np.ndarray":
    """IVF codebook as a driver-resident (nlist x d) matrix: the caller's
    trained codebook if given (e.g. train_codebook_exact()), else the
    deterministic lowest-id subset (``nlist="auto"``: ``auto_nlist`` of
    the corpus count) — bounded index metadata, the one collect every
    IVF system performs. An empty codebook fails here, loudly, instead
    of as a numpy shape error inside the executor routing closure."""
    import numpy as np
    if codebook is not None:
        c_mat = np.asarray(codebook, dtype=np.float64)
    else:
        if nlist == "auto":
            nlist = auto_nlist(base.count())
        cent_rows = sorted(base.where(F.col(id_col) < nlist).collect(),
                           key=lambda r: r[0])
        if not cent_rows:
            raise ValueError(
                f"no vectors with {id_col} < {nlist} to build the IVF "
                "codebook — ids must start near 0, or pass the codebook "
                "explicitly")
        c_mat = np.array([r["v"] for r in cent_rows], dtype=np.float64)
    if c_mat.ndim != 2 or len(c_mat) == 0:
        raise ValueError("the IVF codebook must be a non-empty 2-D array, "
                         f"got shape {c_mat.shape}")
    return c_mat


def _ivf_routes(base: DataFrame, c_mat, *, id_col: str, nprobe: int,
                round_dp: int = 6) -> DataFrame:
    """Assignment + probe routing: one vectorized mapInPandas pass emits
    (vector, probed list, probe rank) rows — crn=1 is the inverted-list
    assignment. raw dot / (norm * norm) rounded, the exact oracle
    formula, so probe-selection tie-breaks agree across engines."""
    import numpy as np
    import pandas as pd
    c_ids = np.arange(len(c_mat), dtype=np.int64)

    def _route(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            sims = _np_cosine(np.array(list(pdf["v"]), dtype=np.float64),
                              c_mat, round_dp)
            out_id, out_cid, out_crn = [], [], []
            for i, row in enumerate(sims):
                order = np.lexsort((c_ids, -row))[:max(nprobe, 1)]
                out_id.extend([ids[i]] * len(order))
                out_cid.extend(c_ids[order])
                out_crn.extend(range(1, len(order) + 1))
            yield pd.DataFrame({id_col: out_id, "cid": out_cid, "crn": out_crn})

    return base.mapInPandas(_route, schema=f"{id_col} long, cid long, crn int")


def _ivf_probe_pairs(routed: DataFrame, base: DataFrame, members: DataFrame,
                     *, id_col: str, cell) -> DataFrame:
    """The IVF probe skeleton both IVF searches share: crn=1 routes
    join ``members`` (id plus the member columns ``cell`` reads) into
    the inverted lists, every route joins ``base``'s raw ``v`` as the
    probe vector ``va``, and probes COGROUP lists on the list id.
    ``cell(probe_pdf, member_pdf)`` returns the (probes x members) sims
    matrix of one list; self-pairs are dropped. A pair can surface via
    several probed lists with the same sim, so the max per pair is the
    one returned: (id_a, id_b, sim)."""
    import numpy as np

    member_cols = [c for c in members.columns if c != id_col]
    lists = (routed.where(F.col("crn") == 1).drop("crn")
             .join(members, id_col)
             .select(F.col("cid").alias("cid_m"), F.col(id_col).alias("id_b"),
                     *member_cols))
    probes = (routed.drop("crn")
              .join(base, id_col)
              .select("cid", F.col(id_col).alias("id_a"), F.col("v").alias("va")))

    def _list_pairs(key, probe_pdf, member_pdf):
        if probe_pdf.empty or member_pdf.empty:
            return _pairs()
        sims = cell(probe_pdf, member_pdf)
        ia = probe_pdf["id_a"].to_numpy(dtype=np.int64)
        ib = member_pdf["id_b"].to_numpy(dtype=np.int64)
        a_idx, b_idx = np.nonzero(ia[:, None] != ib[None, :])
        return _pairs(ia[a_idx], ib[b_idx], sims[a_idx, b_idx])

    pairs = (probes.groupBy("cid").cogroup(lists.groupBy("cid_m"))
             .applyInPandas(_list_pairs,
                            schema="id_a long, id_b long, sim double"))
    return pairs.groupBy("id_a", "id_b").agg(F.max("sim").alias("sim"))


def auto_nlist(n: int) -> int:
    """Data-adaptive IVF list count: the classic nlist ~ 4*sqrt(N) rule
    (FAISS guideline). With nlist FIXED, inverted-list length grows
    linearly and the per-list re-rank goes quadratic (measured exponent
    1.63 at 10x data, SCALE.md §16); nlist ~ sqrt(N) bounds total
    re-rank work at O(N^1.5) for fixed nprobe — the standard IVF
    operating point (going flatter needs hierarchical routing / PQ,
    out of scope). floor(4*sqrt(n)) is reproducible in SQL: sqrt of an
    integer is exactly rounded IEEE, 4* is exact, floor matches."""
    import math
    return max(16, math.floor(4 * math.sqrt(max(n, 1))))


def ivf_knn(df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding",
            k: int = 3, nlist: int | str = 16, nprobe: int = 4,
            round_dp: int = 6, codebook=None) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the cluster-at-scale path.

    Classic IVF execution shape:
      1. codebook: ``nlist`` centroids, collected to the driver and
         closure-broadcast (index metadata IS driver-resident in every
         IVF system). Here a deterministic subset (vec_id < nlist) so
         the result is oracle-reproducible; at scale you'd plug in
         sampled k-means centroids — the plan is identical, only the
         codebook rows change.
      2. assignment + probing: ONE vectorized pass over the vectors
         (mapInPandas, numpy matmul against the codebook) emits each
         vector's inverted-list id (crn=1) and its top-``nprobe`` probe
         lists — no shuffle, no interpreted per-element arithmetic.
      3. per-list re-rank: probes COGROUP inverted lists on the list id
         (one shuffle each, partitioned by list — per-list pair volume,
         never N^2); each list runs a small numpy matmul of its queries
         x members. Vectors cross the wire once per list membership,
         never once per candidate pair.
      4. global top-k per query over the per-list candidates.

    Ranking uses the rounded similarity with id tie-break (stable across
    engines). Recall < 1 by design; raise nprobe to trade cost for
    recall.
    """
    import numpy as np

    base = df.select(F.col(id_col), as_double(vec_col).alias("v"))
    c_mat = _ivf_codebook_mat(base, id_col, nlist, codebook)
    routed = _ivf_routes(base, c_mat, id_col=id_col, nprobe=nprobe,
                         round_dp=round_dp)

    def _cell(probe_pdf, member_pdf):
        return _np_cosine(np.array(list(probe_pdf["va"]), dtype=np.float64),
                          np.array(list(member_pdf["vb"]), dtype=np.float64),
                          round_dp)

    members = base.select(id_col, F.col("v").alias("vb"))
    return _top_k(_ivf_probe_pairs(routed, base, members, id_col=id_col,
                                   cell=_cell),
                  id_col=id_col, k=k)


def _trunc_div(s: int, n: int) -> int:
    """Integer division truncating toward zero — the cross-engine
    centroid-normalization convention (DuckDB's native ``//``; Python's
    ``//`` floors, hence this helper)."""
    q = abs(s) // n
    return q if s >= 0 else -q


def train_codebook_exact(df: DataFrame, *, id_col: str = "vec_id",
                         vec_col: str = "embedding", k: int = 8,
                         iterations: int = 2,
                         scale: int = 1_000_000) -> list[list[int]]:
    """Lloyd's k-means codebook trained ENTIRELY in integer arithmetic —
    the trained-codebook path a SQL oracle can replay step for step.

    Cosine is scale-invariant, so spherical k-means never needs the
    mean itself — only a representative ray of the cluster sum. Each
    iteration therefore reduces to exact integer ops:
      1. assign every micro-unit vector to the centroid maximizing the
         6-dp quantized cosine (``_np_quantized_cosine``; ties -> the
         lowest cid, numpy argmax first-max == SQL row_number);
      2. per-cluster per-dimension int64 sums (posexplode + hash agg —
         order-independent by construction, one shuffle of
         (cid, dim, x) with map-side partials);
      3. new centroid component = sum // count, TRUNCATED toward zero
         (DuckDB's ``//``) — re-bounds component magnitude to the input
         range so norms never overflow at any N. Empty clusters keep
         their previous centroid.
    Init = the k lowest-id vectors (cid = rank in id order — no dense-id
    requirement). Returns the k x d codebook as Python int lists —
    driver-resident index metadata; cosine routing is scale-invariant,
    so it also serves as an ``ivf_knn(codebook=...)`` coarse codebook.
    Unrolled chained CTEs reproduce this exactly
    (``semdedup_exact_oracle_sql``)."""
    import numpy as np
    import pandas as pd

    if k < 1 or iterations < 0:
        raise ValueError(f"need k >= 1, iterations >= 0; got {k}/{iterations}")
    base = df.select(F.col(id_col), quantized_vec(vec_col, scale).alias("qv"))
    init = base.orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"corpus has {len(init)} rows < k={k}")
    codebook = [[int(x) for x in r["qv"]] for r in init]

    for _ in range(iterations):
        assigned = _assign_exact(base, codebook, id_col=id_col, scale=scale)
        sums = (assigned.select("cid", F.posexplode("qv").alias("dim", "x"))
                .groupBy("cid", "dim").agg(F.sum("x").alias("s"))
                .collect())
        counts = {r["cid"]: r["n"] for r in
                  assigned.groupBy("cid").agg(
                      F.count(F.lit(1)).alias("n")).collect()}
        new = [list(c) for c in codebook]  # empty clusters keep previous
        for r in sums:
            new[r["cid"]][r["dim"]] = _trunc_div(int(r["s"]),
                                                 counts[r["cid"]])
        codebook = new
    return codebook


def _assign_exact(base: DataFrame, codebook: list[list[int]], *,
                  id_col: str, scale: int) -> DataFrame:
    """One vectorized nearest-centroid pass over (id, qv) micro-unit
    rows: cid = argmax of the 6-dp quantized cosine, first-max (lowest
    cid) on ties. Codebook rides in the closure — k x d ints."""
    import numpy as np
    import pandas as pd

    cb = np.array(codebook, dtype=np.float64)

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.array(list(pdf["qv"]), dtype=np.float64)
            sims = _np_quantized_cosine(q, cb, scale)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "cid": np.argmax(sims, axis=1)
                                .astype("int64"),
                                "qv": pdf["qv"]})

    return base.mapInPandas(_assign,
                            schema=f"{id_col} long, cid long, qv array<long>")


def semdedup_prune_exact(df: DataFrame, *, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         threshold_micro: int = 400_000,
                         nlist: int = 8, iterations: int = 2,
                         scale: int = 1_000_000) -> DataFrame:
    """SemDeDup keep/drop verdicts (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space and compare pairs
    ONLY within a cluster — semantic duplicates land in the same
    centroid cell, so the O(N^2) pair scan shrinks to
    sum-of-cluster-sizes^2 without any text overlap requirement.

    Steps: ``train_codebook_exact`` integer k-means, one exact
    assignment pass, per-cluster quantized-cosine pair scan with an
    integer micro-unit threshold, and a vector is DROPPED when a
    lower-id cluster-mate reaches ``threshold_micro`` (the paper's
    keep-one-representative rule made deterministic by id order).
    Every arithmetic step is exact in int64, so the whole pipeline —
    training included — hash-matches the generated chained-CTE oracle
    (``semdedup_exact_oracle_sql``). Returns (id, cid, kept).

    Scale shape: codebook = k x d driver metadata, one cid-keyed
    shuffle for the pair scan; ``nlist`` bounds per-cell pair volume
    (skew in cell sizes is data skew — a finer codebook mitigates it,
    as for hot keys)."""
    import numpy as np
    import pandas as pd

    codebook = train_codebook_exact(df, id_col=id_col, vec_col=vec_col,
                                    k=nlist, iterations=iterations,
                                    scale=scale)
    base = df.select(F.col(id_col), quantized_vec(vec_col, scale).alias("qv"))
    assigned = _assign_exact(base, codebook, id_col=id_col, scale=scale)

    def _scan(key, pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64")})
        v = np.array(list(pdf["qv"]), dtype=np.float64)
        m = _np_quantized_cosine_micro(v, v, scale)
        ia, ib = np.triu_indices(len(ids), 1)
        keep = m[ia, ib] >= threshold_micro
        return pd.DataFrame({"id_a": ids[ia[keep]].astype("int64"),
                             "id_b": ids[ib[keep]].astype("int64")})

    pairs = (assigned.groupBy("cid")
             .applyInPandas(_scan, schema="id_a long, id_b long"))
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return (assigned.select(id_col, "cid")
            .join(dropped.withColumn("__d", F.lit(True)), id_col, "left")
            .select(id_col, "cid",
                    F.coalesce(~F.col("__d"), F.lit(True)).alias("kept")))


def semdedup_exact_oracle_sql(*, table: str = "embeddings",
                              id_col: str = "vec_id",
                              vec_col: str = "embedding", dim: int = 64,
                              k: int = 8, iterations: int = 2,
                              threshold_micro: int = 400_000,
                              scale: int = 1_000_000) -> str:
    """Generate the DuckDB oracle replaying ``semdedup_prune_exact``
    bit for bit: quantize -> k lowest-id init -> ``iterations`` unrolled
    assign/sum/truncdiv rounds -> final assignment -> within-cluster
    micro-threshold pair scan -> drop-vs-lower-id. Same generated-
    chained-CTE class as the k-core oracle; every value is int64 (or
    one IEEE sqrt/divide chain identical across engines)."""
    if iterations < 0 or k < 1 or dim < 1:
        raise ValueError("need iterations >= 0, k >= 1, dim >= 1")

    def micro(va, na, vb, nb):
        return (f"floor(list_sum(list_transform(list_zip({va}, {vb}), "
                f"p -> p[1] * p[2]))::BIGINT "
                f"/ (sqrt({na}) * sqrt({nb})) * {scale} + 0.5)")

    parts = [f"""WITH q AS (
  SELECT {id_col},
         list_transform({vec_col},
                        x -> floor(x::DOUBLE * {scale} + 0.5)::BIGINT) AS qv,
         list_sum(list_transform({vec_col},
             x -> floor(x::DOUBLE * {scale} + 0.5)::BIGINT
                  * floor(x::DOUBLE * {scale} + 0.5)::BIGINT))::BIGINT AS nrm
  FROM {table}
), dims AS (
  SELECT unnest(range(1, {dim + 1})) AS i
), c0 AS (
  SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cid, qv AS cv,
         nrm AS cnrm
  FROM (SELECT * FROM q ORDER BY {id_col} LIMIT {k})
)"""]
    for it in range(1, iterations + 1):
        prev = f"c{it - 1}"
        parts.append(f""", a{it} AS (
  SELECT {id_col}, cid, qv FROM (
    SELECT q.{id_col}, c.cid, q.qv,
           row_number() OVER (PARTITION BY q.{id_col} ORDER BY
             {micro('q.qv', 'q.nrm', 'c.cv', 'c.cnrm')} DESC, c.cid) AS rn
    FROM q CROSS JOIN {prev} c)
  WHERE rn = 1
), s{it} AS (
  SELECT a.cid, d.i, sum(a.qv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
  FROM a{it} a CROSS JOIN dims d GROUP BY a.cid, d.i
), c{it} AS (
  SELECT p.cid, coalesce(u.cv, p.cv) AS cv,
         list_sum(list_transform(coalesce(u.cv, p.cv),
                                 x -> x * x))::BIGINT AS cnrm
  FROM {prev} p LEFT JOIN (
    SELECT cid, list(s // n ORDER BY i) AS cv FROM s{it} GROUP BY cid
  ) u USING (cid)
)""")
    last = f"c{iterations}"
    parts.append(f""", afin AS (
  SELECT {id_col}, cid, qv, nrm FROM (
    SELECT q.{id_col}, c.cid, q.qv, q.nrm,
           row_number() OVER (PARTITION BY q.{id_col} ORDER BY
             {micro('q.qv', 'q.nrm', 'c.cv', 'c.cnrm')} DESC, c.cid) AS rn
    FROM q CROSS JOIN {last} c)
  WHERE rn = 1
), pairs AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM afin a JOIN afin b USING (cid)
  WHERE a.{id_col} < b.{id_col}
    AND {micro(f'a.qv', 'a.nrm', 'b.qv', 'b.nrm')} >= {threshold_micro}
)
SELECT {id_col}, cid,
       {id_col} NOT IN (SELECT id_b FROM pairs) AS kept
FROM afin""")
    return "".join(parts)


#: RRF reciprocal mass in integer micro-units (order-independent sums)
RRF_SCALE = 1_000_000_000_000


def rrf_fuse(rankings: list[DataFrame], *, id_col: str = "vec_id",
             neighbor_col: str = "neighbor_id", rank_col: str = "rank",
             k: int = 3, c: int = 60) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al., SIGIR 2009): combine
    per-query rankings from multiple retrieval systems into one,
    score(q, d) = sum_i 1/(c + rank_i(q, d)), missing entries contribute
    nothing. The hybrid-search standard (sparse + dense, multiple ANN
    probes) because it needs no score calibration across systems.

    ENGINE-EXACT: the reciprocal is computed in integer micro-units
    (``RRF_SCALE div (c + rank)``) so the per-document sum is
    order-independent and bit-identical in any 64-bit engine — float
    reciprocals would make the fused ranking sensitive to addition
    order at rounding boundaries (the PageRank integer trick).

    Relational shape: UNION ALL of the ranking tables, one keyed hash
    aggregation on (query, doc) with map-side partials, one per-query
    top-k window (WindowGroupLimit: k rows per partition) — ranking
    tables are (queries x k_i)-sized, never corpus-sized, so fusion
    cost is independent of corpus volume. Returns
    (id, neighbor, rrf_micro, fused_rank)."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if c < 0 or k < 1:
        raise ValueError("c must be >= 0 and k >= 1")
    cols = [id_col, neighbor_col, rank_col]
    allr = rankings[0].select(*cols)
    for r in rankings[1:]:
        allr = allr.unionAll(r.select(*cols))
    scores = (allr.groupBy(id_col, neighbor_col)
              .agg(F.sum(F.expr(f"{RRF_SCALE} div ({c} + {rank_col})"))
                   .cast("long").alias("rrf_micro")))
    w = Window.partitionBy(id_col).orderBy(F.col("rrf_micro").desc(),
                                           F.col(neighbor_col))
    return (scores.withColumn("fused_rank", F.row_number().over(w))
            .where(F.col("fused_rank") <= k)
            .select(id_col, neighbor_col, "rrf_micro",
                    F.col("fused_rank").cast("int").alias("fused_rank")))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN (Jégou et al. 2011,
# "Product quantization for nearest neighbor search"; the FAISS IndexPQ /
# IndexIVFPQ memory model). At 100 TB of raw float32 embeddings the index
# side CANNOT ship vectors: dim=64 float32 is 256 bytes/vector, while an
# m=4 PQ code is 4 bytes + one float norm — a ~20-60x smaller shuffle and
# executor-cache footprint. ADC (asymmetric distance computation) keeps
# the QUERY side exact-precision: only the candidate side is quantized.
# ---------------------------------------------------------------------------


def fixed_pq_codebooks(df: DataFrame, *, id_col: str = "vec_id",
                       vec_col: str = "embedding", m: int = 4,
                       ksub: int = 8) -> "np.ndarray":
    """Deterministic PQ sub-codebooks: the ``ksub`` lowest-id vectors,
    each split into ``m`` equal sub-vectors — the same oracle-
    reproducible convention as ``ivf_knn``'s vec_id<nlist codebook
    (sub-codebook s of centroid j = subvector s of vector j). Returns a
    (m, ksub, dim/m) float64 array — bounded index metadata. At scale
    you'd plug in ``train_pq_codebooks`` output; the execution plan is
    identical, only the codebook values change."""
    import numpy as np

    base = df.select(F.col(id_col), as_double(vec_col).alias("v"))
    rows = sorted(base.where(F.col(id_col) < ksub).collect(),
                  key=lambda r: r[0])
    if len(rows) < ksub:
        raise ValueError(f"fixed_pq_codebooks: need {ksub} vectors with "
                         f"{id_col} < {ksub}, found {len(rows)}")
    mat = np.array([r["v"] for r in rows], dtype=np.float64)  # (ksub, dim)
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd = dim // m
    # (m, ksub, sd): codebooks[s][j] = subvector s of vector j
    return mat.reshape(ksub, m, sd).transpose(1, 0, 2).copy()


def train_pq_codebooks(df: DataFrame, *, id_col: str = "vec_id",
                       vec_col: str = "embedding", m: int = 4,
                       ksub: int = 16, iterations: int = 4) -> "np.ndarray":
    """Per-subspace Lloyd's k-means PQ training, distributed and
    deterministic (init = the ksub lowest-id vectors' subvectors, i.e.
    ``fixed_pq_codebooks``). Each iteration is ONE vectorized
    assignment pass over the corpus (all m subspaces assigned in the
    same pass — the codebooks ride in the closure) plus ONE
    (subspace, cluster, dim)-grain mean aggregation: m*ksub*(dim/m)
    cells come back to the driver, never vectors. Euclidean assignment
    (the PQ objective is L2 reconstruction error). Returns the
    (m, ksub, dim/m) codebook tensor for ``pq_encode``/``pq_adc_knn``."""
    import numpy as np
    import pandas as pd

    cb = fixed_pq_codebooks(df, id_col=id_col, vec_col=vec_col,
                            m=m, ksub=ksub)
    n_m, n_k, sd = cb.shape
    base = df.select(F.col(id_col), as_double(vec_col).alias("v"))

    for _ in range(iterations):
        def _assign(batches, cb=cb):
            for pdf in batches:
                q = np.array(list(pdf["v"]), dtype=np.float64)
                qs = q.reshape(len(q), n_m, sd)
                out_m, out_c, out_d, out_x = [], [], [], []
                for s in range(n_m):
                    # (n, ksub) squared L2 to subspace-s centroids
                    d2 = ((qs[:, s, None, :] - cb[s][None, :, :]) ** 2).sum(-1)
                    code = np.argmin(d2, axis=1)
                    n = len(q)
                    out_m.append(np.full(n * sd, s, dtype=np.int64))
                    out_c.append(np.repeat(code.astype(np.int64), sd))
                    out_d.append(np.tile(np.arange(sd, dtype=np.int64), n))
                    out_x.append(qs[:, s, :].reshape(-1))
                yield pd.DataFrame({"m": np.concatenate(out_m),
                                    "cid": np.concatenate(out_c),
                                    "dim": np.concatenate(out_d),
                                    "x": np.concatenate(out_x)})

        cells = base.mapInPandas(
            _assign, schema="m long, cid long, dim long, x double")
        means = (cells.groupBy("m", "cid", "dim")
                 .agg(F.avg("x").alias("mu")).collect())
        new = cb.copy()  # empty clusters keep their previous centroid
        for r in means:
            new[r["m"], r["cid"], r["dim"]] = r["mu"]
        cb = new
    return cb


def pq_encode(df: DataFrame, codebooks, *, id_col: str = "vec_id",
              vec_col: str = "embedding",
              dist_round_dp: int | None = 6) -> DataFrame:
    """PQ-encode every vector: per subspace s, code[s] = argmin over
    sub-centroids of the squared L2 distance (rounded to
    ``dist_round_dp`` with lowest-centroid tie-break, so a SQL oracle
    reproduces the choice bit-for-bit; None = raw argmin). Emits
    (id, codes array<int>, recon_norm double) — recon_norm is the norm
    of the reconstruction (subspaces concatenate orthogonally, so
    |recon|^2 = sum_s |centroid_s|^2), precomputed at encode time
    because ADC cosine needs it and the raw vector is gone.

    ONE vectorized mapInPandas pass, no shuffle; the codebook tensor is
    closure-resident index metadata (m*ksub*dim/m floats)."""
    import numpy as np
    import pandas as pd

    cb = np.asarray(codebooks, dtype=np.float64)
    n_m, n_k, sd = cb.shape
    cnorm2 = (cb ** 2).sum(-1)  # (m, ksub)

    def _encode(batches):
        for pdf in batches:
            q = np.array(list(pdf["v"]), dtype=np.float64)
            qs = q.reshape(len(q), n_m, sd)
            codes = np.empty((len(q), n_m), dtype=np.int32)
            for s in range(n_m):
                d2 = ((qs[:, s, None, :] - cb[s][None, :, :]) ** 2).sum(-1)
                if dist_round_dp is not None:
                    d2 = np.round(d2, dist_round_dp)
                codes[:, s] = np.argmin(d2, axis=1)  # first min = lowest cid
            rn = np.sqrt(cnorm2[np.arange(n_m)[None, :], codes].sum(axis=1))
            yield pd.DataFrame({id_col: pdf[id_col],
                                "codes": list(codes),
                                "recon_norm": rn})

    base = df.select(F.col(id_col), as_double(vec_col).alias("v"))
    return base.mapInPandas(
        _encode, schema=f"{id_col} long, codes array<int>, recon_norm double")


def pq_adc_knn(df: DataFrame, codebooks, *, id_col: str = "vec_id",
               vec_col: str = "embedding", k: int = 3, round_dp: int = 6,
               encoded: DataFrame | None = None) -> DataFrame:
    """Compressed-domain exact-scan ANN (FAISS IndexPQ): every query
    meets every CODE, never every vector — the ``block_knn`` query x
    index grid (``_grid_topk``) with the index side carrying m-byte PQ
    codes + one norm instead of dim floats. Asymmetric distance
    computation (``_np_adc_cosine``): each cell builds the query-side
    lookup table LUT[q, s, j] = dot(q_sub_s, centroid_{s,j}) with one
    einsum (b x m x ksub floats), then approx_dot(q, v) = sum_s LUT[q,
    s, code_v[s]] is a pure table gather — no decode, no per-pair
    float dot. approx_cos = approx_dot / (|q| * |recon_v|), rounded, id
    tie-break.

    Scale: the index side of the shuffle is codes-only (m bytes +
    8-byte norm per vector vs 4*dim bytes raw — 26x smaller at dim=64/
    m=4), which is the entire point of PQ: a 100 TB float32 corpus
    becomes a ~2-4 TB code table that fits executor caches. Accuracy
    is bounded by quantization error; compose with exact re-rank of
    the top candidates (``block_knn`` on the survivor set) when recall
    matters. ``encoded``: pass a pre-encoded (id, codes, recon_norm)
    DataFrame to reuse an existing code table (the IndexPQ "build once,
    query many" shape)."""
    import numpy as np

    cb = np.asarray(codebooks, dtype=np.float64)
    if encoded is None:
        encoded = pq_encode(df, cb, id_col=id_col, vec_col=vec_col)
    q = df.select(F.col(id_col).alias("id_a"), as_double(vec_col).alias("va"))
    ix = encoded.select(F.col(id_col).alias("id_b"),
                        F.col("codes").alias("cb_codes"),
                        F.col("recon_norm").alias("rnorm"))

    def _cell(qpdf, ipdf):
        return _np_adc_cosine(
            np.array(list(qpdf["va"]), dtype=np.float64),
            np.array(list(ipdf["cb_codes"]), dtype=np.int64),
            ipdf["rnorm"].to_numpy(dtype=np.float64), cb, round_dp)

    return _grid_topk(q, ix, id_col=id_col, k=k, cell=_cell)


def pq_rerank_knn(df: DataFrame, codebooks, *, id_col: str = "vec_id",
                  vec_col: str = "embedding", k: int = 3,
                  shortlist: int = 20, round_dp: int = 6) -> DataFrame:
    """The production PQ composition (FAISS IndexPQ + refine): ADC over
    codes produces a ``shortlist``-sized candidate set per query, then
    ONLY those N*shortlist pairs are re-scored with exact full-precision
    cosine — never N² and never a full-width vector shuffle for the
    scan phase. Recall grows monotonically with ``shortlist`` (the PQ
    recall/cost knob, pinned by tests/test_functions.py::
    test_pq_rerank_recall_monotone); the compressed scan stays the one
    place the whole corpus is touched.

    Plan: pq_adc_knn's blocked-cogroup scan (codes-only shuffle), then
    two hash joins rehydrate the raw vectors for the candidate pairs
    (each vector crosses the wire once per shortlist membership), one
    window top-k. Exactness of the re-rank: rounded raw-dot cosine,
    id tie-break — the block_knn/ivf_knn oracle formula."""
    cand = pq_adc_knn(df, codebooks, id_col=id_col, vec_col=vec_col,
                      k=shortlist, round_dp=round_dp)
    return _exact_rerank(cand, df, id_col=id_col, vec_col=vec_col, k=k,
                         round_dp=round_dp)


def _exact_rerank(cand: DataFrame, df: DataFrame, *, id_col: str,
                  vec_col: str, k: int, round_dp: int) -> DataFrame:
    """Re-score (id_col, neighbor_id) candidates with the exact
    full-precision rounded raw-dot cosine, then the global top-k: two
    hash joins rehydrate the raw vectors (each crosses the wire once
    per shortlist membership), one window."""
    base = df.select(F.col(id_col), as_double(vec_col).alias("v"),
                     norm(as_double(vec_col)).alias("n"))
    qa = base.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                     F.col("n").alias("na"))
    ib = base.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                     F.col("n").alias("nb"))
    exact = (cand.select(F.col(id_col).alias("id_a"),
                         F.col("neighbor_id").alias("id_b"))
             .join(qa, "id_a").join(ib, "id_b")
             .select("id_a", "id_b",
                     F.round(dot(F.col("va"), F.col("vb"))
                             / (F.col("na") * F.col("nb")),
                             round_dp).alias("sim")))
    return _top_k(exact, id_col=id_col, k=k)


def ivf_pq_knn(df: DataFrame, *, id_col: str = "vec_id",
               vec_col: str = "embedding", k: int = 3,
               nlist: int | str = "auto", nprobe: int = 4,
               m: int = 4, ksub: int = 8, round_dp: int = 6,
               rerank_shortlist: int | None = None) -> DataFrame:
    """IVF-PQ — the FAISS IndexIVFPQ composition and the design a
    100 TB embedding corpus actually runs: IVF coarse routing bounds
    WHICH candidates a query meets (sum-of-probed-list sizes, never
    N); PQ codes bound what each candidate COSTS (m bytes + a norm,
    never 4*dim bytes). Together: sqrt-scale candidate volume scanned
    in compressed space with per-list LUT gathers.

    Shape: one vectorized routing pass (coarse codebook in the
    closure, crn=1 = inverted-list assignment, crn<=nprobe = probe
    set); one encode pass (PQ codebooks in the closure); one cogroup
    on the list id where ONLY codes cross the wire for members —
    queries bring raw vectors and build their (m x ksub) LUT once per
    list. The codebooks are deterministic (vec_id<nlist coarse,
    vec_id<ksub sub-codebooks), which keeps it oracle-reproducible.
    ``rerank_shortlist``: when set, ADC produces that
    many candidates per query and exact full-precision cosine re-ranks
    them to the final top-k (the refine stage)."""
    import numpy as np

    base = df.select(F.col(id_col), as_double(vec_col).alias("v"))
    c_mat = _ivf_codebook_mat(base, id_col, nlist, None)
    cb = fixed_pq_codebooks(df, id_col=id_col, vec_col=vec_col, m=m,
                            ksub=ksub)
    routed = _ivf_routes(base, c_mat, id_col=id_col, nprobe=nprobe,
                         round_dp=round_dp)
    enc = pq_encode(df, cb, id_col=id_col, vec_col=vec_col)

    def _adc(probe_pdf, member_pdf):
        return _np_adc_cosine(
            np.array(list(probe_pdf["va"]), dtype=np.float64),
            np.array(list(member_pdf["cb_codes"]), dtype=np.int64),
            member_pdf["rnorm"].to_numpy(dtype=np.float64), cb, round_dp)

    members = enc.select(id_col, F.col("codes").alias("cb_codes"),
                         F.col("recon_norm").alias("rnorm"))
    pairs = _ivf_probe_pairs(routed, base, members, id_col=id_col, cell=_adc)
    if rerank_shortlist is None:
        return _top_k(pairs, id_col=id_col, k=k)
    return _exact_rerank(_top_k(pairs, id_col=id_col, k=rerank_shortlist),
                         df, id_col=id_col, vec_col=vec_col, k=k,
                         round_dp=round_dp)


# ---------------------------------------------------------------------------
# PCA whitening / Mahalanobis scoring — the OPQ-style linear-algebra
# pre-stage for embedding hygiene: second moments accumulate exactly
# (integer micro-units, per-partition BLAS partials), the tiny DxD
# eigendecomposition runs driver-side, and whitened distances flag
# embedding-space outliers before they poison ANN/k-means stages.
# ---------------------------------------------------------------------------


def embedding_second_moments(df: DataFrame, *, vec_col: str = "embedding",
                             quant: int = 1000000) -> DataFrame:
    """Exact second-moment matrix of an embedding column: components
    are pinned to integer micro-units q = floor(x*quant + 0.5) (the
    embedding_quantize_int8 convention), and S[i,j] = sum_rows q_i*q_j
    accumulates per PARTITION as one int64 numpy matmul (X^T X) in
    mapInPandas — D^2 rows per partition, never D^2 per row — then
    sums across partitions in DECIMAL(38) (no overflow at any corpus
    size; DuckDB's BIGINT sum widens to HUGEINT the same way).

    Returns (i, j, s) with s DECIMAL(38,0) — D^2 rows total. One
    bounded shuffle of partition partials; the corpus is read once.

    int64 partial-overflow bound: |q| <= quant * max|x|; a partition of
    R rows needs R * (quant*max|x|)^2 < 2^63 — at quant=1e6 and unit-
    normalized embeddings that is R < ~9e6 rows per partition, sized
    by maxPartitionBytes long before the bound matters; raise fewer
    micro-units (quant) for unnormalized data.
    """
    import numpy as np
    import pandas as pd

    def _partials(batches):
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(x * quant + 0.5).astype(np.int64)
            s = q.T @ q
            acc = s if acc is None else acc + s
        if acc is not None:
            d = acc.shape[0]
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.DataFrame({
                "i": ii.ravel().astype(np.int32),
                "j": jj.ravel().astype(np.int32),
                "s_part": acc.ravel(),
            })

    parts = df.select(vec_col).mapInPandas(
        _partials, schema="i int, j int, s_part long")
    return (parts.groupBy("i", "j")
            .agg(F.sum(F.col("s_part").cast("decimal(38,0)")).alias("s")))


def _exact_moments(df: DataFrame, *, vec_col: str, scale: int):
    """The engine's exact-moments stage of the integer Mahalanobis and
    PCA-whitening paths: two bounded aggregations reduce the corpus to
    ``(s_mat, colsum, n)`` — the DxD micro-unit^2 second moments
    (``embedding_second_moments``) and the D quantized column sums, as
    Python ints, plus the row count."""
    mom = embedding_second_moments(df, vec_col=vec_col,
                                   quant=scale).collect()
    d = max(r["i"] for r in mom) + 1
    s_mat = [[0] * d for _ in range(d)]
    for r in mom:
        s_mat[r["i"]][r["j"]] = int(r["s"])
    qsums = (df.select(F.posexplode(quantized_vec(vec_col, scale))
                       .alias("i", "qx"))
             .groupBy("i").agg(F.sum("qx").alias("sq"),
                               F.count(F.lit(1)).alias("n")).collect())
    colsum = [0] * d
    for r in qsums:
        colsum[r["i"]] = int(r["sq"])
    return s_mat, colsum, qsums[0]["n"]


def _parquet_exact_moments(sf_dir: str, *, table: str, vec_col: str,
                           scale: int):
    """The oracle generators' exact-moments stage: the same
    ``(s_mat, colsum, n)`` as ``_exact_moments``, rebuilt from the
    parquet with pyarrow and numpy big-int (object) arithmetic. It
    shares no code with the Spark accumulation on purpose — an oracle
    that reused it could not catch a fault in it."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    arr = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"),
                        columns=[vec_col])[vec_col]
    x = np.array(arr.to_pylist(), dtype=np.float64)
    q = np.floor(x * scale + 0.5).astype(np.int64).astype(object)
    return (q.T @ q).tolist(), q.sum(axis=0).tolist(), len(q)


def _exact_mean_cov(s_mat, colsum, n: int, *, scale: int):
    """From exact moments: mu_q[i] = the half-up-rounded integer
    micro-unit mean floor((2*colsum[i] + n) / (2n)) (exact integer
    arithmetic), and the float covariance S/n - mu mu^T in units."""
    import numpy as np
    mu_q = [(2 * int(c) + n) // (2 * n) for c in colsum]
    mu = np.array([int(c) for c in colsum], dtype=np.float64) / (n * scale)
    cov = (np.array(s_mat, dtype=np.float64) / float(scale) ** 2) / n \
        - np.outer(mu, mu)
    return mu_q, cov


def _maha_exact_params(s_mat, colsum, n: int, *, ridge: float,
                       scale: int, wscale: int):
    """Shared driver-side derivation for the ENGINE-EXACT Mahalanobis
    path: from the EXACT integer second moments ``s_mat`` (DxD int
    micro-unit^2), integer column sums ``colsum`` (D), and row count
    ``n``, derive (mu_q, w_q, den):
      * mu_q = the half-up integer micro-unit mean (``_exact_mean_cov``);
      * w_q = the ridge-regularized covariance inverse quantized to
        ``wscale`` units (floor(w*wscale + 0.5), symmetric) — the DxD
        int literal a SQL oracle can carry;
      * den = wscale * scale^2, the one divisor of the final score.
    Both the engine and the oracle GENERATOR call this with the same
    exact integers, so the derived literals are bit-identical even
    though the inversion itself is float LAPACK."""
    import numpy as np
    mu_q, cov = _exact_mean_cov(s_mat, colsum, n, scale=scale)
    cov += ridge * np.eye(len(colsum))
    w = np.linalg.inv(cov)
    w_q = np.floor(w * wscale + 0.5).astype(np.int64)
    return mu_q, w_q, wscale * scale * scale


def mahalanobis_scores_exact(df: DataFrame, *, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             ridge: float = 1e-3, scale: int = 1_000_000,
                             wscale: int = 1_000_000) -> DataFrame:
    """Embedding-space outlier scores: squared Mahalanobis distance of
    every vector from the corpus mean under the (ridge-regularized)
    covariance — the whitening-based hygiene gate that catches
    degenerate/corrupt embeddings a plain L2-norm check misses.

    ENGINE-EXACT, so a generated SQL oracle can hash-match it: scores
    are computed entirely on integers
    — y = micro-unit vector minus the half-up integer mean, z = W_q @ y
    with the quantized inverse, score = y . z (exact big-int), and ONE
    trunc-div produces the 6-dp micro result. No float accumulation
    anywhere, so BLAS order / einsum order cannot flip a hash.

    Plan shape: exact integer second moments + integer column sums
    (``_exact_moments``) reduce the corpus to DxD + D + 1 numbers; the
    driver derives (mu_q, W_q) via ``_maha_exact_params``
    and broadcasts them into one vectorized scoring pass. The y.z fold
    runs per row over D Python ints (products exceed int64; D*N bounded
    ops, Arrow-batched)."""
    import numpy as np
    import pandas as pd

    s_mat, colsum, n = _exact_moments(df, vec_col=vec_col, scale=scale)
    d = len(colsum)
    mu_q, w_q, den = _maha_exact_params(s_mat, colsum, n, ridge=ridge,
                                        scale=scale, wscale=wscale)
    # int64 matmul overflow guard for z = W_q @ y (loud, not wrapped)
    muq_arr = np.array(mu_q, dtype=np.int64)
    wmax = int(np.abs(w_q).max())
    ymax_bound = int(np.abs(muq_arr).max()) + 64 * scale  # |x| <= 64 units
    if d * wmax * ymax_bound >= 2 ** 63:
        raise OverflowError(
            f"w_q @ y may overflow int64 (d={d}, |W_q|max={wmax}); "
            f"lower wscale")
    bw = df.sparkSession.sparkContext.broadcast((muq_arr, w_q))

    def _score(batches):
        muq, wq = bw.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            y = (np.floor(x * scale + 0.5).astype(np.int64)
                 - muq[None, :])
            if int(np.abs(y).max(initial=0)) > ymax_bound:
                raise OverflowError(
                    "vector magnitude exceeds the int64 matmul bound "
                    "assumed at driver time; lower scale/wscale")
            z = y @ wq.T  # exact int64 (guarded above)
            micro = np.empty(len(y), dtype=np.float64)
            for r in range(len(y)):
                sc = sum(int(a) * int(b) for a, b in zip(y[r], z[r]))
                micro[r] = float(_trunc_div(2 * sc * 1_000_000 + den,
                                            2 * den))
            yield pd.DataFrame({id_col: pdf[id_col],
                                "maha2": micro / 1e6})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, vec_col).mapInPandas(
        _score, schema=f"{id_col} {id_type}, maha2 double")


def mahalanobis_exact_oracle_sql(sf_dir: str, *, table: str = "embeddings",
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 ridge: float = 1e-3,
                                 scale: int = 1_000_000,
                                 wscale: int = 1_000_000,
                                 top: int = 50) -> str:
    """Generate the DuckDB oracle for ``mahalanobis_scores_exact`` at a
    given SF: read the parquet directly (pyarrow — independent of the
    Spark moment accumulation), rebuild the SAME exact integer moments,
    derive (mu_q, W_q) via the shared ``_maha_exact_params``, and bake
    them into the SQL as literals. The query then replays the integer
    scoring bit for bit (HUGEINT y.z fold, one trunc-div). Registered
    as a PER-SF generator callable — resolved by ``oracle_for`` with
    the sweep/gate dir, since the literals are data-dependent."""
    s_mat, colsum, n = _parquet_exact_moments(sf_dir, table=table,
                                              vec_col=vec_col, scale=scale)
    mu_q, w_q, den = _maha_exact_params(s_mat, colsum, n, ridge=ridge,
                                        scale=scale, wscale=wscale)
    mu_lit = "[" + ", ".join(str(v) for v in mu_q) + "]"
    w_lit = "[" + ",\n   ".join(
        "[" + ", ".join(str(v) for v in row) + "]"
        for row in w_q.tolist()) + "]"
    return f"""WITH y AS (
  SELECT {id_col},
         list_transform(
           list_zip(list_transform({vec_col},
                      x -> floor(x::DOUBLE * {scale} + 0.5)::BIGINT),
                    {mu_lit}::BIGINT[]),
           p -> p[1] - p[2]) AS y
  FROM {table}
), z AS (
  SELECT {id_col}, y,
         list_transform({w_lit}::BIGINT[][],
           wrow -> list_sum(list_transform(list_zip(wrow, y),
                                           p -> p[1] * p[2]))::BIGINT) AS z
  FROM y
), s AS (
  SELECT {id_col},
         list_sum(list_transform(list_zip(y, z),
                                 p -> p[1]::HUGEINT * p[2]))::HUGEINT AS sc
  FROM z
)
SELECT {id_col},
       ((2 * sc * 1000000 + {den}) // (2 * {den}))::DOUBLE
         / 1000000.0 AS maha2
FROM s
ORDER BY maha2 DESC, {id_col}
LIMIT {top}"""


def _pca_whiten_params(s_mat, colsum, n: int, *, out_dim: int,
                       ridge: float, scale: int, pscale: int):
    """Shared driver-side derivation for the ENGINE-EXACT PCA-whitening
    path: from exact integer second moments, derive (mu_q, p_q, den):
      * mu_q — half-up integer micro-unit mean (as Mahalanobis);
      * p_q — the top-``out_dim`` whitening rows diag(1/sqrt(l+ridge))
        V^T, eigenvectors sign-canonicalized (largest-|entry| positive)
        and quantized to ``pscale`` units — out_dim x D int literals;
      * den — pscale * scale, the single divisor of each coordinate.
    Engine and oracle generator both call this on the same exact
    integers, so the literals agree bit for bit."""
    import numpy as np
    d = len(colsum)
    if not 1 <= out_dim <= d:
        raise ValueError(f"out_dim must be in [1, {d}], got {out_dim}")
    mu_q, cov = _exact_mean_cov(s_mat, colsum, n, scale=scale)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:out_dim]
    lam, v = evals[order], evecs[:, order]
    # canonical signs: the largest-|entry| of each eigenvector positive
    for j in range(v.shape[1]):
        i = int(np.argmax(np.abs(v[:, j])))
        if v[i, j] < 0:
            v[:, j] = -v[:, j]
    w = v.T / np.sqrt(np.maximum(lam, 0.0) + ridge)[:, None]
    p_q = np.floor(w * pscale + 0.5).astype(np.int64)
    return mu_q, p_q, pscale * scale


def pca_whiten_embeddings(df: DataFrame, *, id_col: str = "vec_id",
                          vec_col: str = "embedding", out_dim: int = 8,
                          ridge: float = 1e-3, scale: int = 1_000_000,
                          pscale: int = 1_000_000) -> DataFrame:
    """PCA whitening of the embedding corpus — the OPQ/ZCA-style linear
    pre-stage before PQ codebooks, k-means, or Mahalanobis-flavored
    scoring: project each vector onto the top-``out_dim`` principal
    axes and rescale each axis to unit variance (+``ridge``).

    ENGINE-EXACT: exact integer second moments + column sums reduce the
    corpus to DxD + D + 1 numbers; the driver derives the quantized
    whitening rows (``_pca_whiten_params``) and broadcasts them into
    one vectorized projection pass computing int64 dots
    z = P_q @ (q - mu_q) — exact, order-independent — then ONE float
    division + half-up 6-dp round per coordinate. A per-SF generated
    oracle (``pca_whiten_oracle_sql``) replays it bit for bit from the
    baked literals. Returns (id, j, coord): out_dim rows per vector.

    Scale shape: two bounded aggregations (D^2 + D rows of partials)
    and one mapInPandas projection — no shuffle of vector data, P_q is
    out_dim x D driver metadata (the codebook-broadcast class)."""
    import numpy as np
    import pandas as pd

    s_mat, colsum, n = _exact_moments(df, vec_col=vec_col, scale=scale)
    d = len(colsum)
    mu_q, p_q, den = _pca_whiten_params(s_mat, colsum, n, out_dim=out_dim,
                                        ridge=ridge, scale=scale,
                                        pscale=pscale)
    muq_arr = np.array(mu_q, dtype=np.int64)
    # |z| must stay below 2^53 so the int64 -> float64 conversion (and
    # the float64 matmul) is exact; bound from the corpus's ACTUAL max
    # component (one cheap max agg), not a guessed range
    pmax = int(np.abs(p_q).max())
    qmax = int(df.select(
        F.max(F.array_max(
            F.transform(quantized_vec(vec_col, scale),
                        lambda v: F.abs(v))))).collect()[0][0])
    ymax_bound = qmax + int(np.abs(muq_arr).max())
    if d * pmax * ymax_bound >= 2 ** 53:
        raise OverflowError(
            f"whitening dot may exceed 2^53 (d={d}, |P_q|max={pmax}, "
            f"|y|max={ymax_bound}); lower pscale")
    bw = df.sparkSession.sparkContext.broadcast((muq_arr, p_q))
    fden = float(den)

    def _project(batches):
        muq, pq = bw.value
        pqf = pq.astype(np.float64)
        k = len(pq)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            y = np.floor(x * scale + 0.5) - muq[None, :]
            if float(np.abs(y).max(initial=0.0)) > ymax_bound:
                raise OverflowError(
                    "vector magnitude exceeds the exactness bound "
                    "assumed at driver time; lower scale/pscale")
            z = y @ pqf.T  # exact: every partial sum < 2^53 (guarded)
            coord = np.floor(z / fden * 1e6 + 0.5) / 1e6
            ids = np.repeat(pdf[id_col].to_numpy(), k)
            yield pd.DataFrame({
                id_col: ids,
                "j": np.tile(np.arange(k, dtype=np.int32), len(pdf)),
                "coord": coord.ravel()})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, vec_col).mapInPandas(
        _project, schema=f"{id_col} {id_type}, j int, coord double")


def pca_whiten_oracle_sql(sf_dir: str, *, table: str = "embeddings",
                          id_col: str = "vec_id",
                          vec_col: str = "embedding", out_dim: int = 8,
                          ridge: float = 1e-3, scale: int = 1_000_000,
                          pscale: int = 1_000_000) -> str:
    """Generate the DuckDB oracle for ``pca_whiten_embeddings`` at one
    SF: independent parquet read -> same exact integer moments -> same
    ``_pca_whiten_params`` -> (mu_q, P_q) baked as literals -> the SQL
    replays the integer projection and the one float division bit for
    bit. Registered as a per-SF generator callable (the literals are
    data-dependent), like the Mahalanobis oracle."""
    s_mat, colsum, n = _parquet_exact_moments(sf_dir, table=table,
                                              vec_col=vec_col, scale=scale)
    mu_q, p_q, den = _pca_whiten_params(s_mat, colsum, n, out_dim=out_dim,
                                        ridge=ridge, scale=scale,
                                        pscale=pscale)
    mu_lit = "[" + ", ".join(str(v) for v in mu_q) + "]"
    rows_lit = "[" + ",\n   ".join(
        "[" + ", ".join(str(v) for v in row) + "]"
        for row in p_q.tolist()) + "]"
    return f"""WITH y AS (
  SELECT {id_col},
         list_transform(
           list_zip(list_transform({vec_col},
                      x -> floor(x::DOUBLE * {scale} + 0.5)::BIGINT),
                    {mu_lit}::BIGINT[]),
           p -> p[1] - p[2]) AS y
  FROM {table}
), proj AS (
  SELECT {id_col}, (r.j - 1)::INT AS j,
         list_sum(list_transform(
           list_zip(({rows_lit}::BIGINT[][])[r.j], y),
           p -> p[1] * p[2]))::BIGINT AS z
  FROM y CROSS JOIN (SELECT unnest(range(1, {out_dim + 1})) AS j) r
)
SELECT {id_col}, j,
       floor(z / {float(den)} * 1000000 + 0.5) / 1000000.0 AS coord
FROM proj"""


def ann_recall_against_exact(df: DataFrame, approx: DataFrame, *,
                             id_col: str = "vec_id", k: int = 5,
                             vec_col: str = "embedding",
                             sample_n_queries: int | None = None,
                             flop_budget: int | None = None) -> DataFrame:
    """In-engine ANN quality evaluation: recall@k of an approximate
    neighbor list against exact cosine top-k — the harness a vector
    store runs after (re)building an index. ``approx`` must carry
    (id_col, neighbor_id). Returns ONE row: (n_queries, total_hits,
    possible, recall_at_k, n_perfect, n_zero); hits are integer counts
    and the single recall division is exact, so the report is
    hash-stable.

    Note the baseline honesty: on structure-free (isotropic gaussian)
    embeddings single-probe sign-LSH recall is intrinsically poor —
    auto-sized buckets hold ~constant occupancy, so most queries share
    a bucket with few true neighbors. The report exists to MEASURE
    that; the multiprobe/IVF variants recover recall (uplift pinned in
    tests). Cost = the exact evaluator (quadratic embedding_knn class)
    plus one join.

    THE SAMPLING CONTRACT IS CODE, not prose: ``sample_n_queries``
    restricts the EVALUATED queries to a deterministic md5-ordered pick
    (``eval_query_sample`` — oracle-replayable; the index side stays
    the full corpus so each sampled query's truth is exact), and
    ``flop_budget`` (int-ops) makes an unsampled run past the budget
    raise loudly instead of silently launching the N^2 pass."""
    sample = None
    if sample_n_queries is not None:
        sample = eval_query_sample(df, id_col=id_col, n=sample_n_queries)
    elif flop_budget is not None:
        guard_eval_flops(df, id_col=id_col, vec_col=vec_col,
                         budget=flop_budget, op="ann_recall_against_exact")
    exact = block_knn(df, id_col=id_col, vec_col=vec_col, k=k,
                      queries_df=sample).select(id_col, "neighbor_id")
    # distinct + clamp: duplicate (id, neighbor) rows in a sloppy approx
    # list (or lists longer than k) must not inflate hits past k, else
    # recall_at_k could exceed 1.0
    a = approx.select(F.col(id_col).alias("a_vec"),
                      F.col("neighbor_id").alias("a_nb")).distinct()
    per = (exact.join(a, (F.col(id_col) == F.col("a_vec"))
                      & (F.col("neighbor_id") == F.col("a_nb")), "left")
           .groupBy(id_col)
           .agg(F.least(F.count("a_nb"), F.lit(k)).alias("hits")))
    return (per.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("hits").alias("total_hits"),
        (F.count(F.lit(1)) * k).alias("possible"),
        F.round(F.sum("hits") / (F.count(F.lit(1)) * k), 6)
        .alias(f"recall_at_{k}"),
        F.sum(F.when(F.col("hits") == k, 1).otherwise(0)).alias("n_perfect"),
        F.sum(F.when(F.col("hits") == 0, 1).otherwise(0)).alias("n_zero")))


def rademacher_signs(dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic +-1 Johnson-Lindenstrauss projection matrix:
    sign[j][i] = +1 iff the first hex digit of md5(f"{i}_{j}") is even.
    md5 is bit-identical everywhere, so any engine (the DuckDB oracle
    reproduces this in SQL) derives the same matrix from nothing but
    (dim, out_dim) — no RNG state to ship."""
    import hashlib
    if dim < 1 or out_dim < 1:
        raise ValueError(f"dim/out_dim must be >= 1, got {dim}/{out_dim}")
    return [[1 if int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0],
                      16) % 2 == 0 else -1
             for i in range(dim)] for j in range(out_dim)]


def jl_project(df: DataFrame, *, id_col: str = "vec_id",
               vec_col: str = "embedding", dim: int, out_dim: int = 16,
               scale: int = 1_000_000) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction via a Rademacher
    (+-1) projection — the standard cheap preprocessing before ANN
    indexing or pairwise-distance work (distances preserved within
    ~1/sqrt(out_dim) distortion, test-pinned).

    ENGINE-EXACT: inputs are quantized to integer micro-units
    (floor(x*scale + 0.5), the repo's cross-engine rounding convention);
    each output coordinate is then an int64 sum of +-micro-units —
    exact in any engine — divided ONCE by scale at the end. No float
    summation order to diverge on.

    Scale shape: a pure per-row map, zero shuffle. The sign matrix is
    out_dim x dim bounded index metadata baked into the plan as a
    literal (same decision class as an IVF codebook broadcast); at
    dim=1024, out_dim=64 that is 64k int literals — still metadata,
    never data-sized. Returns (id_col, proj: array<double>).
    """
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    signs = rademacher_signs(dim, out_dim)
    rows = F.array(*[
        F.array(*[F.lit(s) for s in row]) for row in signs])
    v = as_double(vec_col)
    # loud failure on width mismatch instead of silent NULL sums
    q = F.when(
        F.size(v) == dim,
        F.transform(v, lambda x: F.floor(x * scale + F.lit(0.5))
                    .cast("long"))
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"jl_project: expected {dim}-dim vectors, got "),
        F.size(v).cast("string"))))
    proj = F.transform(
        rows,
        lambda srow: F.round(
            F.aggregate(F.zip_with(srow, q, lambda s, x: s * x),
                        F.lit(0).cast("long"),
                        lambda acc, y: acc + y) / float(scale), 6))
    return df.select(id_col, proj.alias("proj"))


def mrl_truncation_eval(df: DataFrame, *, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        dims: tuple[int, ...] = (8, 16, 32),
                        k: int = 5, probe_mod: int = 25,
                        round_dp: int = 6) -> DataFrame:
    """Matryoshka (MRL) truncation quality eval: for a deterministic
    probe subset (``id % probe_mod == 0``), how much of each probe's
    exact full-dimension top-k survives when similarities use only the
    first ``d`` components — the measurement behind "can we store/search
    the 64-dim prefix instead of the full vector?". Reports
    (probe, trunc_dim, overlap_at_k, recall_micro) per probe per d.

    EVAL-BY-CONTRACT (the ann_recall_report class): probes x corpus is
    quadratic in the probe fraction, bounded by ``probe_mod`` — the
    production search path stays IVF/LSH; this query only grades
    truncation loss. ENGINE-EXACT: similarities are the repo's
    quantized-cosine convention computed over the SLICED micro-unit
    int64 vectors (slice-then-dot is exact integer work; one IEEE
    division; half-up 6 dp), so ranks and overlaps hash-match a DuckDB
    replay bit for bit. Norm guard: sqrt(greatest(n, 1)) on both
    engines so an all-zero prefix cannot divide by zero.
    """
    if k < 1 or probe_mod < 1:
        raise ValueError(f"need k >= 1, probe_mod >= 1; got {k}/{probe_mod}")
    scale = 10 ** round_dp

    # dedupe + sort: a repeated dim would alias two sim_t{d} columns in
    # one select and fail at plan time
    dl = sorted({int(x) for x in dims})
    base = df.select(
        F.col(id_col), quantized_vec(vec_col, scale).alias("v"))
    probes = base.where(F.pmod(F.col(id_col), F.lit(probe_mod)) == 0) \
        .select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    cands = base.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    # probe x corpus as a BUCKETED EQUI-JOIN (block_knn's grid trick),
    # not a broadcast nested loop: candidates key on id % B, probes
    # explode over all B buckets — every pair meets exactly once, the
    # join shuffles on the bucket key, and no data-sized build side
    # exists (the registry audit bans nested-loop builds > scalar)
    blocks = 32
    probes_x = probes.withColumn(
        "qb", F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))))
    cands_k = cands.withColumn(
        "qb", F.pmod(F.col("id_b"), F.lit(blocks)).cast("int"))

    # per pair: the |dims| truncated sims and the full sim come out of
    # ONE vectorized mapInArrow pass (guide §4.2) — the former JVM
    # higher-order folds (zip_with product + one aggregate per d)
    # allocated a d-element array per pair and ran interpreted,
    # measured as the dominant cost (2.3 s of the 4.3 s query at
    # sf0.1 for 160k pairs). NumPy computes exact int64 segment sums
    # over the flattened product/square buffers (cumsum + offset
    # differences — ragged-safe, no fixed-dim assumption), then the
    # EXACT same IEEE expression as the old `_q` column
    # (floor(dot / (sqrt(max(na,1)) * sqrt(max(nb,1))) * scale + 0.5)
    # / scale) in the same operation order — float64 ops are
    # correctly-rounded in both engines, and every integer input is
    # below 2^53, so the sims are bit-identical to the JVM/DuckDB
    # formula.
    #
    # r9 (guide §2.3, shuffle fewer bytes): the pair frame also stays
    # at ONE row per (probe, candidate) with the truncated sims as
    # COLUMNS — the old shape exploded pairs x dims BEFORE the ranking
    # shuffle, moving 3x the rows and re-sorting the identical
    # full-dim ranking rf once per d inside 3x-size partitions. Now
    # one exchange on id_a carries the slim (id_b, sim_f, sim_t{d}..)
    # row, rf sorts ONCE, each sim_t{d} sorts once, and the per-d
    # grain is restored by a stack AFTER the <= |dims|-per-probe
    # aggregate. Ranks are unchanged: per (id_a, d) the rank order
    # (sim desc, id_b) runs over the same rows either way.
    joined = (cands_k.join(probes_x.hint("shuffle_hash"), "qb")
              .where(F.col("id_a") != F.col("id_b"))
              .select("id_a", "id_b", "va", "vb"))

    def _pair_sims(batches):
        import numpy as np
        import pyarrow as pa

        def _seg(flat_csum, starts, ends):
            return flat_csum[ends] - flat_csum[starts]

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            va, vb = b.column("va"), b.column("vb")
            fa = va.values.to_numpy(zero_copy_only=False).astype(np.int64)
            fb = vb.values.to_numpy(zero_copy_only=False).astype(np.int64)
            off_a = va.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            off_b = vb.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            # int64 cumsums stay exact: |component| <= ~1e6 micro-units
            # => |product| <= ~1e12, and one Arrow batch holds <= 10k
            # rows (maxRecordsPerBatch) => < ~1e6 elements, 1e18 < 2^63.
            lens = np.diff(off_a)
            if np.any(lens != np.diff(off_b)):
                raise ValueError("mrl_truncation_eval: pair with "
                                 "mismatched vector lengths")
            prod = fa * fb
            csum_p = np.concatenate(([0], np.cumsum(prod)))
            csum_a = np.concatenate(([0], np.cumsum(fa * fa)))
            csum_b = np.concatenate(([0], np.cumsum(fb * fb)))
            starts_a, ends_a = off_a[:-1], off_a[1:]
            starts_b, ends_b = off_b[:-1], off_b[1:]

            def _sim(dot, na, nb):
                s = (dot.astype(np.float64)
                     / (np.sqrt(np.maximum(na, 1).astype(np.float64))
                        * np.sqrt(np.maximum(nb, 1).astype(np.float64)))
                     * scale + 0.5)
                return np.floor(s) / float(scale)

            cols = {"id_a": b.column("id_a"), "id_b": b.column("id_b")}
            cols["sim_f"] = pa.array(_sim(
                _seg(csum_p, starts_a, ends_a),
                _seg(csum_a, starts_a, ends_a),
                _seg(csum_b, starts_b, ends_b)))
            for d in dl:
                ca = np.minimum(starts_a + d, ends_a)
                cb = np.minimum(starts_b + d, ends_b)
                cols[f"sim_t{d}"] = pa.array(_sim(
                    _seg(csum_p, starts_a, ca),
                    _seg(csum_a, starts_a, ca),
                    _seg(csum_b, starts_b, cb)))
            yield pa.RecordBatch.from_pydict(cols)

    sim_schema = ("id_a long, id_b long, sim_f double, "
                  + ", ".join(f"sim_t{d} double" for d in dl))
    pairs = joined.mapInArrow(_pair_sims, sim_schema)
    from pyspark.sql import Window as W
    wf = W.partitionBy("id_a").orderBy(F.col("sim_f").desc(), "id_b")
    ranked = pairs.select(
        "id_a",
        F.row_number().over(wf).alias("rf"),
        *[F.row_number().over(
            W.partitionBy("id_a").orderBy(F.col(f"sim_t{d}").desc(), "id_b"))
          .alias(f"rt{d}") for d in dl])
    per_probe = ranked.groupBy("id_a").agg(
        *[F.sum(F.when((F.col(f"rt{d}") <= k) & (F.col("rf") <= k), 1)
                .otherwise(0)).cast("long").alias(f"ov{d}") for d in dl])
    stack = ", ".join(f"{d}, ov{d}" for d in dl)
    return (per_probe.selectExpr(
                "id_a",
                f"stack({len(dl)}, {stack}) as (trunc_dim, overlap_at_k)")
            .select(F.col("id_a").alias(id_col),
                    F.col("trunc_dim").cast("int"),
                    "overlap_at_k",
                    F.floor(F.col("overlap_at_k") * 1_000_000 / F.lit(k)
                            + F.lit(0.5)).cast("long")
                    .alias("recall_micro")))


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance diversity selection (round 7)
# ---------------------------------------------------------------------------

def mmr_topk(df: DataFrame, *, id_col: str = "vec_id",
             vec_col: str = "embedding", group_col: str = "label",
             k: int = 3, pool: int = 8,
             w_rel: int = 7, w_div: int = 3) -> DataFrame:
    """Maximal Marginal Relevance top-k per group: greedily pick the
    item maximizing ``w_rel * relevance - w_div * max_sim_to_selected``
    — the classic diversity re-ranker (Carbonell & Goldstein) that
    keeps a near-dup-heavy candidate list from filling the context
    window with clones. Integer weights stand in for the usual
    lambda/(1-lambda) so the score is an exact int64 (no float scale).

    Relevance is the engine-exact micro-unit cosine to the group's
    integer centroid (exact component sums, one offset trunc-div —
    the SemDeDup codebook convention); the greedy runs per group over
    only the top-``pool`` candidates (one partitioned window), so the
    quadratic half is pool^2 per group no matter the corpus size — the
    standard rerank shape: cheap retrieval bounds the pool, MMR pays
    quadratic cost only inside it.

    Plan: quantize -> centroid aggregate (group x dim grain, broadcast
    back) -> relevance -> windowed pool cut -> one applyInPandas greedy
    per group over <= pool rows (numpy twin of quantized_cosine, same
    bits as the SQL replay).
    """
    if k < 1 or pool < k:
        raise ValueError(f"need pool >= k >= 1, got k={k} pool={pool}")
    if w_rel <= 0 or w_div < 0:
        raise ValueError("w_rel must be positive, w_div non-negative")
    import numpy as np
    import pandas as pd

    q = df.select(F.col(group_col).alias("grp"),
                  F.col(id_col).alias("vid"),
                  quantized_vec(vec_col).alias("qv"))
    dims = q.select("grp", F.posexplode("qv").alias("dim", "c"))
    cm = (dims.groupBy("grp", "dim")
          .agg(F.sum("c").alias("s"), F.count(F.lit(1)).alias("n")))
    # offset trunc-div == floor division for any sign of s (s >= -n*1e6),
    # so Spark's `div` (trunc) and DuckDB's `//` agree exactly
    cvec = (cm.withColumn("cc", F.expr(
        "(s + n * 1000000) div n - 1000000"))
        .groupBy("grp")
        .agg(F.transform(F.array_sort(F.collect_list(
            F.struct("dim", "cc"))), lambda st: st.cc).alias("cv")))
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    dotc = F.aggregate(F.zip_with("qv", "cv", lambda x, y: x * y),
                       zero, lambda a, x: a + x)
    nq = F.aggregate(F.transform("qv", lambda x: x * x), zero,
                     lambda a, x: a + x)
    nc = F.aggregate(F.transform("cv", lambda x: x * x), zero,
                     lambda a, x: a + x)
    # greatest(n, 1): a zero-quantized vector (all |x| < 5e-7) must
    # score rel 0, not NULL — the mrl_truncation_eval guard convention
    rel = (q.join(F.broadcast(cvec), "grp")
           .withColumn("rel_micro", F.floor(
               dotc / (F.sqrt(F.greatest(nq, one))
                       * F.sqrt(F.greatest(nc, one)))
               * 1_000_000 + F.lit(0.5))
               .cast("long")))
    w = Window.partitionBy("grp").orderBy(F.col("rel_micro").desc(), "vid")
    cand = (rel.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= pool)
            .select("grp", "vid", "rel_micro", "qv"))

    out_schema = (f"{group_col} {dict(df.dtypes)[group_col]}, rank int, "
                  f"{id_col} {dict(df.dtypes)[id_col]}, rel_micro long, "
                  "max_sim_micro long, mmr_score long")

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["rel_micro", "vid"], ascending=[False, True],
            kind="mergesort").reset_index(drop=True)
        qmat = np.array(pdf["qv"].tolist(), dtype=np.float64)
        # nan_to_num: zero-norm rows produce 0/0 -> score 0, matching
        # the guarded SQL (0 dot over a clamped norm)
        sims = np.nan_to_num(
            _np_quantized_cosine_micro(qmat, qmat), nan=0.0
        ).astype(np.int64)
        n = len(pdf)
        rels = pdf["rel_micro"].to_numpy(np.int64)
        vids = pdf["vid"].to_numpy()
        selected: list[int] = []
        rows = []
        remaining = list(range(n))
        for rank in range(1, min(k, n) + 1):
            best, best_key = None, None
            for i in remaining:
                ms = int(max(sims[i, j] for j in selected)) if selected \
                    else 0
                score = w_rel * int(rels[i]) - w_div * ms
                key = (-score, vids[i])
                if best_key is None or key < best_key:
                    best, best_key, best_ms = i, key, ms
            selected.append(best)
            remaining.remove(best)
            rows.append((pdf["grp"].iloc[0], rank, vids[best],
                         int(rels[best]), best_ms,
                         w_rel * int(rels[best]) - w_div * best_ms))
        return pd.DataFrame(rows, columns=[
            group_col, "rank", id_col, "rel_micro", "max_sim_micro",
            "mmr_score"])

    return cand.groupBy("grp").applyInPandas(_greedy, schema=out_schema)


def ivf_balance_audit(df: DataFrame, *, id_col: str = "vec_id",
                      vec_col: str = "embedding", nlist: int | str = "auto",
                      nprobe: int = 4, top_lists: int = 8,
                      round_dp: int = 6) -> DataFrame:
    """IVF index HEALTH report — the pre-flight before committing a
    corpus to an inverted-file layout: list-size spread, the FAISS
    imbalance factor (max/mean — >> 1 means straggler lists), the share
    of vectors in the ``top_lists`` fattest lists (skew mass a salting
    or re-train must fix), and the expected probe scan fraction at
    ``nprobe`` (the real ANN cost vs brute force: what fraction of the
    corpus the average query touches).

    One routing pass (shared with ivf_knn), then everything aggregates
    at list grain: ``sizes`` is nlist rows (bounded index metadata,
    broadcast back for the probe-cost join), the final report is one
    row of exact int64 ratios in micro-units.
    """
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    if top_lists < 1:
        raise ValueError("top_lists must be >= 1")
    base = df.select(F.col(id_col), as_double(vec_col).alias("v"))
    if nlist == "auto":
        nlist = auto_nlist(df.count())
    c_mat = _ivf_codebook_mat(base, id_col, nlist, None)
    routed = _ivf_routes(base, c_mat, id_col=id_col, nprobe=nprobe,
                         round_dp=round_dp)
    from ..plans.caching import track_persist
    routed = track_persist(routed)
    sizes = (routed.where(F.col("crn") == 1)
             .groupBy("cid").agg(F.count(F.lit(1)).alias("sz")))
    sizes = track_persist(sizes)
    tot = sizes.agg(F.sum("sz").alias("n_vecs"),
                    F.count(F.lit(1)).alias("nonempty_lists"),
                    F.min("sz").alias("min_list"),
                    F.max("sz").alias("max_list"))
    top8 = (sizes.orderBy(F.col("sz").desc(), "cid").limit(top_lists)
            .agg(F.sum("sz").alias("t8")))
    scan = (routed.where(F.col("crn") <= nprobe)
            .join(F.broadcast(sizes), "cid")
            .agg(F.sum("sz").alias("scanned")))
    return (tot.crossJoin(F.broadcast(top8))
            .crossJoin(F.broadcast(scan))
            .select(
                F.lit(int(nlist)).cast("long").alias("nlist"),
                "n_vecs", "nonempty_lists", "min_list", "max_list",
                F.expr(f"(max_list * {int(nlist)} * 1000000) div n_vecs")
                  .alias("imbalance_micro"),
                F.expr("(t8 * 1000000) div n_vecs")
                  .alias("top_share_micro"),
                F.expr("(scanned * 1000000) div (n_vecs * n_vecs)")
                  .alias("probe_scan_micro")))


# ---------------------------------------------------------------------------
# Orthogonal Procrustes alignment (round 8): align two embedding
# spaces (model v1 -> v2 migration, cross-lingual mapping) and measure
# per-vector drift after the best rotation is removed.
# ---------------------------------------------------------------------------

def _procrustes_rotation_micro(cov):
    """Orthogonal Procrustes solution for an EXACT int64 cross-
    covariance matrix M = A^T B: R = U V^T from the SVD of M, returned
    quantized to int64 micro-units. Shared verbatim by the Spark path
    and the oracle generator, so both sides run the same LAPACK call
    on the same exact-integer input — the float enters exactly once,
    here, and identically."""
    import numpy as np
    u, _, vt = np.linalg.svd(np.asarray(cov, dtype="float64"))
    r = u @ vt
    return np.floor(r * 1_000_000 + 0.5).astype("int64")


#: max rows whose int64 micro-unit cross-covariance is provably
#: overflow-free: each entry is a sum of N products bounded by
#: (1e6)^2 per unit-mass coordinate pair, so |entry| <= N * 1e12 and
#: int64 (9.22e18) holds to ~9.2e6 rows. Conservative by design —
#: real unit-norm embeddings leave ~d x headroom.
PROCRUSTES_COV_ROW_BOUND = 9_000_000


def procrustes_residuals(df: DataFrame, *, id_col: str = "vec_id",
                         a_col: str = "va", b_col: str = "vb",
                         cov_row_bound: int = PROCRUSTES_COV_ROW_BOUND,
                         auto_sample: bool = True) -> DataFrame:
    """Per-vector alignment residual between two embedding spaces under
    the best orthogonal map (Schonemann 1966): fit R minimizing
    ||A R - B||_F (R = U V^T from the SVD of A^T B), then emit
    sum_d ((A_v R)_d - B_v_d)^2 per vector in exact micro^2 units.
    The migration-drift report: vectors whose meaning MOVED between
    two model versions keep a large residual after the global rotation
    (which absorbs the harmless coordinate-frame change) is removed.

    Determinism/exactness: both spaces quantize to int64 micro-units;
    the d x d cross-covariance is an exact integer sum (mapInPandas
    batch partials -> one (d^2)-row aggregate — partition-independent
    by commutativity); the SVD runs ONCE on that exact matrix
    (driver-resident, d^2 <= 4096 entries — codebook-class metadata);
    the rotation re-quantizes to micro ints and the residual is pure
    int64 numpy arithmetic (integer matmul, no BLAS float path).

    int64 bound ENFORCED IN CODE (not just documented): covariance
    entries ~ N * 1e12 hold to ``cov_row_bound`` (~9e6) worst-case
    unit-mass vectors. The frame is counted (one pass over the already-
    persisted quantized projection); past the bound the ROTATION is
    fitted on a deterministic md5 hash-mod sample sized under the bound
    (the rotation is a <= 4096-parameter model — a uniform sample fits
    it; the sample's own count is re-checked so the guarantee is
    airtight, not probabilistic), while the RESIDUAL pass stays
    full-corpus. ``auto_sample=False`` turns the fallback into a loud
    ValueError naming the remedy — no input can silently wrap int64
    into a wrong rotation.

    Scale: one data pass for the covariance (emitting d^2 rows per
    Arrow batch), one for the residuals; nothing corpus-sized is ever
    collected or broadcast except the d x d rotation itself.
    """
    import numpy as np
    import pandas as pd

    from ..plans.caching import track_persist

    if cov_row_bound < 1:
        raise ValueError(f"cov_row_bound must be >= 1, got {cov_row_bound}")
    q = track_persist(df.select(
        F.col(id_col),
        quantized_vec(a_col).alias("__qa"),
        quantized_vec(b_col).alias("__qb")))
    n_rows = q.count()   # materializes the persist; reused by both passes
    fit = q
    if n_rows > cov_row_bound:
        if not auto_sample:
            raise ValueError(
                f"procrustes_residuals: {n_rows} rows exceed the int64 "
                f"covariance bound {cov_row_bound}; the exact integer "
                f"cross-covariance would overflow and silently wrap. "
                f"Leave auto_sample=True to fit the rotation on a "
                f"deterministic hash sample (residuals stay full-corpus), "
                f"or pre-sample the frame yourself.")
        # deterministic md5 hash-mod pick, sized to half the bound so the
        # realized count clears it with enormous margin; the count is
        # re-checked, making the overflow guarantee exact
        mod = max(2, -(-n_rows * 2 // cov_row_bound))   # ceil(2n/bound)
        hb = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")),
                                 1, 15), 16, 10).cast("long") % mod)
        fit = track_persist(q.where(hb == 0))
        n_fit = fit.count()
        if n_fit > cov_row_bound:   # astronomically unlikely; airtight
            raise ValueError(
                f"procrustes_residuals: hash sample still {n_fit} rows "
                f"> bound {cov_row_bound}; raise the modulus.")

    def _cov_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(list(pdf["__qa"]), dtype="int64")
            B = np.array(list(pdf["__qb"]), dtype="int64")
            m = (A.T @ B).ravel()
            yield pd.DataFrame({"pos": np.arange(m.size, dtype="int64"),
                                "v": m})

    cov_rows = (fit.mapInPandas(_cov_partials, schema="pos long, v long")
                .groupBy("pos").agg(F.sum("v").alias("v"))
                .collect())
    if not cov_rows:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, residual_sq long")
    d = int(len(cov_rows) ** 0.5)
    m = np.zeros(d * d, dtype="int64")
    for r in cov_rows:
        m[r["pos"]] = r["v"]
    r_micro = _procrustes_rotation_micro(m.reshape(d, d))

    def _resid(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(list(pdf["__qa"]), dtype="int64")
            B = np.array(list(pdf["__qb"]), dtype="int64")
            proj = (A @ r_micro) // 1_000_000   # numpy floor-div, both sides
            dlt = proj - B
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "residual_sq": (dlt * dlt).sum(axis=1).astype("int64")})

    return q.mapInPandas(_resid, schema=f"{id_col} long, residual_sq long")


def procrustes_oracle_sql(sf_dir: str, *, table: str = "embeddings",
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          shift: int = 3) -> str:
    """Per-SF generated oracle for procrustes_alignment_drift: an
    independent DuckDB read of the vectors, the SAME planted signed
    permutation, the SAME exact-integer covariance / rotation /
    residual pipeline (shared _procrustes_rotation_micro; whole-corpus
    integer matmul — batch-shape independent because integer), baked
    into a VALUES table."""
    import os

    import duckdb
    import numpy as np

    path = os.path.join(sf_dir, f"{table}.parquet")
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT {id_col}, {vec_col} FROM read_parquet('{path}') "
        f"ORDER BY {id_col}").fetchall()
    ids = [r[0] for r in rows]
    a_f = np.array([r[1] for r in rows], dtype="float64")
    d = a_f.shape[1]
    sgn = np.array([1.0 if j % 2 == 0 else -1.0 for j in range(d)])
    b_f = a_f[:, [(j + shift) % d for j in range(d)]] * sgn
    # planted per-vector drift (vec_id % 50 == 0): swap coords 0 and 1
    # AFTER the global map — unabsorbable by any single rotation
    mask = np.array([i % 50 == 0 for i in ids])
    b_f[mask] = b_f[mask][:, [1, 0] + list(range(2, d))]
    qa = np.floor(a_f * 1_000_000 + 0.5).astype("int64")
    qb = np.floor(b_f * 1_000_000 + 0.5).astype("int64")
    r_micro = _procrustes_rotation_micro(qa.T @ qb)
    proj = (qa @ r_micro) // 1_000_000
    dlt = proj - qb
    res = (dlt * dlt).sum(axis=1)
    vals = ",\n".join(f"({i}, {int(v)})" for i, v in zip(ids, res))
    return f"""SELECT {id_col}::BIGINT AS {id_col},
       residual_sq::BIGINT AS residual_sq
FROM (VALUES
{vals}
) AS t({id_col}, residual_sq)"""


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection (round 9): pick k maximally-spread
# representatives — Gonzalez's (1985) 2-approximation for the k-center
# objective, the coreset selection rule of Sener & Savarese (ICLR 2018)
# used for data pruning / active learning. Complements semdedup_prune_exact
# (which REMOVES redundancy) by SELECTING a budget-sized cover.
# ---------------------------------------------------------------------------


def kcenter_select(df: DataFrame, *, id_col: str = "vec_id",
                   vec_col: str = "embedding", k: int = 8,
                   scale: int = 1_000_000):
    """Greedy k-center over micro-unit int64 vectors, engine-exact.

    Round 1 seeds with the max-squared-norm vector (ties: lowest id);
    each later round picks the vector with the largest exact int64
    squared-L2 distance to its NEAREST already-selected center (ties:
    lowest id), excluding previously selected ids. Returns
    ``(selected, centers)``: ``selected`` is k tuples
    (sel_round, id, dist_usq) where round r's dist_usq IS the k-center
    coverage radius of the first r-1 centers (round 1 records the seed
    squared norm), and ``centers`` the k quantized vectors (python
    ints — k x d driver metadata, same class as a codebook).

    Scale shape: the quantized base persists ONCE; the running
    min-distance-to-selected-set rides as a persisted ``md`` column
    updated INCREMENTALLY each round (Gonzalez's classic O(k*N*d)
    form — round r folds only the NEW center in with one ``least``,
    instead of re-evaluating all r distances, so the per-round
    expression and its codegen compile stay constant-size; measured
    r9: the growing least-of-r form spent ~0.5 s/round in driver-side
    compile alone). Each round is one scan ending in a
    TakeOrderedAndProject top-1 — a per-partition partial reduce, k
    single-row collects total, nothing data-sized at the driver; the
    superseded round's cache is dropped as soon as the next
    materializes, so at most two (id, v, md) copies exist at once. At
    corpus scale run the greedy over cluster representatives
    (``train_codebook_exact`` centroids) or a deterministic sample — the
    composition coreset pipelines actually ship.
    """
    from ..plans.caching import track_persist

    base = df.select(
        F.col(id_col).alias("id"),
        quantized_vec(vec_col, scale).alias("v"))
    base = track_persist(base.withColumn(
        "norm2", F.aggregate(F.transform("v", lambda x: x * x),
                             F.lit(0).cast("long"), lambda a, x: a + x)))

    def _d2(center_vals):
        arr = F.array(*[F.lit(int(c)).cast("long") for c in center_vals])
        return F.aggregate(
            F.zip_with("v", arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"), lambda a, x: a + x)

    seed = (base.orderBy(F.desc("norm2"), "id")
            .select("id", "v", "norm2").first())
    if seed is None:
        return [], []
    selected = [(1, seed["id"], int(seed["norm2"]))]
    centers = [list(seed["v"])]
    # cur carries md = exact int64 squared L2 to the NEAREST selected
    # center; identical values to the old least-of-all-centers form
    # (min over the same integer distances, folded one per round)
    cur = track_persist(base.select("id", "v", _d2(centers[0]).alias("md")))
    prev = None
    for r in range(2, k + 1):
        top = (cur.where(~F.col("id").isin([s[1] for s in selected]))
               .orderBy(F.desc("md"), "id").first())
        if prev is not None:
            prev.unpersist()
        if top is None:  # k exceeds the corpus — return what exists
            break
        selected.append((r, top["id"], int(top["md"])))
        centers.append(list(top["v"]))
        if r < k:
            prev = cur
            cur = track_persist(cur.select(
                "id", "v",
                F.least(F.col("md"), _d2(centers[-1])).alias("md")))
    return selected, centers


def kcenter_coreset(df: DataFrame, *, id_col: str = "vec_id",
                    vec_col: str = "embedding", k: int = 8,
                    scale: int = 1_000_000) -> DataFrame:
    """The ``kcenter_select`` trace as a DataFrame:
    (sel_round, id, dist_usq) — k rows, driver-built like a codebook."""
    spark = df.sparkSession
    selected, _ = kcenter_select(df, id_col=id_col, vec_col=vec_col,
                                 k=k, scale=scale)
    return spark.createDataFrame(
        [(int(r), int(i), int(d)) for r, i, d in selected],
        schema=f"sel_round int, {id_col} long, dist_usq long")


def kcenter_assignments(df: DataFrame, *, id_col: str = "vec_id",
                        vec_col: str = "embedding", k: int = 8,
                        scale: int = 1_000_000) -> DataFrame:
    """Per-center cover summary after greedy k-center selection:
    every vector is assigned to its nearest selected center (exact
    int64 squared L2; ties -> earliest-selected center), then rolled up
    to (center_round, center_id, n_assigned, radius_usq) where
    radius_usq is the cell's max assignment distance — max over the
    column is the realized k-center objective.

    Scale shape: selection as in ``kcenter_select``; assignment is ONE
    scan with the k centers as LITERALS in a fused argmin projection —
    per row, an array of k (d, center_round, center_id) structs whose
    ``array_min`` (struct order = field order, so min d with
    earliest-round tie-break, exactly the old window's
    ``orderBy(d, center_round)``) picks the cell — then a k-group hash
    agg. r9: this replaces the former crossJoin(broadcast centers) +
    row_number window, which exploded every vector into k rows and
    paid a data-sized hash Exchange + per-id sort just to keep row 1;
    now the only shuffle anywhere is the <= k-row rollup (map-side
    partials reduce each partition to <= k rows first).
    """
    selected, centers = kcenter_select(df, id_col=id_col, vec_col=vec_col,
                                       k=k, scale=scale)
    base = df.select(F.col(id_col).alias("id"),
                     quantized_vec(vec_col, scale).alias("v"))

    def _cell(r: int, cid: int, cv) -> Column:
        arr = F.array(*[F.lit(int(x)).cast("long") for x in cv])
        d2 = F.aggregate(
            F.zip_with("v", arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"), lambda a, x: a + x)
        return F.struct(d2.alias("d"),
                        F.lit(int(r)).cast("int").alias("center_round"),
                        F.lit(int(cid)).cast("long").alias("center_id"))

    best = F.array_min(F.array(*[
        _cell(r, cid, cv)
        for (r, cid, _), cv in zip(selected, centers)])).alias("best")
    return (base.select(best)
            .groupBy(F.col("best.center_round").alias("center_round"),
                     F.col("best.center_id").alias("center_id"))
            .agg(F.count(F.lit(1)).alias("n_assigned"),
                 F.max("best.d").alias("radius_usq"))
            .orderBy("center_round"))


def _mutual_margin_pairs(fwd: DataFrame, bwd: DataFrame, *,
                         threshold: float, scale: int) -> DataFrame:
    """The ratio-margin + mutual-argmax tail both margin miners share
    (the formula is ``margin_mining_pairs``'s): ``fwd`` holds each
    source's top-k targets and ``bwd`` each target's top-k sources, as
    (sid, tid, micro) rows with ``micro`` the integer micro-unit
    cosine. Returns (src_id, tgt_id, sim, margin)."""
    fstat = fwd.groupBy("sid").agg(F.sum("micro").alias("fsum"),
                                   F.count(F.lit(1)).alias("fcnt"))
    bstat = bwd.groupBy("tid").agg(F.sum("micro").alias("bsum"),
                                   F.count(F.lit(1)).alias("bcnt"))
    cand = fwd.unionByName(bwd).distinct()
    num = (F.lit(2) * F.col("micro") * F.col("fcnt") * F.col("bcnt"))
    den = (F.col("fsum") * F.col("bcnt") + F.col("bsum") * F.col("fcnt"))
    m = (cand.join(fstat, "sid").join(bstat, "tid")
         .select("sid", "tid", "micro",
                 F.round(num.cast("double") / den, 4).alias("margin")))
    wf = Window.partitionBy("sid").orderBy(F.col("margin").desc(), "tid")
    wb = Window.partitionBy("tid").orderBy(F.col("margin").desc(), "sid")
    return (m.withColumn("rf", F.row_number().over(wf))
            .withColumn("rb", F.row_number().over(wb))
            .where((F.col("rf") == 1) & (F.col("rb") == 1)
                   & (F.col("margin") > threshold))
            .select(F.col("sid").alias("src_id"),
                    F.col("tid").alias("tgt_id"),
                    (F.col("micro") / scale).alias("sim"),
                    "margin"))


def margin_mining_pairs(df: DataFrame, *, id_col: str = "vec_id",
                        vec_col: str = "embedding", k: int = 4,
                        threshold: float = 1.0,
                        round_dp: int = 6) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    "Margin-based Parallel Corpus Mining") between the two id-parity
    halves of an embedding corpus: src = even ids, tgt = odd ids —
    the bitext-mining shape (two monolingual embedding spaces, find
    the aligned pairs) over the synthetic table.

    Ratio margin: margin(x, y) = sim(x, y) / ((mean_k sim(x, NN_tgt(x))
    + mean_k sim(y, NN_src(y))) / 2) — a pair scores high only when the
    two vectors are much closer to EACH OTHER than to their respective
    k-th-neighborhood level, which suppresses hubs that plain cosine
    thresholding mines as false positives. Kept pairs are MUTUAL
    margin-argmaxes above ``threshold`` (the intersection method of the
    paper).

    Exactness: sims come from ``block_knn``'s integer micro-unit cosine
    (bit-identical across engines); the margin is one double division
    of exact int64 products — numerator 2 * sim_micro * cnt_f * cnt_b,
    denominator fsum * cnt_b + bsum * cnt_f — so a DuckDB oracle
    replaying the same formula hash-matches, ties broken on ids.

    Scale shape: two cross-set ``block_knn`` passes (distributed
    blocked matmul, nothing driver-resident) + hash aggs at query
    grain + one candidate-grain join; candidates are <= k rows per
    vector, never the cross product. The exact passes are
    O(|src| * |tgt| * d) FLOPs by definition — callers at corpus scale
    swap the candidate generation for ``sign_lsh_knn``/``ivf_knn``
    (same downstream margin math); ``guard_eval_flops`` on both halves
    is the caller's pre-flight (see queries.margin_mining_pairs_q).
    """
    scale = 10 ** round_dp
    src = df.where(F.pmod(F.col(id_col), F.lit(2)) == 0)
    tgt = df.where(F.pmod(F.col(id_col), F.lit(2)) == 1)
    fwd = block_knn(src, id_col=id_col, vec_col=vec_col, k=k,
                    round_dp=round_dp, index_df=tgt)
    bwd = block_knn(tgt, id_col=id_col, vec_col=vec_col, k=k,
                    round_dp=round_dp, index_df=src)
    micro = F.round(F.col("sim") * scale).cast("long")
    f = fwd.select(F.col(id_col).alias("sid"),
                   F.col("neighbor_id").alias("tid"),
                   micro.alias("micro"))
    b = bwd.select(F.col("neighbor_id").alias("sid"),
                   F.col(id_col).alias("tid"),
                   micro.alias("micro"))
    return _mutual_margin_pairs(f, b, threshold=threshold, scale=scale)


def margin_mining_pairs_ann(df: DataFrame, *, id_col: str = "vec_id",
                            vec_col: str = "embedding", k: int = 4,
                            threshold: float = 1.0,
                            nbits: int | str = "auto",
                            target_bucket: int = 8,
                            round_dp: int = 6) -> DataFrame:
    """The PRODUCTION composition of ``margin_mining_pairs``: identical
    ratio-margin + mutual-argmax math, but candidates come from the
    sign-LSH bucket equi-join instead of the exact cross-set matmul —
    the swap the exact version's FLOP-budget guard names. Candidate
    volume is per-bucket |src_b| * |tgt_b| with ``auto_nbits`` holding
    expected occupancy constant as the corpus grows, so the pair work
    scales with N, not N^2.

    Semantics: the k-neighborhood means are computed over each
    vector's BUCKETED candidates (its same-bucket cross-parity mates),
    so margins are relative to the local candidate level — the
    approximation Artetxe & Schwenk's own large-scale runs make when
    they score margins over FAISS candidates. Recall is sign-LSH's; a
    pair in different buckets is not scored (the documented trade the
    exact twin quantifies). Sims are the exact integer micro-unit
    cosine; the margin is one double division of exact int64 products;
    buckets replay in SQL from raw sign bits + the pure-integer
    auto_nbits formula — the oracle is a verbatim re-derivation.
    """
    scale = 10 ** round_dp
    if nbits == "auto":
        n, dim = df.select(F.count(F.lit(1)),
                           F.min(F.size(vec_col))).first()
        nbits = auto_nbits(max(n or 0, 1), max(dim or 0, 1), target_bucket)
    base = df.select(F.col(id_col),
                     quantized_vec(vec_col, scale).alias("qv"),
                     sign_bucket(vec_col, nbits).alias("bucket"))
    src = base.where(F.pmod(F.col(id_col), F.lit(2)) == 0)
    tgt = base.where(F.pmod(F.col(id_col), F.lit(2)) == 1)
    a = src.select("bucket", F.col(id_col).alias("sid"),
                   F.col("qv").alias("qa"))
    b = tgt.select("bucket", F.col(id_col).alias("tid"),
                   F.col("qv").alias("qb"))
    micro = F.round(quantized_cosine(F.col("qa"), F.col("qb"), scale)
                    * scale).cast("long")
    # each vector owns exactly one bucket, so a pair meets at most once
    ps = a.join(b, "bucket").select("sid", "tid", micro.alias("micro"))
    wf0 = Window.partitionBy("sid").orderBy(F.col("micro").desc(), "tid")
    wb0 = Window.partitionBy("tid").orderBy(F.col("micro").desc(), "sid")
    fwd = (ps.withColumn("r", F.row_number().over(wf0))
           .where(F.col("r") <= k).drop("r"))
    bwd = (ps.withColumn("r", F.row_number().over(wb0))
           .where(F.col("r") <= k).drop("r"))
    return _mutual_margin_pairs(fwd, bwd, threshold=threshold, scale=scale)
