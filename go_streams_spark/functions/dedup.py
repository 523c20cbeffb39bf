"""Deduplication for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Design for 100 TB:
  - Exact dedup is a hash-groupBy on a digest column — one shuffle keyed
    by digest; AQE handles skew from boilerplate-heavy corpora.
  - MinHash+LSH avoids the O(N^2) pair space: signatures are computed
    per-row JVM-side (array lambdas over shingles, no UDFs), docs are
    exploded into (band, band_key) buckets, and only same-bucket docs
    join — the candidate join is an equi-join Catalyst can shuffle-hash.
    Verification (exact Jaccard) runs only on candidates.
  - SimHash packs a document into one 32- or 64-bit int; near-dup
    pairs are pigeonhole band candidates whose hamming distance <= k.
    Every banded candidate set (MinHash, SimHash, dHash, sign-LSH)
    comes from one self equi-join, ``_band_pairs``.
  - Set-similarity joins have one path per job: ``ngram_jaccard_pairs``
    (MinHash-LSH candidates -> lossless length filter -> exact verify,
    the memory-safe order) and ``prefix_filter_pairs`` (exact PPJoin,
    complete by construction). ``containment_pairs`` shares PPJoin's
    rarity-prefix body, ``_rarity_prefix``. Every prune in front of the
    4-dp Jaccard verify reads one floor, ``_verify_floor_micro``.

All hashing is md5-based so results are bit-identical to the DuckDB
oracle SQL.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.caching import track_persist
from .text import tokens


def content_digest(text: Column | str, *, normalize: bool = True) -> Column:
    """Exact-dup key: md5 of (optionally whitespace/case-normalized) text."""
    t = F.col(text) if isinstance(text, str) else text
    if normalize:
        t = F.regexp_replace(F.lower(F.trim(t)), "\\s+", " ")
    return F.md5(t)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by content digest; keep the smallest id as canonical.

    One shuffle on the digest. Returns (dup_key, keeper, cnt).
    """
    return (df.withColumn("dup_key", content_digest(text_col))
            .groupBy("dup_key")
            .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("cnt")))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_CW_MOD = 1000000007


def shingle_rows(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
                 ngram: int = 3) -> DataFrame:
    """Distinct word n-gram shingles, one ROW per (doc, shingle).

    Relational shingling: posexplode tokens, drop empties, stitch
    consecutive survivors with lead() over (doc, position). Everything
    stays in whole-stage codegen (interpreted array lambdas were ~10x
    slower here); the one shuffle is on the doc id, which later joins
    reuse. This row shape (not per-doc arrays) is what scales: shingle
    state never concentrates in a single row.

    r9 (guide §2.4): the per-doc dedup is a ``groupBy(doc)`` +
    ``collect_set`` + explode instead of ``.distinct()`` — the window
    already hash-partitioned rows by the doc id, so the aggregate
    reuses that exchange and the extra (id, s) shuffle disappears
    (2 Exchange -> 1). Bonus: the frame (this function is persisted by
    every caller) comes out PARTITIONED BY the doc id, so downstream
    doc-grain aggregates (``minhash_wide``, per-doc counts,
    ``_pair_overlap``'s set build) are exchange-free too. Per-group
    state is one doc's distinct shingles — the same per-doc bound as
    the verify arrays.
    """
    from pyspark.sql import Window
    toks = (df.select(F.col(id_col),
                      F.posexplode(F.split(F.lower(F.col(text_col)), " "))
                      .alias("pos", "tok"))
            .where(F.col("tok") != ""))
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, ngram)]
    grams = toks.select(F.col(id_col), F.col("tok").alias("t0"), *leads)
    gram_col = F.concat_ws(" ", *[F.col(f"t{j}") for j in range(ngram)])
    return (grams.where(F.col(f"t{ngram-1}").isNotNull())
            .select(F.col(id_col), gram_col.alias("s"))
            .groupBy(id_col).agg(F.collect_set("s").alias("__sset"))
            .select(F.col(id_col), F.explode("__sset").alias("s")))


def minhash_wide(shingles: DataFrame, *, id_col: str = "doc_id",
                 num_hashes: int = 12, with_count: bool = False) -> DataFrame:
    """One row per doc with mh0..mh{n-1} minhash columns.

    One codegen'd md5 per shingle, Carter-Wegman seed derivation as
    num_hashes conditional-min AGGREGATE COLUMNS in a single pass — no
    seed fan-out join (the 12x row explosion was the cold-path cost),
    one shuffle by doc with map-side partials (exchange-free when the
    shingle frame is already partitioned by the doc id, which
    ``shingle_rows`` now guarantees).

    ``with_count=True`` adds the per-doc shingle-set size as column
    ``c`` — one more aggregate in the SAME pass, so consumers that
    need sizes (the length filter of ``ngram_jaccard_pairs``) stop
    paying a separate count aggregate + per-side join (guide §2.4).
    """
    d = F.md5("s")
    h1 = F.conv(F.substring(d, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(d, 16, 15), 16, 10).cast("long") % _CW_MOD
    pre = shingles.select(F.col(id_col), h1.alias("h1"), h2.alias("h2"))
    aggs = [F.min(F.col("h1") + i * F.col("h2")).alias(f"mh{i}")
            for i in range(num_hashes)]
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("c"))
    return pre.groupBy(id_col).agg(*aggs)


def minhash_rows(shingles: DataFrame, *, id_col: str = "doc_id",
                 num_hashes: int = 12) -> DataFrame:
    """(doc, seed, minhash) long format — unpivot of ``minhash_wide``
    (num_hashes rows per doc, produced after aggregation)."""
    wide = minhash_wide(shingles, id_col=id_col, num_hashes=num_hashes)
    stack = ", ".join(f"{i}, mh{i}" for i in range(num_hashes))
    return wide.selectExpr(
        id_col, f"stack({num_hashes}, {stack}) as (seed, minhash)") \
        .withColumn("seed", F.col("seed").cast("int"))


def band_rows(mh_wide: DataFrame, *, id_col: str = "doc_id",
              rows_per_band: int = 3) -> DataFrame:
    """(doc, band, band_key) rows from the wide signature: band_key =
    md5 of the '|'-joined minhashes of each band. A cheap posexplode of
    num_bands precomputed keys per doc-row. Non-signature extra
    columns (e.g. ``minhash_wide(with_count=True)``'s ``c``) pass
    through onto every band row."""
    mh_cols = [c for c in mh_wide.columns if c.startswith("mh")]
    extras = [c for c in mh_wide.columns
              if c != id_col and not c.startswith("mh")]
    keys = [F.md5(F.concat_ws("|", *mh_cols[b:b + rows_per_band]))
            for b in range(0, len(mh_cols), rows_per_band)]
    return mh_wide.select(
        F.col(id_col), *[F.col(c) for c in extras],
        F.posexplode(F.array(*keys)).alias("band", "band_key"))


def _band_layout(nbits: int, nbands: int) -> list[tuple[int, int]]:
    """(start_bit, size) of each contiguous pigeonhole band of an
    ``nbits``-bit packed hash: two hashes within hamming distance
    ``nbands - 1`` match exactly on at least one band. Shared by the
    band-row explodes and the dense scan's in-batch band predicate
    (``similarity._pair_scan``), so the candidate definitions cannot
    drift."""
    sizes = [nbits // nbands + (1 if i < nbits % nbands else 0)
             for i in range(nbands)]
    out, start = [], 0
    for size in sizes:
        out.append((start, size))
        start += size
    return out


def _bit_bands(h: Column, nbits: int, nbands: int) -> Column:
    """(band, band_key) posexplode of the ``_band_layout`` bands of the
    packed hash ``h``: one shift+mask per band, pure codegen."""
    # a 64-bit band is the whole signed long: mask -1, not 2^64 - 1
    keys = [F.shiftright(h, start)
            .bitwiseAND(F.lit((1 << size) - 1 if size < 64 else -1))
            for start, size in _band_layout(nbits, nbands)]
    return F.posexplode(F.array(*keys)).alias("band", "band_key")


def _band_pairs(bands: DataFrame, *, id_col: str,
                pair_cols: Sequence[Column] = ()) -> DataFrame:
    """Distinct (id_a, id_b, *pair_cols) pairs, id_a < id_b, of the
    ``bands`` rows — (id, band, band_key) plus any carried columns —
    that share a (band, band_key) bucket: the banded self equi-join
    behind every near-dup candidate set here (MinHash, SimHash, dHash,
    sign-LSH). ``pair_cols`` are Columns over the carried columns of
    the two sides, qualified ``a.`` and ``b.``.

    MERGE, not broadcast and not shuffled-hash: band rows are a
    corpus-scale intermediate (one row per band per doc) whose size
    the stats undersell (the explode is invisible to estimates), so
    un-hinted Catalyst would broadcast each side of the self-join, and
    an SHJ build map of the band rows is the measured sf100 OOM
    (SCALE.md §26). Sort-merge spills; AQE still splits skewed
    buckets. The hint goes on once, before aliasing, so the two sides
    stay one subtree and read one exchange (a ``ReusedExchange`` in
    the final plan) — no pin needed.
    """
    bands = bands.hint("merge")
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, ["band", "band_key"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"), *pair_cols)
            .distinct())


def minhash_lsh_candidates(df: DataFrame, *, text_col: str = "text",
                           id_col: str = "doc_id", ngram: int = 3,
                           num_hashes: int = 12, rows_per_band: int = 3,
                           shingles: DataFrame | None = None,
                           with_sizes: bool = False) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >= 1 LSH bucket.

    Plan shape: shingle rows -> signature rows -> band rows -> the
    banded pair core (``_band_pairs``: self equi-join on (band,
    band_key), distinct pairs) — key-bucketed, never all-pairs.

    ``with_sizes=True`` adds ``ca``/``cb`` (each side's shingle-set
    size) to every pair: the size is aggregated in the SAME pass as
    the signature and rides the band rows, so the length filter of
    ``ngram_jaccard_pairs`` skips a count aggregate and two joins of the
    candidate table (guide §2.4). The pair set is identical — sizes
    are functionally dependent on the ids, so the wider distinct
    dedups the same (id_a, id_b) space.
    """
    if shingles is None:
        shingles = shingle_rows(df, text_col=text_col, id_col=id_col, ngram=ngram)
    bands = band_rows(
        minhash_wide(shingles, id_col=id_col, num_hashes=num_hashes,
                     with_count=with_sizes),
        id_col=id_col, rows_per_band=rows_per_band)
    size_cols = ([F.col("a.c").alias("ca"), F.col("b.c").alias("cb")]
                 if with_sizes else [])
    return _band_pairs(bands, id_col=id_col, pair_cols=size_cols)


def _pair_overlap(candidates: DataFrame, sh: DataFrame, *,
                  id_col: str = "doc_id") -> DataFrame:
    """(id_a, id_b, i, ca, cb) per candidate pair: exact shingle-set
    intersection size plus both set sizes, via DOC-GRAIN shingle
    arrays.

    r9 plan rewrite, measured on prefix_filter_pairs at sf0.1: the old
    shape (candidates ⋈ shingle rows of A ⋈ shingle rows of B, then a
    pair-grain count) materialized a 21.1M-row intermediate whose SMJ
    sort (45.9 s executor time) and hash agg (1.2 min) dominated the
    whole query. Here each doc's DISTINCT shingles collect into one
    per-doc array (state bounded by DOCUMENT length — per-doc, never
    corpus-sized), the candidate pair joins two doc-grain sides, and
    |A ∩ B| is one codegen'd ``array_intersect`` per pair — the
    pair-grain explosion, its shuffle, its sort and its aggregation
    all disappear. Shuffle volume is unchanged (each pair still moves
    |A| + |B| shingle strings, as array payload instead of rows).

    Join strategy: doc-grain sides keep shuffle_hash (per-partition
    build maps are corpus/partitions entries — the bounded class; the
    fan-out-sized SHINGLE-grain builds that OOM'd sf100 no longer
    appear in this plan at all). ``i`` is exact: shingle rows are
    distinct per doc, and ``array_intersect`` returns the distinct
    common elements.
    """
    sets = sh.groupBy(id_col).agg(F.collect_list("s").alias("__ss"))
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("__ss").alias("__ssa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("__ss").alias("__ssb"))
    return (candidates.join(sa.hint("shuffle_hash"), "id_a")
            .join(sb.hint("shuffle_hash"), "id_b")
            .select("id_a", "id_b",
                    F.size(F.array_intersect("__ssa", "__ssb")).alias("i"),
                    F.size("__ssa").alias("ca"),
                    F.size("__ssb").alias("cb")))


def _verify_floor_micro(threshold: float) -> int:
    """The smallest Jaccard ``_jaccard_verify`` keeps, in integer
    micro-units: the one floor every prune in front of it reads.

    The verify keeps ``round(J, 4) >= t`` (half-up), which is every
    J >= ceil4(t) - 0.00005, with ceil4(t) = t rounded UP to 4
    decimals. A prefix or length filter derived from t itself is
    lossless only for J >= t and drops the pairs in
    [t - 0.00005, t) that the verify and the brute-force oracle keep:
    5,000 shared 3-grams of a 5,000-gram and a 10,001-gram doc give
    J = 0.49995, which rounds to 0.5.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    return math.ceil(round(threshold * 10_000, 6)) * 100 - 50


def _length_filter(floor_micro: int) -> Column:
    """The All-Pairs length bound over a pair's set sizes ``ca``/``cb``:
    J >= f implies f * max(|A|,|B|) <= min(|A|,|B|). Exact integers,
    so lossless down to the verify floor ``floor_micro`` (id order is
    not size order, hence least/greatest)."""
    return (F.least("ca", "cb") * 1_000_000
            >= F.lit(floor_micro) * F.greatest("ca", "cb"))


def _rarity_prefix(sh: DataFrame, *, id_col: str,
                   min_ratio_micro: int) -> DataFrame:
    """(id, s, sf, c) rarity-prefix rows of the shingle rows ``sh``, pinned:
    the blocking body of PPJoin (``prefix_filter_pairs``) and of
    ``containment_pairs``.

    Every doc's shingles are ordered by a global rarity order (corpus
    frequency ``sf`` asc, shingle asc). If a pair needs an overlap of
    at least o = ceil(r * c) of a doc's c shingles, the first c - o + 1
    of them in that order meet the other doc (Xiao et al.), so only
    those rows can seed a candidate. The ceiling is exact integer
    arithmetic on ``min_ratio_micro`` (a DOUBLE ceil disagrees between
    engines at exact multiples).

    The per-doc size c rides the SAME window exchange as the rank
    (count over the unordered doc partition; r9 removed a separate
    count aggregate + join). ``freq`` is un-hinted: it sits behind its
    own shuffle, so AQE joins it with exact runtime stats. The prefix
    rows carry sf, so a caller's candidate estimate is one aggregate
    over this frame. Pinned because that estimate and the candidate
    join are two consumers: unpinned, the freq join + rank window
    (the most expensive pre-candidate stage) ran once per consumer.
    """
    from pyspark.sql import Window
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("sf"))
    ranked = (sh.join(freq, "s")
              .withColumn("rnk", F.row_number().over(
                  Window.partitionBy(id_col).orderBy("sf", "s")))
              .withColumn("c", F.count(F.lit(1)).over(
                  Window.partitionBy(id_col))))
    o = F.expr(f"({min_ratio_micro} * c + 999999) div 1000000")
    return track_persist(
        ranked.where(F.col("rnk") <= F.col("c") - o + 1)
        .select(F.col(id_col), "s", "sf", "c"))


def _guard_candidates(name: str, estimate: DataFrame,
                      max_candidate_estimate: int | None,
                      remedy: str) -> None:
    """Raise before any pair forms when the one-row ``estimate``
    (column ``e``) exceeds the budget; ``None`` runs unguarded."""
    if max_candidate_estimate is None:
        return
    est = estimate.collect()[0]["e"] or 0
    if est > max_candidate_estimate:
        raise RuntimeError(
            f"{name}: estimated candidate volume {int(est):,} exceeds "
            f"max_candidate_estimate={max_candidate_estimate:,}. {remedy} "
            f"Pass max_candidate_estimate=None to run unguarded.")


def _jaccard_verify(candidates: DataFrame, sh: DataFrame, *, id_col: str,
                    threshold: float) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only; keep >= threshold.

    |A ∩ B| via the doc-grain array-intersection plan
    (``_pair_overlap`` — see its docstring for the r9 plan-shape
    evidence); jaccard = i / (|A| + |B| - i), with |A| = the array
    size (shingle rows are distinct per doc).
    """
    out = _pair_overlap(candidates, sh, id_col=id_col)
    jac = F.round(F.col("i") / F.greatest(F.col("ca") + F.col("cb") - F.col("i"), F.lit(1)), 4)
    return (out.select("id_a", "id_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def containment_pairs(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id", ngram: int = 3,
                      threshold_micro: int = 700_000,
                      max_candidate_estimate: int | None = 100_000_000
                      ) -> DataFrame:
    """ASYMMETRIC near-dup pairs by Jaccard CONTAINMENT of the smaller
    shingle set: |A ∩ B| / min(|A|, |B|) >= t — the doc-subsumption
    detector (a quote, an excerpt, a boilerplate-wrapped copy scores
    ~1.0 here while symmetric Jaccard dilutes it toward
    |small| / |large|). The standard second pass of a corpus dedup
    stack: symmetric Jaccard catches same-size near-dups, containment
    catches the one-sided copies.

    Blocking is the ONE-SIDED prefix filter (Xiao et al.), not LSH
    bands: symmetric MinHash is structurally blind to small-into-large
    containment (the small doc's minhashes are overwhelmingly set by
    the large doc's filler shingles — a planted full-subsumption pair
    shares a band with probability ~(|A|/|B|)^3 per band, measured as
    a test failure before this blocker replaced it). Lossless instead:
    if |S ∩ B| >= ceil(t*|S|), the rarity prefix of S
    (``_rarity_prefix`` at t) intersects B, so candidates = (rarity
    prefix of the potentially-smaller side) equi-joined against ALL
    shingles — every qualifying pair is generated, recall 1.0 by the
    lemma. Scores are integer micro-units ((i * 1e6) div min >= t is
    i >= ceil(t * min) exactly), so the SQL replay is hash-identical.

    Scale shape: candidate volume is sum over prefix rows of df(s) —
    rare-first prefixes keep those buckets small, and the same loud
    ``max_candidate_estimate`` pre-flight as prefix_filter_pairs
    bounds it before any pair forms. The corpus-scale join sides pin
    merge (spillable, SCALE.md §26).
    """
    sh = track_persist(shingle_rows(df, text_col=text_col, id_col=id_col,
                                    ngram=ngram))
    pref = _rarity_prefix(sh, id_col=id_col, min_ratio_micro=threshold_micro)
    # sum over prefix rows of (sf - 1) = sum over s of np(s) * (sf(s) - 1):
    # one aggregate over the pinned prefix (r10)
    _guard_candidates(
        "containment_pairs", pref.agg(F.sum(F.col("sf") - 1).alias("e")),
        max_candidate_estimate,
        "Containment blocking at this shingle-frequency profile needs "
        "executor-fleet memory; drop boilerplate shingles first (a "
        "doc-frequency cap upstream).")
    pa = pref.select(F.col(id_col).alias("pid"), "s")
    sball = sh.select(F.col(id_col).alias("oid"), F.col("s").alias("s_b"))
    cands = (pa.join(sball.hint("merge"),
                     (F.col("s") == F.col("s_b"))
                     & (F.col("pid") != F.col("oid")))
             .select(F.least("pid", "oid").alias("id_a"),
                     F.greatest("pid", "oid").alias("id_b"))
             .distinct())
    # exact overlap via the doc-grain array plan (_pair_overlap): the
    # former shingle-row intersection join is the 21M-row sort+agg the
    # r9 plan audit killed; i/ca/cb are the same integers, so the
    # containment ceiling below is hash-identical
    out = _pair_overlap(cands, sh, id_col=id_col)
    cont = F.expr("(i * 1000000) div greatest(least(ca, cb), 1)")
    return (out.select("id_a", "id_b", cont.alias("containment_micro"))
            .where(F.col("containment_micro") >= threshold_micro))


def prefix_filter_pairs(df: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id", ngram: int = 3,
                        threshold: float = 0.5,
                        max_candidate_estimate: int | None = 100_000_000,
                        shingles: DataFrame | None = None) -> DataFrame:
    """EXACT set-similarity join (PPJoin/All-Pairs class, Bayardo et
    al. WWW'07; Xiao et al. WWW'08): every pair with n-gram Jaccard >=
    threshold, found WITHOUT the O(N^2) scan and WITHOUT the
    probabilistic miss rate of MinHash-LSH — the deterministic
    complement to ngram_jaccard_pairs.

    Prefix-filtering principle: J(A,B) >= f implies
    |A ∩ B| >= ceil(f*|A|), so the rarity prefixes of A and B
    (``_rarity_prefix`` at the verify floor f) must share a shingle —
    a candidate pair only forms on a shared PREFIX shingle (rare-first
    ordering keeps those buckets small), plus the length filter
    f*max(|A|,|B|) <= min(|A|,|B|). f is ``_verify_floor_micro``, the
    smallest J the 4-dp verify keeps, so no pair the verify would keep
    is pruned. Exact Jaccard verification then runs on candidates
    only. Completeness is gate-checked: the DuckDB oracle computes
    brute-force all-pairs.

    Scale shape: shingle rows persist once and feed frequency counts /
    prefix ranking / verification; candidate generation is a
    shuffle-hash equi-join on prefix shingles. No cartesian, no
    broadcast of corpus-scale sides. The per-doc prefix rank windows on
    the doc key (bounded partitions). At 100 TB the prefix index is the
    standard materialize-to-parquet first stage.

    MEMORY GUARD: exact PPJoin's candidate volume is inherent to the
    corpus's duplicate density — at high density it can exceed any
    single-node heap (the sf10 sweep needed a 48 GB driver; SCALE.md
    §22). Before forming pairs this function upper-bounds the candidate
    count from the prefix-bucket histogram (sum over prefix shingles of
    n*(n-1)/2 — one cheap agg, no pair join) and raises loudly when it
    exceeds ``max_candidate_estimate``, naming the memory-safe path
    ``ngram_jaccard_pairs`` (LSH-bucketed candidates, the same exact
    verify). Pass ``None`` to run unguarded on a fleet with the memory
    for it.

    ``shingles``: share a caller-persisted shingle-row frame
    (``dedup_method_eval`` builds shingles once and feeds PPJoin truth
    AND the MinHash blocker from it).
    """
    floor = _verify_floor_micro(threshold)
    sh = shingles if shingles is not None else track_persist(
        shingle_rows(df, text_col=text_col, id_col=id_col, ngram=ngram))
    pref = _rarity_prefix(sh, id_col=id_col, min_ratio_micro=floor)
    _guard_candidates(
        "prefix_filter_pairs",
        pref.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("e")),
        max_candidate_estimate,
        "Exact PPJoin at this duplicate density needs executor-fleet "
        "memory; the memory-safe path is ngram_jaccard_pairs — "
        "LSH-bucketed candidates, the same exact verify.")
    pa = pref.select(F.col(id_col).alias("id_a"), "s",
                     F.col("c").alias("ca"))
    pb = pref.select(F.col(id_col).alias("id_b"),
                     F.col("s").alias("s_b"), F.col("c").alias("cb"))
    # pb keeps the SHJ build: this exact-complete variant is BY CONTRACT
    # the fleet-memory path (docstring + max_candidate_estimate guard),
    # and its prefix-bucket join is the documented 48 GB sf10 surface —
    # pinning merge here only taxes the gate-scale audits that remain.
    cands = (pa.join(pb.hint("shuffle_hash"),
                     (F.col("s") == F.col("s_b"))
                     & (F.col("id_a") < F.col("id_b"))
                     & _length_filter(floor))
             .select("id_a", "id_b").distinct())
    return _jaccard_verify(cands, sh, id_col=id_col, threshold=threshold)


def ngram_jaccard_pairs(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
                        ngram: int = 3, threshold: float = 0.5,
                        num_hashes: int = 12, rows_per_band: int = 3) -> DataFrame:
    """Full near-dup pipeline and the memory-safe set-similarity join:
    MinHash-LSH candidates -> lossless length filter -> exact Jaccard
    verify. The result is exactly {pairs the verify keeps} ∩ {LSH
    candidates}: recall is LSH's (probabilistic at the threshold
    boundary, COVERAGE.md), precision is exact. Candidate volume is
    bounded by band-bucket occupancy (the shape that held exponent
    0.55 at sf10).

    The length filter (``_length_filter`` at the verify floor) is free:
    the set sizes ride the band join (``with_sizes``, aggregated in
    the signature pass), so no count aggregate or per-side join of the
    candidate table exists. PPJoin's prefix-agreement filter is NOT
    run here: r10 measured it pruning candidates ~2.5x at sf0.1 but
    paying a frequency aggregate, a corpus-scale join and two per-doc
    windows, 3.96 -> 1.96 s at sf0.1/32c without it
    (OPTIMIZATION_r10.md).

    The shingle rows feed the signature and the verify; Catalyst does
    not reuse the exchange across them, so the subtree is persisted —
    the 100 TB shape is the same decision with parquet instead of
    memory. Measured round 1: the cache-fill barrier costs ~0.5 s at
    sf0.1 and removes the recomputations of the explode+window
    shingling.
    """
    floor = _verify_floor_micro(threshold)
    sh = track_persist(shingle_rows(df, text_col=text_col, id_col=id_col, ngram=ngram))
    cands = (minhash_lsh_candidates(df, text_col=text_col, id_col=id_col, ngram=ngram,
                                    num_hashes=num_hashes, rows_per_band=rows_per_band,
                                    shingles=sh, with_sizes=True)
             .where(_length_filter(floor))
             .select("id_a", "id_b"))
    return _jaccard_verify(cands, sh, id_col=id_col, threshold=threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, *, bits: int, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """``bits``-bit SimHash (32 or 64) per document from distinct
    lowercase tokens.

    Bit j of md5(token) (hex-decoded) contributes +1/-1; simhash bit j is
    the sign of the sum. One row per (doc, distinct token), ONE shuffle
    keyed by doc with map-side partials. Why 64 bits matters at scale:
    with pigeonhole banding at ``max_hamming=3`` the four bands carry
    16 bits each (65536 buckets per band instead of 256), so candidate
    volume — which scales with the sum of per-bucket squares — drops by
    orders of magnitude while recall stays exactly 1.0.

    Vote sums are PACKED: the bit-votes ride in ``bits // 4`` longs with
    16-bit lanes (4 bits per long), so the aggregate is that many packed
    sums + a count — not ``bits`` sum columns. The earlier 32-column
    form generated a whole-stage method so large the JIT intermittently
    left it interpreted (5-60s swings in a long-lived session); 9 small
    aggregates codegen to JIT-friendly methods and run in a stable
    ~2.5s at sf0.1. The +-1 vote sum is recovered as 2*s_j - n (s_j =
    per-bit 1-count, n = token count); lanes overflow only past 32767
    distinct tokens per doc — far beyond any real document.
    Bit-identical to the SQL oracle's exploded formulation.
    """
    if bits not in (32, 64):
        raise ValueError(f"simhash bits must be 32 or 64, got {bits}")
    toks = df.select(F.col(id_col),
                     F.explode(F.array_distinct(F.transform(tokens(text_col), F.lower)))
                     .alias("tok"))
    # One conv() per 8 md5 hex chars decodes a 32-bit half (a single
    # 16-char conv would overflow signed long); hex char j//4+1 is
    # nibble (7 - (j//4)%8) of its half and bit j%4 of the nibble is
    # vote bit j — identical bits to the oracle's strpos-per-char
    # formulation. Computed INLINE per (doc, token) row: md5 is cheap
    # and embarrassingly parallel, and inlining keeps the plan one
    # straight scan->explode->agg pipeline with NO broadcast join (an
    # earlier hash-the-vocab-once + broadcast-join variant added two
    # extra query stages whose single-task broadcast jobs intermittently
    # sat unscheduled for tens of seconds in long-lived sessions).
    # Subexpression elimination collapses the md5/conv to one
    # evaluation per row at codegen time.
    halves = [F.conv(F.substring(F.md5("tok"), 1 + 8 * i, 8), 16, 10)
              .cast("long") for i in range(bits // 32)]

    def packed(g):  # lanes j = 4g..4g+3, 16 bits apart
        # group g's four vote bits are exactly nibble (7 - g%8) of its
        # half (bit j sits at 4*(7 - j//4) + j%4, and j//4 == g across
        # the group), so ONE multiply spreads them to the 16-bit lanes:
        # nib * (1 + 2^15 + 2^30 + 2^45) puts bit k at position
        # 16k (k + 15k), every product term lands on a distinct bit
        # (no carries), and the lane mask keeps positions {0,16,32,48}.
        # r10 (guide §1.2 per-task work): replaces 4 shift/mask/shift
        # chains + 3 adds per group — measured 0.64 -> 0.44 s on the
        # sf0.1 vote aggregate with bit-identical sums, and the
        # generated code shrinks ~6x (less JIT warmup).
        nib = F.shiftright(halves[g // 8], 4 * (7 - g % 8)).bitwiseAND(F.lit(15))
        return (nib * F.lit(0x200040008001)) \
            .bitwiseAND(F.lit(0x1000100010001)).alias(f"p{g}")

    groups = bits // 4
    voted = toks.select(F.col(id_col), *[packed(g) for g in range(groups)])
    sums = voted.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col(f"p{g}")).alias(f"S{g}") for g in range(groups)])
    out = None
    for j in range(bits):
        s_j = F.shiftright(F.col(f"S{j//4}"), 16 * (j % 4)).bitwiseAND(F.lit(0xFFFF))
        # bit 63 of a signed long is the sign bit: its "1 << 63" is the
        # most negative long, not a positive power of two
        weight = F.lit(-(1 << 63)) if j == 63 else F.lit(1 << j).cast("long")
        term = F.when(2 * s_j > F.col("n"), weight).otherwise(F.lit(0).cast("long"))
        out = term if out is None else out + term
    return sums.select(id_col, out.alias("simhash"))


def simhash_band_rows(sim: DataFrame, *, id_col: str = "doc_id",
                      bits: int = 32, max_hamming: int = 3) -> DataFrame:
    """(id, simhash, band, band_key) rows: pigeonhole bit-bands.

    The ``bits`` hash bits are split into ``max_hamming + 1`` contiguous
    bands; any pair within hamming distance ``max_hamming`` differs in at
    most ``max_hamming`` bands and therefore matches EXACTLY on at least
    one band (pigeonhole — guaranteed recall, unlike probabilistic LSH).
    Band extraction is a shift+mask on the packed hash (``_bit_bands``)
    — pure codegen, no arrays beyond the small posexplode.
    """
    return sim.select(F.col(id_col), F.col("simhash"),
                      _bit_bands(F.col("simhash"), bits, max_hamming + 1))


def simhash_pairs(sim: DataFrame, *, id_col: str = "doc_id",
                  max_hamming: int = 3, bits: int = 32) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming.

    Banded pigeonhole LSH — the 100 TB shape: ``max_hamming + 1``
    band rows per doc through the banded pair core (``_band_pairs``),
    exact hamming verified on the candidates. Recall is exactly 1.0 by
    pigeonhole, so the output is bit-identical to the O(N^2)
    formulation the oracle runs.

    Candidate volume scales with sum of per-bucket squares, not N^2:
    with 32-bit hashes and k=6 the 4-5-bit bands are coarse (2^4..2^5
    buckets); at real corpus scale use a 64-bit simhash with k<=3 so
    bands carry 16 bits each — same plan, finer buckets.
    """
    bands = simhash_band_rows(sim, id_col=id_col, bits=bits,
                              max_hamming=max_hamming)
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (_band_pairs(bands, id_col=id_col, pair_cols=[ham.alias("hamming")])
            .where(F.col("hamming") <= max_hamming))


def connected_components(pairs: DataFrame, *, src: str = "id_a", dst: str = "id_b",
                         max_iterations: int = 20,
                         on_nonconverged: str = "raise") -> DataFrame:
    """Connected components over near-dup pairs — the clustering stage
    that turns pairwise matches into dedup groups (keep one doc per
    component). Returns (id, component) with component = min id reachable.

    Min-label propagation: every node starts labeled with itself; each
    iteration joins labels across edges and keeps the per-node min;
    stops when no label changes. Iteration count is bounded by the
    component diameter — near-dup graphs are shallow (stars/cliques), so
    a handful of passes suffice at any scale. Each pass is one
    shuffle-join + one min-agg; no driver-side graph state beyond the
    convergence counter.

    A graph whose diameter exceeds ``max_iterations`` (a path-shaped
    near-dup chain) would otherwise return WRONG components silently —
    so exhausting the budget while labels are still changing is loud:
    ``on_nonconverged="raise"`` (default) raises RuntimeError;
    ``"warn"`` emits a warning and returns the partial labels (only for
    callers that treat components as a best-effort grouping).
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError("on_nonconverged must be 'raise' or 'warn'")
    # The pair list is the near-dup GRAPH — orders of magnitude smaller
    # than the corpus pipeline that produced it — so materialize the
    # SYMMETRIZED edge set once, eagerly, and run the whole iterative
    # loop off that snapshot: otherwise the first downstream action
    # re-executes the caller's LSH + verify pipeline into the edge
    # cache. (r9: the pairs snapshot itself no longer gets a separate
    # eager checkpoint — edges is its only consumer, so the upstream
    # pipeline still runs exactly once, into THIS materialization, and
    # the loop pays one fewer blocking job.) Symmetrize via ONE
    # explode, not union(pairs, pairs.swap) + distinct — duplicate
    # edges (or self-loops) cannot change a min, and the distinct was
    # a needless shuffle; before this pin every iteration's join
    # re-derived the 2x edge set (at sf10 that re-scan was most of the
    # 98 s leakage_safe_split wall time).
    pairs = pairs.select(F.col(src).alias("pa"), F.col(dst).alias("pb"))
    edges = (pairs.select(F.explode(F.array(
        F.struct(F.col("pa").alias("a"), F.col("pb").alias("b")),
        F.struct(F.col("pb").alias("a"), F.col("pa").alias("b"))))
        .alias("e"))
        .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .localCheckpoint(eager=True))
    # Iterative lineage MUST be truncated every pass (localCheckpoint,
    # eager): without it iteration k re-executes iterations 1..k-1 both
    # in the convergence count and the next join — quadratic total work
    # and an unboundedly deep plan. (At cluster scale swap periodic
    # reliable checkpoints for localCheckpoint if executor loss matters;
    # the algorithm is restartable from any labels snapshot.)
    labels = (edges.select(F.col("a").alias("id"))
              .union(edges.select(F.col("b").alias("id")))
              .distinct()
              .withColumn("component", F.col("id"))
              .localCheckpoint(eager=True))
    converged = False
    # Delta (frontier) propagation: labels are monotone non-increasing,
    # so an edge (a, b) can only lower a's label in pass k+1 if b's
    # label CHANGED in pass k — propagating from the full label table
    # every pass (the old form) redoes work for every already-settled
    # component. The frontier starts as all nodes and collapses to the
    # still-active components' boundary; with AQE the edges-vs-frontier
    # join demotes to broadcast once the frontier is small, so late
    # passes cost one edge scan and no shuffle of the settled mass.
    # (This is the large-graph early-exit the sf10 audit asked for:
    # converged components drop out of every subsequent pass.)
    frontier = labels
    for _ in range(max_iterations):
        neighbor_min = (edges.join(frontier, edges.b == frontier.id)
                        .groupBy(edges.a.alias("id"))
                        .agg(F.min("component").alias("n_comp")))
        # The convergence flag rides INSIDE the checkpointed frame: the
        # old form re-joined new labels against old labels per pass —
        # a second shuffle-join job per iteration that roughly doubled
        # the loop's wall time (measured 8.9 -> 7.0 s for
        # dedup_components at sf0.001). r9: the checkpoint is LAZY and
        # the changed-row count is the materializing action, fusing
        # what used to be two blocking jobs per pass (eager-checkpoint
        # materialization, then a limit-1 scan) into one — the filter
        # is per-partition, so the count computes and caches every
        # partition of the snapshot exactly like the eager form did.
        joined = (labels.join(neighbor_min, "id", "left")
                  .select("id",
                          F.least(F.col("component"),
                                  F.coalesce("n_comp", F.col("component")))
                          .alias("component"),
                          (F.coalesce("n_comp", F.col("component"))
                           < F.col("component")).alias("__chg"))
                  .localCheckpoint(eager=False))
        labels = joined.drop("__chg")
        frontier = joined.where("__chg").drop("__chg")
        if frontier.count() == 0:
            converged = True
            break
    if not converged:
        msg = (f"connected_components did not converge within "
               f"{max_iterations} iterations (labels still changing — "
               f"component diameter exceeds the budget); raise "
               f"max_iterations or pass on_nonconverged='warn'")
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def chunk_dedup(df: DataFrame, *, text_col: str = "text",
                id_col: str = "doc_id", chunk_size: int = 8) -> DataFrame:
    """C4-style corpus-level chunk dedup with document reassembly: split
    every doc into ``chunk_size``-word chunks, keep only the globally
    first occurrence of each distinct chunk text (ordered by
    ``(id_col, chunk index)``), and rebuild each document from its
    surviving chunks in order.

    Returns one row per input doc: ``(id_col, n_chunks, n_kept,
    clean_text)`` where ``clean_text`` is NULL when every chunk was a
    duplicate. Three keyed hash shuffles — (doc, chunk-id) chunk build,
    chunk-text first-occurrence window, doc regroup — no global sort, no
    driver collect (reference inventory gap: SURVEY §2.5 dedup class).
    """
    from pyspark.sql import Window

    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    pos = df.select(id_col, F.posexplode(toks).alias("p", "tok"))
    chunks = (pos.groupBy(id_col, (F.col("p") / chunk_size)
                          .cast("long").alias("cid"))
              .agg(F.concat_ws(
                  " ", F.transform(
                      F.array_sort(F.collect_list(F.struct("p", "tok"))),
                      lambda s: s.tok)).alias("chunk")))
    w = Window.partitionBy("chunk").orderBy(id_col, "cid")
    keep = chunks.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(F.col("rn") == 1, F.struct("cid", "chunk"))
    n_kept = F.count(F.when(F.col("rn") == 1, F.lit(1)))
    clean = F.concat_ws(" ", F.transform(
        F.array_sort(F.collect_list(kept_struct)), lambda s: s.chunk))
    return (keep.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 n_kept.alias("n_kept"),
                 F.when(n_kept == 0, F.lit(None).cast("string"))
                  .otherwise(clean).alias("clean_text")))


def duplicate_span_stats(df: DataFrame, *, text_col: str = "text",
                         id_col: str = "doc_id", span: int = 16) -> DataFrame:
    """Exact duplicated-span profile — the exact-substring complement to
    MinHash (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": duplicated spans >= L tokens are the
    memorization vector MinHash's doc-level similarity misses).

    Every stride-1 ``span``-token window is hashed (md5 of the joined
    slice — one O(span) slice per position, the zip/slice idiom, no
    quadratic re-tokenization); a window is DUPLICATED when its hash
    occurs in more than one document. Returns per-doc
    (n_windows, n_dup_windows, dup_frac) — the drop/trim signal. Plan:
    one explode (rows = total token count), one shuffle on the span
    hash, one doc-grain rollup; no pair blowup because popular spans
    aggregate to counts, never to doc x doc pairs."""
    from pyspark.sql import Window

    from .text import tokens

    # stride-1 windows via posexplode + a lead() chain (the shingle_rows
    # shape): rows stay token-width. The explode-starts + slice() form
    # carries the doc's FULL token array on every window row — measured
    # 5.7s vs 3.2s at sf0.1 for the same output.
    arr = tokens(F.col(text_col))
    toks = (df.where(F.size(arr) >= span)
            .select(F.col(id_col),
                    F.posexplode(F.split(F.col(text_col), " "))
                    .alias("pos", "tok"))
            .where(F.col("tok") != ""))
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w).alias(f"t{j}")
                              for j in range(1, span)]
    win = (toks.select(F.col(id_col), *parts)
           .where(F.col(f"t{span - 1}").isNotNull())
           .select(id_col,
                   F.md5(F.concat_ws(
                       " ", "tok", *[f"t{j}" for j in range(1, span)]))
                   .alias("h")))
    spread = win.groupBy("h").agg(
        F.countDistinct(id_col).alias("nd"))
    return (win.join(spread, "h")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_windows"),
                 F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                 .alias("n_dup_windows"))
            .withColumn("dup_frac",
                        F.round(F.col("n_dup_windows")
                                / F.col("n_windows"), 6)))


def remove_duplicate_spans(df: DataFrame, *, text_col: str = "text",
                           id_col: str = "doc_id",
                           span: int = 16) -> DataFrame:
    """Exact-substring dedup REMOVAL — the acting half of Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better"):
    where ``duplicate_span_stats`` only measures, this rewrites the
    corpus. Every stride-1 ``span``-token window whose hash occurs more
    than once corpus-wide is duplicated; the first occurrence in
    (doc_id, position) order is CANONICAL and keeps its text, every
    later occurrence has its covered tokens cut, and each document is
    reassembled from its surviving tokens in order. Lee et al. find
    maximal duplicated substrings with a suffix array; fixed stride-1
    windows approximate that (any exact repeat >= ``span`` tokens is
    caught; trims quantize to window extents) while staying fully
    relational — no global suffix sort.

    Scale shape: one token-grain explode with a single per-doc window
    pass (row_number + the lead() chain share one (doc, pos) sort — the
    duplicate_span_stats shape); one shuffle on the span hash for the
    occurrence ranking; the drop-position explode is bounded by
    DUPLICATED text volume x span, not corpus volume; one token-grain
    anti-join + doc-grain reassembly. collect_list is per-doc bounded.
    Positions are re-ranked gapless AFTER empty-token filtering so
    Spark token indices match the oracle's filtered-array indices
    bit-for-bit.

    Returns (id_col, clean_text, n_tokens, n_removed) for EVERY input
    document (unchanged docs included; a fully-cut doc keeps an empty
    clean_text).
    """
    from pyspark.sql import Window

    if span < 2:
        raise ValueError("remove_duplicate_spans: span must be >= 2 "
                         "(span=1 would cut every token that repeats "
                         "anywhere in the corpus)")
    w = Window.partitionBy(id_col).orderBy("p0")
    toks = (df.select(F.col(id_col),
                      F.posexplode(F.split(F.col(text_col), " "))
                      .alias("p0", "tok"))
            .where(F.col("tok") != "")
            .select(F.col(id_col), F.row_number().over(w).alias("pos"),
                    F.col("tok"),
                    *[F.lead("tok", j).over(w).alias(f"t{j}")
                      for j in range(1, span)]))
    # pinned: feeds both the window ranking and the kept-token
    # anti-join — unpinned, the token explode + per-doc sort runs twice
    toks = track_persist(toks.select(
        id_col, "pos", "tok",
        F.when(F.col(f"t{span - 1}").isNotNull(),
               F.md5(F.concat_ws(" ", "tok",
                                 *[f"t{j}" for j in range(1, span)])))
        .alias("h")))
    # occurrence rank alone decides drops: rn > 1 exists ONLY for
    # hashes with >= 2 occurrences, so a separate count-over-h window
    # (a second sort pass on the same exchange) would be redundant
    wh = Window.partitionBy("h").orderBy(id_col, "s")
    occ = (toks.where(F.col("h").isNotNull())
           .select(id_col, F.col("pos").alias("s"), "h")
           .select(id_col, "s", F.row_number().over(wh).alias("rn")))
    droppos = (occ.where(F.col("rn") > 1)
               .select(id_col, F.explode(
                   F.sequence(F.col("s"), F.col("s") + (span - 1)))
                   .alias("pos"))
               .distinct())
    kept = toks.select(id_col, "pos", "tok").join(
        droppos, [id_col, "pos"], "left_anti")
    reasm = (kept.groupBy(id_col)
             .agg(F.concat_ws(" ", F.transform(
                      F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                      lambda x: x["tok"])).alias("clean_text"),
                  F.count(F.lit(1)).alias("n_kept")))
    base = df.select(
        F.col(id_col),
        F.size(F.filter(F.split(F.col(text_col), " "),
                        lambda x: x != "")).cast("long").alias("n_tokens"))
    return (base.join(reasm, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    "n_tokens",
                    (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
                    .cast("long").alias("n_removed")))


def minhash_quality_report(df: DataFrame, *, text_col: str = "text",
                           id_col: str = "doc_id", ngram: int = 3,
                           num_hashes: int = 12,
                           rows_per_band: int = 3) -> DataFrame:
    """MinHash ESTIMATOR quality on the live corpus: for every LSH
    candidate pair, the signature-agreement estimate (matching
    minhashes / num_hashes — the unbiased Jaccard estimator) next to
    the EXACT shingle Jaccard, plus the absolute error. This is the
    measurement that answers "is 12 hashes enough for this corpus?"
    before committing a 100 TB dedup run to a signature width — run it
    on a sample, read the error distribution, size the signature.

    Same bucketed plan class as the dedup pipeline itself (band
    equi-join candidates only, never all pairs); integer micro-unit
    outputs so the report hash-matches the SQL replay exactly.

    Plan shape (r9 rewrite): ONE doc-grain feature frame — per doc,
    the distinct-shingle array AND the 12 minhash columns out of a
    single groupBy over the shingle rows — persisted and reused by all
    three consumers (band rows for candidate generation, the a-side
    and the b-side of the pair joins). The previous shape persisted
    only the shingle ROWS and re-derived everything downstream per
    consumer: the signature aggregation ran twice (est's wide frame +
    the candidates' band keys), the per-doc set arrays twice
    (_pair_overlap's two sides), and — the dominant cost — the band
    self-join + pair-distinct subtree ran TWICE because ``est`` and
    ``exact`` were joined pair-to-pair at the end (plan audit: the
    initial plan held two full copies of the candidate subtree under
    the final SortMergeJoin). Now candidates are generated once, both
    metrics come out of one select over the same two doc-grain joins,
    and the final pair-grain SMJ disappears. Same integers, same
    pairs: inner joins against doc-grain frames keep every candidate
    row, and est/exact math is unchanged.
    """
    from ..plans.caching import track_persist

    sh = shingle_rows(df, text_col=text_col, id_col=id_col, ngram=ngram)
    d = F.md5("s")
    h1 = F.conv(F.substring(d, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(d, 16, 15), 16, 10).cast("long") % _CW_MOD
    mh_aggs = [F.min(F.col("h1") + i * F.col("h2")).alias(f"mh{i}")
               for i in range(num_hashes)]
    # doc-grain: one row per doc (array bounded by DOC length — the
    # _pair_overlap class, never corpus-sized in any one row)
    feat = track_persist(
        sh.select(F.col(id_col), F.col("s"), h1.alias("h1"), h2.alias("h2"))
        .groupBy(id_col)
        .agg(F.collect_list("s").alias("__ss"), *mh_aggs))
    mh_cols = [f"mh{i}" for i in range(num_hashes)]
    cands = _band_pairs(band_rows(feat.select(id_col, *mh_cols),
                                  id_col=id_col, rows_per_band=rows_per_band),
                        id_col=id_col)
    fa = feat.select(F.col(id_col).alias("id_a"),
                     F.col("__ss").alias("__ssa"),
                     *[F.col(c).alias(f"a_{c}") for c in mh_cols])
    fb = feat.select(F.col(id_col).alias("id_b"),
                     F.col("__ss").alias("__ssb"),
                     *[F.col(c).alias(f"b_{c}") for c in mh_cols])
    eq = sum(F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
             for c in mh_cols)
    i = F.size(F.array_intersect("__ssa", "__ssb"))
    ca, cb = F.size("__ssa"), F.size("__ssb")
    est = F.floor(eq * 1_000_000 / F.lit(num_hashes) + F.lit(0.5)) \
        .cast("long")
    exact = F.floor(i * 1_000_000
                    / F.greatest(ca + cb - i, F.lit(1))
                    + F.lit(0.5)).cast("long")
    return (cands.join(fa.hint("shuffle_hash"), "id_a")
            .join(fb.hint("shuffle_hash"), "id_b")
            .select("id_a", "id_b", est.alias("est_micro"),
                    exact.alias("exact_micro"),
                    F.abs(est - exact).alias("abs_err_micro")))


# ---------------------------------------------------------------------------
# Fellegi–Sunter probabilistic record linkage
# ---------------------------------------------------------------------------

_FS_FIELDS = ("lang", "source", "len", "head")


def _fs_weight_expr(k: str) -> str:
    """Integer-odds weight for one comparison field: the agreement
    weight is the odds ratio m/u in micro-units, the disagreement
    weight (1-m)/(1-u) — each a monotone transform of the classical
    log2 likelihood-ratio weight (log is monotone), kept as exact int64
    truncating divisions so the score is bit-identical across engines
    (a float log2 differs in the last ulp between libm and the JVM)."""
    return (f"CASE WHEN ag_{k} THEN (m_{k} * 1000000) div u_{k} "
            f"ELSE ((1000000 - m_{k}) * 1000000) div (1000000 - u_{k}) END")


def _fs_mu(pairs: DataFrame, cls: str) -> DataFrame:
    """One-row m/u estimate per comparison field given a 0/1 match
    classification column ``cls``: m_k = P(field k agrees | match),
    u_k = P(agrees | non-match), both as micro-units clamped into
    [1, 999999] so neither odds ratio can divide by zero. A single
    map-side-partial aggregate over the pair set."""
    aggs = []
    for k in _FS_FIELDS:
        ag = F.when(F.col(f"ag_{k}"), 1).otherwise(0)
        pos, neg = F.col(cls), 1 - F.col(cls)
        aggs += [
            F.sum(ag * pos).alias(f"__am_{k}"),
            F.sum(ag * neg).alias(f"__au_{k}"),
        ]
    aggs += [F.sum(F.col(cls)).alias("__nm"),
             F.sum(1 - F.col(cls)).alias("__nu")]
    st = pairs.agg(*aggs)
    for k in _FS_FIELDS:
        st = (st.withColumn(
            f"m_{k}", F.expr(
                f"least(greatest((__am_{k} * 1000000) "
                f"div greatest(__nm, 1), 1), 999999)"))
            .withColumn(
            f"u_{k}", F.expr(
                f"least(greatest((__au_{k} * 1000000) "
                f"div greatest(__nu, 1), 1), 999999)")))
    return st.select(*[c for k in _FS_FIELDS for c in (f"m_{k}", f"u_{k}")])


def fellegi_sunter_link(df: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id", ngram: int = 3,
                        num_hashes: int = 12, rows_per_band: int = 3,
                        seed_threshold_micro: int = 500_000,
                        decision_threshold_micro: int = 4_000_000) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over blocked
    candidates — the ER architecture (block -> compare -> score ->
    classify) with MODEL-BASED scoring instead of a hand rule.

    Stages (all relational, never all-pairs):
      1. blocking: MinHash-LSH band candidates (the 100 TB blocker);
      2. comparison vectors: four field agreements per pair (lang,
         source, length-within-10%, 12-char head) plus the exact
         shingle Jaccard in micro-units;
      3. seed classification: Jaccard >= ``seed_threshold_micro``
         bootstraps the latent match class (no labels needed);
      4. m/u estimation: one 1-row aggregate gives P(agree | match) and
         P(agree | non-match) per field — broadcast back;
      5. scoring: additive integer-odds weights (see _fs_weight_expr);
      6. ONE EM refinement: re-classify by score, re-estimate m/u,
         re-score — the fixed-iteration, engine-exact core of the EM
         loop Fellegi–Sunter estimators run to convergence.

    Every division is a truncating int64 division on clamped operands,
    so scores are deterministic across engines and partitionings. The
    pair set is persisted once: three global aggregates and the final
    projection all read it.
    """
    if decision_threshold_micro <= 0:
        raise ValueError("decision_threshold_micro must be positive")
    sh = track_persist(shingle_rows(df, text_col=text_col, id_col=id_col,
                                    ngram=ngram))
    cands = minhash_lsh_candidates(df, text_col=text_col, id_col=id_col,
                                   ngram=ngram, num_hashes=num_hashes,
                                   rows_per_band=rows_per_band, shingles=sh)
    # exact Jaccard via the doc-grain array plan (_pair_overlap — r9;
    # formerly candidates x shingle-ROWS of A merge-joined against
    # shingle rows of B plus a pair-grain count and two per-doc count
    # joins, the verify-join blowup class this round retired from the
    # setsim/containment family). Same integers: candidates come from
    # the minhash blocker over these shingles, so both docs have >= 1
    # shingle row and the inner doc-grain joins drop exactly the pairs
    # the old count joins dropped; i/ca/cb are the same distinct-set
    # sizes.
    ov = _pair_overlap(cands, sh, id_col=id_col)
    jac = ov.select("id_a", "id_b", F.expr(
        "(i * 1000000) div greatest(ca + cb - i, 1)")
        .alias("jaccard_micro"))
    attrs = df.select(
        F.col(id_col).alias("__aid"), F.col("lang").alias("__lang"),
        F.col("source").alias("__source"), F.col("n_chars").alias("__n"),
        F.lower(F.substring(F.col(text_col), 1, 12)).alias("__head"))
    a = attrs.select(F.col("__aid").alias("id_a"),
                     *[F.col(c).alias(f"a{c}") for c in
                       ("__lang", "__source", "__n", "__head")])
    b = attrs.select(F.col("__aid").alias("id_b"),
                     *[F.col(c).alias(f"b{c}") for c in
                       ("__lang", "__source", "__n", "__head")])
    pairs = (jac.join(a.hint("shuffle_hash"), "id_a")
             .join(b.hint("shuffle_hash"), "id_b")
             .select(
                 "id_a", "id_b", "jaccard_micro",
                 (F.col("a__lang") == F.col("b__lang")).alias("ag_lang"),
                 (F.col("a__source") == F.col("b__source"))
                 .alias("ag_source"),
                 (F.abs(F.col("a__n") - F.col("b__n")) * 10
                  <= F.least("a__n", "b__n")).alias("ag_len"),
                 (F.col("a__head") == F.col("b__head")).alias("ag_head"),
                 F.when(F.col("jaccard_micro")
                        >= seed_threshold_micro, 1).otherwise(0)
                 .alias("__seed")))
    pairs = track_persist(pairs)
    score = " + ".join(_fs_weight_expr(k) for k in _FS_FIELDS)
    s1 = (pairs.crossJoin(F.broadcast(_fs_mu(pairs, "__seed")))
          .withColumn("score_seed_micro", F.expr(score).cast("long"))
          .drop(*[c for k in _FS_FIELDS for c in (f"m_{k}", f"u_{k}")])
          .withColumn("__cls", F.when(
              F.col("score_seed_micro") >= decision_threshold_micro, 1)
              .otherwise(0)))
    s1 = track_persist(s1)
    s2 = (s1.crossJoin(F.broadcast(_fs_mu(s1, "__cls")))
          .withColumn("score_micro", F.expr(score).cast("long")))
    n_agree = sum(F.when(F.col(f"ag_{k}"), 1).otherwise(0)
                  for k in _FS_FIELDS)
    return s2.select(
        "id_a", "id_b", "jaccard_micro",
        n_agree.cast("int").alias("n_agree"),
        "score_seed_micro", "score_micro",
        (F.col("score_micro") >= decision_threshold_micro).alias("matched"))


def dedup_method_eval(df: DataFrame, *, text_col: str = "text",
                      id_col: str = "doc_id",
                      threshold: float = 0.5) -> DataFrame:
    """Dedup METHOD-SELECTION report: candidate-pair precision/recall of
    the three blocking strategies against the complete exact ground
    truth — the measurement that picks a near-dup method (and its cost)
    before a 100 TB dedup commit.

      ground truth   every pair with 3-gram Jaccard >= ``threshold``,
                     from the PPJoin exact set-similarity join (whose
                     completeness the setsim_prefix_pairs gate proves);
      minhash_lsh    band-collision candidates (12 hashes, 4 bands x 3);
      simhash64_bands  16-bit pigeonhole band collisions (pre-verify);
      winnowing      >= 2 shared selected fingerprints with the MOSS
                     doc-frequency cap.

    Per method: candidate count, true positives, precision and recall
    in exact integer micro-units. Precision says how much verify work
    the blocker wastes; recall what it misses (simhash/winnowing hunt a
    DIFFERENT similarity notion than Jaccard — their sub-1 recall here
    is the quantified cost of that mismatch). Every pair set is a
    bucketed equi-join; the report aggregates are pair-grain counts.
    """
    from .text import capped_winnow_fingerprints

    # ONE shingle build feeds the exact ground truth and the MinHash
    # blocker (r9: each previously re-derived its own shingle rows —
    # two extra explode + per-doc-window + distinct passes per run)
    sh = track_persist(shingle_rows(df, text_col=text_col, id_col=id_col,
                                    ngram=3))
    truth = track_persist(
        prefix_filter_pairs(df, text_col=text_col, id_col=id_col,
                            ngram=3, threshold=threshold, shingles=sh)
        .select("id_a", "id_b"))
    mh = minhash_lsh_candidates(df, text_col=text_col, id_col=id_col,
                                ngram=3, shingles=sh)
    shc = _band_pairs(
        simhash_band_rows(simhash(df, bits=64, text_col=text_col,
                                  id_col=id_col),
                          id_col=id_col, bits=64, max_hamming=3),
        id_col=id_col)
    f2 = capped_winnow_fingerprints(df, text_col=text_col, id_col=id_col)
    fa = f2.select(F.col(id_col).alias("id_a"), "fp_hash")
    fb = f2.select(F.col(id_col).alias("id_b"), "fp_hash")
    wn = (fa.join(fb, "fp_hash")
          .where(F.col("id_a") < F.col("id_b"))
          .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("ns"))
          .where(F.col("ns") >= 2).select("id_a", "id_b"))
    preds = (mh.withColumn("method", F.lit("minhash_lsh"))
             .unionByName(shc.withColumn("method",
                                         F.lit("simhash64_bands")))
             .unionByName(wn.withColumn("method", F.lit("winnowing"))))
    preds = track_persist(preds)
    np_ = preds.groupBy("method").agg(F.count(F.lit(1)).alias("n_pred"))
    tp = (preds.join(truth, ["id_a", "id_b"])
          .groupBy("method").agg(F.count(F.lit(1)).alias("true_pos")))
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return (np_.join(tp, "method", "left").na.fill({"true_pos": 0})
            .crossJoin(F.broadcast(nt))
            .select(
                "method", "n_pred", "n_truth",
                F.col("true_pos").cast("long").alias("true_pos"),
                F.expr("(true_pos * 1000000) div greatest(n_pred, 1)")
                  .alias("precision_micro"),
                F.expr("(true_pos * 1000000) div greatest(n_truth, 1)")
                  .alias("recall_micro")))
