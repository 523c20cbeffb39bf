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
  - SimHash packs a document into one 32-bit int; near-dup pairs are
    candidates whose hamming distance <= k (self-equi-join on band
    rotations would be the scale path; here candidates come from LSH or
    small-N cross).

All hashing is md5-based so results are bit-identical to the DuckDB
oracle SQL.
"""

from __future__ import annotations

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
    need sizes (setsim's length filter) stop paying a separate count
    aggregate + per-side join (guide §2.4).
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


def minhash_lsh_candidates(df: DataFrame, *, text_col: str = "text",
                           id_col: str = "doc_id", ngram: int = 3,
                           num_hashes: int = 12, rows_per_band: int = 3,
                           shingles: DataFrame | None = None,
                           with_sizes: bool = False) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >= 1 LSH bucket.

    Plan shape: shingle rows -> signature rows -> band rows -> self
    equi-join on (band, band_key) -> distinct pairs. The join is
    key-bucketed, never all-pairs; distinct is one extra shuffle on the
    pair. Boilerplate-heavy corpora skew some buckets — AQE skew-join
    splits them at runtime.

    ``with_sizes=True`` adds ``ca``/``cb`` (each side's shingle-set
    size) to every pair: the size is aggregated in the SAME pass as
    the signature and rides the band rows, so consumers needing a
    length filter (setsim) skip a count aggregate and two joins of the
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
    # MERGE, not broadcast and not shuffled-hash: bands is a
    # corpus-scale intermediate (num_bands rows per doc) whose size
    # local parquet stats undersell (the explode/window expansion is
    # invisible to estimates), so un-hinted Catalyst would broadcast
    # EACH side of the self-join — five broadcast exchanges of the
    # whole corpus at 100 TB. And an SHJ build map of the band rows is
    # the measured sf100 OOM (stage-16 HashedRelation failure at 5M
    # docs x 4 bands over 32 partitions, with the persisted shingle
    # cache shrinking the unified execution pool — SCALE.md §26).
    # Sort-merge spills; AQE still splits skewed buckets.
    # hint applied once, BEFORE aliasing both sides: identical subtrees
    # canonicalize to one ReusedExchange (a one-sided hint node broke
    # that, recomputing the whole signature pipeline per side)
    bands = bands.hint("merge")
    a, b = bands.alias("a"), bands.alias("b")
    size_cols = ([F.col("a.c").alias("ca"), F.col("b.c").alias("cb")]
                 if with_sizes else [])
    return (a.join(b, ["band", "band_key"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"), *size_cols)
            .distinct())


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


def jaccard_verify(df: DataFrame, candidates: DataFrame, *, text_col: str = "text",
                   id_col: str = "doc_id", ngram: int = 3,
                   threshold: float = 0.5,
                   shingles: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only; keep >= threshold.

    |A ∩ B| via the doc-grain array-intersection plan
    (``_pair_overlap`` — see its docstring for the r9 plan-shape
    evidence); jaccard = i / (|A| + |B| - i), with |A| = the array
    size (identical to the former per-doc count join: shingle rows
    are distinct per doc).
    """
    sh = shingles if shingles is not None else \
        shingle_rows(df, text_col=text_col, id_col=id_col, ngram=ngram)
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
    if |S ∩ B| >= o = ceil(t*|S|), the first |S| - o + 1 shingles of S
    in rare-first order intersect B, so candidates = (rarity prefix of
    the potentially-smaller side) equi-joined against ALL shingles —
    every qualifying pair is generated, recall 1.0 by the lemma. The
    required-overlap ceiling is exact integer arithmetic
    ((t_micro * c + 999999) div 1e6 — a DOUBLE ceil disagrees between
    engines at exact multiples), scores are integer micro-units, so
    the SQL replay is hash-identical.

    Scale shape: candidate volume is sum over prefix rows of df(s) —
    rare-first prefixes keep those buckets small, and the same loud
    ``max_candidate_estimate`` pre-flight as prefix_filter_pairs
    bounds it from a one-agg histogram before any pair forms. The
    corpus-scale join sides pin merge (spillable, SCALE.md §26).
    """
    from pyspark.sql import Window
    sh = track_persist(shingle_rows(df, text_col=text_col, id_col=id_col,
                                    ngram=ngram))
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("sf"))
    # per-doc size c rides the SAME window exchange as the prefix rank
    # (count over the unordered doc partition) — r9 removed the
    # separate count aggregate + shuffle_hash join that previously
    # re-derived it (guide §2.4: two operations keyed the same way
    # share one exchange). Identical integers: count(*) per doc.
    ranked = (sh.join(freq, "s")
              .withColumn("rnk", F.row_number().over(
                  Window.partitionBy(id_col).orderBy("sf", "s")))
              .withColumn("c", F.count(F.lit(1)).over(
                  Window.partitionBy(id_col))))
    # required overlap o = ceil(t * c) in EXACT integer micro units;
    # prefix keeps ranks 1 .. c - o + 1
    o = F.expr(f"({threshold_micro} * c + 999999) div 1000000")
    # pinned (r9): the guard's pre-flight estimate and the candidate
    # join are TWO consumers of this subtree — unpinned, the
    # freq-join + per-doc rank window ran once for the estimate and
    # again inside the main query (plan audit: the window sort is the
    # most expensive pre-candidate stage)
    # the prefix rows carry their shingle's corpus frequency sf (from
    # the ranked join), so the guard estimate below is ONE aggregate
    # over the persisted frame — r10 removed the estimate's own
    # groupBy(s) + re-join against freq (guide §2.4; stage profile at
    # sf0.1/32c: the guard job was 0.64 s of the 4.0 s query). Same
    # integer: sum over prefix rows of (sf - 1) = sum over s of
    # np(s) * (sf(s) - 1). The extra int64 column on the pin is noise
    # next to the shingle strings.
    pref = track_persist(
        ranked.where(F.col("rnk") <= F.col("c") - o + 1)
        .select(F.col(id_col), F.col("s"), F.col("sf")))
    if max_candidate_estimate is not None:
        est = (pref.agg(F.sum(F.col("sf") - 1).alias("e"))
               .collect()[0]["e"]) or 0
        if est > max_candidate_estimate:
            raise RuntimeError(
                f"containment_pairs: estimated candidate volume "
                f"{int(est):,} exceeds max_candidate_estimate="
                f"{max_candidate_estimate:,}. Containment blocking at "
                f"this shingle-frequency profile needs executor-fleet "
                f"memory; drop boilerplate shingles first (a doc-"
                f"frequency cap upstream) or pass "
                f"max_candidate_estimate=None to run unguarded.")
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


def ngram_jaccard_pairs(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id",
                        ngram: int = 3, threshold: float = 0.5,
                        num_hashes: int = 12, rows_per_band: int = 3) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard verify.

    The shingle rows feed four consumers (signature, intersection join
    x2, per-doc counts); Catalyst does not reuse the exchange across
    them, so the subtree is persisted — the 100 TB shape is the same
    decision with parquet instead of memory (materialize shingles once,
    the standard first stage of a corpus-dedup pipeline, and feed every
    consumer from that scan). Measured round 1: the cache-fill barrier
    costs ~0.5 s at sf0.1 and removes 5 recomputations of the
    explode+window shingling, whose re-codegen under AQE dominated the
    query in long-lived sessions.
    """
    sh = track_persist(shingle_rows(df, text_col=text_col, id_col=id_col, ngram=ngram))
    cands = minhash_lsh_candidates(df, text_col=text_col, id_col=id_col, ngram=ngram,
                                   num_hashes=num_hashes, rows_per_band=rows_per_band,
                                   shingles=sh)
    return jaccard_verify(df, cands, text_col=text_col, id_col=id_col,
                          ngram=ngram, threshold=threshold, shingles=sh)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash32(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per document from distinct lowercase tokens.

    Bit j of md5(token) (hex-decoded) contributes +1/-1; simhash bit j is
    the sign of the sum. One row per (doc, distinct token), ONE shuffle
    keyed by doc with map-side partials.

    Vote sums are PACKED: the 32 bit-votes ride in 8 longs with 16-bit
    lanes (4 bits per long), so the aggregate is 8 packed sums + a
    count — not 32 sum columns. The earlier 32-column form generated a
    whole-stage method so large the JIT intermittently left it
    interpreted (5-60s swings in a long-lived session); 9 small
    aggregates codegen to JIT-friendly methods and run in a stable
    ~2.5s at sf0.1. The +-1 vote sum is recovered as 2*s_j - n (s_j =
    per-bit 1-count, n = token count); lanes overflow only past 32767
    distinct tokens per doc — far beyond any real document.
    Bit-identical to the SQL oracle's exploded formulation.
    """
    toks = df.select(F.col(id_col),
                     F.explode(F.array_distinct(F.transform(tokens(text_col), F.lower)))
                     .alias("tok"))
    # One conv() decodes the first 8 md5 hex chars into a 32-bit int;
    # hex char j//4+1 is nibble (7 - j//4) of that int and bit j%4 of
    # the nibble is vote bit j — identical bits to the oracle's
    # strpos-per-char formulation. Computed INLINE per (doc, token) row:
    # md5 is cheap and embarrassingly parallel, and inlining keeps the
    # plan one straight scan->explode->agg pipeline with NO broadcast
    # join (an earlier hash-the-vocab-once + broadcast-join variant
    # added two extra query stages whose single-task broadcast jobs
    # intermittently sat unscheduled for tens of seconds in long-lived
    # sessions). Subexpression elimination collapses the md5/conv to one
    # evaluation per row at codegen time.
    h32 = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")

    def packed(g):  # lanes j = 4g..4g+3, 16 bits apart
        # group g's four vote bits are exactly nibble (7-g) of h32
        # (bit j sits at 4*(7 - j//4) + j%4, and j//4 == g across the
        # group), so ONE multiply spreads them to the 16-bit lanes:
        # nib * (1 + 2^15 + 2^30 + 2^45) puts bit k at position
        # 16k (k + 15k), every product term lands on a distinct bit
        # (no carries), and the lane mask keeps positions {0,16,32,48}.
        # r10 (guide §1.2 per-task work): replaces 4 shift/mask/shift
        # chains + 3 adds per group — measured 0.64 -> 0.44 s on the
        # sf0.1 vote aggregate with bit-identical sums, and the
        # generated code shrinks ~6x (less JIT warmup).
        nib = F.shiftright(h32, 4 * (7 - g)).bitwiseAND(F.lit(15))
        return (nib * F.lit(0x200040008001)) \
            .bitwiseAND(F.lit(0x1000100010001)).alias(f"p{g}")

    voted = toks.select(F.col(id_col), *[packed(g) for g in range(8)])
    sums = voted.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col(f"p{g}")).alias(f"S{g}") for g in range(8)])
    simhash = None
    for j in range(32):
        s_j = F.shiftright(F.col(f"S{j//4}"), 16 * (j % 4)).bitwiseAND(F.lit(0xFFFF))
        term = F.when(2 * s_j > F.col("n"), F.lit(1 << j).cast("long")).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return sums.select(id_col, simhash.alias("simhash"))


def simhash64(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document — the corpus-scale variant.

    Same packed-lane vote aggregation as ``simhash32`` (which documents
    the design), doubled: 64 bit-votes ride in 16 longs with 16-bit
    lanes. Why 64 bits matters at scale: with pigeonhole banding at
    ``max_hamming=3`` the four bands carry 16 bits each (65536 buckets
    per band instead of 256), so candidate volume — which scales with
    the sum of per-bucket squares — drops by orders of magnitude while
    recall stays exactly 1.0. Bits come from the first 16 md5 hex chars
    decoded as two 32-bit halves (a single 16-char conv would overflow
    signed long); bit j of the hash is bit (j%4) of hex nibble (j//4),
    identical to the SQL oracle's strpos formulation.
    """
    toks = df.select(F.col(id_col),
                     F.explode(F.array_distinct(F.transform(tokens(text_col), F.lower)))
                     .alias("tok"))
    hA = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    hB = F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long")

    def packed(g):  # lanes j = 4g..4g+3, 16 bits apart
        # one multiply spreads nibble (7 - g%8) of the group's hash
        # half to the 16-bit lanes — see simhash32.packed for the
        # derivation and the r10 measurement (bit-identical sums)
        h = hA if g < 8 else hB
        nib = F.shiftright(h, 4 * (7 - (g % 8))).bitwiseAND(F.lit(15))
        return (nib * F.lit(0x200040008001)) \
            .bitwiseAND(F.lit(0x1000100010001)).alias(f"p{g}")

    voted = toks.select(F.col(id_col), *[packed(g) for g in range(16)])
    sums = voted.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col(f"p{g}")).alias(f"S{g}") for g in range(16)])
    simhash = None
    for j in range(64):
        s_j = F.shiftright(F.col(f"S{j//4}"), 16 * (j % 4)).bitwiseAND(F.lit(0xFFFF))
        # bit 63 of a signed long is the sign bit: its "1 << 63" is the
        # most negative long, not a positive power of two
        weight = F.lit(-(1 << 63)) if j == 63 else F.lit(1 << j).cast("long")
        term = F.when(2 * s_j > F.col("n"), weight).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash + term
    return sums.select(id_col, simhash.alias("simhash"))


def simhash_band_rows(sim: DataFrame, *, id_col: str = "doc_id",
                      bits: int = 32, max_hamming: int = 3) -> DataFrame:
    """(id, simhash, band, band_key) rows: pigeonhole bit-bands.

    The ``bits`` hash bits are split into ``max_hamming + 1`` contiguous
    bands; any pair within hamming distance ``max_hamming`` differs in at
    most ``max_hamming`` bands and therefore matches EXACTLY on at least
    one band (pigeonhole — guaranteed recall, unlike probabilistic LSH).
    Band extraction is a shift+mask on the packed hash — pure codegen,
    no arrays beyond the small posexplode.
    """
    nbands = max_hamming + 1
    sizes = [bits // nbands + (1 if i < bits % nbands else 0)
             for i in range(nbands)]
    keys, start = [], 0
    for size in sizes:
        keys.append(F.shiftright(F.col("simhash"), start)
                    .bitwiseAND(F.lit((1 << size) - 1)))
        start += size
    return sim.select(F.col(id_col), F.col("simhash"),
                      F.posexplode(F.array(*keys)).alias("band", "band_key"))


def simhash_pairs(sim: DataFrame, *, id_col: str = "doc_id",
                  max_hamming: int = 3, bits: int = 32) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming.

    Banded pigeonhole LSH — the 100 TB shape: explode each doc into
    ``max_hamming + 1`` (band, band_key) rows, self EQUI-join per band
    (never all-pairs), verify exact hamming on the candidates, distinct
    the pairs. Recall is exactly 1.0 by pigeonhole, so the output is
    bit-identical to the O(N^2) formulation the oracle runs.

    Candidate volume scales with sum of per-bucket squares, not N^2:
    with 32-bit hashes and k=6 the 4-5-bit bands are coarse (2^4..2^5
    buckets); at real corpus scale use a 64-bit simhash with k<=3 so
    bands carry 16 bits each — same plan, finer buckets.
    """
    # persist the shared band subtree: the self-join's two branches do
    # not canonicalize to one exchange, so without it the whole
    # signature aggregation runs twice — same decision as
    # ngram_jaccard_pairs; at 100 TB materialize the signatures to
    # parquet once instead (the standard first stage). The shuffle_hash
    # hint (never broadcast: bands is a corpus-scale intermediate, same
    # rationale as minhash_lsh_candidates) is applied BEFORE persist so
    # both join branches canonicalize to the cached plan — hinting one
    # side afterwards made that side miss the cache and recompute the
    # signatures.
    bands = (simhash_band_rows(sim, id_col=id_col, bits=bits,
                               max_hamming=max_hamming)
             .hint("merge"))
    bands = track_persist(bands)
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (a.join(b, ["band", "band_key"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    ham.alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct())


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

    Prefix-filtering principle: order every doc's shingles by a global
    rarity order (corpus frequency asc, shingle asc); if J(A,B) >= t
    the first |A| - ceil(t*|A|) + 1 shingles of A and the first
    |B| - ceil(t*|B|) + 1 of B must share one — so a candidate pair
    only forms on a shared PREFIX shingle (rare-first ordering keeps
    those buckets small), plus the length filter t*|A| <= |B| <= |A|/t.
    Exact Jaccard verification then runs on candidates only
    (jaccard_verify reuse). Completeness is gate-checked: the DuckDB
    oracle computes brute-force all-pairs.

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
    exceeds ``max_candidate_estimate``, naming the memory-safe composed
    alternative ``setsim_pairs(prefilter='lsh')`` (LSH near-dup first,
    exact verification on the bucketed candidates). Pass ``None`` to
    run unguarded on a fleet with the memory for it.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from pyspark.sql import Window
    from ..plans.caching import track_persist
    # ``shingles``: share a caller-persisted shingle-row frame (the
    # multi-method comparison path — dedup_method_eval builds shingles
    # once and feeds PPJoin truth AND the MinHash blocker from it)
    sh = shingles if shingles is not None else track_persist(
        shingle_rows(df, text_col=text_col, id_col=id_col, ngram=ngram))
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("sf"))
    # freq is UN-hinted: it sits behind its own shuffle (the groupBy),
    # so AQE joins it with EXACT runtime stats — broadcast when the
    # type table is small, partitioned (spillable) when it is
    # corpus-sized. The underestimate risk that forces pins elsewhere
    # only exists for un-aggregated explode outputs with no shuffle
    # boundary in front of the join decision.
    # per-doc size c rides the SAME window exchange as the prefix rank
    # (count over the unordered doc partition) — r9 removed the
    # separate count aggregate + shuffle_hash join that previously
    # re-derived it (guide §2.4). Identical integers: count(*) per doc.
    ranked = (sh.join(freq, "s")
              .withColumn("rnk", F.row_number().over(
                  Window.partitionBy(id_col).orderBy("sf", "s")))
              .withColumn("c", F.count(F.lit(1)).over(
                  Window.partitionBy(id_col))))
    # pa and pb below are TWO consumers of this subtree; without a pin
    # Catalyst re-runs the freq join + rank window once per side (plan
    # audit: 10 cache scans -> 5). Prefix rows are doc-grain-bounded.
    pref = track_persist(
        ranked.where(F.col("rnk")
                     <= F.col("c") - F.ceil(F.lit(threshold) * F.col("c")) + 1)
        .select(F.col(id_col), F.col("s"), F.col("c")))
    if max_candidate_estimate is not None:
        est = (pref.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
               .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("e"))
               .collect()[0]["e"]) or 0
        if est > max_candidate_estimate:
            raise RuntimeError(
                f"prefix_filter_pairs: estimated candidate volume "
                f"{int(est):,} exceeds max_candidate_estimate="
                f"{max_candidate_estimate:,}. Exact PPJoin at this "
                f"duplicate density needs executor-fleet memory; the "
                f"memory-safe production order is "
                f"setsim_pairs(prefilter='lsh') — LSH-bucketed "
                f"candidates, identical exact verification. Pass "
                f"max_candidate_estimate=None to run unguarded.")
    pa = pref.select(F.col(id_col).alias("id_a"), "s",
                     F.col("c").alias("ca"))
    pb = pref.select(F.col(id_col).alias("id_b"),
                     F.col("s").alias("s_b"), F.col("c").alias("cb"))
    # pb keeps the SHJ build: this exact-complete variant is BY CONTRACT
    # the fleet-memory path (docstring + max_candidate_estimate guard;
    # the memory-safe production order is setsim_pairs(prefilter='lsh')),
    # and its prefix-bucket join is the documented 48 GB sf10 surface —
    # pinning merge here only taxes the gate-scale audits that remain.
    cands = (pa.join(pb.hint("shuffle_hash"),
                     (F.col("s") == F.col("s_b"))
                     & (F.col("id_a") < F.col("id_b"))
                     # length filter: t*ca <= cb <= ca/t is required for
                     # J >= t to be possible at all
                     & (F.col("cb") >= F.lit(threshold) * F.col("ca"))
                     & (F.col("cb") * F.lit(threshold) <= F.col("ca")))
             .select("id_a", "id_b").distinct())
    return jaccard_verify(df, cands, text_col=text_col, id_col=id_col,
                          ngram=ngram, threshold=threshold, shingles=sh)


def setsim_pairs(df: DataFrame, *, text_col: str = "text",
                 id_col: str = "doc_id", ngram: int = 3,
                 threshold: float = 0.5, prefilter: str | None = "lsh",
                 num_hashes: int = 12, rows_per_band: int = 3,
                 max_candidate_estimate: int | None = 100_000_000
                 ) -> DataFrame:
    """Set-similarity join front door — picks the candidate-generation
    strategy by memory regime, exact verification either way.

    ``prefilter='lsh'`` (default — the production order at scale): LSH
    band buckets generate candidates (volume bounded by band-bucket
    occupancy — the shape that held exponent 0.55 at sf10), then
    PPJoin's lossless LENGTH filter prunes them (free: the set sizes
    ride the band join). Exact Jaccard on every surviving candidate;
    recall is LSH's (probabilistic at the threshold boundary,
    documented in COVERAGE.md) — within the candidate set,
    completeness is exact, so the result is precisely
    {pairs with J >= t} ∩ {LSH candidates}.

    The r8-r9 shape ALSO ran PPJoin's prefix-agreement filter on the
    LSH candidates (a true pair must share a rarity-order prefix
    shingle — lossless, so the result set is identical either way).
    r10 REMOVED it by measurement: it pruned candidates ~2.5x (8067 ->
    3136 at sf0.1) but paid a corpus-frequency aggregate, a
    corpus-scale shingle-rows join, and two per-doc windows to do so —
    ~2 corpus-scale exchanges to save pair-grain work that the r9
    doc-grain array verify made cheap. A/B at sf0.1/32c (same session,
    alternating order, collect-identical results): 3.96 -> 1.96 s
    (0.49x). Both sides of the tradeoff scale linearly with corpus
    volume (bucket count grows, occupancy stays — the sf10-measured
    regime), so the ratio carries; re-confirmed at sf10 (see
    OPTIMIZATION_r10.md).

    ``prefilter=None``: deterministic-complete exact PPJoin
    (prefix_filter_pairs) — guaranteed to find EVERY qualifying pair,
    at candidate volume inherent to the corpus's duplicate density;
    guarded by ``max_candidate_estimate`` (raises loudly, naming this
    composed path, rather than OOM-thrashing a small driver).

    The length filter is lossless for true pairs (All-Pairs theorem:
    J(A,B) >= t implies t*max(|A|,|B|) <= min(|A|,|B|)), so the
    composed path loses nothing beyond LSH's own candidate recall.
    """
    if prefilter is None:
        return prefix_filter_pairs(
            df, text_col=text_col, id_col=id_col, ngram=ngram,
            threshold=threshold,
            max_candidate_estimate=max_candidate_estimate)
    if prefilter != "lsh":
        raise ValueError(f"prefilter must be 'lsh' or None, got {prefilter!r}")
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from ..plans.caching import track_persist
    sh = track_persist(shingle_rows(df, text_col=text_col, id_col=id_col,
                                    ngram=ngram))
    # length filter: J >= t requires t * max(|A|,|B|) <= min(|A|,|B|);
    # id order is not size order, so compare least/greatest. The sizes
    # ride the band pipeline (with_sizes — aggregated in the signature
    # pass), so no count aggregate and no per-side join of the
    # candidate table exists here (r9, guide §2.4; formerly one agg +
    # two shuffle_hash joins). The prefix-agreement filter that used
    # to run here was removed in r10 — see the docstring for the
    # measurement (lossless filter, identical result, 2x query cost).
    cands1 = (minhash_lsh_candidates(df, text_col=text_col, id_col=id_col,
                                     ngram=ngram, num_hashes=num_hashes,
                                     rows_per_band=rows_per_band,
                                     shingles=sh, with_sizes=True)
              .where(F.least("ca", "cb")
                     >= F.lit(threshold) * F.greatest("ca", "cb"))
              .select("id_a", "id_b"))
    return jaccard_verify(df, cands1, text_col=text_col, id_col=id_col,
                          ngram=ngram, threshold=threshold, shingles=sh)


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
    keys = [F.md5(F.concat_ws("|", *mh_cols[b:b + rows_per_band]))
            for b in range(0, num_hashes, rows_per_band)]
    # merge hint before aliasing, as in minhash_lsh_candidates: band
    # rows are fan-out-sized (never broadcast / SHJ-build at scale)
    bands = feat.select(
        F.col(id_col), F.posexplode(F.array(*keys)).alias("band", "band_key")
    ).hint("merge")
    a, b = bands.alias("a"), bands.alias("b")
    cands = (a.join(b, ["band", "band_key"])
             .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .distinct())
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
                     completeness the setsim gate proves);
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
    bands = (simhash_band_rows(simhash64(df, text_col=text_col,
                                         id_col=id_col),
                               id_col=id_col, bits=64, max_hamming=3)
             .hint("merge"))
    bands = track_persist(bands)
    a, b = bands.alias("a"), bands.alias("b")
    shc = (a.join(b, ["band", "band_key"])
           .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
           .select(F.col(f"a.{id_col}").alias("id_a"),
                   F.col(f"b.{id_col}").alias("id_b"))
           .distinct())
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
