"""Property-based tests (hypothesis) checking operator semantics against
plain-Python reference models — the upgrade over the reference's
golden-only strategy (SURVEY §5)."""

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from go_streams_spark.api import Source
from go_streams_spark.operators import (
    running_reduce, batch_by_count, zip_with, split, merge,
)

ints = st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=30)
SETTINGS = dict(max_examples=8, deadline=None)  # Spark jobs are slow; few, meaty examples


@given(xs=ints)
@settings(**SETTINGS)
def test_running_sum_matches_python_scan(spark, xs):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(xs)], "ord int, value long")
    out = Source(df).via(running_reduce("value", order_by=["ord"], fn="sum")).to_df()
    got = [r["acc"] for r in out.orderBy("ord").collect()]
    expect, acc = [], 0
    for v in xs:
        acc += v
        expect.append(acc)
    assert got == expect


@given(xs=ints, size=st.integers(min_value=1, max_value=7))
@settings(**SETTINGS)
def test_batch_partition_sizes(spark, xs, size):
    df = spark.createDataFrame([(i,) for i in range(len(xs))], "v int")
    out = Source(df).via(batch_by_count(size, order_by=["v"])).to_df()
    sizes = [r["cnt"] for r in
             out.groupBy("batch_id").agg(F.count(F.lit(1)).alias("cnt"))
             .orderBy("batch_id").collect()]
    n = len(xs)
    expect = [size] * (n // size) + ([n % size] if n % size else [])
    assert sizes == expect  # all full batches + one final partial (flow/batch.go:98-104)


@given(a=ints, b=ints)
@settings(**SETTINGS)
def test_zip_with_matches_python_zip_padded(spark, a, b):
    da = spark.createDataFrame([(i, v) for i, v in enumerate(a)], "ord int, v long")
    db = spark.createDataFrame([(i, v) for i, v in enumerate(b)], "ord int, w long")
    out = zip_with(lambda x, y: x + y, [da, db], [["ord"], ["ord"]], ["v", "w"], [0, 0])
    got = [r["value"] for r in out.collect()]
    n = max(len(a), len(b))
    pa = a + [0] * (n - len(a))
    pb = b + [0] * (n - len(b))
    assert got == [x + y for x, y in zip(pa, pb)]


@given(xs=ints, pivot=st.integers(min_value=-1000, max_value=1000))
@settings(**SETTINGS)
def test_split_merge_is_partition(spark, xs, pivot):
    df = spark.createDataFrame([(v,) for v in xs], "v long")
    hi, lo = split(df, F.col("v") >= pivot)
    assert sorted(r["v"] for r in merge(hi, lo).collect()) == sorted(xs)
    assert all(r["v"] >= pivot for r in hi.collect())
    assert all(r["v"] < pivot for r in lo.collect())


@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=15),
    rights=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50),
                              st.floats(0, 100, allow_nan=False)), min_size=0, max_size=15),
)
@settings(**SETTINGS)
def test_asof_join_matches_python_model(spark, lefts, rights):
    from go_streams_spark.operators import asof_join
    # dedupe right (k, ts) to keep the model unambiguous (the engine
    # breaks exact ties by arbitrary order within equal (ts, side))
    seen = {}
    for k, ts, v in rights:
        seen[(k, ts)] = v
    rights = [(k, ts, v) for (k, ts), v in seen.items()]
    left = spark.createDataFrame([(k, ts, i) for i, (k, ts) in enumerate(lefts)],
                                 "k int, ts int, rowid int")
    right = spark.createDataFrame(rights, "k int, ts int, val double") \
        if rights else spark.createDataFrame([], "k int, ts int, val double")
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts",
                    right_values=["val"])
    got = {r["rowid"]: r["val_asof"] for r in out.collect()}
    for i, (k, ts) in enumerate(lefts):
        cands = [(rts, v) for rk, rts, v in rights if rk == k and rts <= ts]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, (i, k, ts, cands)


words = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
docs_strategy = st.lists(
    st.lists(words, min_size=1, max_size=12).map(" ".join),
    min_size=1, max_size=6)


def _chunk_dedup_model(texts, chunk_size):
    """Plain-Python reference model of functions.dedup.chunk_dedup."""
    chunks = []  # (doc_id, cid, chunk_text) in global keep-order
    for doc_id, text in enumerate(texts):
        toks = [t for t in text.lower().split(" ") if t]
        for cid in range(0, (len(toks) + chunk_size - 1) // chunk_size):
            chunks.append(
                (doc_id, cid,
                 " ".join(toks[cid * chunk_size:(cid + 1) * chunk_size])))
    seen, kept = set(), set()
    for doc_id, cid, chunk in sorted(chunks):  # (doc_id, cid) order
        if chunk not in seen:
            seen.add(chunk)
            kept.add((doc_id, cid))
    out = {}
    for doc_id, text in enumerate(texts):
        mine = sorted((cid, c) for d, cid, c in chunks if d == doc_id)
        kept_chunks = [c for cid, c in mine if (doc_id, cid) in kept]
        out[doc_id] = (len(mine), len(kept_chunks),
                       " ".join(kept_chunks) if kept_chunks else None)
    return out


@given(texts=docs_strategy, chunk_size=st.sampled_from([2, 3, 8]))
@settings(**SETTINGS)
def test_chunk_dedup_matches_python_model(spark, texts, chunk_size):
    from go_streams_spark.functions.dedup import chunk_dedup
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_chunks"], r["n_kept"], r["clean_text"])
           for r in chunk_dedup(df, chunk_size=chunk_size).collect()}
    assert got == _chunk_dedup_model(texts, chunk_size)


@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 100)),
                   min_size=1, max_size=12),
    rights=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 100)),
                    min_size=0, max_size=12),
    bounds=st.tuples(st.integers(-20, 10), st.integers(-10, 20)).filter(
        lambda t: t[1] > t[0]),
)
@settings(**SETTINGS)
def test_interval_join_matches_python_model(spark, lefts, rights, bounds):
    """Bucketized interval join == the O(n^2) definitional model, for
    arbitrary keys/times/bounds (incl. negative-only windows)."""
    from go_streams_spark.operators import interval_join
    lo, hi = bounds
    left = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(lefts)],
        "k int, lts int, lid int").withColumn("lts", F.col("lts").cast("timestamp"))
    right = (spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(rights)],
        "k int, rts int, rid int") if rights else
        spark.createDataFrame([], "k int, rts int, rid int")) \
        .withColumn("rts", F.col("rts").cast("timestamp"))
    out = interval_join(left, right, on=["k"], left_ts="lts", right_ts="rts",
                        lower_seconds=lo, upper_seconds=hi)
    got = sorted((r["lid"], r["rid"]) for r in out.collect())
    expect = sorted((i, j)
                    for i, (lk, lts) in enumerate(lefts)
                    for j, (rk, rts) in enumerate(rights)
                    if lk == rk and lts + lo <= rts <= lts + hi)
    assert got == expect


@given(ts=st.integers(0, 10_000),
       size=st.integers(2, 120),
       slide=st.integers(1, 60))
@settings(**SETTINGS)
def test_sliding_window_assignment_matches_reference_model(spark, ts, size, slide):
    """Spark window(ts, size, slide) assigns an event to exactly the
    windows whose slide-aligned start covers it — the same
    floor-to-slide alignment as the reference
    (flow/sliding_window.go:309-326)."""
    if slide > size:
        slide = size  # overlapping or tumbling only, like the reference
    df = spark.createDataFrame([(ts,)], "t long") \
        .select(F.col("t").cast("timestamp").alias("t"))
    got = sorted(
        int(r["w"]["start"].timestamp())
        for r in df.groupBy(F.window("t", f"{size} seconds",
                                     f"{slide} seconds").alias("w"))
        .count().select("w").collect())
    import math
    k_min = math.floor((ts - size) / slide) + 1
    k_max = math.floor(ts / slide)
    expect = [k * slide for k in range(k_min, k_max + 1)]
    assert got == expect


@given(
    ts_list=st.lists(st.integers(0, 500), min_size=1, max_size=25),
    gap=st.integers(min_value=5, max_value=60),
)
@settings(**SETTINGS)
def test_session_window_matches_islands_model(spark, ts_list, gap):
    """Built-in session_window == the gaps-and-islands model: sort the
    timestamps, cut where the gap to the predecessor EXCEEDS `gap`
    seconds (a successor at exactly prev + gap still merges — same
    boundary the `>` in the session_window_events oracle encodes)."""
    from go_streams_spark.operators import session_window
    df = spark.createDataFrame([(t,) for t in ts_list], "t long") \
        .select(F.col("t").cast("timestamp").alias("t"))
    out = Source(df).via(session_window(
        "t", f"{gap} seconds", F.count(F.lit(1)).alias("cnt"))).to_df()
    got = sorted(r["cnt"] for r in out.collect())
    xs = sorted(ts_list)
    sizes, cur = [], 1
    for prev, nxt in zip(xs, xs[1:]):
        if nxt - prev > gap:
            sizes.append(cur)
            cur = 1
        else:
            cur += 1
    sizes.append(cur)
    assert got == sorted(sizes)


@given(a=ints, b=ints, c=ints)
@settings(**SETTINGS)
def test_zip_with_three_inputs_padding(spark, a, b, c):
    """3-way positional zip with zero-padding — the N>2 case of the
    reference's ZipWith padding matrix (flow/flow_test.go:296-345,
    e.g. `[0 5 0]`)."""
    da = spark.createDataFrame([(i, v) for i, v in enumerate(a)], "ord int, x long")
    db = spark.createDataFrame([(i, v) for i, v in enumerate(b)], "ord int, y long")
    dc = spark.createDataFrame([(i, v) for i, v in enumerate(c)], "ord int, z long")
    out = zip_with(lambda x, y, z: x + y + z, [da, db, dc],
                   [["ord"], ["ord"], ["ord"]], ["x", "y", "z"], [0, 0, 0])
    got = sorted(r["value"] for r in out.collect())
    n = max(len(a), len(b), len(c))
    pad = lambda xs: xs + [0] * (n - len(xs))
    expect = sorted(x + y + z for x, y, z in zip(pad(a), pad(b), pad(c)))
    assert got == expect


@given(xs=st.lists(st.integers(min_value=-10**9, max_value=10**9),
                   min_size=1, max_size=60, unique=True),
       nparts=st.integers(min_value=1, max_value=6))
@settings(**SETTINGS)
def test_distributed_ordinal_is_contiguous_rank(spark, xs, nparts):
    """Property: for ANY unique key set and ANY input partitioning, the
    distributed ordinal equals the 1-based rank in sorted order —
    contiguous, no gaps, no dups (the monotonic-id decode + prefix-sum
    offsets must agree with a plain sort)."""
    from go_streams_spark.operators import distributed_ordinal
    df = spark.createDataFrame([(v,) for v in xs], "v long").repartition(nparts)
    out = distributed_ordinal(df, order_by=["v"], idx="ord")
    got = {r["v"]: r["ord"] for r in out.collect()}
    expect = {v: i + 1 for i, v in enumerate(sorted(xs))}
    assert got == expect


@given(docs=st.lists(st.lists(st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]),
    min_size=3, max_size=10), min_size=2, max_size=12),
    k=st.integers(min_value=1, max_value=4))
@settings(**SETTINGS)
def test_simhash64_banding_recall_property(spark, docs, k):
    """Property: pigeonhole banding at max_hamming=k returns EXACTLY the
    pairs within hamming distance k (recall 1.0, no false negatives, and
    the verify step kills every false positive) for arbitrary token
    multisets."""
    from go_streams_spark.functions import dedup as D
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sim = D.simhash(df, bits=64)
    sims = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    brute = sorted(
        (a, b) for a in sims for b in sims
        if a < b and bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1") <= k)
    banded = sorted((r["id_a"], r["id_b"]) for r in
                    D.simhash_pairs(sim, max_hamming=k, bits=64).collect())
    assert banded == brute


@given(words=st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]),
                      min_size=0, max_size=40),
       size=st.integers(min_value=1, max_value=9),
       stride=st.integers(min_value=1, max_value=9))
@settings(**SETTINGS)
def test_token_window_chunks_properties(spark, words, size, stride):
    """Invariants of training-window chunking against a Python model:
    (a) chunk list equals the slicing model exactly; (b) with
    stride == size (no overlap) concatenating chunks reconstructs the
    document; (c) every token position is covered by >= 1 chunk."""
    from go_streams_spark.functions.text import token_window_chunks
    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(token_window_chunks(df, size=size, stride=stride).collect(),
                  key=lambda r: r["chunk_idx"])
    got = [(r["chunk_idx"], r["chunk_text"], r["n_tokens"]) for r in rows]
    expect = [(ci, " ".join(words[s:s + size]), min(size, len(words) - s))
              for ci, s in enumerate(range(0, len(words), stride))]
    assert got == expect
    if stride == size:
        assert " ".join(t for _, t, _ in got) == text.strip()
    if stride <= size:  # stride > size is deliberate window SAMPLING
        covered = set()
        for s in range(0, len(words), stride):
            covered.update(range(s, min(s + size, len(words))))
        assert covered == set(range(len(words)))


@given(docs=st.lists(st.lists(st.sampled_from("abc"), min_size=0, max_size=12),
                     min_size=1, max_size=6),
       span=st.integers(min_value=2, max_value=4))
@settings(**SETTINGS)
def test_duplicate_span_stats_matches_python_model(spark, docs, span):
    """duplicate_span_stats == a from-scratch Python model: per doc,
    count stride-1 span windows and how many of them occur (as exact
    token sequences) in at least one OTHER document."""
    from collections import defaultdict

    from go_streams_spark.functions.dedup import duplicate_span_stats
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
           for r in duplicate_span_stats(df, span=span).collect()}

    windows = defaultdict(set)           # span tuple -> docs containing it
    per_doc = {}
    for i, toks in enumerate(docs):
        spans = [tuple(toks[j:j + span]) for j in range(len(toks) - span + 1)]
        per_doc[i] = spans
        for sp in spans:
            windows[sp].add(i)
    expect = {}
    for i, spans in per_doc.items():
        if not spans:
            continue  # short docs emit no row
        dup = sum(1 for sp in spans if len(windows[sp]) > 1)
        expect[i] = (len(spans), dup)
    assert got == expect


@given(docs=st.lists(
    st.lists(st.sampled_from("ab"), min_size=0, max_size=12),
    min_size=1, max_size=6),
    span=st.integers(min_value=2, max_value=4))
@settings(**SETTINGS)
def test_remove_duplicate_spans_matches_python_model(spark, docs, span):
    """remove_duplicate_spans equals a direct O(n^2) Python model on
    random tiny corpora over a 2-letter alphabet (maximal span
    collisions): same canonical-occurrence rule, same coverage cuts,
    same reassembly."""
    from go_streams_spark.functions.dedup import remove_duplicate_spans

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
           for r in remove_duplicate_spans(df, span=span).collect()}

    # python model
    occs = []  # (doc, start) per window, in doc order
    windows = {}
    for i, toks in enumerate(docs):
        for s in range(len(toks) - span + 1):
            key = tuple(toks[s:s + span])
            windows.setdefault(key, []).append((i, s))
    drop = {i: set() for i in range(len(docs))}
    for key, occ in windows.items():
        if len(occ) > 1:
            for (i, s) in sorted(occ)[1:]:
                drop[i].update(range(s, s + span))
    for i, toks in enumerate(docs):
        kept = [t for p, t in enumerate(toks) if p not in drop[i]]
        want = (" ".join(kept), len(toks), len(toks) - len(kept))
        assert got[i] == want, (i, got[i], want)


# ---- round-5 text-op algebra ------------------------------------------------

texts = st.lists(
    st.text(alphabet=st.characters(min_codepoint=1, max_codepoint=0x2122),
            max_size=60),
    min_size=1, max_size=12)


@given(ts=texts)
@settings(**SETTINGS)
def test_normalize_text_idempotent(spark, ts):
    """normalize_text is a projection: applying it twice equals once
    (repairs produce no mojibake, NFC is idempotent, collapsed
    whitespace has no runs left to collapse)."""
    from go_streams_spark.functions.text import normalize_text
    df = spark.createDataFrame([(i, t) for i, t in enumerate(ts)],
                               "i int, t string")
    out = df.select(
        "i", normalize_text("t").alias("once")).select(
        "i", "once", normalize_text("once").alias("twice"))
    for r in out.collect():
        assert r["once"] == r["twice"], repr(r["once"])


@given(host=st.text(alphabet="abcDEF09.-", min_size=1, max_size=12),
       path=st.text(alphabet="abc/1.-_", max_size=12),
       params=st.lists(st.sampled_from(
           ["q=1", "b=2", "a=x", "utm_source=t", "fbclid=9", "z="]),
           max_size=5),
       frag=st.sampled_from(["", "#f", "#a/b"]))
@settings(**SETTINGS)
def test_canonical_url_idempotent(spark, host, path, params, frag):
    """canonical_url is a projection onto canonical space: its outputs
    are fixed points (second application changes nothing)."""
    from go_streams_spark.functions.text import canonical_url
    url = "http://" + host + "/" + path
    if params:
        url += "?" + "&".join(params)
    url += frag
    df = spark.createDataFrame([(url,)], "u string")
    out = df.select(
        canonical_url("u").alias("once")).select(
        "once", canonical_url("once").alias("twice"))
    r = out.collect()[0]
    assert r["once"] == r["twice"], (url, r["once"], r["twice"])


@settings(**SETTINGS)
@given(vecs=st.lists(
    st.lists(st.floats(min_value=-8.0, max_value=8.0,
                       allow_nan=False, allow_infinity=False,
                       width=32),
             min_size=3, max_size=3),
    min_size=2, max_size=6).filter(
        lambda vs: all(any(abs(x) > 1e-3 for x in v) for v in vs)))
def test_quantized_cosine_three_engines_agree(spark, vecs):
    """The engine-exact cosine convention must be BIT-IDENTICAL across
    its three implementations on arbitrary float32 vectors: the JVM
    fold (quantized_cosine), the numpy kernel (_np_quantized_cosine),
    and a pure-Python big-int reference. This is the invariant the
    whole exact-kNN/oracle machinery rests on."""
    import math

    import numpy as np
    from go_streams_spark.functions.similarity import (
        _np_quantized_cosine, quantized_cosine, quantized_vec)

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "i long, v array<float>")
    a = df.select(F.col("i").alias("ia"),
                  quantized_vec("v").alias("qa"))
    b = df.select(F.col("i").alias("ib"),
                  quantized_vec("v").alias("qb"))
    jvm = {(r["ia"], r["ib"]): r["sim"]
           for r in a.crossJoin(b).select(
               "ia", "ib",
               quantized_cosine(F.col("qa"), F.col("qb"))
               .alias("sim")).collect()}

    q32 = [[math.floor(float(np.float32(x)) * 1e6 + 0.5) for x in v]
           for v in vecs]
    npy = _np_quantized_cosine(np.array(q32, dtype=np.float64),
                               np.array(q32, dtype=np.float64))

    for i, qa in enumerate(q32):
        for j, qb in enumerate(q32):
            d = sum(x * y for x, y in zip(qa, qb))     # exact big int
            na = math.sqrt(sum(x * x for x in qa))
            nb = math.sqrt(sum(x * x for x in qb))
            ref = math.floor(d / (na * nb) * 1e6 + 0.5) / 1e6
            assert jvm[(i, j)] == ref, ("jvm", i, j, jvm[(i, j)], ref)
            assert npy[i, j] == ref, ("np", i, j, npy[i, j], ref)


@given(
    events=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 400)),
                    min_size=1, max_size=40),
    rate=st.integers(0, 2_000_000),
    burst=st.integers(1, 4_000_000),
)
@settings(**SETTINGS)
def test_token_bucket_matches_reference_model(spark, events, rate, burst):
    """The round-7 mapInPandas rewrite (cross-batch key-carry state)
    against a plain-Python GCRA simulation: every (admitted,
    tokens_after) must match, for arbitrary users/timestamps/params —
    including same-second bursts and rate=0 (no refill ever)."""
    from datetime import datetime, timezone

    from go_streams_spark.operators.throttle import token_bucket_admit

    rows = [(u, i, datetime.fromtimestamp(t, tz=timezone.utc))
            for i, (u, t) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts timestamp")
    got = {(r["user_id"], r["event_id"]):
           (r["admitted"], r["tokens_after_micro"])
           for r in token_bucket_admit(
               df, rate_micro_per_sec=rate, burst_micro=burst,
               cost_micro=1_000_000).collect()}

    # reference simulation: per user, sort by (ts, event_id), fold
    expect = {}
    by_user = {}
    for i, (u, t) in enumerate(events):
        by_user.setdefault(u, []).append((t, i))
    for u, evs in by_user.items():
        evs.sort()
        tokens, prev = burst, None
        for t, i in evs:
            if prev is not None:
                tokens = min(burst, tokens + (t - prev) * rate)
            prev = t
            if tokens >= 1_000_000:
                tokens -= 1_000_000
                expect[(u, i)] = (True, tokens)
            else:
                expect[(u, i)] = (False, tokens)
    assert got == expect


@given(text=st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)),
    max_size=120))
@settings(**SETTINGS)
def test_real_codec_roundtrips_arbitrary_text(spark, text):
    """BMP, WAV, and AVI writers + parsers round-trip for ARBITRARY
    unicode text (empty, whitespace-only, multi-space runs, emoji):
    the decoded artifacts must equal the direct md5-math derivation,
    i.e. parse(write(x)) == derive(x) for all three containers."""
    import hashlib

    import numpy as np

    from go_streams_spark.functions.multimodal import (
        _avi_frame_hex, _bmp_pixel_rows, _wav_samples, decode_avi_frames,
        decode_bmp_dhash, decode_wav_pcm, synth_avi, synth_bmp, synth_wav)

    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")

    [bmp] = decode_bmp_dhash(synth_bmp(df)).collect()
    assert (bmp["width"], bmp["height"], bmp["bpp"]) == (18, 16, 24)
    # re-derive dHash from the pixel math (channels R=v, G=2v, B=3v)
    v = np.array(_bmp_pixel_rows(text), dtype=np.int64)
    g = (299 * v + 587 * ((2 * v) % 256) + 114 * ((3 * v) % 256)) // 1000
    avg = g.reshape(8, 2, 9, 2).sum(axis=(1, 3)) // 4
    bits = (avg[:, :-1] > avg[:, 1:]).astype(np.int64)
    w = 1 << (15 - (np.arange(2)[:, None] * 8 + np.arange(8)[None, :]))
    for k in range(4):
        assert bmp[f"b{k}"] == int((bits[2 * k:2 * k + 2] * w).sum())

    [wav] = decode_wav_pcm(synth_wav(df)).collect()
    assert (np.frombuffer(bytes(wav["pcm"]), dtype="<i2")
            == _wav_samples(text)).all()

    avi = {r["frame_idx"]: r
           for r in decode_avi_frames(synth_avi(df), every_k=2).collect()}
    for f in (0, 2, 4):
        assert avi[f]["frame_md5"] == hashlib.md5(
            _avi_frame_hex(text, f).encode()).hexdigest()


@given(text=st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)),
    max_size=120))
@settings(**SETTINGS)
def test_png_codec_roundtrips_arbitrary_text(spark, text):
    """PNG writer + decoder round-trip for ARBITRARY unicode text: the
    decoded luminance features must equal the direct md5-math
    derivation — through ALL five scanline filters, the DEFLATE
    stream, CRC framing, and the split IDAT."""
    import numpy as np

    from go_streams_spark.functions.multimodal import (
        _bmp_pixel_rows, decode_png_gray, synth_png)

    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    [r] = decode_png_gray(synth_png(df)).collect()
    v = np.array(_bmp_pixel_rows(text), dtype=np.int64)
    assert (r["width"], r["height"], r["bit_depth"], r["n_idat"]) == \
        (18, 16, 8, 2)
    assert r["lum_sum"] == int(v.sum())
    assert r["lum_min"] == int(v.min()) and r["lum_max"] == int(v.max())
    assert r["q00"] == int(v[:8, :9].sum())
    assert r["q01"] == int(v[:8, 9:].sum())
    assert r["q10"] == int(v[8:, :9].sum())
    assert r["q11"] == int(v[8:, 9:].sum())


@given(subjects=st.lists(
    st.tuples(st.integers(min_value=0, max_value=8),
              st.integers(min_value=0, max_value=1)),
    min_size=1, max_size=25))
@settings(**SETTINGS)
def test_kaplan_meier_matches_python_model(spark, subjects):
    """KM on arbitrary (duration, event) multisets == a pure-Python
    product-limit replay with the same trunc-div micro arithmetic."""
    from go_streams_spark.functions.checks import kaplan_meier
    df = spark.createDataFrame(subjects, "duration long, ev int")
    got = {r["t"]: (r["n_risk"], r["n_events"], r["survival_micro"])
           for r in kaplan_meier(df, duration_col="duration",
                                 event_col="ev").collect()}
    s, want = 1_000_000, {}
    for t in sorted({d for d, _ in subjects}):
        n = sum(1 for d, _ in subjects if d >= t)
        d_ = sum(1 for d, e in subjects if d == t and e == 1)
        if d_ > 0:
            s = (s * (n - d_)) // n
            want[t] = (n, d_, s)
    assert got == want


@given(evs=st.lists(
    st.tuples(st.integers(min_value=0, max_value=30),   # minute offset
              st.sampled_from(["view", "click", "purchase"]),
              st.integers(min_value=1, max_value=500)),  # value
    min_size=1, max_size=20))
@settings(**SETTINGS)
def test_attribution_credit_matches_python_model(spark, evs):
    """Positional attribution on arbitrary single-user event streams ==
    a pure-Python replay: same 1-hour lookback, top-3 recency, exact
    integer linear split with remainder-to-most-recent."""
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i + 1, 1, t0 + dt.timedelta(minutes=m), et, float(v))
            for i, (m, et, v) in enumerate(evs)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double")

    # run the registered query body against the in-memory stand-in by
    # swapping the table loader (restored in finally)
    import go_streams_spark.queries as qq
    orig = qq._t
    try:
        qq._t = lambda spark_, sf_, name: df
        got = {(r["model"], r["touch_type"]): (r["n_credits"],
                                               r["credit_micro"])
               for r in qq.QUERIES["attribution_credit"](
                   spark, "unused").collect()}
    finally:
        qq._t = orig

    # python model
    sorted_evs = sorted(rows, key=lambda r: (r[2], r[0]))
    want: dict = {}

    def add(model, tt, credit):
        k = (model, tt)
        n, c = want.get(k, (0, 0))
        want[k] = (n + 1, c + credit)

    for pid, _, pts, et, v in sorted_evs:
        if et != "purchase":
            continue
        v_micro = int(v * 1_000_000 + 0.5)  # floor(x+.5), positive v
        touches = [(tid, tts, tet) for tid, _, tts, tet, _ in sorted_evs
                   if tet in ("view", "click") and tts < pts
                   and tts >= pts - dt.timedelta(hours=1)]
        touches.sort(key=lambda x: (x[1], x[0]), reverse=True)
        kept = touches[:3]
        if not kept:
            continue
        nl = len(kept)
        add("last_touch", kept[0][2], v_micro)
        add("first_touch", kept[-1][2], v_micro)
        for rank0, (tid, tts, tet) in enumerate(kept):
            c = v_micro // nl + (v_micro % nl if rank0 == 0 else 0)
            add("linear", tet, c)
    assert got == want
