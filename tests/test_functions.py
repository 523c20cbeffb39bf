"""Tests for training-data pipeline ops: dedup, similarity, text,
multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from go_streams_spark.functions import text as T, dedup as D, similarity as S, multimodal as M
from conftest import final_plan


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox jumps over the sleepy dog"),        # near dup of 0
        (3, "completely different content about spark engines here"),
        (4, "THE  Quick   Brown fox jumps over the lazy dog"),       # normalized dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = {r["keeper"]: r["cnt"] for r in D.exact_dedup(docs).collect()}
    assert out[0] == 3  # docs 0, 1, 4 normalize to the same digest
    assert out[2] == 1 and out[3] == 1


def test_minhash_lsh_finds_near_dups(docs):
    pairs = D.ngram_jaccard_pairs(docs, ngram=3, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got            # exact dup must survive verify
    assert (0, 2) in got or (1, 2) in got  # near dup above 0.5
    assert all(r["jaccard"] <= 1.0 for r in pairs)
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert exact[(0, 1)] == 1.0


def test_simhash_close_for_similar(docs):
    sim = {r["doc_id"]: r["simhash"] for r in D.simhash(docs, bits=32).collect()}
    assert sim[0] == sim[1]  # identical text -> identical simhash
    ham_near = bin(sim[0] ^ sim[2]).count("1")
    ham_far = bin(sim[0] ^ sim[3]).count("1")
    assert ham_near < ham_far  # similar docs closer than unrelated ones


def test_knn_identical_vector_is_top1(spark):
    rows = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    knn = S.brute_force_knn(emb, k=1).collect()
    top = {r["vec_id"]: (r["neighbor_id"], r["sim"]) for r in knn}
    assert top[0] == (1, 1.0) and top[1] == (0, 1.0)
    assert top[3] == (2, 0.0)  # best neighbor of [-1,0,0] is the orthogonal one


def test_sign_lsh_buckets_split_join(spark):
    rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [-1.0, -1.0]), (3, [-1.0, -1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.sign_lsh_knn(emb, k=1, nbits=2).collect()
    # same-bucket pairs only: 0<->1 and 2<->3
    got = {(r["vec_id"], r["neighbor_id"]) for r in out}
    assert got == {(0, 1), (1, 0), (2, 3), (3, 2)}


def test_simhash_banded_pairs_match_all_pairs(spark, sf_dir):
    """Pigeonhole banding must be lossless: the banded equi-join finds
    exactly the pairs the O(N^2) formulation finds, for several k — on
    32-bit SimHash and on the four 16-bit dHash bands (hamming =
    sum of bit_count(b_i xor c_i), an int)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    sim = D.simhash(docs, bits=32).cache()
    feat = M.decode_bmp_dhash(M.synth_bmp(docs)).cache()
    cases = [(k, sim, ["simhash"], D.simhash_pairs(sim, max_hamming=k))
             for k in (1, 3, 6)]
    cases += [(k, feat, [f"b{i}" for i in range(4)],
               M.dhash_neardup_pairs(feat, max_hamming=k))
              for k in range(4)]
    for k, h, cols, banded in cases:
        a = h.select(F.col("doc_id").alias("id_a"),
                     *[F.col(c).alias(f"a_{c}") for c in cols])
        b = h.select(F.col("doc_id").alias("id_b"),
                     *[F.col(c).alias(f"b_{c}") for c in cols])
        ham = sum(F.bit_count(F.col(f"a_{c}").bitwiseXOR(F.col(f"b_{c}")))
                  for c in cols)
        naive = (a.join(b, F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b", ham.alias("hamming"))
                 .where(F.col("hamming") <= k))
        assert dict(banded.dtypes)["hamming"] == "int"
        expected = {(r["id_a"], r["id_b"], r["hamming"]) for r in naive.collect()}
        got = {(r["id_a"], r["id_b"], r["hamming"]) for r in banded.collect()}
        assert got == expected, f"{cols[0]} k={k}: banded != all-pairs"
    sim.unpersist()
    feat.unpersist()


def test_block_knn_matches_brute_force(spark, sf_dir, monkeypatch):
    """The 2-D blocked distributed kNN is EXACT: identical to the
    cross-join brute force (same rounded sims, same tie-breaks) —
    including a 7 x 3 grid whose block counts do not divide N."""
    monkeypatch.setattr(S, "KNN_GRID", (7, 3))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(90)
    want = {(r["vec_id"], r["rank"]): (r["neighbor_id"], r["sim"])
            for r in S.brute_force_knn(emb, k=4).collect()}
    got = {(r["vec_id"], r["rank"]): (r["neighbor_id"], r["sim"])
           for r in S.block_knn(emb, k=4).collect()}
    assert got == want


def test_block_knn_query_sample_and_flop_guard(spark, sf_dir):
    """Round-9 verdict task #1 — the eval-audit sampling contract in
    code: (a) ``eval_query_sample`` is deterministic and partitioning-
    independent; (b) ``block_knn(queries_df=...)`` returns exactly the
    full result restricted to the sampled queries (index side stays
    full, so truth is exact per sampled query); (c) ``guard_eval_flops``
    raises loudly past the budget, naming the remedy."""
    import pytest
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(80)

    s1 = [r["vec_id"] for r in S.eval_query_sample(emb, n=15).collect()]
    s2 = [r["vec_id"] for r in
          S.eval_query_sample(emb.repartition(7), n=15).collect()]
    assert s1 == s2 and len(s1) == 15          # deterministic pick

    full = {(r["vec_id"], r["rank"]): (r["neighbor_id"], r["sim"])
            for r in S.block_knn(emb, k=3).collect()}
    sample = S.eval_query_sample(emb, n=15)
    got = {(r["vec_id"], r["rank"]): (r["neighbor_id"], r["sim"])
           for r in S.block_knn(emb, k=3, queries_df=sample).collect()}
    want = {key: v for key, v in full.items() if key[0] in set(s1)}
    assert got == want                          # exact restriction

    with pytest.raises(ValueError, match="sample_n_queries"):
        S.guard_eval_flops(emb, budget=10, op="test-op")
    # a sampled pass within budget is fine
    assert S.guard_eval_flops(emb, n_queries=1, budget=10**12) == 80


def test_cosine_near_dup_blocked_exact(spark):
    """Blocked pair scan emits every qualifying pair exactly once —
    diagonal and off-diagonal blocks, interleaved ids (pmod blocks)."""
    import itertools, math
    vecs = [(i, [math.cos(i * 0.19), math.sin(i * 0.19), 0.5]) for i in range(37)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    want = set()
    for (i, va), (j, vb) in itertools.combinations(vecs, 2):
        dot = sum(x * y for x, y in zip(va, vb))
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(x * x for x in vb))
        if round(dot / (na * nb), 6) >= 0.9:
            want.add((i, j))
    got = [(r["id_a"], r["id_b"])
           for r in S.cosine_near_dup(emb, threshold=0.9).collect()]
    assert sorted(got) == sorted(want)       # no pair missed
    assert len(got) == len(set(got))         # no pair duplicated
    assert len(want) > 10                    # the fixture actually exercises it


def test_cosine_near_dup_lsh_recall_documented(spark, sf_dir):
    """The bucketed near-dup is recall-lossy by design; pin that it (a)
    returns a subset of the exact pairs with exact sims, (b) achieves
    full recall for strongly-similar pairs (the realistic near-dup
    regime, where sign bits rarely disagree)."""
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding").limit(150))
    # plant two strong near-dup pairs (id >= 10000 to avoid collisions)
    from pyspark.sql import Row
    extra = spark.createDataFrame([
        Row(vec_id=10000, embedding=[1.0] * 32 + [0.5] * 32),
        Row(vec_id=10001, embedding=[1.0] * 32 + [0.51] * 32),
    ], "vec_id long, embedding array<float>")
    emb = emb.unionByName(extra)
    exact = {(r["id_a"], r["id_b"]): r["sim"]
             for r in S.cosine_near_dup(emb, threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["sim"]
           for r in S.cosine_near_dup_lsh(
               emb, threshold=0.5, nbits=16, max_band_hamming=5).collect()}
    assert set(lsh) <= set(exact)            # no false positives
    for p, s in lsh.items():
        assert s == exact[p]                 # exact verify on candidates
    assert (10000, 10001) in lsh             # strong pair always found


def test_cosine_near_dup_lsh_dense_plan_equivalent(spark, sf_dir):
    """The dense blocked-scan plan (band predicate evaluated in-batch
    from the sign buckets) returns EXACTLY the bucketed band-join
    plan's rows — same pairs, same sims; and the occupancy switch picks
    the scan for the 16-bit/6-band config, the band join for one
    16-bit band."""
    from go_streams_spark.plans import explain_str
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding").limit(200))
    kw = dict(id_col="vec_id", vec_col="embedding", threshold=0.05,
              round_dp=6)
    bucketed = {(r["id_a"], r["id_b"]): r["sim"]
                for r in S._near_dup_lsh_bucketed(
                    emb, nbits=16, max_band_hamming=5, **kw).collect()}
    dense = {(r["id_a"], r["id_b"]): r["sim"]
             for r in S._pair_scan(emb, n=200, bands=S._band_layout(16, 6),
                                   **kw).collect()}
    assert dense == bucketed
    assert len(bucketed) > 0                 # fixture exercises the path

    def plan(max_band_hamming):
        return explain_str(S.cosine_near_dup_lsh(
            emb, threshold=0.05, nbits=16,
            max_band_hamming=max_band_hamming), "simple")
    six_bands, one_band = plan(5), plan(0)
    assert "FlatMapCoGroupsInPandas" in six_bands
    assert "band_key" not in six_bands
    assert "FlatMapCoGroupsInPandas" not in one_band
    assert "band_key" in one_band


def test_pair_scan_block_count_bounds_cell_size():
    """The triangular scan's block count grows with the vector count so
    a block never holds more than ROWS_PER_BLOCK vectors; at test-data
    sizes it stays 8, so plans and hashes there do not move."""
    import math
    assert S._scan_blocks(2_000) == 8
    for n in (2_000, 1_000_000):
        assert math.ceil(n / S._scan_blocks(n)) <= S.ROWS_PER_BLOCK


def test_cosine_near_dup_lsh_dense_flop_guard(spark, sf_dir, monkeypatch):
    """The dense branch runs the flop guard from the probe's vector
    count: past the budget it raises, naming longer bands."""
    monkeypatch.setattr(S, "DEFAULT_EVAL_FLOP_BUDGET", 1_000)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    with pytest.raises(ValueError, match="nbits.*max_band_hamming"):
        S.cosine_near_dup_lsh(emb, threshold=0.5, nbits=16,
                              max_band_hamming=5)


def test_text_functions(spark):
    df = spark.createDataFrame([(1, "the cat!! sat on a mat")], "doc_id long, text string")
    row = df.select(
        T.token_count("text").alias("n"),
        T.bpe_token_count("text").alias("nb"),
        F.round(T.stopword_ratio("text"), 4).alias("sw"),
        T.lang_id("text").alias("lang"),
    ).collect()[0]
    assert row["n"] == 6
    assert row["nb"] == 8  # the, cat, !, !, sat, on, a, mat
    assert row["sw"] == round(3 / 6, 4)  # the, on, a
    assert row["lang"] == "en"


def test_lang_id_other_languages(spark):
    df = spark.createDataFrame(
        [(1, "der hund ist nicht da"), (2, "le chat est dans la maison"), (3, "xyz qqq")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["lang"] for r in df.select("doc_id", T.lang_id("text").alias("lang")).collect()}
    assert out == {1: "de", 2: "fr", 3: "und"}


def test_multimodal_plumbing(spark):
    """The one decode rule: a BMP image blob gets the BMP parser, a
    truncated BMP falls back to the stub (and fails decode_bmp_dhash
    loudly with its doc id), every other blob gets the stub. The output
    id keeps the input id's name and type in extract_features and
    sample_frames."""
    import struct

    import numpy as np
    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64
    jpg = b"\xff\xd8\xff\xe0" + b"\x01" * 64
    row = bytes([10, 20, 30, 40, 50, 60]) + b"\0\0"  # 2 BGR px + pad
    bmp = (struct.pack("<2sIHHI", b"BM", 54 + 2 * len(row), 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, 2 * len(row),
                         0, 0, 0, 0) + row + row[::-1][2:] + b"\0\0")
    truncated = b"BM1234"
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(jpg)), (3, bytearray(bmp)),
         (4, bytearray(truncated))], "doc_id long, media binary")
    meta = M.attach_media_metadata(df)
    types = {r["doc_id"]: r["media_type"] for r in meta.collect()}
    assert types == {1: "image/png", 2: "image/jpeg", 3: "image/bmp",
                     4: "image/bmp"}
    feats = M.extract_features(meta, dim=8).collect()
    assert len(feats) == 4
    assert all(len(r["feature"]) == 8 for r in feats)
    got = {r["doc_id"]: r["feature"] for r in feats}
    want = {1: M._decode_stub(png, "image/png", 8),
            2: M._decode_stub(jpg, "image/jpeg", 8),
            3: M._decode_bmp_builtin(bmp, "image/bmp", 8),
            4: M._decode_stub(truncated, "image/bmp", 8)}
    for i, w in want.items():
        assert np.array_equal(np.array(got[i], dtype=np.float32), w), i
    assert not np.array_equal(want[3], M._decode_stub(bmp, "image/bmp", 8))
    # deterministic: same media -> same feature
    again = M.extract_features(meta, dim=8).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))
    with pytest.raises(ValueError, match="truncated"):
        M._bmp_luminance_grid(truncated)
    with pytest.raises(Exception, match="doc 4: truncated BMP"):
        M.decode_bmp_dhash(df.where("doc_id = 4"), image_col="media").collect()

    keyed = spark.createDataFrame([("a", bytearray(jpg))],
                                  "key string, media binary")
    out = M.extract_features(M.attach_media_metadata(keyed, id_col="key"),
                             id_col="key", dim=8)
    assert out.columns[0] == "key" and out.dtypes[0] == ("key", "string")
    assert [r["key"] for r in out.collect()] == ["a"]
    frames = M.sample_frames(keyed, id_col="key", frame_size=16)
    assert frames.dtypes[0] == ("key", "string")
    assert [(r["key"], r["frame_idx"]) for r in frames.collect()] == \
        [("a", 0), ("a", 2)]


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        M._decode_stub(b"x", "unsupported/raise", 4)


def test_connected_components_nonconvergence_is_loud(spark):
    """A path graph with diameter > max_iterations must NOT silently
    return partial (wrong) components: default raises, 'warn' warns and
    returns the best-effort labels, a big-enough budget converges to one
    component. Pins VERDICT r3 'What's wrong' #2."""
    import warnings

    from go_streams_spark.functions.dedup import connected_components
    path = spark.createDataFrame([(i, i + 1) for i in range(7)],
                                 "id_a long, id_b long")  # diameter 7
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, max_iterations=3).collect()
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        partial = connected_components(path, max_iterations=3,
                                       on_nonconverged="warn").collect()
    assert any("did not converge" in str(x.message) for x in w)
    assert len(partial) == 8  # all nodes labeled, labels possibly partial
    full = connected_components(path, max_iterations=10).collect()
    assert {r["component"] for r in full} == {0}
    with pytest.raises(ValueError):
        connected_components(path, on_nonconverged="explode")


def test_connected_components(spark):
    # two chains and an isolated pair: {1,2,3,4}, {10,11}, {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], "id_a long, id_b long")
    comps = {r["id"]: r["component"] for r in D.connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_approx_distinct_within_tolerance(spark):
    from go_streams_spark.queries import QUERIES
    rows = QUERIES["approx_distinct_users"](spark, "/root/testdata/sf0.001").collect()
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = {r["event_type"]: r["x"] for r in
             ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("x")).collect()}
    for r in rows:
        e = exact[r["event_type"]]
        assert abs(r["approx_users"] - e) <= max(2, 0.05 * e)


def test_ivf_knn_recall_and_plan(spark):
    from go_streams_spark.functions.similarity import ivf_knn, brute_force_knn
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    approx = ivf_knn(emb, k=3, nlist=8, nprobe=3)
    # plan shape: candidates come from an equi-join on the list id, and
    # the only cross product is the broadcast codebook join
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = {(r["vec_id"], r["neighbor_id"]) for r in approx.collect()}
    exact = {(r["vec_id"], r["neighbor_id"])
             for r in brute_force_knn(emb, k=3).collect()}
    recall = len(got & exact) / len(exact)
    # IVF with nprobe=3/8 lists on random-ish vectors: recall well above
    # chance; pin a floor so a broken bucketing (empty candidates,
    # self-matches) fails loudly
    assert recall >= 0.5, f"recall {recall:.2f}"
    # every query returns <= k unique ranked neighbors starting at 1
    import collections
    per_q = collections.Counter(q for q, _ in got)
    assert max(per_q.values()) <= 3


def test_train_codebook_deterministic_and_improves_recall(spark):
    import numpy as np
    from go_streams_spark.functions.similarity import (
        brute_force_knn, ivf_knn, train_codebook_exact)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb1 = train_codebook_exact(emb, k=8, iterations=3)
    cb2 = train_codebook_exact(emb, k=8, iterations=3)
    assert np.asarray(cb1).shape == (8, 64)
    assert cb1 == cb2  # deterministic (integer codebooks)
    exact = {(r["vec_id"], r["neighbor_id"])
             for r in brute_force_knn(emb, k=3).collect()}

    def recall(codebook):
        got = {(r["vec_id"], r["neighbor_id"])
               for r in ivf_knn(emb, k=3, nlist=8, nprobe=3,
                                codebook=codebook).collect()}
        return len(got & exact) / len(exact)

    r_init = recall(None)       # raw-subset codebook
    r_trained = recall(cb1)     # 3 Lloyd iterations
    # trained lists are at least as good as arbitrary-subset lists
    # (allow small slack: recall is bucketing-dependent)
    assert r_trained >= r_init - 0.05, (r_trained, r_init)


def test_check_report_single_pass_and_counts(spark):
    """Five constraints = ONE aggregate job; violation counts match a
    hand-computed model on literal data."""
    from go_streams_spark.functions import checks as C
    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, None, "B"), (3, 99.0, "A"), (4, 20.0, "C")],
        "id int, v double, tag string")
    report = C.check_report(df, [
        C.not_null("v"),
        C.in_range("v", 0, 50),
        C.is_in("tag", ["A", "B"]),
    ])
    got = {r["check"]: (r["n_violations"], r["violation_frac"])
           for r in report.collect()}
    # NOT BETWEEN on NULL is unknown -> not counted as a range violation
    assert got == {"v_not_null": (1, 0.25),
                   "v_in_range": (1, 0.25),
                   "tag_is_in": (1, 0.25)}
    # single shared scan: exactly one aggregate over one source (AQE
    # plan text repeats the tree under "== Initial Plan ==" — only the
    # final section counts)
    plan = report._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan ExistingRDD") <= 1


def test_uniqueness_report(spark):
    from go_streams_spark.functions import checks as C
    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z"), (3, "w"), (3, "v"), (3, "u")],
        "k int, s string")
    row = C.uniqueness_report(df, ["k"]).collect()[0]
    assert (row["n_keys"], row["n_dup_keys"], row["n_dup_rows"]) == (3, 2, 5)


def test_simhash64_band_equijoin_matches_brute_force(spark):
    """64-bit simhash pairs via pigeonhole banding == brute-force
    all-pairs at the same threshold (recall 1.0 by construction), and
    the 16-bit bands decode correctly across the sign bit."""
    from go_streams_spark.functions import dedup as D
    rows = [(i, f"tok{i} alpha beta gamma delta epsilon zeta common words "
                f"shared across documents {i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sim = D.simhash(df, bits=64)
    sims = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    brute = sorted(
        (a, b) for a in sims for b in sims
        if a < b and bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1") <= 3)
    banded = sorted((r["id_a"], r["id_b"]) for r in
                    D.simhash_pairs(sim, max_hamming=3, bits=64).collect())
    assert banded == brute


def test_multimodal_resize_features_stride(spark):
    """Resize plumbing: uniform-stride downsample to a fixed dim via a
    vectorized pandas UDF — deterministic index selection (i*n//k), and
    empty inputs land as zero vectors."""
    from go_streams_spark.functions.multimodal import resize_features
    df = spark.createDataFrame(
        [(1, [float(i) for i in range(16)]), (2, [5.0, 6.0]), (3, [])],
        "doc_id long, feature array<float>")
    out = {r["doc_id"]: r["feature"] for r in
           resize_features(df, out_dim=4).collect()}
    assert out[1] == [0.0, 4.0, 8.0, 12.0]   # idx = i*16//4
    assert out[2] == [5.0, 5.0, 6.0, 6.0]    # idx = i*2//4 = 0,0,1,1
    assert out[3] == [0.0, 0.0, 0.0, 0.0]


def test_token_window_chunks_boundaries(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, ""), (4, "solo")],
        "doc_id long, text string")
    rows = T.token_window_chunks(df, size=3, stride=2).collect()
    got = {(r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
           for r in rows}
    # doc 1: starts 1,3,5,7 -> abc cde efg g (partial tail kept)
    assert got[(1, 0)] == ("a b c", 3)
    assert got[(1, 1)] == ("c d e", 3)
    assert got[(1, 2)] == ("e f g", 3)
    assert got[(1, 3)] == ("g", 1)
    assert got[(2, 0)] == ("x y", 2)
    assert got[(4, 0)] == ("solo", 1)
    # empty doc emits nothing
    assert not any(k[0] == 3 for k in got)
    with pytest.raises(ValueError):
        T.token_window_chunks(df, size=0)


def test_token_window_chunks_no_shuffle(spark):
    """Chunking is a per-row fan-out — zero exchanges in the plan."""
    from go_streams_spark.plans import count_exchanges
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert count_exchanges(T.token_window_chunks(df)) == 0


def test_bigram_lm_scores_match_reference_formula(spark):
    """Engine output equals an independent driver-side computation of
    the same add-1 bigram model on a tiny corpus."""
    import math
    from collections import Counter
    docs = [(1, "a b a b"), (2, "a b b"), (3, "b a")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.bigram_lm_doc_scores(df).collect()}

    bigrams = {i: list(zip(t.split(), t.split()[1:])) for i, t in docs}
    c12 = Counter(bg for v in bigrams.values() for bg in v)
    c1 = Counter(w1 for v in bigrams.values() for w1, _ in v)
    vocab = len({w for v in bigrams.values() for bg in v for w in bg})
    for i, v in bigrams.items():
        nll = [-math.log((c12[bg] + 1.0) / (c1[bg[0]] + vocab)) for bg in v]
        avg = sum(nll) / len(nll)
        assert out[i]["n_bigrams"] == len(nll)
        assert abs(out[i]["avg_nll"] - round(avg, 6)) < 1e-9
        assert abs(out[i]["ppl"] - round(math.exp(avg), 4)) < 1e-9


def test_semdedup_matches_numpy_reference(spark):
    """semdedup_prune_exact, training included, equals an independent
    driver-side NumPy implementation of its integer spec: micro-unit
    quantize, nearest centroid by the first-max 6-dp quantized cosine,
    trunc-div centroid update (empty clusters keep theirs), then the
    within-cluster pair scan at ``threshold_micro`` and
    drop-if-lower-id-neighbor. Planted geometry: the 3 orthogonal
    cluster axes are the 3 lowest ids, so integer Lloyd's starts from
    them; jittered members + paraphrase dups follow."""
    import numpy as np
    rng = np.random.default_rng(7)
    dirs = np.eye(3, 8)  # 3 orthogonal cluster axes in 8-d
    vecs = list(dirs)
    for c in range(3):
        for m in range(6):
            v = dirs[c] + 0.05 * rng.standard_normal(8)
            if m % 3 == 2:      # paraphrase: near-copy of previous member
                v = vecs[-1] + 0.01 * rng.standard_normal(8)
            vecs.append(v)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")

    got = {r["vec_id"]: (r["cid"], r["kept"]) for r in S.semdedup_prune_exact(
        emb, threshold_micro=950_000, nlist=3, iterations=2).collect()}

    # independent reference over the engine's float32 storage of
    # array<float>, in int64 micro-units
    Q = np.floor(np.array(vecs, dtype=np.float32).astype(np.float64)
                 * 1e6 + 0.5).astype(np.int64)

    def micro_cos(A, B):
        s = (A @ B.T) / (np.sqrt((A * A).sum(axis=1))[:, None]
                         * np.sqrt((B * B).sum(axis=1))[None, :])
        return np.floor(s * 1e6 + 0.5).astype(np.int64)

    cb = Q[:3].copy()
    for _ in range(2):
        cid = np.argmax(micro_cos(Q, cb), axis=1)  # first max: lowest cid
        for c in range(3):
            if (cid == c).any():
                tot = Q[cid == c].sum(axis=0)
                cb[c] = np.sign(tot) * (np.abs(tot) // (cid == c).sum())
    cid = np.argmax(micro_cos(Q, cb), axis=1)
    sims = micro_cos(Q, Q)
    kept = {i: not any(cid[j] == cid[i] and sims[j, i] >= 950_000
                       for j in range(i))
            for i in range(len(Q))}
    assert got == {i: (int(cid[i]), kept[i]) for i in range(len(Q))}
    assert sum(1 for k in kept.values() if not k) >= 6  # dups were planted


def test_semdedup_pairs_plan_no_cartesian(spark, sf_dir):
    """The SemDeDup pair scan must stay a per-cluster cogroup — never an
    all-pairs join."""
    from go_streams_spark.plans import explain_str
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = explain_str(S.semdedup_prune_exact(emb, threshold_micro=400_000,
                                              nlist=8, iterations=1),
                       "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_train_matches_python_reference(spark):
    """bpe_train_merges equals a from-scratch Python BPE trainer (same
    greedy left-to-right merge, count-desc/pair-asc tie-break) on a
    corpus with evolving multi-char merges."""
    docs = [(i, t) for i, t in enumerate(
        ["low lower lowest", "low low newer newest", "wider new newer",
         "lowest newest wide wide wider"])]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [(r["round"], r["pair"], r["cnt"])
           for r in T.bpe_train_merges(df, rounds=6).collect()]

    from collections import Counter
    vocab = Counter()
    for _, t in docs:
        for tok in t.lower().split():
            vocab[tuple(tok)] += 1
    expect = []
    for r in range(6):
        pc = Counter()
        for syms, c in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += c
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        if cnt < 2:
            break
        expect.append((r, a + b, cnt))
        new_vocab = Counter()
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += c
        vocab = new_vocab
    assert got == expect
    assert len(got) == 6 and any(len(p) > 2 for _, p, _ in got)


def test_sign_lsh_multiprobe_recall(spark, sf_dir):
    """Multi-probe (Hamming-1) sign-LSH must dominate single-probe:
    every query keeps at least as many of its true (brute-force) top-3
    neighbors, total recall@3 strictly improves on this data, and the
    plan stays an equi-join (no cartesian)."""
    from go_streams_spark.plans import explain_str
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    truth = {}
    for r in S.brute_force_knn(emb, k=3).collect():
        truth.setdefault(r["vec_id"], set()).add(r["neighbor_id"])

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        hit = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        return hit / sum(len(t) for t in truth.values()), got

    single = S.sign_lsh_knn(emb, k=3, nbits=8)
    multi = S.sign_lsh_knn(emb, k=3, nbits=8, multi_probe=1)
    r1, g1 = recall(single)
    r2, g2 = recall(multi)
    assert r2 > r1
    # per-query: multi-probe candidates are a superset of single-probe's
    for q, t in truth.items():
        assert len(g2.get(q, set()) & t) >= len(g1.get(q, set()) & t)
    plan = explain_str(multi, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_recall_evaluator_multiprobe_uplift(spark, sf_dir, monkeypatch):
    """The in-engine recall evaluator agrees with a hand-computed
    recall and reports strictly higher recall@k for multi-probe than
    single-probe sign-LSH on the same data — the after-index-rebuild
    quality check a vector store runs, expressed as one engine op."""
    monkeypatch.setattr(S, "KNN_GRID", (4, 2))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)

    def report(approx):
        row = S.ann_recall_against_exact(
            emb, approx.select("vec_id", "neighbor_id"), k=3).collect()[0]
        # internal consistency of the report row
        assert row["possible"] == row["n_queries"] * 3
        assert 0 <= row["total_hits"] <= row["possible"]
        assert abs(row["recall_at_3"]
                   - row["total_hits"] / row["possible"]) < 1e-6
        assert row["n_perfect"] + row["n_zero"] <= row["n_queries"]
        return row

    single = report(S.sign_lsh_knn(emb, k=3, nbits=8))
    multi = report(S.sign_lsh_knn(emb, k=3, nbits=8, multi_probe=1))
    assert single["n_queries"] == multi["n_queries"] == 200
    assert multi["total_hits"] > single["total_hits"]

    # cross-check total_hits against an independent driver-side count
    truth = {}
    for r in S.brute_force_knn(emb, k=3).collect():
        truth.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in S.sign_lsh_knn(emb, k=3, nbits=8).collect():
        got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    hand = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    assert single["total_hits"] == hand


def test_ann_recall_against_exact_named_columns(spark, sf_dir):
    """ann_recall_against_exact reads the frame through its own
    id_col/vec_col: a (doc_id, emb) frame reports the same recall as
    the (vec_id, embedding) original."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    approx = S.sign_lsh_knn(emb, k=3, nbits=8).select("vec_id", "neighbor_id")
    want = S.ann_recall_against_exact(emb, approx, k=3).collect()[0]
    renamed = emb.select(F.col("vec_id").alias("doc_id"),
                         F.col("embedding").alias("emb"))
    got = S.ann_recall_against_exact(
        renamed, approx.withColumnRenamed("vec_id", "doc_id"),
        id_col="doc_id", vec_col="emb", k=3).collect()[0]
    assert got == want and want["n_queries"] == 100


def test_count_min_never_undercounts(spark, sf_dir):
    """Count-Min property: est >= true for EVERY probed item (hash
    collisions only ever inflate), and heavy items with unique buckets
    estimate exactly."""
    from go_streams_spark.queries import QUERIES
    rows = QUERIES["count_min_freq_estimates"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["est_cnt"] >= r["true_cnt"], r
    # the sketch is not vacuous: most top-20 estimates are exact at 256
    # buckets over ~15-20 distinct users
    exact = sum(1 for r in rows if r["est_cnt"] == r["true_cnt"])
    assert exact >= len(rows) // 2


def test_duplicate_span_stats_planted(spark):
    """Two docs sharing one exact 4-token span are both flagged with
    exactly the shared window positions; a unique doc reports zero."""
    docs = [
        (1, "q w e r t y u i"),          # windows at 1..5 (span 4)
        (2, "a a q w e r b b"),          # shares span "q w e r"
        (3, "z z z x c v n m"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           D.duplicate_span_stats(df, span=4).collect()}
    assert out[1]["n_windows"] == 5 and out[1]["n_dup_windows"] == 1
    assert out[2]["n_windows"] == 5 and out[2]["n_dup_windows"] == 1
    assert out[3]["n_dup_windows"] == 0
    assert out[1]["dup_frac"] == 0.2


def test_remove_duplicate_spans_planted(spark):
    """The canonical (lowest doc_id, pos) occurrence of a duplicated
    span keeps its text; later occurrences are cut; unique and
    too-short docs pass through untouched; a doc that is ONE big
    duplicated span comes back empty."""
    docs = [
        (1, "q w e r t y u i"),      # canonical "q w e r" at pos 1
        (2, "a a q w e r b b"),      # loses the shared span
        (3, "z z z x c v n m"),      # unique: untouched
        (4, "q w e r"),              # entirely a later occurrence
        (5, "hi"),                   # shorter than span: untouched
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           D.remove_duplicate_spans(df, span=4).collect()}
    assert len(out) == 5
    assert out[1]["clean_text"] == "q w e r t y u i"
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "a a b b"
    assert out[2]["n_removed"] == 4
    assert out[3]["clean_text"] == "z z z x c v n m"
    assert out[4]["clean_text"] == "" and out[4]["n_removed"] == 4
    assert out[5]["clean_text"] == "hi" and out[5]["n_tokens"] == 1


def test_pagerank_invariants(spark):
    """Integer-unit PageRank on a known graph: mass ~1 (floor losses
    only), the hub outranks leaves, symmetric nodes tie exactly."""
    from go_streams_spark.functions.graph import pagerank
    edges = [(h, s) for h in (1,) for s in (2, 3, 4)] + \
            [(s, 1) for s in (2, 3, 4)]  # star: 1 <-> {2,3,4}
    df = spark.createDataFrame(edges, "src long, dst long")
    pr = {r["node"]: r["pr"] for r in pagerank(df, iterations=5).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-6
    assert pr[1] > pr[2]
    assert pr[2] == pr[3] == pr[4]  # exact tie: integer arithmetic
    import pytest as _pt
    with _pt.raises(ValueError):
        pagerank(df, iterations=-1)


def test_pagerank_modes_bitwise_equal(spark):
    """Broadcast and co-partitioned-shuffle plans must be BITWISE equal
    (integer floor-division arithmetic is order-independent), and
    'auto' must flip to the shuffle plan above broadcast_max_nodes."""
    from go_streams_spark.functions.graph import pagerank
    from go_streams_spark.plans import release_tracked
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    bcast = sorted(pagerank(df, iterations=4,
                            broadcast_ranks=True).collect())
    shuf = sorted(pagerank(df, iterations=4,
                           broadcast_ranks=False).collect())
    auto_small = sorted(pagerank(df, iterations=4).collect())
    auto_big = sorted(pagerank(df, iterations=4,
                               broadcast_max_nodes=2).collect())
    assert bcast == shuf == auto_small == auto_big
    import pytest as _pt
    with _pt.raises(ValueError):
        pagerank(df, broadcast_ranks="sometimes")
    release_tracked()


def test_triangle_count_known_graphs(spark):
    """Degree-ordered triangle census with TOTAL wedge counts (the
    clustering-coefficient denominator): K4 = 4 triangles / 12 wedges
    (CC = 3*4/12 = 1), a path = 0 / 2 (CC = 0), and a triangle with a
    pendant edge counts 1 / 5 regardless of edge direction or
    duplication in the input."""
    from go_streams_spark.functions.graph import triangle_count
    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)],
        "src long, dst long")
    assert triangle_count(k4).collect()[0].asDict() == {
        "triangles": 4, "wedges": 12}
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                 "src long, dst long")
    assert triangle_count(path).collect()[0].asDict() == {
        "triangles": 0, "wedges": 2}
    # direction + duplicate + self-loop hygiene: canonicalization
    # degrees 1:2 2:2 3:3 4:1 -> wedges 1+1+3+0 = 5
    messy = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 2), (1, 3), (4, 3), (3, 3)],
        "src long, dst long")
    assert triangle_count(messy).collect()[0].asDict() == {
        "triangles": 1, "wedges": 5}


def test_bpe_encode_paths_agree(spark):
    """bpe_encode and an independent Python encoder produce IDENTICAL
    token sequences for a trained merge table — including multi-char
    merges and the (a, b) disambiguation the trainer's pair string
    alone cannot give (e.g. 'the' = th+e vs t+he)."""
    docs = [(i, t) for i, t in enumerate(
        ["low lower lowest", "low low newer newest", "wider new newer",
         "lowest newest wide wide wider"])]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    table = sorted(T.bpe_train_merges(df, rounds=6).collect(),
                   key=lambda r: r["round"])
    merges = [(r["a"], r["b"]) for r in table]
    assert len(merges) == 6 and any(len(a) > 1 for a, _ in merges)

    enc = {r["doc_id"]: r["bpe_tokens"]
           for r in T.bpe_encode(df, merges=merges).collect()}

    def py_encode(t):
        out = []
        for w in t.lower().split():
            syms = list(w)
            for a, b in merges:
                acc = []
                for x in syms:
                    if acc and acc[-1] == a and x == b:
                        acc[-1] = a + b
                    else:
                        acc.append(x)
                syms = acc
            out.extend(syms)
        return out

    for i, t in docs:
        assert enc[i] == py_encode(t), i
    # merges actually fired (not a char-split no-op)
    assert any(len(tok) > 2 for toks in enc.values() for tok in toks)


def test_k_core_peel_and_convergence_contract(spark):
    """k_core peels a K4-plus-chain down to exactly the K4 at k=3
    (pendant chain removed transitively across passes); a too-small
    iteration budget raises instead of returning a partially-peeled
    (wrong) core, and 'warn' downgrades to best-effort with a warning —
    the connected_components loud-failure contract."""
    import warnings

    from go_streams_spark.functions.graph import k_core
    # K4 + pendant chain: all three chain nodes drop in ONE pass at k=3
    g = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (5, 6), (6, 7)], "src long, dst long")
    got = sorted((r["node"], r["core_deg"])
                 for r in k_core(g, k=3, max_iterations=12).collect())
    assert got == [(1, 3), (2, 3), (3, 3), (4, 3)]
    # at k=2 the chain peels CASCADING, one endpoint per pass (7, then
    # 6, then 5): a 2-pass budget must raise, not return a half-peeled
    # core
    tri_chain = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (6, 7)],
        "src long, dst long")
    full = sorted((r["node"], r["core_deg"])
                  for r in k_core(tri_chain, k=2, max_iterations=12).collect())
    assert full == [(1, 2), (2, 2), (3, 2)]
    # the peel needs EXACTLY 4 filter passes (7, 6, 5, then 4 drop one
    # per pass): a budget of exactly 4 must converge, not raise — the
    # final probe after the last filter confirms it
    exact = sorted((r["node"], r["core_deg"])
                   for r in k_core(tri_chain, k=2, max_iterations=4).collect())
    assert exact == full
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(tri_chain, k=2, max_iterations=2)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        partial = k_core(tri_chain, k=2, max_iterations=2,
                         on_nonconverged="warn").collect()
    assert any("did not converge" in str(x.message) for x in w)
    assert len(partial) >= 3  # best-effort superset of the true core
    # k above the max degree peels everything
    assert k_core(g, k=5).count() == 0


def test_label_propagation_two_cliques(spark):
    """Deterministic LPA: two K4 cliques joined by one bridge edge
    resolve to two communities labeled by each clique's minimum node id
    (the tie-break makes round 1 adopt the min neighbor label, and
    majority keeps the bridge from merging them)."""
    from collections import Counter, defaultdict

    from go_streams_spark.functions.graph import label_propagation
    c1 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    c2 = [(11, 12), (11, 13), (11, 14), (12, 13), (12, 14), (13, 14)]
    edges = c1 + c2 + [(4, 11)]
    g = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["community"]
           for r in label_propagation(g, iterations=3).collect()}

    # independent Python reference with the same deterministic rule
    adj = defaultdict(set)
    for x, y in edges:
        adj[x].add(y)
        adj[y].add(x)
    labels = {n: n for n in adj}
    for _ in range(3):
        labels = {v: min(Counter(labels[u] for u in adj[v]).items(),
                         key=lambda kv: (-kv[1], kv[0]))[0]
                  for v in adj}
    assert got == labels
    # structural sanity: clique 1 coalesces on its min id; the cliques
    # never merge into one community across the bridge
    assert {got[n] for n in (1, 2, 3, 4)} == {1}
    assert got[2] != got[13]


def test_block_knn_hard_negative_exclusion(spark, monkeypatch):
    """exclude_match_col filters same-class candidates inside every
    cogroup: every returned neighbor has a different label than its
    query, results equal a per-pair reference with the same rule, and
    the unfiltered path is unchanged."""
    import itertools
    import math
    # label = i % 5 is deliberately CO-PRIME with 3 query blocks: each
    # cogroup mixes query labels, so a bug using a group-constant query
    # label (instead of per-row) cannot pass
    monkeypatch.setattr(S, "KNN_GRID", (3, 2))
    vecs = [(i, [math.cos(i * 0.37), math.sin(i * 0.37), 0.25], i % 5)
            for i in range(24)]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int")
    got = {(r["vec_id"], r["rank"]): (r["neighbor_id"], r["sim"])
           for r in S.block_knn(emb, k=2,
                                exclude_match_col="label").collect()}
    labels = {i: lb for i, _, lb in vecs}
    assert all(labels[q] != labels[n] for (q, _), (n, _) in got.items())
    # independent reference: the engine-exact quantized cosine (micro-
    # unit int64 dot/norms, floor half-up 6-dp round), same tie-break,
    # label filter. float32 storage: quantize the float32-rounded value.
    import numpy as np

    def q32(v):
        return [math.floor(float(np.float32(x)) * 1e6 + 0.5) for x in v]
    sims = {}
    for (i, va, la), (j, vb, lb) in itertools.permutations(vecs, 2):
        if la == lb:
            continue
        qa, qb = q32(va), q32(vb)
        d = sum(x * y for x, y in zip(qa, qb))
        na = math.sqrt(sum(x * x for x in qa))
        nb = math.sqrt(sum(x * x for x in qb))
        s = math.floor(d / (na * nb) * 1e6 + 0.5) / 1e6
        sims.setdefault(i, []).append((s, j))
    expect = {}
    for i, cands in sims.items():
        for rank, (s, j) in enumerate(
                sorted(cands, key=lambda t: (-t[0], t[1]))[:2], 1):
            expect[(i, rank)] = (j, s)
    assert got == expect


def test_rrf_fuse_known_rankings(spark):
    """RRF on two hand-built rankings: doc ranked well by BOTH systems
    outranks a doc ranked first by only one; integer micro-unit scores
    match the formula exactly; singleton entries still fuse."""
    r1 = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "vec_id long, neighbor_id long, rank int")
    r2 = spark.createDataFrame(
        [(1, 11, 1), (1, 10, 2), (1, 13, 3)],
        "vec_id long, neighbor_id long, rank int")
    out = {r["neighbor_id"]: (r["rrf_micro"], r["fused_rank"])
           for r in S.rrf_fuse([r1, r2], k=4).collect()}
    M = S.RRF_SCALE
    assert out[10][0] == M // 61 + M // 62
    assert out[11][0] == M // 62 + M // 61
    assert out[12][0] == M // 63
    assert out[13][0] == M // 63
    # both-systems docs outrank single-system docs; tie resolves by id
    assert out[10][1] == 1 and out[11][1] == 2  # equal scores, id order
    assert out[12][1] == 3 and out[13][1] == 4
    with pytest.raises(ValueError):
        S.rrf_fuse([])


def test_weighted_pagerank_matches_python_reference(spark):
    """pagerank(weight=...) equals an independent Python implementation
    of the documented integer contract (share = w*1e6 div wdeg,
    contrib = pr*share div 1e6) on an asymmetric weighted graph, and
    weights actually matter: the heavily-pointed-to node outranks the
    lightly-pointed-to one of equal degree."""
    from collections import defaultdict

    from go_streams_spark.functions.graph import (
        PAGERANK_SCALE, SHARE_SCALE, pagerank)
    edges = [(1, 2, 9), (1, 3, 1), (2, 1, 1), (3, 1, 1), (2, 3, 2),
             (1, 2, 1)]  # duplicate (1,2) row: weights must sum
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r["node"]: r["pr"]
           for r in pagerank(df, weight="w", iterations=3).collect()}

    w = defaultdict(int)
    for u, v, ww in edges:
        w[(u, v)] += ww
    nodes = sorted({x for e in w for x in e})
    wdeg = defaultdict(int)
    for (u, _), ww in w.items():
        wdeg[u] += ww
    share = {(u, v): (ww * SHARE_SCALE) // wdeg[u]
             for (u, v), ww in w.items()}
    n = len(nodes)
    pr = {x: PAGERANK_SCALE // n for x in nodes}
    for _ in range(3):
        sums = defaultdict(int)
        for (u, v), sh in share.items():
            if wdeg[u] > 0:
                sums[v] += (pr[u] * sh) // SHARE_SCALE
        base = (15 * PAGERANK_SCALE) // (100 * n)
        pr = {x: base + (85 * sums[x]) // 100 for x in nodes}
    expect = {x: round(pr[x] / float(PAGERANK_SCALE), 6) for x in nodes}
    assert got == expect
    assert got[2] > got[3]  # 1 sends 10/11 of its mass to 2, 1/11 to 3


def test_weighted_pagerank_rejects_bad_weights(spark):
    """pagerank(weight=...) fails LOUDLY on inputs that would silently
    corrupt the integer-share arithmetic: a non-integral weight column
    (would be floor-truncated by the long cast) raises at build time;
    a zero/negative/NULL weight value (NULL share silently dropped
    from sums under non-ANSI mode) fails the first job that scans it."""
    from py4j.protocol import Py4JJavaError

    from go_streams_spark.functions.graph import pagerank

    floats = spark.createDataFrame([(1, 2, 1.5)], "src long, dst long, w double")
    with pytest.raises(ValueError, match="must be integral"):
        pagerank(floats, weight="w")

    for bad in (0, -3, None):
        df = spark.createDataFrame([(1, 2, 7), (2, 1, bad)],
                                   "src long, dst long, w long")
        with pytest.raises(Exception, match="positive integer") as exc:
            pagerank(df, weight="w", iterations=1).collect()
        assert isinstance(exc.value, Py4JJavaError) or "positive" in str(exc.value)


def test_pq_encode_matches_numpy_reference(spark, sf_dir):
    """pq_encode vs an independent numpy PQ encoder: same fixed
    codebooks (vec_id<8 subvectors), same rounded-L2 argmin with
    lowest-centroid tie-break, same reconstruction norm — bit-exact
    codes and norms to 1e-9."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    cb = S.fixed_pq_codebooks(emb, m=4, ksub=8)
    got = {r["vec_id"]: (list(r["codes"]), r["recon_norm"])
           for r in S.pq_encode(emb, cb).collect()}

    vecs = {r["vec_id"]: np.array(r["v"], dtype=np.float64) for r in
            emb.select("vec_id", S.as_double("embedding").alias("v")).collect()}
    n_m, n_k, sd = cb.shape
    cnorm2 = (cb ** 2).sum(-1)
    for vid, v in vecs.items():
        vs = v.reshape(n_m, sd)
        codes = []
        for s in range(n_m):
            d2 = np.round(((vs[s][None, :] - cb[s]) ** 2).sum(-1), 6)
            codes.append(int(np.argmin(d2)))
        rn = float(np.sqrt(sum(cnorm2[s, c] for s, c in enumerate(codes))))
        assert got[vid][0] == codes, f"codes diverge for {vid}"
        assert abs(got[vid][1] - rn) < 1e-9


def test_pq_trained_beats_fixed(spark, sf_dir):
    """train_pq_codebooks (per-subspace Lloyd's) must strictly reduce
    the PQ reconstruction MSE vs its own fixed-subvector init — the
    k-means objective the codebook exists to minimize."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    fixed = S.fixed_pq_codebooks(emb, m=4, ksub=8)
    trained = S.train_pq_codebooks(emb, m=4, ksub=8, iterations=2)
    vecs = np.array([r["v"] for r in
                     emb.select(S.as_double("embedding").alias("v")).collect()],
                    dtype=np.float64)

    def mse(cb):
        m, k, sd = cb.shape
        qs = vecs.reshape(len(vecs), m, sd)
        return sum(((qs[:, s, None, :] - cb[s][None, :, :]) ** 2)
                   .sum(-1).min(axis=1).sum() for s in range(m)) / vecs.size

    assert mse(trained) < mse(fixed)


def test_pq_rerank_recall_monotone(spark, sf_dir):
    """The PQ cost/recall knob: exact re-rank of a LARGER ADC shortlist
    never loses true neighbors on aggregate, and re-ranked recall beats
    the raw compressed scan. Plan stays cogroup + hash joins — no
    cartesian, no vector-width index shuffle."""
    from go_streams_spark.plans import explain_str

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    cb = S.fixed_pq_codebooks(emb, m=4, ksub=8)
    truth = {}
    for r in S.brute_force_knn(emb, k=3).collect():
        truth.setdefault(r["vec_id"], set()).add(r["neighbor_id"])

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        return (sum(len(got.get(q, set()) & t) for q, t in truth.items())
                / sum(len(t) for t in truth.values()))

    r_adc = recall(S.pq_adc_knn(emb, cb, k=3))
    r_10 = recall(S.pq_rerank_knn(emb, cb, k=3, shortlist=10))
    r_40 = recall(S.pq_rerank_knn(emb, cb, k=3, shortlist=40))
    assert r_40 >= r_10          # shortlist growth never hurts recall
    assert r_40 > r_adc          # exact re-rank beats the compressed scan
    assert r_40 >= 0.3           # floor on this data (measured ~0.5+)
    plan = explain_str(S.pq_adc_knn(emb, cb, k=3), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_adc_knn_matches_per_query_reference(spark, sf_dir, monkeypatch):
    """The grid's vectorized local top-k selects exactly what a
    per-query (sim desc, id asc) lexsort over all other codes selects,
    on an uneven 3 x 2 grid."""
    import numpy as np
    monkeypatch.setattr(S, "KNN_GRID", (3, 2))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    cb = np.asarray(S.fixed_pq_codebooks(emb, m=4, ksub=8))
    got = {(r["vec_id"], r["rank"]): (r["neighbor_id"], r["sim"])
           for r in S.pq_adc_knn(emb, cb, k=3).collect()}
    enc = {r["vec_id"]: r for r in S.pq_encode(emb, cb).collect()}
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    ids = np.array(sorted(vecs), dtype=np.int64)
    sims = S._np_adc_cosine(
        np.array([vecs[i] for i in ids], dtype=np.float64),
        np.array([enc[i]["codes"] for i in ids], dtype=np.int64),
        np.array([enc[i]["recon_norm"] for i in ids]), cb, 6)
    want = {}
    for a, row in zip(ids, sims):
        cids, csims = ids[ids != a], row[ids != a]
        for rank, o in enumerate(np.lexsort((cids, -csims))[:3], 1):
            want[(int(a), rank)] = (int(cids[o]), float(csims[o]))
    assert got == want and len(want) == 180


def test_dsir_matches_python_reference(spark):
    """dsir_importance vs an independent Python reimplementation of
    the hashed-ngram importance estimator (arXiv:2302.03169 §2.2) on a
    tiny corpus: identical md5 bucketing, add-1 smoothing, and
    per-doc log-ratio sums to 1e-9. Also the semantic point: docs that
    share vocabulary with the target subset outscore docs that don't."""
    import hashlib
    import math

    rows = [
        (0, "the cat sat on the mat", True),
        (1, "the dog sat on the log", True),
        (2, "cat and dog on a mat", False),
        (3, "zxq qqw vvz zxq unrelated noise tokens", False),
        (4, "the cat and the dog", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    got = {r["doc_id"]: (r["n_feats"], r["dsir_weight"])
           for r in T.dsir_importance(df, target=F.col("tgt"),
                                      buckets=64).collect()}

    B = 64

    def bucket(feat: str) -> int:
        return int(hashlib.md5(feat.encode()).hexdigest()[:13], 16) % B

    def feats(text: str) -> list[int]:
        toks = [t for t in text.lower().split(" ") if t]
        bis = [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
        return [bucket(f) for f in toks + bis]

    raw: dict[int, int] = {}
    tgt: dict[int, int] = {}
    per_doc = {}
    for doc_id, text, is_tgt in rows:
        fs = feats(text)
        per_doc[doc_id] = fs
        for b in fs:
            raw[b] = raw.get(b, 0) + 1
            if is_tgt:
                tgt[b] = tgt.get(b, 0) + 1
    t_raw, t_tgt = sum(raw.values()), sum(tgt.values())
    for doc_id, fs in per_doc.items():
        w = sum(math.log((tgt.get(b, 0) + 1.0) / (t_tgt + B))
                - math.log((raw.get(b, 0) + 1.0) / (t_raw + B)) for b in fs)
        assert got[doc_id][0] == len(fs)
        assert abs(got[doc_id][1] - w) < 1e-9
    # semantic sanity: target-vocabulary doc 4 outscores noise doc 3
    assert got[4][1] > got[3][1]


def test_ivf_pq_rerank_and_plan(spark, sf_dir):
    """IVF-PQ: the refine stage (exact re-rank of the ADC shortlist)
    must not lose recall vs scoring in code space alone, the output
    contract holds (k rows per query, ranks 1..k, sims in [-1, 1]),
    and the plan is equi-join/cogroup only — no cartesian."""
    from go_streams_spark.plans import explain_str

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    truth = {}
    for r in S.brute_force_knn(emb, k=3).collect():
        truth.setdefault(r["vec_id"], set()).add(r["neighbor_id"])

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        return (sum(len(got.get(q, set()) & t) for q, t in truth.items())
                / sum(len(t) for t in truth.values()))

    plain = S.ivf_pq_knn(emb, k=3, nlist=16, nprobe=4, m=4, ksub=8)
    refined = S.ivf_pq_knn(emb, k=3, nlist=16, nprobe=4, m=4, ksub=8,
                           rerank_shortlist=20)
    rows = plain.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["vec_id"], []).append(r["rank"])
        assert -1.01 <= r["sim"] <= 1.01
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert recall(refined) >= recall(plain)
    plan = explain_str(plain, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_negative_sampling_excludes_interactions(spark, sf_dir):
    """Sampled negatives are genuinely negative: no (user, neg_item)
    row is a true interaction, slots are dense 1..k per user, items
    stay in the part-key domain, and the draw is reproducible (two
    runs produce identical rows — hash-derived, no RNG state)."""
    from go_streams_spark.queries import QUERIES

    out = QUERIES["negative_sampling_pairs"](spark, sf_dir)
    rows = [(r["user_id"], r["neg_item"], r["slot"]) for r in out.collect()]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    inter = {(r["o_custkey"], r["l_partkey"]) for r in
             orders.join(li, orders.o_orderkey == li.l_orderkey)
             .select("o_custkey", "l_partkey").distinct().collect()}
    n_parts = spark.read.parquet(f"{sf_dir}/part.parquet").count()
    per_user = {}
    for u, item, slot in rows:
        assert (u, item) not in inter          # never a true interaction
        assert 0 <= item < n_parts             # in the item domain
        per_user.setdefault(u, []).append(slot)
    assert all(sorted(s) == list(range(1, len(s) + 1))
               for s in per_user.values())     # dense slots
    rows2 = [(r["user_id"], r["neg_item"], r["slot"])
             for r in QUERIES["negative_sampling_pairs"](spark, sf_dir).collect()]
    assert sorted(rows) == sorted(rows2)       # reproducible


def test_leakage_safe_split_no_straddle(spark, sf_dir):
    """The property the split exists for: every near-dup pair (the
    MinHash-LSH edges the clustering consumed) lands WHOLLY inside one
    split — no train/eval contamination path — and the three splits
    partition the corpus."""
    from go_streams_spark.queries import QUERIES

    out = QUERIES["leakage_safe_split"](spark, sf_dir)
    split_of = {r["doc_id"]: (r["split"], r["component"])
                for r in out.collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert len(split_of) == docs.count()
    assert set(s for s, _ in split_of.values()) <= {"train", "val", "test"}
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert pairs, "gate data must contain near-dup pairs"
    for r in pairs:
        sa, ca = split_of[r["id_a"]]
        sb, cb = split_of[r["id_b"]]
        assert ca == cb and sa == sb, (r["id_a"], r["id_b"], sa, sb)


def test_bloom_decontamination_superset(spark, sf_dir):
    """The Bloom guarantee decontamination relies on: every doc the
    EXACT gram join flags is also flagged by the Bloom probe (no false
    negatives, ever), and each flagged doc's bloom hit count >= its
    exact hit count (a colliding non-overlapping gram can only ADD
    hits). False-positive docs are allowed — they cost recall of clean
    docs, never leakage."""
    from go_streams_spark.queries import QUERIES

    exact = {r["doc_id"]: r["n_hits"]
             for r in QUERIES["decontaminate_ngram_overlap"](
                 spark, sf_dir).collect()}
    bloom = {r["doc_id"]: r["n_bloom_hits"]
             for r in QUERIES["decontaminate_bloom"](spark, sf_dir).collect()}
    assert exact, "gate data must contain contaminated docs"
    missing = set(exact) - set(bloom)
    assert not missing, f"Bloom false negatives: {sorted(missing)[:5]}"
    # exact counts 5-gram OCCURRENCE-grams via lead-chain; bloom counts
    # DISTINCT grams — compare on the shared distinct-gram basis
    for d, n in exact.items():
        assert bloom[d] >= 1


def test_nb_classifier_matches_python_reference(spark):
    """nb_classifier_scores is engine-exact (to the 4dp round) against
    an independent hashlib+math Naive Bayes on a toy labeled corpus,
    and train-unseen buckets still contribute their smoothed ratio."""
    import hashlib
    import math

    from go_streams_spark.functions.text import nb_classifier_scores

    docs = [
        (1, "good clean prose with words", True, True),
        (2, "more good clean text here", True, True),
        (3, "spam spam buy now spam", False, True),
        (4, "buy now spam offer spam", False, True),
        (5, "clean words with good prose", None, False),   # score-only
        (6, "novel unseen vocabulary entirely", None, False),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, y boolean, tr boolean")
    out = {r["doc_id"]: r for r in nb_classifier_scores(
        df, label=F.col("y"), train=F.col("tr"), buckets=64).collect()}

    B = 64

    def feats(text):
        toks = [t for t in text.lower().split(" ") if t]
        fs = toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
        return [int(hashlib.md5(f.encode()).hexdigest()[:13], 16) % B
                for f in fs]

    pos = {}
    neg = {}
    for _, text, y, tr in docs:
        if not tr:
            continue
        for b in feats(text):
            d = pos if y else neg
            d[b] = d.get(b, 0) + 1
    t_pos, t_neg = sum(pos.values()), sum(neg.values())
    prior = math.log((2 + 1.0) / (2 + 1.0))
    for doc_id, text, _, _ in docs:
        fs = feats(text)
        ev = sum(math.log((pos.get(b, 0) + 1.0) / (t_pos + B))
                 - math.log((neg.get(b, 0) + 1.0) / (t_neg + B))
                 for b in fs)
        want = round(prior + ev, 4)
        got = out[doc_id]
        assert got["n_feats"] == len(fs)
        assert abs(got["log_odds"] - want) < 1e-9, (doc_id, got, want)
        assert got["pred"] == ((prior + ev) > 0)
    # held-out docs classify sensibly
    assert out[5]["pred"] is True


def test_pcm_window_features_reference(spark):
    """pcm_window_features on synthesized int16 PCM (including negative
    samples and an odd trailing byte) matches a direct Python
    computation; knobs validate loudly."""
    import struct

    import pytest
    from go_streams_spark.functions.multimodal import pcm_window_features

    samples = [100, -200, 300, -32768, 32767, 0, -1, 5, 7, -9]
    blob = b"".join(struct.pack("<h", v) for v in samples) + b"\x7f"  # odd tail
    df = spark.createDataFrame([(1, bytearray(blob))],
                               "doc_id long, media binary")
    rows = {r["win_idx"]: r for r in
            pcm_window_features(df, window=4, hop=3).collect()}
    # windows: [0:4], [3:7], [6:10]
    assert set(rows) == {0, 1, 2}

    def feats(x):
        en = sum(v * v for v in x)
        pk = max(abs(v) for v in x)
        neg = [v < 0 for v in x]
        zc = sum(1 for a, b in zip(neg, neg[1:]) if a != b)
        return en, pk, zc

    for w, lo in zip(range(3), (0, 3, 6)):
        en, pk, zc = feats(samples[lo:lo + 4])
        r = rows[w]
        assert (r["energy"], r["peak"], r["zero_crossings"]) == (en, pk, zc)
        assert r["n_samples"] == 4

    with pytest.raises(ValueError, match="window must be positive"):
        pcm_window_features(df, window=0)
    with pytest.raises(ValueError, match="hop must be positive"):
        pcm_window_features(df, hop=0)


def test_mahalanobis_matches_numpy_reference(spark):
    """embedding_second_moments is integer-exact vs direct numpy, and
    mahalanobis_scores_exact matches a from-scratch float numpy
    computation (quantized moments, float mean, ridge, inverse) within
    the error its micro-unit quantization allows. Per row, with y the
    centred vector and W the inverse: each y component is off by at
    most 1e-6 (x rounded to micro-units, 0.5e-6, and the mean rounded
    to an integer micro-unit, 0.5e-6), each W entry by at most 1e-6
    (quantized to 1e-6 units, 0.5e-6, plus the covariance's shift from
    the rounded mean, far below that), and each 6-dp output by 0.5e-6.
    To first order the score differs by at most
    tol = 2e-6 * |W y|_1 + 1e-6 * |y|_1^2 + 1e-6."""
    import numpy as np

    from go_streams_spark.functions.similarity import (
        embedding_second_moments, mahalanobis_scores_exact)

    rng = np.random.RandomState(7)
    X = rng.randn(40, 5).astype(np.float32)
    rows = [(i, [float(v) for v in X[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    q = np.floor(X.astype(np.float64) * 1e6 + 0.5).astype(np.int64)
    want_S = q.T @ q
    got = {(r["i"], r["j"]): int(r["s"])
           for r in embedding_second_moments(df).collect()}
    assert got == {(i, j): int(want_S[i, j])
                   for i in range(5) for j in range(5)}

    n = len(X)
    S = want_S.astype(np.float64) / 1e12
    mu = X.astype(np.float64).mean(axis=0)
    cov = S / n - np.outer(mu, mu) + 1e-3 * np.eye(5)
    w = np.linalg.inv(cov)
    xc = X.astype(np.float64) - mu
    want = np.round(np.einsum("nd,de,ne->n", xc, w, xc), 6)
    tol = (2e-6 * np.abs(xc @ w).sum(axis=1)
           + 1e-6 * np.abs(xc).sum(axis=1) ** 2 + 1e-6)
    out = {r["vec_id"]: r["maha2"]
           for r in mahalanobis_scores_exact(df).collect()}
    for i in range(n):
        assert abs(out[i] - want[i]) <= tol[i], (i, out[i], want[i], tol[i])


def test_isotonic_calibration_pav_properties(spark):
    """PAV output is monotone, group-scoped, equals a brute-force
    minimax computation on a planted non-monotone profile, and
    validates its knobs."""
    import pytest
    from go_streams_spark.functions.checks import isotonic_calibration

    # bins (via score=bin/10): pos rates 0.2, 0.8, 0.4 -> middle two pool
    rows = []
    profile = [(0, 10, 2), (1, 10, 8), (2, 10, 4)]
    for b, n, pos in profile:
        for i in range(n):
            rows.append(("g1", b / 10 + 0.01, i < pos))
    df = spark.createDataFrame(rows, "grp string, score double, y boolean")
    out = (isotonic_calibration(df, score_col="score", label_col="y",
                                group_cols=("grp",), bins=10, lo=0.0, hi=1.0)
           .orderBy("bin").collect())
    assert [r["bin"] for r in out] == [0, 1, 2]
    cal = [r["calibrated"] for r in out]
    assert all(a <= b for a, b in zip(cal, cal[1:]))
    assert cal == [0.2, 0.6, 0.6]   # blocks {0}, {1,2} pooled to 12/20

    # brute-force minimax equality on the same profile
    ns = [n for _, n, _ in profile]
    ps = [p for _, _, p in profile]
    def mean(i, j):
        return sum(ps[i:j + 1]) / sum(ns[i:j + 1])
    want = [round(max(min(mean(i, j) for j in range(k, 3))
                      for i in range(k + 1)), 6) for k in range(3)]
    assert cal == want

    with pytest.raises(ValueError, match="bins must be >= 2"):
        isotonic_calibration(df, score_col="score", label_col="y", bins=1)
    with pytest.raises(ValueError, match="hi > lo"):
        isotonic_calibration(df, score_col="score", label_col="y",
                             lo=1.0, hi=1.0)


def test_jl_project_exact_vs_numpy_and_distance_preserving(spark, sf_dir):
    """(a) The engine projection equals an independent NumPy
    reference EXACTLY (integer micro-unit pinning — no float-order
    slack). (b) The JL property: squared pairwise distances in the
    projected space, normalized by out_dim/dim... concretely
    ||Px||^2 / (out_dim * ||x||^2) concentrates near 1."""
    import numpy as np
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    out_dim = 16
    rows = emb.select("vec_id", "embedding").collect()
    got = {r["vec_id"]: r["proj"] for r in
           S.jl_project(emb, dim=64, out_dim=out_dim).collect()}

    signs = np.array(S.rademacher_signs(64, out_dim), dtype=np.int64)
    ratios = []
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        q = np.floor(v * 1_000_000 + 0.5).astype(np.int64)
        ref = np.round(signs @ q / 1_000_000.0, 6)
        assert list(got[r["vec_id"]]) == list(ref), r["vec_id"]
        n2 = float(v @ v)
        if n2 > 0:
            p = signs @ v
            ratios.append(float(p @ p) / (out_dim * n2))
    # E[||Px||^2] = out_dim * ||x||^2 for Rademacher P; the mean ratio
    # over 100 vectors concentrates (variance ~ 2/out_dim per vector)
    m = sum(ratios) / len(ratios)
    assert 0.8 < m < 1.2, m


def test_jl_project_validation_and_plan(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(10)
    with pytest.raises(ValueError, match="dim/out_dim"):
        S.jl_project(emb, dim=0, out_dim=4)
    with pytest.raises(ValueError, match="scale"):
        S.jl_project(emb, dim=64, out_dim=4, scale=0)
    # width mismatch fails loudly at runtime, never NULL-sums
    import py4j.protocol
    from pyspark.errors import PySparkException
    bad = S.jl_project(emb, dim=32, out_dim=4)
    with pytest.raises((PySparkException, py4j.protocol.Py4JJavaError)):
        bad.collect()
    # plan: pure per-row map — no Exchange, no Python stage
    from go_streams_spark.plans import explain_str
    plan = explain_str(S.jl_project(emb, dim=64, out_dim=8), "formatted")
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_prefix_filter_pairs_complete_and_bucketed(spark, sf_dir):
    """PPJoin completeness: against brute-force exact Jaccard the
    prefix-filtered join must find EVERY pair >= threshold (recall 1.0
    by construction — this is the deterministic advantage over
    MinHash-LSH), and the LSH path a subset of it. Both plan candidate
    generation as an equi-join (no cartesian, no corpus-side
    broadcast)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           D.prefix_filter_pairs(docs, ngram=3, threshold=0.5).collect()}

    # brute-force reference on the same slice
    sh = {}
    for r in docs.select("doc_id", "text").collect():
        toks = [t for t in r["text"].lower().split(" ") if t]
        sh[r["doc_id"]] = {" ".join(toks[i:i + 3])
                           for i in range(len(toks) - 2)}
    expect = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if inter:
                j = round(inter / max(len(sh[a]) + len(sh[b]) - inter, 1), 4)
                if j >= 0.5:
                    expect[(a, b)] = j
    assert got == expect
    # the LSH pipeline (candidates -> length filter -> the same verify)
    # may only ever find a SUBSET, with the same jaccard values
    lsh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           D.ngram_jaccard_pairs(docs, ngram=3, threshold=0.5).collect()}
    assert set(lsh) <= set(got)
    assert all(got[k] == v for k, v in lsh.items())

    from go_streams_spark.plans import explain_str
    for q in (D.prefix_filter_pairs(docs, ngram=3, threshold=0.5),
              D.ngram_jaccard_pairs(docs, ngram=3, threshold=0.5)):
        plan = explain_str(q, "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    with pytest.raises(ValueError, match="threshold"):
        D.prefix_filter_pairs(docs, threshold=0.0)


def test_prefix_filter_candidate_budget_guard(spark, sf_dir):
    """The memory guard: when the prefix-bucket histogram upper-bounds
    candidate volume above the budget, prefix_filter_pairs must raise
    BEFORE forming any pair, and the message must name the
    memory-safe LSH path, ngram_jaccard_pairs (the sf10 OOM class,
    SCALE.md §22/§24)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    with pytest.raises(RuntimeError, match="ngram_jaccard_pairs"):
        D.prefix_filter_pairs(docs, ngram=3, threshold=0.5,
                              max_candidate_estimate=1)
    # budget=None runs unguarded; default budget passes at this scale
    assert D.prefix_filter_pairs(
        docs, ngram=3, threshold=0.5,
        max_candidate_estimate=None).count() >= 0


def test_setsim_filters_keep_the_verify_rounding_edge(spark):
    """The verify keeps round(J, 4) >= t, so J = 5000/10001 = 0.49995
    counts as 0.5. Doc 1 is 5,002 distinct tokens (5,000 3-grams); doc
    2 is doc 1 plus 5,001 new tokens (10,001 3-grams). A prefix or
    length filter derived from t itself prunes that pair: doc 2's
    5,001 rarest shingles are its own, and 5000 < 0.5 * 10001."""
    from go_streams_spark.functions.dedup import (
        _length_filter, _verify_floor_micro)
    base = " ".join(f"a{i}" for i in range(5002))
    docs = spark.createDataFrame(
        [(1, base), (2, base + " " + " ".join(f"b{i}" for i in range(5001)))],
        "doc_id bigint, text string")
    assert [tuple(r) for r in D.prefix_filter_pairs(
        docs, ngram=3, threshold=0.5).collect()] == [(1, 2, 0.5)]
    sizes = spark.createDataFrame([(5000, 10001), (10001, 5000),
                                   (5000, 10002)], "ca long, cb long")
    keep = [r[0] for r in sizes.select(
        _length_filter(_verify_floor_micro(0.5))).collect()]
    assert keep == [True, True, False]   # 5000/10002 rounds to 0.4999


def test_compression_ratio_exact_vs_zlib(spark, sf_dir):
    """Engine compression ratios equal an independent zlib computation
    EXACTLY for every document, and the repetitive-text signal orders
    correctly (templated text below prose)."""
    import zlib
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    got = {r["doc_id"]: (r["raw_len"], r["comp_len"], r["ratio"]) for r in
           T.compression_ratio(docs, level=6).collect()}
    for r in docs.select("doc_id", "text").collect():
        raw = (r["text"] or "").encode("utf-8")
        comp = len(zlib.compress(raw, 6))
        assert got[r["doc_id"]] == (
            len(raw), comp, round(comp / max(len(raw), 1), 4))
    # signal sanity: heavy repetition compresses below varied prose
    pair = spark.createDataFrame(
        [(1, "spam ham " * 200),
         (2, "The quick brown fox jumps over the lazy dog while "
             "seventeen astronomers catalogue distant quasars near "
             "Jupiter; every sentence here differs deliberately." * 4)],
        "doc_id long, text string")
    pr = {r["doc_id"]: r["ratio"] for r in
          T.compression_ratio(pair).collect()}
    assert pr[1] < pr[2]
    with pytest.raises(ValueError, match="level"):
        T.compression_ratio(docs, level=10)


def test_cusum_changepoint_finds_level_shift(spark, tmp_path):
    """Synthetic hourly series with a known level shift at hour 24:
    the CUSUM argmax must land exactly on the boundary hour (last hour
    of the low regime), matching an independent NumPy computation."""
    import datetime as dt
    import numpy as np
    from go_streams_spark.queries import QUERIES
    base = dt.datetime(2024, 3, 1)
    rows = []
    for h in range(48):
        level = 10.0 if h < 24 else 50.0
        # two events per hour, deterministic jitter
        rows.append((h * 2, base + dt.timedelta(hours=h, minutes=5),
                     1, "view", level + (h % 3) * 0.25, "{}"))
        rows.append((h * 2 + 1, base + dt.timedelta(hours=h, minutes=35),
                     2, "click", level - (h % 2) * 0.5, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")
    got = QUERIES["cusum_changepoint_hourly"](spark, d).collect()[0]
    v = np.array([round(sum(r[4] for r in rows if
                            (r[1] - base).total_seconds() // 3600 == h), 2)
                  for h in range(48)])
    s = np.round(np.cumsum(v) - (np.arange(1, 49) * v.sum()) / 48, 2)
    k = int(np.argmax(np.abs(s)))
    assert got["n_hours"] == 48
    assert got["cusum"] == s[k]
    assert (got["cp_hour"] - base).total_seconds() / 3600 == k == 23


def test_theilsen_robust_to_outlier(spark, tmp_path):
    """Theil-Sen vs OLS on a synthetic series with one massive outlier
    day: Theil-Sen recovers the true slope exactly (median of pairwise
    slopes, cross-checked vs NumPy); OLS on the same data is bent far
    off. Also pins the pair-count C(n,2)."""
    import datetime as dt
    import numpy as np
    from go_streams_spark.queries import QUERIES
    base = dt.datetime(2024, 1, 1, 12)
    days, true_slope = 21, 3.0
    rows = []
    eid = 0
    for d in range(days):
        v = 100.0 + true_slope * d + (5000.0 if d == 20 else 0.0)
        rows.append((eid, base + dt.timedelta(days=d), 1, "view", v, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")
    got = {r["event_type"]: r for r in
           QUERIES["theilsen_slope_by_type"](spark, d).collect()}
    r = got["view"]
    assert r["n_pairs"] == days * (days - 1) // 2
    # NumPy reference median of pairwise slopes
    v = np.array([100.0 + true_slope * i + (5000.0 if i == 20 else 0.0)
                  for i in range(days)])
    slopes = [(v[j] - v[i]) / (j - i)
              for i in range(days) for j in range(i + 1, days)]
    assert r["slope"] == round(float(np.median(slopes)), 4)
    # robust: close to truth despite the outlier; OLS is not
    assert abs(r["slope"] - true_slope) < 0.5
    ols = {o["event_type"]: o["slope"] for o in
           QUERIES["trend_slope_by_type"](spark, d).collect()}
    assert abs(ols["view"] - true_slope) > 5


def test_benford_audit_math_and_detection(spark, tmp_path):
    """Benford report on hand-built prices: exact cent-grain digit
    extraction (9.99 -> '999' -> digit 9), shares sum to 1, excess =
    share - constant, and a fabricated uniform-digit column shows the
    signature deviation (digit 1 under-represented vs 0.30103)."""
    rows = []
    # 180 uniform-first-digit prices: 20 per digit (fabricated-looking)
    pid = 0
    for d in range(1, 10):
        for k in range(20):
            rows.append((pid, float(d) + k / 100.0))  # d.00..d.19
            pid += 1
    df = spark.createDataFrame(rows, "l_linenumber long, l_extendedprice double")
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(d + "/lineitem.parquet")
    from go_streams_spark.queries import QUERIES
    got = {r["digit"]: r for r in QUERIES["benford_price_audit"](spark, d).collect()}
    assert set(got) == set(range(1, 10))
    assert all(g["n"] == 20 for g in got.values())
    assert abs(sum(g["share"] for g in got.values()) - 1.0) < 1e-5
    for g in got.values():
        assert g["excess"] == round(g["share"] - g["benford_share"], 6)
    # uniform digits: digit 1 falls far below Benford expectation
    assert got[1]["excess"] < -0.15 and got[9]["excess"] > 0.05
    # cent-grain exactness: 9.99 must NOT become digit 1 via float fuzz
    one = spark.createDataFrame([(0, 9.99)],
                                "l_linenumber long, l_extendedprice double")
    one.coalesce(1).write.mode("overwrite").parquet(d + "/lineitem.parquet")
    got9 = {r["digit"]: r["n"] for r in
            QUERIES["benford_price_audit"](spark, d).collect()}
    assert got9[9] == 1 and got9[1] == 0


def test_correlation_matrix_single_pass_and_values(spark, sf_dir):
    """One-pass matrix: the plan contains exactly ONE lineitem scan;
    values match NumPy's corrcoef to the rounded precision; and the
    pair table covers all k(k-1)/2 combinations exactly once."""
    import numpy as np
    from go_streams_spark.queries import QUERIES
    from go_streams_spark.plans import explain_str
    df = QUERIES["measure_correlation_matrix"](spark, sf_dir)
    assert explain_str(df, "simple").count("FileScan") == 1
    rows = df.collect()
    assert len(rows) == 6
    pairs = {(r["col_a"], r["col_b"]) for r in rows}
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    assert pairs == {(a, b) for i, a in enumerate(cols)
                     for b in cols[i + 1:]}
    pdf = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .select(*cols).toPandas()
    for r in rows:
        ref = np.corrcoef(pdf[r["col_a"]], pdf[r["col_b"]])[0, 1]
        assert abs(r["corr"] - ref) < 2e-4, (r["col_a"], r["col_b"])
        assert r["n"] == len(pdf)


def test_bpe_oracle_replace_fold_edge_cases():
    """The generated BPE oracle's sentinel-string replace must equal
    the greedy left-to-right merge fold on every overlap shape: a == b
    runs, alternating chains, false prefix/suffix symbol matches, and
    multi-char merged symbols."""
    import duckdb

    def py_fold(syms, a, b):
        acc = []
        for x in syms:
            if acc and acc[-1] == a and x == b:
                acc[-1] = a + b
            else:
                acc.append(x)
        return acc

    con = duckdb.connect()
    cases = [
        (["t", "h", "t", "h"], ("t", "h")),
        (["a", "a", "a"], ("a", "a")),
        (["a", "a", "a", "a"], ("a", "a")),
        (["a", "b", "a", "b", "a"], ("a", "b")),
        (["a", "a", "b"], ("a", "b")),
        (["xt", "h"], ("t", "h")),
        (["t", "he"], ("t", "h")),
        (["th", "e", "th", "e"], ("th", "e")),
        (["x"], ("x", "x")),
        (["ab", "b", "ab", "b"], ("ab", "b")),
    ]
    for syms, (a, b) in cases:
        got = con.execute("""
        WITH s AS (SELECT chr(1) || chr(1)
                          || array_to_string($1::VARCHAR[],
                                             chr(1) || chr(1))
                          || chr(1) || chr(1) AS str)
        SELECT list_filter(string_split(
                 replace(str,
                         chr(1) || $2 || chr(1) || chr(1) || $3 || chr(1),
                         chr(1) || $2 || $3 || chr(1)),
                 chr(1) || chr(1)), x -> x <> '') FROM s
        """, [syms, a, b]).fetchone()[0]
        assert got == py_fold(syms, a, b), (syms, a, b, got)


def test_train_codebook_exact_matches_python(spark):
    """Integer spherical k-means: the distributed trainer must equal a
    pure-Python reimplementation (quantize, argmax of 6-dp quantized
    cosine with first-max ties, exact integer sums, trunc-div
    normalization, empty clusters keep previous centroids)."""
    import math

    import numpy as np
    from go_streams_spark.functions.similarity import (
        semdedup_prune_exact, train_codebook_exact)

    rng = [(i, [math.sin(i * 0.7 + j) * 0.5 for j in range(6)])
           for i in range(40)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    got = train_codebook_exact(df, k=4, iterations=3)

    def q32(v):
        return [math.floor(float(np.float32(x)) * 1e6 + 0.5) for x in v]

    def qcos6(qa, qb):
        d = sum(x * y for x, y in zip(qa, qb))
        na = math.sqrt(sum(x * x for x in qa))
        nb = math.sqrt(sum(x * x for x in qb))
        return math.floor(d / (na * nb) * 1e6 + 0.5)

    vecs = {i: q32(v) for i, v in rng}
    cb = [list(vecs[i]) for i in range(4)]
    for _ in range(3):
        members = {c: [] for c in range(4)}
        for i, qv in vecs.items():
            sims = [qcos6(qv, c) for c in cb]
            members[max(range(4), key=lambda c: (sims[c], -c))].append(i)
        for c, ids in members.items():
            if not ids:
                continue
            n = len(ids)
            sums = [sum(vecs[i][j] for i in ids) for j in range(6)]
            cb[c] = [abs(s) // n * (1 if s >= 0 else -1) for s in sums]
    assert got == cb

    # verdict smoke: every vector gets a verdict, keeps are plausible
    out = {r["vec_id"]: (r["cid"], r["kept"])
           for r in semdedup_prune_exact(
               df, nlist=4, iterations=3,
               threshold_micro=999_000).collect()}
    assert len(out) == 40 and all(0 <= c < 4 for c, _ in out.values())


def test_mahalanobis_exact_invariants(spark, sf_dir):
    """Engine-exact Mahalanobis: scores are finite, non-negative and in
    exact 1e-6 micro-units (agreement with a float computation is
    test_mahalanobis_matches_numpy_reference)."""
    from go_streams_spark.functions.similarity import mahalanobis_scores_exact

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    got = {r["vec_id"]: r["maha2"]
           for r in mahalanobis_scores_exact(emb).collect()}
    assert len(got) == 200
    for v in got.values():
        assert v >= 0 and abs(v * 1e6 - round(v * 1e6)) < 1e-3


def test_pca_whitening_statistics(spark, sf_dir):
    """Whitened coordinates must actually be white: each of the top
    axes has ~unit variance (ridge shrinks it slightly below 1), means
    ~0, and distinct axes are ~uncorrelated. Exactness vs the SQL
    oracle is the gate query; this pins the LINEAR-ALGEBRA semantics."""
    import numpy as np
    from go_streams_spark.functions.similarity import pca_whiten_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = pca_whiten_embeddings(emb, out_dim=4).collect()
    by_axis = {}
    for r in rows:
        by_axis.setdefault(r["j"], []).append(r["coord"])
    assert set(by_axis) == {0, 1, 2, 3}
    mats = np.array([by_axis[j] for j in range(4)])
    var = mats.var(axis=1)
    assert np.all(var > 0.7) and np.all(var < 1.1), var
    assert np.all(np.abs(mats.mean(axis=1)) < 0.1)
    corr = np.corrcoef(mats)
    off = corr[~np.eye(4, dtype=bool)]
    assert np.all(np.abs(off) < 0.15), corr


def test_token_budget_select_semantics(spark, sf_dir):
    """Budget-cut invariants: selected token mass is within one
    boundary-doc of the budget (never over), every selected doc's
    quality bucket >= every rejected doc's bucket except inside the
    boundary bucket, and the verdict covers every doc exactly once."""
    from go_streams_spark.functions.text import token_budget_select

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = token_budget_select(docs, budget_frac_micro=300_000,
                              bins=64).collect()
    assert len(out) == docs.count()
    total = sum(r["n_tokens"] for r in out)
    budget = total * 300_000 // 1_000_000
    sel = [r for r in out if r["selected"]]
    sel_tokens = sum(r["n_tokens"] for r in sel)
    assert sel_tokens <= budget and sel_tokens > 0
    # exact contract: full buckets above the boundary, then prefix
    # admission in md5(doc_id) order within the boundary bucket —
    # reconstruct in pure Python and compare verdict sets
    import hashlib

    by_bin: dict[int, list] = {}
    for r in out:
        by_bin.setdefault(r["qbin"], []).append(r)
    expect_sel = set()
    remaining = budget
    boundary_done = False
    for qb in sorted(by_bin, reverse=True):
        bt = sum(r["n_tokens"] for r in by_bin[qb])
        if not boundary_done and bt <= remaining:
            expect_sel |= {r["doc_id"] for r in by_bin[qb]}
            remaining -= bt
        elif not boundary_done:
            run = 0
            for r in sorted(by_bin[qb], key=lambda r: (
                    hashlib.md5(str(r["doc_id"]).encode()).hexdigest(),
                    r["doc_id"])):
                run += r["n_tokens"]
                if run <= remaining:
                    expect_sel.add(r["doc_id"])
            boundary_done = True
    assert {r["doc_id"] for r in sel} == expect_sel
    # invalid knobs fail fast
    import pytest as _pytest
    with _pytest.raises(ValueError, match="budget_frac_micro"):
        token_budget_select(docs, budget_frac_micro=0)
    with _pytest.raises(ValueError, match="bins"):
        token_budget_select(docs, bins=1)


# ---------------------------------------------------------------- round 7


def test_blocklist_scrub_semantics(spark):
    from go_streams_spark.functions.text import blocklist_scrub
    df = spark.createDataFrame(
        [(1, "Slow spam slow words here"),   # 3 hits of 5 tokens
         (2, "clean text only"),
         (3, "slowly sloping")],             # substrings must NOT match
        "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in blocklist_scrub(df).collect()}
    assert got[1]["n_blocked"] == 3 and got[1]["n_tokens"] == 5
    assert not got[1]["keep"]
    assert got[2]["n_blocked"] == 0 and got[2]["keep"]
    assert got[3]["n_blocked"] == 0 and got[3]["keep"]  # exact-token only
    assert got[1]["blocked_ratio_micro"] == 600_000
    import pytest as _pt
    with _pt.raises(ValueError):
        blocklist_scrub(df, blocklist=())
    with _pt.raises(ValueError):
        blocklist_scrub(df, max_ratio_micro=2_000_000)


def test_winnowing_shared_run_guarantee(spark):
    """The winnowing property: any shared token run of length
    window + ngram - 1 (= 6 here) must produce at least one shared
    fingerprint — and the selected set is a small fraction of grams."""
    from go_streams_spark.functions.text import winnow_fingerprints
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    df = spark.createDataFrame(
        [(1, f"one two three {shared} four five six"),
         (2, f"nine eight {shared} seven ten")],
        "doc_id bigint, text string")
    fps = winnow_fingerprints(df, ngram=3, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fp"
    # density: winnowing selects ~2/(w+1) of grams, never all of them
    n_grams_doc1 = len(f"one two three {shared} four five six".split()) - 2
    assert len(by_doc[1]) < n_grams_doc1
    import pytest as _pt
    with _pt.raises(ValueError):
        winnow_fingerprints(df, window=0)


def test_minhash_quality_report_exact_duplicates(spark):
    """Identical docs are an LSH candidate with estimate == exact ==
    1.0 and zero error; a disjoint doc pairs with nothing."""
    from go_streams_spark.functions.dedup import minhash_quality_report
    t = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, "completely different words everywhere now")],
        "doc_id bigint, text string")
    rows = minhash_quality_report(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["est_micro"] == 1_000_000 and r["exact_micro"] == 1_000_000
    assert r["abs_err_micro"] == 0


def test_mrl_truncation_full_dim_is_identity(spark):
    """Truncating at the FULL dimension must reproduce the exact top-k
    (overlap_at_k == k for every probe); a 1-dim prefix of adversarial
    vectors must lose neighbors."""
    import random
    from go_streams_spark.functions.similarity import mrl_truncation_eval
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = mrl_truncation_eval(df, dims=(8,), k=3, probe_mod=4).collect()
    assert out and all(r["overlap_at_k"] == 3 for r in out)
    assert all(r["recall_micro"] == 1_000_000 for r in out)


def test_mrl_arrow_sims_match_jvm_formula(spark):
    """r9: the per-pair sims moved from JVM higher-order folds to a
    numpy mapInArrow pass — pin bit-exactness against the original
    JVM expression (floor(dot/(sqrt(max(na,1))*sqrt(max(nb,1)))
    *scale+0.5)/scale over the quantized vectors) on vectors that
    exercise negatives, zeros and an all-zero prefix (the max(n,1)
    guard)."""
    import random
    from pyspark.sql import functions as F
    from go_streams_spark.functions.similarity import (
        mrl_truncation_eval, quantized_vec)
    rnd = random.Random(13)
    rows = [(i, ([0.0, 0.0] if i % 5 == 0 else
                 [rnd.uniform(-1, 1), rnd.uniform(-1, 1)])
             + [rnd.uniform(-1, 1) for _ in range(6)])
            for i in range(15)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {(r["vec_id"], r["trunc_dim"]): (r["overlap_at_k"],
                                           r["recall_micro"])
           for r in mrl_truncation_eval(df, dims=(2, 4), k=3,
                                        probe_mod=3).collect()}
    # JVM replay of the ORIGINAL formula for the same probes/pairs
    scale = 10 ** 6
    base = df.select("vec_id", quantized_vec("embedding", scale).alias("v"))
    pr = base.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va")) \
        .where(F.pmod("id_a", F.lit(3)) == 0)
    ca = base.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = pr.crossJoin(ca).where(F.col("id_a") != F.col("id_b"))

    def isum(arr):
        return F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)

    def q(dot, na, nb):
        return (F.floor(dot / (F.sqrt(F.greatest(na, F.lit(1)))
                               * F.sqrt(F.greatest(nb, F.lit(1))))
                        * scale + F.lit(0.5)) / float(scale))

    prod = F.zip_with("va", "vb", lambda x, y: x * y)
    scored = pairs.select(
        "id_a", "id_b",
        q(isum(prod), isum(F.transform("va", lambda x: x * x)),
          isum(F.transform("vb", lambda x: x * x))).alias("sim_f"),
        *[q(isum(F.slice(prod, 1, d)),
            isum(F.transform(F.slice("va", 1, d), lambda x: x * x)),
            isum(F.transform(F.slice("vb", 1, d), lambda x: x * x)))
          .alias(f"sim_t{d}") for d in (2, 4)])
    from pyspark.sql import Window as W
    rf = F.row_number().over(
        W.partitionBy("id_a").orderBy(F.col("sim_f").desc(), "id_b"))
    ref = scored.select("id_a", rf.alias("rf"), *[
        F.row_number().over(W.partitionBy("id_a")
                            .orderBy(F.col(f"sim_t{d}").desc(), "id_b"))
        .alias(f"rt{d}") for d in (2, 4)])
    exp = ref.groupBy("id_a").agg(*[
        F.sum(F.when((F.col(f"rt{d}") <= 3) & (F.col("rf") <= 3), 1)
              .otherwise(0)).cast("long").alias(f"ov{d}")
        for d in (2, 4)]).collect()
    import math
    for r in exp:
        for d in (2, 4):
            got = out[(r["id_a"], d)]
            assert got[0] == r[f"ov{d}"]
            assert got[1] == math.floor(r[f"ov{d}"] * 1_000_000 / 3 + 0.5)


def test_minhash_with_sizes_carries_exact_counts(spark):
    """ngram_jaccard_pairs' length filter reads ca/cb carried through
    the band join (with_sizes) instead of joining a count aggregate —
    the pair set must be identical to the plain form and the sizes
    must equal each doc's distinct-shingle count."""
    from go_streams_spark.functions.dedup import (
        minhash_lsh_candidates, shingle_rows)
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"),
         (3, "a b c d e f g h i"), (4, "x y z w q r s")],
        "doc_id bigint, text string")
    plain = {(r["id_a"], r["id_b"])
             for r in minhash_lsh_candidates(docs).collect()}
    sized = minhash_lsh_candidates(docs, with_sizes=True).collect()
    assert {(r["id_a"], r["id_b"]) for r in sized} == plain and plain
    counts = {r["doc_id"]: r["n"]
              for r in shingle_rows(docs).groupBy("doc_id")
              .count().withColumnRenamed("count", "n").collect()}
    for r in sized:
        assert r["ca"] == counts[r["id_a"]]
        assert r["cb"] == counts[r["id_b"]]


def test_winnowing_overlap_detects_copied_passage(spark):
    """A passage copied between two otherwise-different docs must
    surface as an overlap pair; full duplicates score containment 1.0;
    unrelated docs pair with nothing."""
    from go_streams_spark.functions.text import capped_winnow_fingerprints

    passage = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, f"intro words here {passage} closing remarks now"),
         (2, f"other opening {passage} different ending text"),
         (3, "totally unrelated content about nothing shared at all"),
         (4, f"intro words here {passage} closing remarks now")],  # dup of 1
        "doc_id bigint, text string")
    fp = capped_winnow_fingerprints(docs)
    a = fp.select(F.col("doc_id").alias("id_a"), "fp_hash")
    b = fp.select(F.col("doc_id").alias("id_b"), "fp_hash")
    pairs = {(r["id_a"], r["id_b"]): r["n"] for r in
             (a.join(b, "fp_hash").where(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b").agg(F.count("*").alias("n"))
              .collect())}
    assert (1, 2) in pairs, "copied passage must share fingerprints"
    assert (1, 4) in pairs and pairs[(1, 4)] >= pairs[(1, 2)]
    assert not any(3 in p for p in pairs), "unrelated doc must not pair"


def test_capped_winnow_fingerprints_cap_and_null_ids(spark):
    """The doc-frequency cap keeps a fingerprint shared by exactly 20
    docs and drops one shared by 21. A null-id row is dropped before
    the count: it neither appears (so it cannot pair) nor pushes the
    20-doc fingerprint over the cap."""
    from go_streams_spark.functions.text import (
        capped_winnow_fingerprints, winnow_fingerprints)

    # a 3-token doc has one 3-gram, hence exactly one fingerprint
    rows = ([(i, "kept at cap") for i in range(20)]
            + [(100 + i, "dropped over cap") for i in range(21)]
            + [(None, "kept at cap"), (None, "dropped over cap")])
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    fp_of = {r["doc_id"]: r["fp_hash"] for r in
             winnow_fingerprints(docs.where(F.col("doc_id").isin(0, 100)))
             .collect()}
    got = capped_winnow_fingerprints(docs).collect()
    assert all(r["doc_id"] is not None for r in got)
    assert {r["fp_hash"] for r in got} == {fp_of[0]}
    assert sorted(r["doc_id"] for r in got) == list(range(20))


def test_winnowing_fingerprint_pipeline_runs_once(spark, sf_dir):
    """The doc-frequency cap and the pair join read one fp_hash shuffle
    of the fingerprints: the final plan holds ONE posexplode subtree,
    every other use is a ReusedExchange. Checked on the query and on
    the helper itself (dedup_method_eval hides its use inside a
    persisted frame)."""
    from go_streams_spark.functions.text import capped_winnow_fingerprints
    from go_streams_spark.queries import QUERIES, _t

    q = QUERIES["winnowing_overlap_pairs"](spark, sf_dir)
    q.collect()
    assert final_plan(q).count("Generate posexplode") == 1
    h = capped_winnow_fingerprints(_t(spark, sf_dir, "documents"))
    h.collect()
    plan = final_plan(h)
    assert plan.count("Generate posexplode") == 1
    assert "ReusedExchange" in plan


def test_bmp_codec_roundtrip_and_validation(spark):
    """The BMP path decodes REAL bytes: a known 2x2 image built by the
    writer parses back to correct header fields; corrupt magic raises;
    identical heads give identical dHash bands and hamming-0 pairs."""
    import pytest as _pt

    from go_streams_spark.functions.multimodal import (
        decode_bmp_dhash, dhash_neardup_pairs, synth_bmp)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta e f g h tail one"),
         (2, "alpha beta gamma delta e f g h other tail"),  # same head-8
         (3, "completely different words in every position here")],
        "doc_id bigint, text string")
    feat = decode_bmp_dhash(synth_bmp(docs))
    rows = {r["doc_id"]: r for r in feat.collect()}
    assert all(r["width"] == 18 and r["height"] == 16 and r["bpp"] == 24
               for r in rows.values())
    assert [rows[1][f"b{k}"] for k in range(4)] == \
        [rows[2][f"b{k}"] for k in range(4)], "same head -> same dHash"
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dhash_neardup_pairs(feat).collect()}
    assert pairs.get((1, 2)) == 0
    assert not any(3 in p for p in pairs)

    # corrupt magic must be a loud decode error, not silent garbage
    bad = spark.createDataFrame([(9, bytearray(b"XX" + b"\x00" * 60))],
                                "doc_id bigint, image binary")
    with _pt.raises(Exception, match="not a BMP"):
        decode_bmp_dhash(bad).collect()
    with _pt.raises(ValueError):
        dhash_neardup_pairs(feat, max_hamming=9)


def test_wav_codec_chunk_walk_and_validation(spark):
    """The RIFF parser walks REAL chunks: parsed rate/count match the
    writer; stereo/float variants and corrupt magic raise loudly; the
    odd-sized junk chunk (with its pad byte) must not desync the walk
    (it sits BEFORE data — a padding bug would corrupt every sample)."""
    import struct

    import pytest as _pt

    from go_streams_spark.functions.multimodal import (
        _wav_samples, decode_wav_pcm, synth_wav)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "other words here now")],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in decode_wav_pcm(synth_wav(docs)).collect()}
    assert all(r["sample_rate"] == 16_000 and r["n_total"] == 64
               for r in out.values())
    import numpy as np
    got = np.frombuffer(bytes(out[1]["pcm"]), dtype="<i2")
    assert (got == _wav_samples("alpha beta gamma delta")).all()

    bad = spark.createDataFrame([(9, bytearray(b"RIFX" + b"\x00" * 40))],
                                "doc_id bigint, audio binary")
    with _pt.raises(Exception, match="not a RIFF"):
        decode_wav_pcm(bad).collect()
    # stereo fmt chunk must be rejected, not silently mis-decoded
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 2, 16000, 64000, 4, 16)
    data = struct.pack("<4sI", b"data", 4) + b"\x00" * 4
    body = b"WAVE" + fmt + data
    stereo = struct.pack("<4sI", b"RIFF", len(body)) + body
    sdf = spark.createDataFrame([(8, bytearray(stereo))],
                                "doc_id bigint, audio binary")
    with _pt.raises(Exception, match="unsupported WAV"):
        decode_wav_pcm(sdf).collect()
    # a blob shorter than the RIFF header fails with its doc id
    short = spark.createDataFrame([(7, bytearray(b"RIFF"))],
                                  "doc_id bigint, audio binary")
    with _pt.raises(Exception, match="doc 7: unpack_from requires"):
        decode_wav_pcm(short).collect()


def test_avi_codec_nested_walk_and_validation(spark):
    """The AVI parser walks REAL nested RIFF lists: sampled frames
    match the writer's payloads; a frame-count lie in avih raises; a
    non-AVI RIFF raises."""
    import struct

    import pytest as _pt

    from go_streams_spark.functions.multimodal import (
        _avi_frame_hex, decode_avi_frames, synth_avi)

    docs = spark.createDataFrame([(1, "alpha beta gamma delta")],
                                 "doc_id bigint, text string")
    rows = {r["frame_idx"]: r
            for r in decode_avi_frames(synth_avi(docs), every_k=2).collect()}
    assert sorted(rows) == [0, 2, 4]
    import hashlib
    hx = _avi_frame_hex("alpha beta gamma delta", 2)
    assert rows[2]["frame_md5"] == hashlib.md5(hx.encode()).hexdigest()
    assert rows[2]["width"] == 18 and rows[2]["height"] == 16

    wav_not_avi = struct.pack("<4sI4s", b"RIFF", 4, b"WAVE")
    bad = spark.createDataFrame([(9, bytearray(wav_not_avi))],
                                "doc_id bigint, video binary")
    with _pt.raises(Exception, match="not an AVI"):
        decode_avi_frames(bad).collect()
    with _pt.raises(ValueError):
        decode_avi_frames(synth_avi(docs), every_k=0)


def test_fellegi_sunter_separates_dup_pairs(spark, sf_dir):
    """FS linkage semantics: the learned weights must rank true
    near-dups (high exact Jaccard) above incidental bucket collisions —
    every seed pair (jaccard >= 0.5) scores at least as high as the
    best sub-0.2-jaccard pair, and matched pairs agree on more fields
    on average than unmatched."""
    from go_streams_spark.functions.dedup import fellegi_sunter_link
    from go_streams_spark.queries import _t
    rows = fellegi_sunter_link(_t(spark, sf_dir, "documents")).collect()
    assert rows, "LSH blocking produced no candidate pairs"
    seeds = [r for r in rows if r["jaccard_micro"] >= 500_000]
    chaff = [r for r in rows if r["jaccard_micro"] < 200_000]
    assert seeds, "corpus has near-dup seeds at this SF"
    if chaff:
        assert min(r["score_micro"] for r in seeds) >= \
            max(r["score_micro"] for r in chaff)
    matched = [r for r in rows if r["matched"]]
    unmatched = [r for r in rows if not r["matched"]]
    assert matched
    if unmatched:
        avg = lambda rs: sum(r["n_agree"] for r in rs) / len(rs)  # noqa: E731
        assert avg(matched) > avg(unmatched)


def test_fellegi_sunter_rejects_bad_threshold(spark):
    from go_streams_spark.functions.dedup import fellegi_sunter_link
    import pytest
    df = spark.createDataFrame(
        [(1, "a b c", "en", "web", 5)],
        "doc_id long, text string, lang string, source string, n_chars long")
    with pytest.raises(ValueError):
        fellegi_sunter_link(df, decision_threshold_micro=0)


def test_pcm_dft_band_energy_concentrates_on_pure_tone(spark):
    """Feed a pure bin-2 cosine as raw PCM: the band energy must land
    overwhelmingly in bin 2 (the quantized basis is still an orthogonal
    family to ~6 decimal places), and the magnitudes must match the
    exact integer recomputation."""
    import math
    import numpy as np
    from go_streams_spark.functions.multimodal import (
        DFT_N, dft_tables, pcm_dft_band_energy)
    x = np.array([int(10000 * math.cos(2 * math.pi * 2 * i / DFT_N))
                  for i in range(DFT_N)], dtype="<i2")
    df = spark.createDataFrame([(1, bytearray(x.tobytes()))],
                               "doc_id long, pcm binary")
    rows = {r["bin"]: r for r in pcm_dft_band_energy(df).collect()}
    assert rows[2]["band_energy"] > 100 * max(
        rows[k]["band_energy"] for k in rows if k != 2)
    cos_t, sin_t = dft_tables()
    xi = x.astype(np.int64)
    for k, r in rows.items():
        re = int(np.dot(xi, np.array(cos_t[k], dtype=np.int64)))
        im = int(np.dot(xi, np.array(sin_t[k], dtype=np.int64)))
        assert r["re_mag"] == abs(re) // 1_000_000
        assert r["im_mag"] == abs(im) // 1_000_000
        assert r["band_energy"] == (abs(re) // 10**6) ** 2 + \
            (abs(im) // 10**6) ** 2


def test_pcm_dft_band_energy_rejects_bad_args(spark):
    import pytest
    from go_streams_spark.functions.multimodal import pcm_dft_band_energy
    df = spark.createDataFrame([(1, bytearray(b"\x00\x00"))],
                               "doc_id long, pcm binary")
    with pytest.raises(ValueError):
        pcm_dft_band_energy(df, n=0)
    with pytest.raises(ValueError):
        pcm_dft_band_energy(df, bins=())
    with pytest.raises(ValueError):
        pcm_dft_band_energy(df, id_col="nope")


def test_mmr_topk_greedy_invariants(spark, sf_dir):
    """MMR semantics: rank 1 is the pure-relevance argmax of its group
    (ties to the smaller id), mmr_score is non-increasing in rank (each
    step maximizes over a shrinking set with growing max_sim), and the
    selected k are distinct."""
    from collections import defaultdict
    from go_streams_spark.functions.similarity import mmr_topk
    from go_streams_spark.queries import _t
    emb = _t(spark, sf_dir, "embeddings")
    rows = mmr_topk(emb, k=3, pool=8).collect()
    by_grp = defaultdict(list)
    for r in rows:
        by_grp[r["label"]].append(r)
    assert by_grp
    for grp, rs in by_grp.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len({r["vec_id"] for r in rs}) == len(rs)
        assert rs[0]["max_sim_micro"] == 0
        scores = [r["mmr_score"] for r in rs]
        assert scores == sorted(scores, reverse=True), (grp, scores)
        # rank 1 has the group's max relevance among the pool
        assert rs[0]["rel_micro"] == max(r["rel_micro"] for r in rs)


def test_mmr_topk_rejects_bad_args(spark):
    import pytest
    from go_streams_spark.functions.similarity import mmr_topk
    df = spark.createDataFrame([(1, [0.1, 0.2], 0)],
                               "vec_id long, embedding array<float>, label int")
    with pytest.raises(ValueError):
        mmr_topk(df, k=0)
    with pytest.raises(ValueError):
        mmr_topk(df, k=5, pool=3)
    with pytest.raises(ValueError):
        mmr_topk(df, w_rel=0)


def test_ivf_balance_audit_consistency(spark, sf_dir):
    """The audit's internal identities: every vector lands in exactly
    one list (sum of sizes = n_vecs), the imbalance factor is >= 1e6
    (max >= mean by definition), top-8 share is a valid fraction, and
    probing nprobe lists scans more than the single assigned list
    (probe_scan >= nprobe-weighted floor) yet far less than the corpus."""
    from go_streams_spark.functions.similarity import ivf_balance_audit
    from go_streams_spark.queries import _t
    r = ivf_balance_audit(_t(spark, sf_dir, "embeddings"),
                          nlist="auto", nprobe=4).collect()[0]
    assert r["nonempty_lists"] <= r["nlist"]
    assert r["min_list"] >= 1 and r["max_list"] >= r["min_list"]
    assert r["imbalance_micro"] >= 1_000_000
    assert 0 < r["top_share_micro"] <= 1_000_000
    # a 4-probe query scans > its own list's share but << everything
    assert 0 < r["probe_scan_micro"] < 1_000_000


def test_ivf_balance_audit_rejects_bad_args(spark):
    import pytest
    from go_streams_spark.functions.similarity import ivf_balance_audit
    df = spark.createDataFrame([(1, [0.1, 0.2])],
                               "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        ivf_balance_audit(df, nprobe=0)
    with pytest.raises(ValueError):
        ivf_balance_audit(df, top_lists=0)


def test_decode_png_rejects_corruption(spark):
    """The PNG decoder is loud: a flipped byte inside a chunk breaks
    that chunk's CRC-32 and raises; a non-PNG blob raises on the
    signature."""
    import pytest
    from go_streams_spark.functions.multimodal import (decode_png_gray,
                                                       synth_png)
    base = spark.createDataFrame([(1, "hello world png gate")],
                                 "doc_id long, text string")
    blob = bytes(synth_png(base).collect()[0]["image"])
    corrupt = bytearray(blob)
    corrupt[40] ^= 0xFF  # inside IHDR/IDAT data -> CRC mismatch
    bad = spark.createDataFrame([(1, bytearray(corrupt))],
                                "doc_id long, image binary")
    with pytest.raises(Exception, match="CRC|PNG"):
        decode_png_gray(bad).collect()
    notpng = spark.createDataFrame([(1, bytearray(b"GIF89a not a png"))],
                                   "doc_id long, image binary")
    with pytest.raises(Exception, match="not a PNG"):
        decode_png_gray(notpng).collect()


def test_link_prediction_model_on_known_graph(spark):
    """Hand graph: path 1-2-3 plus hub 4 connected to {1,2,3}. The
    RA/CN model predicts exactly the non-edges reachable by a 2-path,
    scores them by sum(1e6 // deg(center)), and never re-predicts an
    existing edge."""
    from go_streams_spark.functions.graph import link_prediction
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (2, 4), (3, 4)], "src long, dst long")
    got = {(r["node"], r["candidate"]): (r["cn"], r["ra_micro"])
           for r in link_prediction(edges, top_k=5).collect()}
    # the only non-edge is (1,3): shared neighbors 2 (deg 3) and 4 (deg 3)
    assert set(got) == {(1, 3), (3, 1)}
    assert got[(1, 3)] == (2, 2 * (1_000_000 // 3))
    assert got[(1, 3)] == got[(3, 1)]


def test_link_prediction_hub_cap_excludes_centers(spark):
    """With hub_cap=1 every center is excluded (all degrees >= 2 in the
    wedge graph), so no predictions survive — the hub guard is real."""
    from go_streams_spark.functions.graph import link_prediction
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert link_prediction(edges, hub_cap=1).count() == 0
    got = {(r["node"], r["candidate"]) for r in
           link_prediction(edges, hub_cap=2).collect()}
    assert got == {(1, 3), (3, 1)}
    import pytest
    with pytest.raises(ValueError):
        link_prediction(edges, hub_cap=0)
    with pytest.raises(ValueError):
        link_prediction(edges, top_k=0)


def test_dedup_method_eval_report_identities(spark, sf_dir):
    """Method-eval internal identities: one row per method, shared
    ground-truth count, tp <= min(n_pred, n_truth), ratios valid
    micro-fractions — and minhash-LSH (which hunts exactly the Jaccard
    notion the truth encodes) recalls a strict majority of the truth at
    this signature width."""
    from go_streams_spark.functions.dedup import dedup_method_eval
    from go_streams_spark.queries import _t
    rows = {r["method"]: r for r in
            dedup_method_eval(_t(spark, sf_dir, "documents")).collect()}
    assert set(rows) == {"minhash_lsh", "simhash64_bands", "winnowing"}
    truths = {r["n_truth"] for r in rows.values()}
    assert len(truths) == 1 and truths.pop() > 0
    for m, r in rows.items():
        assert 0 <= r["true_pos"] <= min(r["n_pred"], r["n_truth"]), m
        assert 0 <= r["precision_micro"] <= 1_000_000, m
        assert 0 <= r["recall_micro"] <= 1_000_000, m
    assert rows["minhash_lsh"]["recall_micro"] > 500_000


def test_unigram_lm_segments_frequent_word_whole(spark):
    """Unigram-LM model behavior on a controlled corpus: a high-
    frequency short word stays a single piece (its own log-prob beats
    any split), a hapax word falls back to single characters (multi-
    char pieces need min_count support), and every segmentation
    concatenates back to its word with score = sum of piece scores.
    The piece counts the replay scores with are checked against values
    computed by hand for this corpus."""
    from go_streams_spark.functions.text import (
        unigram_scores, unigram_segment_report, viterbi_segment,
        _word_piece_counts)
    docs = spark.createDataFrame(
        [(i, "abcd common words here") for i in range(30)]
        + [(100, "zq unique")],
        "doc_id long, text string")
    rows = {r["word"]: r for r in unigram_segment_report(docs).collect()}
    assert rows["abcd"]["segmentation"] == "abcd"
    assert rows["abcd"]["n_pieces"] == 1
    assert rows["zq"]["segmentation"] == "z|q"
    # replay on the same (word, freq) pairs, with hand-computed counts:
    # 'o' twice in "common" and once in "words" (3 x 30 docs), 'mm' once
    # in "common", the hapax 'zq' below UNIGRAM_MIN_COUNT
    wf = [("abcd", 30), ("common", 30), ("words", 30), ("here", 30),
          ("zq", 1), ("unique", 1)]
    counts = _word_piece_counts(wf)
    assert (counts["o"], counts["abcd"], counts["mm"], counts["z"]) == (
        90, 30, 30, 1)
    assert "zq" not in counts
    scores = unigram_scores(counts)
    for w, r in rows.items():
        pieces, sc = viterbi_segment(w, scores)
        assert "".join(pieces) == w
        assert r["segmentation"] == "|".join(pieces), w
        assert r["score_micro"] == sc == sum(
            scores[p] for p in pieces), w


def test_random_walks_model_properties(spark):
    """Walk semantics on a hand graph: every emitted hop is a real
    edge, step counts are complete (walks x (steps+1) rows per start),
    the same seed reproduces the corpus exactly, and a different seed
    changes at least one hop on a branching graph."""
    from go_streams_spark.functions.graph import random_walks
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "src long, dst long")
    adj = {(a, b) for a, b in
           [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]}
    adj |= {(b, a) for a, b in adj}
    r1 = random_walks(edges, walks=2, steps=3, seed=7).collect()
    by_key = {}
    for r in r1:
        by_key.setdefault((r["start"], r["walk"]), {})[r["step"]] = r["node"]
    assert len(by_key) == 4 * 2
    for (start, _), path in by_key.items():
        assert sorted(path) == [0, 1, 2, 3]
        assert path[0] == start
        for s in range(1, 4):
            assert (path[s - 1], path[s]) in adj, (start, path)
    r2 = random_walks(edges, walks=2, steps=3, seed=7).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    r3 = random_walks(edges, walks=2, steps=3, seed=8).collect()
    assert sorted(map(tuple, r3)) != sorted(map(tuple, r1))
    import pytest
    with pytest.raises(ValueError):
        random_walks(edges, walks=0)


def test_rake_keyphrases_hand_doc(spark):
    """Classic RAKE behavior on a hand doc: multi-word phrases outrank
    single frequent words (deg rewards phrase membership), stopwords
    never appear inside a phrase, and runs longer than max_run drop."""
    from go_streams_spark.functions.text import rake_keyphrases
    docs = spark.createDataFrame(
        [(1, "deep learning systems and deep learning models "
             "for data processing on big clusters"),
         (2, "one two three four five six seven")],  # 7-word run > max_run
        "doc_id long, text string")
    rows = rake_keyphrases(docs, top_k=3, max_run=4).collect()
    d1 = [r for r in rows if r["doc_id"] == 1]
    assert d1, "doc 1 produced phrases"
    top = min(d1, key=lambda r: r["rank"])
    assert top["n_words"] >= 2  # a phrase, not a lone token
    assert "deep learning" in top["phrase"]
    for r in d1:
        for w in ("and", "for", "on"):
            assert f" {w} " not in f" {r['phrase']} "
    assert not [r for r in rows if r["doc_id"] == 2]  # over-long run dropped
    import pytest
    with pytest.raises(ValueError):
        rake_keyphrases(docs, top_k=0)


def test_decode_png_multi_batch_no_duplicates(spark):
    """Regression: with more rows than one Arrow batch, the decoder
    must emit each doc exactly once (a function-scope accumulator with
    the yield inside the batch loop re-emitted earlier batches)."""
    from go_streams_spark.functions.multimodal import (decode_png_gray,
                                                       synth_png)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        docs = spark.createDataFrame(
            [(i, f"doc number {i} text") for i in range(10)],
            "doc_id long, text string").coalesce(1)
        rows = decode_png_gray(synth_png(docs)).collect()
        ids = [r["doc_id"] for r in rows]
        assert sorted(ids) == list(range(10))
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_synth_png_widens_narrow_input(spark):
    """The PNG codec chain's cost is decoupled from its slim (id, text)
    scan bytes, so synth_png spreads a narrow input cluster-wide via
    cpu_widen (r9; a 1-2-split scan ran the whole synth+decode on 1-2
    cores). Pin: a single-partition input comes out widened, and the
    decode stays row-exact through the round-robin exchange."""
    from go_streams_spark.functions.multimodal import (decode_png_gray,
                                                       synth_png)
    # must be a FILE scan: cpu_widen sizes from optimizer statistics,
    # and in-memory relations hit the unknown-stats pass-through branch
    path = "/tmp/png_widen_docs.parquet"
    spark.createDataFrame(
        [(i, f"doc number {i} text") for i in range(12)],
        "doc_id long, text string").coalesce(1) \
        .write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    out = synth_png(docs)
    target = 2 * spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == target
    rows = decode_png_gray(out).collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(12))


def test_mmr_topk_group_smaller_than_k(spark):
    """A group with fewer members than k emits min(k, n) ranks — no
    padding, no crash."""
    from go_streams_spark.functions.similarity import mmr_topk
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0), (10, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int")
    got = sorted((r["label"], r["rank"])
                 for r in mmr_topk(emb, k=3, pool=8).collect())
    assert got == [(0, 1), (0, 2), (1, 1)]


def test_fellegi_sunter_zero_candidates_is_empty(spark):
    """A corpus with no shared shingles yields zero LSH candidates and
    an empty (not failing) linkage result."""
    from go_streams_spark.functions.dedup import fellegi_sunter_link
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en", "web", 22),
         (2, "epsilon zeta eta theta", "de", "web", 22)],
        "doc_id long, text string, lang string, source string, n_chars long")
    assert fellegi_sunter_link(df).count() == 0


def test_wordpiece_train_matches_python_reference(spark):
    """wordpiece_train_merges equals a from-scratch Python trainer with
    the likelihood score cnt(ab)/(cnt(a)*cnt(b)) in exact integer
    micro-units (score-desc/pair-asc tie-break) — and DIVERGES from
    BPE's frequency argmax on this corpus, which is the point of the
    scheme."""
    docs = [(i, t) for i, t in enumerate(
        ["low lower lowest", "low low newer newest", "wider new newer",
         "lowest newest wide wide wider", "quiz quiz jazzy"])]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [(r["round"], r["piece"], r["cnt"], r["score_micro"])
           for r in T.wordpiece_train_merges(df, rounds=5).collect()]

    from collections import Counter
    vocab = Counter()
    for _, t in docs:
        for tok in t.lower().split():
            vocab[tuple(tok)] += 1
    expect = []
    for r in range(5):
        pc, sc = Counter(), Counter()
        for syms, c in vocab.items():
            for s in syms:
                sc[s] += c
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += c
        scored = {p: (c * 10 ** 12) // (sc[p[0]] * sc[p[1]])
                  for p, c in pc.items() if c >= 2}
        if not scored:
            break
        (a, b), sm = min(scored.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((r, a + b, pc[(a, b)], sm))
        new_vocab = Counter()
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += c
        vocab = new_vocab
    assert got == expect

    # the likelihood argmax must differ from BPE's frequency argmax
    # here (e.g. rare-but-exclusive 'qu'/'zz' beat common 'lo'/'we')
    bpe_first = T.bpe_train_merges(df, rounds=1).collect()[0]["pair"]
    assert got[0][1] != bpe_first

    with pytest.raises(ValueError, match="rounds"):
        T.wordpiece_train_merges(df, rounds=0)


def test_wordpiece_greedy_maximal_munch():
    """_wp_greedy takes the LONGEST in-vocab piece at each position,
    falls back to single characters, and prefixes continuations with
    '##' — including the known BPE-vs-munch divergence case."""
    pieces = {"lo", "low", "er", "we"}
    assert T._wp_greedy("lower", pieces, 3) == ["low", "##er"]
    assert T._wp_greedy("welow", pieces, 3) == ["we", "##low"]
    assert T._wp_greedy("xyz", pieces, 3) == ["x", "##y", "##z"]
    assert T._wp_greedy("", pieces, 3) == []
    # maximal munch can strand a suffix BPE merge-order would pair:
    # vocab {"ab","abc"} on "abcd": munch takes "abc" then chars
    assert T._wp_greedy("abcd", {"ab", "abc"}, 3) == ["abc", "##d"]


# more than _TKC_TOP_WORDS distinct words, so the eval cut lands inside
# a run of frequency ties (ASCII and non-ASCII), plus one word longer
# than UNIGRAM_MAX_WORD that trains BPE/WordPiece but is never priced
_TKC_CORPUS = [
    "the lower tower shows the lowest newest wider view of the tower",
    "der neue turm ist niedriger als der alte turm und der see",
    "le nouveau modèle est très rapide et très utile pour le test",
    "el modelo nuevo es más rápido que el modelo viejo del año",
    "数据 处理 数据 模型 处理 数据 流水线",
    "donaudampfschifffahrtsgesellschaftskapitän und der turm",
    "lowest newest widest the the lower tower",
]


def _tkc_rows(df):
    return sorted(tuple(r) for r in T.tokenizer_fertility_compare(df).collect())


def test_tokenizer_fertility_compare_multilang_and_empty(spark):
    """On a multi-language corpus every family prices the full eval set
    (the over-long word trains BPE/WordPiece but is never priced) with
    the rows the in-memory helper gives for the same (word, freq)
    table; the empty corpus prices at 0 words, 0 pieces, 0 fertility."""
    from collections import Counter
    words = " ".join(_TKC_CORPUS).split()
    assert len(max(words, key=len)) > T.UNIGRAM_MAX_WORD
    df = spark.createDataFrame(list(enumerate(_TKC_CORPUS)),
                               "doc_id long, text string")
    rows = _tkc_rows(df)
    assert {r[1] for r in rows} == {T._TKC_TOP_WORDS}
    freqs = Counter(words)
    assert rows == sorted(T._fertility_rows(
        list(freqs.items()), T._TKC_ROUNDS, T._TKC_TOP_WORDS))
    assert _tkc_rows(df.limit(0)) == [
        ("bpe", 0, 0, 0), ("unigram", 0, 0, 0), ("wordpiece", 0, 0, 0)]


# Spark jobs per tokenizer query; the two encoders also run the
# corpus-scale encode pass
_TOKENIZER_JOB_BUDGETS = {
    "bpe_train_merge_table": 5, "wordpiece_segment_report": 5,
    "unigram_lm_segment": 5, "tokenizer_fertility_compare": 5,
    "bpe_encode_corpus": 8, "bpe_fertility_by_lang": 8,
}


@pytest.mark.parametrize("query", list(_TOKENIZER_JOB_BUDGETS))
def test_tokenizer_query_job_budget(spark, sf_dir, query):
    """Each tokenizer registry query stays within its Spark job budget
    end to end (build + collect), counted as a job-id delta in the
    status store from this single thread. The trainers run on the
    driver from one (word, freq) collect; the distributed merge loops
    they replaced ran 6 to 54 jobs per query."""
    from go_streams_spark.plans import release_tracked
    from go_streams_spark.queries import QUERIES
    from perfbench.probe import StatusStore

    store = StatusStore(spark)
    before = store.mark()
    rows = QUERIES[query](spark, sf_dir).collect()
    jobs = store.since(before)["jobs"]
    release_tracked()
    assert rows
    assert 1 <= jobs <= _TOKENIZER_JOB_BUDGETS[query], jobs


def test_procrustes_residuals_recovers_planted_rotation(spark):
    """An exactly-orthogonal planted map (signed permutation) is fully
    absorbed by the fitted rotation (residual 0 everywhere); a
    per-vector corruption the global rotation cannot absorb gets a
    LARGE residual on exactly that vector; empty input yields an empty
    frame with the contract schema."""
    import numpy as np
    rng = [[float(((i * 7 + j * 3) % 11) - 5) / 5 for j in range(8)]
           for i in range(40)]
    # b = signed permutation of a (orthogonal): b[j] = +/- a[(j+2) % 8]
    def planted(a):
        return [a[(j + 2) % 8] * (1.0 if j % 2 == 0 else -1.0)
                for j in range(8)]
    rows = [(i, a, planted(a)) for i, a in enumerate(rng)]
    # corrupt vector 5: swap two coords AFTER the map
    b5 = rows[5][2][:]
    b5[0], b5[1] = b5[1], b5[0]
    rows[5] = (5, rows[5][1], b5)
    df = spark.createDataFrame(
        rows, "vec_id long, va array<double>, vb array<double>")
    got = {r["vec_id"]: r["residual_sq"] for r in
           S.procrustes_residuals(df).collect()}
    assert len(got) == 40
    corrupted = got.pop(5)
    # the 39 clean vectors sit at (near-)zero — only quantization and
    # the one corrupted vector's pull on R contribute
    assert corrupted > 100 * max(got.values() or [1])

    empty = spark.createDataFrame(
        [], "vec_id long, va array<double>, vb array<double>")
    out = S.procrustes_residuals(empty)
    assert out.columns == ["vec_id", "residual_sq"]
    assert out.count() == 0


def test_procrustes_cov_bound_guard(spark):
    """The int64 covariance bound is enforced in CODE (round-9 verdict
    task #2): past ``cov_row_bound`` the rotation fits on a
    deterministic hash sample while residuals stay full-corpus — for an
    exactly-orthogonal planted map ANY row subset recovers the same
    rotation, so residuals remain exactly 0 for clean rows and the
    planted drift is still caught; auto_sample=False raises loudly."""
    import pytest
    rng = [[float(((i * 5 + j * 7) % 13) - 6) / 6 for j in range(8)]
           for i in range(60)]

    def planted(a):
        return [a[(j + 3) % 8] * (1.0 if j % 2 == 0 else -1.0)
                for j in range(8)]

    rows = [(i, a, planted(a)) for i, a in enumerate(rng)]
    b7 = rows[7][2][:]
    b7[0], b7[1] = b7[1], b7[0]
    rows[7] = (7, rows[7][1], b7)
    df = spark.createDataFrame(
        rows, "vec_id long, va array<double>, vb array<double>")

    # bound of 20 forces the sampled-rotation path on a 60-row frame
    got = {r["vec_id"]: r["residual_sq"] for r in
           S.procrustes_residuals(df, cov_row_bound=20).collect()}
    assert len(got) == 60          # residual pass stays full-corpus
    corrupted = got.pop(7)
    assert corrupted > 100 * max(max(got.values()), 1)

    with pytest.raises(ValueError, match="covariance bound"):
        S.procrustes_residuals(df, cov_row_bound=20, auto_sample=False)


# --- greedy k-center coreset selection (round 9) ------------------------


def _np_kcenter(vecs, k):
    """Independent NumPy replica of the kcenter_select spec: micro-unit
    int64 quantization, seed = max squared norm (ties lowest id), then
    argmax of min exact squared L2 to selected (ties lowest id)."""
    import numpy as np
    q = np.floor(np.asarray(vecs, dtype=np.float64) * 1_000_000 + 0.5
                 ).astype(np.int64)
    ids = np.arange(len(q))
    norm2 = (q * q).sum(axis=1)
    order = sorted(range(len(q)), key=lambda i: (-norm2[i], i))
    sel = [(1, order[0], int(norm2[order[0]]))]
    centers = [order[0]]
    md = ((q - q[centers[0]]) ** 2).sum(axis=1)
    for r in range(2, k + 1):
        cand = [i for i in ids if i not in {s[1] for s in sel}]
        if not cand:
            break
        best = min(cand, key=lambda i: (-md[i], i))
        sel.append((r, best, int(md[best])))
        md = np.minimum(md, ((q - q[best]) ** 2).sum(axis=1))
    return sel


def test_kcenter_matches_numpy_reference(spark):
    """kcenter_select equals the independent NumPy greedy on planted
    geometry (4 well-separated directions + jitter): one pick per
    cluster before any repeats, exact trace equality."""
    import numpy as np
    rng = np.random.default_rng(11)
    dirs = np.eye(4, 8) * 2.0
    vecs = []
    for c in range(4):
        for _ in range(5):
            vecs.append(dirs[c] + 0.05 * rng.standard_normal(8))
    # match array<float> storage like the semdedup test
    vecs = np.asarray(vecs, dtype=np.float32).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")

    sel, centers = S.kcenter_select(emb, k=4)
    assert sel == _np_kcenter(vecs, 4)
    # spread: the 4 picks cover all 4 planted clusters
    assert {s[1] // 5 for s in sel} == {0, 1, 2, 3}
    assert len(centers) == 4 and all(len(c) == 8 for c in centers)


def test_kcenter_k_exceeds_corpus(spark):
    """k larger than the corpus returns every vector once, no repeats."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<float>")
    out = S.kcenter_coreset(emb, k=10).collect()
    assert sorted(r["vec_id"] for r in out) == [0, 1, 2]
    assert [r["sel_round"] for r in sorted(out, key=lambda r: r["sel_round"])] \
        == [1, 2, 3]


def test_kcenter_cover_summary_consistency(spark, sf_dir):
    """Cover summary partitions the corpus (counts sum to N) and its
    realized radius is monotone vs the selection trace: coverage with
    all 8 centers <= the 8th pick's distance (= radius of 7 centers)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    trace = S.kcenter_coreset(emb, k=8).collect()
    summary = S.kcenter_assignments(emb, k=8).collect()
    assert sum(r["n_assigned"] for r in summary) == n
    last_pick = [r for r in trace if r["sel_round"] == 8][0]["dist_usq"]
    assert max(r["radius_usq"] for r in summary) <= last_pick
    # every selected center is its own nearest center -> distance 0 cell
    assert all(r["radius_usq"] >= 0 for r in summary)


# --- round 9: corpus statistics + margin mining -------------------------


def test_margin_mining_planted_pairs(spark):
    """Planted bitext geometry: two aligned (src, tgt) pairs on
    orthogonal directions are mined; the decoys (near-orthogonal to
    everything) are not; the halves are id-parity clean."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.05]),   # src, aligned with 1
        (1, [1.0, 0.02, 0.0, 0.0]),   # tgt
        (2, [0.0, 1.0, 0.0, 0.05]),   # src, aligned with 3
        (3, [0.0, 1.0, 0.03, 0.0]),   # tgt
        (4, [0.0, 0.0, 1.0, 0.0]),    # src decoy
        (5, [0.05, 0.05, -0.9, 1.0]), # tgt decoy
        (6, [0.7, 0.7, 0.0, 0.0]),    # src hub (close to both 1 and 3)
        (7, [0.0, 0.0, 0.2, -1.0]),   # tgt decoy
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.margin_mining_pairs(emb, k=3, threshold=1.0).collect()
    got = {(r["src_id"], r["tgt_id"]) for r in out}
    assert (0, 1) in got and (2, 3) in got
    # id-parity halves: every mined pair is (even, odd)
    assert all(s % 2 == 0 and t % 2 == 1 for s, t in got)
    # mutual-argmax: each src and each tgt appears at most once
    assert len({s for s, _ in got}) == len(got)
    assert len({t for _, t in got}) == len(got)
    # margin of a true aligned pair clears the neighborhood level
    by_pair = {(r["src_id"], r["tgt_id"]): r["margin"] for r in out}
    assert by_pair[(0, 1)] > 1.0 and by_pair[(2, 3)] > 1.0


def test_block_knn_cross_set_index(spark):
    """index_df makes block_knn cross-set: neighbors come ONLY from the
    index frame, and results equal the self-index run filtered to
    index-side ids (same integer sims, same tie order)."""
    import numpy as np
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((20, 6))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    queries = emb.where(F.col("vec_id") < 10)
    index = emb.where(F.col("vec_id") >= 10)
    cross = S.block_knn(queries, k=3, index_df=index).collect()
    assert cross and all(r["neighbor_id"] >= 10 for r in cross)
    assert all(r["vec_id"] < 10 for r in cross)
    # reference: numpy exact cosine of the same quantized integers
    q = np.floor(vecs.astype(np.float32).astype(np.float64) * 1e6 + 0.5)
    sims = (q[:10] @ q[10:].T) / (
        np.sqrt((q[:10] ** 2).sum(1))[:, None]
        * np.sqrt((q[10:] ** 2).sum(1))[None, :])
    for r in cross:
        want = np.floor(sims[r["vec_id"], r["neighbor_id"] - 10] * 1e6
                        + 0.5) / 1e6
        assert abs(r["sim"] - want) < 1e-9


def test_zipf_tail_fit_planted_slope(spark, tmp_path):
    """A corpus built with exact 1/r token frequencies fits slope ~ -1
    with r^2 ~ 1; the head (rank 1) is excluded by construction."""
    import math
    words = []
    for r in range(1, 41):
        words += [f"w{r:02d}"] * max(200 // r, 1)
    docs = spark.createDataFrame(
        [(0, " ".join(words), "en", "src0", 1)],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = str(tmp_path / "zipfsf")
    import os
    os.makedirs(d, exist_ok=True)
    docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    from go_streams_spark.queries import QUERIES
    out = QUERIES["zipf_tail_fit"](spark, d).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_tail_types"] == 39          # ranks 2..40
    assert -1.1 < row["zipf_slope"] < -0.9    # planted exponent
    assert row["zipf_r2"] > 0.98


def test_heaps_vocab_growth_invariants(spark, sf_dir):
    """The growth curve partitions the corpus: 10 decile rows, docs sum
    to N, new_types sum to the distinct trigram count, cumulative
    columns are strictly increasing prefixes of those sums."""
    from go_streams_spark.queries import QUERIES, _t
    out = sorted(QUERIES["heaps_vocab_growth"](spark, sf_dir).collect(),
                 key=lambda r: r["bucket"])
    docs = _t(spark, sf_dir, "documents")
    assert [r["bucket"] for r in out] == list(range(10))
    assert sum(r["n_docs"] for r in out) == docs.count()
    n_types = D.shingle_rows(docs, ngram=3).select("s").distinct().count()
    assert sum(r["new_types"] for r in out) == n_types
    assert out[-1]["cum_types"] == n_types
    cum_toks = [r["cum_tokens"] for r in out]
    assert cum_toks == sorted(cum_toks) and cum_toks[0] > 0
    running = 0
    for r in out:
        running += r["new_types"]
        assert r["cum_types"] == running
        assert 0.0 < r["heaps_beta"] < 1.0


def test_containment_catches_subsumption_jaccard_misses(spark):
    """A short doc fully contained in a long doc: containment ~ 1.0
    while symmetric Jaccard is |small|/|large| < 0.5 — the pair the
    asymmetric pass exists to catch. This planted pair is ALSO the
    regression pin for the blocker choice: LSH band candidates missed
    it (the small doc's minhashes are set by the big doc's filler —
    band-collision probability ~(|A|/|B|)^3), which is why the
    operator blocks on the lossless one-sided prefix filter."""
    core = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} w{i} x{i}" for i in range(30))
    rows = [
        (0, core),                        # excerpt
        (1, core + " " + filler),         # wrapping copy: contains all of 0
        (2, "totally unrelated content about engines and sorting"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {(r["id_a"], r["id_b"]): r["containment_micro"]
            for r in D.containment_pairs(docs).collect()}
    jac = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert cont.get((0, 1), 0) == 1_000_000   # full subsumption
    assert (0, 1) not in jac                  # diluted below 0.5
    assert all(2 not in p for p in cont)


def test_margin_mining_ann_matches_exact_on_dense_buckets(spark):
    """On a corpus small enough that auto_nbits floors at 8 bits and
    the planted aligned pairs share sign buckets, the ANN composition
    mines the same aligned pairs as the exact twin (same margin math,
    bucketed candidates)."""
    rows = [
        (0, [1.0, 0.3, 0.2, 0.05]),
        (1, [1.0, 0.28, 0.2, 0.01]),   # aligned with 0, same sign bucket
        (2, [0.2, 1.0, 0.3, 0.05]),
        (3, [0.2, 1.0, 0.33, 0.02]),   # aligned with 2, same sign bucket
        (4, [0.1, 0.1, 1.0, 0.5]),
        (5, [0.6, 0.5, -0.9, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["src_id"], r["tgt_id"])
             for r in S.margin_mining_pairs(emb, k=3).collect()}
    ann = {(r["src_id"], r["tgt_id"])
           for r in S.margin_mining_pairs_ann(emb, k=3).collect()}
    assert (0, 1) in ann and (2, 3) in ann
    assert (0, 1) in exact and (2, 3) in exact
    assert all(s % 2 == 0 and t % 2 == 1 for s, t in ann)
