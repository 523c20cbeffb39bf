"""Text analysis for training-data pipelines: tokenization, quality
scoring, language ID, fingerprinting.

All hot-path logic is JVM-side Column expressions (split/regexp/array
lambdas) — no Python UDFs — so it stays inside whole-stage codegen and
scales linearly with input splits. Every function is deterministic and
has an exact ANSI-SQL equivalent (used by the DuckDB oracles).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Small multilingual marker-word lists for the n-gram/stopword language
# heuristic. Deliberately tiny + deterministic (this is the classic
# stopword-hit langid baseline, not a model).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
}

STOPWORDS = LANG_MARKERS["en"]

# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space
# punctuation — the standard GPT-2-style pre-split shape.
BPE_REGEX = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokens with empties removed."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(t, " "), lambda x: x != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish pre-tokens over lowercased text."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(t), F.lit(BPE_REGEX), 0)).cast("long")


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda x: x.isin(*stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return (F.size(F.regexp_extract_all(t, F.lit("[^a-zA-Z0-9\\s]"), 0))
            / F.greatest(F.length(t), F.lit(1)))


def avg_token_len(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    toks = tokens(text)
    total = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score_from_tokens(toks: Column, text: Column | str) -> Column:
    """``quality_score`` computed from an ALREADY-TOKENIZED column —
    the shared-subexpression form for callers that also need the token
    array (count, selection): Catalyst does not reliably CSE the
    repeated ``split``/``filter`` trees inside lambda metrics, so
    evaluating the three sub-metrics from one materialized ``toks``
    column costs one tokenization per row instead of three (measured
    2x on the token-budget scoring pass at 1000x the gate SF)."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.greatest(F.size(toks), F.lit(1))
    sw = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) / n
    pr = (F.size(F.regexp_extract_all(t, F.lit("[^a-zA-Z0-9\\s]"), 0))
          / F.greatest(F.length(t), F.lit(1)))
    tl = F.aggregate(F.transform(toks, F.length), F.lit(0),
                     lambda a, x: a + x) / n
    len_ok = F.when((tl >= 3) & (tl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.least(F.lit(1.0), F.greatest(
        F.lit(0.0), (F.lit(0.4) * F.least(sw * 4, F.lit(1.0))
                     + F.lit(0.4) * len_ok + F.lit(0.2) * (1 - F.least(pr * 5, F.lit(1.0))))))


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: rewards stopword presence
    and moderate token length, penalizes punctuation soup — the
    length/punct/stopword-ratio baseline used by web-scale corpus
    filters."""
    return quality_score_from_tokens(tokens(text), text)


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Marker-hit count per language over whitespace tokens."""
    toks = F.transform(tokens(text), F.lower)
    return {lang: F.size(F.filter(toks, lambda x: x.isin(*words)))
            for lang, words in LANG_MARKERS.items()}


def lang_id(text: Column | str) -> Column:
    """argmax language by marker hits; ties resolve en > de > fr
    (declaration order); zero hits -> 'und'."""
    scores = lang_scores(text)
    best_val = F.greatest(*scores.values())
    out = F.lit("und")
    for lang in reversed(list(scores)):  # earlier langs win ties
        out = F.when((scores[lang] > 0) & (scores[lang] == best_val), F.lit(lang)).otherwise(out)
    return out


def word_ngrams(text: Column | str, n: int = 3, lowercase: bool = True) -> Column:
    """Distinct word n-gram shingles (space-joined).

    Built by zipping ``n`` shifted slices of the token array — NOT via
    element_at inside a transform lambda, which Catalyst inlines so the
    tokenization re-runs once per element per position (O(len*n) splits
    per doc; measured 5.7s -> 0.6s for the corpus shingle count at
    sf0.1). The slice/zip form evaluates the token array n times per
    ROW."""
    t = F.col(text) if isinstance(text, str) else text
    toks = tokens(F.lower(t) if lowercase else t)
    m = F.size(toks) - (n - 1)
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, 1 + j, m),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(F.when(F.size(toks) >= n, grams)
                            .otherwise(F.array()))


def fingerprint(text: Column | str, n: int = 4) -> Column:
    """Rolling-hash document fingerprint: min md5 over word n-gram
    shingles (winnowing-style 1-of-N selection; deterministic)."""
    grams = word_ngrams(text, n)
    return F.array_min(F.transform(grams, F.md5))


def bigram_rows(df, *, text_col: str = "text", id_col: str = "doc_id"):
    """(id, w1, w2) adjacent-token pairs via array lambdas — the bigram
    extraction is pure per-row JVM work (slice + indexed transform +
    explode), zero shuffle; corpus-level model counts happen in the
    caller's aggregation. The training-data use is a CCNet/KenLM-style
    LM quality filter without an external model artifact: the corpus is
    its own language model."""
    arr = tokens(F.col(text_col))
    n1 = F.size(arr) - 1
    # zip of the two shifted slices, NOT element_at inside a transform
    # lambda: Catalyst inlines the tokenization into every element_at
    # call, turning extraction O(len) per doc into O(len^2) (measured
    # 4.3s -> 0.6s for the corpus bigram count at sf0.1)
    pairs = F.zip_with(F.slice(arr, 1, n1), F.slice(arr, 2, n1),
                       lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    return (df.where(F.size(tokens(F.col(text_col))) >= 2)
            .select(F.col(id_col), F.explode(pairs).alias("bg"))
            .select(id_col, F.col("bg.w1").alias("w1"),
                    F.col("bg.w2").alias("w2")))


def bigram_lm_doc_scores(df, *, text_col: str = "text",
                         id_col: str = "doc_id"):
    """Per-document bigram-LM negative log-likelihood and perplexity,
    with the corpus itself as the model (add-1 smoothing):

        P(w2|w1) = (C(w1,w2) + 1) / (C(w1->*) + V)

    The standard perplexity-bucket stage of a web-corpus pipeline
    (CCNet trains KenLM on a reference corpus; same plumbing, model
    swap is a join target change). Plan shape at 100 TB: one bigram
    aggregation (shuffle on (w1,w2)), a first-word rollup, a scalar
    vocab count broadcast back, and one model join keyed on (w1,w2) —
    model size is vocabulary-squared-bounded, data volume passes
    through exactly one shuffle join. All arithmetic is
    integer-derived, so the rounded outputs are engine-exact."""
    from ..plans.caching import track_persist

    # persist the bigram rows: four consumers (doc scores, model, first-
    # word rollup, vocab) would otherwise re-run the corpus explode four
    # times (their pruned subtrees don't canonicalize to one scan). At
    # 100 TB this is "materialize the bigram table once" — the standard
    # LM-pipeline intermediate, same decision as the TF-IDF doc-term
    # matrix. Freed via plans.release_tracked() between queries.
    # NOT cpu_widen'd (guide §1.4 measure-first): widening the raw
    # (id, text) projection before the explode was tried and REGRESSED
    # (sf0.1: 1.91 s -> 4.91 s; consumer ccnet_ppl_buckets 1.86 -> 3.69)
    # — the round-robin exchange of full text bytes plus its
    # sort-before-repartition costs more than the single-core tokenize
    # it spreads, and the persist's four consumers parallelize fine
    # after the (w1,w2) shuffle regardless of scan width.
    bg = track_persist(bigram_rows(df.select(id_col, text_col),
                                   text_col=text_col, id_col=id_col))
    model = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    first = model.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # distinct words from the MODEL table (vocab-sized), not the corpus
    # bigram stream — same set by construction, orders of magnitude
    # fewer rows into the distinct
    vocab = (model.select(F.col("w1").alias("w")).union(
        model.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").alias("v")))
    scored = (bg.join(model, ["w1", "w2"]).join(first, "w1")
              .join(F.broadcast(vocab))
              .withColumn("nll", -F.log((F.col("c12") + 1.0)
                                        / (F.col("c1") + F.col("v")))))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.avg("nll"), 6).alias("avg_nll"),
                 F.round(F.exp(F.avg("nll")), 4).alias("ppl")))


def token_window_chunks(df, *, text_col: str = "text", id_col: str = "doc_id",
                        size: int = 32, stride: int = 24):
    """Fixed-token-window chunking with overlap — the sample-prep stage
    that turns variable-length documents into training windows
    (overlap = size - stride). One row per chunk: (id, chunk_idx,
    chunk_text, n_tokens); the final chunk may be short. Pure per-row
    array arithmetic (sequence of starts + posexplode + slice) inside
    whole-stage codegen: rows fan out within their partition, no
    shuffle, so it scales with input splits like any flatMap."""
    if size <= 0 or stride <= 0:
        raise ValueError("size and stride must be positive")
    arr = tokens(F.col(text_col))
    starts = F.sequence(F.lit(1), F.size(arr), F.lit(stride))
    out = (df.where(F.size(arr) >= 1)
           .select(F.col(id_col), arr.alias("__arr"),
                   F.posexplode(starts).alias("__pos", "__start")))
    chunk = F.slice(F.col("__arr"), F.col("__start"), size)
    return out.select(
        id_col,
        F.col("__pos").cast("int").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"))


def corpus_word_freq(df, *, text_col: str = "text"):
    """The (word, freq) vocabulary table every tokenizer trainer starts
    from: lowercase -> whitespace tokens -> one hash agg. Each trainer
    and report collects it to the driver in one action and trains there
    in pure Python: the vocabulary is index metadata (Heaps' law keeps
    it sublinear in corpus size; 31 distinct words at sf0.1), and a
    multi-job distributed argmax per merge round paid scheduling
    latency for tiny work."""
    # NOT cpu_widen'd (guide §1.4 measure-first): the whitespace
    # tokenize + partial agg is light per row (0.4 s single-core at
    # sf0.1) and the widening shuffle of the raw text costs more than
    # it buys (same measured outcome as bigram_lm_doc_scores).
    return (df.select(F.explode(tokens(F.lower(F.col(text_col))))
                      .alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))


def bpe_train_merges(df, *, text_col: str = "text", rounds: int = 5,
                     min_count: int = 2):
    """Iterative BPE tokenizer training: ``rounds`` merge steps over the
    corpus vocabulary (word -> count). Each round takes the most
    frequent adjacent symbol pair (count desc, then pair asc) and
    rewrites every word with a greedy left-to-right merge; training
    stops early when no pair reaches ``min_count``. The (word, freq)
    table comes to the driver in one action and ``_bpe_train_py``
    trains there. Returns the merge table (round, pair, a, b, cnt) — k
    rows, the training artifact a tokenizer ships; feed the (a, b)
    columns to ``bpe_encode`` to tokenize a corpus with it.

    Exactness is pinned against a from-scratch Python BPE reference in
    tests/test_functions.py::test_bpe_train_matches_python_reference
    and against the unrolled SQL replay of ``bpe_pipeline_oracle_sql``
    (``bpe_train_merge_table``)."""
    word_freqs = corpus_word_freq(df, text_col=text_col).collect()
    # keep the pair SIDES alongside the concatenation: "the" could be
    # t+he or th+e — bpe_encode needs the unambiguous (a, b)
    merges = [(r, a + b, a, b, cnt) for r, (a, b, cnt)
              in enumerate(_bpe_train_py(word_freqs, rounds, min_count))]
    return df.sparkSession.createDataFrame(
        merges, "round int, pair string, a string, b string, cnt long")


def bpe_encode(df, *, merges, text_col: str = "text",
               out_col: str = "bpe_tokens"):
    """Apply a trained BPE merge table to a corpus: lowercase ->
    whitespace words (the trainer's pre-tokenization) -> per-word merge
    passes in rank order (``_bpe_encode_py``) -> flattened token array
    per document, in one Arrow-batched pandas UDF whose cost is flat in
    len(merges).

    ``merges`` is a list of (a, b) pairs in rank order — e.g.
    ``[(p[0], p[1:]) for p in bpe_train_merges(df)...]`` is WRONG
    (pair strings are ambiguous); pass the (a, b) tuples you trained
    with, or split the trainer's rows with the known boundary. The
    sequential-in-rank-order application contract matches
    ``bpe_train_merges``'s vocabulary rewrite exactly (tested)."""
    from pyspark.sql.pandas.functions import pandas_udf

    merge_list = list(merges)

    @pandas_udf("array<string>")
    def _enc(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: [
            sym for w in (t or "").lower().split(" ") if w
            for sym in _bpe_encode_py(w, merge_list)])

    return df.withColumn(out_col, _enc(F.col(text_col)))


def bpe_pipeline_oracle_sql(*, rounds: int, table: str = "documents",
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            head: int = 8,
                            emit: str = "encode") -> str:
    """Generate the DuckDB oracle replaying the FULL BPE loop —
    ``bpe_train_merges(rounds=N)`` then ``bpe_encode`` — as one chained
    query: vocabulary build, N unrolled (pair-count -> argmax ->
    greedy rewrite) training rounds, then encode-by-vocab-join.

    The greedy left-to-right merge fold becomes a plain string
    ``replace``: symbol arrays are serialized with DOUBLE chr(1)
    sentinels (``..|a||b|..``) and merge (a, b) rewrites
    ``|a||b|`` -> ``|ab|``. Because each symbol keeps one sentinel on
    each side, consecutive matches never share consumed characters, so
    non-overlapping leftmost replace == the trainer's greedy fold
    (edge cases incl. a == b runs pinned in
    tests/test_functions.py::test_bpe_oracle_replace_fold). chr(1)
    never occurs in the corpus (asserted cheaply by the gate query's
    engine side being sentinel-free — only the oracle serializes).

    Fixed ``rounds`` means the oracle assumes training never hits the
    min_count early stop at gate SFs (it does not: pair counts are
    corpus-sized). ``emit="encode"`` (default) returns SQL producing
    (id, n_bpe, head_preview) ordered by id; ``emit="merges"`` stops
    after training and returns the merge table itself
    (round, pair, a, b, cnt) — the ``bpe_train_merge_table`` oracle."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if emit not in ("encode", "merges"):
        raise ValueError(f"emit must be 'encode' or 'merges', got {emit!r}")
    cc = "chr(1) || chr(1)"
    sql = [f"""WITH w0 AS (
  SELECT tok, count(*)::BIGINT AS tok_cnt,
         {cc} || array_to_string(string_split(tok, ''), {cc}) || {cc} AS s
  FROM (
    SELECT unnest(list_filter(string_split(lower({text_col}), ' '),
                              x -> x <> '')) AS tok
    FROM {table}
  )
  GROUP BY tok
)"""]
    for r in range(1, rounds + 1):
        p = f"w{r - 1}"
        sql.append(f""", b{r} AS (
  SELECT a, b, cnt FROM (
    SELECT syms[i] AS a, syms[i + 1] AS b, sum(tok_cnt) AS cnt
    FROM (SELECT list_filter(string_split(s, {cc}), x -> x <> '') AS syms,
                 tok_cnt
          FROM {p}),
         LATERAL (SELECT unnest(range(1, len(syms))) AS i) g
    GROUP BY 1, 2
  ) ORDER BY cnt DESC, a, b LIMIT 1
), w{r} AS (
  SELECT w.tok, w.tok_cnt,
         replace(w.s, chr(1) || b.a || {cc} || b.b || chr(1),
                      chr(1) || b.a || b.b || chr(1)) AS s
  FROM {p} w CROSS JOIN b{r} b
)""")
    if emit == "merges":
        union = "\nUNION ALL\n".join(
            f"SELECT {r - 1}::INT AS round, a || b AS pair, a, b, "
            f"cnt::BIGINT AS cnt FROM b{r}" for r in range(1, rounds + 1))
        sql.append(f"\n{union}\nORDER BY round")
        return "".join(sql)
    sql.append(f""", enc AS (
  SELECT d.{id_col}, d.wi,
         list_filter(string_split(v.s, {cc}), x -> x <> '') AS syms
  FROM (
    SELECT {id_col}, g.i AS wi, toks[g.i] AS tok
    FROM (SELECT {id_col},
                 list_filter(string_split(lower({text_col}), ' '),
                             x -> x <> '') AS toks
          FROM {table}),
         LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) g
  ) d JOIN w{rounds} v USING (tok)
), te AS (
  SELECT {id_col}, wi, g.i AS si, syms[g.i] AS sym
  FROM enc, LATERAL (SELECT unnest(range(1, len(syms) + 1)) AS i) g
)
SELECT {id_col}, count(*)::BIGINT AS n_bpe,
       array_to_string(list(sym ORDER BY wi, si)[1:{head}],
                       '|') AS head_preview
FROM te
GROUP BY {id_col}
ORDER BY {id_col}""")
    return "".join(sql)


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score every raw document by how much more likely
# its hashed-ngram bag is under a TARGET distribution than under the
# raw-corpus distribution, then keep the highest-weight docs. The
# standard pretraining-data selection op when you have a small trusted
# target domain and a huge raw crawl.
# ---------------------------------------------------------------------------


def hashed_feature_buckets(text: Column | str, *, buckets: int = 512) -> Column:
    """DSIR's hashed bag-of-ngrams featurizer: unigrams + adjacent
    bigrams of the lowercased whitespace tokens, each hashed into
    ``buckets`` via the md5-prefix trick (bit-identical in DuckDB, the
    count_min_freq_estimates convention). Returns the bucket-id array
    WITH multiplicity — DSIR weights are sums over feature occurrences.

    Pure per-row JVM array work (slice/zip_with/transform), zero
    shuffle; bigrams via the zip-of-shifted-slices form, never
    element_at-in-a-lambda (the O(len^2) Catalyst inlining trap,
    measured in word_ngrams)."""
    t = F.col(text) if isinstance(text, str) else text
    toks = tokens(F.lower(t))
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bis = F.zip_with(F.slice(toks, 1, n1), F.slice(toks, 2, n1),
                     lambda a, b: F.concat(a, F.lit("_"), b))
    feats = F.concat(toks, bis)
    return F.transform(
        feats,
        lambda f: F.conv(F.substring(F.md5(f), 1, 13), 16, 10)
                   .cast("long") % buckets)


def dsir_importance(df, *, target: Column, text_col: str = "text",
                    id_col: str = "doc_id", buckets: int = 512,
                    keep_cols: tuple[str, ...] = ()) -> "DataFrame":
    """Per-document DSIR importance weights.

    weight(doc) = sum over the doc's hashed features of
    ln(p_target(bucket)) - ln(p_raw(bucket)), with add-1 smoothing
    (p(b) = (count_b + 1) / (total + buckets)) — the bag-of-hashed-
    ngrams importance estimator of arXiv:2302.03169 §2.2. ``target``
    is a boolean Column marking the in-domain subset (e.g.
    lang == 'en'); the raw distribution is the whole input.

    Scale shape: ONE explode into (doc, bucket) counts (doc-grain
    rows, the expensive shuffle and the only one that grows with the
    corpus); the bucket histograms for BOTH distributions roll up from
    that aggregate (``buckets`` rows — bounded); the log-ratio table
    re-joins as a broadcast. A 100 TB corpus pays one token-grain
    pass + one doc-grain aggregation, exactly like tfidf_top_terms.
    Returns (id, keep_cols..., n_feats, dsir_weight)."""
    from ..plans.caching import track_persist

    keep = [F.col(c) for c in keep_cols]
    # pinned: db feeds BOTH bucket histograms and the final per-doc
    # sum — unpinned, Catalyst recomputes the corpus-sized token
    # explode once per consumer (measured 3 Generate(explode) nodes in
    # the executed plan). The pin materializes at (doc, bucket) grain,
    # already aggregated far below token grain.
    db = track_persist(
        df.select(F.col(id_col), *keep, target.alias("is_target"),
                  F.explode(hashed_feature_buckets(
                      F.col(text_col), buckets=buckets)).alias("bucket"))
        .groupBy(id_col, *keep_cols, "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt")))
    bt = (db.groupBy("bucket")
          .agg(F.sum("cnt").alias("n_raw"),
               F.sum(F.when(F.col("is_target"), F.col("cnt"))
                     .otherwise(F.lit(0))).alias("n_tgt")))
    totals = bt.agg(F.sum("n_raw").alias("t_raw"),
                    F.sum("n_tgt").alias("t_tgt"))
    lr = (bt.crossJoin(F.broadcast(totals))  # 1-row scalar metadata
          .select("bucket",
                  (F.log((F.col("n_tgt") + 1.0)
                         / (F.col("t_tgt") + float(buckets)))
                   - F.log((F.col("n_raw") + 1.0)
                           / (F.col("t_raw") + float(buckets))))
                  .alias("log_ratio")))
    return (db.join(F.broadcast(lr), "bucket")
            .groupBy(id_col, *keep_cols)
            .agg(F.sum("cnt").alias("n_feats"),
                 F.sum(F.col("cnt") * F.col("log_ratio"))
                 .alias("dsir_weight")))


def nb_classifier_scores(df, *, label: Column, train: Column,
                         text_col: str = "text", id_col: str = "doc_id",
                         buckets: int = 512,
                         keep_cols: tuple[str, ...] = ()) -> "DataFrame":
    """Supervised quality classifier over hashed bag-of-ngrams features
    — the closed-form (multinomial Naive Bayes) cousin of the fastText
    linear classifiers modern pretraining pipelines use for model-based
    quality filtering (DCLM / FineWeb-edu style). ``label`` is the
    boolean class column, ``train`` the boolean training-subset mask;
    the model (per-bucket class-conditional log-likelihood ratios +
    class prior, add-1 smoothed) is fit on the train rows and EVERY doc
    with at least one feature is scored:

      log_odds = ln((n_pos_docs+1)/(n_neg_docs+1))
               + sum_b cnt_b * (ln p(b|pos) - ln p(b|neg))

    Returns (id, keep_cols..., n_feats, log_odds, pred). Docs whose
    text yields zero features carry no evidence and are omitted (the
    dsir_importance contract).

    Scale shape (identical to dsir_importance): ONE feature explode to
    a pinned (doc, bucket) aggregate — the only corpus-sized shuffle —
    which feeds both the bucket-grain model rollup (<= ``buckets``
    rows) and the per-doc scoring join; the completed weight table
    (every bucket 0..buckets-1, so train-unseen buckets still
    contribute their smoothed ratio instead of silently dropping)
    broadcasts back. Priors are a column-pruned count over the input.
    """
    from ..plans.caching import track_persist

    if buckets < 2:
        raise ValueError("nb_classifier_scores: buckets must be >= 2")
    keep = [F.col(c) for c in keep_cols]
    db = track_persist(
        df.select(F.col(id_col), *keep, label.alias("y"),
                  train.alias("tr"),
                  F.explode(hashed_feature_buckets(
                      F.col(text_col), buckets=buckets)).alias("bucket"))
        .groupBy(id_col, *keep_cols, "y", "tr", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt")))
    bt = (db.where("tr")
          .groupBy("bucket")
          .agg(F.sum(F.when(F.col("y"), F.col("cnt"))
                     .otherwise(F.lit(0))).alias("n_pos"),
               F.sum(F.when(~F.col("y"), F.col("cnt"))
                     .otherwise(F.lit(0))).alias("n_neg")))
    spark = df.sparkSession
    full = (spark.range(buckets).select(F.col("id").alias("bucket"))
            .join(bt, "bucket", "left")
            .select("bucket",
                    F.coalesce("n_pos", F.lit(0)).alias("n_pos"),
                    F.coalesce("n_neg", F.lit(0)).alias("n_neg")))
    tot = full.agg(F.sum("n_pos").alias("t_pos"),
                   F.sum("n_neg").alias("t_neg"))
    w = (full.crossJoin(F.broadcast(tot))  # 1-row scalar metadata
         .select("bucket",
                 (F.log((F.col("n_pos") + 1.0)
                        / (F.col("t_pos") + float(buckets)))
                  - F.log((F.col("n_neg") + 1.0)
                          / (F.col("t_neg") + float(buckets))))
                 .alias("llr")))
    # empty-train degrades gracefully: coalesced zero counts give a
    # 0 prior and (with all-zero histograms) 0 evidence, never NULLs
    prior = (df.where(train)
             .agg(F.log((F.coalesce(F.sum(label.cast("long")), F.lit(0))
                         + 1.0)
                        / (F.coalesce(F.sum((~label).cast("long")),
                                      F.lit(0)) + 1.0))
                  .alias("prior")))
    scored = (db.join(F.broadcast(w), "bucket")
              .groupBy(id_col, *keep_cols)
              .agg(F.sum("cnt").alias("n_feats"),
                   F.sum(F.col("cnt") * F.col("llr")).alias("evidence"))
              .crossJoin(F.broadcast(prior)))  # 1-row scalar metadata
    return scored.select(
        id_col, *keep_cols, "n_feats",
        F.round(F.col("prior") + F.col("evidence"), 4).alias("log_odds"),
        ((F.col("prior") + F.col("evidence")) > 0).alias("pred"))


# ---------------------------------------------------------------------------
# Unicode / text normalization -- step zero of every web-corpus pipeline
# (C4, CCNet, RefinedWeb all NFC-normalize and strip control bytes before
# any dedup or quality pass; mojibake repair is the ftfy idea reduced to a
# deterministic fixed table so it stays oracle-exact).

#: Most common UTF-8-read-as-cp1252 artifacts. Fixed, ordered table: the
#: repair is a chain of exact replaces in THIS order on both engines
#: (3-byte U+00E2-led sequences first, so the punctuation fixes never
#: leave a dangling lead byte for the 2-byte rules to mangle).
MOJIBAKE_TABLE: tuple[tuple[str, str], ...] = (
    ("\u00e2\u20ac\u2122", "'"),   # \u2019 right quote seen through cp1252
    ("\u00e2\u20ac\u201c", "-"),   # \u2013 en dash seen through cp1252
    ("\u00e2\u20ac\u0153", '"'),   # \u201c left double quote
    ("\u00c3\u00a9", "\u00e9"),    # e acute
    ("\u00c3\u00a8", "\u00e8"),    # e grave
    ("\u00c3\u00bc", "\u00fc"),    # u umlaut
    ("\u00c3\u00b6", "\u00f6"),    # o umlaut
    ("\u00c3\u00b1", "\u00f1"),    # n tilde
    ("\u00c2\u00a0", " "),          # nbsp seen through cp1252
)

#: C0/C1 control characters except tab and newline; carriage returns are
#: handled separately (CRLF -> LF) before this class strips bare CRs.
_CONTROL_CLASS = "[\\x00-\\x08\\x0b-\\x1f\\x7f\\x80-\\x9f]"


def repair_mojibake(text: Column | str) -> Column:
    """Chain of exact substring replaces from MOJIBAKE_TABLE (JVM
    ``replace``, no regex). Deterministic and order-sensitive."""
    c = F.col(text) if isinstance(text, str) else text
    for bad, good in MOJIBAKE_TABLE:
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


def strip_controls(text: Column | str) -> Column:
    """CRLF -> LF, then drop every other C0/C1 control char (keeps tab
    and newline -- layout-bearing whitespace survives)."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.replace(c, F.lit("\r\n"), F.lit("\n"))
    return F.regexp_replace(c, _CONTROL_CLASS, "")


def collapse_whitespace(text: Column | str) -> Column:
    """Runs of spaces/tabs -> one space; space-padded newlines tighten;
    3+ newlines -> 2 (paragraph break survives); trim outer whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, "[ \\t]+", " ")
    c = F.regexp_replace(c, " ?\\n ?", "\n")
    c = F.regexp_replace(c, "\\n{3,}", "\n\n")
    return F.trim(c)


def normalize_text(text: Column | str, *, unicode_nfc: bool = True) -> Column:
    """The full cleaning chain: control strip -> NFC -> mojibake repair
    -> NFC -> whitespace collapse. Per-row and shuffle-free; the only
    Python hop is NFC -> repair -> NFC (skippable via
    ``unicode_nfc=False`` for ASCII-known corpora, making the whole
    chain JVM codegen: control strip -> repair -> whitespace collapse).

    The order makes the chain idempotent. Controls go first: one
    between a base letter and its combining mark (a, U+001F, U+0300) or
    inside a mojibake sequence would otherwise be stripped only after
    NFC / repair had run. NFC runs on both sides of the repair: NFC can
    compose a mojibake sequence (A, U+0303, U+00A9 -> U+00C3 U+00A9),
    which only a repair after it fixes, and a repaired letter can
    compose with a following mark (U+00C3 U+00BC, U+0301 -> U+00FC
    U+0301 -> U+01D8), which only an NFC after it folds."""
    c = strip_controls(F.col(text) if isinstance(text, str) else text)
    c = _nfc_repair_nfc(c) if unicode_nfc else repair_mojibake(c)
    return collapse_whitespace(c)


def _nfc_repair_nfc(text: Column) -> Column:
    """NFC -> mojibake repair -> NFC in ONE Arrow pandas hop. Spark has
    no built-in normalizer, so this is the one Python step of the
    cleaning chain, riding pandas' vectorized ``str.normalize`` (C-level
    loop, never per-row Python); it agrees exactly with DuckDB's
    ``nfc_normalize`` (both implement canonical composition; agreement
    test-pinned). The repair is ``repair_mojibake``'s exact-substring
    chain over MOJIBAKE_TABLE, run as pandas ``str.replace`` between the
    two normalizations instead of as a JVM step between two Python
    hops."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("string")
    def _chain(s: pd.Series) -> pd.Series:
        s = s.str.normalize("NFC")
        for bad, good in MOJIBAKE_TABLE:
            s = s.str.replace(bad, good, regex=False)
        return s.str.normalize("NFC")

    return _chain(text)


# ---------------------------------------------------------------------------
# HTML boilerplate stripping -- the step-zero text extractor for web
# corpora (C4 strips markup before any quality pass). Regex-chain only
# (Java-regex / RE2 common subset: inline (?is), lazy quantifiers, NO
# backreferences), so the DuckDB oracle is exact.

#: Minimal entity table. Decode order matters: &amp; LAST, so
#: double-escaped text ("&amp;lt;") decodes one level per pass instead
#: of jumping straight to "<".
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def strip_html(text: Column | str) -> Column:
    """script/style blocks (content dropped), comments, then every
    remaining tag -> a space; entities decoded; whitespace collapsed.
    Per-row JVM regex work, zero shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, "(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, "(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, "<[^>]+>", " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return collapse_whitespace(c)


def compression_ratio(df, *, text_col: str = "text",
                      id_col: str = "doc_id", level: int = 6):
    """zlib compression ratio per document — the classic
    repetitive/templated-text detector (Gopher/Dolma-class quality
    signal: boilerplate compresses far below prose; ratio =
    compressed_bytes / raw_bytes, lower = more repetitive).

    One Arrow-batched mapInPandas pass (zlib is C-speed; no JVM
    equivalent exists, and DuckDB has no compressor either, so the
    registry query is rows-only, pinned EXACT against an independent
    zlib call in tests — deterministic for a fixed level). Zero
    shuffle; scales as a pure map over input splits.
    """
    if not (0 <= level <= 9):
        raise ValueError(f"level must be in [0, 9], got {level}")
    id_type = dict(df.dtypes)[id_col]
    schema = (f"{id_col} {id_type}, raw_len bigint, comp_len bigint, "
              "ratio double")

    def _score(batches):
        import zlib
        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            raw_len = raw.str.len().astype("int64")
            comp_len = raw.map(
                lambda b: len(zlib.compress(b, level))).astype("int64")
            out = pdf[[id_col]].copy()
            out["raw_len"] = raw_len
            out["comp_len"] = comp_len
            out["ratio"] = (comp_len / raw_len.clip(lower=1)).round(4)
            yield out

    return df.select(id_col, text_col).mapInPandas(_score, schema=schema)


def compression_ratio_oracle_sql(sf_dir: str, *, table: str = "documents",
                                 text_col: str = "text",
                                 id_col: str = "doc_id",
                                 level: int = 6) -> str:
    """Generate the DuckDB oracle for ``compression_ratio`` at a given
    SF. DuckDB ships no zlib, so no SQL re-derivation exists — instead
    the generator reads the parquet directly (pyarrow/pandas,
    independent of Spark's scan + Arrow-batch path), replays the
    IDENTICAL CPython-zlib computation the engine runs, and bakes the
    per-doc (raw_len, comp_len, ratio) as a VALUES table. This pins the
    Spark/Arrow execution path end-to-end against an independent read
    of the same bytes (zlib output is deterministic for a fixed level,
    so the literals are stable across runs/hosts). Ratio doubles are
    emitted via ``repr`` — shortest round-trip form, so DuckDB parses
    bit-identical IEEE values. Registered as a PER-SF generator
    callable, like the Mahalanobis/PCA oracles (the literals are
    data-dependent). Row count is corpus-catalog-sized (doc-grain),
    which the synthetic SFs keep in the hundreds-to-thousands."""
    import os
    import zlib

    import pyarrow.parquet as pq

    pdf = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"),
                        columns=[id_col, text_col]).to_pandas()
    raw = pdf[text_col].fillna("").str.encode("utf-8")
    raw_len = raw.str.len().astype("int64")
    comp_len = raw.map(lambda b: len(zlib.compress(b, level))).astype("int64")
    ratio = (comp_len / raw_len.clip(lower=1)).round(4)
    rows = ",\n".join(
        f"({i}, {r}, {c}, {float(v)!r})"
        for i, r, c, v in zip(pdf[id_col], raw_len, comp_len, ratio))
    return f"""SELECT {id_col}::BIGINT AS {id_col},
       raw_len::BIGINT AS raw_len, comp_len::BIGINT AS comp_len,
       ratio::DOUBLE AS ratio
FROM (VALUES
{rows}
) AS t({id_col}, raw_len, comp_len, ratio)"""


# ---------------------------------------------------------------------------
# URL canonicalization -- RefinedWeb/C4-class URL-level dedup runs BEFORE
# content dedup; it needs a canonical form first. Pure JVM string/array
# expressions (split, array_sort, concat) with exact SQL equivalents.

#: Tracking parameters dropped during canonicalization (the standard
#: analytics-noise set; extend per deployment).
TRACKING_PARAMS: tuple[str, ...] = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term",
    "utm_content", "gclid", "fbclid", "ref",
)


def canonical_url(url: Column | str,
                  tracking_params: tuple[str, ...] = TRACKING_PARAMS) -> Column:
    """Canonical URL form: lowercase scheme+host, strip a default :80/
    :443 port, drop the #fragment, drop tracking query params, SORT the
    surviving params (param order is presentation noise), drop a
    trailing '/' on a bare path, and drop an empty '?'. Deterministic,
    zero-UDF; one expression tree per row.

    Not a full RFC 3986 normalizer (no percent-decoding or path-dot
    resolution -- those need a parser); this is the dedup-key form the
    corpus pipelines use.
    """
    u = F.col(url) if isinstance(url, str) else url
    # split off fragment, then query
    no_frag = F.split(u, "#", 2)[0]
    parts = F.split(no_frag, "\\?", 2)
    base, qs = parts[0], F.get(F.split(no_frag, "\\?", 2), 1)
    # scheme://host[:port]/path  -> lowercase scheme+authority only
    m = F.regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)(.*)$", 1)
    rest = F.regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)(.*)$", 2)
    auth = F.lower(m)
    auth = F.regexp_replace(auth, ":80$", "")
    auth = F.regexp_replace(auth, ":443$", "")
    # bare trailing slash(es) on the path are noise ("/a/" == "/a",
    # "/" == ""); strip the whole run — stripping only one made
    # "//" -> "/" -> "" non-idempotent (hypothesis-found)
    path = F.regexp_replace(rest, "/+$", "")
    drop = F.array(*[F.lit(p) for p in tracking_params])
    kept = F.filter(
        F.split(F.coalesce(qs, F.lit("")), "&"),
        lambda kv: (kv != "")
        & ~F.array_contains(drop, F.split(kv, "=", 2)[0]))
    query = F.array_join(F.array_sort(kept), "&")
    return F.concat(
        auth, path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")))


#: (marker, regex) in application order — longest/most-specific first so
#: a credit-card number is never half-eaten by the phone pattern. Every
#: pattern is RE2-safe (no lookaround, no backreferences) AND
#: Java-regex-identical, so the DuckDB oracle replays the chain exactly
#: (cross-engine parity pinned per pattern in tests).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("CCNUM", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b"),
    ("IPV4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("PHONE", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
    ("SSN", r"\b\d{3}-\d{2}-\d{4}\b"),
)


def pii_scrub(text: Column | str,
              patterns: tuple[tuple[str, str], ...] = PII_PATTERNS
              ) -> tuple[Column, list[Column]]:
    """PII detection + redaction — the scrub stage every training-data
    pipeline runs before release (emails, card-shaped numbers, IPv4
    addresses, phone-shaped and SSN-shaped digit groups; regex-shape
    detection, the standard first line — NER-grade detection is a
    model stage out of scope).

    Returns ``(redacted, counts)``: the text with each match replaced
    by its ``<MARKER>``, plus one int Column per pattern counting the
    matches. Counting happens on the PROGRESSIVELY redacted text (type
    k counts after types 1..k-1 redacted) so overlapping shapes are
    attributed once, deterministically, and the DuckDB oracle can
    replay the exact chain. Pure per-row JVM regexp chain — zero UDF,
    zero shuffle."""
    cur = F.col(text) if isinstance(text, str) else text
    counts = []
    for marker, rx in patterns:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(rx), F.lit(0)))
            .alias(f"n_{marker.lower()}"))
        cur = F.regexp_replace(cur, rx, f"<{marker}>")
    return cur, counts


#: Default blocklist (C4's "List of Dirty, Naughty ... Words" stands in
#: for whatever per-deployment list applies; these are corpus words so
#: the gate query exercises non-trivial hits).
BLOCKLIST: tuple[str, ...] = ("slow", "error", "spam")


def blocklist_scrub(df, *, text_col: str = "text", id_col: str = "doc_id",
                    blocklist: tuple[str, ...] = BLOCKLIST,
                    max_ratio_micro: int = 0):
    """Blocklist token filter — the C4-style "remove any page containing
    a word on the blocklist" gate (C4 dropped pages on ANY hit;
    ``max_ratio_micro`` generalizes to a rate threshold, 0 = C4's
    semantics). Counts OCCURRENCES (not distinct hits) of blocklisted
    whitespace tokens, case-insensitive, exact-token match (substring
    policies belong in a regex pass like ``pii_scrub``'s).

    Pure per-row JVM array lambdas — zero UDF, zero shuffle, trivially
    linear; the SQL twin is a ``list_filter .. IN`` replay. Returns
    (id, n_tokens, n_blocked, blocked_ratio_micro, keep).
    """
    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    if not 0 <= max_ratio_micro <= 1_000_000:
        raise ValueError("max_ratio_micro must be in [0, 1e6], got "
                         f"{max_ratio_micro}")
    toks = tokens(F.lower(F.col(text_col)))
    bl = F.array(*[F.lit(w) for w in blocklist])
    n_tok = F.size(toks).cast("long")
    n_blk = F.size(F.filter(toks, lambda x: F.array_contains(bl, x))) \
        .cast("long")
    ratio = F.floor(n_blk * 1_000_000 / F.greatest(n_tok, F.lit(1))) \
        .cast("long")
    return df.select(
        F.col(id_col), n_tok.alias("n_tokens"), n_blk.alias("n_blocked"),
        ratio.alias("blocked_ratio_micro"),
        (ratio <= max_ratio_micro).alias("keep"))


def winnow_fingerprints(df, *, text_col: str = "text",
                        id_col: str = "doc_id", ngram: int = 3,
                        window: int = 4):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every word ``ngram``-gram, slide a
    ``window``-gram window over the hash sequence, keep each window's
    MINIMUM — guaranteeing any shared run of ``window + ngram - 1``
    tokens between two documents shares at least one selected
    fingerprint (the local-sampling property a plain "every k-th hash"
    scheme lacks). The classic plagiarism/citation-detection
    fingerprint, complementary to MinHash (which samples globally and
    carries no position).

    ENGINE-EXACT selection: the windowed min runs over the single
    int64 ``h * 2^20 + pos`` (40-bit gram hash from the md5 prefix,
    20-bit position), so min-of-combined picks min-hash with
    leftmost-position tie-break identically in any engine — no
    unspecified arg-min tie rule. Caps: docs up to 2^20 grams
    (enforced by a per-row assert_true; shard longer docs upstream).
    Plan: posexplode ->
    lead-stitched grams (one shuffle on the doc id) -> three window
    passes (lead, per-doc gram count, windowed min) -> distinct;
    fingerprint volume is ~2/(window+1) of gram volume by the
    winnowing density bound.

    Returns (id, fp_hash, fp_pos) — distinct selected fingerprints
    with the position of their first selection.
    """
    from pyspark.sql import Window as W

    if ngram < 1 or window < 1:
        raise ValueError(f"need ngram >= 1 and window >= 1, got "
                         f"{ngram}/{window}")
    toks = (df.select(F.col(id_col),
                      F.posexplode(tokens(F.lower(F.col(text_col))))
                      .alias("p", "tok")))
    w = W.partitionBy(id_col).orderBy("p")
    leads = [F.lead("tok", j).over(w).alias(f"t{j}")
             for j in range(1, ngram)]
    grams = toks.select(F.col(id_col), F.col("p"),
                        F.col("tok").alias("t0"), *leads)
    gcol = F.concat_ws(" ", *[F.col(f"t{j}") for j in range(ngram)])
    # gram position == its first token's position: every token index
    # 0..L-ngram yields exactly one gram, so p is already dense
    g = (grams.where(F.col(f"t{ngram - 1}").isNotNull())
         .select(F.col(id_col), F.col("p").alias("pos"),
                 (F.conv(F.substring(F.md5(gcol), 1, 10), 16, 10)
                  .cast("long") * F.lit(1_048_576)
                  + F.col("p")).alias("c")))
    g = g.where(F.assert_true(F.col("pos") < F.lit(1_048_576),
                              "winnow_fingerprints: doc exceeds 2^20 "
                              "grams — shard upstream").isNull())
    wg = W.partitionBy(id_col).orderBy("pos")
    fwd = wg.rowsBetween(0, window - 1)
    sel = (g.withColumn("n_grams", F.count(F.lit(1)).over(
               W.partitionBy(id_col)))
           .withColumn("wmin", F.min("c").over(fwd))
           # valid window starts only: 0..G-window (short docs: the one
           # window at pos 0 covers every gram)
           .where(F.col("pos")
                  <= F.greatest(F.col("n_grams") - window, F.lit(0))))
    out = sel.select(
        F.col(id_col),
        F.floor(F.col("wmin") / F.lit(1_048_576)).cast("long")
        .alias("fp_hash"),
        (F.col("wmin") % F.lit(1_048_576)).cast("int").alias("fp_pos"))
    return out.groupBy(id_col, "fp_hash").agg(
        F.min("fp_pos").alias("fp_pos"))


def capped_winnow_fingerprints(df, *, text_col: str = "text",
                               id_col: str = "doc_id"):
    """(id, fp_hash) winnowing fingerprints (word 3-grams, window 4)
    with the MOSS common-code exclusion: a fingerprint present in more
    than 20 documents is dropped. Rows with a null id are dropped
    first; they could never form a pair, and they do not count toward a
    fingerprint's document frequency.

    One shuffle of the fingerprints by ``fp_hash`` feeds both the
    doc-frequency count and the join that applies the cap, so the
    fingerprint pipeline runs once and the second read is a
    ReusedExchange. Three things keep the two branches identical for
    exchange reuse: the explicit null-id filter (otherwise Catalyst
    infers ``isnotnull(id)`` on one branch only), counting ``id_col``
    rather than a literal (so column pruning keeps the same two columns
    on both branches), and the explicit repartition. The output stays
    hash-partitioned by ``fp_hash``, so a self-join on it needs no
    further shuffle.

    Skew: a boilerplate (power-law) fingerprint still lands in one
    partition, but nothing buffers it (a count-over-window would hold
    every occurrence in one window task). The aggregate holds one entry
    per key, and the merge join streams the hot rows past a ``rare``
    side that has no match for them. The count runs after the shuffle,
    so a hot key's rows reach one task in both the count and the probe:
    a straggler that AQE does not skew-split, because it leaves
    ``REPARTITION_BY_COL`` exchanges alone. The doc-frequency cap is
    what bounds the pair fan-out downstream.
    """
    fp = (winnow_fingerprints(df.where(F.col(id_col).isNotNull()),
                              text_col=text_col, id_col=id_col,
                              ngram=3, window=4)
          .select(id_col, "fp_hash").repartition("fp_hash"))
    rare = (fp.groupBy("fp_hash").agg(F.count(id_col).alias("__df"))
            .where(F.col("__df") <= 20).select("fp_hash"))
    return fp.join(rare.hint("merge"), "fp_hash").select(id_col, "fp_hash")


def token_budget_select(df, *, text_col: str = "text",
                        id_col: str = "doc_id",
                        budget_frac_micro: int = 300_000,
                        bins: int = 256):
    """Quality-ranked corpus cut to a TOKEN BUDGET — "keep the best
    documents until ~30% of corpus tokens" — the selection step of a
    budgeted pretraining mix, done the reduce-first way:

      1. per doc: token count + micro-quantized quality score, bucketed
         into a fixed ``bins``-cell quality grid (integer arithmetic —
         cross-engine exact);
      2. grid-grain cumulative token sums from the top bucket down pick
         the BOUNDARY bucket (volume-independent: <= ``bins`` rows);
      3. buckets above the boundary are taken whole; within the
         boundary bucket, docs are admitted in deterministic
         md5(doc_id) order until the residual budget is spent.

    The only data-sized ordered stage is the boundary-bucket scan —
    bounded by one bucket's population (doc-grain worst case; raise
    ``bins`` to shrink it). Everything is integer counts, so the
    verdict table (id, n_tokens, qbin, selected) hash-matches a SQL
    oracle. Budget = floor(total_tokens * budget_frac_micro / 1e6).
    """
    from pyspark.sql import Window

    if not 0 < budget_frac_micro <= 1_000_000:
        raise ValueError("budget_frac_micro must be in (0, 1e6], got "
                         f"{budget_frac_micro}")
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    from ..plans.caching import track_persist

    # one tokenization per row (quality + count share the array), and
    # the scored base is persisted: three consumers (total-budget agg,
    # per-bin agg, the selection join probe) would otherwise each
    # re-run the regexp-heavy scoring scan — measured 2x the whole
    # query at 1000x the gate SF. At cluster scale the same decision
    # is "materialize the scored corpus once" (parquet instead of
    # memory), the standard first stage of a selection pipeline.
    toked = df.select(F.col(id_col), F.col(text_col),
                      tokens(text_col).alias("__toks"))
    qm = F.floor(quality_score_from_tokens(F.col("__toks"), text_col)
                 * 1_000_000 + F.lit(0.5))
    qbin = F.least(F.floor(qm * bins / F.lit(1_000_000.0)),
                   F.lit(bins - 1)).cast("int")
    base = track_persist(toked.select(
        F.col(id_col), F.size("__toks").cast("long").alias("n_tokens"),
        qbin.alias("qbin")))
    tot = base.agg(
        F.floor(F.sum("n_tokens") * budget_frac_micro
                / F.lit(1_000_000.0)).alias("budget"))
    binsum = (base.groupBy("qbin").agg(F.sum("n_tokens").alias("bt")))
    wc = Window.orderBy(F.col("qbin").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)  # <= bins rows
    cum = (binsum.withColumn("cum", F.sum("bt").over(wc))
           .crossJoin(F.broadcast(tot))
           .select("qbin", "bt", "cum", "budget",
                   (F.col("cum") <= F.col("budget")).alias("full_sel"),
                   ((F.col("cum") > F.col("budget"))
                    & (F.col("cum") - F.col("bt") <= F.col("budget")))
                   .alias("is_boundary"),
                   (F.col("budget") - (F.col("cum") - F.col("bt")))
                   .alias("residual")))
    joined = base.join(F.broadcast(cum), "qbin")
    # the ordered scan runs ONLY over the boundary bucket (the window
    # partitions on qbin and the running sum is consumed solely where
    # is_boundary, so every other bucket's sort is a per-bucket local
    # order over its own share — no global stage, no singleton-key
    # blowup; the first cut's 500k singleton window keys measured
    # exponent 1.11 at 1000x the gate SF)
    wb = Window.partitionBy("qbin") \
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col) \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (joined.withColumn("__run", F.sum("n_tokens").over(wb))
            .select(id_col, "n_tokens", "qbin",
                    (F.col("full_sel")
                     | (F.col("is_boundary")
                        & (F.col("__run") <= F.col("residual"))))
                    .alias("selected")))


# ---------------------------------------------------------------------------
# Unigram language-model tokenizer (SentencePiece-style), round 7
# ---------------------------------------------------------------------------

UNIGRAM_MAX_PIECE = 4    # candidate pieces: word substrings up to 4 chars
UNIGRAM_MAX_WORD = 24    # words longer than this are ignored (DP bound)
UNIGRAM_MIN_COUNT = 2    # multi-char pieces need corpus support
UNIGRAM_TOP_WORDS = 500  # segmentation report: most frequent words


def unigram_scores(counts: dict) -> dict:
    """Integer log-prob scores (micro-units) from exact piece counts:
    score(p) = floor(ln(count/total) * 1e6). ONE CPython source of
    truth for the report and its per-SF oracle generator, which feeds it
    word frequencies read through DuckDB's own tokenizer (the
    zlib-oracle convention: the replayed computation is identical, the
    READ path independent)."""
    import math
    total = sum(counts.values())
    return {p: int(math.floor(math.log(c / total) * 1_000_000))
            for p, c in counts.items()}


def viterbi_segment(word: str, scores: dict,
                    max_piece: int = UNIGRAM_MAX_PIECE):
    """Max-likelihood segmentation under the unigram LM: dp over end
    positions, candidates = in-vocab suffix pieces up to ``max_piece``
    chars. Deterministic total order on ties: higher score, then fewer
    pieces, then lexicographically smallest '|'-joined segmentation.
    Returns (pieces tuple, score_micro)."""
    n = len(word)
    dp = [None] * (n + 1)          # (score, npieces, joined)
    back = [None] * (n + 1)
    dp[0] = (0, 0, "")
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - max_piece), i):
            if dp[j] is None:
                continue
            piece = word[j:i]
            s = scores.get(piece)
            if s is None:
                continue
            sc = dp[j][0] + s
            np_ = dp[j][1] + 1
            joined = dp[j][2] + ("|" if dp[j][2] else "") + piece
            cand = (sc, np_, joined)
            if (best is None or sc > best[0]
                    or (sc == best[0] and np_ < best[1])
                    or (sc == best[0] and np_ == best[1]
                        and joined < best[2])):
                best = cand
        dp[i] = best
    if dp[n] is None:   # uncovered char (not possible for corpus words)
        return (word,), 0
    sc, np_, joined = dp[n]
    return tuple(joined.split("|")), sc


def _word_piece_counts(words_freq) -> dict:
    """Exact piece counts from (word, freq) pairs: every substring
    OCCURRENCE up to UNIGRAM_MAX_PIECE chars contributes the word's
    corpus frequency."""
    counts: dict = {}
    for w, f in words_freq:
        n = len(w)
        for i in range(n):
            for ln in range(1, min(UNIGRAM_MAX_PIECE, n - i) + 1):
                p = w[i:i + ln]
                counts[p] = counts.get(p, 0) + f
    return {p: c for p, c in counts.items()
            if c >= UNIGRAM_MIN_COUNT or len(p) == 1}


def _unigram_rows(word_freqs) -> list:
    """The unigram segmentation report computed in memory from (word,
    freq) rows: piece counts and scores over the words of length <=
    UNIGRAM_MAX_WORD, then the Viterbi segmentation of the
    UNIGRAM_TOP_WORDS most frequent of them. One helper for the report
    and its oracle generator."""
    eligible = [(w, f) for w, f in word_freqs if len(w) <= UNIGRAM_MAX_WORD]
    scores = unigram_scores(_word_piece_counts(eligible))
    top = sorted(eligible, key=lambda r: (-r[1], r[0]))[:UNIGRAM_TOP_WORDS]
    rows = []
    for w, f in top:
        pieces, sc = viterbi_segment(w, scores)
        rows.append((w, f, "|".join(pieces), len(pieces), sc))
    return rows


def unigram_segment_report(df, *, text_col: str = "text") -> "DataFrame":
    """SentencePiece-style unigram-LM tokenizer over the corpus, end to
    end: exact piece counts -> integer log-prob scores -> Viterbi
    max-likelihood segmentation of the UNIGRAM_TOP_WORDS most frequent
    words. The non-greedy sibling of the BPE family: BPE commits to
    merges greedily, the unigram LM picks each word's globally best
    segmentation under the corpus distribution.

    Plan: the (word, freq) table comes to the driver in one action and
    ``_unigram_rows`` (the helper the oracle replays) computes the
    report there. Scores are exact ints; ties broken by (fewer pieces,
    lexicographic) — partitioning-independent by construction."""
    word_freqs = corpus_word_freq(df, text_col=text_col).collect()
    return df.sparkSession.createDataFrame(
        _unigram_rows(word_freqs),
        "word string, freq long, segmentation string, n_pieces int, "
        "score_micro long")


def _duckdb_word_freq(sf_dir: str, table: str, text_col: str,
                      max_len: int | None = None) -> list:
    """(word, freq) rows of a parquet table through DuckDB's own
    tokenizer chain (lowercase, split on ' ', drop empties) — the read
    path the tokenizer oracles keep independent of Spark's. ``max_len``
    drops longer words."""
    import os

    import duckdb

    path = os.path.join(sf_dir, f"{table}.parquet")
    where = "" if max_len is None else f"WHERE len(word) <= {max_len}"
    with duckdb.connect() as con:
        return con.execute(f"""
            SELECT word, count(*)::BIGINT AS freq FROM (
              SELECT unnest(list_filter(string_split(lower({text_col}), ' '),
                                        x -> x <> '')) AS word
              FROM read_parquet('{path}'))
            {where}
            GROUP BY word
        """).fetchall()


def unigram_oracle_sql(sf_dir: str, *, table: str = "documents",
                       text_col: str = "text") -> str:
    """Per-SF generated oracle for unigram_segment_report: word
    frequencies come from DuckDB's own tokenizer chain (independent of
    Spark's scan/split), then ``_unigram_rows`` replays the counts,
    scores and segmentation and the results bake into a VALUES table."""
    wf = _duckdb_word_freq(sf_dir, table, text_col, UNIGRAM_MAX_WORD)
    rows = []
    for w, f, seg, n, sc in _unigram_rows(wf):
        esc_w = w.replace("'", "''")
        esc_s = seg.replace("'", "''")
        rows.append(f"('{esc_w}', {f}, '{esc_s}', {n}, {sc})")
    vals = ",\n".join(rows)
    return f"""SELECT word::VARCHAR AS word, freq::BIGINT AS freq,
       segmentation::VARCHAR AS segmentation, n_pieces::INT AS n_pieces,
       score_micro::BIGINT AS score_micro
FROM (VALUES
{vals}
) AS t(word, freq, segmentation, n_pieces, score_micro)"""


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (round 7)
# ---------------------------------------------------------------------------

def rake_keyphrases(df, *, text_col: str = "text", id_col: str = "doc_id",
                    stopwords: tuple = STOPWORDS, top_k: int = 3,
                    max_run: int = 4) -> "DataFrame":
    """RAKE (Rapid Automatic Keyword Extraction): candidate phrases are
    maximal stopword-free runs (runs LONGER than ``max_run`` words are
    dropped outright — with them their words' freq/deg contributions;
    over-long runs are usually broken markup, not keyphrases), each word
    scored deg/freq WITHIN ITS DOCUMENT (deg = sum of the lengths of
    the phrases it appears in — favors words that travel in long
    phrases; freq alone favors boilerplate), phrase score = sum of
    member word scores, top-``top_k`` phrases per doc. Exact integer
    micro-unit scores (one truncating division per word).

    Scale shape: run segmentation is one doc-grain window (cumulative
    stopword count); everything else is (doc, run)- or (doc, word)-
    grain hash aggregation and the final rank a doc-partitioned window
    — no corpus-global state at all, the embarrassingly-document-
    parallel shape."""
    if top_k < 1 or max_run < 1:
        raise ValueError("top_k and max_run must be >= 1")
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(F.filter(F.split(F.lower(F.col(text_col)), " "),
                              lambda x: x != "")).alias("i", "t"))
    marked = toks.withColumn("stop", F.col("t").isin(*stopwords))
    wrun = Window.partitionBy(id_col).orderBy("i")
    runs = marked.withColumn(
        "run", F.sum(F.col("stop").cast("int")).over(wrun))
    words = runs.where(~F.col("stop")).select(id_col, "run", "i", "t")
    from ..plans.caching import track_persist
    words = track_persist(words)
    phr = (words.groupBy(id_col, "run")
           .agg(F.count(F.lit(1)).alias("nw"),
                F.array_join(F.transform(F.array_sort(F.collect_list(
                    F.struct("i", "t"))), lambda s: s.t), " ")
                .alias("phrase"))
           .where(F.col("nw") <= max_run))
    phr = track_persist(phr)
    wstat = (words.join(phr.select(id_col, "run", "nw"), [id_col, "run"])
             .groupBy(id_col, "t")
             .agg(F.count(F.lit(1)).alias("freq"),
                  F.sum("nw").alias("deg")))
    pscore = (phr.join(words, [id_col, "run"])
              .join(wstat, [id_col, "t"])
              .groupBy(id_col, "run", "phrase", "nw")
              .agg(F.sum(F.expr("(deg * 1000000) div freq"))
                   .alias("score_micro")))
    dedup = (pscore.groupBy(id_col, "phrase",
                            F.col("nw").cast("int").alias("n_words"))
             .agg(F.max("score_micro").alias("score_micro")))
    wr = Window.partitionBy(id_col).orderBy(
        F.col("score_micro").desc(), "phrase")
    return (dedup.withColumn("rank", F.row_number().over(wr).cast("int"))
            .where(F.col("rank") <= top_k))


# ---------------------------------------------------------------------------
# WordPiece (round 8): likelihood-scored trainer + greedy longest-match
# encoder — the third tokenizer family (BPE = frequency-merge + rank-
# order encode; unigram-LM = Viterbi; WordPiece = likelihood merge +
# maximal-munch encode, the BERT scheme).
# ---------------------------------------------------------------------------

#: fixed-point scale for the WordPiece pair-likelihood score
#: cnt(ab)/(cnt(a)*cnt(b)) — integer micro-units so the argmax ordering
#: is exact; Python big ints keep the arithmetic exact at any corpus
#: size (the score itself is <= 1e12, since cnt(ab) <= cnt(a)).
_WP_SCORE_SCALE = 10 ** 12


def wordpiece_train_merges(df, *, text_col: str = "text",
                           rounds: int = 5, min_count: int = 2):
    """WordPiece tokenizer training: like ``bpe_train_merges`` (same
    vocabulary, same greedy left-to-right rewrite) but the merge
    DECISION maximizes the likelihood score cnt(ab) / (cnt(a) * cnt(b))
    (Schuster & Nakajima 2012; the BERT trainer) instead of raw pair
    frequency — rare-but-predictive pairs win over merely common ones.
    Pairs below ``min_count`` are dropped BEFORE the argmax (a raw
    likelihood argmax would always pick singleton pairs, whose tiny
    denominators dominate the score); ties break on (score desc, a, b).
    Stops early when no candidate remains. The (word, freq) table comes
    to the driver in one action and ``_wp_train_py`` trains there.
    Returns (round, piece, a, b, cnt, score_micro).

    Exactness is pinned against a from-scratch Python trainer in tests,
    and the ``wordpiece_segment_report`` gate query bakes the replay
    into a generated VALUES oracle per SF over DuckDB-read word
    frequencies."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    word_freqs = corpus_word_freq(df, text_col=text_col).collect()
    return df.sparkSession.createDataFrame(
        _wp_train_py(word_freqs, rounds, min_count),
        "round int, piece string, a string, b string, cnt long, "
        "score_micro long")


def _wp_greedy(word: str, pieces: set, maxlen: int) -> list:
    """Greedy longest-match-first (maximal munch) WordPiece
    segmentation of one word: at each position take the longest piece
    in the trained vocabulary, falling back to the single character
    (every corpus character is implicitly in-vocab, so no [UNK] arises
    on the training corpus itself); continuation pieces carry the
    BERT '##' display prefix. Pure function — shared by the report
    and its oracle generator."""
    out, pos = [], 0
    while pos < len(word):
        ln = min(maxlen, len(word) - pos)
        while ln >= 2 and word[pos:pos + ln] not in pieces:
            ln -= 1
        piece = word[pos:pos + ln] if ln >= 2 else word[pos]
        out.append(piece if pos == 0 else "##" + piece)
        pos += len(piece)
    return out


def _wp_train_py(word_freqs, rounds: int, min_count: int = 2) -> list:
    """Pure-Python WordPiece trainer (exact big-int arithmetic) behind
    ``wordpiece_train_merges`` and the oracle generators. Input:
    (word, freq) rows; output (round, piece, a, b, cnt, score_micro)."""
    from collections import Counter
    vocab = Counter()
    for w, c in word_freqs:
        vocab[tuple(w)] += int(c)
    merges = []
    for r in range(rounds):
        pc, sc = Counter(), Counter()
        for syms, c in vocab.items():
            for s in syms:
                sc[s] += c
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += c
        scored = {p: (c * _WP_SCORE_SCALE) // (sc[p[0]] * sc[p[1]])
                  for p, c in pc.items() if c >= min_count}
        if not scored:
            break
        (a, b), sm = min(scored.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a + b, a, b, pc[(a, b)], sm))
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
    return merges


#: report defaults shared by the gate query and its oracle generator
_WP_ROUNDS = 6
_WP_TOP_WORDS = 40


def _wordpiece_rows(word_freqs, rounds: int, top_words: int) -> list:
    """The WordPiece segmentation report computed in memory from
    (word, freq) rows: train ``rounds`` merges, then segment the
    ``top_words`` most frequent words with ``_wp_greedy``. One helper
    for the report and its oracle generator."""
    pieces = {m[1] for m in _wp_train_py(word_freqs, rounds=rounds)}
    maxlen = max((len(p) for p in pieces), default=1)
    top = sorted(word_freqs, key=lambda r: (-r[1], r[0]))[:top_words]
    rows = []
    for w, f in top:
        seg = "|".join(_wp_greedy(w, pieces, maxlen))
        rows.append((w, f, seg, seg.count("|") + 1))
    return rows


def wordpiece_segment_report(df, *, text_col: str = "text",
                             rounds: int = _WP_ROUNDS,
                             top_words: int = _WP_TOP_WORDS):
    """Train a WordPiece vocabulary on the corpus, then segment the
    ``top_words`` most frequent words with greedy longest-match —
    (word, freq, segmentation, n_pieces). Deliberately the same report
    shape as the unigram-LM segmenter so the three tokenizer families
    are directly comparable on one corpus. Note maximal munch is NOT
    merge-order replay: BPE applied to the same vocabulary can emit a
    different (sometimes longer) segmentation — that divergence is the
    reason real tokenizers ship the inference rule with the vocab.

    Plan: the (word, freq) table comes to the driver in one action and
    ``_wordpiece_rows`` (the helper the oracle replays) trains and
    segments there."""
    word_freqs = corpus_word_freq(df, text_col=text_col).collect()
    return df.sparkSession.createDataFrame(
        _wordpiece_rows(word_freqs, rounds, top_words),
        "word string, freq long, segmentation string, n_pieces int")


def wordpiece_oracle_sql(sf_dir: str, *, table: str = "documents",
                         text_col: str = "text") -> str:
    """Per-SF generated oracle for wordpiece_segment_report: word
    frequencies come from DuckDB's own tokenizer chain, then
    ``_wordpiece_rows`` replays training and segmentation and the
    results bake into a VALUES table."""
    wf = _duckdb_word_freq(sf_dir, table, text_col)
    rows = []
    for w, f, seg, n in _wordpiece_rows(wf, _WP_ROUNDS, _WP_TOP_WORDS):
        esc_w = w.replace("'", "''")
        esc_s = seg.replace("'", "''")
        rows.append(f"('{esc_w}', {f}, '{esc_s}', {n})")
    vals = ",\n".join(rows)
    return f"""SELECT word::VARCHAR AS word, freq::BIGINT AS freq,
       segmentation::VARCHAR AS segmentation, n_pieces::INT AS n_pieces
FROM (VALUES
{vals}
) AS t(word, freq, segmentation, n_pieces)"""


# ---------------------------------------------------------------------------
# Tokenizer selection report (round 8): BPE vs WordPiece vs unigram-LM
# frequency-weighted fertility on one corpus — the number that picks a
# tokenizer family before committing a 100 TB encode run.
# ---------------------------------------------------------------------------

def _bpe_train_py(word_freqs, rounds: int, min_count: int = 2) -> list:
    """Pure-Python BPE trainer (frequency argmax, count-desc/pair-asc
    tie-break) behind ``bpe_train_merges`` and the tokenizer-compare
    report. Input: (word, freq) rows; output (a, b, cnt) per merge in
    rank order."""
    from collections import Counter
    vocab = Counter()
    for w, c in word_freqs:
        vocab[tuple(w)] += int(c)
    merges = []
    for _ in range(rounds):
        pc = Counter()
        for syms, c in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += c
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append((a, b, cnt))
        new_vocab = Counter()
        for syms, c in vocab.items():
            new_vocab[tuple(_bpe_apply_py_syms(list(syms), a, b))] += c
        vocab = new_vocab
    return merges


def _bpe_apply_py_syms(syms: list, a: str, b: str) -> list:
    """One greedy left-to-right (a, b) merge pass — the rewrite BPE
    training and encoding share."""
    out = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def _bpe_encode_py(word: str, merges: list) -> list:
    """Encode one word with a rank-ordered (a, b) merge table: one
    ``_bpe_apply_py_syms`` pass per merge."""
    syms = list(word)
    for a, b in merges:
        syms = _bpe_apply_py_syms(syms, a, b)
    return syms


#: compare-report defaults shared by the gate query and its oracle
_TKC_ROUNDS = 6
_TKC_TOP_WORDS = 40


def _fertility_rows(word_freqs, rounds: int, top_words: int) -> list:
    """The compare report computed in memory from (word, freq) rows:
    the three pure-Python trainers, then every family's pieces over
    the shared eval set. One helper for the report and its oracle
    generator; an empty eval set prices at 0 pieces and 0 fertility."""
    eligible = [(w, f) for w, f in word_freqs if len(w) <= UNIGRAM_MAX_WORD]
    top = sorted(eligible, key=lambda r: (-r[1], r[0]))[:top_words]

    bpe_merges = [(a, b) for a, b, _ in
                  _bpe_train_py(word_freqs, rounds=rounds)]
    wp_pieces = {m[1] for m in _wp_train_py(word_freqs, rounds=rounds)}
    wp_maxlen = max((len(p) for p in wp_pieces), default=1)
    scores = unigram_scores(_word_piece_counts(eligible))

    f_sum = sum(f for _, f in top)
    rows = []
    for name, np_fn in (
            ("bpe", lambda w: len(_bpe_encode_py(w, bpe_merges))),
            ("wordpiece", lambda w: len(_wp_greedy(w, wp_pieces,
                                                   wp_maxlen))),
            ("unigram", lambda w: len(viterbi_segment(w, scores)[0]))):
        pieces = sum(f * np_fn(w) for w, f in top)
        rows.append((name, len(top), pieces,
                     (pieces * 1_000_000) // max(f_sum, 1)))
    return rows


def tokenizer_fertility_compare(df, *, text_col: str = "text",
                                rounds: int = _TKC_ROUNDS,
                                top_words: int = _TKC_TOP_WORDS):
    """Train all three tokenizer families on the corpus and price them
    on ONE shared eval set — the ``top_words`` most frequent words of
    length <= UNIGRAM_MAX_WORD (the unigram DP bound, applied to every
    family so the comparison is apples-to-apples). Emits one row per
    tokenizer: (tokenizer, n_words, weighted_pieces, fertility_micro)
    where fertility = frequency-weighted pieces per word — the
    tokens-per-word the CORPUS would pay, i.e. the context-window and
    compute cost of choosing that tokenizer.

    Plan: the corpus is scanned ONCE into the shared (word, freq) table,
    which comes to the driver in one action; the three trainers and the
    eval-set scoring then run there (``_fertility_rows``, the same
    helper the oracle replays) — a handful of jobs in place of a
    multi-job argmax per merge round. The distributed trainers it
    replaced lost to it at every vocabulary measured on a 4-core host
    (random a-z words of 3-12 letters; wall / process-tree CPU, driver
    vs distributed): 10^4 words 2.0 s / 5.3 s vs 13.0 s / 37.9 s, 10^5
    words 15.1 s / 19.4 s vs 25.6 s / 80.0 s, 10^6 words 114.8 s /
    120.5 s vs 159.0 s / 525.0 s (~450 MB of driver heap). The
    encode-a-corpus cost this report predicts is NOT paid here — that
    is what the number is for."""
    word_freqs = corpus_word_freq(df, text_col=text_col).collect()
    return df.sparkSession.createDataFrame(
        _fertility_rows(word_freqs, rounds, top_words),
        "tokenizer string, n_words long, weighted_pieces long, "
        "fertility_micro long")


def tokenizer_compare_oracle_sql(sf_dir: str, *, table: str = "documents",
                                 text_col: str = "text") -> str:
    """Per-SF generated oracle for tokenizer_fertility_compare: word
    frequencies from DuckDB's own tokenizer chain, all three trainers
    replayed by ``_fertility_rows``, fertilities baked into a 3-row
    VALUES table."""
    wf = _duckdb_word_freq(sf_dir, table, text_col)
    rows = [f"('{name}', {n}, {pieces}, {fert})" for name, n, pieces, fert
            in _fertility_rows(wf, _TKC_ROUNDS, _TKC_TOP_WORDS)]
    vals = ",\n".join(rows)
    return f"""SELECT tokenizer::VARCHAR AS tokenizer,
       n_words::BIGINT AS n_words,
       weighted_pieces::BIGINT AS weighted_pieces,
       fertility_micro::BIGINT AS fertility_micro
FROM (VALUES
{vals}
) AS t(tokenizer, n_words, weighted_pieces, fertility_micro)"""
