"""Continuous corpus near-deduplication under Structured Streaming.

The batch dedup pipeline (functions/dedup.py: shingle -> MinHash ->
LSH bands -> exact-Jaccard verify) answers "which docs in THIS corpus
are near-dups". A training-data pipeline also needs the incremental
form: documents arrive continuously and each new doc must be tested
against everything kept so far. The scalable production shape is a
**band-key state table** maintained across micro-batches:

  per micro-batch (foreachBatch):
    1. compute LSH band keys for the incoming docs (batch-local, the
       same relational minhash pipeline as the batch path);
    2. WITHIN-batch near-dups: full candidate + exact-Jaccard verify +
       connected components, keep the min doc id per component (same
       guarantees as the batch pipeline);
    3. CROSS-batch near-dups: any surviving doc sharing a band key with
       the state table collides with a previously KEPT doc and is
       dropped. This is candidate-level (the state stores band keys,
       not text, so no exact verify against history) — precision is
       bounded by the LSH band false-positive rate, the standard trade
       when the historical corpus text is not retained;
    4. kept docs land in ``out_dir/batch_id=N`` (overwrite per batch =
       idempotent under micro-batch replay) and their band keys append
       to the state table (duplicate state rows from a replay are
       harmless: the state is only probed with semi-joins).

State grows as O(kept docs x num_bands) narrow rows — at 100 TB this
is the same "materialize signatures once" decision as the batch
pipeline, stored as parquet and pruned by the band column. Every probe
is a key-width semi-join; nothing is ever collected to the driver.
"""

from __future__ import annotations

import os
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import dedup as D


def batch_band_keys(df: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id", ngram: int = 3,
                    num_hashes: int = 12, rows_per_band: int = 3) -> DataFrame:
    """(id, band, band_key) rows for a batch of documents."""
    sh = D.shingle_rows(df, text_col=text_col, id_col=id_col, ngram=ngram)
    wide = D.minhash_wide(sh, id_col=id_col, num_hashes=num_hashes)
    return D.band_rows(wide, id_col=id_col, rows_per_band=rows_per_band)


def _filter_step(batch_df: DataFrame, state: DataFrame | None, id_col: str,
                 pairs: DataFrame, band_keys: Callable
                 ) -> tuple[DataFrame, DataFrame]:
    """The one incremental step: returns (kept rows, kept band keys).

    Within the batch, the verified near-dup ``pairs`` go through
    connected components and every component keeps its min id; then
    ``band_keys(kept)`` rows that collide with the band-key ``state`` of
    previously kept rows drop their rows."""
    comps = D.connected_components(pairs)
    losers = (comps.where(F.col("id") != F.col("component"))
              .select(F.col("id").alias(id_col)))
    kept = batch_df.join(losers, id_col, "left_anti")
    bands = band_keys(kept)
    if state is not None:
        colliding = (bands.join(state.hint("shuffle_hash"),
                                ["band", "band_key"], "left_semi")
                     .select(id_col).distinct())
        kept = kept.join(colliding, id_col, "left_anti")
        bands = bands.join(colliding, id_col, "left_anti")
    return kept, bands.select("band", "band_key")


def _sink(spark, state_dir: str, out_dir: str, step: Callable):
    """foreachBatch body running ``step(batch_df, state)`` with parquet
    band-key state."""

    def process(batch_df: DataFrame, batch_id: int):
        state = None
        if os.path.isdir(state_dir) and any(
                f.endswith(".parquet") for _, _, fs in os.walk(state_dir)
                for f in fs):
            state = spark.read.parquet(state_dir)
        kept, new_bands = step(batch_df, state)
        # per-batch output dir overwrite => idempotent under replay
        (kept.write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"batch_id={batch_id}")))
        new_bands.write.mode("append").parquet(state_dir)

    return process


def near_dup_filter_batch(batch_df: DataFrame, state: DataFrame | None, *,
                          text_col: str = "text", id_col: str = "doc_id",
                          ngram: int = 3, threshold: float = 0.5,
                          num_hashes: int = 12, rows_per_band: int = 3,
                          ) -> tuple[DataFrame, DataFrame]:
    """One incremental step: returns (kept_docs, kept_band_keys).

    Pure DataFrame logic (testable without a streaming query): drops
    within-batch near-dups exactly (verify + components, keep min id),
    then drops docs colliding with the band-key ``state`` of previously
    kept docs.
    """
    pairs = D.ngram_jaccard_pairs(batch_df, text_col=text_col, id_col=id_col,
                                  ngram=ngram, threshold=threshold,
                                  num_hashes=num_hashes,
                                  rows_per_band=rows_per_band)
    return _filter_step(batch_df, state, id_col, pairs, partial(
        batch_band_keys, text_col=text_col, id_col=id_col, ngram=ngram,
        num_hashes=num_hashes, rows_per_band=rows_per_band))


def incremental_near_dup_sink(spark, *, state_dir: str, out_dir: str,
                              text_col: str = "text", id_col: str = "doc_id",
                              ngram: int = 3, threshold: float = 0.5,
                              num_hashes: int = 12, rows_per_band: int = 3):
    """foreachBatch body running the incremental step with parquet
    state. Use: ``stream.writeStream.foreachBatch(incremental_near_dup_
    sink(spark, ...)).option("checkpointLocation", ...)``."""
    return _sink(spark, state_dir, out_dir, partial(
        near_dup_filter_batch, text_col=text_col, id_col=id_col,
        ngram=ngram, threshold=threshold, num_hashes=num_hashes,
        rows_per_band=rows_per_band))


def embedding_band_keys(df: DataFrame, *, vec_col: str = "embedding",
                        id_col: str = "vec_id", nbits: int = 16,
                        max_band_hamming: int = 4) -> DataFrame:
    """(id, band, band_key) sign-LSH band rows for a batch of vectors."""
    from ..functions import similarity as S
    return (S.sign_band_rows(df, id_col=id_col, vec_col=vec_col,
                             nbits=nbits,
                             max_band_hamming=max_band_hamming)
            .select(id_col, "band", "band_key"))


def embedding_near_dup_filter_batch(batch_df: DataFrame,
                                    state: DataFrame | None, *,
                                    vec_col: str = "embedding",
                                    id_col: str = "vec_id",
                                    threshold: float = 0.9,
                                    nbits: int = 16,
                                    max_band_hamming: int = 4,
                                    ) -> tuple[DataFrame, DataFrame]:
    """Incremental embedding near-dedup step: returns (kept_rows,
    kept_band_keys) — the vector twin of ``near_dup_filter_batch``.

    Within-batch: banded sign-LSH candidates + exact cosine verify
    (``cosine_near_dup_lsh``) + connected components, keep the min id
    per duplicate cluster. Cross-batch: drop rows whose sign-LSH band
    keys collide with the state table of previously kept vectors
    (candidate-level, same documented precision bound as the text
    variant — history keeps band keys, not vectors).
    """
    from ..functions import similarity as S
    pairs = S.cosine_near_dup_lsh(batch_df, id_col=id_col, vec_col=vec_col,
                                  threshold=threshold, nbits=nbits,
                                  max_band_hamming=max_band_hamming)
    return _filter_step(batch_df, state, id_col, pairs, partial(
        embedding_band_keys, vec_col=vec_col, id_col=id_col, nbits=nbits,
        max_band_hamming=max_band_hamming))


def incremental_embedding_dedup_sink(spark, *, state_dir: str, out_dir: str,
                                     vec_col: str = "embedding",
                                     id_col: str = "vec_id",
                                     threshold: float = 0.9,
                                     nbits: int = 16,
                                     max_band_hamming: int = 4):
    """foreachBatch body for continuous embedding near-dedup with
    parquet band-key state — same replay-idempotence contract as
    ``incremental_near_dup_sink``."""
    return _sink(spark, state_dir, out_dir, partial(
        embedding_near_dup_filter_batch, vec_col=vec_col, id_col=id_col,
        threshold=threshold, nbits=nbits,
        max_band_hamming=max_band_hamming))
