"""Multimodal curation pipeline: binary media -> metadata -> feature
extraction -> near-duplicate detection over the extracted features,
then the round-7 REAL-container leg: actual BMP / RIFF-WAVE / AVI
files are written per doc, parsed back with the library-free codec
walkers (header/padding/nesting all real), and image near-dup runs on
perceptual dHash of the decoded pixels. ``extract_features`` has one
decode rule, read from the blob: an ``image/*`` blob starting with
``BM`` gets the library-free BMP parser, a BMP that does not parse
falls back to the deterministic stub, and every other blob (the text
documents here) gets the stub. Every Spark-side seam — binary columns,
Arrow batches, feature arrays into LSH — is the real production shape.

Run: python examples/multimodal_pipeline.py [sf_dir]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from go_streams_spark import get_spark
from go_streams_spark.functions import multimodal as M, similarity as S


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("example-multimodal")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    media = docs.select("doc_id", F.col("text").cast("binary").alias("media"))
    tagged = M.attach_media_metadata(media)
    feats = M.extract_features(tagged, dim=16)

    emb = feats.select(F.col("doc_id").alias("vec_id"),
                       F.col("feature").alias("embedding"))
    near = S.sign_lsh_knn(emb, k=1, nbits=6)
    dups = near.where(F.col("sim") >= 0.999)

    print(f"media rows={tagged.count()}  features={feats.count()}  "
          f"near-identical feature pairs={dups.count()}")
    tagged.groupBy("media_type").count().show()

    # real-container leg: write + parse actual BMP/WAV/AVI bytes
    imgs = M.decode_bmp_dhash(M.synth_bmp(docs))
    img_pairs = M.dhash_neardup_pairs(imgs, max_hamming=3)
    pcm = M.decode_wav_pcm(M.synth_wav(docs))
    audio = M.pcm_window_features(pcm, blob_col="pcm", window=16, hop=8)
    frames = M.decode_avi_frames(M.synth_avi(docs), every_k=2)
    assert imgs.count() == docs.count()
    assert audio.count() == docs.count() * 7   # 64 samples, w16 h8
    assert frames.count() == docs.count() * 3  # 6 frames, every 2nd
    print(f"decoded images={imgs.count()}  dhash near-dup pairs="
          f"{img_pairs.count()}  audio windows={audio.count()}  "
          f"video frames sampled={frames.count()}")


if __name__ == "__main__":
    main()
