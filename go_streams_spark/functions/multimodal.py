"""Multimodal columns: image/audio/video as opaque ``binary`` with typed
metadata.

Decode kernels are codec-gated: real pillow image decode
(``codec='pil'``/'auto') and real PyAV/ffmpeg video frame decode
(``codec='av'``/'auto') run wherever those libraries exist; the
deterministic byte-arithmetic stubs (clearly marked) are the default
and the quarantine fallback, keeping every query oracle-checkable in
codec-free environments like this container. The Spark-side plumbing —
schemas, Arrow batch shapes, mapInPandas signatures, partition behavior
— is identical on both paths and fully tested.

Scale notes: media blobs ride in their row (never collected); decode
fans out per partition via ``mapInPandas`` with bounded Arrow batches
(``spark.sql.execution.arrow.maxRecordsPerBatch`` caps peak memory);
feature vectors come back as array<float> columns ready for the
similarity ops in ``functions/similarity.py``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import simhash_pairs

MEDIA_SCHEMA = (
    "doc_id long, media binary, media_type string, byte_len long, content_hash string"
)

FEATURE_SCHEMA = "doc_id long, media_type string, feature array<float>, n_frames int"


def attach_media_metadata(df: DataFrame, *, blob_col: str = "media",
                          id_col: str = "doc_id") -> DataFrame:
    """Typed metadata for an opaque binary column — JVM-side only."""
    return df.select(
        F.col(id_col),
        F.col(blob_col),
        sniff_media_type(F.col(blob_col)).alias("media_type"),
        F.length(F.col(blob_col)).cast("long").alias("byte_len"),
        F.md5(F.col(blob_col)).alias("content_hash"),
    )


def sniff_media_type(blob: Column) -> Column:
    """Magic-byte sniffing on the first bytes of the blob (hex prefix)."""
    head = F.hex(F.substring(blob, 1, 4))
    return (F.when(head.startswith("FFD8"), "image/jpeg")
            .when(head.startswith("89504E47"), "image/png")
            .when(head.startswith("424D"), "image/bmp")
            .when(head.startswith("52494646"), "audio/wav")
            .when(head.startswith("1A45DFA3"), "video/webm")
            .otherwise("application/octet-stream"))


def _decode_stub(blob: bytes, media_type: str, dim: int) -> np.ndarray:
    """STUB decode/feature-extract: deterministic fake embedding derived
    from blob bytes. Replace with a real codec (PIL / torchaudio /
    ffmpeg) in production — the signature is the contract.
    """
    if media_type == "unsupported/raise":
        raise NotImplementedError("real media decoding requires codec libs not in this container")
    seed = np.frombuffer(blob[: dim * 4].ljust(dim * 4, b"\0"), dtype=np.uint8)
    # compute in float64, store as float32: byte values and their
    # squared sums are integers < 2^53, so the norm and the division are
    # bit-deterministic — an oracle can reproduce each float32 feature
    # exactly as (byte_i / norm)::DOUBLE -> ::REAL
    arr = seed[: dim].astype(np.float64)
    denom = float(np.linalg.norm(arr)) or 1.0
    return (arr / denom).astype(np.float32)


def _decode_pil(blob: bytes, media_type: str, dim: int) -> np.ndarray:
    """Real image decode via pillow WHEN AVAILABLE (not baked into this
    container — the import stays inside the function so it resolves on
    the executor that actually has the codec): decode -> grayscale ->
    area-resize to a ~sqrt(dim) square -> flatten -> L2-normalize.
    Same signature and output contract as ``_decode_stub``."""
    import io as _io

    from PIL import Image

    side = max(1, int(dim ** 0.5))
    img = Image.open(_io.BytesIO(blob)).convert("L").resize(
        (side, side), Image.BILINEAR)
    arr = np.asarray(img, dtype=np.float64).reshape(-1)[:dim]
    if arr.size < dim:
        arr = np.pad(arr, (0, dim - arr.size))
    denom = float(np.linalg.norm(arr)) or 1.0
    return (arr / denom).astype(np.float32)


def _pick_decoder(codec: str):
    """codec='auto': pillow if importable, else the deterministic stub;
    'pil'/'stub' force one (forcing 'pil' without the lib raises on the
    executor — the honest failure mode)."""
    if codec == "stub":
        return _decode_stub
    if codec == "bmp":
        return _decode_bmp_builtin
    if codec == "pil":
        # import EAGERLY so a missing pillow raises once per task here:
        # deferring it to _decode_pil would let the per-row corrupt-blob
        # quarantine swallow the ImportError and silently emit stub
        # features when the user explicitly requested real decode
        from PIL import Image  # noqa: F401
        return _decode_pil
    try:
        import PIL  # noqa: F401
        return _decode_pil
    except ImportError:
        # no pillow: BMP blobs still get a REAL decode (the builtin
        # struct parser); everything else degrades to the stub
        return _decode_auto_builtin


def _quarantine_errors():
    """Exception classes the per-row quarantine may swallow: genuinely
    corrupt/undecodable blobs only — NEVER environment errors like
    ImportError (those must fail the task loudly)."""
    try:
        from PIL import UnidentifiedImageError
        return (UnidentifiedImageError, OSError, ValueError)
    except ImportError:
        return (OSError, ValueError)


def extract_features(df: DataFrame, *, blob_col: str = "media", id_col: str = "doc_id",
                     type_col: str = "media_type", dim: int = 16,
                     codec: str = "stub") -> DataFrame:
    """mapInPandas feature extraction over binary media.

    One Arrow batch in, one out; runs fully parallel per partition with
    no shuffle. ``n_frames`` models frame-sampling metadata (stubbed=1).
    ``codec``: 'stub' (default — deterministic, oracle-checkable),
    'pil' (real image decode, needs pillow on executors), or 'auto'.
    Non-image rows under 'pil'/'auto' fall back to the stub (pillow
    cannot decode wav/webm) so one mixed-media pass still succeeds.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = _pick_decoder(codec)
        quarantine = _quarantine_errors()
        for pdf in batches:
            feats = []
            for b, t in zip(pdf[blob_col], pdf[type_col]):
                if decode is not _decode_stub and not str(t).startswith("image/"):
                    feats.append(_decode_stub(b, t, dim).tolist())
                elif decode is not _decode_stub:
                    # quarantine undecodable blobs to the stub instead
                    # of failing the task: one corrupt image is
                    # inevitable at web scale and must not kill the job
                    try:
                        feats.append(decode(b, t, dim).tolist())
                    except quarantine:
                        feats.append(_decode_stub(b, t, dim).tolist())
                else:
                    feats.append(decode(b, t, dim).tolist())
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "media_type": pdf[type_col],
                "feature": feats,
                "n_frames": 1,
            })

    return df.mapInPandas(_extract, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame binary"


def _slice_frames(b: bytes, frame_size: int, every_k: int, max_frames: int):
    """STUB frame sampler: the blob as concatenated fixed-size frames.
    Deterministic and oracle-checkable; the byte-arithmetic analogue of
    a keyframe reader."""
    out = []
    n_full = len(b) // frame_size
    for j, fidx in enumerate(range(0, n_full, every_k)):
        if j >= max_frames:
            break
        out.append((fidx, b[fidx * frame_size:(fidx + 1) * frame_size]))
    return out


def _av_frames(b: bytes, frame_size: int, every_k: int, max_frames: int):
    """Real video decode via PyAV/ffmpeg WHEN AVAILABLE (not baked into
    this container — import stays inside so it resolves on the executor
    that has the codec): demux the container, decode the first video
    stream, keep every ``every_k``-th decoded frame up to ``max_frames``,
    and emit each as a grayscale ~sqrt(frame_size)-square raster padded
    to EXACTLY ``frame_size`` bytes — same (frame_idx, bytes) contract
    as ``_slice_frames`` so FRAME_SCHEMA and downstream feature/dedup
    plumbing are codec-agnostic."""
    import io as _io

    import av

    side = max(1, int(frame_size ** 0.5))
    out = []
    with av.open(_io.BytesIO(b)) as container:
        stream = container.streams.video[0]
        for fidx, frame in enumerate(container.decode(stream)):
            if fidx % every_k:
                continue
            if len(out) >= max_frames:
                break
            raster = (frame.reformat(width=side, height=side, format="gray")
                      .to_ndarray().tobytes())
            out.append((fidx, raster[:frame_size].ljust(frame_size, b"\0")))
    return out


def _pick_frame_sampler(codec: str):
    """codec='auto': PyAV if importable, else byte slicing; 'av'/'stub'
    force one (forcing 'av' without the lib raises eagerly — the honest
    failure mode, same contract as ``_pick_decoder('pil')``)."""
    if codec == "stub":
        return _slice_frames
    if codec == "av":
        import av  # noqa: F401  (eager: missing lib must fail loudly)
        return _av_frames
    try:
        import av  # noqa: F401
        return _av_frames
    except ImportError:
        return _slice_frames


def _video_quarantine_errors():
    """Exception classes the per-document quarantine may swallow:
    genuinely corrupt/undecodable containers only — NEVER environment
    errors like ImportError (those must fail the task loudly)."""
    try:
        import av
        ffmpeg_err = getattr(av, "FFmpegError",
                             getattr(av, "AVError", OSError))
        return (ffmpeg_err, OSError, ValueError, IndexError)
    except ImportError:
        return (OSError, ValueError)


def _looks_like_video(b: bytes) -> bool:
    """Magic-byte video sniff — webm/matroska EBML, mp4/mov/3gp ftyp
    box, RIFF-AVI, FLV, MPEG-TS (two aligned 0x47 sync bytes; a single
    one would false-positive on any text starting with 'G'). Routing
    only: under ``codec='auto'`` it decides stub vs decode; an explicit
    ``codec='av'`` ATTEMPTS DECODE ON EVERY ROW regardless (quarantining
    undecodable ones), so a container this list misses is never
    silently byte-sliced when the user asked for real decode."""
    return (b[:4] == b"\x1aE\xdf\xa3"
            or b[4:8] == b"ftyp"
            or (b[:4] == b"RIFF" and b[8:12] == b"AVI ")
            or b[:4] == b"FLV\x01"
            or (len(b) >= 189 and b[0] == 0x47 and b[188] == 0x47))


def sample_frames(df: DataFrame, *, blob_col: str = "media",
                  id_col: str = "doc_id", frame_size: int = 32,
                  every_k: int = 2, max_frames: int = 4,
                  codec: str = "stub") -> DataFrame:
    """Frame sampling over binary media via mapInPandas.

    ``codec``: 'stub' (default — blob as concatenated fixed-size frames,
    deterministic and oracle-checkable), 'av' (real ffmpeg decode, needs
    PyAV on executors), or 'auto' (PyAV when importable). Under
    'av'/'auto', non-video blobs and corrupt containers quarantine to
    the byte-slicing stub — one broken video at web scale must not kill
    the job — while a missing library fails loudly (eager import).

    Emits every ``every_k``-th frame, at most ``max_frames`` per
    document, one ROW per frame — the explode shape downstream feature
    extraction and dedup expect. No shuffle: rows fan out within their
    partition, with Arrow batch size capping peak decode memory.

    Knobs are validated at build time (the constructor-panic contract
    of the other operators): a bad ``every_k=0`` would otherwise
    surface late and per-task — as a range() ValueError in the stub or
    a modulo ZeroDivisionError in the PyAV path, where the quarantine
    handler would misread it as a corrupt blob.
    """
    if frame_size < 1:
        raise ValueError("frame_size must be positive")
    if every_k < 1:
        raise ValueError("every_k must be positive")
    if max_frames < 0:
        raise ValueError("max_frames must be >= 0")
    if codec not in ("stub", "av", "auto"):
        raise ValueError("codec must be 'stub', 'av', or 'auto'")

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sampler = _pick_frame_sampler(codec)
        quarantine = _video_quarantine_errors()
        for pdf in batches:
            out_id, out_idx, out_frame = [], [], []
            for i, b in zip(pdf[id_col], pdf[blob_col]):
                b = bytes(b)
                # 'auto' routes by sniff; explicit 'av' tries the real
                # decoder on every row (an unrecognized container must
                # not silently byte-slice when real decode was asked
                # for), quarantining genuinely undecodable blobs
                if (sampler is _av_frames
                        and (codec == "av" or _looks_like_video(b))):
                    try:
                        frames = sampler(b, frame_size, every_k, max_frames)
                    except quarantine:
                        frames = _slice_frames(b, frame_size, every_k,
                                               max_frames)
                else:
                    frames = _slice_frames(b, frame_size, every_k, max_frames)
                for fidx, raw in frames:
                    out_id.append(i)
                    out_idx.append(fidx)
                    out_frame.append(raw)
            yield pd.DataFrame(
                {"doc_id": out_id, "frame_idx": out_idx, "frame": out_frame})

    return df.mapInPandas(_sample, schema=FRAME_SCHEMA)


def resize_features(df: DataFrame, *, feature_col: str = "feature",
                    out_dim: int = 8) -> DataFrame:
    """Resize/downsample plumbing: map a feature vector (or decoded
    image raster, flattened) to a fixed output dimension by uniform
    striding — the stub for an interpolating image resize (swap the
    stride slice for PIL/antialias and the Arrow batch shape stays
    identical). Vectorized pandas UDF (Arrow in/out), no Python loop
    per element beyond the row list; no shuffle."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<float>")
    def _resize(col: pd.Series) -> pd.Series:
        def one(v):
            arr = np.asarray(v, dtype=np.float32)
            if arr.size == 0:
                return np.zeros(out_dim, dtype=np.float32).tolist()
            idx = (np.arange(out_dim) * arr.size) // out_dim
            return arr[idx].tolist()
        return col.map(one)

    return df.withColumn(feature_col, _resize(F.col(feature_col)))


def _pcm_schema(id_col: str, id_type: str) -> str:
    return (f"{id_col} {id_type}, win_idx int, n_samples int, "
            "energy long, peak int, zero_crossings int")


def pcm_window_features(df: DataFrame, *, blob_col: str = "media",
                        id_col: str = "doc_id", window: int = 16,
                        hop: int = 8) -> DataFrame:
    """Audio windowed feature extraction over binary PCM via
    mapInPandas — the audio leg of the modality triad (image decode:
    ``extract_features``/pillow; video: ``sample_frames``/PyAV). The
    blob is interpreted as little-endian int16 PCM (the WAV/ffmpeg
    ``s16le`` payload convention — a real pipeline demuxes the
    container first, exactly like ``sample_frames``'s codec path);
    full ``window``-sample frames at stride ``hop`` each emit one row
    of INTEGER-EXACT features:

      energy         sum of squared samples (int64)
      peak           max absolute sample
      zero_crossings sign changes between consecutive samples
                     (sign(0) counts as non-negative)

    Integer features are deliberate: RMS/dB floats would hash-drift
    across engines, while these sums are exact and the caller can
    derive floats downstream. Decode is vectorized numpy
    (frombuffer + stride windows), never per-sample Python. No
    shuffle: rows fan out within their partition; Arrow batch size
    caps peak memory. A trailing odd byte is ignored (s16 framing).
    """
    if window < 1:
        raise ValueError("window must be positive")
    if hop < 1:
        raise ValueError("hop must be positive")

    id_type = dict(df.dtypes).get(id_col)
    if id_type is None:
        raise ValueError(f"pcm_window_features: {id_col!r} not in input")

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, widx, ns, en, pk, zc = [], [], [], [], [], []
            for did, b in zip(pdf[id_col], pdf[blob_col]):
                b = bytes(b)
                samples = np.frombuffer(
                    b[:len(b) - (len(b) % 2)], dtype="<i2").astype(np.int64)
                n = len(samples)
                w = 0
                start = 0
                while start + window <= n:
                    x = samples[start:start + window]
                    neg = x < 0
                    ids.append(did)
                    widx.append(w)
                    ns.append(window)
                    en.append(int(np.dot(x, x)))
                    pk.append(int(np.max(np.abs(x))))
                    zc.append(int(np.sum(neg[1:] != neg[:-1])))
                    w += 1
                    start += hop
            yield pd.DataFrame({
                id_col: pd.Series(ids),
                "win_idx": pd.Series(widx, dtype="int32"),
                "n_samples": pd.Series(ns, dtype="int32"),
                "energy": pd.Series(en, dtype="int64"),
                "peak": pd.Series(pk, dtype="int32"),
                "zero_crossings": pd.Series(zc, dtype="int32"),
            })

    return df.mapInPandas(_extract, schema=_pcm_schema(id_col, id_type))


# ---------------------------------------------------------------------------
# Real BMP codec path (round 7): unlike the codec-gated pillow/PyAV
# kernels above, this is an ACTUAL image decode that needs no external
# library — BMP (BITMAPINFOHEADER, 24bpp, bottom-up, 4-byte row padding)
# is simple enough to parse with struct. The corpus gets a deterministic
# synthetic BMP per doc (pixels derived from md5(text)), the decoder
# parses those real bytes back, and the DuckDB oracle re-derives the
# PIXEL MATH independently — so a decode bug (padding, bottom-up order,
# BGR layout, header offsets) breaks the hash gate. dHash features on
# top give image-level near-dup.

BMP_W, BMP_H = 18, 16  # 18*3 = 54 bytes/row -> 2 pad bytes: padding is exercised


def _bmp_pixel_rows(text: str) -> list[list[int]]:
    """Deterministic base-value pixel grid (top-down, row-major) for
    the synthetic image — "render the document head": the hash base is
    the doc's first 8 lowercase whitespace tokens (so documents sharing
    a head render IDENTICAL images and the dHash near-dup stage has
    non-degenerate pairs at every SF); row r's 18 values are bytes
    0..15 of md5(head:r) plus bytes 0..1 of md5(head:r:x)."""
    import hashlib

    head = " ".join([t for t in text.lower().split(" ") if t][:8])
    rows = []
    for r in range(BMP_H):
        h1 = hashlib.md5(f"{head}:{r}".encode()).digest()
        h2 = hashlib.md5(f"{head}:{r}:x".encode()).digest()
        rows.append(list(h1[:16]) + list(h2[:2]))
    return rows


def synth_bmp(df: DataFrame, *, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Build a REAL 18x16 24bpp BMP file per document (base value v per
    pixel from ``_bmp_pixel_rows``; channels R=v, G=2v%256, B=3v%256 so
    channel-order bugs change luminance). The writer
    honors the actual format: 14-byte file header, 40-byte
    BITMAPINFOHEADER, BGR byte order, rows bottom-up, each row padded
    to a 4-byte boundary. One Arrow map pass, zero shuffle."""
    import struct

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        row_bytes = (BMP_W * 3 + 3) // 4 * 4
        img_size = row_bytes * BMP_H
        header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, BMP_W, BMP_H, 1, 24, 0,
                           img_size, 2835, 2835, 0, 0)
        for pdf in batches:
            blobs = []
            for text in pdf[text_col].fillna(""):
                v = np.array(_bmp_pixel_rows(text), dtype=np.int64)[::-1]
                # channels DIFFER (R=v, G=2v%256, B=3v%256) so a BGR/RGB
                # order bug in any decoder is visible in the luminance
                # the oracle re-derives; rows bottom-up, BGR on disk
                body = np.zeros((BMP_H, row_bytes), dtype=np.uint8)
                body[:, 0:BMP_W * 3:3] = (3 * v) % 256
                body[:, 1:BMP_W * 3:3] = (2 * v) % 256
                body[:, 2:BMP_W * 3:3] = v
                blobs.append(header + info + body.tobytes())
            yield pd.DataFrame({id_col: pdf[id_col], "image": blobs})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(
        _make, schema=f"{id_col} {id_type}, image binary")


def decode_bmp_dhash(df: DataFrame, *, image_col: str = "image",
                     id_col: str = "doc_id") -> DataFrame:
    """REAL BMP decode + perceptual dHash: parse the file header
    (magic, pixel offset), BITMAPINFOHEADER (dims, 24bpp, BI_RGB),
    un-pad and re-flip the bottom-up rows, integer-luminance
    ((299R + 587G + 114B) // 1000), block-average to a 9x8 grid
    (floor boundaries — exact integers), then dHash: bit = left > right
    per adjacent column pair, packed into four 16-bit bands
    (b0..b3, two grid rows each, bit (row%2)*8+col from the MSB) so
    hamming distance is bit_count(xor) per band and pigeonhole banding
    (hamming <= 3 => some band equal) gives the near-dup join key.
    Returns (id, width, height, bpp, b0..b3)."""
    import struct

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_rows: dict[str, list] = {c: [] for c in
                                     (id_col, "width", "height", "bpp",
                                      "b0", "b1", "b2", "b3")}
        for pdf in batches:
            for did, blob in zip(pdf[id_col], pdf[image_col]):
                b = bytes(blob)
                magic, _fsize, _r1, _r2, offset = struct.unpack_from(
                    "<2sIHHI", b, 0)
                if magic != b"BM":
                    raise ValueError(f"doc {did}: not a BMP")
                (hsz, w, h, _planes, bpp, comp, _isz, _xp, _yp, _cu,
                 _ci) = struct.unpack_from("<IiiHHIIiiII", b, 14)
                if hsz != 40 or bpp != 24 or comp != 0 or h <= 0:
                    raise ValueError(f"doc {did}: unsupported BMP variant")
                row_bytes = (w * 3 + 3) // 4 * 4
                rows = np.frombuffer(
                    b, dtype=np.uint8, count=h * row_bytes,
                    offset=offset).reshape(h, row_bytes)
                px = rows[::-1, :w * 3].reshape(  # un-flip bottom-up
                    h, w, 3).astype(np.int64)
                grid = (299 * px[:, :, 2] + 587 * px[:, :, 1]
                        + 114 * px[:, :, 0]) // 1000
                # integer block-average to 9x8 (vectorized reshape when
                # dims divide evenly — the synth shape; generic floor-
                # boundary loop otherwise, e.g. foreign BMPs)
                R, C = 8, 9
                if h % R == 0 and w % C == 0:
                    avg = grid.reshape(R, h // R, C, w // C) \
                        .sum(axis=(1, 3)) // ((h // R) * (w // C))
                else:
                    avg = np.zeros((R, C), dtype=np.int64)
                    for r in range(R):
                        y0, y1 = r * h // R, (r + 1) * h // R
                        for c in range(C):
                            x0, x1 = c * w // C, (c + 1) * w // C
                            avg[r, c] = (grid[y0:y1, x0:x1].sum()
                                         // ((y1 - y0) * (x1 - x0)))
                bits = (avg[:, :-1] > avg[:, 1:]).astype(np.int64)  # (8,8)
                weights = 1 << (15 - (np.arange(2)[:, None] * 8
                                      + np.arange(C - 1)[None, :]))
                bands = [int((bits[2 * k:2 * k + 2] * weights).sum())
                         for k in range(4)]
                out_rows[id_col].append(did)
                out_rows["width"].append(w)
                out_rows["height"].append(h)
                out_rows["bpp"].append(bpp)
                for k in range(4):
                    out_rows[f"b{k}"].append(bands[k])
            yield pd.DataFrame(out_rows)
            out_rows = {c: [] for c in out_rows}

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, image_col).mapInPandas(
        _decode, schema=(f"{id_col} {id_type}, width int, height int, "
                         "bpp int, b0 int, b1 int, b2 int, b3 int"))


def dhash_neardup_pairs(feat: DataFrame, *, id_col: str = "doc_id",
                        max_hamming: int = 3) -> DataFrame:
    """Image near-dup pairs (id_a < id_b, hamming <= max_hamming) over
    the 64-bit dHash: b0..b3 packed into one long (b_k in bits
    16k..16k+15) and handed to ``dedup.simhash_pairs``, i.e. the
    banded pair core (``dedup._band_pairs``) and its exact
    bit_count(xor) verify. At max_hamming = 3 its four 16-bit
    pigeonhole bands are exactly b0..b3."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(f"pigeonhole over 4 bands covers hamming <= 3, "
                         f"got {max_hamming}")
    packed = sum(F.shiftleft(F.col(f"b{k}").cast("long"), 16 * k)
                 for k in range(4))
    return simhash_pairs(feat.select(F.col(id_col), packed.alias("simhash")),
                         id_col=id_col, max_hamming=max_hamming, bits=64)


# ---------------------------------------------------------------------------
# Real WAV (RIFF) codec path (round 7): the audio sibling of the BMP
# gate above. ``pcm_window_features`` deliberately consumes bare s16le
# payloads; real audio arrives in containers, so this pair writes an
# ACTUAL RIFF/WAVE file per doc (canonical fmt chunk + a deliberately
# ODD-SIZED junk chunk to exercise the RIFF even-byte padding rule) and
# parses it back by walking chunks — unknown chunks skipped, PCM
# format/mono/16-bit validated, data payload extracted. The DuckDB
# oracle re-derives the SAMPLES from md5 math alone, so any chunk-walk
# bug (padding, offsets, fmt parsing) breaks the hash gate.

WAV_BLOCKS = 8  # 8 md5 blocks x 8 samples = 64 samples per doc
WAV_RATE = 16_000


def _wav_samples(text: str) -> "np.ndarray":
    """Deterministic int16 sample vector for the synthetic clip: block
    k contributes the 16 bytes of md5(head:w:k) as 8 little-endian
    int16 samples; head = the doc's first 8 lowercase tokens (same
    base as the BMP path)."""
    import hashlib

    head = " ".join([t for t in text.lower().split(" ") if t][:8])
    raw = b"".join(hashlib.md5(f"{head}:w:{k}".encode()).digest()
                   for k in range(WAV_BLOCKS))
    return np.frombuffer(raw, dtype="<i2")


def synth_wav(df: DataFrame, *, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Build a REAL mono 16-bit PCM WAV file per document: RIFF header,
    canonical ``fmt `` chunk (PCM, 1 channel, 16 kHz, 16-bit), an
    odd-sized ``junk`` chunk (3 bytes + the RIFF pad byte — parsers
    that forget even-padding desync here), then the ``data`` chunk.
    One Arrow map pass, zero shuffle."""
    import struct

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, WAV_RATE,
                          WAV_RATE * 2, 2, 16)
        junk = struct.pack("<4sI", b"junk", 3) + b"odd" + b"\x00"  # pad
        for pdf in batches:
            blobs = []
            for text in pdf[text_col].fillna(""):
                payload = _wav_samples(text).tobytes()
                data = struct.pack("<4sI", b"data", len(payload)) + payload
                body = b"WAVE" + fmt + junk + data
                blobs.append(struct.pack("<4sI", b"RIFF", len(body)) + body)
            yield pd.DataFrame({id_col: pdf[id_col], "audio": blobs})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(
        _make, schema=f"{id_col} {id_type}, audio binary")


def decode_wav_pcm(df: DataFrame, *, audio_col: str = "audio",
                   id_col: str = "doc_id") -> DataFrame:
    """REAL RIFF/WAVE parse: validate the RIFF magic + WAVE form type,
    WALK the chunk list (even-byte padding honored, unknown chunks
    skipped), require a PCM/mono/16-bit ``fmt `` chunk, and return the
    ``data`` payload as a bare s16le binary column ready for
    ``pcm_window_features`` — plus the parsed sample_rate and
    n_samples. Malformed input raises loudly."""
    import struct

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rates, ns, pcms = [], [], [], []
            for did, blob in zip(pdf[id_col], pdf[audio_col]):
                b = bytes(blob)
                magic, _size, form = struct.unpack_from("<4sI4s", b, 0)
                if magic != b"RIFF" or form != b"WAVE":
                    raise ValueError(f"doc {did}: not a RIFF/WAVE file")
                pos, fmt_seen, rate, payload = 12, False, None, None
                while pos + 8 <= len(b):
                    cid, csz = struct.unpack_from("<4sI", b, pos)
                    body = b[pos + 8: pos + 8 + csz]
                    if cid == b"fmt ":
                        (audio_fmt, chans, rate, _br, _ba,
                         bits) = struct.unpack_from("<HHIIHH", body, 0)
                        if audio_fmt != 1 or chans != 1 or bits != 16:
                            raise ValueError(
                                f"doc {did}: unsupported WAV "
                                f"(fmt={audio_fmt} ch={chans} bits={bits})")
                        fmt_seen = True
                    elif cid == b"data":
                        payload = body
                    pos += 8 + csz + (csz % 2)  # RIFF pads to even
                if not fmt_seen or payload is None:
                    raise ValueError(f"doc {did}: missing fmt/data chunk")
                ids.append(did)
                rates.append(rate)
                ns.append(len(payload) // 2)
                pcms.append(payload)
            yield pd.DataFrame({id_col: ids, "sample_rate": rates,
                                "n_total": ns, "pcm": pcms})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, audio_col).mapInPandas(
        _decode, schema=(f"{id_col} {id_type}, sample_rate int, "
                         "n_total int, pcm binary"))


# ---------------------------------------------------------------------------
# Real AVI (RIFF LIST) video path (round 7): the video leg of the
# real-container triad (BMP image, RIFF/WAVE audio). A minimal but
# structurally faithful AVI: RIFF('AVI ') -> LIST('hdrl') with the
# avih main header and a LIST('strl') stream header + BITMAPINFOHEADER
# -> LIST('movi') of '00db' uncompressed frame chunks (with a JUNK
# chunk inside movi so padded-chunk skipping is exercised mid-stream).
# The parser walks the NESTED list structure — the part a flat chunk
# walker gets wrong — and frame sampling runs on the real decoded
# payloads.

AVI_W, AVI_H, AVI_FRAMES = 18, 16, 6


def _avi_frame_hex(text: str, f: int) -> str:
    """Deterministic frame payload (hex string) for synthetic video
    frame ``f``: row r contributes md5(head:v:f:r)[:16 bytes] +
    md5(head:v:f:r:x)[:2 bytes] — 18 grayscale bytes per row, 16 rows,
    top-down raw '00db' payload (no BMP padding inside frames)."""
    import hashlib

    head = " ".join([t for t in text.lower().split(" ") if t][:8])
    out = []
    for r in range(AVI_H):
        h1 = hashlib.md5(f"{head}:v:{f}:{r}".encode()).hexdigest()
        h2 = hashlib.md5(f"{head}:v:{f}:{r}:x".encode()).hexdigest()
        out.append(h1 + h2[:4])
    return "".join(out)


def synth_avi(df: DataFrame, *, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Build a REAL minimal AVI per document: RIFF form 'AVI ', nested
    LIST('hdrl') (avih with frame count/dims + LIST('strl') with
    'vids'/raw strh and a BITMAPINFOHEADER strf), then LIST('movi')
    holding AVI_FRAMES '00db' raw frame chunks with an odd-sized JUNK
    chunk between frames 0 and 1 (padding rule under test)."""
    import binascii
    import struct

    def _chunk(cid: bytes, body: bytes) -> bytes:
        return (struct.pack("<4sI", cid, len(body)) + body
                + (b"\x00" if len(body) % 2 else b""))

    def _list(form: bytes, body: bytes) -> bytes:
        return _chunk(b"LIST", form + body)

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        avih = struct.pack("<IIIIIIIIIIIIII", 33366, AVI_W * AVI_H * 25,
                           0, 0, AVI_FRAMES, 0, 1, AVI_W * AVI_H,
                           AVI_W, AVI_H, 0, 0, 0, 0)
        strh = struct.pack("<4s4sIHHIIIIIIIIhhhh", b"vids", b"DIB ",
                           0, 0, 0, 0, 1, 25, 0, AVI_FRAMES,
                           AVI_W * AVI_H, 0, 0, 0, 0, AVI_W, AVI_H)
        strf = struct.pack("<IiiHHIIiiII", 40, AVI_W, AVI_H, 1, 8, 0,
                           AVI_W * AVI_H, 0, 0, 0, 0)
        hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                     + _list(b"strl", _chunk(b"strh", strh)
                             + _chunk(b"strf", strf)))
        for pdf in batches:
            blobs = []
            for text in pdf[text_col].fillna(""):
                movi_body = b""
                for f in range(AVI_FRAMES):
                    movi_body += _chunk(
                        b"00db",
                        binascii.unhexlify(_avi_frame_hex(text, f)))
                    if f == 0:
                        movi_body += _chunk(b"JUNK", b"odd")  # 3 + pad
                body = b"AVI " + hdrl + _list(b"movi", movi_body)
                blobs.append(struct.pack("<4sI", b"RIFF", len(body)) + body)
            yield pd.DataFrame({id_col: pdf[id_col], "video": blobs})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(
        _make, schema=f"{id_col} {id_type}, video binary")


def decode_avi_frames(df: DataFrame, *, video_col: str = "video",
                      id_col: str = "doc_id",
                      every_k: int = 2) -> DataFrame:
    """REAL AVI parse + frame sampling: validate RIFF/'AVI ', walk the
    nested LISTs (hdrl -> avih for declared frame count and dims,
    movi -> '00db' frame chunks, padded/unknown chunks skipped), check
    the declared frame count against the frames actually present, and
    emit every ``every_k``-th frame's integer mean luminance plus the
    md5 of its hex payload (the cross-engine frame fingerprint).
    Returns (id, frame_idx, width, height, mean_lum, frame_md5)."""
    import hashlib
    import struct

    if every_k < 1:
        raise ValueError(f"every_k must be >= 1, got {every_k}")

    def _walk(b: bytes, pos: int, end: int):
        while pos + 8 <= end:
            cid, csz = struct.unpack_from("<4sI", b, pos)
            yield cid, pos + 8, csz
            pos += 8 + csz + (csz % 2)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (id_col, "frame_idx", "width", "height", "mean_lum",
                "frame_md5")
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}
            for did, blob in zip(pdf[id_col], pdf[video_col]):
                b = bytes(blob)
                magic, _sz, form = struct.unpack_from("<4sI4s", b, 0)
                if magic != b"RIFF" or form != b"AVI ":
                    raise ValueError(f"doc {did}: not an AVI")
                n_decl = w = h = None
                frames: list[bytes] = []
                for cid, off, csz in _walk(b, 12, len(b)):
                    if cid != b"LIST":
                        continue
                    form2 = b[off:off + 4]
                    if form2 == b"hdrl":
                        for c2, o2, s2 in _walk(b, off + 4, off + csz):
                            if c2 == b"avih":
                                vals = struct.unpack_from("<14I", b, o2)
                                n_decl, w, h = vals[4], vals[8], vals[9]
                    elif form2 == b"movi":
                        for c2, o2, s2 in _walk(b, off + 4, off + csz):
                            if c2 == b"00db":
                                frames.append(b[o2:o2 + s2])
                if n_decl is None:
                    raise ValueError(f"doc {did}: missing avih header")
                if len(frames) != n_decl:
                    raise ValueError(
                        f"doc {did}: avih declares {n_decl} frames, "
                        f"movi holds {len(frames)}")
                for fi in range(0, len(frames), every_k):
                    fr = frames[fi]
                    if len(fr) != w * h:
                        raise ValueError(
                            f"doc {did} frame {fi}: {len(fr)} bytes "
                            f"!= {w}x{h}")
                    out[id_col].append(did)
                    out["frame_idx"].append(fi)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_lum"].append(int(sum(fr) // len(fr)))
                    out["frame_md5"].append(
                        hashlib.md5(fr.hex().encode()).hexdigest())
            yield pd.DataFrame(out)
            out = {c: [] for c in cols}

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, video_col).mapInPandas(
        _decode, schema=(f"{id_col} {id_type}, frame_idx int, width int, "
                         "height int, mean_lum int, frame_md5 string"))


def _bmp_luminance_grid(b: bytes) -> "np.ndarray":
    """Parse a 24bpp bottom-up BI_RGB BMP into its integer luminance
    grid ((299R + 587G + 114B) // 1000, top-down row-major). Shared by
    the dHash path and the builtin feature codec; raises on anything
    that is not the supported variant."""
    import struct

    magic, _fsize, _r1, _r2, offset = struct.unpack_from("<2sIHHI", b, 0)
    if magic != b"BM":
        raise ValueError("not a BMP")
    (hsz, w, h, _planes, bpp, comp, _isz, _xp, _yp, _cu,
     _ci) = struct.unpack_from("<IiiHHIIiiII", b, 14)
    if hsz != 40 or bpp != 24 or comp != 0 or h <= 0:
        raise ValueError("unsupported BMP variant")
    row_bytes = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(b, dtype=np.uint8, count=h * row_bytes,
                         offset=offset).reshape(h, row_bytes)
    px = rows[::-1, :w * 3].reshape(h, w, 3).astype(np.int64)
    return (299 * px[:, :, 2] + 587 * px[:, :, 1]
            + 114 * px[:, :, 0]) // 1000


def _decode_bmp_builtin(blob: bytes, media_type: str, dim: int) -> np.ndarray:
    """REAL image decode with no external library — the BMP sibling of
    ``_decode_pil``, same signature/contract: struct-parse the actual
    file bytes (header, padding, bottom-up, BGR), integer-luminance,
    floor-boundary block means to a ~sqrt(dim) square (INTEGER
    floor-div means + an exact int64 sum-of-squares norm, so the
    float32 features are bit-reproducible in any engine — the
    pairwise-summing np.linalg.norm would not be), flatten, pad,
    L2-normalize."""
    import math

    grid = _bmp_luminance_grid(bytes(blob))
    h, w = grid.shape
    side = max(1, int(dim ** 0.5))
    q = np.zeros(side * side, dtype=np.int64)
    for r in range(side):
        y0, y1 = r * h // side, (r + 1) * h // side
        for c in range(side):
            x0, x1 = c * w // side, (c + 1) * w // side
            n = max((y1 - y0) * (x1 - x0), 1)
            q[r * side + c] = int(grid[y0:y1, x0:x1].sum()) // n
    arr = q.astype(np.float64)[:dim]
    if arr.size < dim:
        arr = np.pad(arr, (0, dim - arr.size))
    ss = int((q * q).sum())  # exact integer, order-independent
    denom = math.sqrt(ss) or 1.0
    return (arr / denom).astype(np.float32)


def _decode_auto_builtin(blob: bytes, media_type: str, dim: int) -> np.ndarray:
    """'auto' fallback when pillow is absent: REAL decode for BMP blobs
    (magic-checked), deterministic stub for everything else."""
    b = bytes(blob)
    if b[:2] == b"BM":
        return _decode_bmp_builtin(b, media_type, dim)
    return _decode_stub(b, media_type, dim)


# ---------------------------------------------------------------------------
# Spectral features: exact integer DFT band energies (round 7)
# ---------------------------------------------------------------------------

DFT_N = WAV_BLOCKS * 8       # one full synthetic clip
DFT_BINS = (1, 2, 3, 5)      # low/mid band probes (bin k = k * rate/N Hz)


def dft_tables(n: int = DFT_N, bins=DFT_BINS):
    """Quantized DFT basis: cos/sin at 6-dp micro-units, rounded
    half-up. The SAME literal table feeds the Spark kernel and the SQL
    oracle, so engine exactness never depends on two libms agreeing
    about cos — the transform is DEFINED by these integers."""
    import math
    cos_t, sin_t = {}, {}
    for k in bins:
        cos_t[k] = [int(math.floor(math.cos(2 * math.pi * k * i / n)
                                   * 1e6 + 0.5)) for i in range(n)]
        sin_t[k] = [int(math.floor(math.sin(2 * math.pi * k * i / n)
                                   * 1e6 + 0.5)) for i in range(n)]
    return cos_t, sin_t


def pcm_dft_band_energy(df: DataFrame, *, blob_col: str = "pcm",
                        id_col: str = "doc_id", n: int = DFT_N,
                        bins=DFT_BINS) -> DataFrame:
    """Goertzel-class spectral probe over binary int16 PCM: for each
    requested DFT bin, the exact integer correlation of the first ``n``
    samples against the quantized cos/sin basis (``dft_tables``) —
    re/im in micro-unit-amplitude, magnitudes truncated back to
    amplitude units, band energy |re|^2 + |im|^2. The audio-fingerprint
    primitive (band energies are what Shazam-style hashes and VAD
    gates are built from), engine-exact by construction: int64 dot
    products, truncating scale-down, integer squares.

    One Arrow map pass, zero shuffle; the (bins x n) basis matrix is a
    per-executor constant. int64 bounds: |re| <= 32768 * n * 1e6
    (2.1e15 at n=64), magnitude <= 2.1e9, energy sum <= 8.8e18 < 2^63.
    """
    if n < 1:
        raise ValueError("n must be positive")
    if not bins:
        raise ValueError("bins must name at least one DFT bin")
    cos_t, sin_t = dft_tables(n, bins)
    C = np.array([cos_t[k] for k in bins], dtype=np.int64)
    S = np.array([sin_t[k] for k in bins], dtype=np.int64)
    bins_arr = np.array(bins, dtype=np.int32)
    id_type = dict(df.dtypes).get(id_col)
    if id_type is None:
        raise ValueError(f"pcm_dft_band_energy: {id_col!r} not in input")

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bn, rm, im_, en = [], [], [], [], []
            for did, b in zip(pdf[id_col], pdf[blob_col]):
                b = bytes(b)
                x = np.frombuffer(
                    b[:len(b) - (len(b) % 2)], dtype="<i2").astype(np.int64)
                if len(x) < n:            # zero-pad a short clip
                    x = np.concatenate([x, np.zeros(n - len(x), np.int64)])
                x = x[:n]
                re = C @ x                # exact: numpy int64 loop, no BLAS
                im = S @ x
                req = np.abs(re) // 1_000_000
                imq = np.abs(im) // 1_000_000
                ids.extend([did] * len(bins))
                bn.extend(bins_arr.tolist())
                rm.extend(req.tolist())
                im_.extend(imq.tolist())
                en.extend((req * req + imq * imq).tolist())
            yield pd.DataFrame({
                id_col: pd.Series(ids),
                "bin": pd.Series(bn, dtype="int32"),
                "re_mag": pd.Series(rm, dtype="int64"),
                "im_mag": pd.Series(im_, dtype="int64"),
                "band_energy": pd.Series(en, dtype="int64"),
            })

    return df.mapInPandas(_extract, schema=(
        f"{id_col} {id_type}, bin int, re_mag long, im_mag long, "
        "band_energy long"))


def dft_basis_values_sql(n: int = DFT_N, bins=DFT_BINS) -> str:
    """The quantized basis as a DuckDB VALUES relation ``(bin, cs, sn)``
    with per-bin micro-unit lists — the oracle indexes ``cs[i + 1]``."""
    cos_t, sin_t = dft_tables(n, bins)
    rows = ", ".join(
        f"({k}, {cos_t[k]}, {sin_t[k]})" for k in bins)
    return f"(VALUES {rows})"


# ---------------------------------------------------------------------------
# Real PNG codec path (round 7): the third in-container REAL image
# format, and the strongest — unlike BMP's raw pixels, PNG runs an
# actual compression pipeline: per-row filters (all five: None/Sub/Up/
# Average/Paeth, the synth cycles them so the decoder must invert every
# one), a real DEFLATE stream (CPython zlib), CRC-32 verified chunk
# framing, and a deliberately split IDAT (decoders must concatenate).
# ---------------------------------------------------------------------------

PNG_W, PNG_H = BMP_W, BMP_H  # same md5-derived grid, gray = base value


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def synth_png(df: DataFrame, *, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Build a REAL 8-bit grayscale PNG per document: signature, IHDR,
    the scanlines filtered with type r % 5 (every filter in the spec is
    exercised), one zlib DEFLATE stream split across TWO IDAT chunks,
    IEND — every chunk carrying its real CRC-32. One Arrow map pass,
    zero shuffle."""
    import struct
    import zlib

    def _chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    def _make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sig = b"\x89PNG\r\n\x1a\n"
        ihdr = struct.pack(">IIBBBBB", PNG_W, PNG_H, 8, 0, 0, 0, 0)
        for pdf in batches:
            blobs = []
            for text in pdf[text_col].fillna(""):
                v = np.array(_bmp_pixel_rows(text), dtype=np.int64)
                raw = bytearray()
                prev = np.zeros(PNG_W, dtype=np.int64)
                for r in range(PNG_H):
                    row = v[r]
                    left = np.concatenate(([0], row[:-1]))
                    ul = np.concatenate(([0], prev[:-1]))
                    ft = r % 5
                    if ft == 0:
                        flt = row
                    elif ft == 1:
                        flt = (row - left) % 256
                    elif ft == 2:
                        flt = (row - prev) % 256
                    elif ft == 3:
                        flt = (row - (left + prev) // 2) % 256
                    else:
                        pr = np.array([_paeth(int(left[c]), int(prev[c]),
                                              int(ul[c]))
                                       for c in range(PNG_W)], dtype=np.int64)
                        flt = (row - pr) % 256
                    raw.append(ft)
                    raw.extend(flt.astype(np.uint8).tobytes())
                    prev = row
                comp = zlib.compress(bytes(raw), 6)
                mid = len(comp) // 2  # multi-IDAT concat is under test
                blobs.append(sig + _chunk(b"IHDR", ihdr)
                             + _chunk(b"IDAT", comp[:mid])
                             + _chunk(b"IDAT", comp[mid:])
                             + _chunk(b"IEND", b""))
            yield pd.DataFrame({id_col: pdf[id_col], "image": blobs})

    id_type = dict(df.dtypes)[id_col]
    # r9 (guide §2.5 input-width trap): the PNG codec work (deflate +
    # per-row filters, ~0.6 ms/doc with the decode) is decoupled from
    # the slim (id, text) scan's byte size — a few-MB dimension scan
    # arrives in 1-2 splits and the whole synth+decode chain runs on
    # 1-2 cores. cpu_widen spreads it cluster-wide and self-disables on
    # frames whose size estimate already spans the cluster. Measured
    # A/B at sf0.1: png 2.42 -> 1.69 s; the SAME widen on the cheaper
    # BMP/WAV/AVI synths (no deflate, ~0.1 ms/doc) REGRESSED them
    # 0.85-1.62 -> 1.98-2.31 s — per-task Python/Arrow startup exceeds
    # the spread work — so those keep the narrow scan (same rejection
    # class as the bigram cpu_widen, OPTIMIZATION_r09.md §3).
    from ..operators.topology import cpu_widen
    return cpu_widen(df.select(id_col, text_col)).mapInPandas(
        _make, schema=f"{id_col} {id_type}, image binary")


def decode_png_gray(df: DataFrame, *, image_col: str = "image",
                    id_col: str = "doc_id") -> DataFrame:
    """REAL PNG decode, no external library: verify the signature, walk
    chunks (length/type/CRC-32 — a corrupt CRC raises), parse IHDR
    (8-bit grayscale only — loud error otherwise), concatenate the
    IDATs, zlib-inflate, then invert all five scanline filters
    (Sub/Up/Average/Paeth reconstruction per RFC 2083). Emits header
    facts plus exact integer luminance features: total/min/max and the
    four floor-split quadrant sums — the stats a training-data
    multimodal hygiene pass computes per image."""
    import struct
    import zlib

    cols = (id_col, "width", "height", "bit_depth", "n_idat", "lum_sum",
            "lum_min", "lum_max", "q00", "q01", "q10", "q11")

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # fresh dict per Arrow batch: a function-scope accumulator
            # with the yield inside the loop re-emits earlier batches'
            # rows on partitions larger than one Arrow batch
            out: dict[str, list] = {c: [] for c in cols}
            for did, blob in zip(pdf[id_col], pdf[image_col]):
                b = bytes(blob)
                if b[:8] != b"\x89PNG\r\n\x1a\n":
                    raise ValueError(f"doc {did}: not a PNG")
                pos, idats, ihdr, n_idat = 8, [], None, 0
                while pos < len(b):
                    (ln,) = struct.unpack_from(">I", b, pos)
                    typ = b[pos + 4:pos + 8]
                    data = b[pos + 8:pos + 8 + ln]
                    (crc,) = struct.unpack_from(">I", b, pos + 8 + ln)
                    if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
                        raise ValueError(f"doc {did}: CRC mismatch in "
                                         f"{typ!r}")
                    if typ == b"IHDR":
                        ihdr = struct.unpack(">IIBBBBB", data)
                    elif typ == b"IDAT":
                        idats.append(data)
                        n_idat += 1
                    elif typ == b"IEND":
                        break
                    pos += 12 + ln
                if ihdr is None:
                    raise ValueError(f"doc {did}: missing IHDR")
                w, h, depth, ctype, comp_m, filt_m, interlace = ihdr
                if depth != 8 or ctype != 0 or comp_m != 0 or filt_m != 0 \
                        or interlace != 0:
                    raise ValueError(f"doc {did}: unsupported PNG variant")
                raw = zlib.decompress(b"".join(idats))
                if len(raw) != h * (w + 1):
                    raise ValueError(f"doc {did}: scanline size mismatch")
                px = np.zeros((h, w), dtype=np.int64)
                prev = np.zeros(w, dtype=np.int64)
                for r in range(h):
                    ft = raw[r * (w + 1)]
                    f = np.frombuffer(raw, np.uint8, count=w,
                                      offset=r * (w + 1) + 1).astype(np.int64)
                    if ft == 0:
                        row = f
                    elif ft == 2:
                        row = (f + prev) % 256
                    elif ft in (1, 3, 4):
                        row = np.zeros(w, dtype=np.int64)
                        for c in range(w):
                            left = row[c - 1] if c else 0
                            if ft == 1:
                                pred = left
                            elif ft == 3:
                                pred = (left + prev[c]) // 2
                            else:
                                pred = _paeth(int(left), int(prev[c]),
                                              int(prev[c - 1] if c else 0))
                            row[c] = (f[c] + pred) % 256
                    else:
                        raise ValueError(f"doc {did}: bad filter {ft}")
                    px[r] = row
                    prev = row
                hr, wc = h // 2, (w + 1) // 2
                out[id_col].append(did)
                out["width"].append(w)
                out["height"].append(h)
                out["bit_depth"].append(depth)
                out["n_idat"].append(n_idat)
                out["lum_sum"].append(int(px.sum()))
                out["lum_min"].append(int(px.min()))
                out["lum_max"].append(int(px.max()))
                out["q00"].append(int(px[:hr, :wc].sum()))
                out["q01"].append(int(px[:hr, wc:].sum()))
                out["q10"].append(int(px[hr:, :wc].sum()))
                out["q11"].append(int(px[hr:, wc:].sum()))
            yield pd.DataFrame(out)

    id_type = dict(df.dtypes)[id_col]
    return df.mapInPandas(_decode, schema=(
        f"{id_col} {id_type}, width int, height int, bit_depth int, "
        "n_idat int, lum_sum long, lum_min int, lum_max int, "
        "q00 long, q01 long, q10 long, q11 long"))
