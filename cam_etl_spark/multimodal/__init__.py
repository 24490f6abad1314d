"""Multimodal column plumbing.

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata; decode / feature-extract steps run as Arrow-batched Pandas UDFs
over ``mapInPandas``. Seven formats decode FOR REAL with no codec
library (multimodal/codecs.py + jpeg.py): 24-bit BMP, PCM RIFF/WAVE,
uncompressed DIB AVI, truecolor PNG (stdlib zlib inflate + scanline
unfiltering), GIF87a (native LZW), baseline multi-strip TIFF, and
baseline JPEG incl. 4:2:0 color (native Huffman entropy coding +
IDCT) — pure ``struct``/stdlib/numpy, the same technique as the
shapefile reader. MP3, H.264, and progressive JPEG genuinely need external
libraries absent from this environment and stay behind a clearly-marked
NotImplementedError; `fake_decode_meta`/`fake_resize` remain as
deterministic surrogates exercising the identical mapInPandas contract
for those.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

DECODED_SCHEMA = "media_id long, media_type string, n_bytes long, checksum string, width int, height int"


def micro6(x: float) -> int:
    """``x`` in exact integer micro-units, rounded half away from zero:
    DuckDB's ``round(x*1e6)::BIGINT``. Integer sums of these are
    boundary-stable across engines, where float sums of 1e-6 multiples
    sit on 1e-4 rounding boundaries and flip."""
    return int(math.copysign(np.floor(abs(x) * 1e6 + 0.5), x))


def real_decode(payload: bytes, media_type: str):
    """Real decoding entry point. BMP, PCM WAV, AVI, baseline TIFF,
    truecolor PNG, GIF87a, and baseline JPEG decode natively
    (cam_etl_spark/multimodal/codecs.py + jpeg.py — no codec library);
    formats genuinely needing external libraries absent from this
    container (MP3, H.264, progressive JPEG) raise
    NotImplementedError."""
    from cam_etl_spark.multimodal.codecs import decode_payload

    return decode_payload(payload)


def fake_decode_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in decoder: derives (width, height) pseudo-
    dimensions from the payload bytes. Exercises the exact mapInPandas
    plumbing a real decoder would use (Arrow batches in, Arrow batches
    out, no driver collection)."""
    import hashlib

    for pdf in batches:
        n_bytes = pdf["payload"].map(lambda b: len(b) if b is not None else 0)
        checksum = pdf["payload"].map(
            lambda b: hashlib.md5(b).hexdigest() if b is not None else None
        )
        seed = pdf["payload"].map(
            lambda b: int.from_bytes(hashlib.md5(b or b"").digest()[:4], "big")
        )
        yield pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": n_bytes,
                "checksum": checksum,
                "width": (seed % 1920 + 1).astype("int32"),
                "height": (seed // 1920 % 1080 + 1).astype("int32"),
            }
        )


def decode_media(df: DataFrame) -> DataFrame:
    """Partition-parallel media decode over Arrow batches."""
    return df.mapInPandas(fake_decode_meta, schema=DECODED_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text payloads as opaque binary media rows —
    lets the testdata exercise the multimodal path end-to-end."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("image").alias("media_type"),
        F.create_map(F.lit("source"), F.col("source")).alias("meta"),
    )


def synthesize_struct_media(docs: DataFrame) -> DataFrame:
    """Build REAL media files from the documents table — standards-compliant
    24-bit BMPs (even doc_id) and PCM WAVs (odd doc_id) with geometry
    derived deterministically from doc_id, pixel/sample bytes from the
    text's md5. These are actual files any image/audio tool could open; the
    decode path must parse them, not trust the generator."""
    import hashlib

    from cam_etl_spark.multimodal.codecs import encode_bmp, encode_wav

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, types = [], []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                seed = hashlib.md5((text or "").encode()).digest()
                if d % 2 == 0:
                    payloads.append(encode_bmp(d % 31 + 1, d % 17 + 1, seed))
                    types.append("image")
                else:
                    payloads.append(
                        encode_wav(
                            n_frames=d % 100 + 1,
                            sample_rate=8000 * (d % 3 + 1),
                            n_channels=(d >> 1) % 2 + 1,
                            bits_per_sample=16,
                            samples=seed,
                        )
                    )
                    types.append("audio")
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads, "media_type": types}
            )

    return docs.mapInPandas(gen, "media_id long, payload binary, media_type string")


STRUCT_DECODED_SCHEMA = (
    "media_id long, format string, width int, height int, n_channels int, "
    "sample_rate int, n_frames long, n_bytes long, duration_s double"
)


def decode_media_struct(df: DataFrame) -> DataFrame:
    """REAL decode over Arrow batches for struct-parseable formats (BMP /
    PCM WAV — cam_etl_spark/multimodal/codecs.py); compressed codecs raise
    NotImplementedError per payload, honestly. duration_s is the raw IEEE
    double n_frames/sample_rate (no rounding — bit-identical in any engine
    dividing the same integers)."""
    from cam_etl_spark.multimodal.codecs import decode_payload

    cols = [
        "media_id", "format", "width", "height", "n_channels",
        "sample_rate", "n_frames", "n_bytes", "duration_s",
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload)
                m = decode_payload(buf)
                rows.append(
                    {
                        "media_id": mid,
                        "format": m["format"],
                        "width": m.get("width"),
                        "height": m.get("height"),
                        "n_channels": m.get("n_channels"),
                        "sample_rate": m.get("sample_rate"),
                        "n_frames": m.get("n_frames"),
                        "n_bytes": len(buf),
                        "duration_s": m.get("duration_s"),
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, STRUCT_DECODED_SCHEMA)


RESIZED_SCHEMA = "media_id long, media_type string, width int, height int, payload binary"


def fake_resize(target_w: int, target_h: int):
    """Deterministic stand-in resize: output payload is an md5-keyed
    fixed-size surrogate. Real implementation swaps the body for
    PIL.Image.resize; the mapInPandas contract (binary in → binary out,
    target dims closed over) is identical."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            digest = pdf["payload"].map(lambda b: hashlib.md5(b or b"").digest())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "width": target_w,
                    "height": target_h,
                    "payload": digest.map(
                        lambda d: (d * (target_w * target_h // len(d) + 1))[: target_w * target_h]
                    ),
                }
            )

    return run


def resize_media(df: DataFrame, width: int, height: int) -> DataFrame:
    return df.mapInPandas(fake_resize(width, height), schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = "media_id long, frame_idx int, frame_checksum string"


def fake_frame_sample(max_frames: int = 8):
    """Deterministic stand-in frame sampler: frame count derived from the
    payload hash, one output ROW PER FRAME — the 1→N fan-out shape a real
    video sampler (pyav keyframe iteration) produces. Arrow batches out can
    be larger than batches in; Spark handles the size change."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                h = hashlib.md5(payload or b"").hexdigest()
                n = int(h[:8], 16) % max_frames + 1
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    sums.append(hashlib.md5(f"{h}:{i}".encode()).hexdigest())
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame_checksum": sums})

    return run


def sample_frames(df: DataFrame, max_frames: int = 8) -> DataFrame:
    return df.mapInPandas(fake_frame_sample(max_frames), schema=FRAMES_SCHEMA)


def extract_features(df: DataFrame, dim: int = 16) -> DataFrame:
    """Payload → deterministic pseudo-embedding (array<float>), the shape a
    real CLIP/audio encoder produces. Output feeds the similarity operators
    directly (media → features → ANN is one pipeline). Pure mapInPandas —
    at scale this is the GPU-batch boundary."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def vec(b):
            d = hashlib.md5(b or b"").digest() * (dim * 4 // 16 + 1)
            return [int.from_bytes(d[4 * i : 4 * i + 4], "big") % 1000 / 1000.0 for i in range(dim)]

        for pdf in batches:
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "embedding": pdf["payload"].map(vec)}
            )

    return df.mapInPandas(run, schema=T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    ))


SIGNAL_SCHEMA = (
    "media_id long, media_type string, n_samples long, rms double, "
    "peak int, n_zero_cross long, n_pixels long, mean_b double, "
    "mean_g double, mean_r double"
)


def media_signal_features(df: DataFrame) -> DataFrame:
    """REAL sample-level feature extraction — the decode step a multimodal
    training pipeline runs after ingest: PCM waveforms → RMS energy, peak
    amplitude, zero-crossing count; BMP pixel arrays → per-channel means.
    numpy over Arrow batches (mapInPandas); the payload bytes are parsed by
    the struct codecs, never trusted from the generator. Audio rows carry
    NULL image stats and vice versa — one unioned feature frame."""
    import numpy as np

    from cam_etl_spark.multimodal.codecs import bmp_pixels, sniff_format, wav_samples

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload)
                kind = sniff_format(buf)
                row = {
                    "media_id": mid, "media_type": None, "n_samples": None,
                    "rms": None, "peak": None, "n_zero_cross": None,
                    "n_pixels": None, "mean_b": None, "mean_g": None,
                    "mean_r": None,
                }
                if kind == "wav":
                    _, s = wav_samples(buf)
                    v = s.astype(np.float64)
                    row.update(
                        media_type="audio",
                        n_samples=len(s),
                        rms=float(np.sqrt(np.mean(v * v))) if len(s) else 0.0,
                        peak=int(np.max(np.abs(v))) if len(s) else 0,
                        n_zero_cross=int(np.sum(v[:-1] * v[1:] < 0)),
                    )
                elif kind == "bmp":
                    _, px = bmp_pixels(buf)
                    m = px.astype(np.float64).mean(axis=0)
                    row.update(
                        media_type="image",
                        n_pixels=px.shape[0],
                        mean_b=float(m[0]),
                        mean_g=float(m[1]),
                        mean_r=float(m[2]),
                    )
                rows.append(row)
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "n_samples", "rms", "peak",
                    "n_zero_cross", "n_pixels", "mean_b", "mean_g", "mean_r",
                ],
            )

    return df.mapInPandas(run, SIGNAL_SCHEMA)


FRAME_SAMPLE_SCHEMA = (
    "media_id long, frame_index int, n_frames long, n_pixels long, "
    "mean_b double, mean_g double, mean_r double"
)


def sample_frames_real(df: DataFrame, max_frames: int = 4) -> DataFrame:
    """REAL multi-frame sampling for BOTH lib-free moving-image
    containers: uncompressed AVI (RIFF chunk walk,
    multimodal/codecs.decode_avi) and multi-image GIF87a
    (codecs.gif_frames, native LZW). Picks ≤``max_frames`` evenly spaced
    frames, decodes each frame's pixel array, and emits per-frame channel
    means — the keyframe-statistics pass of a video ingest pipeline.
    mean_b/g/r are true channel means regardless of the container's
    storage order (AVI frames are BGR DIBs, GIF frames RGB). One
    mapInPandas pass; frames never leave their partition; compressed
    codecs (H.264 etc.) stay behind NotImplementedError honestly."""
    import numpy as np

    from cam_etl_spark.multimodal.codecs import (
        avi_frame_pixels,
        decode_avi,
        gif_frames,
        sniff_format,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload)
                kind = sniff_format(buf)
                if kind == "avi":
                    meta = decode_avi(buf)
                    n = len(meta["frame_offsets"])
                    # BGR storage: channel 0 is blue
                    frame_px = lambda fi: avi_frame_pixels(buf, fi, meta)[1]  # noqa: E731
                    bgr = True
                elif kind == "gif":
                    frames = gif_frames(buf)
                    n = len(frames)
                    frame_px = lambda fi: np.frombuffer(  # noqa: E731
                        frames[fi]["pixels"], dtype=np.uint8
                    ).reshape(-1, 3)
                    bgr = False
                else:
                    continue
                if n == 0:  # valid container, no frames: skip like non-media
                    continue
                m = min(max_frames, n)
                idxs = [0] if m <= 1 else [i * (n - 1) // (m - 1) for i in range(m)]
                for fi in idxs:
                    px = frame_px(fi)
                    mean = px.astype(np.float64).mean(axis=0)
                    b, g, r = (
                        (mean[0], mean[1], mean[2]) if bgr else (mean[2], mean[1], mean[0])
                    )
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_index": fi,
                            "n_frames": n,
                            "n_pixels": px.shape[0],
                            "mean_b": float(b),
                            "mean_g": float(g),
                            "mean_r": float(r),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_index", "n_frames", "n_pixels",
                    "mean_b", "mean_g", "mean_r",
                ],
            )

    return df.mapInPandas(run, FRAME_SAMPLE_SCHEMA)


def synthesize_avi_media(docs: DataFrame) -> DataFrame:
    """Real AVI files from the documents table: geometry from doc_id,
    per-frame pixel bytes = the text's md5 digest rotated by the frame
    index (deterministic, SQL-replayable)."""
    import hashlib

    from cam_etl_spark.multimodal.codecs import encode_avi

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                seed = hashlib.md5((text or "").encode()).digest()
                payloads.append(
                    encode_avi(d % 15 + 1, d % 9 + 1, d % 7 + 2, pixels=seed)
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return docs.mapInPandas(gen, "media_id long, payload binary")


def synthesize_gif_media(docs: DataFrame) -> DataFrame:
    """Real multi-frame GIF87a files from the documents table: geometry
    from doc_id, frame f's pixel bytes = the text's md5 digest rotated by
    f (deterministic, SQL-replayable — same generator contract as
    synthesize_avi_media, different container and dimension moduli)."""
    import hashlib

    from cam_etl_spark.multimodal.codecs import encode_gif_frames

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                seed = hashlib.md5((text or "").encode()).digest()
                n = d % 6 + 2
                frames = [
                    bytes(seed[(j + f) % 16] for j in range(16)) for f in range(n)
                ]
                payloads.append(encode_gif_frames(d % 12 + 1, d % 8 + 1, frames))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return docs.mapInPandas(gen, "media_id long, payload binary")


RESIZE_REAL_SCHEMA = (
    "media_id long, format string, width int, height int, "
    "mean_c0 double, mean_c1 double, mean_c2 double, payload binary"
)


def resize_media_real(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """REAL image resize for the lib-free formats: decode the pixel
    matrix (BMP, PNG, GIF, or TIFF), nearest-neighbour sample to the
    target geometry (source index = floor(dst_index · src/dst) — the
    standard NN mapping, integer arithmetic so any engine can replay it),
    and re-encode in the SAME format, emitting the resized payload plus
    per-channel means of the resized image (channel order is the
    format's storage order: BGR for BMP, RGB otherwise). A
    nearest-neighbour GIF resize only ever samples existing pixels, so
    the output palette is a subset of the source's ≤256 colors and the
    re-encode cannot fail. One mapInPandas pass; formats that would need
    a codec library are skipped, not faked."""
    import numpy as np

    from cam_etl_spark.multimodal.codecs import (
        bmp_pixels,
        encode_bmp,
        encode_gif_frames,
        encode_png,
        encode_tiff,
        gif_frames,
        png_pixels,
        sniff_format,
        tiff_pixels,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload)
                kind = sniff_format(buf)
                if kind == "bmp":
                    meta, px = bmp_pixels(buf)
                    w, h = meta["width"], meta["height"]
                elif kind == "png":
                    meta, px = png_pixels(buf)
                    w, h = meta["width"], meta["height"]
                elif kind == "gif":
                    # decode ALL image blocks: an animated GIF must resize
                    # frame-for-frame, not silently collapse to frame 0
                    gframes = gif_frames(buf)
                    meta = gframes[0]
                    px = np.frombuffer(meta["pixels"], dtype=np.uint8).reshape(-1, 3)
                    w, h = meta["width"], meta["height"]
                elif kind == "tiff":
                    meta, px = tiff_pixels(buf)
                    w, h = meta["width"], meta["height"]
                else:
                    continue
                mat = px.reshape(h, w, 3)
                rs = (np.arange(target_h) * h) // target_h
                cs = (np.arange(target_w) * w) // target_w
                out = mat[rs][:, cs]
                flat = out.reshape(-1, 3)
                mean = flat.astype(np.float64).mean(axis=0)
                body = out.reshape(-1).tobytes()
                if kind == "bmp":
                    # encode_bmp tiles raw pixel bytes into PADDED rows; feed
                    # it row-exact bytes by re-padding ourselves
                    from cam_etl_spark.multimodal.codecs import bmp_row_size

                    rsize = bmp_row_size(target_w)
                    padded = b"".join(
                        out[r].reshape(-1).tobytes().ljust(rsize, b"\x00")
                        for r in range(target_h)
                    )
                    new_buf = encode_bmp(target_w, target_h, padded)
                elif kind == "gif":
                    resized_frames = []
                    for fr in gframes:
                        fmat = np.frombuffer(fr["pixels"], dtype=np.uint8).reshape(
                            fr["height"], fr["width"], 3
                        )
                        frs = (np.arange(target_h) * fr["height"]) // target_h
                        fcs = (np.arange(target_w) * fr["width"]) // target_w
                        resized_frames.append(
                            fmat[frs][:, fcs].reshape(-1).tobytes()
                        )
                    new_buf = encode_gif_frames(target_w, target_h, resized_frames)
                elif kind == "tiff":
                    new_buf = encode_tiff(target_w, target_h, body)
                else:
                    new_buf = encode_png(target_w, target_h, body)
                rows.append(
                    {
                        "media_id": mid,
                        "format": kind,
                        "width": target_w,
                        "height": target_h,
                        "mean_c0": float(mean[0]),
                        "mean_c1": float(mean[1]),
                        "mean_c2": float(mean[2]),
                        "payload": new_buf,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "format", "width", "height",
                    "mean_c0", "mean_c1", "mean_c2", "payload",
                ],
            )

    return df.mapInPandas(run, RESIZE_REAL_SCHEMA)
