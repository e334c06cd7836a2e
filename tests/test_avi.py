"""AVI/MJPEG container walk (`ops/avi.py`) + the Spark frame sampler.

The y4m tests cover uncompressed video; these pin the compressed
container path: RIFF tree shape, word alignment, index, round-trip
through the real JPEG codec, and the mapInPandas sampler."""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings, strategies as st

from itemsjs_spark.ops.avi import BadAVI, encode_avi_mjpeg, parse_avi_mjpeg
from itemsjs_spark.ops.jpeg import encode_jpeg_gray


def _solid_jpeg(w, h, val):
    return encode_jpeg_gray(w, h, bytes([val]) * (w * h))


@settings(max_examples=25, deadline=None)
@given(
    st.integers(1, 3).map(lambda q: 8 * q),
    st.integers(1, 2).map(lambda q: 8 * q),
    st.lists(st.integers(0, 255), min_size=1, max_size=5),
)
def test_avi_roundtrip_preserves_frames(w, h, vals):
    frames = [_solid_jpeg(w, h, v) for v in vals]
    data = encode_avi_mjpeg(w, h, frames, fps=30)
    rw, rh, rframes = parse_avi_mjpeg(data)
    assert (rw, rh) == (w, h)
    assert rframes == frames  # byte-exact payload recovery


def test_avi_riff_structure_and_alignment():
    # an odd-length frame forces the RIFF pad byte; the parser must
    # honor it and the outer sizes must be consistent
    frames = [_solid_jpeg(8, 8, 7), _solid_jpeg(8, 8, 200)]
    data = encode_avi_mjpeg(8, 8, frames)
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI "
    (riff_size,) = struct.unpack("<I", data[4:8])
    assert 8 + riff_size == len(data)
    assert b"avih" in data and b"MJPG" in data and b"idx1" in data
    _, _, rframes = parse_avi_mjpeg(data)
    assert len(rframes) == 2


def test_avi_rejects_garbage_and_wrong_payloads():
    with pytest.raises(BadAVI):
        parse_avi_mjpeg(b"RIFX" + b"\x00" * 64)
    with pytest.raises(ValueError):
        encode_avi_mjpeg(8, 8, [b"not a jpeg"])
    with pytest.raises(ValueError):
        encode_avi_mjpeg(8, 8, [])
    # a well-formed RIFF whose movi chunk is not JPEG
    good = encode_avi_mjpeg(8, 8, [_solid_jpeg(8, 8, 1)])
    broken = good.replace(b"\xff\xd8", b"\x00\x00", 1)
    with pytest.raises(BadAVI):
        parse_avi_mjpeg(broken)


def test_spark_sample_avi_frames_decodes_every_second(spark):
    from itemsjs_spark.ops import multimodal

    # 4 frames of solid values; frames 0 and 2 kept and fully decoded
    vals = [10, 60, 250, 110]
    payload = encode_avi_mjpeg(
        16, 8, [_solid_jpeg(16, 8, v) for v in vals]
    )
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    out = sorted(
        multimodal.sample_avi_mjpeg_frames(df, every_n=2).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [(r.frame_idx, r.width, r.height) for r in out] == [
        (0, 16, 8),
        (2, 16, 8),
    ]
    # solid blocks round-trip exactly under the DC-exact quant table
    assert out[0].luma_mean == round(vals[0] / 255.0, 6)
    assert out[1].luma_mean == round(vals[2] / 255.0, 6)


@pytest.mark.parametrize("every_n", [0, -1])
def test_sample_avi_frames_rejects_nonpositive_every_n(spark, every_n):
    from itemsjs_spark.ops import multimodal

    df = spark.range(0).selectExpr(
        "id AS doc_id", "CAST(NULL AS binary) AS payload"
    )
    # raised while planning, at the driver: no job runs
    with pytest.raises(ValueError, match="every_n must be >= 1"):
        multimodal.sample_avi_mjpeg_frames(df, every_n=every_n)


def test_avi_rejects_nonpositive_fps():
    with pytest.raises(ValueError, match="fps"):
        encode_avi_mjpeg(8, 8, [_solid_jpeg(8, 8, 1)], fps=0)
