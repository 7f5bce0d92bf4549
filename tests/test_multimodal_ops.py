"""Resize + frame-sample multimodal ops: the pixel math is verified against
independent reference computations (direct per-pixel index arithmetic /
pure-Python byte slicing), not by re-running the same numpy code."""

from __future__ import annotations

import struct

import pytest

from hive_serde_schema_gen_spark.operators.media_core import (
    _bmp_decode,
    _bmp_encode,
    _bmp_from_pixels,
    _bmp_pixel_array,
    bmp_resize,
    with_bmp_payload,
)
from hive_serde_schema_gen_spark.operators.media_video import (
    _VID_HEADER,
    _VID_MAGIC,
    _video_encode,
    sample_frames,
    with_video_payload,
)


# ---------------------------------------------------------------------------
# local (no-Spark) pixel-math checks
# ---------------------------------------------------------------------------


def test_bmp_pixel_roundtrip():
    payload = _bmp_encode(7, b"the quick brown fox jumps over the lazy dog")
    arr = _bmp_pixel_array(payload)
    meta = _bmp_decode(payload)
    assert arr.shape == (meta["height"], meta["width"], 3)
    # re-encode → identical container (same dims ⇒ same padding ⇒ same bytes)
    assert _bmp_from_pixels(arr) == payload


def test_resize_pixel_mapping_reference():
    """Every resized pixel equals source[ty*h//th][tx*w//tw] — recomputed
    here scalar-by-scalar, independently of the numpy fancy-indexing path."""
    src = _bmp_pixel_array(_bmp_encode(13, b"abcdefghij" * 20))
    h, w = src.shape[:2]
    tw, th = 5, 3
    import numpy as np

    from hive_serde_schema_gen_spark.operators.media_core import (
        _resize_nearest,
    )

    out = _resize_nearest(src, tw, th)
    assert out.shape == (th, tw, 3)
    for ty in range(th):
        for tx in range(tw):
            sy, sx = ty * h // th, tx * w // tw
            assert (out[ty, tx] == src[sy, sx]).all()


def test_resize_identity_when_same_dims():
    src = _bmp_pixel_array(_bmp_encode(3, b"xyz" * 50))
    from hive_serde_schema_gen_spark.operators.media_core import (
        _resize_nearest,
    )

    h, w = src.shape[:2]
    assert (_resize_nearest(src, w, h) == src).all()


def test_video_container_layout():
    payload = _video_encode(5, b"hello world")
    assert payload[:4] == _VID_MAGIC
    n_frames, frame_len = struct.unpack_from("<II", payload, 4)
    assert n_frames == 1 + 5 % 8 == 6
    assert frame_len == 48
    assert len(payload) == _VID_HEADER + n_frames * frame_len


# ---------------------------------------------------------------------------
# Spark-side plumbing
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from hive_serde_schema_gen_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents").limit(50)


def test_bmp_resize_spark(spark, docs):
    out = bmp_resize(with_bmp_payload(docs), target_w=8, target_h=6).collect()
    assert len(out) == 50
    for row in out:
        meta = _bmp_decode(bytes(row.payload))
        assert (meta["width"], meta["height"]) == (8, 6)
        assert meta["decoded_ok"]
    # spot-check one doc's pixels against a driver-side reference resize
    src_rows = {r.doc_id: bytes(r.payload) for r in with_bmp_payload(docs).collect()}
    out_rows = {r.doc_id: bytes(r.payload) for r in out}
    some_id = sorted(src_rows)[0]
    src = _bmp_pixel_array(src_rows[some_id])
    got = _bmp_pixel_array(out_rows[some_id])
    h, w = src.shape[:2]
    for ty in range(6):
        for tx in range(8):
            assert (got[ty, tx] == src[ty * h // 6, tx * w // 8]).all()


def test_sample_frames_spark(spark, docs):
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    out = sample_frames(with_video_payload(docs), every_k=2).collect()
    got = {(r.doc_id, r.frame_idx): r.checksum for r in out}
    # pure-Python reference: rebuild each container, slice every 2nd frame
    expected = {}
    for doc_id, text in texts.items():
        payload = _video_encode(doc_id, text.encode("utf-8"))
        n_frames, frame_len = struct.unpack_from("<II", payload, 4)
        for f in range(0, n_frames, 2):
            off = _VID_HEADER + f * frame_len
            expected[(doc_id, f)] = sum(payload[off : off + frame_len]) % 2**31
    assert got == expected
    # sampling really drops the odd frames
    assert all(idx % 2 == 0 for (_, idx) in got)


def test_sample_frames_skips_corrupt(spark, docs):
    from pyspark.sql import functions as F

    vids = with_video_payload(docs)
    corrupted = vids.withColumn(
        "payload",
        F.when(F.col("doc_id") % 2 == 0, F.lit(b"nope")).otherwise(F.col("payload")),
    )
    out = sample_frames(corrupted, every_k=1).select("doc_id").distinct().collect()
    assert all(r.doc_id % 2 == 1 for r in out)
