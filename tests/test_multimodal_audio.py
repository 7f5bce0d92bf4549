"""WAV/PCM audio path: container round-trip + real signal statistics."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hive_serde_schema_gen_spark.operators.media_audio import (
    _wav_decode,
    _wav_encode,
    _wav_rate,
    wav_features,
    with_wav_payload,
)
from hive_serde_schema_gen_spark.sources.tables import load_table


def test_wav_roundtrip_unit():
    text = b"some document text"
    m = _wav_decode(_wav_encode(7, text))
    assert m["decoded_ok"]
    assert m["sample_rate"] == _wav_rate(7)
    assert m["n_channels"] == 1 and m["bits"] == 16
    assert m["n_samples"] == len(text)
    assert m["duration_ms"] == pytest.approx(len(text) / _wav_rate(7) * 1000)


def test_wav_decode_walks_extra_chunks():
    """Real WAVs carry LIST/INFO chunks before data — the parser must walk,
    not assume the 44-byte canonical layout."""
    import struct

    base = _wav_encode(1, b"abc")
    fmt_chunk = base[12:36]
    data_chunk = base[36:]
    extra = struct.pack("<4sI", b"LIST", 4) + b"INFO"
    body = fmt_chunk + extra + data_chunk
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body
    m = _wav_decode(riff)
    assert m["decoded_ok"] and m["n_samples"] == 3


def test_wav_decode_rejects_garbage():
    assert not _wav_decode(b"not a riff file at all")["decoded_ok"]
    assert not _wav_decode(b"RIFF\x00\x00\x00\x00AVI ")["decoded_ok"]


def test_wav_decode_truncated_fmt_chunk():
    # A fmt chunk that CLAIMS 16 bytes but the payload ends mid-chunk must
    # yield decoded_ok=False, not raise (the wav_features contract).
    import struct

    riff = (
        b"RIFF" + struct.pack("<I", 20) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x02"  # 3 of 16 bytes
    )
    assert not _wav_decode(riff)["decoded_ok"]


def test_wav_features_match_independent_computation(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(20)
    got = {
        r["doc_id"]: r
        for r in wav_features(with_wav_payload(d)).collect()
    }
    want = {r["doc_id"]: r["text"].encode("utf-8") for r in d.collect()}
    assert set(got) == set(want)
    for doc_id, text in want.items():
        r = got[doc_id]
        assert r["decoded_ok"] and r["n_samples"] == len(text)
        assert r["sample_rate"] == _wav_rate(doc_id)
        # independent RMS/peak from the construction rule (b - 128) << 8
        samples = [(b - 128) << 8 for b in (text or b"\x80")]
        rms = math.sqrt(sum(s * s for s in samples) / len(samples))
        assert r["rms"] == pytest.approx(rms)
        assert r["peak"] == max(abs(s) for s in samples)


def test_wav_pipeline_stays_narrow(spark, sf_dir):
    """encode → decode/features is two chained mapInPandas stages with no
    shuffle between them (same partitioning, payloads stay executor-side)."""
    d = load_table(spark, sf_dir, "documents")
    out = wav_features(with_wav_payload(d))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_wav_roundtrip_property():
    """Hypothesis: decode(encode(x)) recovers the sample count and rate for
    ARBITRARY payload bytes and ids — the container math has no special
    cases hiding in ASCII-only fixtures."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.integers(min_value=0, max_value=10**9), st.binary(max_size=4096))
    def check(doc_id, payload_bytes):
        m = _wav_decode(_wav_encode(doc_id, payload_bytes))
        assert m["decoded_ok"]
        assert m["n_samples"] == max(len(payload_bytes), 1)
        assert m["sample_rate"] == _wav_rate(doc_id)

    check()
