"""Video perceptual near-dup (`video_fingerprints` / `VIDEO.dedup` /
the persisted vfp index): fingerprint correctness against an independent
pure-Python per-byte reference, majority-pool semantics (strict
majority, ties to 0), brute-force pair + dedup parity, malformed-
container discipline, the dedup_media_corpus video modality, index
lifecycle parity, and the cross-family grid pin."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from hive_serde_schema_gen_spark.operators.media_video import (
    _VID_HEADER,
    _VID_MAGIC,
    _frame_dhash_u,
    _video_encode,
    _video_redub,
    video_evidence_clips,
    video_fingerprints,
)
from hive_serde_schema_gen_spark.operators.phash_index import VIDEO
from hive_serde_schema_gen_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _ref_frame_dhash(frame: bytes) -> int:
    """Independent reference: plain loops, no numpy, no shared code."""
    L = len(frame)
    gray = []
    for c in range(72):
        p = 3 * c
        s = frame[p % L] + frame[(p + 1) % L] + frame[(p + 2) % L]
        gray.append(s // 3)
    h = 0
    for gy in range(8):
        for gx in range(8):
            a = gray[gy * 9 + gx]
            b = gray[gy * 9 + gx + 1]
            if b > a:
                h |= 1 << (gy * 8 + gx)
    return h


def _ref_video_fp(payload: bytes, every_k: int = 2):
    assert payload[:4] == _VID_MAGIC
    n_frames, frame_len = struct.unpack_from("<II", payload, 4)
    counts = [0] * 64
    m = 0
    for f in range(0, n_frames, every_k):
        off = _VID_HEADER + f * frame_len
        h = _ref_frame_dhash(payload[off : off + frame_len])
        for k in range(64):
            counts[k] += (h >> k) & 1
        m += 1
    v = 0
    for k in range(64):
        if 2 * counts[k] > m:
            v |= 1 << k
    if v >= 1 << 63:
        v -= 1 << 64
    return n_frames, m, v


@pytest.fixture(scope="module")
def docs(spark):
    return (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .limit(200)
        .localCheckpoint()
    )


@pytest.fixture(scope="module")
def vfps(spark, docs):
    return video_fingerprints(video_evidence_clips(docs)).localCheckpoint()


def test_fingerprints_match_pure_python_reference(spark, docs):
    rows = docs.collect()
    got = {
        r["vid_id"]: (r["n_frames"], r["n_sampled"], r["vfp"])
        for r in video_fingerprints(video_evidence_clips(docs)).collect()
    }
    checked = 0
    for r in rows[:50]:
        payload = _video_encode(r["doc_id"], r["text"].encode("utf-8"))
        assert got[r["doc_id"]] == _ref_video_fp(payload)
        checked += 1
    assert checked == 50


def test_redub_variant_fp_semantics(spark, docs, vfps):
    # (a) full parity: every planted variant fingerprint equals the
    # pure-Python reference of its own payload; (b) the semantic
    # invariance: a re-dub of an ODD-frame-count base is bit-identical
    # (the appended frame index n is odd, so every-2nd sampling never
    # sees it), which is what makes the re-dub a planted NEAR-dup
    from hive_serde_schema_gen_spark.operators.media_video import (
        VFP_DUP_MOD,
        VFP_DUP_OFFSET,
        VFP_PERT_OFFSET,
    )

    fps = {r["vid_id"]: r["vfp"] for r in vfps.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    n_odd = n_all = 0
    for vid, fp in fps.items():
        if VFP_DUP_OFFSET <= vid < VFP_PERT_OFFSET:
            d_ = vid - VFP_DUP_OFFSET
            assert d_ % VFP_DUP_MOD == 0
            payload = _video_redub(d_, texts[d_].encode("utf-8"))
            assert _ref_video_fp(payload)[2] == fp
            n_all += 1
            if (1 + d_ % 8) % 2 == 1:  # odd base frame count
                assert fp == fps[d_], "odd-n re-dub must be bit-identical"
                n_odd += 1
    assert n_all > 0 and n_odd > 0


def test_majority_tie_breaks_to_zero(spark):
    # two frames with OPPOSITE bit patterns: every bit count is 1 of 2
    # (a tie), so the pooled fingerprint must be exactly 0
    up = bytes([i % 256 for i in range(48)])  # increasing -> bits set
    down = bytes([255 - (i % 256) for i in range(48)])  # decreasing
    h_up, h_down = _frame_dhash_u(up), _frame_dhash_u(down)
    assert h_up != 0 and h_down != 0 and (h_up & h_down) == 0
    payload = _VID_MAGIC + struct.pack("<II", 2, 48) + up + down
    # sanity on the hand-computed counts: every bit ties at 1-of-2 …
    counts = [0] * 64
    for h in (h_up, h_down):
        for k in range(64):
            counts[k] += (h >> k) & 1
    assert all(2 * c <= 2 for c in counts)
    # … and the PRODUCTION pool (every_k=1 so both frames vote) breaks
    # every tie to 0 (ADVICE r16: the operator itself must be exercised,
    # not just the reference arithmetic)
    d = spark.createDataFrame([(1, payload)], "vid_id long, payload binary")
    rows = video_fingerprints(d, every_k=1).collect()
    assert len(rows) == 1
    assert rows[0]["n_sampled"] == 2
    assert rows[0]["vfp"] == 0


def test_malformed_containers_skip_or_raise(spark):
    rows = [
        (1, _video_encode(1, b"a real enough document body here")),
        (2, b"NOTAVIDEO"),
        (3, _VID_MAGIC + struct.pack("<II", 5, 48) + b"short"),
    ]
    d = spark.createDataFrame(rows, "vid_id long, payload binary")
    out = video_fingerprints(d).collect()
    assert {r["vid_id"] for r in out} == {1}
    with pytest.raises(Exception):
        video_fingerprints(d, on_error="raise").collect()


def test_banded_pairs_match_brute_force(vfps):
    from hive_serde_schema_gen_spark.operators.media_core import (
        PHASH_RADIUS,
        phash_near_dup_pairs,
    )

    fps = {r["vid_id"]: r["vfp"] for r in vfps.collect()}
    ids = sorted(fps)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
            if d <= PHASH_RADIUS:
                brute.add((a, b, d))
    got = {
        (r["img_a"], r["img_b"], r["dist"])
        for r in phash_near_dup_pairs(
            vfps, hash_col="vfp", id_col="vid_id"
        ).collect()
    }
    assert got == brute


def test_video_dedup_matches_brute_force_keep_first(vfps):
    from hive_serde_schema_gen_spark.operators.media_core import PHASH_RADIUS

    fps = {r["vid_id"]: r["vfp"] for r in vfps.collect()}
    ids = sorted(fps)
    want_dups = set()
    for i, b in enumerate(ids):
        for a in ids[:i]:
            d = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
            if d <= PHASH_RADIUS:
                want_dups.add(b)
                break
    got_rows = VIDEO.dedup(vfps, strategy="minpair").collect()
    assert {r["img_id"] for r in got_rows} == want_dups
    for r in got_rows:
        assert r["dup_of"] < r["img_id"]
        d = bin(
            (fps[r["img_id"]] ^ fps[r["dup_of"]]) & ((1 << 64) - 1)
        ).count("1")
        assert r["dist"] == d or (r["dist"] == 0 and d == 0)
    # the default (auto) marks the same duplicate set
    assert {r["img_id"] for r in VIDEO.dedup(vfps).collect()} == want_dups


def test_dedup_media_corpus_video_modality(spark):
    from hive_serde_schema_gen_spark.operators.media_corpus import (
        dedup_media_corpus,
    )

    base = _video_encode(1, b"the one true video body, enough for frames")
    rows = [
        (1, base),
        (2, base),  # byte-identical -> 'byte'
        (3, _video_redub(1, b"the one true video body, enough for frames")),
        # ^ re-dub of 1's construction -> perceptual near-dup (usually)
        (4, _video_encode(4, b"a completely different video body here!!")),
        (5, b"NOTAVIDEO"),  # dropped
    ]
    acct: list = []
    d = spark.createDataFrame(rows, "vid_id long, payload binary")
    kept, attr, dropped = dedup_media_corpus(d, "video", accounting=acct)
    kept_ids = {r["vid_id"] for r in kept.collect()}
    attr_rows = {
        r["vid_id"]: (r["dup_of"], r["stage"]) for r in attr.collect()
    }
    drop_ids = {r["vid_id"] for r in dropped.collect()}
    assert attr_rows[2] == (1, "byte")
    assert drop_ids == {5}
    counts = dict(acct)
    assert counts["input"] == 5
    assert counts["byte_unique"] == 4
    assert counts["decoded"] == 3
    assert counts["dropped"] == 1
    # reconciliation: every id in exactly one bucket
    assert kept_ids | set(attr_rows) | drop_ids == {1, 2, 3, 4, 5}
    assert not (kept_ids & set(attr_rows))


def test_vfp_index_lifecycle_and_grid_pin(spark, tmp_path, vfps):
    from hive_serde_schema_gen_spark.operators.media_core import PHASH_RADIUS
    from hive_serde_schema_gen_spark.operators.media_video import (
        VFP_DUP_OFFSET,
    )
    from hive_serde_schema_gen_spark.operators.phash_index import (
        VIDEO,
        build_phash_index,
        extend_phash_index,
        novel_images,
        phash_against_index,
    )

    idx = str(tmp_path / "vfp-idx")
    base = vfps.filter(f"vid_id < {VFP_DUP_OFFSET}")
    variants = vfps.filter(f"vid_id >= {VFP_DUP_OFFSET}")
    build_phash_index(
        base.filter("vid_id % 2 = 0"), idx, n_files=2, family=VIDEO
    )
    extend_phash_index(
        base.filter("vid_id % 2 = 1"), idx, epoch=3, family=VIDEO
    )
    got = {
        (r["vid_id"], r["matched_vid_id"], r["dist"])
        for r in phash_against_index(variants, idx, family=VIDEO).collect()
    }
    fps_b = {r["vid_id"]: r["vfp"] for r in base.collect()}
    fps_v = {r["vid_id"]: r["vfp"] for r in variants.collect()}
    brute = set()
    for v, fv in fps_v.items():
        for b, fb in fps_b.items():
            d = bin((fv ^ fb) & ((1 << 64) - 1)).count("1")
            if d <= PHASH_RADIUS:
                brute.add((v, b, d))
    assert got == brute
    matches = phash_against_index(variants, idx, family=VIDEO)
    novel = {
        r["vid_id"]
        for r in novel_images(variants, matches, VIDEO.id_col).collect()
    }
    assert novel == set(fps_v) - {v for v, _, _ in brute}
    # cross-family pin: probing the video index with the IMAGE default
    # grid must fail loudly, not miss candidates
    with pytest.raises(Exception, match="parameters|rebuild"):
        phash_against_index(
            variants.selectExpr("vid_id AS img_id", "vfp AS dhash"), idx
        ).collect()


def test_video_dedup_anchor_plan_contract(vfps):
    from hive_serde_schema_gen_spark.plans.explain import explain_str

    plan = explain_str(VIDEO.dedup(vfps, strategy="anchor"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_frame_dhash_property_parity():
    # Hypothesis: numpy fast path == the pure-Python reference for
    # ARBITRARY frame bytes and frame lengths (the 48-byte oracle pin is
    # one point of this space)
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(min_size=1, max_size=96))
    def prop(frame):
        assert _frame_dhash_u(frame) == _ref_frame_dhash(frame)

    prop()


def test_media_dup_clusters_transitive_lineage(spark):
    # chain A-B-C within radius pairwise-adjacent plus an exact copy of
    # A collapsed at the exact stage: all four must share one component
    # labeled by the smallest id, and the unrelated pair its own
    from hive_serde_schema_gen_spark.operators.media_core import (
        media_dup_clusters,
        phash_dedup,
        phash_near_dup_pairs,
    )

    h = {
        1: 0b0,
        2: 0b11,            # dist(1,2)=2
        3: 0b11 | (1 << 8) | (1 << 9),  # dist(2,3)=2, dist(1,3)=4
        4: 0b0,             # exact copy of 1 -> collapses, never a pair
        10: (1 << 40) | (1 << 41) | (1 << 42) | (1 << 43)
            | (1 << 20) | (1 << 21) | (1 << 22) | (1 << 23),
        11: (1 << 40) | (1 << 41) | (1 << 42) | (1 << 43)
            | (1 << 20) | (1 << 21) | (1 << 22) | (1 << 24),  # near 10
    }
    d = spark.createDataFrame(list(h.items()), "img_id long, dhash long")
    pairs = phash_near_dup_pairs(d, radius=4)
    attr = phash_dedup(d, radius=4, strategy="minpair")
    comp = {
        r["id"]: r["component"]
        for r in media_dup_clusters(pairs, attr).collect()
    }
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10
