"""Perceptual-hash image near-dup dedup (`multimodal.image_hashes` +
`phash_near_dup_pairs`): hash correctness against an independent
per-pixel reference, the 2×-upscale hash identity, brute-force pair
parity (the banded join's exact-recall guarantee at radius <= bands-1),
and the plan contract (banded equi-join, never a cartesian product)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hive_serde_schema_gen_spark.operators.media_core import (
    PHASH_RADIUS,
    _bmp_encode,
    _bmp_from_pixels,
    _bmp_pixel_array,
    _resize_nearest,
    phash_near_dup_pairs,
)
from hive_serde_schema_gen_spark.operators.media_image import (
    _ahash,
    _dhash,
    image_hashes,
    phash_evidence_images,
)


def _ref_dhash(payload: bytes) -> int:
    """Independent dHash: per-pixel Python loops with the documented
    floor-index formulas — no numpy, no shared code with the operator."""
    arr = _bmp_pixel_array(payload)
    h, w = arr.shape[:2]

    def gray(y, x, gw):
        sy, sx = (y * h) // 8, (x * w) // gw
        return (int(arr[sy][sx][0]) + int(arr[sy][sx][1]) + int(arr[sy][sx][2])) // 3

    bits = 0
    for y in range(8):
        for x in range(8):
            if gray(y, x + 1, 9) > gray(y, x, 9):
                bits |= 1 << (y * 8 + x)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


@pytest.fixture(scope="module")
def hashed(spark, sf_dir):
    from hive_serde_schema_gen_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    return image_hashes(phash_evidence_images(d)).localCheckpoint()


def test_dhash_matches_independent_reference():
    for doc_id, text in [(3, b"a quick brown fox " * 9), (40, b"zzzz"), (7, b"")]:
        payload = _bmp_encode(doc_id, text)
        assert _dhash(_bmp_pixel_array(payload)) == _ref_dhash(payload)


def test_upscale_hash_identity():
    # floor(floor(2a/2g)/2) == floor(a/2g): a 2x nearest upscale samples
    # the SAME source pixels, so both hashes are bit-identical
    base = _bmp_encode(11, b"some document text for the image body.")
    arr = _bmp_pixel_array(base)
    h, w = arr.shape[:2]
    up = _bmp_pixel_array(_bmp_from_pixels(_resize_nearest(arr, 2 * w, 2 * h)))
    assert _dhash(arr) == _dhash(up)
    assert _ahash(arr) == _ahash(up)


def test_pairs_match_brute_force(hashed):
    rows = hashed.select("img_id", "dhash").collect()
    hs = {r["img_id"]: r["dhash"] for r in rows}
    ids = sorted(hs)
    for radius in (PHASH_RADIUS, 3):
        brute = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1:]
            if bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1") <= radius
        }
        got = {
            (r["img_a"], r["img_b"])
            for r in phash_near_dup_pairs(hashed, radius=radius).collect()
        }
        assert got == brute, f"radius={radius}"


def test_planted_variants_are_found(hashed):
    from hive_serde_schema_gen_spark.operators.media_core import (
        PHASH_UP_MOD,
        PHASH_UP_OFFSET,
    )

    pairs = phash_near_dup_pairs(hashed)
    # img_a < OFFSET keeps base↔upscale pairs only (upscale↔perturbed
    # pairs of the same doc also differ by exactly the offset)
    up = pairs.filter(
        ((F.col("img_b") - F.col("img_a")) == PHASH_UP_OFFSET)
        & (F.col("img_a") < PHASH_UP_OFFSET)
    )
    n_up_imgs = hashed.filter(
        F.col("img_id") >= PHASH_UP_OFFSET
    ).filter(F.col("img_id") < 2 * PHASH_UP_OFFSET).count()
    # every upscaled copy pairs with its base at distance 0
    assert up.filter(F.col("dist") == 0).count() == n_up_imgs
    assert n_up_imgs > 0


def test_max_bucket_guard(spark):
    # 50 blank images all hash to 0 — every band bucket is hot; the cap
    # drops them while a distinct pair elsewhere survives
    rows = [(i, _bmp_encode(i, b"")) for i in range(50)]
    rows += [(100, _bmp_encode(3, b"interesting text here")),
             (101, _bmp_encode(3, b"interesting text here"))]
    d = spark.createDataFrame(rows, "img_id long, payload binary")
    h = image_hashes(d)
    capped = phash_near_dup_pairs(h, max_bucket=10).collect()
    assert {(r["img_a"], r["img_b"]) for r in capped} == {(100, 101)}
    uncapped = phash_near_dup_pairs(h).count()
    assert uncapped == 50 * 49 // 2 + 1


def test_plan_contract(hashed):
    from hive_serde_schema_gen_spark.plans.explain import explain_str

    plan = explain_str(phash_near_dup_pairs(hashed))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phash_dedup_matches_brute_force(hashed):
    from hive_serde_schema_gen_spark.operators.media_core import phash_dedup

    rows = hashed.select("img_id", "dhash").collect()
    hs = {r["img_id"]: r["dhash"] for r in rows}
    # brute-force the contract: exact-hash groups collapse to min id;
    # reps attribute to their minimum partner within the radius
    by_hash: dict = {}
    for i, h in hs.items():
        by_hash.setdefault(h, []).append(i)
    expect = {}
    reps = {}
    for h, ids in by_hash.items():
        ids.sort()
        reps[h] = ids[0]
        for i in ids[1:]:
            expect[i] = (ids[0], 0)
    rep_ids = sorted(reps.values())
    for b in rep_ids:
        partners = [
            a
            for a in rep_ids
            if a < b
            and bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
            <= PHASH_RADIUS
        ]
        if partners:
            a = min(partners)
            expect[b] = (
                a,
                bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1"),
            )
    got = {
        r["img_id"]: (r["dup_of"], r["dist"])
        for r in phash_dedup(hashed).collect()
    }
    assert got == expect


def test_image_hashes_string_id(spark):
    # id schema follows the input (the compression_signals lesson)
    d = spark.createDataFrame(
        [("a", _bmp_encode(1, b"some pixels here")),
         ("b", _bmp_encode(2, b"other pixels there"))],
        "img_id string, payload binary",
    )
    rows = {r["img_id"]: r["dhash"] for r in image_hashes(d).collect()}
    assert set(rows) == {"a", "b"}


def test_corrupt_payload_skipped_not_fatal(spark):
    rows = [
        (1, _bmp_encode(1, b"a valid image body right here")),
        (2, b"NOTABMP-garbage-bytes"),
        (3, _bmp_encode(3, b"another valid image body here")),
    ]
    d = spark.createDataFrame(rows, "img_id long, payload binary")
    got = {r["img_id"] for r in image_hashes(d).collect()}
    assert got == {1, 3}  # the corrupt payload dropped, task alive
    import pytest as _pytest

    with _pytest.raises(Exception):
        image_hashes(d, on_error="raise").collect()
