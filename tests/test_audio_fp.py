"""Audio perceptual near-dup (`media_audio.audio_fingerprints` +
`AUDIO.near_dup_pairs` / `AUDIO.dedup`): fingerprint correctness against
an independent per-sample reference, the resample/volume invariances,
brute-force pair parity (the banded join's exact recall at radius <=
bands-1), keep-first dedup parity, the plan contract, and the decode
drop accounting."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from hive_serde_schema_gen_spark.operators.media_audio import (
    AFP_ANCHORS,
    AFP_WINDOWS,
    AUDIO_VOL_OFFSET,
    _audio_fp,
    _wav_container,
    _wav_encode,
    _wav_pcm_samples,
    audio_evidence_clips,
    audio_fingerprints,
)
from hive_serde_schema_gen_spark.operators.media_core import (
    PHASH_PERT_OFFSET,
    PHASH_RADIUS,
    PHASH_UP_OFFSET,
)
from hive_serde_schema_gen_spark.operators.media_corpus import (
    decode_drop_report,
)
from hive_serde_schema_gen_spark.operators.media_image import image_hashes
from hive_serde_schema_gen_spark.operators.phash_index import AUDIO


def _ref_afp(samples: list) -> int:
    """Independent fingerprint: pure-Python loops with the documented
    anchor/window formulas — no numpy, no shared code with the operator."""
    n = len(samples)
    if n == 0:
        return 0
    A = AFP_WINDOWS * AFP_ANCHORS
    anchors = [abs(samples[(j * n) // A]) for j in range(A)]
    energies = [
        sum(anchors[k * AFP_ANCHORS : (k + 1) * AFP_ANCHORS])
        for k in range(AFP_WINDOWS)
    ]
    bits = 0
    for k in range(AFP_WINDOWS - 1):
        if energies[k + 1] > energies[k]:
            bits |= 1 << k
    return bits - (1 << 64) if bits >= (1 << 63) else bits


@pytest.fixture(scope="module")
def fps(spark, sf_dir):
    from hive_serde_schema_gen_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    return audio_fingerprints(audio_evidence_clips(d)).localCheckpoint()


def test_afp_matches_independent_reference():
    for text in [b"a quick brown fox " * 9, b"zzzz", b"", b"\x00\xff" * 200]:
        s = _wav_pcm_samples(text)
        assert _audio_fp(s) == _ref_afp([int(x) for x in s])


def test_resample_and_volume_invariance():
    s = _wav_pcm_samples(b"some document text for the audio body, long enough.")
    base = _audio_fp(s)
    # k-x duplication resample: floor(floor(k*a/A)/k) == floor(a/A)
    assert _audio_fp(np.repeat(s, 2).astype("<i2")) == base
    assert _audio_fp(np.repeat(s, 4).astype("<i2")) == base
    # exact half-volume: every window energy scales uniformly
    assert _audio_fp((s >> 1).astype("<i2")) == base


def test_invariance_through_the_wav_container(spark):
    # the same invariances, end to end through RIFF encode -> decode
    tb = b"the full container path must preserve the fingerprint too."
    s = _wav_pcm_samples(tb)
    rows = [
        (0, _wav_container(16000, s.tobytes())),
        (1, _wav_container(32000, np.repeat(s, 2).astype("<i2").tobytes())),
        (2, _wav_container(16000, (s >> 1).astype("<i2").tobytes())),
    ]
    d = spark.createDataFrame(rows, "aud_id long, payload binary")
    got = {r["aud_id"]: r["afp"] for r in audio_fingerprints(d).collect()}
    assert got[0] == got[1] == got[2]


def test_pairs_match_brute_force(fps):
    rows = fps.select("aud_id", "afp").collect()
    hs = {r["aud_id"]: r["afp"] for r in rows}
    ids = sorted(hs)
    for radius in (PHASH_RADIUS, 3):
        brute = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1") <= radius
        }
        got = {
            (r["img_a"], r["img_b"])
            for r in AUDIO.near_dup_pairs(fps, radius=radius).collect()
        }
        assert got == brute, f"radius={radius}"


def test_planted_variants_are_found(fps):
    pairs = AUDIO.near_dup_pairs(fps).localCheckpoint()
    # every 2x-resampled copy pairs with its base at distance 0
    up = pairs.filter(
        ((F.col("img_b") - F.col("img_a")) == PHASH_UP_OFFSET)
        & (F.col("img_a") < PHASH_UP_OFFSET)
    )
    n_up = fps.filter(
        (F.col("aud_id") >= PHASH_UP_OFFSET)
        & (F.col("aud_id") < PHASH_PERT_OFFSET)
    ).count()
    assert n_up > 0
    assert up.filter(F.col("dist") == 0).count() == n_up
    # every half-volume copy pairs with its base at distance 0
    vol = pairs.filter(
        ((F.col("img_b") - F.col("img_a")) == AUDIO_VOL_OFFSET)
        & (F.col("img_a") < PHASH_UP_OFFSET)
    )
    n_vol = fps.filter(F.col("aud_id") >= AUDIO_VOL_OFFSET).count()
    assert n_vol > 0
    assert vol.filter(F.col("dist") == 0).count() == n_vol


def test_perturbation_exercises_both_sides_of_the_radius(fps):
    # the contiguous-run perturbation yields a VARIABLE distance: some
    # perturbed copies match their base within the radius, some fall
    # outside — the threshold is a real cut, not a constant
    hs = {r["aud_id"]: r["afp"] for r in fps.collect()}
    dists = [
        bin((hs[a] ^ hs[a + PHASH_PERT_OFFSET]) & ((1 << 64) - 1)).count("1")
        for a in hs
        if a < PHASH_UP_OFFSET and a + PHASH_PERT_OFFSET in hs
    ]
    assert dists
    assert any(d <= PHASH_RADIUS for d in dists)
    assert any(d > PHASH_RADIUS for d in dists)


def test_audio_dedup_matches_brute_force(fps):
    hs = {r["aud_id"]: r["afp"] for r in fps.collect()}
    by_fp: dict = {}
    for i, h in hs.items():
        by_fp.setdefault(h, []).append(i)
    expect = {}
    reps = {}
    for h, ids in by_fp.items():
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
        for r in AUDIO.dedup(fps).collect()
    }
    assert got == expect


def test_plan_contract(fps):
    from hive_serde_schema_gen_spark.plans.explain import explain_str

    plan = explain_str(AUDIO.near_dup_pairs(fps))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_audio_fingerprints_string_id(spark):
    d = spark.createDataFrame(
        [("a", _wav_encode(1, b"some samples right here")),
         ("b", _wav_encode(2, b"other samples over there"))],
        "aud_id string, payload binary",
    )
    rows = {r["aud_id"]: r["afp"] for r in audio_fingerprints(d).collect()}
    assert set(rows) == {"a", "b"}


def test_corrupt_payload_skipped_and_accounted(spark):
    rows = [
        (1, _wav_encode(1, b"a valid clip body right here")),
        (2, b"NOTAWAV-garbage-bytes"),
        (3, _wav_encode(3, b"another valid clip body here")),
    ]
    d = spark.createDataFrame(rows, "aud_id long, payload binary")
    out = audio_fingerprints(d)
    assert {r["aud_id"] for r in out.collect()} == {1, 3}
    with pytest.raises(Exception):
        audio_fingerprints(d, on_error="raise").collect()
    # the drop is a NUMBER, not a silent disappearance
    rep = decode_drop_report(d, out, "aud_id").collect()[0]
    assert (rep["n_input"], rep["n_decoded"], rep["n_dropped"]) == (3, 2, 1)


def test_image_decode_drop_report(spark):
    from hive_serde_schema_gen_spark.operators.media_core import _bmp_encode

    rows = [
        (1, _bmp_encode(1, b"a valid image body right here")),
        (2, b"NOTABMP-garbage-bytes"),
        (3, b"ALSO-NOT-A-BMP"),
        (4, _bmp_encode(4, b"another valid image body here")),
    ]
    d = spark.createDataFrame(rows, "img_id long, payload binary")
    rep = decode_drop_report(d, image_hashes(d), "img_id").collect()[0]
    assert (rep["n_input"], rep["n_decoded"], rep["n_dropped"]) == (4, 2, 2)


def test_anchor_strategy_same_duplicate_set(fps):
    # the 'anchor' scale path marks EXACTLY the same duplicate ids as
    # the minpair enumeration (attribution target may differ but
    # must be a true in-radius smaller-id partner)
    hs = {r["aud_id"]: r["afp"] for r in fps.collect()}
    base = {r["img_id"] for r in AUDIO.dedup(fps, strategy="minpair").collect()}
    anchor_rows = AUDIO.dedup(fps, strategy="anchor").collect()
    anchor = {r["img_id"] for r in anchor_rows}
    assert anchor == base
    for r in anchor_rows:
        assert r["dup_of"] < r["img_id"]
        d = bin((hs[r["img_id"]] ^ hs[r["dup_of"]]) & ((1 << 64) - 1)).count("1")
        # exact-collapse rows pair identical fps (dist 0); near rows are
        # between representatives — either way the claimed dist is real
        assert r["dist"] == d or (r["dist"] == 0 and d == 0)


def test_anchor_strategy_on_planted_mega_cluster(spark):
    # a 60-copy near-identical cluster (the re-encode-farm regime): the
    # anchor path must mark all 59 non-canonical members, like minpair,
    # and a far-outlier bucket-mate must not be absorbed
    import numpy as np

    from hive_serde_schema_gen_spark.operators.media_audio import (
        _wav_container,
        _wav_pcm_samples,
    )
    from hive_serde_schema_gen_spark.operators.media_core import phash_dedup

    base = _wav_pcm_samples(b"a long enough clip body for stable windows, yes.")
    rows = []
    for i in range(60):
        s = base.copy()
        # tiny local edit: one sample tweaked per copy — fingerprints
        # near but (mostly) not equal
        s[i % len(s)] = s[i % len(s)] // 2
        rows.append((i, _wav_container(16000, s.astype("<i2").tobytes())))
    rows.append((900, _wav_encode(900, b"totally different content over here....")))
    d = spark.createDataFrame(rows, "aud_id long, payload binary")
    fps2 = audio_fingerprints(d).localCheckpoint()
    base_set = {
        (r["img_id"], r["dup_of"])
        for r in AUDIO.dedup(fps2, strategy="minpair").collect()
    }
    anchor_set = {
        (r["img_id"], r["dup_of"])
        for r in AUDIO.dedup(fps2, strategy="anchor").collect()
    }
    assert {i for i, _ in anchor_set} == {i for i, _ in base_set}
    assert 900 not in {i for i, _ in anchor_set}
    with pytest.raises(ValueError, match="unknown strategy"):
        phash_dedup(fps2, hash_col="afp", id_col="aud_id", strategy="bogus")


def test_afp_invariance_properties():
    # Hypothesis: for ARBITRARY byte content, the fingerprint is
    # invariant under k-x duplication resampling (any k) and exact
    # half-volume — the two identities the oracle's base-formula
    # computation of the variant kinds RELIES on
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.binary(min_size=0, max_size=600),
        st.integers(min_value=2, max_value=5),
    )
    def prop(payload, k):
        s = _wav_pcm_samples(payload)
        base = _audio_fp(s)
        assert _audio_fp(np.repeat(s, k).astype("<i2")) == base
        assert _audio_fp((s >> 1).astype("<i2")) == base
        assert _audio_fp(_wav_pcm_samples(payload)) == base  # determinism

    prop()


def test_anchor_plan_contract(fps):
    from hive_serde_schema_gen_spark.plans.explain import explain_str

    plan = explain_str(AUDIO.dedup(fps, strategy="anchor"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_trim_silence_restores_padded_match(spark):
    # silence padding shifts every anchor; trim_silence=True restores
    # the fingerprint match between the padded re-encode and the base
    tb = b"a clip body long enough for stable fingerprint windows, ok."
    s = _wav_pcm_samples(tb)
    pad = np.zeros(257, dtype="<i2")
    padded = np.concatenate([pad, s, pad]).astype("<i2")
    rows = [
        (0, _wav_container(16000, s.tobytes())),
        (1, _wav_container(16000, padded.tobytes())),
        (2, _wav_container(16000, pad.tobytes())),  # all silence
    ]
    d = spark.createDataFrame(rows, "aud_id long, payload binary")
    raw = {r["aud_id"]: r["afp"] for r in audio_fingerprints(d).collect()}
    assert raw[0] != raw[1]  # untrimmed: padding breaks the match
    trimmed = {
        r["aud_id"]: r["afp"]
        for r in audio_fingerprints(d, trim_silence=True).collect()
    }
    assert trimmed[0] == trimmed[1] == raw[0]  # trimming restores it
    assert trimmed[2] == 0  # all-silent clip -> zero fingerprint


def test_auto_pick_diagnostic(spark):
    # the strategy='auto' bucket diagnostic: distinct hashes sharing one
    # band value form a band bucket; above AUTO_ANCHOR_BUCKET -> anchor
    from hive_serde_schema_gen_spark.operators.media_core import (
        AUTO_ANCHOR_BUCKET,
        _auto_pick,
        _band_rows,
    )

    big = AUTO_ANCHOR_BUCKET + 6
    hot = spark.createDataFrame(
        [(i, (i << 8) | 0x55) for i in range(big)], "img_id long, dhash long"
    )
    bands = _band_rows(hot, 8, "dhash", "img_id", None)
    assert _auto_pick(bands) == "anchor"
    cold = spark.createDataFrame(
        [(i, (i << 8) | (i & 0xFF)) for i in range(20)],
        "img_id long, dhash long",
    )
    assert _auto_pick(_band_rows(cold, 8, "dhash", "img_id", None)) == "minpair"


def test_auto_default_same_duplicate_set_on_mega_cluster(spark):
    # default (auto) on a cluster LARGER than the diagnostic threshold:
    # must route to anchor and still mark exactly minpair's duplicate set
    from hive_serde_schema_gen_spark.operators.media_audio import (
        _wav_container,
        _wav_pcm_samples,
    )
    from hive_serde_schema_gen_spark.operators.media_core import (
        AUTO_ANCHOR_BUCKET,
    )

    n = AUTO_ANCHOR_BUCKET + 10
    base = _wav_pcm_samples(b"a long enough clip body for stable windows, yes.")
    rows = []
    for i in range(n):
        s = base.copy()
        s[i % len(s)] = s[i % len(s)] // 2
        rows.append((i, _wav_container(16000, s.astype("<i2").tobytes())))
    d = spark.createDataFrame(rows, "aud_id long, payload binary")
    fps2 = audio_fingerprints(d).localCheckpoint()
    minpair = {r["img_id"] for r in AUDIO.dedup(fps2, strategy="minpair").collect()}
    auto_rows = AUDIO.dedup(fps2).collect()  # the DEFAULT path
    assert {r["img_id"] for r in auto_rows} == minpair
    for r in auto_rows:
        assert r["dup_of"] < r["img_id"]


def test_auto_default_small_corpus_matches_minpair_attribution(fps):
    # below the threshold auto IS minpair — identical attribution, not
    # just the same duplicate set
    want = sorted(
        (r["img_id"], r["dup_of"], r["dist"])
        for r in AUDIO.dedup(fps, strategy="minpair").collect()
    )
    got = sorted(
        (r["img_id"], r["dup_of"], r["dist"]) for r in AUDIO.dedup(fps).collect()
    )
    assert got == want


def test_radius_bound_fails_loudly(spark):
    from hive_serde_schema_gen_spark.operators.media_core import phash_dedup
    from hive_serde_schema_gen_spark.operators.media_corpus import (
        dedup_media_corpus,
    )

    d = spark.createDataFrame([(1, 5)], "img_id long, dhash long")
    with pytest.raises(ValueError, match="radius"):
        phash_dedup(d, radius=8, n_bands=8)
    p = spark.createDataFrame([(1, b"x")], "img_id long, payload binary")
    with pytest.raises(ValueError, match="radius"):
        dedup_media_corpus(p, "image", radius=8)
