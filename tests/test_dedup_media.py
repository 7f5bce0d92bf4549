"""One-call media dedup (`multimodal.dedup_media_corpus`): stage
ordering (byte collapse BEFORE decode), attribution stages, accounting
reconciliation (input = kept + byte + percept + index + dropped), both
modalities, and the optional persisted-index probe/extend."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from hive_serde_schema_gen_spark.operators.media_audio import _wav_encode
from hive_serde_schema_gen_spark.operators.media_core import _bmp_encode
from hive_serde_schema_gen_spark.operators.media_corpus import (
    dedup_media_corpus,
)
from hive_serde_schema_gen_spark.operators.media_image import image_hashes


@pytest.fixture()
def idx_dir():
    root = tempfile.mkdtemp(prefix="media_dedup_")
    yield os.path.join(root, "index")
    shutil.rmtree(root, ignore_errors=True)


def _image_rows():
    base = _bmp_encode(1, b"the one true image body, with pixels")
    return [
        (1, base),
        (2, base),                     # byte-identical copy -> 'byte'
        (3, _bmp_encode(1, b"the one true image body, with pixelz")),
        # ^ one byte off same construction -> perceptual near-dup of 1
        (4, _bmp_encode(4, b"a completely different image payload")),
        (5, b"NOTABMP-garbage"),       # decode failure -> dropped
    ]


def test_image_stages_and_reconciliation(spark):
    acct: list = []
    d = spark.createDataFrame(_image_rows(), "img_id long, payload binary")
    kept, attr, dropped = dedup_media_corpus(
        d, "image", accounting=acct
    )
    kept_ids = {r["img_id"] for r in kept.collect()}
    attr_rows = {
        r["img_id"]: (r["dup_of"], r["stage"]) for r in attr.collect()
    }
    drop_ids = {r["img_id"] for r in dropped.collect()}
    assert attr_rows[2] == (1, "byte")
    assert attr_rows.get(3, (None, None))[1] in ("percept", None)
    assert drop_ids == {5}
    # reconciliation: every input id lands in exactly one bucket
    assert kept_ids | set(attr_rows) | drop_ids == {1, 2, 3, 4, 5}
    assert not (kept_ids & set(attr_rows))
    counts = dict(acct)
    assert counts["input"] == 5
    assert counts["byte_unique"] == 4       # id 2 collapsed pre-decode
    assert counts["decoded"] == 3           # id 5 dropped at decode
    assert counts["dropped"] == 1           # ... and accounted as such
    assert counts["kept"] == len(kept_ids)
    assert counts["input"] == (
        counts["kept"] + len(attr_rows) + len(drop_ids)
    )


def test_audio_stages(spark):
    base = _wav_encode(1, b"the one true audio clip body, with samples")
    rows = [
        (1, base),
        (2, base),                      # byte-identical -> 'byte'
        (3, _wav_encode(3, b"a completely different audio clip payload")),
        (4, b"NOTAWAV"),                # dropped
    ]
    acct: list = []
    d = spark.createDataFrame(rows, "aud_id long, payload binary")
    kept, attr, dropped = dedup_media_corpus(d, "audio", accounting=acct)
    assert {r["aud_id"] for r in kept.collect()} == {1, 3}
    a = {r["aud_id"]: (r["dup_of"], r["stage"]) for r in attr.collect()}
    assert a == {2: (1, "byte")}
    assert {r["aud_id"] for r in dropped.collect()} == {4}
    assert dict(acct)["byte_unique"] == 3


def test_image_index_probe_and_extend(spark, idx_dir):
    from hive_serde_schema_gen_spark.operators.phash_index import (
        build_phash_index,
    )

    history = spark.createDataFrame(
        [(100, _bmp_encode(1, b"the one true image body, with pixels"))],
        "img_id long, payload binary",
    )
    build_phash_index(image_hashes(history), idx_dir, n_files=1)
    acct: list = []
    d = spark.createDataFrame(
        [
            (1, _bmp_encode(1, b"the one true image body, with pixels")),
            (4, _bmp_encode(4, b"a completely different image payload")),
        ],
        "img_id long, payload binary",
    )
    kept, attr, _ = dedup_media_corpus(
        d, "image", index_path=idx_dir, extend_epoch=7, accounting=acct
    )
    a = {r["img_id"]: (r["dup_of"], r["stage"]) for r in attr.collect()}
    assert a[1] == (100, "index")  # history match, attributed to the index
    assert {r["img_id"] for r in kept.collect()} == {4}
    # the accepted novel image extended the index: a re-run of the same
    # novel payload under a NEW id now matches history
    d2 = spark.createDataFrame(
        [(9, _bmp_encode(4, b"a completely different image payload"))],
        "img_id long, payload binary",
    )
    kept2, attr2, _ = dedup_media_corpus(d2, "image", index_path=idx_dir)
    assert kept2.count() == 0
    a2 = {r["img_id"]: (r["dup_of"], r["stage"]) for r in attr2.collect()}
    assert a2[9] == (4, "index")


def _family_case(modality):
    """(id column, payload encoder, fingerprint fn, media family) — the
    public per-modality entry points, so the test pins behaviour through
    the same names callers import."""
    from hive_serde_schema_gen_spark.operators.media_audio import (
        audio_fingerprints,
    )
    from hive_serde_schema_gen_spark.operators.media_video import (
        _video_encode,
        video_fingerprints,
    )
    from hive_serde_schema_gen_spark.operators.phash_index import (
        AUDIO,
        IMAGE,
        VIDEO,
    )

    return {
        "image": ("img_id", _bmp_encode, image_hashes, IMAGE),
        "audio": ("aud_id", _wav_encode, audio_fingerprints, AUDIO),
        "video": ("vid_id", _video_encode, video_fingerprints, VIDEO),
    }[modality]


@pytest.mark.parametrize("modality", ["image", "audio", "video"])
def test_index_stage_per_modality(spark, idx_dir, modality):
    """Stage 4 for every modality: build history, probe + extend through
    ``dedup_media_corpus``, then re-probe the extended index — the
    ``stage='index'`` attribution, the accounting, and the stored rows
    (shared ``img_id`` layout, epoch stamp) pinned per family."""
    from hive_serde_schema_gen_spark.operators.phash_index import (
        build_phash_index,
    )

    id_col, enc, fp_fn, family = _family_case(modality)
    schema = f"{id_col} long, payload binary"
    body_a = b"the one true media body, with some content"
    body_b = b"a completely different payload for this one"
    history = spark.createDataFrame([(100, enc(1, body_a))], schema)
    build_phash_index(fp_fn(history), idx_dir, n_files=1, family=family)

    acct: list = []
    d = spark.createDataFrame([(1, enc(1, body_a)), (4, enc(4, body_b))], schema)
    kept, attr, dropped = dedup_media_corpus(
        d, modality, index_path=idx_dir, extend_epoch=7, accounting=acct
    )
    rows = [(r[id_col], r["dup_of"], r["dist"], r["stage"]) for r in attr.collect()]
    assert rows == [(1, 100, 0, "index")]
    assert {r[id_col] for r in kept.collect()} == {4}
    assert dropped.count() == 0
    assert acct == [
        ("input", 2), ("byte_unique", 2), ("decoded", 2), ("dropped", 0),
        ("percept_kept", 2), ("index_novel", 1), ("kept", 1),
    ]
    stored = spark.read.parquet(f"{idx_dir}/hashes")
    assert stored.columns[:2] == ["img_id", "dhash"]
    assert sorted((r["img_id"], r["epoch"]) for r in stored.collect()) == [
        (4, 7), (100, None)
    ]

    # the extended index now holds id 4: the same payload under a new id
    # is a history match, attributed to the indexed id
    acct2: list = []
    d2 = spark.createDataFrame([(9, enc(4, body_b))], schema)
    kept2, attr2, _ = dedup_media_corpus(
        d2, modality, index_path=idx_dir, accounting=acct2
    )
    assert kept2.count() == 0
    rows2 = [(r[id_col], r["dup_of"], r["dist"], r["stage"]) for r in attr2.collect()]
    assert rows2 == [(9, 4, 0, "index")]
    assert dict(acct2)["index_novel"] == 0 and dict(acct2)["kept"] == 0


def test_unknown_modality_and_custom_id_guard(spark, idx_dir):
    d = spark.createDataFrame(
        [(1, _bmp_encode(1, b"body"))], "media_id long, payload binary"
    )
    with pytest.raises(ValueError, match="unknown modality"):
        dedup_media_corpus(d, "hologram")  # video became real in r16
    with pytest.raises(ValueError, match="default id column"):
        dedup_media_corpus(
            d, "image", id_col="media_id", index_path=idx_dir
        )
    # custom id without an index is fine
    kept, attr, dropped = dedup_media_corpus(d, "image", id_col="media_id")
    assert kept.count() == 1 and attr.count() == 0 and dropped.count() == 0
