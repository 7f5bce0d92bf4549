"""Persisted AFP (audio fingerprint) index (`operators/phash_index.py`
under the AUDIO family) + streaming audio ingest
(`streaming/media_ingest.py`): build→probe parity
with the batch operator, extend/probe across batches, replay idempotence
(the ingest.py interleavings applied to audio), compaction, the
cross-family meta guard, and a real file-stream drive — the audio
edition of tests/test_phash_index.py."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.slow  # regression-depth tail (see pyproject.toml)

from hive_serde_schema_gen_spark.operators.media_audio import (
    _wav_encode,
    audio_fingerprints,
)
from hive_serde_schema_gen_spark.operators.phash_index import (
    AUDIO,
    build_phash_index,
    compact_phash_index,
    extend_phash_index,
    novel_images,
    phash_against_index,
)
from hive_serde_schema_gen_spark.streaming.media_ingest import (
    process_media_ingest_batch,
    read_ingested_media,
    start_media_ingest,
)


def _clip(i, text):
    return (i, _wav_encode(i, text))


CORPUS = [
    _clip(1, b"the first corpus audio clip body with words"),
    _clip(2, b"a second, different corpus audio clip body"),
    _clip(3, b"third body that is unlike the other clips!"),
    _clip(4, b"fourth and final base clip content here..."),
]
# exact copy of clip 2's samples (same (id, text) construction, new id),
# a near-dup (one byte changed), and novel clips
COPY_OF_2 = (102, _wav_encode(2, b"a second, different corpus audio clip body"))
NEAR_2 = (103, _wav_encode(2, b"a second, differant corpus audio clip body"))
NOVEL_A = _clip(105, b"completely new payload number five, audio..")
NOVEL_B = _clip(106, b"another brand new clip, number six, audio..")


@pytest.fixture()
def dirs():
    root = tempfile.mkdtemp(prefix="afp_index_")
    d = {n: os.path.join(root, n) for n in ("in", "index", "out", "chk")}
    os.makedirs(d["in"])
    yield d
    shutil.rmtree(root, ignore_errors=True)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "aud_id long, payload binary")


def test_build_probe_matches_batch_operator(spark, dirs):
    corpus = _frame(spark, CORPUS)
    build_phash_index(
        audio_fingerprints(corpus), dirs["index"], n_files=2, family=AUDIO
    )
    batch = _frame(spark, [COPY_OF_2, NEAR_2, NOVEL_A])
    bf = audio_fingerprints(batch).localCheckpoint()
    got = {
        (r["aud_id"], r["matched_aud_id"], r["dist"])
        for r in phash_against_index(bf, dirs["index"], family=AUDIO).collect()
    }
    both = audio_fingerprints(corpus.unionAll(batch)).localCheckpoint()
    want = {
        (b, a, d)
        for a, b, d in (
            (r["img_a"], r["img_b"], r["dist"])
            for r in AUDIO.near_dup_pairs(both).collect()
        )
        if a <= 4 < b  # corpus × batch pairs only, batch id first
    }
    assert got == want
    assert (102, 2, 0) in got  # the exact copy
    novel = {
        r["aud_id"]
        for r in novel_images(
            bf, phash_against_index(bf, dirs["index"], family=AUDIO),
            AUDIO.id_col,
        ).collect()
    }
    assert 105 in novel and 102 not in novel


def test_extend_then_probe_sees_new_history(spark, dirs):
    build_phash_index(
        audio_fingerprints(_frame(spark, CORPUS)), dirs["index"], n_files=2,
        family=AUDIO,
    )
    extend_phash_index(
        audio_fingerprints(_frame(spark, [NOVEL_A])), dirs["index"], epoch=1,
        family=AUDIO,
    )
    probe = audio_fingerprints(
        _frame(
            spark,
            [(205, _wav_encode(105, b"completely new payload number five, audio.."))],
        )
    )
    got = {
        (r["aud_id"], r["matched_aud_id"], r["dist"])
        for r in phash_against_index(
            probe, dirs["index"], family=AUDIO
        ).collect()
    }
    assert (205, 105, 0) in got


def test_cross_family_meta_guard(spark, dirs):
    """An IMAGE-built index probed as an audio index fails loudly on the
    grid pin (8 vs 65) — the shared-layout hazard the meta row exists
    for."""
    from hive_serde_schema_gen_spark.operators.media_core import _bmp_encode
    from hive_serde_schema_gen_spark.operators.media_image import image_hashes
    from hive_serde_schema_gen_spark.operators.phash_index import (
        build_phash_index,
    )

    imgs = spark.createDataFrame(
        [(1, _bmp_encode(1, b"an image body, not audio at all here"))],
        "img_id long, payload binary",
    )
    build_phash_index(image_hashes(imgs), dirs["index"], n_files=1)
    with pytest.raises(ValueError, match="rebuild the index"):
        phash_against_index(
            audio_fingerprints(_frame(spark, [NOVEL_A])), dirs["index"],
            family=AUDIO,
        )


def test_ingest_replay_idempotent(spark, dirs):
    build_phash_index(
        audio_fingerprints(_frame(spark, CORPUS)), dirs["index"], n_files=2,
        family=AUDIO,
    )
    b0 = _frame(spark, [COPY_OF_2, NOVEL_A, NOVEL_B])
    process_media_ingest_batch(b0, 0, dirs["index"], dirs["out"], family=AUDIO)
    first = {
        r["aud_id"] for r in read_ingested_media(spark, dirs["out"]).collect()
    }
    # full replay of epoch 0 after its extend committed
    process_media_ingest_batch(b0, 0, dirs["index"], dirs["out"], family=AUDIO)
    again = {
        r["aud_id"] for r in read_ingested_media(spark, dirs["out"]).collect()
    }
    assert first == again == {105, 106}
    # cross-epoch re-delivery of an accepted id: rejected outright
    b1 = _frame(
        spark,
        [NOVEL_A, _clip(301, b"novel in epoch one, a new audio payload")],
    )
    process_media_ingest_batch(b1, 1, dirs["index"], dirs["out"], family=AUDIO)
    final = {
        r["aud_id"] for r in read_ingested_media(spark, dirs["out"]).collect()
    }
    assert final == {105, 106, 301}


def test_compaction_preserves_probe_results(spark, dirs):
    build_phash_index(
        audio_fingerprints(_frame(spark, CORPUS)), dirs["index"], n_files=2,
        family=AUDIO,
    )
    ext = audio_fingerprints(_frame(spark, [NOVEL_A]))
    extend_phash_index(ext, dirs["index"], epoch=1, family=AUDIO)
    extend_phash_index(ext, dirs["index"], epoch=1, family=AUDIO)  # replayed append
    probe = audio_fingerprints(_frame(spark, [COPY_OF_2, NOVEL_B]))
    before = {
        (r["aud_id"], r["matched_aud_id"], r["dist"])
        for r in phash_against_index(
            probe, dirs["index"], family=AUDIO
        ).collect()
    }
    n_before = spark.read.parquet(f"{dirs['index']}/hashes").count()
    compact_phash_index(spark, dirs["index"], n_files=2, family=AUDIO)
    after = {
        (r["aud_id"], r["matched_aud_id"], r["dist"])
        for r in phash_against_index(
            probe, dirs["index"], family=AUDIO
        ).collect()
    }
    n_after = spark.read.parquet(f"{dirs['index']}/hashes").count()
    assert before == after
    assert n_after == n_before - 1  # the replayed duplicate row reclaimed


def test_real_stream_drive(spark, dirs):
    build_phash_index(
        audio_fingerprints(_frame(spark, CORPUS)), dirs["index"], n_files=2,
        family=AUDIO,
    )

    def _write(name, rows):
        ids, pays = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "aud_id": pa.array(ids, pa.int64()),
                    "payload": pa.array(list(pays), pa.binary()),
                }
            ),
            os.path.join(dirs["in"], name),
        )

    stream = (
        spark.readStream.schema("aud_id long, payload binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["in"])
    )
    q = start_media_ingest(
        stream,
        dirs["index"],
        dirs["out"],
        dirs["chk"],
        query_name=f"aud_ingest_{int(time.time() * 1000)}",
        family=AUDIO,
    )
    try:
        _write("b0.parquet", [COPY_OF_2, NOVEL_A])
        q.processAllAvailable()
        _write("b1.parquet", [NOVEL_A, NOVEL_B])  # re-delivery + novel
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["aud_id"] for r in read_ingested_media(spark, dirs["out"]).collect()
    }
    assert got == {105, 106}