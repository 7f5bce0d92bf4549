"""Persisted pHash index (`operators/phash_index.py`) + streaming image
ingest (`streaming/media_ingest.py`): build→probe parity with the batch
operator, exact recall at the radius bound, extend/probe across batches,
replay idempotence (the ingest.py interleavings applied to images),
compaction, meta guards, and a real file-stream drive."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.slow  # regression-depth tail (see pyproject.toml)
from pyspark.sql import functions as F

from hive_serde_schema_gen_spark.operators.media_core import (
    PHASH_RADIUS,
    _bmp_encode,
    phash_near_dup_pairs,
)
from hive_serde_schema_gen_spark.operators.media_image import image_hashes
from hive_serde_schema_gen_spark.operators.phash_index import (
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


def _img(i, text):
    return (i, _bmp_encode(i, text))


# base corpus: four distinct images
CORPUS = [
    _img(1, b"the first corpus image body with words"),
    _img(2, b"a second, different corpus image body"),
    _img(3, b"third body that is unlike the others!"),
    _img(4, b"fourth and final base image content.."),
]
# batch: an exact copy of image 2's content (new id, SAME doc params →
# same pixels requires same (id, text) — so plant a copy via id 2's
# construction), a near-dup (one byte changed), and novel images
COPY_OF_2 = (102, _bmp_encode(2, b"a second, different corpus image body"))
NEAR_2 = (103, _bmp_encode(2, b"a second, differant corpus image body"))
NOVEL_A = _img(105, b"completely new payload number five....")
NOVEL_B = _img(106, b"another brand new image, number six...")


@pytest.fixture()
def dirs():
    root = tempfile.mkdtemp(prefix="phash_index_")
    d = {n: os.path.join(root, n) for n in ("in", "index", "out", "chk")}
    os.makedirs(d["in"])
    yield d
    shutil.rmtree(root, ignore_errors=True)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "img_id long, payload binary")


def test_build_probe_matches_batch_operator(spark, dirs):
    corpus = _frame(spark, CORPUS)
    build_phash_index(image_hashes(corpus), dirs["index"], n_files=2)
    batch = _frame(spark, [COPY_OF_2, NEAR_2, NOVEL_A])
    bh = image_hashes(batch).localCheckpoint()
    got = {
        (r["img_id"], r["matched_img_id"], r["dist"])
        for r in phash_against_index(bh, dirs["index"]).collect()
    }
    # batch twin: pairs between batch and corpus under the SAME banding
    both = image_hashes(corpus.unionAll(batch)).localCheckpoint()
    want = {
        (b, a, d)
        for a, b, d in (
            (r["img_a"], r["img_b"], r["dist"])
            for r in phash_near_dup_pairs(both).collect()
        )
        if a <= 4 < b  # corpus × batch pairs only, batch id first
    }
    assert got == want
    assert (102, 2, 0) in got  # the exact copy
    # the near-dup is found iff within the radius — consistent either way
    novel = {r["img_id"] for r in novel_images(
        bh, phash_against_index(bh, dirs["index"])).collect()}
    assert 105 in novel and 102 not in novel


def test_radius_bound_enforced(spark, dirs):
    corpus = _frame(spark, CORPUS)
    build_phash_index(image_hashes(corpus), dirs["index"], n_files=2)
    with pytest.raises(ValueError, match="exact-recall bound"):
        phash_against_index(
            image_hashes(_frame(spark, [NOVEL_A])), dirs["index"], radius=8
        )


def test_extend_then_probe_sees_new_history(spark, dirs):
    build_phash_index(
        image_hashes(_frame(spark, CORPUS)), dirs["index"], n_files=2
    )
    extend_phash_index(
        image_hashes(_frame(spark, [NOVEL_A])), dirs["index"], epoch=1
    )
    # a copy of NOVEL_A's content now matches the extended index
    probe = image_hashes(
        _frame(spark, [(205, _bmp_encode(105, b"completely new payload number five...."))])
    )
    got = {
        (r["img_id"], r["matched_img_id"], r["dist"])
        for r in phash_against_index(probe, dirs["index"]).collect()
    }
    assert (205, 105, 0) in got


def test_ingest_replay_idempotent(spark, dirs):
    """THE replay hazard, image edition: the epoch's extend committed,
    the streaming checkpoint did not — the replayed batch must recompute
    the same novel set (self-matches excluded), rewrite the same epoch
    dir, and a later re-delivery of an accepted id must be rejected."""
    build_phash_index(
        image_hashes(_frame(spark, CORPUS)), dirs["index"], n_files=2
    )
    b0 = _frame(spark, [COPY_OF_2, NOVEL_A, NOVEL_B])
    process_media_ingest_batch(b0, 0, dirs["index"], dirs["out"])
    first = {
        r["img_id"]
        for r in read_ingested_media(spark, dirs["out"]).collect()
    }
    # full replay of epoch 0 after its extend committed
    process_media_ingest_batch(b0, 0, dirs["index"], dirs["out"])
    again = {
        r["img_id"]
        for r in read_ingested_media(spark, dirs["out"]).collect()
    }
    assert first == again == {105, 106}
    # cross-epoch re-delivery of an accepted id: rejected outright
    b1 = _frame(spark, [NOVEL_A, _img(301, b"novel in epoch one, a new payload !!")])
    process_media_ingest_batch(b1, 1, dirs["index"], dirs["out"])
    final = {
        r["img_id"]
        for r in read_ingested_media(spark, dirs["out"]).collect()
    }
    assert final == {105, 106, 301}


def test_compaction_preserves_probe_results(spark, dirs):
    build_phash_index(
        image_hashes(_frame(spark, CORPUS)), dirs["index"], n_files=2
    )
    ext = image_hashes(_frame(spark, [NOVEL_A]))
    extend_phash_index(ext, dirs["index"], epoch=1)
    extend_phash_index(ext, dirs["index"], epoch=1)  # replayed append
    probe = image_hashes(_frame(spark, [COPY_OF_2, NOVEL_B]))
    before = {
        (r["img_id"], r["matched_img_id"], r["dist"])
        for r in phash_against_index(probe, dirs["index"]).collect()
    }
    n_before = spark.read.parquet(f"{dirs['index']}/hashes").count()
    compact_phash_index(spark, dirs["index"], n_files=2)
    after = {
        (r["img_id"], r["matched_img_id"], r["dist"])
        for r in phash_against_index(probe, dirs["index"]).collect()
    }
    n_after = spark.read.parquet(f"{dirs['index']}/hashes").count()
    assert before == after
    assert n_after == n_before - 1  # the replayed duplicate row reclaimed


def test_meta_guard(spark, dirs, tmp_path):
    build_phash_index(
        image_hashes(_frame(spark, CORPUS)), dirs["index"], n_files=2
    )
    # corrupt the pinned banding
    spark.createDataFrame(
        [(1, 4, 8)], "version int, n_bands int, grid int"
    ).write.mode("overwrite").parquet(f"{dirs['index']}/meta")
    with pytest.raises(ValueError, match="rebuild the index"):
        phash_against_index(
            image_hashes(_frame(spark, [NOVEL_A])), dirs["index"]
        )


def test_real_stream_drive(spark, dirs):
    build_phash_index(
        image_hashes(_frame(spark, CORPUS)), dirs["index"], n_files=2
    )

    def _write(name, rows):
        ids, pays = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "img_id": pa.array(ids, pa.int64()),
                    "payload": pa.array(list(pays), pa.binary()),
                }
            ),
            os.path.join(dirs["in"], name),
        )

    stream = (
        spark.readStream.schema("img_id long, payload binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["in"])
    )
    q = start_media_ingest(
        stream,
        dirs["index"],
        dirs["out"],
        dirs["chk"],
        query_name=f"img_ingest_{int(time.time() * 1000)}",
    )
    try:
        _write("b0.parquet", [COPY_OF_2, NOVEL_A])
        q.processAllAvailable()
        _write("b1.parquet", [NOVEL_A, NOVEL_B])  # re-delivery + novel
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["img_id"]
        for r in read_ingested_media(spark, dirs["out"]).collect()
    }
    assert got == {105, 106}
