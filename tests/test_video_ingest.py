"""Streaming video ingest (`streaming/media_ingest.py`, VIDEO) against the
persisted vfp index: replay idempotence (the ingest.py interleavings
applied to video), cross-epoch re-delivery rejection, compaction, and a
real file-stream drive — the video edition of the audio tests in
tests/test_afp_index.py."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.slow  # regression-depth tail (see pyproject.toml)

from hive_serde_schema_gen_spark.operators.media_video import (
    _video_encode,
    _video_redub,
    video_fingerprints,
)
from hive_serde_schema_gen_spark.operators.phash_index import (
    VIDEO,
    build_phash_index,
    compact_phash_index,
    phash_against_index,
)
from hive_serde_schema_gen_spark.streaming.media_ingest import (
    process_media_ingest_batch,
    read_ingested_media,
    start_media_ingest,
)


def _vid(i, text):
    return (i, _video_encode(i, text))


CORPUS = [
    _vid(1, b"the first corpus video body with enough words"),
    _vid(2, b"a second, different corpus video body here.."),
    _vid(3, b"third body that is unlike the other videos!!"),
    _vid(4, b"fourth and final base video content, yes sir"),
]
# byte-identical copy of video 2's construction under a new id, a
# re-dub near-dup (n = 1+2%8 = 3 frames, odd -> fp bit-identical), and
# novel videos
COPY_OF_2 = (102, _video_encode(2, b"a second, different corpus video body here.."))
REDUB_2 = (103, _video_redub(2, b"a second, different corpus video body here.."))
NOVEL_A = _vid(105, b"completely new payload number five, video...")
NOVEL_B = _vid(106, b"another brand new video, number six, right..")


@pytest.fixture()
def dirs():
    root = tempfile.mkdtemp(prefix="vfp_index_")
    d = {n: os.path.join(root, n) for n in ("in", "index", "out", "chk")}
    os.makedirs(d["in"])
    yield d
    shutil.rmtree(root, ignore_errors=True)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "vid_id long, payload binary")


def test_redub_matches_index_at_distance_zero(spark, dirs):
    build_phash_index(
        video_fingerprints(_frame(spark, CORPUS)), dirs["index"], n_files=2,
        family=VIDEO,
    )
    probe = video_fingerprints(_frame(spark, [REDUB_2, NOVEL_A]))
    got = {
        (r["vid_id"], r["matched_vid_id"], r["dist"])
        for r in phash_against_index(
            probe, dirs["index"], family=VIDEO
        ).collect()
    }
    assert (103, 2, 0) in got
    assert not any(v == 105 for v, _, _ in got)


def test_ingest_replay_idempotent(spark, dirs):
    build_phash_index(
        video_fingerprints(_frame(spark, CORPUS)), dirs["index"], n_files=2,
        family=VIDEO,
    )
    b0 = _frame(spark, [COPY_OF_2, NOVEL_A, NOVEL_B])
    process_media_ingest_batch(b0, 0, dirs["index"], dirs["out"], family=VIDEO)
    first = {
        r["vid_id"]
        for r in read_ingested_media(spark, dirs["out"]).collect()
    }
    # full replay of epoch 0 after its extend committed
    process_media_ingest_batch(b0, 0, dirs["index"], dirs["out"], family=VIDEO)
    again = {
        r["vid_id"]
        for r in read_ingested_media(spark, dirs["out"]).collect()
    }
    assert first == again == {105, 106}
    # cross-epoch re-delivery of an accepted id: rejected outright
    b1 = _frame(
        spark,
        [NOVEL_A, _vid(301, b"novel in epoch one, a new video payload!")],
    )
    process_media_ingest_batch(b1, 1, dirs["index"], dirs["out"], family=VIDEO)
    final = {
        r["vid_id"]
        for r in read_ingested_media(spark, dirs["out"]).collect()
    }
    assert final == {105, 106, 301}


def test_compaction_preserves_probe_results(spark, dirs):
    from hive_serde_schema_gen_spark.operators.phash_index import (
        extend_phash_index,
    )

    build_phash_index(
        video_fingerprints(_frame(spark, CORPUS)), dirs["index"], n_files=2,
        family=VIDEO,
    )
    ext = video_fingerprints(_frame(spark, [NOVEL_A]))
    extend_phash_index(ext, dirs["index"], epoch=1, family=VIDEO)
    extend_phash_index(ext, dirs["index"], epoch=1, family=VIDEO)  # replayed append
    probe = video_fingerprints(_frame(spark, [COPY_OF_2, NOVEL_B]))
    before = {
        (r["vid_id"], r["matched_vid_id"], r["dist"])
        for r in phash_against_index(
            probe, dirs["index"], family=VIDEO
        ).collect()
    }
    n_before = spark.read.parquet(f"{dirs['index']}/hashes").count()
    compact_phash_index(spark, dirs["index"], n_files=2, family=VIDEO)
    after = {
        (r["vid_id"], r["matched_vid_id"], r["dist"])
        for r in phash_against_index(
            probe, dirs["index"], family=VIDEO
        ).collect()
    }
    n_after = spark.read.parquet(f"{dirs['index']}/hashes").count()
    assert before == after
    assert n_after == n_before - 1  # the replayed duplicate row reclaimed


def test_real_stream_drive(spark, dirs):
    build_phash_index(
        video_fingerprints(_frame(spark, CORPUS)), dirs["index"], n_files=2,
        family=VIDEO,
    )

    def _write(name, rows):
        ids, pays = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "vid_id": pa.array(ids, pa.int64()),
                    "payload": pa.array(list(pays), pa.binary()),
                }
            ),
            os.path.join(dirs["in"], name),
        )

    stream = (
        spark.readStream.schema("vid_id long, payload binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["in"])
    )
    q = start_media_ingest(
        stream,
        dirs["index"],
        dirs["out"],
        dirs["chk"],
        query_name=f"vid_ingest_{int(time.time() * 1000)}",
        family=VIDEO,
    )
    try:
        _write("b0.parquet", [COPY_OF_2, NOVEL_A])
        q.processAllAvailable()
        _write("b1.parquet", [NOVEL_A, NOVEL_B])  # re-delivery + novel
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["vid_id"]
        for r in read_ingested_media(spark, dirs["out"]).collect()
    }
    assert got == {105, 106}
