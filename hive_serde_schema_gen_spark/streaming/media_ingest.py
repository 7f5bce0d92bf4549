"""Continuous media-ingest dedup against the persisted fingerprint index
(``operators/phash_index.py``) — the media edition of
``streaming/ingest.py``, one module for every modality: a
:class:`~..operators.phash_index.MediaFamily` (``IMAGE``, ``AUDIO``,
``VIDEO``) names the id and hash columns, the fingerprint function and
the index's grid pin.  Every micro-batch of ``(<id>, payload)`` rows
fingerprints its items (image dHash/aHash, audio energy-difference
fingerprint, video majority-pooled frame dHash), probes the on-disk
index, keeps only novel items, and appends the survivors to BOTH the
curated output and the index, so later batches (and later days) dedup
against every item ever accepted at O(batch) cost.

The replay discipline is the one ``ingest.py`` proved for text, applied
verbatim (same interleavings, same guards):

- the curated output is a deterministic ``epoch=N`` overwrite dir;
- the probe EXCLUDES matches against ids present in the incoming batch
  itself (a replayed epoch whose extend already committed would
  otherwise match itself at distance 0, empty ``novel``, and erase the
  epoch dir);
- batch ids already indexed under a DIFFERENT epoch (or a None epoch:
  batch-built history) are cross-epoch RE-DELIVERIES and are rejected
  before the probe, so only this epoch's own replayed rows ever reach
  the self-match exclusion;
- index appends duplicated by a replay are row-identical and reclaimed
  by the next ``compact_phash_index``.

Intra-batch: exact-hash duplicates WITHIN one batch collapse to the
minimum id before the probe (two copies arriving together are both
absent from the index); intra-batch NEAR-dups are invisible to the
probe until the next batch — run ``family.near_dup_pairs`` over the
(small) novel set in-line when that matters, exactly the text caveat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.phash_index import (
    IMAGE,
    MediaFamily,
    extend_phash_index,
    novel_images,
    phash_against_index,
)


def _novel_fps_for_batch(
    batch: DataFrame, index_path: str, intra_batch: bool, epoch_id: int,
    family: MediaFamily,
) -> DataFrame | None:
    """The family's fingerprint rows of the batch's novel items, or None
    for an effectively-empty batch — the shared probe pipeline with the
    two replay-correctness joins (see module docstring)."""
    if batch.isEmpty():
        return None
    id_col = family.id_col
    fps = family.fingerprint(batch, id_col=id_col).localCheckpoint()
    if intra_batch:
        from pyspark.sql.window import Window as W

        w = W.partitionBy(family.hash_col).orderBy(id_col)
        fps = (
            fps.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint()
        )
    # the shared artifact layout stores the id as img_id
    idx_fps = batch.sparkSession.read.parquet(f"{index_path}/hashes")
    foreign = (
        idx_fps.filter(~F.col("epoch").eqNullSafe(F.lit(epoch_id)))
        .select(F.col("img_id").alias(id_col))
        .join(F.broadcast(fps.select(id_col)), id_col, "left_semi")
        .distinct()
    )
    fps = fps.join(F.broadcast(foreign), id_col, "left_anti").localCheckpoint()
    if fps.isEmpty():
        return None
    matched = f"matched_{id_col}"
    matches = phash_against_index(fps, index_path, family=family).join(
        fps.select(F.col(id_col).alias(matched)), matched, "left_anti"
    )
    return novel_images(fps, matches, id_col).localCheckpoint()


def process_media_ingest_batch(
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    out_path: str,
    intra_batch: bool = True,
    *,
    family: MediaFamily = IMAGE,
) -> None:
    """One micro-batch → novel items → epoch-dir write + index extend
    (plain function so the replay path is directly testable).  The epoch
    dir stores (id, payload) of the ACCEPTED items — joined back to the
    batch by id, since the fingerprint frame deliberately dropped the
    payloads."""
    novel = _novel_fps_for_batch(
        batch, index_path, intra_batch, epoch_id, family
    )
    if novel is None:
        return
    id_col = family.id_col
    accepted = batch.join(F.broadcast(novel.select(id_col)), id_col)
    accepted.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")
    extend_phash_index(
        novel, index_path, epoch=epoch_id,
        owner=f"{family.name}-ingest:{out_path}", family=family,
    )


def start_media_ingest(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    intra_batch: bool = True,
    query_name: str | None = None,
    *,
    family: MediaFamily = IMAGE,
):
    """Start the ingest query over an ``(<id>, payload, …)`` stream
    (query name defaults to ``<family>_ingest``); returns the
    StreamingQuery."""

    def _process(batch: DataFrame, epoch_id: int) -> None:
        process_media_ingest_batch(
            batch, epoch_id, index_path, out_path, intra_batch=intra_batch,
            family=family,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name or f"{family.name}_ingest")
        .start()
    )


def read_ingested_media(spark, out_path: str) -> DataFrame:
    """The accepted corpus across all epochs (hive-partitioned, so
    readers prune by epoch range)."""
    return spark.read.option("basePath", out_path).parquet(
        f"{out_path}/epoch=*"
    )
