"""Incremental media near-dup dedup against a PERSISTED fingerprint
index — the media twin of ``dedup_index.py``: a new batch dedups against
the historical corpus by probing an on-disk artifact, never re-decoding
the petabytes already processed.  One index serves every modality: a
:class:`MediaFamily` names the modality's id and hash columns, the meta
grid pin and its fingerprint function, and every function here takes
``family=`` (default :data:`IMAGE`).  (Batch twin:
``MediaFamily.near_dup_pairs`` / ``.dedup``, over
``media_core.phash_near_dup_pairs`` / ``phash_dedup``; streaming twin:
``streaming/media_ingest.py``.)

Index layout (parquet, under one directory; shared by all families, so
an audio frame ``(aud_id, afp)`` lands on disk as ``(img_id, dhash)``):

- ``bands/``  — ``(band, band_val, img_id)``: the 64-bit hash split
  into ``PHASH_BANDS`` byte bands, range-clustered + sorted on
  ``(band, band_val)`` so a probe batch's band values prune row groups
  via min/max footers (the ``dedup_index`` mechanics);
- ``hashes/`` — ``(img_id, dhash[, ahash], epoch)``: one row per
  indexed item — the FULL hash, so verification is EXACT popcount;
- ``meta/``   — one row pinning (version, n_bands, grid); probes assert
  the constants match, so an index built under different banding — or
  by another family (the grid pin differs per family) — fails loudly
  instead of silently missing candidates.

Two contracts are STRONGER than the MinHash index's:

1. verification is exact, not estimated — the whole 8-byte hash is
   stored (the MinHash index stores a 16-hash signature because exact
   Jaccard would need the shingle sets ≈ the corpus; a perceptual hash
   IS the whole fingerprint), so there is no ±1/16 borderline band;
2. recall at radius <= PHASH_BANDS − 1 is exact by pigeonhole — a probe
   is a deterministic operator, not an approximation.

Writer discipline is inherited: mutating writers hold the single-writer
lease (``manifest.index_writer_lock``); appends are new parquet files
(O(batch) per extend); :func:`compact_phash_index` reclaims replayed
duplicates and restores the range clustering without re-decoding any
payload.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .media_audio import AFP_WINDOWS, audio_fingerprints
from .media_core import (
    PHASH_BANDS,
    PHASH_GRID,
    PHASH_RADIUS,
    _band_rows,
    phash_dedup,
    phash_near_dup_pairs,
)
from .media_image import image_hashes
from .media_video import VFP_GRID_PIN, video_fingerprints


@dataclass(frozen=True)
class MediaFamily:
    """One modality's binding of the shared media machinery: its id and
    64-bit hash columns (``aux_cols`` ride along into the index), the
    meta ``grid`` pin, and ``fingerprint(df, id_col=…)`` (id, payload) →
    hash frame.  :meth:`near_dup_pairs` and :meth:`dedup` run the one
    banded-Hamming core over the family's columns."""

    name: str
    id_col: str
    hash_col: str
    aux_cols: tuple
    grid: int
    fingerprint: Callable

    def _cols(self, kw: dict) -> dict:
        # an explicit keyword wins (dedup_media_corpus passes its id_col)
        return {"hash_col": self.hash_col, "id_col": self.id_col, **kw}

    def near_dup_pairs(self, fps: DataFrame, **kw) -> DataFrame:
        """:func:`~.media_core.phash_near_dup_pairs` over this family's
        hash and id columns: ``(img_a, img_b, dist)``."""
        return phash_near_dup_pairs(fps, **self._cols(kw))

    def dedup(self, fps: DataFrame, **kw) -> DataFrame:
        """:func:`~.media_core.phash_dedup` (keep-first attribution) over
        this family's hash and id columns: ``(img_id, dup_of, dist)``
        keyed by the family's id."""
        return phash_dedup(fps, **self._cols(kw))


IMAGE = MediaFamily(
    "image", "img_id", "dhash", ("ahash",), PHASH_GRID, image_hashes
)
AUDIO = MediaFamily(
    "audio", "aud_id", "afp", (), AFP_WINDOWS, audio_fingerprints
)
VIDEO = MediaFamily(
    "video", "vid_id", "vfp", (), VFP_GRID_PIN, video_fingerprints
)
FAMILIES = {f.name: f for f in (IMAGE, AUDIO, VIDEO)}

PHASH_INDEX_VERSION = 1


def _index_band_rows(h: DataFrame) -> DataFrame:
    """(band, band_val, img_id) of a STORED-name frame: the batch
    operator's :func:`~.media_core._band_rows` under the stored column
    names, so batch and index probes can never disagree on candidates."""
    return _band_rows(h, PHASH_BANDS, "dhash", "img_id", None).select(
        F.col("__band").alias("band"), F.col("__bv").alias("band_val"),
        "img_id",
    )


def _select_stored(
    hashes: DataFrame, family: MediaFamily, aux: bool = True
) -> DataFrame:
    """Normalize a family's frame to the STORED column names (img_id,
    dhash[, aux…]) — the artifact layout is shared across families."""
    cols = [
        F.col(family.id_col).alias("img_id"),
        F.col(family.hash_col).alias("dhash"),
    ]
    if aux:
        cols += [F.col(c) for c in family.aux_cols]
    return hashes.select(*cols)


def build_phash_index(
    hashes: DataFrame,
    path: str,
    n_files: int = 32,
    owner: str | None = None,
    *,
    family: MediaFamily = IMAGE,
) -> None:
    """Build the persisted index from a ``family.fingerprint`` frame
    (e.g. ``image_hashes``: ``(img_id, …, dhash, ahash)``).  One pass:
    band rows range-clustered on (band, band_val); hash rows clustered on
    img_id for the verification join; the meta row pins
    ``family.grid``."""
    from ..sources.manifest import index_writer_lock

    spark = hashes.sparkSession
    with index_writer_lock(spark, path, owner):
        h = _select_stored(hashes, family).localCheckpoint()
        (
            _index_band_rows(h)
            .repartitionByRange(n_files, "band", "band_val")
            .sortWithinPartitions("band", "band_val")
            .write.mode("overwrite")
            .parquet(f"{path}/bands")
        )
        (
            h.withColumn("epoch", F.lit(None).cast("long"))
            .repartitionByRange(max(1, n_files // 4), "img_id")
            .sortWithinPartitions("img_id")
            .write.mode("overwrite")
            .parquet(f"{path}/hashes")
        )
        spark.createDataFrame(
            [(PHASH_INDEX_VERSION, PHASH_BANDS, family.grid)],
            "version int, n_bands int, grid int",
        ).write.mode("overwrite").parquet(f"{path}/meta")


def extend_phash_index(
    hashes: DataFrame,
    path: str,
    epoch: int | None = None,
    owner: str | None = None,
    *,
    family: MediaFamily = IMAGE,
) -> None:
    """Append a batch's band + hash rows (run AFTER dedup: index the
    SURVIVORS).  ``epoch`` stamps the hash rows with the writing
    micro-batch — the cross-epoch re-delivery attribution
    ``streaming/media_ingest.py`` depends on (same contract as
    ``extend_minhash_index``).  Appends are new files; clustering is
    restored by the next :func:`compact_phash_index`."""
    from ..sources.manifest import index_writer_lock

    with index_writer_lock(hashes.sparkSession, path, owner):
        _check_meta(hashes.sparkSession, path, family)
        h = _select_stored(hashes, family).localCheckpoint()
        _index_band_rows(h).write.mode("append").parquet(f"{path}/bands")
        h.withColumn("epoch", F.lit(epoch).cast("long")).write.mode(
            "append"
        ).parquet(f"{path}/hashes")


def _check_meta(spark: SparkSession, path: str, family: MediaFamily) -> None:
    m = spark.read.parquet(f"{path}/meta").collect()[0]
    got = (m["version"], m["n_bands"], m["grid"])
    want = (PHASH_INDEX_VERSION, PHASH_BANDS, family.grid)
    if got != want:
        raise ValueError(
            f"phash index at {path} was built with parameters {got}, "
            f"this build expects {want} — rebuild the index"
        )


def phash_against_index(
    new_hashes: DataFrame,
    path: str,
    radius: int = PHASH_RADIUS,
    broadcast_batch: bool = True,
    *,
    family: MediaFamily = IMAGE,
) -> DataFrame:
    """Probe the index with a batch's hash frame: ``(<id>, matched_<id>,
    dist)`` with ``<id> = family.id_col`` — one row per (new item,
    indexed item) pair within Hamming distance ``radius``; EXACT
    verification, exact recall for ``radius <= PHASH_BANDS - 1``.

    Scale shape: the batch's band rows broadcast (8 rows × ~24 bytes per
    item); the candidate join runs map-side over the on-disk bands scan
    with range-clustering pruning row groups — index data never
    shuffles.  The verify join reads only candidate hash rows."""
    spark = new_hashes.sparkSession
    _check_meta(spark, path, family)
    if radius > PHASH_BANDS - 1:
        raise ValueError(
            f"radius {radius} exceeds the exact-recall bound "
            f"{PHASH_BANDS - 1}; band the hash finer or lower the radius"
        )
    h_new = _select_stored(new_hashes, family, aux=False).localCheckpoint()
    bands_new = _index_band_rows(h_new)
    if broadcast_batch:
        bands_new = F.broadcast(bands_new)
    bands_idx = spark.read.parquet(f"{path}/bands")
    cand = (
        bands_idx.alias("i")
        .join(
            bands_new.alias("n"),
            (F.col("i.band") == F.col("n.band"))
            & (F.col("i.band_val") == F.col("n.band_val")),
        )
        .select(
            F.col("n.img_id").alias("img_id"),
            F.col("i.img_id").alias("matched_img_id"),
        )
        .distinct()
    )
    # Dedupe the verify side on (img_id, dhash), IGNORING epoch: the
    # same img_id extended under two different epochs leaves two rows
    # that differ only in epoch (compact's distinct keeps both — the
    # epoch stamp is load-bearing for replay idempotence), and joining
    # both would emit each match twice.  Projection before distinct
    # keeps this a 2-column scan.
    hashes_idx = (
        spark.read.parquet(f"{path}/hashes")
        .select("img_id", "dhash")
        .distinct()
    )
    dist = F.bit_count(F.col("a.dhash").bitwiseXOR(F.col("b.dhash")))
    return (
        cand.join(h_new.alias("a"), cand["img_id"] == F.col("a.img_id"))
        .join(
            hashes_idx.alias("b"),
            cand["matched_img_id"] == F.col("b.img_id"),
        )
        .select(
            cand["img_id"].alias(family.id_col),
            cand["matched_img_id"].alias(f"matched_{family.id_col}"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") <= radius)
    )


def novel_images(
    new_hashes: DataFrame,
    matches: DataFrame,
    id_col: str = "img_id",
) -> DataFrame:
    """The batch rows with no index match — the survivors to keep and
    index (left-anti on the id; the probe names its output id column
    ``family.id_col``, so both sides share ``id_col``)."""
    return new_hashes.join(
        matches.select(id_col).distinct(),
        id_col,
        "left_anti",
    )


def compact_phash_index(
    spark: SparkSession,
    path: str,
    n_files: int = 32,
    owner: str | None = None,
    *,
    family: MediaFamily = IMAGE,
) -> None:
    """Rewrite an appended-to index back into its initial clustering —
    exact-duplicate rows (a replayed extend's copies are row-identical,
    epoch included) dropped, range clustering restored; O(index rows),
    no payload ever re-decoded.  Same swap discipline as
    ``compact_minhash_index``: rewrite to temp dirs under the lease,
    then swap."""
    from ..sources.manifest import index_writer_lock
    from .text_index import _swap_rewrite

    with index_writer_lock(spark, path, owner):
        _check_meta(spark, path, family)
        bands = spark.read.parquet(f"{path}/bands").distinct()
        hashes = spark.read.parquet(f"{path}/hashes").distinct()
        _swap_rewrite(
            spark, path, "bands",
            lambda tmp: bands.repartitionByRange(n_files, "band", "band_val")
            .sortWithinPartitions("band", "band_val")
            .write.parquet(tmp),
        )
        _swap_rewrite(
            spark, path, "hashes",
            lambda tmp: hashes.repartitionByRange(
                max(1, n_files // 4), "img_id"
            )
            .sortWithinPartitions("img_id")
            .write.parquet(tmp),
        )
