"""The one-call staged media-dedup pipeline (byte collapse BEFORE any
decode, then fingerprint, then perceptual keep-first, then the optional
persisted-index probe) and its accounting surfaces, for any media
family (``phash_index.FAMILIES``).  Split out of ``multimodal.py`` in
round 17.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .media_core import PHASH_BANDS, PHASH_RADIUS
from .phash_index import (
    FAMILIES,
    extend_phash_index,
    novel_images,
    phash_against_index,
)

#: op='macct'/'ddrop' configuration (round 16): the media-dedup
#: ACCOUNTING under the hash gate.  The planted corpus = the distinct-
#: text doc slice's base BMPs + byte-identical copies of its even-id
#: half + undecodable garbage payloads; the oracle re-derives every
#: stage count, including the byte-equivalence classes EXACTLY (two
#: distinct texts can share a payload when the pixel buffer is a common
#: cyclic prefix — e.g. planted repetitive texts — so the class key is
#: (w, h, cycled-pixel-prefix), never "texts are distinct").
MACCT_SEL_MOD = 3
MACCT_GARB_MOD = 11
MACCT_COPY_OFFSET = 40_000_000
MACCT_GARB_OFFSET = 50_000_000
_MACCT_ORD = {
    "input": 0,
    "byte_unique": 1,
    "decoded": 2,
    "dropped": 3,
    "percept_kept": 4,
    "kept": 5,
}



def decode_drop_report(inp, out, id_col: str):
    """Accounting for a skip-on-error decode stage: ``(n_input,
    n_decoded, n_dropped)`` — the WET reader's malformed-member
    discipline applied to :func:`image_hashes` /
    :func:`audio_fingerprints`, so a crawl batch that silently loses 30%
    of its payloads to decode failures shows a NUMBER in the pipeline's
    reconciliation instead of vanishing.  ONE union + aggregate (map-side
    combined, metadata-sized output, no join at all — round 16 replaced
    the 1-row crossJoin combine); the ids themselves quarantine via a
    left-anti join on ``id_col`` when the caller wants the rows."""
    u = inp.select(F.lit(0).alias("__side")).unionAll(
        out.select(F.lit(1).alias("__side"))
    )
    return u.groupBy().agg(
        F.count(F.when(F.col("__side") == 0, 1)).alias("n_input"),
        F.count(F.when(F.col("__side") == 1, 1)).alias("n_decoded"),
    ).select(
        "n_input",
        "n_decoded",
        (F.col("n_input") - F.col("n_decoded")).alias("n_dropped"),
    )


def dedup_media_corpus(
    payloads,
    modality: str = "image",
    id_col: str | None = None,
    radius: int = PHASH_RADIUS,
    n_bands: int = PHASH_BANDS,
    max_bucket: int | None = None,
    index_path: str | None = None,
    extend_epoch: int | None = None,
    extend_index: bool = True,
    strategy: str = "auto",
    accounting: list | None = None,
):
    """One-call media dedup over an ``(id, payload)`` frame — the media
    sibling of ``corpus.crawl_to_shards``'s text chain, staged the way a
    production pipeline must be at 100 TB: **byte-identical collapse
    runs BEFORE any decode** (an md5 over raw payload bytes — decode is
    the expensive stage, and a crawl's exact re-downloads are legion, so
    the cheap hash pass pays for itself immediately), then
    decode + fingerprint only the byte-unique survivors, then perceptual
    keep-first dedup, then (optionally) a probe of the persisted index
    so the batch also dedups against every payload ever accepted — with
    the accepted fingerprints extended into the index.

    Returns ``(kept, attribution, dropped)``:

    - ``kept``: the accepted input rows (id + payload + any other input
      columns);
    - ``attribution``: ``(id, dup_of, dist, stage)`` — stage ∈
      ``'byte'`` (identical payload bytes), ``'percept'`` (within
      ``radius`` of a kept batch payload), ``'index'`` (matched
      history; ``dup_of`` is the indexed id);
    - ``dropped``: ids whose payloads failed decode (the
      :func:`decode_drop_report` discipline — the count is also
      appended to ``accounting`` as the ``'dropped'`` stage).

    ``accounting=[]`` receives ``(stage, rows)`` per stage — input,
    byte_unique, decoded, dropped, percept_kept, [index_novel,] kept —
    the ``curate_documents`` reconciliation audit: input = kept + byte
    dups + percept dups + index matches + dropped, asserted in tests.

    ``strategy`` defaults to ``'auto'`` (round 16): the perceptual
    stage picks 'anchor' when the band-bucket diagnostic trips (mega
    near-dup clusters — the common case in a re-encoded crawl) and
    minpair otherwise; see :func:`phash_dedup`.

    Scale shape: one hash-partition shuffle for the byte collapse, one
    Arrow decode pass over survivors only, the banded-Hamming join among
    representatives (never all-pairs), and — with an index — a
    broadcast-batch probe over the range-clustered artifact.  Every
    intermediate consumed twice is lineage-cut."""
    if radius > n_bands - 1:
        raise ValueError(
            f"radius {radius} > n_bands-1 ({n_bands - 1}): banded recall "
            "is only exact up to n_bands-1 bit flips and the stage-4 "
            "index probe enforces the same bound — fail here, before any "
            "stage runs, instead of silently-approximate stages 1-3"
        )
    if modality not in FAMILIES:
        raise ValueError(f"unknown modality {modality!r}")
    family = FAMILIES[modality]
    id_col = id_col or family.id_col

    def _acct(stage, frame):
        if accounting is not None:
            accounting.append((stage, frame.count()))

    _acct("input", payloads)
    # stage 1: byte-identical collapse, NO decode — md5 over raw bytes
    # (the dedup_exact digest discipline applied to payloads)
    h = payloads.withColumn("__bh", F.md5(F.col("payload"))).localCheckpoint()
    reps = h.groupBy("__bh").agg(F.min(id_col).alias("__rep"))
    byte_dups = (
        h.join(reps, "__bh")
        .filter(F.col(id_col) > F.col("__rep"))
        .select(
            F.col(id_col),
            F.col("__rep").alias("dup_of"),
            F.lit(0).alias("dist"),
            F.lit("byte").alias("stage"),
        )
    )
    survivors = (
        h.join(
            reps.select(F.col("__rep").alias(id_col)), id_col, "left_semi"
        )
        .drop("__bh")
        .localCheckpoint()
    )
    _acct("byte_unique", survivors)
    # stage 2: decode + fingerprint the survivors only
    fps = family.fingerprint(
        survivors.select(id_col, "payload"), id_col=id_col
    ).localCheckpoint()
    dropped = survivors.select(id_col).join(
        fps.select(id_col), id_col, "left_anti"
    )
    _acct("decoded", fps)
    _acct("dropped", dropped)
    # stage 3: perceptual keep-first dedup among the batch's survivors
    percept = family.dedup(
        fps,
        radius=radius,
        n_bands=n_bands,
        max_bucket=max_bucket,
        id_col=id_col,
        strategy=strategy,
    ).select(
        F.col("img_id").alias(id_col),
        F.col("dup_of"),
        F.col("dist"),
        F.lit("percept").alias("stage"),
    ).localCheckpoint()
    kept_fps = fps.join(
        percept.select(id_col), id_col, "left_anti"
    ).localCheckpoint()
    _acct("percept_kept", kept_fps)
    attribution = byte_dups.unionByName(percept)
    # stage 4 (optional): dedup against HISTORY via the persisted index,
    # then extend it with what this batch actually added
    if index_path is not None:
        if id_col != family.id_col:
            raise ValueError(
                "index_path requires the modality's default id column "
                "(the persisted artifact's probe API is keyed on it)"
            )
        matched = f"matched_{id_col}"
        matches = phash_against_index(
            kept_fps, index_path, radius=radius, family=family
        ).localCheckpoint()
        idx_attr = matches.groupBy(id_col).agg(
            F.min(F.struct(matched, "dist")).alias("__m")
        ).select(
            F.col(id_col),
            F.col(f"__m.{matched}").alias("dup_of"),
            F.col("__m.dist").alias("dist"),
            F.lit("index").alias("stage"),
        )
        kept_fps = novel_images(kept_fps, matches, id_col).localCheckpoint()
        if extend_index:
            extend_phash_index(
                kept_fps, index_path, epoch=extend_epoch,
                owner="dedup_media_corpus", family=family,
            )
        attribution = attribution.unionByName(idx_attr)
        _acct("index_novel", kept_fps)
    kept = payloads.join(kept_fps.select(id_col), id_col, "left_semi")
    _acct("kept", kept)
    return kept, attribution, dropped
