"""Shared media-dedup core: the codec-free BMP container, the banded
Hamming candidate machinery every media family (image dHash, audio AFP,
video VFP) rides, the planted-variant id-offset discipline, and the
transitive duplicate lineage — split out of ``multimodal.py`` in round 17
(the module had grown past 2,700 lines carrying five op families; see
VERDICT r16 #4).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Real container decode: BMP (plain struct math — no codec library needed).
# The ingest side synthesizes a valid 24-bpp BMP per document (dimensions
# derived deterministically from the row, pixels from the text bytes); the
# decode side parses the actual container header back out of the bytes.
# The DuckDB oracle recomputes the expected dimensions from the same row
# data, so a wrong header layout, offset, or endianness on either side
# fails the hash compare.  (Codec-requiring formats — JPEG/audio — are out
# of scope here; see the module docstring.)
# ---------------------------------------------------------------------------


def _bmp_dims(doc_id: int, text_len: int):
    return 1 + doc_id % 64, 1 + text_len % 64


def _bmp_encode(doc_id: int, text: bytes) -> bytes:
    """Build a valid BMP: 14-byte file header + 40-byte BITMAPINFOHEADER +
    bottom-up 24-bpp pixel rows padded to 4 bytes, pixels cycled from the
    document's own bytes."""
    import struct

    width, height = _bmp_dims(doc_id, len(text))
    row_size = (width * 3 + 3) // 4 * 4
    img_size = row_size * height
    pixels = (
        (text * (img_size // len(text) + 1))[:img_size] if text else bytes(img_size)
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    return header + info + pixels


def synth_from_docs(df, per_batch, schema: str):
    """documents → a synthesized media frame: ``per_batch`` maps one
    Arrow batch of ``(doc_id, text)`` (a pandas frame) to one output
    pandas frame of ``schema``.  The one ``mapInPandas`` stage every
    synth builder shares — fanned out across cores first
    (``fanout_for_compute``), constant memory per task."""
    from ..sources.tables import fanout_for_compute

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield per_batch(pdf)

    return fanout_for_compute(df.select("doc_id", "text"), "doc_id").mapInPandas(
        run, schema=schema
    )


def payload_per_doc(df, encode):
    """documents → (doc_id, payload binary) with ``encode(doc_id,
    text_bytes)`` building one container per document."""
    return synth_from_docs(
        df,
        lambda pdf: pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": [
                    encode(i, t.encode("utf-8"))
                    for i, t in zip(pdf["doc_id"], pdf["text"])
                ],
            }
        ),
        "doc_id long, payload binary",
    )


def with_bmp_payload(df):
    """documents → (doc_id, payload binary): the ingest step that in a
    real pipeline reads image files; here it synthesizes real BMP
    containers."""
    return payload_per_doc(df, _bmp_encode)


def _bmp_decode(payload: bytes) -> dict:
    """Parse the BMP container header — a REAL byte-level decode (magic
    check, little-endian field extraction at the documented offsets)."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        return {"width": 0, "height": 0, "bpp": 0, "img_bytes": 0, "decoded_ok": False}
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    img_bytes = struct.unpack_from("<I", payload, 34)[0]
    return {
        "width": width,
        "height": height,
        "bpp": bpp,
        "img_bytes": img_bytes,
        "decoded_ok": True,
    }



# ---------------------------------------------------------------------------
# Resize: REAL pixel math on the decoded BMP (numpy nearest-neighbor), then
# re-encode — the image-preprocessing step of a multimodal training pipeline.
# Verified in tests/test_multimodal_ops.py against an independent per-pixel
# index computation (not by re-running the same numpy ops).
# ---------------------------------------------------------------------------


def _bmp_pixel_array(payload: bytes):
    """Decode BMP pixel data to a (height, width, 3) uint8 array (rows in
    stored bottom-up order — a flip is a view, deterministic either way)."""
    import numpy as np

    meta = _bmp_decode(payload)
    if not meta["decoded_ok"]:
        raise ValueError("not a BMP payload")
    w, h = meta["width"], meta["height"]
    row_size = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(payload, dtype=np.uint8, count=row_size * h, offset=54)
    return rows.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)


def _bmp_from_pixels(arr) -> bytes:
    """Re-encode a (h, w, 3) uint8 array as a 24-bpp BMP (rows padded to 4)."""
    import struct

    import numpy as np

    h, w = arr.shape[:2]
    row_size = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = arr.reshape(h, w * 3)
    pixels = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + info + pixels


def _resize_nearest(arr, tw: int, th: int):
    """Nearest-neighbor resample via integer index maps (floor convention
    src = tgt * src_dim // tgt_dim — same formula the test recomputes)."""
    import numpy as np

    h, w = arr.shape[:2]
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return arr[ys][:, xs]


def bmp_resize(df, target_w: int = 8, target_h: int = 8):
    """(doc_id, payload) → (doc_id, payload) with every BMP resized to
    (target_w, target_h) — decode, numpy nearest-neighbor resample,
    re-encode, all inside one Arrow-batched ``mapInPandas`` stage.

    Scale: narrow (no shuffle), constant memory per batch; on a cluster this
    is the canonical image-normalization map stage before feature
    extraction/training-shard writes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        _bmp_from_pixels(
                            _resize_nearest(
                                _bmp_pixel_array(bytes(b)), target_w, target_h
                            )
                        )
                        for b in pdf["payload"]
                    ],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        run, schema="doc_id long, payload binary"
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup dedup (LAION-style): aHash/dHash over the
# DECODED pixel arrays, then Hamming-bucketed candidate pairs — the image
# twin of text MinHash (`dedup.minhash_lsh_pairs`) and embedding SemDeDup
# (`clustering.semdedup_prune`).  Everything is integer arithmetic on
# purpose: resize indices are floor divisions, gray is an integer channel
# mean, and the 64-bit hash packs comparison bits — so a DuckDB oracle
# re-derives every hash bit-for-bit from the source bytes.
# ---------------------------------------------------------------------------

#: dHash compares an 8×8 grid of horizontal neighbors (so the gray grid is
#: 9 wide); aHash compares an 8×8 grid against its integer mean.
PHASH_GRID = 8
#: 8 bands of 8 bits each: by pigeonhole, any pair within Hamming distance
#: <= PHASH_BANDS - 1 shares at least one identical band, so the banded
#: candidate join has EXACT recall at the default radius — no
#: approximation anywhere, which is what lets the driver oracle brute-force
#: the same pair set.
PHASH_BANDS = 8
PHASH_RADIUS = 7
#: strategy='auto' threshold (the semdedup ``max_cell='auto'`` precedent):
#: if ANY band bucket among the exact-collapse representatives exceeds
#: this, the near-dup stage runs 'anchor' instead of 'minpair'.  A bucket
#: of m members feeds m(m-1)/2 candidate pairs into minpair's verify —
#: at 64 that's ~2k pairs/bucket, still cheap; the sf10 cliff came from
#: ~100-member buckets repeated across thousands of band values (564k
#: pairs, 124× wall on 100× data — BASELINE.md round 15).
AUTO_ANCHOR_BUCKET = 64


def _pack_bits_signed64(bits) -> int:
    """Pack a row-major boolean grid into a SIGNED 64-bit integer (bit
    k = y*8 + x; two's-complement wrap, matching Spark/DuckDB BIGINT)."""
    h = 0
    for k, b in enumerate(bits.flatten()):
        if b:
            h |= 1 << k
    return h - (1 << 64) if h >= (1 << 63) else h



def phash_near_dup_pairs(
    hashes,
    radius: int = PHASH_RADIUS,
    n_bands: int = PHASH_BANDS,
    hash_col: str = "dhash",
    id_col: str = "img_id",
    max_bucket: int | None = None,
):
    """(id_a, id_b, dist) for all image pairs within Hamming distance
    ``radius`` of each other's 64-bit perceptual hash — banded candidate
    generation, NEVER all-pairs (the ``dedup.band_keys_from_signatures``
    pattern applied to hash bytes): each hash splits into ``n_bands``
    equal bands, candidates are pairs sharing any band value, and the
    exact popcount verify runs only on candidates.

    For ``radius <= n_bands - 1`` recall is EXACT by pigeonhole (a pair
    differing in <= n_bands-1 bits has an untouched band), so the default
    (7, 8) configuration is a deterministic operator, not an
    approximation — the driver oracle brute-forces the same pair set.

    Scale: one shuffle of (band, band_val, id, hash) rows — 8 rows of
    ~32 bytes per image; the verify is codegen'd bit_count on the
    candidate set.  Hot buckets (e.g. millions of byte-identical blank
    images all hashing to 0) make one bucket quadratic: ``max_bucket``
    drops buckets larger than the cap (the ``dedup.cap_shingles`` guard
    — a dropped bucket only loses candidates that remaining bands still
    recover unless ALL the pair's bands are hot; cap well above the
    expected near-dup cluster size)."""
    bands = _band_rows(hashes, n_bands, hash_col, id_col, max_bucket)
    return _pairs_from_bands(bands, id_col, radius)


def _pairs_from_bands(bands, id_col, radius):
    """The minpair pair-enumeration stage over a :func:`_band_rows`
    frame: self-join on (band, value), dedup candidates, codegen'd
    popcount verify.  Returns ``(img_a, img_b, dist)``."""
    a = bands.select(
        F.col(id_col).alias("__ia"), F.col("__h").alias("__ha"),
        "__band", "__bv",
    )
    b = bands.select(
        F.col(id_col).alias("__ib"), F.col("__h").alias("__hb"),
        "__band", "__bv",
    )
    cand = (
        a.join(b, ["__band", "__bv"])
        .filter(F.col("__ia") < F.col("__ib"))
        .select("__ia", "__ib", "__ha", "__hb")
        .distinct()
    )
    dist = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return cand.select(
        F.col("__ia").alias("img_a"),
        F.col("__ib").alias("img_b"),
        dist.alias("dist"),
    ).filter(F.col("dist") <= radius)


def _band_rows(frame, n_bands, hash_col, id_col, max_bucket):
    """THE shared banded layout: ``(id, __h, __band, __bv)`` rows —
    ``n_bands`` per hash, ``__bv`` the band's ``64/n_bands``-bit slice —
    with the ``max_bucket`` hot-bucket cap applied.  Used by
    :func:`phash_near_dup_pairs`, :func:`_anchor_near_dedup`, the
    ``strategy='auto'`` bucket diagnostic and the persisted index's band
    rows (``phash_index``), so the four can never disagree on which
    candidates a band generates."""
    band_w = 64 // n_bands
    mask = (1 << band_w) - 1
    pairs = []
    for k in range(n_bands):
        pairs.extend(
            [
                F.lit(k),
                F.shiftrightunsigned(F.col(hash_col), band_w * k).bitwiseAND(
                    F.lit(mask)
                ),
            ]
        )
    bands = frame.select(
        F.col(id_col),
        F.col(hash_col).alias("__h"),
        F.stack(F.lit(n_bands), *pairs).alias("__band", "__bv"),
    )
    if max_bucket is not None:
        from pyspark.sql.window import Window as W

        counts = F.count(F.lit(1)).over(W.partitionBy("__band", "__bv"))
        bands = bands.withColumn("__bc", counts).filter(
            F.col("__bc") <= max_bucket
        ).drop("__bc")
    return bands


def phash_dedup(
    hashes,
    radius: int = PHASH_RADIUS,
    n_bands: int = PHASH_BANDS,
    hash_col: str = "dhash",
    id_col: str = "img_id",
    max_bucket: int | None = None,
    strategy: str = "auto",
):
    """Keep-first perceptual-hash image dedup: one row per DUPLICATE image
    with its attributed keeper — ``(img_id, dup_of, dist)`` — the
    ``dedup.keep_first_per_content`` / SemDeDup attribution contract
    applied to images.

    Two stages, because pair ENUMERATION is inherently quadratic in
    cluster size (a crawl's 10⁶-copy logo would emit 10¹² pairs):

    1. exact collapse: images sharing an identical 64-bit hash group to
       their minimum id in ONE hash-partitioned aggregate — no join, no
       pair list, linear however large the duplicate cluster;
    2. near-dup attribution among the surviving REPRESENTATIVES only:
       the banded Hamming join (:func:`phash_near_dup_pairs`, exact at
       radius <= n_bands-1), then each representative attributes to its
       MINIMUM matching partner (struct-min — deterministic, order-free).

    Members of a collapsed group attribute to their own representative
    (dist 0); the representative itself may further attribute to a
    smaller near-dup rep.  Callers wanting full transitive lineage feed
    the pairs to ``clustering.connected_components``; callers wanting
    the kept set anti-join ``img_id``.

    ``strategy`` picks the near-dup stage's physical shape:

    - ``'minpair'`` (the oracle-pinned semantics): full banded pair
      enumeration, each duplicate attributed to its MINIMUM matching
      partner.  Pair enumeration is quadratic in NEAR-dup cluster size
      (the exact collapse only removes IDENTICAL hashes) — fine for
      corpora whose near-clusters are small.
    - ``'anchor'`` (the mega-cluster scale path): per band bucket, each
      member verifies ONLY against the bucket's min-id anchor — at most
      ``n_bands`` candidate pairs per member, linear however large the
      cluster — then the RESIDUAL members that matched no anchor run
      the standard banded join against the full rep set.  The
      DUPLICATE SET is provably identical to ``'minpair'`` (a member
      with any smaller in-radius partner either verifies an anchor or
      reaches phase 2, which joins against ALL reps — pigeonhole still
      applies); only the ``dup_of`` attribution may differ (an anchor
      rather than the global minimum partner — still a true in-radius
      smaller-id keeper).  It matters most for audio: the AFP is robust
      to small edits, so re-encode farms leave near-identical but unequal
      fingerprints that the exact collapse cannot fold.  Measured: the
      sf10 corpus's ~100-copy AFP clusters take minpair from 1.2 s to
      152 s at 100× data; 'anchor' restores linear growth (BASELINE.md
      round 15).
    - ``'auto'`` (DEFAULT since round 16 — the ``semdedup``
      ``max_cell='auto'`` precedent): one cheap groupBy-count job over
      the representatives' band rows reads the largest band bucket; if
      it exceeds :data:`AUTO_ANCHOR_BUCKET` the near-dup stage runs
      'anchor', else 'minpair'.  Mega near-dup clusters are the COMMON
      case in a real crawl (re-encode farms, resized logo copies), so
      the default must not hand production the quadratic plan — while
      small corpora keep minpair's global-minimum attribution and skip
      the anchor path's two checkpoints.  Cost: one extra job over a
      frame of ``n_bands`` ~32-byte rows per representative.

    ``radius`` must stay ``<= n_bands - 1`` — past that bound the banded
    candidate generation silently loses recall while the persisted-index
    probe (``phash_against_index``) raises; fail the same way here."""
    if strategy not in ("auto", "minpair", "anchor"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if radius > n_bands - 1:
        raise ValueError(
            f"radius {radius} > n_bands-1 ({n_bands - 1}): banded recall "
            "is only exact by pigeonhole up to n_bands-1 bit flips — "
            "raise n_bands or lower radius (phash_against_index enforces "
            "the same bound)"
        )
    reps = hashes.groupBy(hash_col).agg(F.min(id_col).alias("__rep"))
    exact = (
        hashes.select(id_col, hash_col)
        .join(reps, hash_col)
        .filter(F.col(id_col) > F.col("__rep"))
        .select(
            F.col(id_col).alias("img_id"),
            F.col("__rep").alias("dup_of"),
            F.lit(0).alias("dist"),
        )
    )
    rep_hashes = reps.select(
        F.col("__rep").alias(id_col), F.col(hash_col)
    )
    chosen = strategy
    bands = None
    if strategy == "auto":
        # one checkpoint serves the diagnostic AND the chosen path
        bands = _band_rows(
            rep_hashes, n_bands, hash_col, id_col, max_bucket
        ).localCheckpoint()
        chosen = _auto_pick(bands)
    if chosen == "anchor":
        if bands is None:
            # anchors, phase 1, phase 2 all read it — cut lineage once
            bands = _band_rows(
                rep_hashes, n_bands, hash_col, id_col, max_bucket
            ).localCheckpoint()
        near = _anchor_near_dedup(bands, radius, id_col)
    else:
        pair_src = (
            _pairs_from_bands(bands, id_col, radius)
            if bands is not None
            else phash_near_dup_pairs(
                rep_hashes,
                radius=radius,
                n_bands=n_bands,
                hash_col=hash_col,
                id_col=id_col,
                max_bucket=max_bucket,
            )
        )
        near = (
            pair_src
            .groupBy("img_b")
            .agg(F.min(F.struct("img_a", "dist")).alias("__m"))
            .select(
                F.col("img_b").alias("img_id"),
                F.col("__m.img_a").alias("dup_of"),
                F.col("__m.dist").alias("dist"),
            )
        )
    return exact.unionAll(near)


def _auto_pick(bands):
    """The ``strategy='auto'`` diagnostic: largest band-bucket size over a
    :func:`_band_rows` frame — one groupBy-count job, O(#buckets) result.
    A bucket above :data:`AUTO_ANCHOR_BUCKET` means pair enumeration
    would go quadratic there, so pick 'anchor'; otherwise minpair's
    global-minimum attribution is worth its (small-cluster) cost."""
    mx = (
        bands.groupBy("__band", "__bv")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("__mx"))
        .collect()[0]["__mx"]
    )
    return "anchor" if (mx or 0) > AUTO_ANCHOR_BUCKET else "minpair"


def _anchor_near_dedup(bands, radius, id_col):
    """The 'anchor' strategy's near-dup stage (see :func:`phash_dedup`):
    phase 1 verifies each band-bucket member against the bucket's min-id
    anchor only (≤ n_bands candidates per member — linear in cluster
    size); phase 2 runs the standard banded join for the residual
    members that matched no anchor, against the FULL rep set so no
    in-radius partner is ever missed.  Takes the :func:`_band_rows`
    frame (caller must ``localCheckpoint`` it — anchors, phase 1, and
    phase 2 all read it).  Returns ``(img_id, dup_of, dist)``."""
    anchors = bands.groupBy("__band", "__bv").agg(
        F.min(
            F.struct(F.col(id_col).alias("__aid"), F.col("__h").alias("__ah"))
        ).alias("__a")
    )
    ph1 = (
        bands.join(anchors, ["__band", "__bv"])
        .filter(F.col(id_col) > F.col("__a.__aid"))
        .select(
            id_col,
            "__h",
            F.col("__a.__aid").alias("__p"),
            F.col("__a.__ah").alias("__ph"),
        )
        .distinct()
        .withColumn(
            "__d", F.bit_count(F.col("__h").bitwiseXOR(F.col("__ph")))
        )
        .filter(F.col("__d") <= radius)
        .groupBy(id_col)
        .agg(F.min(F.struct(F.col("__p"), F.col("__d"))).alias("__m"))
        .localCheckpoint()
    )
    att1 = ph1.select(
        F.col(id_col).alias("img_id"),
        F.col("__m.__p").alias("dup_of"),
        F.col("__m.__d").alias("dist"),
    )
    res_bands = bands.join(
        ph1.select(id_col), id_col, "left_anti"
    )
    a = bands.select(
        F.col(id_col).alias("__ia"), F.col("__h").alias("__ha"),
        "__band", "__bv",
    )
    b = res_bands.select(
        F.col(id_col).alias("__ib"), F.col("__h").alias("__hb"),
        "__band", "__bv",
    )
    att2 = (
        a.join(b, ["__band", "__bv"])
        .filter(F.col("__ia") < F.col("__ib"))
        .select("__ia", "__ib", "__ha", "__hb")
        .distinct()
        .withColumn(
            "__d", F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
        )
        .filter(F.col("__d") <= radius)
        .groupBy("__ib")
        .agg(F.min(F.struct(F.col("__ia"), F.col("__d"))).alias("__m"))
        .select(
            F.col("__ib").alias("img_id"),
            F.col("__m.__ia").alias("dup_of"),
            F.col("__m.__d").alias("dist"),
        )
    )
    return att1.unionByName(att2)




#: planted-variant configuration for the driver slot: every %5 doc gets a
#: 2× nearest-upscaled copy (a "resized re-encode" — its dHash/aHash are
#: bit-identical to the original by the floor-division identity
#: floor(floor(2a/2g)/2) = floor(a/2g), so these pairs land at distance
#: 0), and every %7 doc with text gets a one-byte-perturbed copy (one
#: char overwritten with 'Z' — a small, VARIABLE Hamming distance that
#: exercises the radius threshold on both sides of the cut).
PHASH_UP_MOD = 5
PHASH_PERT_MOD = 7
PHASH_UP_OFFSET = 10_000_000
PHASH_PERT_OFFSET = 20_000_000


def _check_variant_offsets(pdf, offsets) -> None:
    """Loud-failure guard shared by every evidence-corpus builder: the
    planted-variant id ranges (doc_id + offset per variant kind) must be
    PAIRWISE disjoint, not merely above the base ids.  With sorted
    offsets o1 < o2 < …, a doc_id + o1 id collides with some doc_id' +
    o2 id once max(doc_id) >= o2 - o1 (e.g. doc 10,000,035's dup id ==
    doc 35's pert id at the 60M/70M video defaults), so the bound is
    min(o1, o2-o1, o3-o2, …).  Checked per Arrow batch — no extra
    driver-side max() pass over the corpus (ADVICE r16: the previous
    guard only checked the smallest offset)."""
    if not len(pdf):
        return
    mx = int(pdf["doc_id"].max())
    srt = sorted(offsets)
    bound = min([srt[0]] + [b - a for a, b in zip(srt, srt[1:])])
    if mx >= bound:
        raise ValueError(
            f"doc_id {mx} >= id-disjointness bound {bound} for variant "
            f"offsets {srt}: variant-id arithmetic would collide; raise "
            "the offsets for this corpus"
        )




def media_dup_clusters(pairs, attribution=None):
    """Transitive duplicate lineage for ANY media family: near-dup pairs
    ``(img_a, img_b, dist)`` (from :func:`phash_near_dup_pairs` with any
    hash column — image dHash, audio AFP, video vfp) → ``(id,
    component)`` labels via ``clustering.connected_components``
    (size-gated union-find / pointer-jumping — O(log n) rounds, never a
    transitive self-join).  Pass ``attribution`` (the ``(img_id, dup_of,
    dist)`` keep-first frame from :func:`phash_dedup`, e.g. a family's
    ``MediaFamily.dedup``) to label EXACT-collapse
    members too — pairs among byte/hash-identical copies never reach the
    pair stage (they collapse in one aggregate), so lineage built from
    pairs alone would miss them.  The component label is the smallest id
    in the cluster, matching the keep-first canonical everywhere the
    relation is transitive."""
    from .clustering import connected_components

    edges = pairs.select(
        F.col("img_a").alias("src"), F.col("img_b").alias("dst")
    )
    if attribution is not None:
        edges = edges.unionAll(
            attribution.select(
                F.col("dup_of").alias("src"), F.col("img_id").alias("dst")
            )
        )
    return connected_components(edges)

