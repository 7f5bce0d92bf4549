"""Image member of the media-dedup family: perceptual hashes (dHash /
aHash) over decoded BMP pixel arrays, the planted evidence corpus, the
resize evidence stage, and the image oracle CTE chain.  Split out of
``multimodal.py`` in round 17.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from .media_core import (
    PHASH_GRID,
    PHASH_PERT_MOD,
    PHASH_PERT_OFFSET,
    PHASH_RADIUS,
    PHASH_UP_MOD,
    PHASH_UP_OFFSET,
    _bmp_decode,
    _bmp_encode,
    _bmp_pixel_array,
    _bmp_from_pixels,
    _check_variant_offsets,
    _pack_bits_signed64,
    _resize_nearest,
    bmp_resize,
    synth_from_docs,
)

RESIZE_W = RESIZE_H = 8

def _gray_grid(arr, gw: int, gh: int):
    """Integer grayscale grid: nearest-neighbor resample to (gw, gh), then
    per-pixel channel mean with floor division (order-free integer math —
    the oracle recomputes it exactly)."""
    import numpy as np

    g = _resize_nearest(arr, gw, gh).astype(np.int64)
    return (g[:, :, 0] + g[:, :, 1] + g[:, :, 2]) // 3


def _dhash(arr) -> int:
    """Difference hash: bit (y, x) = gray(y, x+1) > gray(y, x) over the
    (9 × 8) gray grid — robust to uniform brightness/scale changes."""
    g = _gray_grid(arr, PHASH_GRID + 1, PHASH_GRID)
    return _pack_bits_signed64(g[:, 1:] > g[:, :-1])


def _ahash(arr) -> int:
    """Average hash: bit (y, x) = gray(y, x) > floor(mean) over the
    (8 × 8) gray grid (integer mean so both engines agree on ties)."""
    g = _gray_grid(arr, PHASH_GRID, PHASH_GRID)
    return _pack_bits_signed64(g > int(g.sum()) // (PHASH_GRID * PHASH_GRID))


def _pack_u64_rows(bits):
    """Pack an (N, 64) boolean array into N signed 64-bit hashes (bit k =
    column k, two's-complement wrap) — the batched twin of
    ``_pack_bits_signed64``, byte-identical by uint64 wraparound + an
    int64 reinterpret view."""
    import numpy as np

    shifted = bits.astype(np.uint64) << np.arange(64, dtype=np.uint64)
    return np.sum(shifted, axis=1, dtype=np.uint64).view(np.int64)


def _image_hashes_batch(fast, Ws, Hs, starts, buf):
    """Vectorized dHash/aHash over every fast-path BMP in one numpy
    gather (guide §4.2: batch the native work, don't loop rows in
    Python).  ``fast`` marks rows with a verified header (positive
    dims, full pixel buffer present); ``buf`` is the batch's payload
    bytes concatenated, ``starts`` the per-row offsets into it.
    Returns ``(dhash, ahash)`` int64 arrays aligned with the fast rows.

    The arithmetic is the exact integer formula of ``_dhash`` /
    ``_ahash`` (floor-division resample indices, integer channel mean,
    integer grid mean) — ``tests/test_media_vectorized.py`` pins parity
    against the scalar reference on the evidence corpus and edge
    payloads."""
    import numpy as np

    G = PHASH_GRID
    fi = np.nonzero(fast)[0]
    if fi.size == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z
    w = Ws[fi]
    h = Hs[fi]
    rs = (w * 3 + 3) // 4 * 4
    s0 = starts[fi] + 54
    ys = (np.arange(G, dtype=np.int64)[None, :] * h[:, None]) // G
    base = s0[:, None, None] + ys[:, :, None] * rs[:, None, None]
    xs9 = (np.arange(G + 1, dtype=np.int64)[None, :] * w[:, None]) // (G + 1)
    idx9 = base + xs9[:, None, :] * 3
    g9 = (
        buf[idx9].astype(np.int64)
        + buf[idx9 + 1].astype(np.int64)
        + buf[idx9 + 2].astype(np.int64)
    ) // 3
    dh = _pack_u64_rows((g9[:, :, 1:] > g9[:, :, :-1]).reshape(-1, 64))
    xs8 = (np.arange(G, dtype=np.int64)[None, :] * w[:, None]) // G
    idx8 = base + xs8[:, None, :] * 3
    g8 = (
        buf[idx8].astype(np.int64)
        + buf[idx8 + 1].astype(np.int64)
        + buf[idx8 + 2].astype(np.int64)
    ) // 3
    mean = g8.reshape(-1, 64).sum(axis=1) // (G * G)
    ah = _pack_u64_rows((g8 > mean[:, None, None]).reshape(-1, 64))
    return dh, ah


def image_hashes(df, id_col: str = "img_id", on_error: str = "skip"):
    """(id, payload) → (id, width, height, dhash, ahash): decode each BMP
    payload and compute both perceptual hashes over the real pixel array.
    One Arrow-batched ``mapInPandas`` stage, no shuffle, constant memory
    per batch — the hash is 16 bytes of output per image however large
    the payload, so everything downstream (banding, joins) moves hashes,
    never pixels.  The per-batch hash math is one vectorized numpy
    gather (:func:`_image_hashes_batch`); payloads that fail the header
    check fall back to the scalar decode so malformed-container
    semantics are unchanged.

    ``on_error='skip'`` (default) DROPS undecodable payloads — the
    module's malformed-container discipline (one corrupt image in a
    crawl batch must not kill the task; callers anti-join the output
    against the input to quarantine the drops).  A NULL-hash row would
    be worse than a drop: NULL dhashes would collapse into one spurious
    "duplicate cluster" in :func:`phash_dedup`'s exact-hash groupBy.
    ``on_error='raise'`` keeps the strict behavior for curated inputs
    where a bad payload IS a pipeline bug."""
    if on_error not in ("skip", "raise"):
        raise ValueError(f"unknown on_error {on_error!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            idvals = list(pdf[id_col])
            pays = [bytes(b) for b in pdf["payload"]]
            n = len(pays)
            starts = np.zeros(n + 1, dtype=np.int64)
            Ws = np.zeros(n, dtype=np.int64)
            Hs = np.zeros(n, dtype=np.int64)
            fast = np.zeros(n, dtype=bool)
            for j, p in enumerate(pays):
                starts[j + 1] = starts[j] + len(p)
                if len(p) >= 54 and p[:2] == b"BM":
                    w, h = struct.unpack_from("<ii", p, 18)
                    rs = (w * 3 + 3) // 4 * 4
                    if w > 0 and h > 0 and len(p) >= 54 + rs * h:
                        Ws[j], Hs[j], fast[j] = w, h, True
            buf = np.frombuffer(b"".join(pays), dtype=np.uint8)
            dh_f, ah_f = _image_hashes_batch(fast, Ws, Hs, starts[:-1], buf)
            keep = fast.copy()
            # scalar fallback: rows the vectorized header check rejected
            # keep the original decode's exact failure semantics (skip /
            # raise on ValueError; pathological dims fail as before).
            # Results go in a side dict keyed by row index — never into
            # the payload list, whose entries must stay bytes.
            slow_hashes: dict[int, tuple[int, int]] = {}
            for j in np.nonzero(~fast)[0]:
                try:
                    arr = _bmp_pixel_array(pays[j])
                except ValueError:
                    if on_error == "raise":
                        raise
                    continue
                Hs[j], Ws[j] = arr.shape[:2]
                keep[j] = True
                slow_hashes[j] = (_dhash(arr), _ahash(arr))
            ids, ws, hs, dh, ah = [], [], [], [], []
            fpos = 0
            for j in range(n):
                if fast[j]:
                    ids.append(idvals[j])
                    ws.append(Ws[j])
                    hs.append(Hs[j])
                    dh.append(int(dh_f[fpos]))
                    ah.append(int(ah_f[fpos]))
                    fpos += 1
                elif keep[j]:
                    d_, a_ = slow_hashes[j]
                    ids.append(idvals[j])
                    ws.append(Ws[j])
                    hs.append(Hs[j])
                    dh.append(d_)
                    ah.append(a_)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "dhash": pd.Series(dh, dtype="int64"),
                    "ahash": pd.Series(ah, dtype="int64"),
                }
            )

    # the id column's type follows the input schema (the
    # compression_signals lesson: hardcoding `long` corrupts string ids)
    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, "payload").mapInPandas(
        run,
        schema=(
            f"{id_col} {id_type}, width int, height int,"
            " dhash long, ahash long"
        ),
    )




def phash_evidence_images(
    df,
    up_offset: int = PHASH_UP_OFFSET,
    pert_offset: int = PHASH_PERT_OFFSET,
):
    """documents → (img_id, payload): one BMP per document plus the
    planted near-dup variants (2× nearest upscale; one-byte text
    perturbation) — the image-corpus construction the pHash slot and the
    oracle both re-derive.  The offsets are parameters (defaults = the
    oracle constants) so a larger corpus — e.g. the sf10 scale scratch,
    whose doc_ids reach ~99M — passes wider offsets instead of
    colliding."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        _check_variant_offsets(pdf, (up_offset, pert_offset))
        ids, pays = [], []
        for d, t in zip(pdf["doc_id"], pdf["text"]):
            tb = t.encode("utf-8")
            base = _bmp_encode(d, tb)
            ids.append(d)
            pays.append(base)
            if d % PHASH_UP_MOD == 0:
                arr = _bmp_pixel_array(base)
                h, w = arr.shape[:2]
                up = _resize_nearest(arr, 2 * w, 2 * h)
                ids.append(d + up_offset)
                pays.append(_bmp_from_pixels(up))
            if d % PHASH_PERT_MOD == 0 and len(tb) > 0:
                p = d % len(tb)
                ids.append(d + pert_offset)
                pays.append(_bmp_encode(d, tb[:p] + b"Z" + tb[p + 1:]))
        return pd.DataFrame({"img_id": ids, "payload": pays})

    return synth_from_docs(df, build, "img_id long, payload binary")


def _phash_sql_ctes() -> str:
    """DuckDB CTE chain re-deriving the ENTIRE pHash pipeline from the
    document text: the planted image corpus (base + 2×-upscale + one-byte
    perturbation), the per-image integer gray grids via the same floor
    index arithmetic the numpy side uses, both 64-bit hashes
    (two's-complement packed through HUGEINT), and the BRUTE-FORCE
    Hamming pair set at radius {r} — which the Spark side's banded join
    must reproduce exactly (pigeonhole: radius <= bands-1).  Final CTEs:
    ``phhash`` (img_id, disp_w, disp_h, dhash, ahash), ``phpair``
    (ia, ib, dist)."""
    from .clustering import _materialize

    G = PHASH_GRID
    return _materialize(f"""phimg AS (
      SELECT doc_id AS img_id, doc_id AS d, 0 AS kind, text FROM documents
      UNION ALL
      SELECT doc_id + {PHASH_UP_OFFSET}, doc_id, 1, text FROM documents
      WHERE doc_id % {PHASH_UP_MOD} = 0
      UNION ALL
      SELECT doc_id + {PHASH_PERT_OFFSET}, doc_id, 2, text FROM documents
      WHERE doc_id % {PHASH_PERT_MOD} = 0
        AND octet_length(encode(text)) > 0),
    phdim AS (
      SELECT img_id, d, kind, text,
             CAST(octet_length(encode(text)) AS BIGINT) AS L,
             CAST(1 + d % 64 AS BIGINT) AS w,
             CAST(1 + octet_length(encode(text)) % 64 AS BIGINT) AS h,
             (CAST(1 + d % 64 AS BIGINT) * 3 + 3) // 4 * 4 AS row_size
      FROM phimg),
    phcell AS (
      SELECT 'd' AS grid, y.i AS gy, x.i AS gx, {G + 1} AS gw
      FROM range({G}) y(i), range({G + 1}) x(i)
      UNION ALL
      SELECT 'a', y.i, x.i, {G} FROM range({G}) y(i), range({G}) x(i)),
    phsrc AS (
      SELECT m.img_id, m.kind, m.d, m.text, m.L, m.row_size,
             c.grid, c.gy, c.gx, ch.i AS ci,
             CASE WHEN m.kind = 1 THEN ((c.gy * 2 * m.h) // {G}) // 2
                  ELSE (c.gy * m.h) // {G} END AS sy,
             CASE WHEN m.kind = 1 THEN ((c.gx * 2 * m.w) // c.gw) // 2
                  ELSE (c.gx * m.w) // c.gw END AS sx
      FROM phdim m, phcell c, range(3) ch(i)),
    phbyte AS (
      SELECT img_id, grid, gy, gx,
             CASE WHEN L = 0 THEN 0
                  WHEN kind = 2
                       AND ((sy * row_size + sx * 3 + ci) % L) = (d % L)
                       THEN 90
                  ELSE ascii(substr(text,
                         CAST((sy * row_size + sx * 3 + ci) % L
                           AS INTEGER) + 1, 1)) END AS byte
      FROM phsrc),
    phgray AS (
      SELECT img_id, grid, gy, gx, SUM(byte) // 3 AS gray
      FROM phbyte GROUP BY img_id, grid, gy, gx),
    phdbit AS (
      SELECT a.img_id, a.gy * {G} + a.gx AS k, (b.gray > a.gray) AS bit
      FROM phgray a JOIN phgray b
        ON a.img_id = b.img_id AND b.grid = 'd' AND a.gy = b.gy
           AND b.gx = a.gx + 1
      WHERE a.grid = 'd' AND a.gx < {G}),
    phamean AS (
      SELECT img_id, SUM(gray) // {G * G} AS m
      FROM phgray WHERE grid = 'a' GROUP BY img_id),
    phabit AS (
      SELECT g.img_id, g.gy * {G} + g.gx AS k, (g.gray > mm.m) AS bit
      FROM phgray g JOIN phamean mm USING (img_id) WHERE g.grid = 'a'),
    phdh AS (
      SELECT img_id,
             CAST(CASE WHEN hv >= 9223372036854775808::HUGEINT
                  THEN hv - 18446744073709551616::HUGEINT
                  ELSE hv END AS BIGINT) AS dhash
      FROM (SELECT img_id,
                   SUM(CASE WHEN bit THEN 1::HUGEINT << CAST(k AS INTEGER)
                        ELSE 0::HUGEINT END) AS hv
            FROM phdbit GROUP BY img_id)),
    phah AS (
      SELECT img_id,
             CAST(CASE WHEN hv >= 9223372036854775808::HUGEINT
                  THEN hv - 18446744073709551616::HUGEINT
                  ELSE hv END AS BIGINT) AS ahash
      FROM (SELECT img_id,
                   SUM(CASE WHEN bit THEN 1::HUGEINT << CAST(k AS INTEGER)
                        ELSE 0::HUGEINT END) AS hv
            FROM phabit GROUP BY img_id)),
    phhash AS (
      SELECT m.img_id,
             CAST(CASE WHEN m.kind = 1 THEN 2 * m.w ELSE m.w END
               AS INTEGER) AS disp_w,
             CAST(CASE WHEN m.kind = 1 THEN 2 * m.h ELSE m.h END
               AS INTEGER) AS disp_h,
             d.dhash, a.ahash
      FROM phdim m JOIN phdh d USING (img_id) JOIN phah a USING (img_id)),
    phpair AS (
      SELECT a.img_id AS ia, b.img_id AS ib,
             bit_count(xor(a.dhash, b.dhash)) AS dist
      FROM phhash a JOIN phhash b ON a.img_id < b.img_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= {PHASH_RADIUS}),
    phidx AS (
      SELECT b.img_id AS vid, a.img_id AS mid,
             bit_count(xor(a.dhash, b.dhash)) AS dist
      FROM phhash a JOIN phhash b
        ON a.img_id < {PHASH_UP_OFFSET} AND b.img_id >= {PHASH_UP_OFFSET}
      WHERE bit_count(xor(a.dhash, b.dhash)) <= {PHASH_RADIUS}),
    phnovel AS (
      SELECT img_id FROM phhash WHERE img_id >= {PHASH_UP_OFFSET}
        AND img_id NOT IN (SELECT vid FROM phidx)),
    phrep AS (
      SELECT dhash, MIN(img_id) AS rep FROM phhash GROUP BY dhash),
    phpded AS (
      SELECT h.img_id, r.rep AS dup_of, 0 AS dist
      FROM phhash h JOIN phrep r
        ON h.dhash = r.dhash AND h.img_id > r.rep
      UNION ALL
      SELECT img_id, dup_of, dist FROM (
        SELECT b.rep AS img_id, a.rep AS dup_of,
               bit_count(xor(a.dhash, b.dhash)) AS dist,
               ROW_NUMBER() OVER (PARTITION BY b.rep ORDER BY a.rep) AS rn
        FROM phrep a JOIN phrep b ON a.rep < b.rep
        WHERE bit_count(xor(a.dhash, b.dhash)) <= {PHASH_RADIUS})
      WHERE rn = 1)""")


_phash_sql_ctes.__doc__ = _phash_sql_ctes.__doc__ and (
    _phash_sql_ctes.__doc__.format(r=PHASH_RADIUS)
)



def resize_checksums(df):
    """(doc_id, payload) → (doc_id, width, height, checksum): resize every
    BMP to 8×8 via ``bmp_resize``, then parse the RESIZED container back and
    checksum its pixel bytes — the evidence that real pixel selection
    happened, in one extra Arrow stage (no shuffle)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, cks = [], [], []
            for b in pdf["payload"]:
                b = bytes(b)
                meta = _bmp_decode(b)
                ws.append(meta["width"])
                hs.append(meta["height"])
                cks.append(sum(b[54:]) % 2**31)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "checksum": pd.Series(cks, dtype="int64"),
                }
            )

    return bmp_resize(df, RESIZE_W, RESIZE_H).mapInPandas(
        run, schema="doc_id long, width int, height int, checksum long"
    )

