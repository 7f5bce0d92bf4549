"""Video member of the media-dedup family: the raw-frame container,
every-k-th frame sampling, per-frame dHash → bitwise-MAJORITY pooled
fingerprints, banded near-dup dedup, the planted evidence corpus, and the
video oracle CTE chain.  Split out of ``multimodal.py`` in round 17.
Dedup runs through ``phash_index.VIDEO.near_dup_pairs`` / ``.dedup``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from .media_core import (
    PHASH_RADIUS,
    _check_variant_offsets,
    synth_from_docs,
)

FRAME_EVERY_K = 2

# ---------------------------------------------------------------------------
# Frame sampling: a minimal raw-frame video container (magic + frame count +
# frame length + concatenated raw RGB frames) — every-k-th frame extraction,
# the video half of the pipeline.  No codec needed: frames are raw bytes, so
# the plumbing (explode-to-frame-rows, per-frame features) is fully real.
# ---------------------------------------------------------------------------

_VID_MAGIC = b"VID0"
_VID_HEADER = 12  # magic + u32 n_frames + u32 frame_len


def _video_encode(doc_id: int, text: bytes) -> bytes:
    """Synthesize a raw-frame video: 1 + doc_id % 8 frames of 4x4 RGB pixels
    cycled from the document bytes at a per-frame offset."""
    import struct

    n_frames = 1 + doc_id % 8
    frame_len = 4 * 4 * 3
    body = bytearray()
    src = text if text else bytes(1)
    for f in range(n_frames):
        body += bytes(src[(f + i) % len(src)] for i in range(frame_len))
    return _VID_MAGIC + struct.pack("<II", n_frames, frame_len) + bytes(body)


def _video_payloads_batch(docs, texts, kinds):
    """Build every raw-frame video container of a batch in one vectorized
    numpy pass (guide §4.2) — the batched twin of ``_video_encode`` /
    ``_video_redub`` (kinds: 0 base, 1 final-frame re-dub, 2 frame-0
    one-byte perturbation), byte-identical to the scalar references
    (pinned in tests/test_media_vectorized.py).  Returns a list of bytes
    payloads aligned with the inputs."""
    import numpy as np

    n = len(docs)
    if n == 0:
        return []
    docs = np.asarray(docs, dtype=np.int64)
    kinds = np.asarray(kinds, dtype=np.int64)
    tb = [t if t else b"\x00" for t in texts]
    tl = np.fromiter((len(t) for t in tb), np.int64, count=n)
    tstart = np.concatenate(([0], np.cumsum(tl)[:-1]))
    tbuf = np.frombuffer(b"".join(tb), dtype=np.uint8)
    nf_base = 1 + (docs % 8)
    nf_out = nf_base + (kinds == 1)
    FL = 4 * 4 * 3
    ho = np.concatenate(([0], np.cumsum(12 + nf_out * FL)))
    out = np.zeros(int(ho[-1]), dtype=np.uint8)
    for b_i, ch in enumerate(_VID_MAGIC):
        out[ho[:-1] + b_i] = ch
    for b_i in range(4):
        out[ho[:-1] + 4 + b_i] = ((nf_out >> (8 * b_i)) & 0xFF).astype(
            np.uint8
        )
        out[ho[:-1] + 8 + b_i] = (FL >> (8 * b_i)) & 0xFF
    cum_f = np.concatenate(([0], np.cumsum(nf_out)))
    P = int(cum_f[-1])
    vid_of = np.repeat(np.arange(n, dtype=np.int64), nf_out)
    f_local = np.arange(P, dtype=np.int64) - cum_f[vid_of]
    # the re-dub's appended frame repeats the base's FINAL frame
    fc = np.where(
        (kinds[vid_of] == 1) & (f_local == nf_base[vid_of]),
        nf_base[vid_of] - 1,
        f_local,
    )
    i48 = np.arange(FL, dtype=np.int64)
    vals = tbuf[
        tstart[vid_of][:, None]
        + (fc[:, None] + i48[None, :]) % tl[vid_of][:, None]
    ]
    pos = (ho[:-1][vid_of] + 12 + f_local * FL)[:, None] + i48[None, :]
    out[pos.reshape(-1)] = vals.reshape(-1)
    out[ho[:-1][kinds == 2] + 12] = 0x5A  # 'Z' over frame 0, byte 0
    ob = out.tobytes()
    return [ob[int(ho[v]) : int(ho[v + 1])] for v in range(n)]


def with_video_payload(df):
    """documents → (doc_id, payload binary) raw-frame video containers."""
    import numpy as np

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        docs = list(pdf["doc_id"])
        texts = [t.encode("utf-8") for t in pdf["text"]]
        kinds = np.zeros(len(docs), dtype=np.int64)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": _video_payloads_batch(docs, texts, kinds),
            }
        )

    return synth_from_docs(df, encode, "doc_id long, payload binary")


def sample_frames(df, every_k: int = 2):
    """(doc_id, payload) → (doc_id, frame_idx, checksum): parse the container
    header, slice out every k-th frame, emit one row per sampled frame with
    a byte checksum — frame extraction without materializing unsampled
    frames (the slice never copies them out of the Arrow buffer).

    Scale: narrow map that *grows* rows (frames per video); downstream
    repartition by (doc_id, frame_idx) if a per-frame shuffle follows."""
    import struct

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for i, b in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(b)
                if len(b) < _VID_HEADER or b[:4] != _VID_MAGIC:
                    continue
                n_frames, frame_len = struct.unpack_from("<II", b, 4)
                for f in range(0, n_frames, every_k):
                    off = _VID_HEADER + f * frame_len
                    frame = b[off : off + frame_len]
                    ids.append(i)
                    idxs.append(f)
                    sums.append(sum(frame) % 2**31)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "checksum": pd.Series(sums, dtype="int64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        run, schema="doc_id long, frame_idx int, checksum long"
    )




# ---------------------------------------------------------------------------
# VIDEO perceptual near-dup (round 16 — the modality triad's last leg):
# a 64-bit fingerprint per video = the BITWISE MAJORITY across sampled
# frames of each frame's 64-bit dHash, then the SAME banded machinery as
# the image/audio families (phash_dedup with hash_col='vfp').  Majority
# pooling is the classic temporal aggregate (TMK-style): a re-encode
# that perturbs one frame of several leaves every majority bit intact,
# while byte checksums (sample_frames) break on any edit.
# ---------------------------------------------------------------------------

#: planted video variants: every %5 doc gets a "re-dub" copy (the final
#: frame duplicated once — n_frames+1, same content otherwise) and every
#: %7 doc with text gets a one-byte frame-0 perturbation ('Z' over byte
#: 0) — small fingerprint movement that exercises the radius threshold.
VFP_DUP_MOD = 5
VFP_PERT_MOD = 7
VFP_DUP_OFFSET = 60_000_000
VFP_PERT_OFFSET = 70_000_000
#: the video meta pin for the persisted-index family: 72 = the 8x9 gray
#: cells of the per-frame dHash grid — distinct from the image pin (8)
#: and the audio pin (65), so cross-family probes fail loudly.
VFP_GRID_PIN = 72


def _frame_dhash_u(frame: bytes) -> int:
    """UNSIGNED 64-bit dHash of one raw RGB frame: the frame's bytes are
    cycled into an 8x9 gray grid (cell (gy,gx) averages the 3 bytes at
    p = 3*(gy*9+gx), indexed mod the frame length — the tiny-image
    cycling discipline, so all 64 comparison bits stay informative for a
    48-byte 4x4 frame), then horizontal neighbor comparisons pack bit
    k = gy*8+gx.  Pure integer arithmetic — the oracle re-derives it
    byte for byte."""
    import numpy as np

    B = np.frombuffer(frame, dtype=np.uint8).astype(np.int64)
    L = len(B)
    p = 3 * np.arange(72, dtype=np.int64)
    gray = ((B[p % L] + B[(p + 1) % L] + B[(p + 2) % L]) // 3).reshape(8, 9)
    bits = (gray[:, 1:] > gray[:, :-1]).astype(np.uint64).reshape(-1)
    return int((bits << np.arange(64, dtype=np.uint64)).sum())


def video_fingerprints(
    df,
    id_col: str = "vid_id",
    every_k: int | None = None,
    on_error: str = "skip",
):
    """(id, payload) → (id, n_frames, n_sampled, vfp): decode each raw-
    frame video container, dHash every ``every_k``-th frame (default:
    the slot's ``FRAME_EVERY_K``), and pool the sampled hashes into one
    64-bit bitwise-majority fingerprint (bit k set iff set in a STRICT
    majority of sampled frames — ties break to 0, so the pool is
    deterministic for even counts).  One Arrow ``mapInPandas`` stage, no
    shuffle, 8 bytes out per video however long the clip — everything
    downstream (banding, joins, the persisted index) moves fingerprints,
    never frames.  ``on_error='skip'`` drops undecodable containers
    (the module's malformed-member discipline; quarantine via anti-join
    or :func:`decode_drop_report`)."""
    import struct

    import numpy as np

    k = FRAME_EVERY_K if every_k is None else int(every_k)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .media_image import _pack_u64_rows

        for pdf in batches:
            pays = [bytes(b) for b in pdf["payload"]]
            ids, nfr = [], []
            row_start, row_nf, row_fl = [], [], []
            pos = 0
            # header walk per row (cheap); all frame dHashes + the
            # majority pool below run as one vectorized numpy gather
            # over the batch (guide §4.2) — the per-frame scalar
            # reference `_frame_dhash_u` is pinned against this path in
            # tests/test_media_vectorized.py.
            for i, b in zip(pdf[id_col], pays):
                start = pos
                pos += len(b)
                bad = len(b) < _VID_HEADER or b[:4] != _VID_MAGIC
                if not bad:
                    n_frames, frame_len = struct.unpack_from("<II", b, 4)
                    bad = (
                        n_frames == 0
                        or frame_len == 0
                        or len(b) < _VID_HEADER + n_frames * frame_len
                    )
                if bad:
                    if on_error == "raise":
                        raise ValueError(
                            f"undecodable video payload for {id_col}={i}"
                        )
                    continue
                ids.append(i)
                nfr.append(n_frames)
                row_start.append(start)
                row_nf.append(n_frames)
                row_fl.append(frame_len)
            if ids:
                buf = np.frombuffer(b"".join(pays), dtype=np.uint8)
                start_a = np.asarray(row_start, dtype=np.int64)
                nf_a = np.asarray(row_nf, dtype=np.int64)
                fl_a = np.asarray(row_fl, dtype=np.int64)
                m_a = (nf_a + k - 1) // k
                cum = np.concatenate(([0], np.cumsum(m_a)))
                P = int(cum[-1])
                vid_of = np.repeat(np.arange(len(ids), dtype=np.int64), m_a)
                f = (np.arange(P, dtype=np.int64) - cum[vid_of]) * k
                fstart = start_a[vid_of] + _VID_HEADER + f * fl_a[vid_of]
                L = fl_a[vid_of]
                p = 3 * np.arange(72, dtype=np.int64)
                g = (
                    buf[fstart[:, None] + p[None, :] % L[:, None]].astype(
                        np.int64
                    )
                    + buf[fstart[:, None] + (p[None, :] + 1) % L[:, None]]
                    + buf[fstart[:, None] + (p[None, :] + 2) % L[:, None]]
                ) // 3
                grid = g.reshape(-1, 8, 9)
                bits = (grid[:, :, 1:] > grid[:, :, :-1]).reshape(-1, 64)
                counts = np.add.reduceat(
                    bits.astype(np.int64), cum[:-1], axis=0
                )
                vfp_arr = _pack_u64_rows(2 * counts > m_a[:, None])
                nsmp = pd.Series(m_a, dtype="int32")
                vfps = pd.Series(vfp_arr, dtype="int64")
            else:
                nsmp = pd.Series([], dtype="int32")
                vfps = pd.Series([], dtype="int64")
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "n_frames": pd.Series(nfr, dtype="int32"),
                    "n_sampled": nsmp,
                    "vfp": vfps,
                }
            )

    return df.select(id_col, "payload").mapInPandas(
        run,
        schema=f"{id_col} long, n_frames int, n_sampled int, vfp long",
    )


def _video_redub(doc_id: int, text: bytes) -> bytes:
    """The %{dup} planted variant: the base video re-encoded with its
    FINAL frame duplicated once (n_frames+1) — the trailing-pad
    re-encode whose sampled-hash multiset differs by at most one entry,
    so the majority fingerprint stays within radius of the base."""
    import struct

    n = 1 + doc_id % 8
    frame_len = 4 * 4 * 3
    src = text if text else bytes(1)
    body = bytearray()
    for f in range(n):
        body += bytes(src[(f + i) % len(src)] for i in range(frame_len))
    body += bytes(src[((n - 1) + i) % len(src)] for i in range(frame_len))
    return _VID_MAGIC + struct.pack("<II", n + 1, frame_len) + bytes(body)


def video_evidence_clips(
    df,
    dup_offset: int = VFP_DUP_OFFSET,
    pert_offset: int = VFP_PERT_OFFSET,
):
    """documents → (vid_id, payload): one raw-frame video per document
    plus the planted near-dup variants (final-frame re-dub; one-byte
    frame-0 perturbation) — the video-corpus construction the slot and
    the oracle both re-derive.  Offsets are parameters for larger
    corpora (the image/audio builder discipline)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        _check_variant_offsets(pdf, (dup_offset, pert_offset))
        ids, docs, texts, kinds = [], [], [], []
        for d_, t in zip(pdf["doc_id"], pdf["text"]):
            tb = t.encode("utf-8")
            ids.append(d_)
            docs.append(d_)
            texts.append(tb)
            kinds.append(0)
            if d_ % VFP_DUP_MOD == 0:
                ids.append(d_ + dup_offset)
                docs.append(d_)
                texts.append(tb)
                kinds.append(1)
            if d_ % VFP_PERT_MOD == 0 and len(tb) > 0:
                ids.append(d_ + pert_offset)
                docs.append(d_)
                texts.append(tb)
                kinds.append(2)
        return pd.DataFrame(
            {
                "vid_id": pd.Series(ids, dtype="int64"),
                "payload": _video_payloads_batch(docs, texts, kinds),
            }
        )

    return synth_from_docs(df, build, "vid_id long, payload binary")




def _vfp_sql_ctes() -> str:
    """DuckDB CTE chain re-deriving the ENTIRE video-fingerprint pipeline
    from the document text: the planted video corpus (base raw-frame
    container + final-frame re-dub + one-byte frame-0 perturbation), each
    sampled frame's 64-bit dHash via the same cycled 8x9 gray-grid
    arithmetic the numpy side uses (frame byte j = text[(f + (j mod 48))
    mod L]), the per-video BITWISE MAJORITY pool (strict majority, ties
    to 0), and the brute-force Hamming pair + keep-first dedup sets the
    Spark side's banded machinery must reproduce exactly.  Final CTEs:
    ``vfhash`` (vid_id, nf, m, vfp), ``vfpair`` (ia, ib, dist),
    ``vfded`` (vid_id, dup_of, dist)."""
    from .clustering import _materialize

    return _materialize(f"""vfimg AS (
      SELECT doc_id AS vid_id, doc_id AS d, 0 AS kind, text,
             1 + doc_id % 8 AS nf
      FROM documents
      UNION ALL
      SELECT doc_id + {VFP_DUP_OFFSET}, doc_id, 1, text, 2 + doc_id % 8
      FROM documents WHERE doc_id % {VFP_DUP_MOD} = 0
      UNION ALL
      SELECT doc_id + {VFP_PERT_OFFSET}, doc_id, 2, text, 1 + doc_id % 8
      FROM documents WHERE doc_id % {VFP_PERT_MOD} = 0
        AND octet_length(encode(text)) > 0),
    vfsmp AS (
      SELECT v.vid_id, v.kind, v.text,
             CAST(octet_length(encode(v.text)) AS BIGINT) AS L,
             f.f,
             CASE WHEN v.kind = 1 AND f.f = v.nf - 1 THEN v.nf - 2
                  ELSE f.f END AS fc
      FROM vfimg v CROSS JOIN (SELECT unnest(range(0, 9, {FRAME_EVERY_K})) AS f) f
      WHERE f.f < v.nf),
    vfgray AS (
      SELECT vid_id, f, c.c AS cell,
             SUM(CASE WHEN kind = 2 AND f = 0
                       AND ((3 * c.c + ch.i) % 48) = 0 THEN 90
                      WHEN L = 0 THEN 0
                      ELSE ascii(substr(text,
                        CAST((fc + ((3 * c.c + ch.i) % 48)) % L
                          AS INTEGER) + 1, 1)) END) // 3 AS gray
      FROM vfsmp, range(72) c(c), range(3) ch(i)
      GROUP BY vid_id, f, c.c),
    vffb AS (
      SELECT a.vid_id, a.f,
             (a.cell // 9) * 8 + (a.cell % 9) AS k,
             (b.gray > a.gray) AS bit
      FROM vfgray a JOIN vfgray b
        ON a.vid_id = b.vid_id AND a.f = b.f AND b.cell = a.cell + 1
      WHERE a.cell % 9 < 8),
    vfns AS (SELECT vid_id, nf,
             (nf + {FRAME_EVERY_K - 1}) // {FRAME_EVERY_K} AS m
      FROM vfimg),
    vfmajbit AS (
      SELECT b.vid_id, b.k,
             (2 * SUM(CASE WHEN b.bit THEN 1 ELSE 0 END) > n.m) AS bit
      FROM vffb b JOIN vfns n USING (vid_id)
      GROUP BY b.vid_id, b.k, n.m),
    vfh AS (
      SELECT vid_id,
             CAST(CASE WHEN hv >= 9223372036854775808::HUGEINT
                  THEN hv - 18446744073709551616::HUGEINT
                  ELSE hv END AS BIGINT) AS vfp
      FROM (SELECT vid_id,
                   SUM(CASE WHEN bit THEN 1::HUGEINT << CAST(k AS INTEGER)
                        ELSE 0::HUGEINT END) AS hv
            FROM vfmajbit GROUP BY vid_id)),
    vfhash AS (
      SELECT n.vid_id, n.nf, n.m, h.vfp
      FROM vfns n JOIN vfh h USING (vid_id)),
    vfpair AS (
      SELECT a.vid_id AS ia, b.vid_id AS ib,
             bit_count(xor(a.vfp, b.vfp)) AS dist
      FROM vfhash a JOIN vfhash b ON a.vid_id < b.vid_id
      WHERE bit_count(xor(a.vfp, b.vfp)) <= {PHASH_RADIUS}),
    vfrep AS (SELECT vfp, MIN(vid_id) AS rep FROM vfhash GROUP BY vfp),
    vfded AS (
      SELECT h.vid_id, r.rep AS dup_of, 0 AS dist
      FROM vfhash h JOIN vfrep r
        ON h.vfp = r.vfp AND h.vid_id > r.rep
      UNION ALL
      SELECT vid_id, dup_of, dist FROM (
        SELECT b.rep AS vid_id, a.rep AS dup_of,
               bit_count(xor(a.vfp, b.vfp)) AS dist,
               ROW_NUMBER() OVER (PARTITION BY b.rep ORDER BY a.rep) AS rn
        FROM vfrep a JOIN vfrep b ON a.rep < b.rep
        WHERE bit_count(xor(a.vfp, b.vfp)) <= {PHASH_RADIUS})
      WHERE rn = 1),
    vfpidx AS (
      SELECT b.vid_id AS vid, a.vid_id AS mid,
             bit_count(xor(a.vfp, b.vfp)) AS dist
      FROM vfhash a JOIN vfhash b
        ON a.vid_id < {VFP_DUP_OFFSET} AND b.vid_id >= {VFP_DUP_OFFSET}
      WHERE bit_count(xor(a.vfp, b.vfp)) <= {PHASH_RADIUS}),
    vfpnovel AS (
      SELECT vid_id FROM vfhash WHERE vid_id >= {VFP_DUP_OFFSET}
        AND vid_id NOT IN (SELECT vid FROM vfpidx)),
    -- media_dup_clusters oracle (round 17): the undirected graph of
    -- near-dup pairs PLUS the keep-first attribution edges (exact-
    -- collapse members never reach the pair stage), transitively
    -- closed by a recursive reachability walk — component label =
    -- min reachable id, exactly connected_components' contract.
    vedge AS (
      SELECT ia AS u, ib AS v FROM vfpair
      UNION
      SELECT dup_of AS u, vid_id AS v FROM vfded),
    vsym AS (
      SELECT u, v FROM vedge UNION SELECT v AS u, u AS v FROM vedge),
    vnode AS (SELECT DISTINCT u AS id FROM vsym),
    vreach(id, r) AS (
      SELECT id, id FROM vnode
      UNION
      SELECT vr.id, e.v FROM vreach vr JOIN vsym e ON e.u = vr.r),
    vcomp AS (SELECT id, MIN(r) AS component FROM vreach GROUP BY id)""")

