"""Audio member of the media-dedup family: the RIFF/WAV container walk,
energy-difference fingerprints (AFP), banded near-dup dedup, the planted
evidence corpus, and the audio oracle CTE chain.  Split out of
``multimodal.py`` in round 17.  Dedup runs through
``phash_index.AUDIO.near_dup_pairs`` / ``.dedup``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from .media_core import (
    PHASH_PERT_MOD,
    PHASH_PERT_OFFSET,
    PHASH_RADIUS,
    PHASH_UP_MOD,
    PHASH_UP_OFFSET,
    _check_variant_offsets,
    _pack_bits_signed64,
    payload_per_doc,
    synth_from_docs,
)

#: audio fingerprint (AFP) configuration — see the audio section at the end
#: of this module: 65 energy windows → 64 neighbor-comparison bits (the 1-D
#: analog of dHash's 9-wide gray grid), 4 anchor samples summed per window.
AFP_WINDOWS = 65
AFP_ANCHORS = 4
#: planted audio variants share the image offsets for kinds 1-2 (op tags
#: distinguish modalities in the union); the half-volume copy gets its own.
AUDIO_VOL_MOD = 3
AUDIO_VOL_OFFSET = 30_000_000
AUDIO_PERT_RUN_DIV = 6


# ---------------------------------------------------------------------------
# Audio: WAV/PCM (RIFF) — codec-free like BMP, so the decode is REAL byte
# work: canonical 44-byte header construction, chunk-walk parsing, and
# numpy feature extraction over the raw 16-bit samples.  A real deployment
# swaps the synthesis for torchaudio/soundfile loads with the same
# mapInPandas shape; compressed codecs (MP3/AAC) stay out of scope in this
# container for the same reason as JPEG.
# ---------------------------------------------------------------------------

_WAV_RATES = (8000, 16000, 44100)


def _wav_rate(doc_id: int) -> int:
    return _WAV_RATES[doc_id % len(_WAV_RATES)]


def _wav_container(rate: int, pcm: bytes) -> bytes:
    """Wrap raw 16-bit mono PCM bytes in a canonical RIFF/WAVE container
    (44-byte header: RIFF + ``fmt `` + ``data``)."""
    import struct

    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16)
    data_hdr = struct.pack("<4sI", b"data", len(pcm))
    riff = struct.pack(
        "<4sI4s", b"RIFF", 4 + len(fmt) + len(data_hdr) + len(pcm), b"WAVE"
    )
    return riff + fmt + data_hdr + pcm


def _wav_pcm_samples(text: bytes):
    """The synthetic sample array for a document: ``(b - 128) << 8`` per
    text byte — full-scale, deterministic (empty text → one zero sample)."""
    import numpy as np

    src = np.frombuffer(text if text else b"\x80", dtype=np.uint8)
    return ((src.astype(np.int16) - 128) << 8).astype("<i2")


def _wav_encode(doc_id: int, text: bytes) -> bytes:
    """Build a valid PCM WAV: RIFF header + ``fmt `` chunk (16-bit mono,
    rate cycled per doc) + ``data`` chunk of samples derived from the
    document's own bytes (``(b - 128) << 8`` — full-scale, deterministic)."""
    return _wav_container(
        _wav_rate(doc_id), _wav_pcm_samples(text).tobytes()
    )


def with_wav_payload(df):
    """documents → (doc_id, payload binary): synthesizes real WAV
    containers — the audio twin of ``with_bmp_payload``."""
    return payload_per_doc(df, _wav_encode)


def _wav_decode(payload: bytes) -> dict:
    """Parse the RIFF container by WALKING chunks (not fixed offsets — real
    WAV files carry LIST/INFO chunks before ``data``), extracting the fmt
    fields and locating the sample bytes."""
    import struct

    bad = {
        "sample_rate": 0, "n_channels": 0, "bits": 0,
        "n_samples": 0, "duration_ms": 0.0, "decoded_ok": False,
        "_data": (0, 0),
    }
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return bad
    pos, rate, channels, bits, data_off, data_len = 12, 0, 0, 0, 0, 0
    while pos + 8 <= len(payload):
        cid, clen = struct.unpack_from("<4sI", payload, pos)
        body = pos + 8
        if cid == b"fmt " and clen >= 16 and body + 16 <= len(payload):
            _, channels, rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", payload, body
            )
        elif cid == b"data":
            data_off, data_len = body, min(clen, len(payload) - body)
        pos = body + clen + (clen & 1)  # chunks are word-aligned
    if not (rate and channels and bits and data_len):
        return bad
    n_samples = data_len // (bits // 8) // channels
    return {
        "sample_rate": rate,
        "n_channels": channels,
        "bits": bits,
        "n_samples": n_samples,
        "duration_ms": n_samples / rate * 1000.0,
        "decoded_ok": True,
        "_data": (data_off, data_len),
    }


def wav_features(df):
    """(doc_id, payload) → per-clip audio features: container metadata from
    the chunk-walk plus REAL signal statistics over the raw 16-bit samples
    (numpy RMS and peak — the normalization/clipping statistics an audio
    training pipeline computes at ingest).  Arrow-batched ``mapInPandas``;
    payloads never leave the executor; malformed containers yield a
    ``decoded_ok=false`` row instead of failing the task."""
    import numpy as np

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(b)
                m = _wav_decode(p)
                off, ln = m.pop("_data")
                if m["decoded_ok"] and m["bits"] == 16 and ln >= 2:
                    s = np.frombuffer(p, dtype="<i2", count=ln // 2, offset=off)
                    rms = float(np.sqrt(np.mean(s.astype(np.float64) ** 2)))
                    peak = int(np.max(np.abs(s.astype(np.int32))))
                else:
                    rms, peak = 0.0, 0
                rows.append({"doc_id": doc_id, **m, "rms": rms, "peak": peak})
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        feats,
        schema=(
            "doc_id long, sample_rate int, n_channels int, bits int,"
            " n_samples long, duration_ms double, decoded_ok boolean,"
            " rms double, peak int"
        ),
    )



# ---------------------------------------------------------------------------
# Audio perceptual near-dup: an energy-difference fingerprint over decoded
# PCM — the audio twin of the dHash/aHash family above, completing the
# modality triad (text MinHash, embedding SemDeDup, image pHash, audio AFP).
#
# Design (all integer arithmetic, like the image hashes, so a DuckDB oracle
# re-derives every bit from the source bytes):
#
# 1. nearest-anchor resample: A = AFP_WINDOWS * AFP_ANCHORS sample anchors
#    at positions (j * n) // A over the n decoded samples — the 1-D twin of
#    `_resize_nearest`'s index map.  By the floor identity
#    floor(floor(k*a / A) / k) = floor(a / A), a k×-DUPLICATION resample
#    (each sample repeated k times — the codec-free stand-in for a
#    sample-rate re-encode) selects the SAME source samples, so the
#    fingerprint is bit-identical, exactly as the 2×-upscaled BMP is for
#    dHash.
# 2. window energies: absolute amplitudes summed per window of
#    AFP_ANCHORS anchors.  Uniform volume scaling (gain applied to every
#    sample, e.g. the planted exact-halving ">> 1" copy) scales every
#    window energy by the same factor, leaving every comparison below
#    unchanged — loudness invariance, the audio analog of dHash's
#    brightness invariance.
# 3. difference bits: bit k = energy(window k+1) > energy(window k),
#    packed into a signed 64-bit integer (AFP_WINDOWS = 65 windows → 64
#    comparisons), consumed by the SAME banded-Hamming machinery as the
#    image hashes (`phash_near_dup_pairs` / `phash_dedup` with
#    hash_col="afp") — exact recall at radius <= bands-1 by pigeonhole.
#
# A production deployment swaps stage 1-2 for a mel-spectrogram frontend
# (torchaudio) with the same mapInPandas shape and the same 64-bit
# downstream contract; the banding/verify/attribution stages need no
# change.
# ---------------------------------------------------------------------------

# Planted audio variants: every %PHASH_UP_MOD doc gets a 2×-duplication
# resample (bit-identical AFP — the floor identity), every %PHASH_PERT_MOD
# doc with text a perturbed copy (a contiguous run of
# len//AUDIO_PERT_RUN_DIV + 1 bytes overwritten — a VARIABLE Hamming
# distance exercising the radius threshold on both sides of the cut), and
# every %AUDIO_VOL_MOD doc a half-volume copy (exact ">> 1" gain —
# bit-identical AFP by loudness invariance).  Constants live next to the
# PHASH block above (they are read at import time by the slot oracle).


def _audio_fp(samples) -> int:
    """The 64-bit energy-difference fingerprint over an int16 sample
    array (see the section comment for the invariances)."""
    import numpy as np

    n = int(samples.size)
    if n == 0:
        return 0
    A = AFP_WINDOWS * AFP_ANCHORS
    idx = (np.arange(A, dtype=np.int64) * n) // A
    a = np.abs(samples[idx].astype(np.int64))
    e = a.reshape(AFP_WINDOWS, AFP_ANCHORS).sum(axis=1)
    return _pack_bits_signed64(e[1:] > e[:-1])


def audio_evidence_clips(
    df,
    up_offset: int = PHASH_UP_OFFSET,
    pert_offset: int = PHASH_PERT_OFFSET,
    vol_offset: int = AUDIO_VOL_OFFSET,
):
    """documents → (aud_id, payload): one WAV per document plus the
    planted near-dup variants (2×-duplication resample; contiguous-run
    byte perturbation; exact half-volume) — the audio-corpus construction
    the AFP slot and the oracle both re-derive.  Shares the image
    family's id-offset scheme (op tags distinguish the modalities in the
    union); offsets are parameters for larger corpora, as in
    :func:`phash_evidence_images`."""
    import numpy as np

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        # same loud-failure discipline as phash_evidence_images
        _check_variant_offsets(pdf, (up_offset, pert_offset, vol_offset))
        ids, pays = [], []
        for d, t in zip(pdf["doc_id"], pdf["text"]):
            tb = t.encode("utf-8")
            s = _wav_pcm_samples(tb)
            rate = _wav_rate(d)
            ids.append(d)
            pays.append(_wav_container(rate, s.tobytes()))
            if d % PHASH_UP_MOD == 0:
                ids.append(d + up_offset)
                pays.append(
                    _wav_container(
                        2 * rate, np.repeat(s, 2).astype("<i2").tobytes()
                    )
                )
            if d % PHASH_PERT_MOD == 0 and len(tb) > 0:
                p = d % len(tb)
                k = min(len(tb) - p, len(tb) // AUDIO_PERT_RUN_DIV + 1)
                ids.append(d + pert_offset)
                pays.append(
                    _wav_encode(d, tb[:p] + b"Z" * k + tb[p + k:])
                )
            if d % AUDIO_VOL_MOD == 0:
                # samples are (b-128)<<8, always even, so ">> 1" is an
                # EXACT halving — every window energy scales by the
                # same factor and the fingerprint is bit-identical
                ids.append(d + vol_offset)
                pays.append(
                    _wav_container(
                        rate, (s >> 1).astype("<i2").tobytes()
                    )
                )
        return pd.DataFrame({"aud_id": ids, "payload": pays})

    return synth_from_docs(df, build, "aud_id long, payload binary")


def _trim_silence(samples, threshold: int = 0):
    """Strip leading/trailing samples with |amplitude| <= threshold —
    the normalization that makes the fingerprint robust to silence
    padding (a re-encode that pads a clip shifts EVERY anchor position;
    trimming first restores them).  Pure integer comparison; an
    all-silent clip returns the empty array (fingerprint 0)."""
    import numpy as np

    keep = np.nonzero(np.abs(samples.astype(np.int32)) > threshold)[0]
    if keep.size == 0:
        return samples[:0]
    return samples[keep[0] : keep[-1] + 1]


def audio_fingerprints(
    df,
    id_col: str = "aud_id",
    on_error: str = "skip",
    trim_silence: bool = False,
    silence_threshold: int = 0,
):
    """(id, payload WAV) → (id, sample_rate, n_samples, afp): decode each
    RIFF container (chunk-walk, like ``wav_features``) and compute the
    64-bit energy-difference fingerprint over the real samples.  One
    Arrow-batched ``mapInPandas`` stage, no shuffle, 20 bytes of output
    per clip however long the audio — downstream (banding, joins) moves
    fingerprints, never samples.  Multi-channel input uses channel 0
    (the interleaved stride — a real downmix would average channels in
    the same loop).

    ``on_error`` follows :func:`image_hashes`: ``'skip'`` drops
    undecodable payloads (quarantine via :func:`decode_drop_report` or an
    anti-join), ``'raise'`` keeps strict behavior for curated inputs.

    ``trim_silence=True`` strips leading/trailing samples with
    |amplitude| <= ``silence_threshold`` before fingerprinting — a
    re-encode that PADS a clip with silence shifts every anchor
    position and breaks the match; trimming restores it.  Off by
    default (the oracle slot pins the untrimmed formula); turn it on
    for real crawl audio, on BOTH the index-build and probe sides."""
    import numpy as np

    if on_error not in ("skip", "raise"):
        raise ValueError(f"unknown on_error {on_error!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .media_image import _pack_u64_rows

        A = AFP_WINDOWS * AFP_ANCHORS
        for pdf in batches:
            pays = [bytes(b) for b in pdf["payload"]]
            ids, rates, ns = [], [], []
            # chunk-walk per row (a few struct reads — cheap); the anchor
            # gather + energy math below is one vectorized numpy pass over
            # the batch (guide §4.2).  trim_silence rows keep the scalar
            # path: the trim moves each clip's anchor base per-row.
            offs, lns, chans, kept = [], [], [], []
            for j, (i, p) in enumerate(zip(pdf[id_col], pays)):
                m = _wav_decode(p)
                off, ln = m.pop("_data")
                if not (m["decoded_ok"] and m["bits"] == 16 and ln >= 2):
                    if on_error == "raise":
                        raise ValueError(
                            f"undecodable WAV payload for {id_col}={i}"
                        )
                    continue
                ids.append(i)
                rates.append(m["sample_rate"])
                ns.append(m["n_samples"])
                offs.append(off)
                lns.append(ln)
                chans.append(m["n_channels"])
                kept.append(j)
            if trim_silence:
                fps = []
                for j, off, ln, c in zip(kept, offs, lns, chans):
                    s = np.frombuffer(
                        pays[j], dtype="<i2", count=ln // 2, offset=off
                    )
                    if c > 1:
                        s = s[::c]
                    fps.append(_audio_fp(_trim_silence(s, silence_threshold)))
                fp_arr = pd.Series(fps, dtype="int64")
            elif ids:
                buf = np.frombuffer(b"".join(pays), dtype=np.uint8)
                plens = np.fromiter(
                    (len(p) for p in pays), dtype=np.int64, count=len(pays)
                )
                starts_all = np.concatenate(([0], np.cumsum(plens)[:-1]))
                s_row = starts_all[np.asarray(kept, dtype=np.int64)]
                off_a = np.asarray(offs, dtype=np.int64)
                c_a = np.asarray(chans, dtype=np.int64)
                n_a = (np.asarray(lns, dtype=np.int64) // 2 + c_a - 1) // c_a
                jj = np.arange(A, dtype=np.int64)
                anchor = (jj[None, :] * n_a[:, None]) // A
                bidx = (s_row + off_a)[:, None] + 2 * c_a[:, None] * anchor
                lo = buf[bidx].astype(np.int64)
                hi = buf[bidx + 1].astype(np.int64)
                val = (hi << 8) | lo
                a = np.abs(val - ((val >> 15) << 16))
                e = a.reshape(-1, AFP_WINDOWS, AFP_ANCHORS).sum(axis=2)
                fp_arr = pd.Series(
                    _pack_u64_rows(e[:, 1:] > e[:, :-1]), dtype="int64"
                )
            else:
                fp_arr = pd.Series([], dtype="int64")
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "sample_rate": pd.Series(rates, dtype="int32"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "afp": fp_arr,
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, "payload").mapInPandas(
        run,
        schema=(
            f"{id_col} {id_type}, sample_rate int, n_samples long,"
            " afp long"
        ),
    )


def _afp_sql_ctes() -> str:
    """DuckDB CTE chain re-deriving the ENTIRE audio-fingerprint pipeline
    from the document text: the planted clip corpus (base WAV +
    2×-duplication resample + contiguous-run perturbation + half-volume),
    each clip's 64-bit energy-difference fingerprint via the same integer
    anchor arithmetic the numpy side uses, and the BRUTE-FORCE Hamming
    pair set + keep-first attribution — which the Spark side's banded
    join must reproduce exactly (pigeonhole: radius <= bands-1).

    The resample (kind 1) and half-volume (kind 3) variants compute with
    the BASE formula on purpose — the floor identity
    ``((j*2L)//A)//2 = (j*L)//A`` and the exact ``>>1`` gain make their
    fingerprints bit-identical to base, so the oracle asserting equality
    IS the invariance proof.  Final CTEs: ``afph`` (aud_id, rate,
    n_samples, afp), ``afppair`` (ia, ib, dist), ``afpded``
    (aud_id, dup_of, dist)."""
    from .clustering import _materialize

    # constants baked into the SQL (module constants, not computed here)
    A = AFP_WINDOWS * AFP_ANCHORS
    nbits = AFP_WINDOWS - 1
    return _materialize(f"""afpclip AS (
      SELECT doc_id AS aud_id, doc_id AS d, 0 AS kind, text FROM documents
      UNION ALL
      SELECT doc_id + {PHASH_UP_OFFSET}, doc_id, 1, text FROM documents
      WHERE doc_id % {PHASH_UP_MOD} = 0
      UNION ALL
      SELECT doc_id + {PHASH_PERT_OFFSET}, doc_id, 2, text FROM documents
      WHERE doc_id % {PHASH_PERT_MOD} = 0
        AND octet_length(encode(text)) > 0
      UNION ALL
      SELECT doc_id + {AUDIO_VOL_OFFSET}, doc_id, 3, text FROM documents
      WHERE doc_id % {AUDIO_VOL_MOD} = 0),
    afpdim AS (
      SELECT aud_id, d, kind, text,
             CAST(octet_length(encode(text)) AS BIGINT) AS L
      FROM afpclip),
    afpval AS (
      SELECT m.aud_id, j.i // {AFP_ANCHORS} AS k,
             CASE WHEN m.L = 0 THEN 0
                  WHEN m.kind = 2
                       AND (j.i * m.L) // {A} >= (m.d % m.L)
                       AND (j.i * m.L) // {A} < (m.d % m.L)
                           + least(m.L - (m.d % m.L),
                                   m.L // {AUDIO_PERT_RUN_DIV} + 1)
                       THEN 38
                  ELSE abs(ascii(substr(m.text,
                         CAST((j.i * m.L) // {A} AS INTEGER) + 1, 1)) - 128)
             END AS aval
      FROM afpdim m, range({A}) j(i)),
    afpwin AS (
      SELECT aud_id, k, SUM(aval) AS e FROM afpval GROUP BY aud_id, k),
    afpbit AS (
      SELECT a.aud_id, a.k AS k, (b.e > a.e) AS bit
      FROM afpwin a JOIN afpwin b
        ON a.aud_id = b.aud_id AND b.k = a.k + 1
      WHERE a.k < {nbits}),
    afph0 AS (
      SELECT aud_id,
             SUM(CASE WHEN bit THEN 1::HUGEINT << CAST(k AS INTEGER)
                  ELSE 0::HUGEINT END) AS hv
      FROM afpbit GROUP BY aud_id),
    afph AS (
      SELECT m.aud_id,
             CAST((CASE WHEN m.kind = 1 THEN 2 ELSE 1 END)
                  * (CASE m.d % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                     ELSE 44100 END) AS INTEGER) AS rate,
             CAST((CASE WHEN m.kind = 1 THEN 2 ELSE 1 END)
                  * (CASE WHEN m.L = 0 THEN 1 ELSE m.L END)
               AS BIGINT) AS n_samples,
             CAST(CASE WHEN h.hv >= 9223372036854775808::HUGEINT
                  THEN h.hv - 18446744073709551616::HUGEINT
                  ELSE h.hv END AS BIGINT) AS afp
      FROM afpdim m JOIN afph0 h USING (aud_id)),
    afppair AS (
      SELECT a.aud_id AS ia, b.aud_id AS ib,
             bit_count(xor(a.afp, b.afp)) AS dist
      FROM afph a JOIN afph b ON a.aud_id < b.aud_id
      WHERE bit_count(xor(a.afp, b.afp)) <= {PHASH_RADIUS}),
    afprep AS (
      SELECT afp, MIN(aud_id) AS rep FROM afph GROUP BY afp),
    afpded AS (
      SELECT h.aud_id, r.rep AS dup_of, 0 AS dist
      FROM afph h JOIN afprep r
        ON h.afp = r.afp AND h.aud_id > r.rep
      UNION ALL
      SELECT aud_id, dup_of, dist FROM (
        SELECT b.rep AS aud_id, a.rep AS dup_of,
               bit_count(xor(a.afp, b.afp)) AS dist,
               ROW_NUMBER() OVER (PARTITION BY b.rep ORDER BY a.rep) AS rn
        FROM afprep a JOIN afprep b ON a.rep < b.rep
        WHERE bit_count(xor(a.afp, b.afp)) <= {PHASH_RADIUS})
      WHERE rn = 1),
    afpidx AS (
      SELECT b.aud_id AS vid, a.aud_id AS mid,
             bit_count(xor(a.afp, b.afp)) AS dist
      FROM afph a JOIN afph b
        ON a.aud_id < {PHASH_UP_OFFSET} AND b.aud_id >= {PHASH_UP_OFFSET}
      WHERE bit_count(xor(a.afp, b.afp)) <= {PHASH_RADIUS}),
    afpnovel AS (
      SELECT aud_id FROM afph WHERE aud_id >= {PHASH_UP_OFFSET}
        AND aud_id NOT IN (SELECT vid FROM afpidx))""")

