"""Streaming near-dup dedup: the continuous-ingest twin of the batch
MinHash+LSH path (``operators/dedup.py``).

Two layers, matching what a production ingest actually runs:

- **Exact**: ``dropDuplicatesWithinWatermark`` on the content digest — a
  re-crawled byte-identical page arriving within the lateness allowance is
  suppressed, and the digest state is evicted once the watermark passes
  (bounded state; a plain ``dropDuplicates`` would grow forever).
- **Fuzzy**: per-document MinHash BAND KEYS computed as pure per-row
  expressions (no shuffle — see below), exploded to one row per band, then
  ``dropDuplicatesWithinWatermark`` on the band key: the FIRST document to
  claim a band bucket keeps it; a later near-dup, whose bands collide with
  the original's, claims nothing (or few), and an event-time window
  aggregate rolls the surviving rows back up per document.  A document is
  near-dup-suppressed iff it claims fewer novel bands than it carries —
  the streaming form of the batch LSH candidate criterion ("any shared
  band → candidate pair").

The batch signature pipeline aggregates exploded shingles
(``minhash_signatures``: groupBy per doc); a stream cannot afford a shuffle
aggregation BEFORE its stateful dedup (chained stateful operators are the
scarce resource), so here the whole signature — shingles → base hashes →
16 affine minima → band keys — is ONE row-level expression tree over the
text column, using the SAME ``pmod(xxhash64(shingle), MINHASH_P)`` base
hash and ``(a·h + b) % MINHASH_P`` affine family as the batch xxhash64
configuration (parity asserted in tests/test_streaming_dedup.py, so the
two paths cannot drift).  Sub-shingle documents (< SHINGLE tokens) fall
back to ONE exact-text band — short docs dedup exactly, never silently
pass.

Scale: state per band bucket is one (key, ts) entry inside the watermark;
the only shuffles are the two stateful exchanges Spark requires (dedup on
band key, window rollup on doc) — both keyed, both bounded, both
RocksDB-backed on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text_keys import gram_array, words
from ..operators.dedup import _AFFINE, BAND_SIZE, MINHASH_P, N_HASHES, SHINGLE

N_BANDS = N_HASHES // BAND_SIZE


def streaming_dedup_exact(
    stream_df: DataFrame,
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document stream → first-of-content rows only; a byte-identical copy
    arriving within ``watermark`` of the original is dropped, and digest
    state ages out with the watermark (the property that lets this run
    forever).

    NULL text carries no content to judge, so those rows get a per-doc
    digest and always pass — ``dropDuplicatesWithinWatermark`` treats
    equal (and null) keys as duplicates, and a bare ``md5(NULL)`` key
    would silently swallow every metadata-only row after the first."""
    digest = F.coalesce(
        F.md5(F.col(text_col).cast("binary")),
        F.concat(F.lit("\u0000doc:"), F.col(id_col).cast("string")),
    )
    return (
        stream_df.withColumn("digest", digest)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["digest"])
        .drop("digest")
    )


def minhash_band_keys(text_col) -> F.Column:
    """array<long> of N_BANDS LSH band keys for one document, as a single
    row-level expression: base-hash each shingle
    (``pmod(xxhash64, MINHASH_P)`` — the batch xxhash64 configuration),
    take the 16 affine minima, hash each BAND_SIZE-group to one long.
    Documents with no shingles get a single exact-text fallback band
    (xxhash64 of the raw text, offset out of the affine range)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # duplicates retained: MinHash minima are identical over multiset and
    # set, so the batch DISTINCT is unnecessary here
    harr = F.transform(
        gram_array(words(c), SHINGLE),
        lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_P)),
    )
    sigs = [
        F.array_min(
            F.transform(
                harr, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P
            )
        )
        for (a, b) in _AFFINE
    ]
    bands = F.array(
        *[
            F.xxhash64(
                F.lit(j), *sigs[j * BAND_SIZE : (j + 1) * BAND_SIZE]
            )
            for j in range(N_BANDS)
        ]
    )
    # guard on token count, not on re-deriving the shingle array — the
    # minhash tree above is the expensive expression; the guard must stay
    # cheap (one split+size)
    has_shingles = F.size(words(c)) >= SHINGLE
    return F.when(has_shingles, bands).otherwise(
        F.array(F.xxhash64(F.lit(-1), c))
    )


def streaming_near_dup_flags(
    stream_df: DataFrame,
    watermark: str = "30 minutes",
    window: str = "10 minutes",
    ts_col: str = "ts",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document stream → one row per document that claimed at least one
    novel band bucket, emitted when its event-time window closes:

        (window_start, doc_id, n_bands, n_novel_bands)

    Verdict (applied by the consumer): a document is near-dup-suppressed
    iff it is ABSENT (every band collided — e.g. an exact or trivial
    near-dup) or ``n_novel_bands < n_bands`` (some bands collided — the
    LSH any-shared-band candidate criterion).  Novel documents claim all
    their bands.

    Plan shape: band explode (narrow) → dedup-within-watermark on
    (band index, band key) → window aggregate per doc — the chained
    dedup-then-time-window-aggregate pair Structured Streaming supports in
    append mode."""
    # materialize the band array in its own projection so the expensive
    # minhash tree is evaluated ONCE per row — posexplode and size below
    # then reference a computed column, not two copies of the expression.
    # NULL text → a per-doc unique band (no content to judge: the row must
    # always pass; the shared xxhash64(-1, NULL) key would otherwise
    # suppress every null-text row after the first as a "duplicate").
    bands_expr = F.when(
        F.col(text_col).isNotNull(), minhash_band_keys(text_col)
    ).otherwise(F.array(F.xxhash64(F.lit(-2), F.col(id_col))))
    with_bands = stream_df.select(
        F.col(id_col).alias("doc_id"),
        F.col(ts_col).alias("__ts"),
        bands_expr.alias("__bands"),
    )
    bands = with_bands.select(
        "doc_id",
        "__ts",
        F.posexplode("__bands").alias("band", "band_key"),
        F.size("__bands").alias("n_bands"),
    )
    novel = (
        bands.withWatermark("__ts", watermark)
        .dropDuplicatesWithinWatermark(["band", "band_key"])
    )
    return (
        novel.groupBy(F.window("__ts", window).alias("w"), "doc_id")
        .agg(
            F.first("n_bands").alias("n_bands"),
            F.count(F.lit(1)).alias("n_novel_bands"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "doc_id",
            "n_bands",
            "n_novel_bands",
        )
    )
