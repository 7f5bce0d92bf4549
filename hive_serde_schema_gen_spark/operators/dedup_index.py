"""Incremental near-dup dedup against a PERSISTED MinHash index — the
production ingest pattern: a new batch dedups against the historical corpus
by probing an on-disk artifact, never re-shingling the 100 TB already
processed.  (Batch twin: ``dedup.minhash_lsh_pairs``; streaming twin:
``streaming/dedup.py``.  The reference has no persistence at all —
``Schemer.scala`` folds a single file in memory — so this whole module is
engine-side scale machinery.)

Index layout (parquet, under one directory):

- ``bands/``  — ``(band, band_key, doc_id)``, range-clustered + sorted on
  ``(band, band_key)`` so a probe batch's band keys prune row groups via
  min/max footers (the same mechanics as ``sinks.write_curated``).
- ``sigs/``   — ``(doc_id, mh0..mh{n-1})``: one row per indexed doc, the
  16-minhash signature used for verification.
- ``meta/``   — one row pinning (version, n_hashes, band_size, shingle,
  hash_fn, max_df); probes assert the constants match and REUSE the pinned
  ``max_df``, so an index built under different parameters fails loudly —
  and a df-capped index is probed with the same capping — instead of
  silently missing candidates.  (The cap threshold is computed against
  each frame's own document count, the standard relative-df semantics;
  a tiny probe batch therefore caps little, which only ADDS candidates
  for the signature verify to reject.)

Verification is SIGNATURE-estimated Jaccard (matching-minhash fraction,
granularity 1/n_hashes) — the standard index trade: storing signatures
costs ~136 bytes/doc regardless of document size, where exact-Jaccard
verification would require persisting every shingle set (≈ the corpus
itself).  With 16 hashes and threshold 0.8 a candidate needs >= 13
matching minhashes; E[estimate] = true Jaccard, so borderline pairs can
flip either way within ±1/16 — callers needing exact verification re-read
the matched docs' text (ids are in the output) and run the batch verifier
on that tiny subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_keys import content_digest
from .dedup import (
    BAND_SIZE,
    JACCARD_THRESHOLD,
    N_HASHES,
    SHINGLE,
    band_keys_from_signatures,
    cap_shingles,
    minhash_signatures,
    shingles_df,
)

# v2 (round 8): sigs rows carry an `epoch` attribution column — the
# cross-epoch re-delivery guard in streaming/ingest.py depends on it.
# The bump makes a pre-epoch index fail LOUDLY at _check_meta ("rebuild
# the index") instead of the alternative failure mode: extending a v1
# index would mix epoch-less and epoch-stamped parquet files in one dir,
# and spark.read.parquet (no mergeSchema) takes its schema from an
# arbitrary file — whether the guard ran would then vary with file
# listing order, silently re-admitting re-delivered ids on some runs.
INDEX_VERSION = 2
_SIG_COLS = [f"mh{i}" for i in range(N_HASHES)]


def _signatures(
    docs: DataFrame, max_df: float | None, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(doc_id, mh0..mh15) under the index's pinned hash configuration:
    ``xxhash64`` (production — shingles hashed to 8-byte longs at creation)
    or ``md5`` (cross-engine reproducible — the oracle configuration, same
    precedent as ``minhash_lsh_pairs``)."""
    shd = shingles_df(docs, hashed=(hash_fn == "xxhash64"))
    if max_df is not None:
        shd = cap_shingles(shd, docs.count(), max_df)
    return minhash_signatures(shd, hash_fn)


def build_minhash_index(
    docs: DataFrame,
    path: str,
    max_df: float | None = None,
    n_files: int = 32,
    owner: str | None = None,
    hash_fn: str = "xxhash64",
    digest_sketch: bool = False,
    signatures: DataFrame | None = None,
) -> None:
    """Build the persisted index from a (doc_id, text) corpus.

    One corpus pass: shingle → signatures (one map-side-combined groupBy)
    → bands.  The bands relation is range-clustered on (band, band_key) at
    write time so probe-side lookups skip row groups; signatures cluster
    on doc_id for the verification join.  Mutating writers hold the
    single-writer lease (``manifest.index_writer_lock``).  ``hash_fn`` is
    pinned in ``meta`` — every later extend/probe derives its signatures
    under the SAME configuration (``_check_meta`` returns it), so an index
    can never be probed with foreign hashes.

    ``signatures`` (round 17): an optional precomputed (doc_id, mh0..15)
    frame for EXACTLY these docs under EXACTLY this (hash_fn, max_df)
    configuration — callers that already hold the corpus signatures
    (the ``minhash_ops`` slot computes them for the pairs arm) pass a
    filtered view instead of re-shingling; signatures are a pure
    per-document function, so a correct frame is indistinguishable from
    recomputing it here."""
    from ..sources.manifest import index_writer_lock

    spark = docs.sparkSession
    with index_writer_lock(spark, path, owner):
        mh = (
            signatures
            if signatures is not None
            else _signatures(docs, max_df, hash_fn).localCheckpoint()
        )
        bands = band_keys_from_signatures(mh, hash_fn)
        (
            bands.repartitionByRange(n_files, "band", "band_key")
            .sortWithinPartitions("band", "band_key")
            .write.mode("overwrite")
            .parquet(f"{path}/bands")
        )
        (
            mh.withColumn("epoch", F.lit(None).cast("long"))
            .repartitionByRange(max(1, n_files // 4), "doc_id")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .parquet(f"{path}/sigs")
        )
        spark.createDataFrame(
            [(INDEX_VERSION, N_HASHES, BAND_SIZE, SHINGLE, hash_fn, max_df)],
            "version int, n_hashes int, band_size int, shingle int, "
            "hash_fn string, max_df double",
        ).write.mode("overwrite").parquet(f"{path}/meta")
        if digest_sketch:
            # opt-in Theta triage artifact (see recrawl_triage) — written
            # under the SAME lease as the index it describes
            digest_sketch_frame(docs).write.mode("overwrite").parquet(
                f"{path}/theta"
            )


def extend_minhash_index(
    docs: DataFrame, path: str, epoch: int | None = None,
    owner: str | None = None, digest_sketch: bool = False,
    signatures: DataFrame | None = None,
) -> None:
    """Append a new batch's bands + signatures to an existing index (run
    AFTER dedup: index the batch's SURVIVORS, or every later batch matches
    the duplicates you just rejected).  Appends are new parquet files —
    no rewrite of existing data, so ingest cost is O(batch), not O(index);
    the appended files lose the range-clustering of the initial build
    (probes still work — they just prune less inside the appended tail)
    until :func:`compact_minhash_index` re-clusters them (O(index rows),
    no re-shingling).  Signatures use the index's pinned ``max_df``.

    ``epoch`` stamps the signature rows with the writing micro-batch's
    epoch id — the attribution ``streaming/ingest.py`` uses to tell a
    REPLAY of the same epoch (ids must pass, the write is idempotent)
    from a cross-epoch RE-DELIVERY of an already-accepted id (ids must be
    rejected).  Batch/compaction writers leave it None.

    Holds the single-writer lease for the append (an extend racing a
    compaction would otherwise lose its batch to the swap — ConflictError
    instead, nothing lost).  Streaming writers pass their stable pipeline
    identity as ``owner`` so a post-crash restart re-acquires its own
    stale lease instead of deadlocking."""
    from ..sources.manifest import index_writer_lock

    with index_writer_lock(docs.sparkSession, path, owner):
        max_df, hash_fn = _check_meta(docs.sparkSession, path)
        # signatures= follows build_minhash_index: caller guarantees the
        # frame matches these docs under the index's pinned configuration
        mh = (
            signatures
            if signatures is not None
            else _signatures(docs, max_df, hash_fn).localCheckpoint()
        )
        band_keys_from_signatures(mh, hash_fn).write.mode("append").parquet(
            f"{path}/bands"
        )
        mh.withColumn("epoch", F.lit(epoch).cast("long")).write.mode(
            "append"
        ).parquet(f"{path}/sigs")
        if digest_sketch:
            digest_sketch_frame(docs, epoch).write.mode("append").parquet(
                f"{path}/theta"
            )


def _check_meta(spark: SparkSession, path: str) -> tuple:
    """Validate the pinned parameters; returns the index's
    ``(max_df, hash_fn)`` so probe/extend signatures are computed under the
    same df-capping AND hash configuration the index was built with."""
    m = spark.read.parquet(f"{path}/meta").collect()[0]
    got = (m["version"], m["n_hashes"], m["band_size"], m["shingle"])
    want = (INDEX_VERSION, N_HASHES, BAND_SIZE, SHINGLE)
    if got != want or m["hash_fn"] not in ("xxhash64", "md5"):
        raise ValueError(
            f"minhash index at {path} was built with parameters "
            f"{got + (m['hash_fn'],)}, this build expects "
            f"{want} + hash_fn in ('xxhash64', 'md5') — rebuild the index"
        )
    # pre-max_df indexes (no column) behave as uncapped
    max_df = m["max_df"] if "max_df" in m.__fields__ else None
    return max_df, m["hash_fn"]


def dedup_against_index(
    new_docs: DataFrame,
    path: str,
    threshold: float = JACCARD_THRESHOLD,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Probe the index with a new batch: returns ``(doc_id, matched_doc_id,
    est_jaccard)`` — one row per (new doc, indexed doc) pair sharing >= 1
    LSH band with signature-estimated Jaccard >= ``threshold``.  New docs
    with no row are novel; the caller anti-joins to keep them, then calls
    :func:`extend_minhash_index` with the survivors.

    Scale shape: the batch side (signatures + bands for the NEW docs only)
    is broadcast by default — the candidate join against the on-disk bands
    relation then runs map-side over the index scan, with the band-key
    range clustering pruning row groups; NO shuffle of index data ever
    happens.  The verification join reads only candidate signatures.  Set
    ``broadcast_batch=False`` for a batch too large to broadcast (then it
    is a plain shuffle join on 8-byte band keys)."""
    spark = new_docs.sparkSession
    max_df, hash_fn = _check_meta(spark, path)
    min_matches = -(-threshold * N_HASHES // 1)  # ceil
    mh_new = _signatures(new_docs, max_df, hash_fn).localCheckpoint()
    bands_new = band_keys_from_signatures(mh_new, hash_fn)
    if broadcast_batch:
        bands_new = F.broadcast(bands_new)
    bands_idx = spark.read.parquet(f"{path}/bands")
    cand = (
        bands_idx.alias("i")
        .join(
            bands_new.alias("n"),
            (F.col("i.band") == F.col("n.band"))
            & (F.col("i.band_key") == F.col("n.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("doc_id"),
            F.col("i.doc_id").alias("matched_doc_id"),
        )
        .distinct()
    )
    sigs_idx = spark.read.parquet(f"{path}/sigs")
    matches = sum(
        (F.col(f"a.{c}") == F.col(f"b.{c}")).cast("int") for c in _SIG_COLS
    )
    est = matches.cast("double") / F.lit(N_HASHES)
    return (
        cand.join(
            mh_new.alias("a"), cand["doc_id"] == F.col("a.doc_id")
        )
        .join(sigs_idx.alias("b"), cand["matched_doc_id"] == F.col("b.doc_id"))
        .select(
            cand["doc_id"],
            cand["matched_doc_id"],
            est.alias("est_jaccard"),
            matches.alias("__m"),
        )
        .filter(F.col("__m") >= F.lit(int(min_matches)))
        .drop("__m")
    )


def novel_docs(new_docs: DataFrame, matches: DataFrame) -> DataFrame:
    """The batch rows with no index match — the survivors to keep and
    index.  Left-anti on doc_id; pairs frames from
    :func:`dedup_against_index` pass straight in."""
    return new_docs.join(
        matches.select("doc_id").distinct(), "doc_id", "left_anti"
    )


def compact_minhash_index(
    spark: SparkSession, path: str, n_files: int = 32,
    owner: str | None = None,
) -> None:
    """Rewrite an appended-to MinHash index back into its initial-build
    clustering — the compaction ``extend_minhash_index`` documents
    ("the appended files lose the range-clustering ... until the next
    compaction") — WITHOUT re-shingling anything: cost is O(index rows),
    a read + clustered rewrite, never a corpus re-scan.

    - ``bands``: EXACT-duplicate rows dropped (an epoch replay appends
      identical band rows by design — ``streaming/ingest.py`` defers
      their reclamation to "the next compaction", which is THIS), then
      re-clustered ``repartitionByRange(band, band_key)`` + sorted, so
      probe band keys prune row groups across the WHOLE index again (the
      appended tail included);
    - ``sigs``: exact-duplicate rows dropped (a replayed extend stamps
      the same epoch, so its copies are row-identical; distinct can
      never merge DIFFERENT attributions), re-clustered on doc_id; the
      ``epoch`` column is otherwise preserved row-for-row — the
      cross-epoch re-delivery guard keeps working on a compacted index;
    - ``meta``: untouched (same version, same pinned parameters, same
      ``max_df``).

    Probe parity is structural (the probe never depended on file layout,
    only on row content); pinned with a pre/post ``dedup_against_index``
    equality test in tests/test_index_compaction.py.  Swap semantics are
    ``text_index._swap_rewrite``'s (delete+rename; run under the manifest
    layer for crash-safe swaps).  The whole rewrite holds the
    single-writer lease — a concurrent extend gets ``ConflictError``
    instead of losing its batch to the swap."""
    from ..sources.manifest import index_writer_lock
    from .text_index import _swap_rewrite

    with index_writer_lock(spark, path, owner):
        _check_meta(spark, path)
        bands = spark.read.parquet(f"{path}/bands").distinct()
        _swap_rewrite(
            spark, path, "bands",
            lambda tmp: bands.repartitionByRange(n_files, "band", "band_key")
            .sortWithinPartitions("band", "band_key")
            .write.parquet(tmp),
        )
        sigs = spark.read.parquet(f"{path}/sigs").distinct()
        _swap_rewrite(
            spark, path, "sigs",
            lambda tmp: sigs.repartitionByRange(max(1, n_files // 4), "doc_id")
            .sortWithinPartitions("doc_id")
            .write.parquet(tmp),
        )


# ---------------------------------------------------------------------------
# Round-12: Theta digest-sketch triage — the pre-probe recrawl question
# ---------------------------------------------------------------------------
#
# Before paying the MinHash probe (shingle + band join) for a recrawl
# batch, the cheap question is "what fraction of this batch have we
# ALREADY ingested byte-identically?" — a crawl that re-delivers 95% of
# last week's pages should be triaged from two KB-sized sketches, not a
# shingling pass.  The index optionally carries a Theta sketch of CONTENT
# DIGESTS per build/extend call ({path}/theta: (epoch, sketch)); triage is
# a merge-only union + one intersection — O(epochs) sketch bytes, never a
# scan of indexed data.  Appends are idempotent under epoch replay by
# Theta semantics (re-sketching identical content unions to the same set).
# Spark >= 4.1 surface (operators/sketches.py floors): every entry point
# gates with the same fail-fast-naming-the-floor contract.

#: relative accuracy contract for triage estimates — Theta sketches at
#: the default lgK are EXACT below ~4k distinct values and ~1.6% at 1σ
#: beyond, so 5% is a conservative operational bound
TRIAGE_REL_ERR = 0.05


def digest_sketch_frame(docs: DataFrame, epoch: int | None = None) -> DataFrame:
    """One-row ``(epoch, sketch)`` Theta sketch of the batch's content
    digests — one map-side-combined aggregate pass."""
    from .sketches import _require_sketch_functions

    _require_sketch_functions(docs.sparkSession, ["theta_sketch_agg"])
    return (
        docs.select(content_digest().alias("__dg"))
        .agg(F.expr("theta_sketch_agg(__dg)").alias("sketch"))
        .select(F.lit(epoch).cast("long").alias("epoch"), "sketch")
    )


def append_digest_sketch(
    docs: DataFrame, path: str, epoch: int | None = None,
    owner: str | None = None,
) -> None:
    """Append the batch's digest sketch to ``{path}/theta`` — call with
    the same batch you passed to :func:`build_minhash_index` /
    :func:`extend_minhash_index` (or pass ``digest_sketch=True`` there).
    Holds the single-writer lease like every mutating index writer."""
    from ..sources.manifest import index_writer_lock

    with index_writer_lock(docs.sparkSession, path, owner):
        digest_sketch_frame(docs, epoch).write.mode("append").parquet(
            f"{path}/theta"
        )


def recrawl_triage(
    new_docs: DataFrame, path: str, rel_err: float = TRIAGE_REL_ERR
) -> dict:
    """Sketch-only overlap triage of a recrawl batch against everything
    the index has seen: ``{"batch_distinct": est, "seen": est,
    "seen_frac": est}`` — distinct content digests in the batch, how many
    of them the index already holds (Theta intersection), and the
    fraction.  Merge-only: reads {path}/theta (KBs per epoch), NEVER
    bands/sigs/corpus — the decision number that lets ingest skip the
    MinHash probe for a near-pure re-crawl, or size the probe for the
    novel remainder.  Estimates carry the Theta accuracy contract
    (``rel_err`` documents the operational bound; below ~4k distinct
    digests the sketch is exact)."""
    from pyspark.sql.utils import AnalysisException

    from .sketches import _require_sketch_functions

    spark = new_docs.sparkSession
    _require_sketch_functions(
        spark,
        [
            "theta_sketch_agg",
            "theta_union_agg",
            "theta_intersection",
            "theta_sketch_estimate",
        ],
    )
    try:
        idx = spark.read.parquet(f"{path}/theta")
    except AnalysisException as e:
        raise ValueError(
            f"index at {path} has no digest-sketch artifact ({e.__class__.__name__}) "
            "— build/extend with digest_sketch=True, or call "
            "append_digest_sketch for each already-indexed batch"
        ) from e
    merged = idx.agg(F.expr("theta_union_agg(sketch)").alias("__u"))
    batch = (
        new_docs.select(content_digest().alias("__dg"))
        .agg(F.expr("theta_sketch_agg(__dg)").alias("__b"))
    )
    row = (
        batch.crossJoin(merged)  # 1 row × 1 row
        .select(
            F.expr("theta_sketch_estimate(__b)").alias("b"),
            F.expr(
                "theta_sketch_estimate(theta_intersection(__b, __u))"
            ).alias("s"),
        )
        .collect()[0]
    )
    b, s = float(row["b"]), float(row["s"])
    return {
        "batch_distinct": b,
        "seen": s,
        "seen_frac": (s / b) if b > 0 else 0.0,
    }


def compact_digest_sketches(
    spark: SparkSession, path: str, owner: str | None = None
) -> None:
    """Fold the per-epoch sketch rows into ONE union row — merge-only
    (O(epochs) sketch bytes), the sibling of :func:`compact_minhash_index`
    for the theta artifact.  Epoch attribution is intentionally dropped:
    the artifact's only consumer is the union in :func:`recrawl_triage`."""
    from ..sources.manifest import index_writer_lock
    from .sketches import _require_sketch_functions
    from .text_index import _swap_rewrite

    _require_sketch_functions(spark, ["theta_union_agg"])
    with index_writer_lock(spark, path, owner):
        merged = (
            spark.read.parquet(f"{path}/theta")
            .agg(F.expr("theta_union_agg(sketch)").alias("sketch"))
            .select(F.lit(None).cast("long").alias("epoch"), "sketch")
        )
        _swap_rewrite(
            spark, path, "theta",
            lambda tmp: merged.coalesce(1).write.parquet(tmp),
        )


def _has_digest_sketch(spark: SparkSession, path: str) -> bool:
    """True iff the index at ``path`` carries the ``theta`` triage
    artifact (a metadata read, no data scan)."""
    from pyspark.sql.utils import AnalysisException

    try:
        spark.read.parquet(f"{path}/theta").schema
        return True
    except AnalysisException:
        return False


def ingest_recrawl(
    new_docs: DataFrame,
    path: str,
    threshold: float = JACCARD_THRESHOLD,
    triage: bool = True,
    extend: bool = True,
    epoch: int | None = None,
    owner: str | None = None,
    digest_sketch: bool | None = None,
):
    """The complete batch recrawl step, composed:

        [sketch triage] → MinHash probe → novel anti-join →
        [extend index (+ digest sketch)]

    Returns ``(novel, report)`` — the surviving documents (already
    appended to the index when ``extend=True``) and a report dict with
    the triage estimates (when ``triage=True``) plus exact ``n_batch`` /
    ``n_novel`` counts.  Triage is advisory: the probe ALWAYS runs (a
    sketch estimate never drops data), but the report's ``seen_frac`` is
    the operational signal — a near-1.0 batch is a pure re-crawl and the
    caller can route it to a cheaper cadence next time.  The streaming
    twin is ``streaming/ingest.process_ingest_batch``.

    ``digest_sketch`` controls theta-artifact maintenance on the extend
    INDEPENDENTLY of whether triage ran on this call (round 13: the two
    were coupled, so one ``triage=False`` call silently left its batch
    out of the sketch and every later ``seen_frac`` undercounted).
    Default ``None`` = maintain iff the artifact already exists — an
    index that triages keeps its sketch complete, an index that never
    opted in never grows one."""
    report: dict = {}
    if triage:
        report["triage"] = recrawl_triage(new_docs, path)
    matches = dedup_against_index(new_docs, path, threshold)
    novel = novel_docs(new_docs, matches).localCheckpoint()
    report["n_batch"] = new_docs.count()
    report["n_novel"] = novel.count()
    if extend:
        if digest_sketch is None:
            # triage just proved the artifact exists; only probe the
            # filesystem when triage was skipped this call
            digest_sketch = triage or _has_digest_sketch(
                new_docs.sparkSession, path
            )
        extend_minhash_index(
            novel, path, epoch=epoch, owner=owner,
            digest_sketch=digest_sketch,
        )
    return novel, report
