"""Benchmark decontamination — the three contamination modes a
pretraining pipeline runs before training: exact verbatim n-gram overlap
(:func:`ngram_contamination`), fuzzy shingle-Jaccard near-duplication
(:func:`minhash_contamination`), and embedding-cosine paraphrase leakage
(:func:`semantic_contamination`).  Split out of ``curation.py`` in round
14; every operator keeps the benchmark side BROADCAST and the corpus side
streaming — the corpus never self-joins here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text_keys import word_grams, words


def word_ngrams(
    d: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = True,
) -> DataFrame:
    """Distinct word n-grams per document (:func:`text_keys.word_grams`),
    shuffle-free until the distinct.  ``hashed`` replaces the gram string
    with xxhash64 — an 8-byte join payload instead of a ~50-byte string,
    the production configuration (a 2⁻⁶⁴ collision can only add one
    spurious shared gram)."""
    g = F.col("gram")
    return word_grams(d, words(text_col), n, id_col).select(
        id_col, (F.xxhash64(g) if hashed else g).alias("gram")
    ).distinct()


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    bench_id_col: str = "bench_id",
    hashed: bool = True,
) -> DataFrame:
    """Benchmark decontamination: for every (document, benchmark item) pair
    sharing at least one word n-gram, the shared-gram count and the
    fraction of the benchmark item's grams found in the document — the
    standard eval-set-leakage statistic (long verbatim n-grams, n≈8+,
    essentially never collide by chance in natural text).

    Scale shape: the corpus side is one explode + distinct; the benchmark
    side (thousands of items vs billions of documents) broadcasts, so the
    join is map-side — the corpus never shuffles on gram.  Aggregation is
    per (doc, bench) pair, map-side combined.  A downstream pipeline drops
    or flags docs with ``frac_bench_matched`` above a threshold.

    Returns (doc_id, bench_id, n_shared, bench_grams, frac_bench_matched),
    one row per contaminated pair.  ``hashed=False`` keeps the raw gram
    strings (the oracle configuration — DuckDB has no xxhash64; counts
    are equal barring a 2^-64 collision)."""
    dg = word_ngrams(docs, n, hashed=hashed)
    bg = word_ngrams(benchmark, n, id_col=bench_id_col, hashed=hashed)
    bench_sizes = bg.groupBy(bench_id_col).agg(
        F.count(F.lit(1)).alias("bench_grams")
    )
    shared = (
        dg.join(F.broadcast(bg), "gram")
        .groupBy("doc_id", bench_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return shared.join(F.broadcast(bench_sizes), bench_id_col).select(
        "doc_id",
        bench_id_col,
        "n_shared",
        "bench_grams",
        (F.col("n_shared") / F.col("bench_grams")).alias(
            "frac_bench_matched"
        ),
    )


def minhash_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    bench_id_col: str = "bench_id",
    hash_fn: str = "xxhash64",
    threshold: float | None = None,
) -> DataFrame:
    """FUZZY benchmark decontamination: corpus documents that are
    near-duplicates of a benchmark item under shingle Jaccard — the
    third contamination mode next to :func:`ngram_contamination` (exact
    verbatim n-gram containment) and :func:`semantic_contamination`
    (embedding cosine).  Catches lightly-edited eval leaks (reworded
    stems, shuffled answer options, whitespace/casing churn) that break
    verbatim 8-grams but keep most 3-shingles.

    Scale shape (benchmark ≪ corpus, corpus NEVER self-joins): the
    benchmark's LSH band keys broadcast (``N_HASHES`` longs per item)
    against the corpus band keys — candidates are (doc, bench) pairs
    sharing a band bucket; then only CANDIDATE docs' shingles meet the
    (broadcast) benchmark shingles for the exact-Jaccard verify, so the
    expensive join touches a vanishing corpus fraction.  Same
    banded-candidates-then-verify contract as ``dedup.minhash_lsh_pairs``
    — emitted pairs all satisfy the exact threshold; the band hash only
    affects recall.

    Returns (doc_id, bench_id, jaccard, containment) — ``containment``
    = |shared| / |bench shingles|, the asymmetric leakage stat.  NOTE:
    candidates come from JACCARD banding, so a short bench item buried
    in a long document (high containment, low Jaccard) is not reliably
    recalled here — chunk the corpus first (``packing.chunk_documents``)
    to bench-item granularity, or use :func:`ngram_contamination`, for
    that shape.  ``threshold`` defaults to ``dedup.JACCARD_THRESHOLD``."""
    from .dedup import (
        JACCARD_THRESHOLD,
        band_keys_from_signatures,
        minhash_signatures,
        shingles_df,
    )

    if threshold is None:
        threshold = JACCARD_THRESHOLD
    hashed = hash_fn == "xxhash64"
    # the corpus shingle chain (posexplode + window + distinct) feeds
    # BOTH the banding pass and the verify pass — cut it once, exactly
    # as minhash_lsh_pairs does for its self-join
    shd_c = shingles_df(docs, hashed=hashed).localCheckpoint()
    shd_b = (
        shingles_df(
            benchmark.select(F.col(bench_id_col).alias("doc_id"), "text"),
            hashed=hashed,
        )
        .withColumnRenamed("doc_id", bench_id_col)
        .localCheckpoint()  # bands + verify + sizes all read it
    )
    bands_c = band_keys_from_signatures(
        minhash_signatures(shd_c, hash_fn), hash_fn
    )
    bands_b = band_keys_from_signatures(
        minhash_signatures(
            shd_b.withColumnRenamed(bench_id_col, "doc_id"), hash_fn
        ),
        hash_fn,
    ).withColumnRenamed("doc_id", bench_id_col)
    cand = (
        bands_c.join(F.broadcast(bands_b), ["band", "band_key"])
        .select("doc_id", bench_id_col)
        .distinct()
        .localCheckpoint()  # docs-filter + pair-restrict both read it
    )
    # candidate docs ≲ |benchmark| × near-dup multiplicity — broadcast
    # both candidate frames so the corpus shingles never shuffle; xc
    # (candidate docs' shingles, small) feeds sizes + the verify join
    xc = shd_c.join(
        F.broadcast(cand.select("doc_id").distinct()), "doc_id"
    ).localCheckpoint()
    sizes_c = xc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__na"))
    sizes_b = shd_b.groupBy(bench_id_col).agg(
        F.count(F.lit(1)).alias("__nb")
    )
    inter = (
        xc.join(F.broadcast(shd_b), "shingle")
        .groupBy("doc_id", bench_id_col)
        .agg(F.count(F.lit(1)).alias("__i"))
        # LSH candidates only
        .join(F.broadcast(cand), ["doc_id", bench_id_col])
    )
    jac = F.col("__i").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__i")
    )
    return (
        inter.join(sizes_c, "doc_id")
        .join(F.broadcast(sizes_b), bench_id_col)
        .select(
            "doc_id",
            bench_id_col,
            jac.alias("jaccard"),
            (F.col("__i").cast("double") / F.col("__nb")).alias(
                "containment"
            ),
        )
        .filter(F.col("jaccard") >= float(threshold))
    )


def semantic_contamination(
    emb: DataFrame,
    bench_emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    bench_id_col: str = "bench_id",
    emb_col: str = "embedding",
    exact_below: int = 10_000,
    strategy: str = "auto",
    quantize: bool = False,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic sibling of
    :func:`ngram_contamination`: flag corpus vectors whose cosine with ANY
    benchmark vector reaches ``threshold`` (paraphrased eval items share
    few n-grams but embed close; a pipeline runs BOTH filters).

    Returns ``(vec_id, max_bench_sim, nearest_bench_id)`` for flagged
    vectors only; callers ``left_anti`` on ``vec_id`` to drop them.

    Two physical strategies behind one contract:

    - benchmark <= ``exact_below`` rows (the common single-eval-set case):
      exact ``crossJoin(broadcast(bench))`` — the corpus never shuffles,
      per-(doc, bench) similarities compute map-side and collapse in a
      partial max, norms precompute per side.
    - larger benchmark suites (10⁴–10⁵ items across many evals): the
      crossJoin's per-row cost dominates, so candidates come from the
      existing LSH bucket machinery (``similarity.lsh_buckets``) — docs
      keep their exact buckets, the BROADCAST benchmark side expands each
      bucket to Hamming distance <= 1 (per-table multiprobe), docs and
      benchmark join on (table, bucket), and the exact cosine runs only on
      collisions.  For a pair at cosine 0.95 the per-table ≤1-bit-flip
      collision probability is ~0.58; across 12 OR'd tables the miss
      probability is ~(1-0.58)¹² ≈ 3e-5 — and exact verification of
      candidates means NO false positives, ever.

    ``strategy``: ``'exact'`` / ``'lsh'`` force a path WITHOUT the eager
    ``bench_emb.count()`` job the auto heuristic needs (callers looping
    over many benchmark suites pass it to skip one job per call);
    ``'auto'`` counts and compares against ``exact_below``.  The chosen
    path is logged (INFO) either way — a decontamination gate silently
    switching to the probabilistic path (~3e-5 miss rate at 0.95) is an
    auditability hole flagged by adversarial review.

    ``quantize``: run the similarity arithmetic on round(x·10⁴) integer
    vectors (``similarity.quantized``/``qdot``) — integer dot products
    are order-free, which is what lets the ``curation_ops`` driver slot
    hash-check this operator against a DuckDB re-derivation (the same
    quantized-oracle precedent as every ANN slot).  Production default
    stays the float path (no quantization error; per-row sequential fold,
    deterministic within the engine)."""
    import logging

    from ..functions.vector import dot, l2_norm

    if strategy not in ("auto", "exact", "lsh"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        # exact_below=0 pins the LSH path — no job needed to decide
        strategy = (
            "lsh"
            if exact_below == 0 or bench_emb.count() > exact_below
            else "exact"
        )
    logging.getLogger(__name__).info(
        "semantic_contamination: %s path (threshold=%s)", strategy, threshold
    )
    if quantize:
        from .similarity import qdot, quantized

        def _emb(c):
            return quantized(c)

        def _norm(c):
            q = quantized(c)
            return F.sqrt(qdot(q, q).cast("double"))

        def _dot(a, b):
            return qdot(F.col(a), F.col(b)).cast("double")

    else:
        _emb = F.col
        _norm = l2_norm

        def _dot(a, b):
            return dot(a, b)

    b = F.broadcast(
        bench_emb.select(
            F.col(id_col).alias(bench_id_col),
            _emb(emb_col).alias("__bemb"),
            _norm(emb_col).alias("__bnorm"),
        )
    )
    e = emb.select(
        id_col, _emb(emb_col).alias("__demb"), _norm(emb_col).alias("__dnorm")
    )
    sim = _dot("__demb", "__bemb") / (F.col("__dnorm") * F.col("__bnorm"))
    if strategy == "exact":
        pairs = e.crossJoin(b)
    else:
        cand = _lsh_contamination_candidates(
            emb, bench_emb, id_col, bench_id_col, emb_col
        )
        pairs = cand.join(e, id_col).join(b, bench_id_col)
    return (
        pairs.select(F.col(id_col), sim.alias("__sim"), F.col(bench_id_col))
        .groupBy(id_col)
        .agg(F.max(F.struct("__sim", bench_id_col)).alias("__m"))
        .select(
            id_col,
            F.col("__m.__sim").alias("max_bench_sim"),
            F.col(f"__m.{bench_id_col}").alias("nearest_bench_id"),
        )
        .filter(F.col("max_bench_sim") >= threshold)
    )


def _lsh_contamination_candidates(
    emb: DataFrame,
    bench_emb: DataFrame,
    id_col: str,
    bench_id_col: str,
    emb_col: str,
) -> DataFrame:
    """(id, bench_id) candidate pairs sharing >= 1 LSH bucket in >= 1
    table, with the BENCHMARK side multiprobed to Hamming <= 1.  The doc
    side melts its 12 bucket columns to (id, table, bucket) rows — a
    narrow explode, no shuffle of embeddings; the benchmark side
    (buckets × (1 + planes) probe rows per item) broadcasts, so candidate
    generation is one map-side hash join however big the corpus is."""
    from .similarity import N_TABLES, PLANES_PER_TABLE, lsh_buckets

    def melted(frame, out_id):
        b = lsh_buckets(
            frame.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding"))
        )
        pairs = []
        for t in range(N_TABLES):
            pairs.extend([F.lit(t), F.col(f"b{t}")])
        return b.select(
            F.col("vec_id").alias(out_id),
            F.stack(F.lit(N_TABLES), *pairs).alias("t", "bucket"),
        )

    docs = melted(emb, "__doc_id")
    bench = melted(bench_emb, bench_id_col)
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << p))
            for p in range(PLANES_PER_TABLE)
        ],
    )
    bench_probed = bench.select(
        bench_id_col, "t", F.explode(probes).alias("bucket")
    )
    return (
        docs.join(F.broadcast(bench_probed), ["t", "bucket"])
        .select(F.col("__doc_id").alias(id_col), bench_id_col)
        .distinct()
    )
