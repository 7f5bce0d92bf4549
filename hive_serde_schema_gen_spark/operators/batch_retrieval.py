"""Batch retrieval — MANY queries served in ONE pass over the corpus
artifacts.  The single-query entry points (``text_index.
bm25_topk_indexed``, ``similarity.ann_topk_lsh_pq``, ``hybrid.
hybrid_topk_text``) are interactive-serving shapes: per query they
collect a probe row, enumerate a Hamming ball driver-side, and broadcast
a per-query lookup table.  Offline pipelines — mining retrieval training
pairs, batch RAG context building, benchmark decontamination sweeps —
arrive with 10⁴–10⁷ queries at once, and a driver loop over single
queries would serialize 10⁴ tiny jobs.  This module keeps every
per-query artifact AS DATA: query buckets, flip masks, ADC lookup
tables, term lists all live in DataFrames keyed by ``qid``, so one plan
serves the whole batch and Spark parallelizes across queries AND corpus.

Cost shape at scale (Q queries, corpus artifacts prebuilt):
- semantic: the probe-bucket table is Q × N_TABLES × |ball| rows
  (Q × 5 640 at the 12×14/r≤3 config) joined on (table, bucket) against
  the unpivoted bucket index — broadcastable for small Q, a plain
  shuffle join beyond (AQE decides); candidates then score by PQ codes
  only (Q × 8 × 256-row ADC table), and full vectors are read for just
  ``k × rerank_mult`` rows per query.
- lexical: one postings read covering the batch's DISTINCT terms (the
  isin list is collected — bounded by the batch vocabulary, documents
  are never collected), then per-(qid, doc) scoring and a per-qid
  top-k window.
- fusion: rank arithmetic on two top-depth lists per query.

Determinism: the semantic side is integer arithmetic end to end (same
machinery as ``similarity``), so batch results equal the single-query
path EXACTLY.  The lexical side sums per-term float scores per (qid,
doc); to stay order-free under any partitioning each per-term score is
rounded to 9 dp and summed as an exact decimal (the ``lm.py`` rule) —
within 1e-9 · |terms| of the single-query fixed-order addition, ties
broken by doc id in both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.localdf import local_rows_df
from ..functions.text_keys import words
from .similarity import (
    MULTIPROBE_FLIPS,
    N_TABLES,
    PLANES_PER_TABLE,
    PQ_RERANK_MULT,
    build_lsh_index,
    build_pq_index,
    lsh_buckets,
    quantized,
)


def _flip_masks(spark: SparkSession, n_bits: int = PLANES_PER_TABLE,
                radius: int = MULTIPROBE_FLIPS) -> DataFrame:
    """All XOR masks of Hamming weight ≤ radius over n_bits — the
    multiprobe ball as DATA (470 rows at 14/3), so probe buckets for a
    whole query batch come from one tiny cross join instead of Q
    driver-side enumerations."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_bits), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return local_rows_df(spark, [(m,) for m in masks], "mask long")


def lsh_candidates_batch(index: DataFrame, qindex: DataFrame) -> DataFrame:
    """(qid, vec_id): per-query candidate sets from the shared bucket
    index.  ``index``: (vec_id, q, b0..bN) from ``build_lsh_index``;
    ``qindex``: (qid, b0..bN) — ``lsh_buckets`` over the query embedding
    frame (rename vec_id → qid).  The probe side is Q × tables × ball
    rows; the join key (t, b) hits the bucket-partitioned layout's
    pruning exactly like the single-query IN-list."""
    spark = index.sparkSession
    qlong = qindex.select(
        "qid",
        F.posexplode(
            F.array(*[F.col(f"b{t}") for t in range(N_TABLES)])
        ).alias("t", "b"),
    )
    probes = qlong.crossJoin(F.broadcast(_flip_masks(spark))).select(
        "qid", "t", F.col("b").bitwiseXOR(F.col("mask")).alias("b")
    )
    ilong = index.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"b{t}") for t in range(N_TABLES)])
        ).alias("t", "b"),
    )
    return ilong.join(probes, ["t", "b"]).select("qid", "vec_id").distinct()


def _codebook_frames(spark: SparkSession, codebook: dict):
    """The PQ codebook as DataFrames: (s, code, spos, w) weights and
    (s, code, pn2) partial squared norms."""
    subdim = len(next(iter(codebook.values())))
    rows = [
        (s, c, spos, int(w))
        for (s, c), vec in codebook.items()
        for spos, w in enumerate(vec)
    ]
    cb = local_rows_df(spark, rows, "s int, code int, spos int, w long")
    n2 = local_rows_df(
        spark,
        [
            (s, c, int(sum(int(w) * int(w) for w in vec)))
            for (s, c), vec in codebook.items()
        ],
        "s int, code int, pn2 long",
    )
    return subdim, cb, n2


def pq_scores_batch(
    cands: DataFrame, codes: DataFrame, codebook: dict, qquant: DataFrame
) -> DataFrame:
    """(qid, vec_id, approx_cos): batch ADC.  The per-query lookup table
    is built ENGINE-side — query subvectors join the codebook frame and
    reduce to (qid, s, code, pdot) — then candidates' code rows join it
    and sum.  All-integer until the final division, so scores equal the
    single-query ``pq_approx_scores`` bit for bit.

    ``qquant``: (qid, q array<long>) quantized query vectors."""
    spark = cands.sparkSession
    subdim, cb, n2 = _codebook_frames(spark, codebook)
    qsub = qquant.select(
        "qid", F.posexplode("q").alias("pos", "qv")
    ).select(
        "qid",
        (F.col("pos") / subdim).cast("int").alias("s"),
        F.pmod(F.col("pos"), F.lit(subdim)).cast("int").alias("spos"),
        "qv",
    )
    lut = (
        qsub.join(F.broadcast(cb), ["s", "spos"])
        .groupBy("qid", "s", "code")
        .agg(F.sum(F.col("qv") * F.col("w")).alias("pdot"))
        .join(F.broadcast(n2), ["s", "code"])
    )
    qn = qquant.select(
        "qid",
        F.sqrt(
            F.aggregate(
                "q", F.lit(0).cast("long"), lambda a, x: a + x * x
            ).cast("double")
        ).alias("qnorm"),
    )
    ex = cands.join(codes, "vec_id").select(
        "qid", "vec_id", F.posexplode("codes").alias("s", "code")
    )
    agg = (
        ex.join(lut, ["qid", "s", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("pdot").alias("adot"), F.sum("pn2").alias("an2"))
        .join(qn, "qid")
    )
    cos = F.col("adot").cast("double") / (
        F.sqrt(F.col("an2").cast("double")) * F.col("qnorm")
    )
    # same zero-norm sentinel as the single-query path: NaN sorts above
    # every double in Spark and would crowd the shortlist
    return agg.select(
        "qid",
        "vec_id",
        F.when(
            (F.col("an2") > 0) & (F.col("qnorm") > 0), cos
        ).otherwise(F.lit(-1.0)).alias("approx_cos"),
    )


def ann_topk_batch(
    qemb: DataFrame,
    e: DataFrame,
    k: int = 10,
    index: DataFrame | None = None,
    pq=None,
    rerank_mult: int = PQ_RERANK_MULT,
) -> DataFrame:
    """(qid, vec_id, cos_sim, rank): LSH+PQ ANN for a batch of query
    embeddings ``qemb`` (qid, embedding).  Same pipeline as
    ``similarity.ann_topk_lsh_pq`` — multiprobe candidates, ADC
    shortlist of k × rerank_mult, exact integer-cosine re-rank — with
    every per-query step batched as a qid-keyed join/window."""
    bucketed = index if index is not None else build_lsh_index(e)
    codebook, codes = pq if pq is not None else build_pq_index(e)

    qq = qemb.select(
        F.col("qid"), quantized("embedding").alias("q")
    ).localCheckpoint()
    qb = lsh_buckets(
        qemb.select(F.col("qid").alias("vec_id"), "embedding")
    ).withColumnRenamed("vec_id", "qid")
    cands = lsh_candidates_batch(bucketed, qb)
    approx = pq_scores_batch(cands, codes, codebook, qq)
    wshort = Window.partitionBy("qid").orderBy(
        F.col("approx_cos").desc(), "vec_id"
    )
    short = (
        approx.withColumn("__r", F.row_number().over(wshort))
        .filter(F.col("__r") <= k * rerank_mult)
        .select("qid", "vec_id")
    )
    # exact integer re-rank over k×mult rows per query
    pair = (
        short.join(bucketed.select("vec_id", "q"), "vec_id")
        .join(qq.withColumnRenamed("q", "qq"), "qid")
    )
    dot = F.aggregate(
        F.zip_with("q", "qq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nv = F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x * x)
    nq = F.aggregate("qq", F.lit(0).cast("long"), lambda a, x: a + x * x)
    # zero-norm guard (ANSI mode raises on 0-divide): an empty-text query
    # embeds to the zero vector — sentinel its scores below any cosine
    # instead of failing the whole batch
    cos = F.when(
        (nv > 0) & (nq > 0),
        dot.cast("double")
        / (F.sqrt(nv.cast("double")) * F.sqrt(nq.cast("double"))),
    ).otherwise(F.lit(-1.0))
    scored = pair.select("qid", "vec_id", cos.alias("cos_sim"))
    wk = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
    )


SEMI_JOIN_VOCAB_THRESHOLD = 10_000  # IN-list → semi-join switchover


def bm25_topk_indexed_batch(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    semi_join_threshold: int = SEMI_JOIN_VOCAB_THRESHOLD,
) -> DataFrame:
    """(qid, doc_id, bm25, rank): Okapi BM25 top-k per query, served from
    the persisted postings index for a whole (qid, query) batch in one
    plan.  One postings read covers the batch's distinct terms; scoring
    joins (qid, term) onto it and reduces per (qid, doc).  Per-term
    scores are 9-dp-quantized and summed as exact decimals so the
    reduction is order-free under any partitioning (within
    1e-9·|terms| of the single-query fixed-order form).

    Postings pruning is size-gated: up to ``semi_join_threshold``
    distinct terms the vocabulary rides the plan as a literal IN-list
    (Catalyst pushes it into the parquet scan — row-group pruning on the
    term-clustered layout, exactly like the single-query path).  Beyond
    the threshold a literal list would bloat the plan (10⁶ queries can
    carry 10⁵–10⁶ distinct terms: an enormous expression tree on the
    driver, no pushdown win anyway at that selectivity), so pruning
    switches to a BROADCAST LEFT-SEMI join against the distinct-terms
    frame — same pruning semantics, plan size O(1) in the vocabulary.
    The driver still collects the term list only in the IN-list regime;
    the semi-join regime never materializes the vocabulary driver-side.

    ``qid`` uniqueness is ENFORCED here (not just documented): duplicate
    qids would silently conflate two queries' candidate pools in every
    per-qid window downstream.  The check rides the regime-probe action
    (a one-row aggregate unioned onto the bounded term collect), so the
    hot path pays no extra Spark job for it."""
    from .text_index import _check_meta

    _check_meta(spark, path)
    qterms = queries.select(
        "qid",
        F.explode(
            F.array_distinct(
                words(F.lower(F.col("query")))
            )
        ).alias("term"),
    ).filter(F.col("term") != "")
    # Materialize the batch vocabulary ONCE: the probe below and (in the
    # semi-join regime) both prune() applications read this frame, and
    # without a checkpoint each read re-runs the explode+distinct over the
    # whole query batch (three tokenization passes at 10⁶-query scale).
    distinct_terms = qterms.select("term").distinct().localCheckpoint()
    # bounded probe: collect at most threshold+1 terms to size the regime,
    # with the qid-uniqueness contract row unioned into the same action
    term_probe = distinct_terms.limit(semi_join_threshold + 1).select(
        F.lit("term").alias("kind"), F.col("term").alias("v")
    )
    qid_probe = queries.agg(
        F.count(F.lit(1)).alias("__n"), F.countDistinct("qid").alias("__d")
    ).select(
        F.lit("qid").alias("kind"),
        F.concat_ws("|", F.col("__n"), F.col("__d")).alias("v"),
    )
    probe = term_probe.unionAll(qid_probe).collect()
    head = [r for r in probe if r["kind"] == "term"]
    n_q, n_qid = (int(x) for x in next(
        r["v"] for r in probe if r["kind"] == "qid"
    ).split("|"))
    if n_q != n_qid:
        raise ValueError(
            f"duplicate or NULL qid in query batch: {n_q} rows but "
            f"{n_qid} distinct non-null qids — per-qid candidate pools "
            "would silently conflate; deduplicate the batch first"
        )
    if not head:
        raise ValueError("no query terms in batch")
    if len(head) <= semi_join_threshold:
        terms = sorted(r["v"] for r in head)
        prune = lambda df: df.filter(F.col("term").isin(terms))  # noqa: E731
    else:
        prune = lambda df: df.join(  # noqa: E731
            F.broadcast(distinct_terms), "term", "left_semi"
        )
    postings = prune(spark.read.parquet(f"{path}/postings"))
    dfreq = (
        prune(spark.read.parquet(f"{path}/df"))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    stats = spark.read.parquet(f"{path}/stats").agg(
        F.sum("n_docs").alias("__n"),
        (F.sum("sum_dl").cast("double") / F.sum("n_len")).alias("__avgdl"),
    )
    doclens = spark.read.parquet(f"{path}/doclens")
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
    per_term = (
        qterms.join(postings, "term")
        .join(doclens, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            "doc_id",
            F.round(idf * F.col("tf") / denom, 9)
            .cast("decimal(20,9)")
            .alias("__s"),
        )
    )
    agg = (
        per_term.groupBy("qid", "doc_id")
        .agg(F.sum("__s").cast("double").alias("bm25"))
    )
    wk = Window.partitionBy("qid").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        agg.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
    )


def rrf_fuse_batch(
    ranked: list,
    k: int = 60,
    topk: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """(qid, doc_id, rrf, rank): reciprocal-rank fusion per query.  Each
    input carries (qid, id_col, rank) — the shape the batch retrievers
    emit; absent documents contribute nothing, same as the single-query
    ``text.rrf_fuse``."""
    if not ranked:
        raise ValueError("no result lists to fuse")
    scored = [
        df.select(
            "qid",
            F.col(id_col).alias("doc_id"),
            (1.0 / (F.lit(k) + F.col("rank"))).alias("__s"),
        )
        for df in ranked
    ]
    out = scored[0]
    for s in scored[1:]:
        out = out.unionByName(s)
    fused = out.groupBy("qid", "doc_id").agg(F.sum("__s").alias("rrf"))
    wk = Window.partitionBy("qid").orderBy(F.col("rrf").desc(), "doc_id")
    fused = fused.withColumn("rank", F.row_number().over(wk))
    return fused.filter(F.col("rank") <= topk) if topk is not None else fused


def hybrid_topk_text_batch(
    spark: SparkSession,
    text_index_path: str,
    queries: DataFrame,
    e: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
    depth_mult: int = 2,
    lsh_index: DataFrame | None = None,
    pq=None,
    embed_salt: str = "embed-v1",
    embed_hash_fn: str = "xxhash64",
    bigrams: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """(qid, doc_id, rrf, rank): the free-text hybrid serve path for a
    whole (qid, query) batch — each query string embeds through the
    corpus featurizer configuration, the semantic and lexical retrievers
    run batched at depth k × depth_mult, and RRF fuses per query.  The
    batch analogue of ``hybrid.hybrid_topk_text`` (see that docstring
    for the configuration contract); corpus artifacts are built once if
    not passed.

    ``dim``: the corpus embedding dimensionality; pass it to skip the
    eager one-row probe of ``e`` (serving tiers calling in a loop know
    it).  ``qid`` uniqueness is validated by the lexical retriever's
    regime probe (one unioned aggregate row, no extra job) — a duplicate
    or NULL qid raises before any candidate pool is built, including in
    the all-term-free batch (the uniqueness check precedes the term-free
    check, so the semantic-only fallback only ever serves validated
    batches).

    A batch whose queries are ALL term-free (whitespace/empty strings)
    degrades to semantic-only fusion instead of failing the plan: the
    lexical retriever has nothing to probe, but the embedding side can
    still serve every query (an all-empty batch then ranks on the
    zero-vector sentinel — garbage-in, but never an abort)."""
    from .embedding import embed_text

    depth = k * depth_mult
    if dim is None:
        first = e.select("embedding").first()
        if first is None:
            raise ValueError(
                "empty corpus embedding frame: cannot infer `dim` "
                "(pass dim= explicitly or supply a non-empty corpus)"
            )
        dim = len(first["embedding"])
    qemb = embed_text(
        queries.select(F.col("qid").alias("doc_id"), F.col("query").alias("text")),
        dim=dim,
        bigrams=bigrams,
        salt=embed_salt,
        hash_fn=embed_hash_fn,
    ).select(F.col("doc_id").alias("qid"), "embedding")
    sem = ann_topk_batch(
        qemb, e, k=depth, index=lsh_index, pq=pq
    ).withColumnRenamed("vec_id", "doc_id")
    try:
        lex = bm25_topk_indexed_batch(spark, text_index_path, queries, k=depth)
    except ValueError as err:
        if "no query terms" not in str(err):
            raise  # index-meta/config errors must still surface
        # no query terms anywhere in the batch → empty lexical result set;
        # fuse semantic-only rather than aborting the whole plan
        return rrf_fuse_batch([sem], k=rrf_k, topk=k)
    return rrf_fuse_batch([lex, sem], k=rrf_k, topk=k)


def mine_hard_negatives(
    spark: SparkSession,
    text_index_path: str,
    queries: DataFrame,
    positives: DataFrame,
    e: DataFrame,
    n_negatives: int = 5,
    skip_top: int = 0,
    retrieve_k: int = 50,
    hits: DataFrame | None = None,
    **hybrid_kwargs,
) -> DataFrame:
    """(qid, doc_id, rrf, neg_rank): hard-negative mining for retrieval/
    embedding training — for each (qid, query), the top-ranked corpus
    documents that are NOT the labeled positives.  The standard
    contrastive-training data move (e.g. the DPR/SBERT recipe): random
    negatives are too easy, the strongest negatives are the retriever's
    own near-misses.

    ``positives``: (qid, doc_id) labeled relevant pairs.  ``skip_top``
    optionally discards the first ranks AFTER removing positives —
    denoising against unlabeled true positives at the very top (the
    common "skip the top-3" heuristic when labels are sparse).  One
    batched retrieval at depth ``retrieve_k`` + one anti-join + one
    per-qid window; all the scale properties of
    :func:`hybrid_topk_text_batch` carry over.

    ``hits``: precomputed (qid, doc_id, rrf, rank) retrieval results to
    mine from — pass them when the pipeline already ran the batched
    retrieval (``retrieve_k`` is then ignored; the depth is whatever the
    hits were retrieved at), so the corpus is not probed twice."""
    if hits is None:
        hits = hybrid_topk_text_batch(
            spark, text_index_path, queries, e, k=retrieve_k, **hybrid_kwargs
        )
    negs = hits.join(positives, ["qid", "doc_id"], "left_anti")
    w = Window.partitionBy("qid").orderBy(F.col("rrf").desc(), "doc_id")
    ranked = negs.withColumn("neg_rank", F.row_number().over(w)).filter(
        (F.col("neg_rank") > skip_top)
        & (F.col("neg_rank") <= skip_top + n_negatives)
    )
    return ranked.select(
        "qid", "doc_id", "rrf",
        (F.col("neg_rank") - skip_top).alias("neg_rank"),
    )
