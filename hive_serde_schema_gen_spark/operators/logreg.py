"""Distributed training for the hashed-ngram quality classifier — the
fastText-style model LLM pipelines (CCNet, DCLM, FineWeb-Edu) use to rank
web documents by quality.  ``text.classifier_score`` already SERVES a
linear model at full corpus scale; this module closes the loop and FITS
one inside the engine, so the train → score → filter chain never leaves
Spark.

Model: logistic regression over the same representation
``text.hashed_ngram_features`` produces —

    x[d, b] = count of feature-bucket b in doc d / total features in d
    logit(d) = Σ_b w[b] · x[d, b] + bias
    P(quality) = sigmoid(logit)

so trained weights drop straight into ``classifier_score`` (identical
mean-over-occurrences arithmetic).

Training is full-batch gradient descent expressed as DataFrame algebra —
the PageRank iteration pattern (``graph.py``): the feature matrix is
partitioned ONCE on the document key and lineage-cut; each iteration is
two co-partitioned joins + one transpose aggregation; the weight vector
(≤ n_buckets rows, default 2^18 ≈ 2 MB) BROADCASTS, so the big relation
never shuffles on bucket for the forward pass; per-iteration weights are
``localCheckpoint``-ed to keep the DAG flat.  The bias is a synthetic
always-on feature (bucket −1, x = 1.0), which makes its gradient ride the
same aggregation as every other weight — no driver-side scalar loop.

Scale posture (100 TB): full-batch GD costs one corpus pass per
iteration.  The production recipe is train on a deterministic sample
(``selection.stratified_sample`` / ``take_per_stratum`` — quality labels
are cheap to produce on a sample) and serve the fitted weights over the
full corpus with ``classifier_score``, which is a single pass.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

BIAS_BUCKET = -1  # synthetic always-on feature carrying the intercept


def classifier_features(
    docs: DataFrame,
    n_buckets: int = 1 << 18,
    max_ngram: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Normalized training features ``(id, bucket, x)`` with the bias
    feature appended — ``x`` sums to 2.0 per doc (1.0 features + 1.0
    bias).  Zero-feature docs still get the bias row, so they train on
    the intercept instead of silently dropping out."""
    # lazy import: text.py's oracle builder imports sql_clf_ctes from this
    # module at its own import time — a top-level import here would cycle
    from .text import hashed_ngram_features

    cnt = hashed_ngram_features(
        docs, n_buckets, max_ngram, id_col, text_col, hash_fn
    )
    tot = cnt.groupBy(id_col).agg(F.sum("cnt").alias("__tot"))
    x = cnt.join(tot, id_col).select(
        id_col, "bucket", (F.col("cnt") / F.col("__tot")).alias("x")
    )
    bias_rows = docs.select(
        id_col, F.lit(BIAS_BUCKET).cast("long").alias("bucket"),
        F.lit(1.0).alias("x"),
    )
    return x.unionByName(bias_rows)


def train_classifier(
    docs: DataFrame,
    labels: DataFrame,
    n_buckets: int = 1 << 18,
    max_ngram: int = 2,
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "y",
    exact: bool = False,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Fit the logistic model; returns the weight table ``(bucket, w)``
    including the intercept at ``bucket = -1``.  ``labels``: (id, y) with
    y ∈ {0.0, 1.0}.

    Update (plain GD, step ``lr``):
        err[d]  = sigmoid(Σ_b w[b]·x[d,b]) − y[d]
        grad[b] = Σ_d err[d]·x[d,b] / N  +  l2·w[b]   (bias never decayed)
        w[b]   −= lr · grad[b]

    Use :func:`split_weights` to feed the result to
    ``text.classifier_score``.

    ``exact=True`` switches every float REDUCTION to the engine's
    order-free determinism recipe (the ``lm.py`` rule): each per-row
    product rounds to 9 dp and sums as an exact DECIMAL(20,9); per-doc
    errors and per-iteration weights also round to 9 dp, so the fit is
    bit-identical under any partitioning AND re-derivable by the DuckDB
    oracle (the only cross-engine wiggle is ``exp``'s last ULP, nine
    orders below the rounding grain).  Default off: the production float
    path skips ~3 round/cast ops per term (the weights differ from exact
    mode only at ULP-compounded noise either way)."""
    q9 = lambda c: F.round(c, 9).cast("decimal(20,9)")  # noqa: E731
    feats = (
        classifier_features(docs, n_buckets, max_ngram, id_col, text_col, hash_fn)
        .repartition(id_col)
        .localCheckpoint()
    )
    lab = labels.select(
        id_col, F.col(label_col).cast("double").alias("__y")
    ).repartition(id_col).localCheckpoint()
    n = lab.count()  # bounded driver scalar: one count, reused every iter
    if n == 0:
        raise ValueError("no labeled documents")

    weights = (
        feats.select("bucket").distinct()
        .select("bucket", F.lit(0.0).alias("w"))
        .localCheckpoint()
    )
    for _ in range(iters):
        logit_term = F.col("x") * F.col("w")
        logit_sum = (
            F.sum(q9(logit_term)).cast("double")
            if exact
            else F.sum(logit_term)
        )
        sig_err = (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__logit"))) - F.col("__y")
        )
        err = (
            feats.join(F.broadcast(weights), "bucket")
            .groupBy(id_col)
            .agg(logit_sum.alias("__logit"))
            .join(lab, id_col)
            .select(
                id_col,
                (F.round(sig_err, 9) if exact else sig_err).alias("__err"),
            )
        )
        grad_term = F.col("x") * F.col("__err")
        grad_sum = (
            F.sum(q9(grad_term)).cast("double")
            if exact
            else F.sum(grad_term)
        )
        grad = (
            feats.join(err, id_col)
            .groupBy("bucket")
            .agg((grad_sum / F.lit(float(n))).alias("__g"))
        )
        decay = F.when(
            F.col("bucket") == BIAS_BUCKET, F.lit(0.0)
        ).otherwise(F.lit(float(l2)) * F.col("w"))
        w_new = F.col("w") - F.lit(float(lr)) * (
            F.coalesce(F.col("__g"), F.lit(0.0)) + decay
        )
        weights = (
            weights.join(grad, "bucket", "left")
            .select(
                "bucket",
                (F.round(w_new, 9) if exact else w_new).alias("w"),
            )
            .localCheckpoint()  # cut per iteration — no 2^k DAG
        )
    return weights


def split_weights(weights: DataFrame):
    """``(feature_weights_df, bias)`` in the shape ``classifier_score``
    takes — the single collect is the 1-row intercept."""
    bias_rows = weights.filter(F.col("bucket") == BIAS_BUCKET).collect()
    bias = bias_rows[0]["w"] if bias_rows else 0.0
    return weights.filter(F.col("bucket") != BIAS_BUCKET), float(bias)


def train_quality_classifier(
    docs: DataFrame,
    labels: DataFrame,
    score_docs: Optional[DataFrame] = None,
    n_buckets: int = 1 << 18,
    max_ngram: int = 2,
    iters: int = 30,
    lr: float = 2.0,
    l2: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "y",
) -> DataFrame:
    """The composed production chain: fit on ``docs``+``labels`` (a
    labeled SAMPLE at cluster scale), score ``score_docs`` (default: the
    training docs) with ``classifier_score`` — one full-corpus pass."""
    from .text import classifier_score

    w = train_classifier(
        docs, labels, n_buckets, max_ngram, iters, lr, l2,
        id_col, text_col, label_col,
    )
    fw, bias = split_weights(w)
    target = docs if score_docs is None else score_docs
    return classifier_score(
        target, fw, bias=bias, n_buckets=n_buckets, max_ngram=max_ngram,
        id_col=id_col, text_col=text_col,
    )


def classifier_score_exact(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 1 << 18,
    max_ngram: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """``text.classifier_score`` with the order-free reduction: the
    per-doc weight sum runs over (bucket, count) rows as an exact
    DECIMAL(20,9)·count product (weights from an ``exact=True`` fit are
    9-dp values, so the decimal cast is lossless) — the scored sample is
    then bit-reproducible under any partitioning and by the oracle.
    Output: (id, n_features, logit, score) with ``score`` rounded to
    9 dp (sigmoid's ``exp`` is the one per-row transcendental)."""
    from .text import hashed_ngram_features

    fw, bias = split_weights(weights)
    cnt = hashed_ngram_features(
        docs, n_buckets, max_ngram, id_col, text_col, hash_fn
    )
    wsum = F.sum(
        F.coalesce(F.col("w"), F.lit(0.0)).cast("decimal(20,9)")
        * F.col("cnt").cast("decimal(10,0)")
    ).cast("double")
    per_doc = (
        cnt.join(F.broadcast(fw), "bucket", "left")
        .groupBy(id_col)
        .agg(wsum.alias("__ws"), F.sum("cnt").cast("int").alias("n_features"))
    )
    logit = F.lit(float(bias)) + F.coalesce(
        F.col("__ws") / F.col("n_features"), F.lit(0.0)
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
            logit.alias("logit"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 9).alias(
                "score"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-11 driver-oracle evidence: the FIT itself, re-derived in SQL
# ---------------------------------------------------------------------------
#
# Oracle configuration (the md5/exact twin of the production defaults, the
# same split embed_text uses): 64 buckets keep the weight table compact,
# 4 unrolled GD iterations exercise the full update rule, labels derive
# from the ground-truth lang column (an "is-English" quality-proxy task),
# and every reduction is exact-decimal so DuckDB re-derives weights AND a
# scored sample bit-for-bit.

CLF_BUCKETS = 64
CLF_NGRAM = 2
CLF_ITERS = 4
CLF_LR = 1.0
CLF_DOC_MOD = 2  # train/score slice: every other document


def _clf_frames(spark, sf_dir):
    """(docs_slice, labels): the slot's training inputs — documents with
    even ids, labeled y=1 iff ground-truth lang is 'en'."""
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % CLF_DOC_MOD == 0
    )
    labels = d.select(
        "doc_id",
        (F.col("lang") == "en").cast("double").alias("y"),
    )
    return d, labels


def classifier_fit_rows(spark, sf_dir):
    """Driver branch: the trained weight table (bucket, w) from the
    exact-mode fit — 9-dp doubles, ≤ CLF_BUCKETS+1 rows."""
    d, labels = _clf_frames(spark, sf_dir)
    return train_classifier(
        d, labels,
        n_buckets=CLF_BUCKETS, max_ngram=CLF_NGRAM,
        iters=CLF_ITERS, lr=CLF_LR, l2=0.0,
        exact=True, hash_fn="md5",
    ).select("bucket", "w")


def classifier_scored_rows(spark, sf_dir, weights=None):
    """Driver branch: the scored training slice through
    :func:`classifier_score_exact` under the fitted weights."""
    d, labels = _clf_frames(spark, sf_dir)
    if weights is None:
        weights = train_classifier(
            d, labels,
            n_buckets=CLF_BUCKETS, max_ngram=CLF_NGRAM,
            iters=CLF_ITERS, lr=CLF_LR, l2=0.0,
            exact=True, hash_fn="md5",
        )
    return classifier_score_exact(
        d, weights, n_buckets=CLF_BUCKETS, max_ngram=CLF_NGRAM, hash_fn="md5"
    )


def sql_clf_ctes() -> str:
    """DuckDB CTE chain re-deriving the WHOLE exact-mode fit — md5 bucket
    hashing, normalized features + bias row, CLF_ITERS unrolled GD steps
    (each: 9-dp-quantized decimal logit sum → per-doc sigmoid error →
    decimal gradient sum / N → 9-dp weight update), then the exact scored
    sample.  Final CTEs: ``cwN`` (weights) and ``cscore`` (scores).  The
    unroll mirrors ``graph._pagerank_oracle``; the decimal reductions
    mirror the ``lm.py`` recipe, so the only cross-engine wiggle is
    ``exp``'s last ULP — nine orders below the 9-dp grain."""
    toks = (
        "CASE WHEN LENGTH(TRIM(text)) = 0 THEN [] "
        "ELSE string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') END"
    )
    h = f"CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % {CLF_BUCKETS}"
    parts = [
        f"""cdocs AS MATERIALIZED (
      SELECT doc_id, text,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM documents WHERE doc_id % {CLF_DOC_MOD} = 0),
    ctoks AS (SELECT doc_id, {toks} AS w FROM cdocs),
    cuni AS (SELECT doc_id, unnest(w) AS g FROM ctoks),
    cbi AS (
      SELECT doc_id, w[t.i] || ' ' || w[t.i + 1] AS g
      FROM ctoks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
      WHERE len(w) > 1),
    cgrams AS (SELECT * FROM cuni UNION ALL SELECT * FROM cbi),
    ccnt AS MATERIALIZED (
      SELECT doc_id, {h} AS bucket, COUNT(*) AS cnt
      FROM cgrams GROUP BY doc_id, {h}),
    ctot AS MATERIALIZED (SELECT doc_id, SUM(cnt) AS tot FROM ccnt GROUP BY doc_id),
    cx AS MATERIALIZED (
      SELECT c.doc_id, c.bucket, c.cnt / t.tot AS x
      FROM ccnt c JOIN ctot t USING (doc_id)
      UNION ALL
      SELECT doc_id, CAST(-1 AS BIGINT), 1.0 FROM cdocs),
    cn AS (SELECT COUNT(*) AS n FROM cdocs),
    cw0 AS MATERIALIZED (SELECT DISTINCT bucket, 0.0 AS w FROM cx)"""
    ]
    for i in range(1, CLF_ITERS + 1):
        parts.append(
            f"""
    cl{i} AS MATERIALIZED (
      SELECT x.doc_id,
             CAST(SUM(CAST(round(x.x * w.w, 9) AS DECIMAL(20,9)))
                  AS DOUBLE) AS logit
      FROM cx x JOIN cw{i - 1} w USING (bucket) GROUP BY x.doc_id),
    ce{i} AS MATERIALIZED (
      SELECT l.doc_id,
             round(1.0 / (1.0 + exp(-l.logit)) - d.y, 9) AS err
      FROM cl{i} l JOIN cdocs d USING (doc_id)),
    cg{i} AS MATERIALIZED (
      SELECT x.bucket,
             CAST(SUM(CAST(round(x.x * e.err, 9) AS DECIMAL(20,9)))
                  AS DOUBLE) / cn.n AS g
      FROM cx x JOIN ce{i} e USING (doc_id), cn GROUP BY x.bucket, cn.n),
    cw{i} AS MATERIALIZED (
      SELECT w.bucket, round(w.w - {float(CLF_LR)} * COALESCE(g.g, 0.0), 9) AS w
      FROM cw{i - 1} w LEFT JOIN cg{i} g USING (bucket))"""
        )
    K = CLF_ITERS
    parts.append(
        f"""
    cbias AS (SELECT w FROM cw{K} WHERE bucket = -1),
    csums AS MATERIALIZED (
      SELECT t.doc_id,
             CAST(SUM(CAST(COALESCE(w.w, 0.0) AS DECIMAL(20,9))
                      * CAST(t.cnt AS DECIMAL(10,0))) AS DOUBLE) AS ws,
             CAST(SUM(t.cnt) AS INTEGER) AS nf
      FROM ccnt t LEFT JOIN cw{K} w USING (bucket) GROUP BY t.doc_id),
    cscore AS (
      SELECT d.doc_id,
             COALESCE(s.nf, 0) AS n_features,
             cbias.w + COALESCE(s.ws / s.nf, 0.0) AS logit,
             round(1.0 / (1.0 + exp(-(cbias.w + COALESCE(s.ws / s.nf, 0.0)))),
                   9) AS score
      FROM cdocs d LEFT JOIN csums s USING (doc_id), cbias)"""
    )
    return ",".join(parts)


# ---------------------------------------------------------------------------
# Round-12: Platt-style probability calibration of the fitted classifier
# ---------------------------------------------------------------------------
#
# A quality classifier used as a FILTER only needs rank order; used as a
# sampling WEIGHT or a threshold in probability units it needs calibrated
# scores.  Platt scaling fits a 2-parameter logistic map p = sigmoid(a·z+b)
# over the raw logit z on a HELD-OUT labeled slice — 2 parameters can't
# overfit, and the fit is the same full-batch GD recipe as the main
# classifier (exact-decimal reductions, fixed iterations), so the whole
# thing re-derives in SQL.

CAL_ITERS = 4
CAL_LR = 1.0
#: held-out slice for the slot evidence: doc_id % 4 == 1 — disjoint from
#: the training slice (doc_id % CLF_DOC_MOD == 0) by construction
CAL_DOC_MOD, CAL_DOC_REM = 4, 1


def calibrate_classifier(
    scored: DataFrame,
    labels: DataFrame,
    iters: int = CAL_ITERS,
    lr: float = CAL_LR,
    id_col: str = "doc_id",
    logit_col: str = "logit",
    label_col: str = "y",
):
    """Platt calibration by full-batch GD on a held-out scored slice:
    fit ``(a, b)`` of ``p = sigmoid(a·z + b)`` starting from the identity
    ``(1, 0)``.  Returns ``(params, calibrated)`` — ``params`` =
    (iter, a, b) after each GD step (the last row is the fit);
    ``calibrated`` = (doc_id, logit, score_cal, y) under the final
    parameters.

    Determinism recipe (the ``train_classifier exact=True`` rules): the
    per-row error rounds to 9 dp after the sigmoid, gradient terms round
    to 9 dp and sum as exact DECIMAL(20,9), parameters round to 9 dp per
    step — bit-identical under any partitioning and re-derivable by the
    DuckDB oracle.  The parameter pair lives in a 1-row broadcast frame
    (never a driver float — Python's round is not Spark's round), so
    each iteration is ONE aggregate job over the held-out slice; the
    slice is a labeled sample, so iterations are cheap at any corpus
    scale."""
    spark = scored.sparkSession
    hz = (
        scored.select(
            F.col(id_col).alias("doc_id"), F.col(logit_col).alias("__z")
        )
        .join(
            labels.select(
                F.col(id_col).alias("doc_id"),
                F.col(label_col).cast("double").alias("__y"),
            ),
            "doc_id",
        )
        .localCheckpoint()  # read once per iteration + once for scoring
    )
    n = hz.count()  # bounded driver scalar, reused every iteration
    if n == 0:
        raise ValueError("no held-out labeled documents to calibrate on")
    pw = spark.createDataFrame([(1.0, 0.0)], "a double, b double")
    hist = []
    for i in range(1, iters + 1):
        j = hz.crossJoin(F.broadcast(pw))
        p = F.lit(1.0) / (
            F.lit(1.0) + F.exp(-(F.col("a") * F.col("__z") + F.col("b")))
        )
        err = F.round(p - F.col("__y"), 9)
        agg = j.agg(
            F.first("a").alias("__a"),
            F.first("b").alias("__b"),
            F.sum(
                F.round(err * F.col("__z"), 9).cast("decimal(20,9)")
            ).cast("double").alias("__ga"),
            F.sum(err.cast("decimal(20,9)")).cast("double").alias("__gb"),
        )
        pw = agg.select(
            F.round(
                F.col("__a")
                - F.lit(float(lr)) * F.col("__ga") / F.lit(float(n)),
                9,
            ).alias("a"),
            F.round(
                F.col("__b")
                - F.lit(float(lr)) * F.col("__gb") / F.lit(float(n)),
                9,
            ).alias("b"),
        ).localCheckpoint()  # cut per iteration — no 2^k DAG
        hist.append(pw.select(F.lit(i).alias("iter"), "a", "b"))
    params = hist[0]
    for h in hist[1:]:
        params = params.unionByName(h)
    calibrated = hz.crossJoin(F.broadcast(pw)).select(
        "doc_id",
        F.col("__z").alias("logit"),
        F.round(
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(-(F.col("a") * F.col("__z") + F.col("b")))
            ),
            9,
        ).alias("score_cal"),
        F.col("__y").cast("bigint").alias("y"),
    )
    return params, calibrated


def calibration_rows(spark, sf_dir, weights=None):
    """Driver branches: (params, calibrated) for op='clf_cal'/'clf_cals' —
    the fitted slot weights score the DISJOINT held-out slice
    (doc_id % 4 == 1, labels from ground-truth lang as in training), then
    Platt calibration runs its 4 exact GD steps on it."""
    from ..sources.tables import load_table

    if weights is None:
        weights = classifier_fit_rows(spark, sf_dir)
    hd = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % CAL_DOC_MOD == CAL_DOC_REM
    )
    labels = hd.select(
        "doc_id", (F.col("lang") == "en").cast("double").alias("y")
    )
    scored = classifier_score_exact(
        hd, weights, n_buckets=CLF_BUCKETS, max_ngram=CLF_NGRAM,
        hash_fn="md5",
    )
    return calibrate_classifier(scored, labels)


def sql_cal_ctes() -> str:
    """DuckDB CTE chain re-deriving :func:`calibration_rows` — ASSUMES
    ``sql_clf_ctes()``'s CTEs precede it (reuses ``cw{K}``/``cbias``).
    Held-out docs hash/score through the same md5 pipeline, then
    CAL_ITERS unrolled Platt GD steps.  Final CTEs: ``calparams``
    (iter, a, b) and ``calscore`` (doc_id, logit, score_cal, y)."""
    toks = (
        "CASE WHEN LENGTH(TRIM(text)) = 0 THEN [] "
        "ELSE string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') END"
    )
    h = f"CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % {CLF_BUCKETS}"
    K = CLF_ITERS
    parts = [
        f"""hdocs AS MATERIALIZED (
      SELECT doc_id, text,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM documents WHERE doc_id % {CAL_DOC_MOD} = {CAL_DOC_REM}),
    htoks AS (SELECT doc_id, {toks} AS w FROM hdocs),
    huni AS (SELECT doc_id, unnest(w) AS g FROM htoks),
    hbi AS (
      SELECT doc_id, w[t.i] || ' ' || w[t.i + 1] AS g
      FROM htoks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
      WHERE len(w) > 1),
    hgrams AS (SELECT * FROM huni UNION ALL SELECT * FROM hbi),
    hcnt AS MATERIALIZED (
      SELECT doc_id, {h} AS bucket, COUNT(*) AS cnt
      FROM hgrams GROUP BY doc_id, {h}),
    hsums AS MATERIALIZED (
      SELECT t.doc_id,
             CAST(SUM(CAST(COALESCE(w.w, 0.0) AS DECIMAL(20,9))
                      * CAST(t.cnt AS DECIMAL(10,0))) AS DOUBLE) AS ws,
             CAST(SUM(t.cnt) AS INTEGER) AS nf
      FROM hcnt t LEFT JOIN cw{K} w USING (bucket) GROUP BY t.doc_id),
    hscore AS MATERIALIZED (
      SELECT d.doc_id, cbias.w + COALESCE(s.ws / s.nf, 0.0) AS z, d.y
      FROM hdocs d LEFT JOIN hsums s USING (doc_id), cbias),
    hn AS (SELECT COUNT(*) AS n FROM hdocs),
    cal0 AS MATERIALIZED (SELECT CAST(1.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b)"""
    ]
    for i in range(1, CAL_ITERS + 1):
        parts.append(
            f"""
    cale{i} AS MATERIALIZED (
      SELECT h.doc_id, h.z,
             round(1.0 / (1.0 + exp(-(c.a * h.z + c.b))) - h.y, 9) AS err
      FROM hscore h, cal{i - 1} c),
    calg{i} AS MATERIALIZED (
      SELECT CAST(SUM(CAST(round(err * z, 9) AS DECIMAL(20,9)))
                  AS DOUBLE) AS ga,
             CAST(SUM(CAST(err AS DECIMAL(20,9))) AS DOUBLE) AS gb
      FROM cale{i}),
    cal{i} AS MATERIALIZED (
      SELECT round(c.a - {float(CAL_LR)} * g.ga / n.n, 9) AS a,
             round(c.b - {float(CAL_LR)} * g.gb / n.n, 9) AS b
      FROM cal{i - 1} c, calg{i} g, hn n)"""
        )
    KC = CAL_ITERS
    param_rows = "\n      UNION ALL\n      ".join(
        f"SELECT {i} AS iter, a, b FROM cal{i}"
        for i in range(1, KC + 1)
    )
    parts.append(
        f"""
    calparams AS (
      {param_rows}),
    calscore AS (
      SELECT h.doc_id, h.z AS logit,
             round(1.0 / (1.0 + exp(-(c.a * h.z + c.b))), 9) AS score_cal,
             CAST(h.y AS BIGINT) AS y
      FROM hscore h, cal{KC} c)"""
    )
    return ",".join(parts)


def classifier_score_calibrated(
    docs: DataFrame,
    weights: DataFrame,
    cal_params: DataFrame,
    n_buckets: int = 1 << 18,
    max_ngram: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The calibrated serve path: score the corpus with the fitted
    weights (:func:`classifier_score_exact` — one pass, broadcast weight
    table), then map each raw logit through the LAST Platt step of
    ``cal_params`` (the frame :func:`calibrate_classifier` returns).
    Output: ``(id, n_features, logit, score_cal)`` — probabilities a
    sampling-weight or probability-threshold consumer can use directly.
    The parameter pair rides a 1-row broadcast (same discipline as the
    calibration fit: no driver float, no Python rounding)."""
    scored = classifier_score_exact(
        docs, weights, n_buckets=n_buckets, max_ngram=max_ngram,
        id_col=id_col, text_col=text_col, hash_fn=hash_fn,
    )
    # last iteration = the fit; max-struct over ≤ CAL_ITERS rows (no
    # window needed — the frame is parameter-sized)
    last = cal_params.agg(
        F.max(F.struct("iter", "a", "b")).alias("__p")
    ).select(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
    return (
        scored.crossJoin(F.broadcast(last))
        .select(
            id_col,
            "n_features",
            "logit",
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(-(F.col("a") * F.col("logit") + F.col("b")))
                ),
                9,
            ).alias("score_cal"),
        )
    )


#: serve-slice for the slot evidence: doc_id % 8 == 7 — disjoint from the
#: training slice (% 2 == 0) and the calibration slice (% 4 == 1)
SERVE_DOC_MOD, SERVE_DOC_REM = 8, 7


def calibrated_serve_rows(spark, sf_dir, weights=None, cal_params=None):
    """Driver branch for op='clf_serve': the full calibrated serve path
    (:func:`classifier_score_calibrated`) over a THIRD disjoint slice —
    fitted weights + fitted Platt step applied to documents neither fit
    ever saw, exactly the production full-corpus pass."""
    from ..sources.tables import load_table

    if weights is None:
        weights = classifier_fit_rows(spark, sf_dir)
    if cal_params is None:
        cal_params, _ = calibration_rows(spark, sf_dir, weights=weights)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SERVE_DOC_MOD == SERVE_DOC_REM
    )
    return classifier_score_calibrated(
        docs, weights, cal_params,
        n_buckets=CLF_BUCKETS, max_ngram=CLF_NGRAM, hash_fn="md5",
    )


def sql_serve_ctes() -> str:
    """DuckDB CTE chain re-deriving :func:`calibrated_serve_rows` —
    ASSUMES ``sql_clf_ctes()`` (``cw{K}``/``cbias``) and
    ``sql_cal_ctes()`` (``cal{CAL_ITERS}``) precede it.  Final CTE:
    ``srvscore`` (doc_id, n_features, logit, score_cal)."""
    toks = (
        "CASE WHEN LENGTH(TRIM(text)) = 0 THEN [] "
        "ELSE string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') END"
    )
    h = f"CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % {CLF_BUCKETS}"
    K, KC = CLF_ITERS, CAL_ITERS
    return f"""srvdocs AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      WHERE doc_id % {SERVE_DOC_MOD} = {SERVE_DOC_REM}),
    srvtoks AS (SELECT doc_id, {toks} AS w FROM srvdocs),
    srvuni AS (SELECT doc_id, unnest(w) AS g FROM srvtoks),
    srvbi AS (
      SELECT doc_id, w[t.i] || ' ' || w[t.i + 1] AS g
      FROM srvtoks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
      WHERE len(w) > 1),
    srvgrams AS (SELECT * FROM srvuni UNION ALL SELECT * FROM srvbi),
    srvcnt AS MATERIALIZED (
      SELECT doc_id, {h} AS bucket, COUNT(*) AS cnt
      FROM srvgrams GROUP BY doc_id, {h}),
    srvsums AS MATERIALIZED (
      SELECT t.doc_id,
             CAST(SUM(CAST(COALESCE(w.w, 0.0) AS DECIMAL(20,9))
                      * CAST(t.cnt AS DECIMAL(10,0))) AS DOUBLE) AS ws,
             CAST(SUM(t.cnt) AS INTEGER) AS nf
      FROM srvcnt t LEFT JOIN cw{K} w USING (bucket) GROUP BY t.doc_id),
    srvscore AS (
      SELECT d.doc_id,
             COALESCE(s.nf, 0) AS n_features,
             cbias.w + COALESCE(s.ws / s.nf, 0.0) AS logit,
             round(1.0 / (1.0 + exp(-(c.a *
                     (cbias.w + COALESCE(s.ws / s.nf, 0.0)) + c.b))),
                   9) AS score_cal
      FROM srvdocs d LEFT JOIN srvsums s USING (doc_id), cbias, cal{KC} c)"""


# ---------------------------------------------------------------------------
# Round-13: classifier drift monitor — "did my quality classifier drift
# this recrawl?" (VERDICT r12 ask #7).  Composes the calibrated serve
# path (classifier_score_calibrated) with the exact-int anomaly scan
# (validation.metric_anomalies): per-epoch integer series derived from
# the calibrated scores, z-scored against a trailing window.
# ---------------------------------------------------------------------------

DRIFT_BINS = 10
DRIFT_QUANT = 1_000_000_000  # score_cal is 9-dp: round(score·1e9) is exact


def drift_series_labels(bins: int = DRIFT_BINS) -> list:
    """The drift report's series identity — every ``check`` label
    :func:`score_drift_report` can emit, in order.  The single source of
    truth consumers that must SYNTHESIZE report rows (the streaming
    monitor's empty-epoch zeros) derive from, so a renamed or added
    series can never silently diverge between the batch builder and a
    synthesizer."""
    return [f"q{b}" for b in range(bins)] + ["cal_sum"]


def score_drift_report(
    scored: DataFrame,
    epoch_col: str = "epoch",
    score_col: str = "score_cal",
    bins: int = DRIFT_BINS,
    quant: int = DRIFT_QUANT,
) -> DataFrame:
    """Integer drift-report series from per-epoch calibrated scores —
    the ``(check, epoch, metric)`` table :func:`metric_anomalies`
    consumes, all-integer so the exact-int mode's cross-engine
    bit-identity applies:

    - ``q0..q{bins-1}``: per-epoch score-histogram bin counts,
      ZERO-FILLED over epochs × bins (an epoch where a bin empties out
      must report metric=0, not vanish from the series — a vanishing
      row is invisible to the trailing window);
    - ``cal_sum``: per-epoch Σ round(score·quant) — the quantized
      score mass.  Histogram counts catch distribution-shape drift but
      sit constant (hence variance-0, hence silent by the positivity
      rule) when every epoch has identical occupancy; the sum series
      moves whenever the MEAN score moves, whatever the bin shape.

    Scale: output is O(epochs × (bins+1)) rows — metadata-sized at any
    corpus scale; the epochs×bins zero-fill cross-join is over two tiny
    frames."""
    spark = scored.sparkSession
    b = (
        F.greatest(
            F.lit(0),
            F.least(F.floor(F.col(score_col) * bins), F.lit(bins - 1)),
        )
        .cast("int")
    )
    epochs = scored.select(F.col(epoch_col).alias("epoch")).distinct()
    bframe = spark.range(bins).select(F.col("id").cast("int").alias("__b"))
    counts = (
        scored.groupBy(F.col(epoch_col).alias("epoch"), b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    filled = (
        epochs.crossJoin(bframe)
        .join(counts, ["epoch", "__b"], "left")
        .select(
            F.concat(F.lit("q"), F.col("__b")).alias("check"),
            "epoch",
            F.coalesce("__c", F.lit(0)).cast("long").alias("metric"),
        )
    )
    sums = (
        scored.groupBy(F.col(epoch_col).alias("epoch"))
        .agg(
            F.sum(
                F.round(F.col(score_col) * quant).cast("long")
            ).alias("metric")
        )
        .select(F.lit("cal_sum").alias("check"), "epoch", "metric")
    )
    return filled.unionByName(sums)


def classifier_drift(
    scored: DataFrame,
    epoch_col: str = "epoch",
    score_col: str = "score_cal",
    bins: int = DRIFT_BINS,
    k: float = 3.0,
    min_history: int = 5,
    window: int = 100,
) -> DataFrame:
    """Flag epochs whose calibrated-score series drifted: the composed
    production check — :func:`score_drift_report` fed to
    ``metric_anomalies(exact_int=True)``.  Output
    ``(check, epoch, metric, trail_mean, trail_std, z)``, flagged rows
    only; ``check`` names WHICH series moved (a bin vs the score mass).
    Keep ``window`` smaller than the gap between suspected regime
    changes: a drift epoch inside the trailing window inflates the
    trailing std and can mask the next one (its z lands ~2.8 for a
    10-wide window with one planted outlier — under the default k)."""
    from .validation import metric_anomalies

    return metric_anomalies(
        score_drift_report(
            scored, epoch_col=epoch_col, score_col=score_col, bins=bins
        ),
        k=k, min_history=min_history, window=window, exact_int=True,
    )


#: op='clf_drift' evidence configuration: full-corpus calibrated serve,
#: epochs of DRIFT_EPOCH_DIV doc_ids, a planted −DRIFT_SHIFT score
#: regime on epochs ≡ DRIFT_REM (mod DRIFT_MOD).  window < plant
#: spacing so each planted epoch is judged against a clean window.
DRIFT_EPOCH_DIV = 25
DRIFT_MOD, DRIFT_REM = 7, 3
DRIFT_SHIFT = 0.2
DRIFT_K, DRIFT_MIN_HIST, DRIFT_WINDOW = 3.0, 5, 5


def full_corpus_scored(spark, sf_dir, weights=None, cal_params=None):
    """The production full-corpus calibrated serve pass: EVERY document
    through the fitted weights + fitted Platt step — ``(doc_id, source,
    score_cal)``.  The drift monitor and the quality-percentile filter
    both consume this frame; the slot localCheckpoints it so the serve
    chain runs once."""
    from ..sources.tables import load_table

    if weights is None:
        weights = classifier_fit_rows(spark, sf_dir)
    if cal_params is None:
        cal_params, _ = calibration_rows(spark, sf_dir, weights=weights)
    docs = load_table(spark, sf_dir, "documents")
    return classifier_score_calibrated(
        docs, weights, cal_params,
        n_buckets=CLF_BUCKETS, max_ngram=CLF_NGRAM, hash_fn="md5",
    ).join(docs.select("doc_id", "source"), "doc_id")


def drift_rows(spark, sf_dir, weights=None, cal_params=None, scored=None):
    """Driver branch for op='clf_drift': the WHOLE corpus scored through
    the calibrated serve path (fitted weights + fitted Platt step — the
    production full-corpus pass), bucketed into epochs of
    DRIFT_EPOCH_DIV doc_ids, with a planted score regime (−DRIFT_SHIFT
    on every epoch ≡ DRIFT_REM mod DRIFT_MOD — an exact double
    subtraction, engine-neutral) the trailing z-score must flag.  The
    report construction, the decimal windowed moments, and the flagged
    rows are all re-derived in SQL (:func:`sql_drift_ctes`).

    ``scored`` (optional): a precomputed :func:`full_corpus_scored`
    frame, so a slot sharing the serve pass with other branches runs the
    chain once."""
    if scored is None:
        scored = full_corpus_scored(
            spark, sf_dir, weights=weights, cal_params=cal_params
        )
    epoch = F.expr(f"doc_id DIV {DRIFT_EPOCH_DIV}")
    drifted = scored.select(
        epoch.alias("epoch"),
        F.when(
            epoch % DRIFT_MOD == DRIFT_REM,
            F.col("score_cal") - DRIFT_SHIFT,
        )
        .otherwise(F.col("score_cal"))
        .alias("score_cal"),
    )
    return classifier_drift(
        drifted, k=DRIFT_K, min_history=DRIFT_MIN_HIST,
        window=DRIFT_WINDOW,
    )


def sql_drift_ctes() -> str:
    """DuckDB CTE chain re-deriving :func:`drift_rows` — ASSUMES
    ``sql_clf_ctes()`` (``cw{K}``/``cbias``) and ``sql_cal_ctes()``
    (``cal{KC}``) precede it.  Scores ALL documents through the serve
    arithmetic (the ``sql_serve_ctes`` chain without the slice filter),
    plants the drift, zero-fills the bin series, and mirrors the
    exact-int anomaly SQL (HUGEINT windowed moments ≡ the Spark side's
    decimal(38,0)).  Final CTE: ``drflag`` (check, epoch, metric,
    trail_mean, trail_std, z)."""
    toks = (
        "CASE WHEN LENGTH(TRIM(text)) = 0 THEN [] "
        "ELSE string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') END"
    )
    h = f"CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % {CLF_BUCKETS}"
    K, KC = CLF_ITERS, CAL_ITERS
    B, Q = DRIFT_BINS, DRIFT_QUANT
    return f"""drtoks AS (SELECT doc_id, {toks} AS w FROM documents),
    druni AS (SELECT doc_id, unnest(w) AS g FROM drtoks),
    drbi AS (
      SELECT doc_id, w[t.i] || ' ' || w[t.i + 1] AS g
      FROM drtoks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
      WHERE len(w) > 1),
    drgrams AS (SELECT * FROM druni UNION ALL SELECT * FROM drbi),
    drcnt AS MATERIALIZED (
      SELECT doc_id, {h} AS bucket, COUNT(*) AS cnt
      FROM drgrams GROUP BY doc_id, {h}),
    drsums AS MATERIALIZED (
      SELECT t.doc_id,
             CAST(SUM(CAST(COALESCE(w.w, 0.0) AS DECIMAL(20,9))
                      * CAST(t.cnt AS DECIMAL(10,0))) AS DOUBLE) AS ws,
             CAST(SUM(t.cnt) AS INTEGER) AS nf
      FROM drcnt t LEFT JOIN cw{K} w USING (bucket) GROUP BY t.doc_id),
    drsrv AS MATERIALIZED (
      SELECT d.doc_id, d.source,
             round(1.0 / (1.0 + exp(-(c.a *
                    (cbias.w + COALESCE(s.ws / s.nf, 0.0)) + c.b))),
                   9) AS score_cal
      FROM documents d LEFT JOIN drsums s USING (doc_id), cbias, cal{KC} c),
    drsco AS MATERIALIZED (
      SELECT doc_id // {DRIFT_EPOCH_DIV} AS epoch,
             CASE WHEN (doc_id // {DRIFT_EPOCH_DIV}) % {DRIFT_MOD}
                       = {DRIFT_REM}
                  THEN score_cal - {DRIFT_SHIFT}
                  ELSE score_cal END AS score_cal
      FROM drsrv),
    drepochs AS (SELECT DISTINCT epoch FROM drsco),
    drbins AS (
      SELECT e.epoch, CAST(b.b AS INTEGER) AS b
      FROM drepochs e, (SELECT unnest(range({B})) AS b) b),
    drcnts AS (
      SELECT epoch,
             CAST(greatest(0, least(floor(score_cal * {B}), {B - 1})) AS INTEGER) AS b,
             COUNT(*) AS c
      FROM drsco GROUP BY 1, 2),
    drep AS MATERIALIZED (
      SELECT 'q' || db.b AS dchk, db.epoch,
             CAST(COALESCE(dc.c, 0) AS BIGINT) AS metric
      FROM drbins db LEFT JOIN drcnts dc ON dc.epoch = db.epoch
                                        AND dc.b = db.b
      UNION ALL
      SELECT 'cal_sum', epoch,
             CAST(SUM(CAST(round(score_cal * {Q}) AS BIGINT)) AS BIGINT)
      FROM drsco GROUP BY epoch),
    drwin AS (
      SELECT dchk, epoch, metric,
             SUM(metric) OVER w AS s1,
             SUM(CAST(metric AS HUGEINT) * metric) OVER w AS s2,
             COUNT(metric) OVER w AS n
      FROM drep
      WINDOW w AS (PARTITION BY dchk ORDER BY epoch
                   ROWS BETWEEN {DRIFT_WINDOW} PRECEDING
                            AND 1 PRECEDING)),
    drbase AS (
      SELECT dchk, epoch, metric,
             CAST(s1 AS DOUBLE) / n AS trail_mean,
             sqrt((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                  / (n - 1)) AS trail_std
      FROM drwin
      WHERE n >= {DRIFT_MIN_HIST} AND n * s2 - s1 * s1 > 0),
    drflag AS (
      SELECT dchk, epoch, metric, trail_mean, trail_std,
             (metric - trail_mean) / trail_std AS z
      FROM drbase WHERE abs((metric - trail_mean) / trail_std) > {DRIFT_K})"""


# ---------------------------------------------------------------------------
# Round-13 continuation: per-domain quality percentile selection evidence
# (op='clf_qsel'/'clf_qth') — the FineWeb-Edu-style filter over the
# full-corpus calibrated scores, exact-integer thresholds.
# ---------------------------------------------------------------------------

#: keep the top QSEL_NUM/QSEL_DEN of each source by calibrated score —
#: integer fraction so k = n·num // den is engine-neutral arithmetic.
QSEL_NUM, QSEL_DEN = 3, 10


def quality_select_rows(
    spark, sf_dir, weights=None, cal_params=None, scored=None
):
    """Driver branches for op='clf_qsel'/'clf_qth': the per-domain
    top-30% quality selection (`selection.quality_top_fraction`) over the
    full-corpus calibrated serve scores — returns
    ``(selected, report)``; selected rows carry the exact quantized
    score, the report pins (n_docs, k, threshold, n_sel) per source.
    Ties at the threshold are INCLUDED (n_sel ≥ k), which the oracle's
    rank-k threshold reproduces value-for-value."""
    from .selection import quality_top_fraction

    if scored is None:
        scored = full_corpus_scored(
            spark, sf_dir, weights=weights, cal_params=cal_params
        )
    return quality_top_fraction(scored, QSEL_NUM, QSEL_DEN)


def sql_qsel_ctes() -> str:
    """DuckDB CTE chain re-deriving :func:`quality_select_rows` —
    ASSUMES ``sql_drift_ctes()`` precedes it (consumes its ``drsrv``
    whole-corpus scored CTE).  The oracle derives the k-th-largest
    threshold the direct way — per-domain rank over quantized scores
    with a doc_id tiebreak, taking the score at rank k — which equals
    the operator's largest-qs-with-count≥k threshold exactly (see
    `selection.quality_top_fraction`); selection then keeps every row at
    or above the threshold value (ties included), so both engines
    select identical row sets without ever comparing tiebreaks.
    Final CTEs: ``qssel`` (source, doc_id, qs), ``qsdom``
    (source, n_docs, k, t, n_sel)."""
    from .selection import QSEL_QUANT

    return f"""qsq AS (
      SELECT doc_id, source,
             CAST(round(score_cal * {QSEL_QUANT}) AS BIGINT) AS qs
      FROM drsrv),
    qsk AS (
      SELECT source, COUNT(*) AS n_docs,
             greatest(1, (COUNT(*) * {QSEL_NUM}) // {QSEL_DEN}) AS k
      FROM qsq GROUP BY source),
    qsr AS (
      SELECT source, doc_id, qs,
             row_number() OVER (
                 PARTITION BY source ORDER BY qs DESC, doc_id) AS rn
      FROM qsq),
    qsth AS MATERIALIZED (
      SELECT r.source, r.qs AS t, s.n_docs, s.k
      FROM qsr r JOIN qsk s ON r.source = s.source AND r.rn = s.k),
    qssel AS MATERIALIZED (
      SELECT q.source, q.doc_id, q.qs
      FROM qsq q JOIN qsth t USING (source) WHERE q.qs >= t.t),
    qsdom AS (
      SELECT t.source, t.n_docs, t.k, t.t, COUNT(*) AS n_sel
      FROM qssel s JOIN qsth t USING (source)
      GROUP BY t.source, t.n_docs, t.k, t.t)"""
