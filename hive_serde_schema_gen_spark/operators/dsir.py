"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"): pick the
raw-corpus documents that look most like a small target corpus, the
standard pretraining-data-selection move when you have a quality slice
(e.g. a curated wiki/book sample) and a 100 TB crawl to filter.

Method (the public hashed-ngram variant): featurize each document as a
bag of HASHED n-grams over ``m`` buckets, fit two bag-of-buckets
multinomials — ``p`` on the target corpus, ``q`` on the raw corpus —
with add-one smoothing, weight every raw document by the log importance
ratio

    log w(x) = sum_b  tf_b(x) * ( log p_b - log q_b )

and resample k documents WITHOUT replacement via Gumbel top-k: the top-k
of ``log w(x_i) + g_i`` with i.i.d. standard Gumbel ``g_i`` is a
distributional sample of k distinct items with probability proportional
to ``w`` (the Gumbel-max trick; deterministic here because ``g_i`` is
hashed from (seed, doc_id), so retries and repartitions reproduce the
same sample).

The reference engine has no data-selection surface (it is a schema
generator — ``Schemer.scala``); this module is part of the
training-data-pipeline layer the build brief mandates.

Hyperparameter caveat (inherent to the method, not this implementation):
the target corpus must carry enough gram mass relative to ``m`` for the
fitted target model to rise above the add-one smoothing floor.  With
``target grams ≪ m`` the fitted p is near-uniform, every per-gram ratio
is negative, and the weight degenerates into a LENGTH penalty (shorter
raw docs win regardless of content).  Rule of thumb: keep
``m ≲ total target gram count`` (the paper fits on 10⁴ buckets against
multi-million-gram targets).  The planted-selection test pins both
regimes' behavior.

Scale shape (100 TB):
- Featurization is the ``embed_text`` shape: explode grams → hash →
  ONE map-side-combined (doc, bucket) count.  Cost O(tokens), no joins.
- The fitted models are TINY (≤ m buckets ≈ 10⁴ rows): both count
  tables broadcast into the per-doc weight join, so weighting is one
  doc-keyed aggregate — no shuffle of the corpus beyond the tf groupBy.
  Fit once, persist like the BM25 postings artifact, reuse across runs
  (``fit_hash_counts`` returns plain DataFrames for exactly that).
- Selection is ``ORDER BY key DESC LIMIT k`` → Spark's
  TakeOrderedAndProject: per-partition top-k heaps + one driver merge of
  k·#partitions rows, never a full sort of the corpus.

Cross-engine determinism (driver-hash rules, the ``lm.py`` precedent):
the only transcendental, ``ln``, is computed per row over INTEGER inputs
(smoothed counts, totals) and rounded to 9 dp — JVM ``Math.log`` and
DuckDB libm agree to ~1 ULP, nine orders below the grain.  The rounded
ratio rides DECIMAL(20,9), multiplies the integer tf exactly, and the
per-doc sum is an exact decimal — order-free.  The Gumbel noise hashes
doc_id through the configured hash (md5 = oracle configuration,
re-derivable in DuckDB; xxhash64 = production), maps to the open unit
interval with a +0.5 half-step (u can never hit 0 or 1, so the double
log is finite), and is rounded to 9 dp before the exact decimal add.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.text_keys import lower_grams, salted_hash

#: 52 bits of hash → uniform grid on (0,1); +0.5 half-step keeps u
#: strictly inside the interval (ln(-ln(u)) stays finite at both ends).
_U_BITS = 52
_U_SCALE = float(1 << _U_BITS)


def _bucket(salt: str, hash_fn: str, m: int) -> F.Column:
    """Bucket of the gram column ``__g``: ``hash(salt, gram) mod m`` with
    :func:`text_keys.salted_hash`, so DSIR and ``embed_text`` hash grams
    alike."""
    return F.pmod(salted_hash(F.col("__g"), salt, hash_fn), F.lit(m)).cast("int")


def hashed_gram_tf(
    d: DataFrame,
    m: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "dsir-v1",
    hash_fn: str = "xxhash64",
    bigrams: bool = True,
) -> DataFrame:
    """(id, b, tf): per-document hashed-gram bucket counts — bucket
    ``b = hash(salt, gram) mod m``.  One explode + one map-side-combined
    aggregate; empty texts contribute no rows (callers left-join)."""
    if m < 1:
        raise ValueError("m must be >= 1")
    g = d.select(
        F.col(id_col).alias(id_col),
        F.explode(lower_grams(text_col, bigrams)).alias("__g"),
    )
    b = _bucket(salt, hash_fn, m)
    return (
        g.select(id_col, b.alias("b"))
        .groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def fit_hash_counts(
    d: DataFrame,
    m: int = 4096,
    text_col: str = "text",
    salt: str = "dsir-v1",
    hash_fn: str = "xxhash64",
    bigrams: bool = True,
):
    """Fit the bag-of-buckets model: returns ``(counts, totals)`` —
    ``counts(b, c)`` (≤ m rows) and the 1-row ``totals(t)`` gram count.
    Both are lazy DataFrames; persist to parquet to amortize the fit
    across selection runs (the BM25-index artifact pattern)."""
    g = d.select(F.explode(lower_grams(text_col, bigrams)).alias("__g"))
    b = _bucket(salt, hash_fn, m)
    counts = g.select(b.alias("b")).groupBy("b").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("t"))
    return counts, totals


def dsir_weights(
    raw: DataFrame,
    target,
    m: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "dsir-v1",
    hash_fn: str = "xxhash64",
    bigrams: bool = True,
    raw_model=None,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Per-document log importance weight of every ``raw`` document
    against the ``target`` corpus: ``(id, n_grams, logw_q9)``.

    ``target`` is a DataFrame corpus or a prefit ``(counts, totals)``
    pair from :func:`fit_hash_counts`; ``raw_model`` optionally supplies
    the prefit raw-side model (default: fit on ``raw`` itself); ``tf``
    optionally supplies the :func:`hashed_gram_tf` frame over ``raw``
    under the SAME (m, salt, hash_fn, bigrams) — a caller that already
    materialized it (e.g. to derive the models from it) skips the gram
    explode here.  Buckets unseen in either fit fall back to count 0 —
    add-one smoothing keeps every ratio finite.  Docs with no grams get
    ``logw_q9 = 0`` (weight 1: no evidence either way)."""
    kw = dict(m=m, text_col=text_col, salt=salt, hash_fn=hash_fn, bigrams=bigrams)
    p_counts, p_tot = (
        target if isinstance(target, tuple) else fit_hash_counts(target, **kw)
    )
    q_counts, q_tot = (
        raw_model
        if raw_model is not None
        else fit_hash_counts(raw, **kw)
    )

    if tf is None:
        tf = hashed_gram_tf(
            raw, m=m, id_col=id_col, text_col=text_col, salt=salt,
            hash_fn=hash_fn, bigrams=bigrams,
        )
    # Model tables are <= m rows: broadcast both; the only corpus-scale
    # shuffle is the tf aggregate inside hashed_gram_tf.
    joined = (
        tf.join(F.broadcast(p_counts.withColumnRenamed("c", "cp")), "b", "left")
        .join(F.broadcast(q_counts.withColumnRenamed("c", "cq")), "b", "left")
        .crossJoin(F.broadcast(p_tot.withColumnRenamed("t", "tp")))
        .crossJoin(F.broadcast(q_tot.withColumnRenamed("t", "tq")))
    )
    # log p_b - log q_b with add-one smoothing over integer inputs;
    # 4-term float expression rounded at 9 dp (each ln is ~1 ULP across
    # engines — the lm.py argument), then exact decimal arithmetic.
    r = (
        F.log(F.coalesce(F.col("cp"), F.lit(0)) + F.lit(1))
        - F.log(F.col("tp") + F.lit(m))
        - F.log(F.coalesce(F.col("cq"), F.lit(0)) + F.lit(1))
        + F.log(F.col("tq") + F.lit(m))
    )
    q = F.round(r, 9).cast("decimal(20,9)") * F.col("tf").cast("decimal(10,0)")
    agg = joined.groupBy(id_col).agg(
        F.sum(q).alias("logw_dec"),
        F.sum("tf").cast("bigint").alias("n_grams"),
    )
    return (
        raw.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("logw_dec").cast("double"), F.lit(0.0)).alias(
                "logw_q9"
            ),
        )
    )


def _gumbel(id_col: str, seed: str, hash_fn: str) -> F.Column:
    """Deterministic standard-Gumbel noise per id: u = (h52 + 0.5) / 2^52
    from the configured hash of (seed, id), g = -ln(-ln(u)), rounded to
    9 dp.  Pure per-row float ops after the hash — cross-engine ULP
    noise is absorbed by the rounding (g's derivative is bounded on the
    half-step-protected interval)."""
    h = salted_hash(F.col(id_col).cast("string"), seed, hash_fn, digits=13)
    u = (F.pmod(h, F.lit(1 << _U_BITS)).cast("double") + F.lit(0.5)) / F.lit(
        _U_SCALE
    )
    return F.round(-F.log(-F.log(u)), 9)


def dsir_sample(
    raw: DataFrame,
    target,
    k: int,
    m: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "dsir-v1",
    seed: str = "dsir-seed",
    hash_fn: str = "xxhash64",
    bigrams: bool = True,
    raw_model=None,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Gumbel-top-k importance resample of ``k`` raw documents without
    replacement: ``(id, n_grams, logw_q9, gumbel_q9, sel_rank)``, ranked
    by ``logw + gumbel`` descending (doc id breaks exact ties).
    Deterministic for a fixed (seed, hash_fn): retries, repartitions and
    re-runs select the identical set in the identical order.

    ``weights``: optional precomputed :func:`dsir_weights` frame over the
    SAME (raw, target, m, salt, hash_fn, bigrams) — the weight pipeline
    is deterministic, so a caller that also reports weights (the
    ``curation_ops`` slot) computes them once and threads them here."""
    if k < 1:
        raise ValueError("k must be >= 1")
    w = (
        weights
        if weights is not None
        else dsir_weights(
            raw, target, m=m, id_col=id_col, text_col=text_col, salt=salt,
            hash_fn=hash_fn, bigrams=bigrams, raw_model=raw_model,
        )
    )
    g = _gumbel(id_col, seed, hash_fn).cast("decimal(20,9)")
    keyed = w.select(
        id_col,
        "n_grams",
        "logw_q9",
        g.cast("double").alias("gumbel_q9"),
        # exact decimal add: logw re-enters as DECIMAL(20,9) — it was
        # rounded to the same grain, so the cast is value-preserving.
        (F.col("logw_q9").cast("decimal(20,9)") + g).cast("double").alias("__key"),
    )
    # TakeOrderedAndProject does the distributed top-k; the rank window
    # then runs over exactly k rows (single tiny partition by design).
    topk = keyed.orderBy(F.col("__key").desc(), F.col(id_col)).limit(k)
    return topk.select(
        id_col,
        "n_grams",
        "logw_q9",
        "gumbel_q9",
        F.row_number()
        .over(Window.orderBy(F.col("__key").desc(), F.col(id_col)))
        .alias("sel_rank"),
    )


# ---------------------------------------------------------------------------
# Driver-slot configuration (rides the `curation_ops` tagged union) and the
# DuckDB re-derivation of the full pipeline
# ---------------------------------------------------------------------------

#: Slot config: md5 hashes (oracle-re-derivable), 256 buckets (the zh
#: target slice carries ~8k grams at sf0.01 — above the smoothing floor
#: the module docstring warns about), target = lang='zh', k = 20.
_SLOT_M = 256
_SLOT_K = 20
_SLOT_LANG = "zh"
_U_MOD = 1 << _U_BITS


def dsir_slot_frames(spark, sf_dir):
    """Both driver arms — ``(weight_rows, selected_rows)`` — from ONE
    gram pass over the corpus (guide §2.3: aggregate before you shuffle,
    and don't compute the same thing twice).  The standalone arm
    builders each run the full weight pipeline (tf aggregate + raw-model
    fit = two gram explodes apiece, four per slot); here the
    hashed-gram tf materializes once and everything else derives from
    it exactly:

    - raw model: bucket counts over ALL grams = the per-(doc, b) tf
      summed over docs (same rows of ``g`` grouped coarser);
    - target model: the zh slice is a doc-level filter of the corpus
      and doc_id is unique, so target bucket counts = tf restricted to
      zh doc_ids, summed per bucket;
    - the weights frame is checkpointed and threads into BOTH the
      op='dsir_w' filter and the op='dsir_sel' Gumbel top-k
      (``dsir_sample(weights=...)``).

    Row-identical to ``dsir_weight_rows`` / ``dsir_selected_rows`` by
    construction (pytest-held)."""
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    tf = hashed_gram_tf(d, m=_SLOT_M, hash_fn="md5").localCheckpoint()
    q_counts = tf.groupBy("b").agg(F.sum("tf").alias("c"))
    q_tot = q_counts.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("t"))
    zh_ids = d.filter(F.col("lang") == _SLOT_LANG).select("doc_id")
    p_counts = (
        tf.join(zh_ids, "doc_id")
        .groupBy("b")
        .agg(F.sum("tf").alias("c"))
    )
    p_tot = p_counts.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("t"))
    w = dsir_weights(
        d, (p_counts, p_tot), m=_SLOT_M, hash_fn="md5",
        raw_model=(q_counts, q_tot), tf=tf,
    ).localCheckpoint()
    sel = dsir_sample(
        d, (p_counts, p_tot), k=_SLOT_K, m=_SLOT_M, hash_fn="md5",
        weights=w,
    )
    return w.filter(F.col("doc_id") % 10 == 0), sel


def dsir_weight_rows(spark, sf_dir):
    """The op='dsir_w' branch: importance weights of every 10th document
    against the lang='zh' target slice — pins the weight arithmetic
    across the corpus distribution, selected or not."""
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    target = d.filter(F.col("lang") == _SLOT_LANG)
    w = dsir_weights(d, target, m=_SLOT_M, hash_fn="md5")
    return w.filter(F.col("doc_id") % 10 == 0)


def dsir_selected_rows(spark, sf_dir):
    """The op='dsir_sel' branch: the Gumbel-top-k resampled set with
    ranks — pins weights + noise + the without-replacement ordering."""
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    target = d.filter(F.col("lang") == _SLOT_LANG)
    return dsir_sample(d, target, k=_SLOT_K, m=_SLOT_M, hash_fn="md5")


def sql_dsir_ctes() -> str:
    """CTE chain re-deriving the slot configuration over ``documents`` →
    final CTEs ``dsirw(doc_id, n_grams, logw)`` (every document's weight)
    and ``dsirsel(doc_id, n_grams, logw, gumbel, sel_rank)`` (the top-k).
    ONE SQL rendition of the hashing, both fits, the 9-dp-quantized
    ratio, the exact decimal reduction, and the Gumbel keys."""
    m, k, lang = _SLOT_M, _SLOT_K, _SLOT_LANG
    h8 = "CAST(concat('0x', substr(md5('dsir-v1|' || g), 1, 8)) AS BIGINT)"
    h13 = (
        "CAST(concat('0x', substr(md5('dsir-seed|' || CAST(doc_id AS VARCHAR)),"
        " 1, 13)) AS BIGINT)"
    )
    from .clustering import _materialize

    return _materialize(f"""dstoks AS (
      SELECT doc_id,
             CASE WHEN LENGTH(TRIM(text)) = 0 THEN []
                  ELSE string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') END AS w
      FROM documents),
    dsgrams AS (
      SELECT doc_id, unnest(w) AS g FROM dstoks
      UNION ALL
      SELECT doc_id, w[t.i] || ' ' || w[t.i + 1] AS g
      FROM dstoks, LATERAL (SELECT unnest(range(1, len(w))) AS i) t
      WHERE len(w) > 1),
    dsbuck AS (
      SELECT doc_id, CAST({h8} % {m} AS INTEGER) AS b FROM dsgrams),
    dstc AS (
      SELECT b, COUNT(*) AS cp FROM dsbuck JOIN documents USING (doc_id)
      WHERE lang = '{lang}' GROUP BY b),
    dstt AS (SELECT COALESCE(SUM(cp), 0) AS tp FROM dstc),
    dsqc AS (SELECT b, COUNT(*) AS cq FROM dsbuck GROUP BY b),
    dsqt AS (SELECT COALESCE(SUM(cq), 0) AS tq FROM dsqc),
    dstf AS (
      SELECT doc_id, b, COUNT(*) AS tf FROM dsbuck GROUP BY doc_id, b),
    dsterm AS (
      SELECT f.doc_id,
             CAST(round(ln(COALESCE(t.cp, 0) + 1) - ln(tt.tp + {m})
                        - ln(COALESCE(q.cq, 0) + 1) + ln(qt.tq + {m}), 9)
                  AS DECIMAL(20,9)) * CAST(f.tf AS DECIMAL(10,0)) AS qv,
             f.tf
      FROM dstf f
      LEFT JOIN dstc t USING (b)
      LEFT JOIN dsqc q USING (b), dstt tt, dsqt qt),
    dsagg AS (
      SELECT doc_id, SUM(qv) AS logw_dec, SUM(tf) AS ng
      FROM dsterm GROUP BY doc_id),
    dsirw AS (
      SELECT d.doc_id,
             CAST(COALESCE(a.ng, 0) AS BIGINT) AS n_grams,
             COALESCE(CAST(a.logw_dec AS DOUBLE), 0.0) AS logw
      FROM documents d LEFT JOIN dsagg a USING (doc_id)),
    dsgum AS (
      SELECT doc_id,
             round(-ln(-ln(({h13} % {_U_MOD} + 0.5) / {float(_U_MOD)})), 9)
               AS gumbel
      FROM documents),
    dskey AS (
      SELECT w.doc_id, w.n_grams, w.logw, g.gumbel,
             CAST(CAST(w.logw AS DECIMAL(20,9))
                  + CAST(g.gumbel AS DECIMAL(20,9)) AS DOUBLE) AS key
      FROM dsirw w JOIN dsgum g USING (doc_id)),
    dsirsel AS (
      SELECT doc_id, n_grams, logw, gumbel,
             CAST(ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS INTEGER)
               AS sel_rank
      FROM dskey QUALIFY sel_rank <= {k})""")
