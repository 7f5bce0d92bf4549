"""N-gram language-model perplexity scoring — the CCNet-style quality
signal for pretraining corpora (Wenzek et al., "CCNet: Extracting High
Quality Monolingual Datasets from Web Crawl Data": documents are bucketed
by LM perplexity and the tail is dropped or down-weighted).  The reference
engine has no LM surface; this is part of the training-data-pipeline layer
the build brief mandates.

Model: an add-one-smoothed bigram LM over lowercased whitespace tokens,

    p(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V)

with ``V`` the unigram vocabulary size.  Per document we report the total
and per-token negative log-likelihood over its bigrams and the perplexity
``exp(avg_nll)``.  Training and scoring corpora may differ (score a new
crawl against last month's counts); the one-argument form self-trains,
which is the CCNet shape for "how typical is this document of the corpus
it sits in".

Scale shape (100 TB):
- Counts are classic map-side-combinable aggregations: tokens explode and
  reduce to (word, c1) / (w1, w2, c12) — one shuffle each, partial
  aggregation on the map side, no driver materialization.  The trained
  counts are reusable artifacts: persist them like the BM25 postings index
  (``text_index``) and amortize across scoring runs.
- Scoring pre-aggregates per-document bigram term frequencies BEFORE the
  count joins (the per-(doc, w1, w2) ``tf`` carries the multiplicity), so
  a 1000-occurrence stopword pair joins once per document, not once per
  occurrence.
- The unigram join key ``w1`` is Zipf-skewed; at cluster scale either
  broadcast the counts (vocab ≪ corpus) or let AQE skew-split the join —
  both count tables are orders of magnitude smaller than the corpus.

Cross-engine determinism (the driver hash): every reduction is over
integers or exact decimals.  The only transcendental, ``ln``, is computed
PER ROW, rounded to 9 dp (JVM ``Math.log`` and DuckDB libm agree to
within 1 ULP ~ 1e-16 — nine orders below the rounding grain), cast to
DECIMAL(20,9), multiplied by the integer tf as DECIMAL(10,0) (exact,
precision 31 ≤ 38 so neither engine drops scale), and summed as an exact
decimal — an order-free reduction.  The decimal total converts exactly to
double (≤ 2^53 in 1e-9 units for any plausible document), so avg and
``exp`` are single deterministic per-row float ops, reported at 6/4 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text_keys import tokens
from ..registry import query
from ..sources.tables import load_table

# Lowercased mirror of text._SQL_TOKENS (same empty-text guard).
_SQL_TOKENS_LOWER = (
    "CASE WHEN LENGTH(TRIM(text)) = 0 THEN [] "
    "ELSE string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') END"
)


def _lower_tokens(text_col: str):
    return tokens(F.lower(F.col(text_col)))


def train_bigram_lm(docs: DataFrame, text_col: str = "text"):
    """Corpus-wide bigram counts: returns ``(uni, pairs, vstats)`` —
    ``uni(w1, c1)``, ``pairs(w1, w2, c12)``, and the 1-row ``vstats(v)``
    vocabulary size.  Each is a lazy DataFrame; persist them (parquet)
    to amortize training across scoring runs."""
    toks = docs.select(_lower_tokens(text_col).alias("w"))
    uni = (
        toks.select(F.explode("w").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    pairs = (
        toks.select(_bigrams_col().alias("bg"))
        .select(F.explode("bg").alias("b"))
        .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    vstats = uni.agg(F.count(F.lit(1)).alias("v"))
    return uni, pairs, vstats


def _bigrams_col():
    """Adjacent-pair structs from the token array ``w`` — pure array
    expression, no join, no explode-then-self-join.  ``try_element_at``
    keeps the last (sliced-away) struct from raising under ANSI mode;
    ``greatest(.., 0)`` keeps 0/1-token docs at an empty (typed) array."""
    return F.expr(
        "slice(transform(w, (x, i) -> struct(x AS w1, try_element_at(w, i + 2) AS w2)),"
        " 1, greatest(size(w) - 1, 0))"
    )


def lm_score(
    docs: DataFrame,
    model=None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document bigram-LM negative log-likelihood + perplexity.

    ``model``: the ``(uni, pairs, vstats)`` triple from
    :func:`train_bigram_lm`; ``None`` self-trains on ``docs`` (the CCNet
    corpus-typicality signal).  Unseen unigrams/bigrams (cross-corpus
    scoring) fall back to count 0 — add-one smoothing keeps every
    probability finite.

    Output: ``(id, n_bigrams, nll_q9, avg_nll, ppl)``; 0-bigram docs get
    ``nll_q9 = avg_nll = 0.0, ppl = 1.0``."""
    if model is None:
        model = train_bigram_lm(docs, text_col)
    uni, pairs, vstats = model

    bg = (
        docs.select(id_col, _lower_tokens(text_col).alias("w"))
        .select(id_col, _bigrams_col().alias("bg"))
        .select(id_col, F.explode("bg").alias("b"))
        .select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    # Per-document multiplicity FIRST: the count joins then touch one row
    # per distinct (doc, bigram), not one per occurrence.
    tf = bg.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))

    # Unseen (cross-corpus) → c12=0 / c1=0 via left joins + coalesce.
    joined = (
        tf.join(pairs, ["w1", "w2"], "left")
        .join(uni, ["w1"], "left")
        .crossJoin(F.broadcast(vstats))
        .select(
            id_col,
            "tf",
            (
                F.log(F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                - F.log(F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1))
            ).alias("s"),
        )
    )
    q = F.round(F.col("s"), 9).cast("decimal(20,9)") * F.col("tf").cast(
        "decimal(10,0)"
    )
    agg = joined.groupBy(id_col).agg(
        F.sum(q).alias("nll_dec"),
        F.sum("tf").cast("int").alias("n_bigrams"),
    )
    nll = F.coalesce(F.col("nll_dec").cast("double"), F.lit(0.0))
    n = F.coalesce(F.col("n_bigrams"), F.lit(0))
    avg = F.when(n == 0, F.lit(0.0)).otherwise(nll / n)
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            n.alias("n_bigrams"),
            nll.alias("nll_q9"),
            F.round(avg, 6).alias("avg_nll"),
            F.round(F.exp(avg), 4).alias("ppl"),
        )
    )


# DuckDB re-derivation of the full pipeline — tokens, both count tables,
# vocabulary size, the 9-dp-quantized per-bigram surprisal, the exact
# decimal reduction, and the final avg/exp — self-trained like the slot.
_LM_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, {_SQL_TOKENS_LOWER} AS w FROM documents),
    uni AS (
        SELECT t AS w1, COUNT(*) AS c1
        FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t),
    vs AS (SELECT COUNT(*) AS v FROM uni),
    bg AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM (SELECT doc_id, w,
                     unnest(generate_series(1, len(w) - 1)) AS i
              FROM toks)),
    tf AS (
        SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY doc_id, w1, w2),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    term AS (
        SELECT tf.doc_id,
               CAST(round(ln(uni.c1 + vs.v) - ln(c12.c12 + 1), 9)
                    AS DECIMAL(20,9)) * CAST(tf.tf AS DECIMAL(10,0)) AS q,
               tf.tf
        FROM tf
        JOIN c12 USING (w1, w2)
        JOIN uni USING (w1), vs),
    agg AS (
        SELECT doc_id, CAST(SUM(q) AS DOUBLE) AS nll,
               CAST(SUM(tf) AS INTEGER) AS n_bigrams
        FROM term GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(agg.n_bigrams, 0) AS n_bigrams,
           COALESCE(agg.nll, 0.0) AS nll_q9,
           round(CASE WHEN COALESCE(agg.n_bigrams, 0) = 0 THEN 0.0
                      ELSE agg.nll / agg.n_bigrams END, 6) AS avg_nll,
           round(exp(CASE WHEN COALESCE(agg.n_bigrams, 0) = 0 THEN 0.0
                          ELSE agg.nll / agg.n_bigrams END), 4) AS ppl
    FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
    ORDER BY d.doc_id
"""


@query("lm_perplexity", oracle=_LM_ORACLE)
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver slot for :func:`lm_score`: self-trained bigram-LM perplexity
    over ``documents`` — counts, vocabulary, quantized surprisals, and the
    exact decimal reduction all re-derived by the oracle."""
    d = load_table(spark, sf_dir, "documents")
    return lm_score(d).orderBy("doc_id")
