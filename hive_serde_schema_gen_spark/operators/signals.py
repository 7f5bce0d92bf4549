"""Per-document quality-signal bundle — the RedPajama-V2 "quality
signals" release shape: instead of filtering during curation, compute
EVERY signal once, persist the wide frame next to the corpus, and let
each downstream consumer pick its own thresholds (re-filtering a 100 TB
corpus costs a full pass; re-thresholding a signal table costs a scan
of the table).

Composes the engine's existing per-document signals into one frame:

- heuristic quality features (``text.quality_features`` — length,
  punctuation density, stopword ratio, composite score),
- stopword-profile language prediction (the ``text_lang_id`` argmax),
- intra-document repetition (``curation.repetition_stats`` — the
  Gopher-style duplicate-gram fractions),
- opt-in: hashed-ngram classifier score (``text.classifier_score``)
  and bigram-LM perplexity (``lm.lm_score``).

Scale shape: the heuristic + language columns are ONE narrow projection
(tokenize once, zero shuffle); repetition, classifier, and perplexity
each add one doc-keyed map-side-combined aggregate; the final assembly
is doc_id-keyed left joins that co-partition on the same key at scale.
Persist the output with ``sources.sinks.write_curated`` partitioned the
same way as the corpus so signal lookups prune with it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text_keys import tokens
from .curation import repetition_stats
from .text import LANG_PROFILES, quality_features


_LANGS = ("en", "de", "fr", "es", "zh")


def _lang_score_cols(toks):
    """Per-language profile-hit counts over a MATERIALIZED token column
    (the ``text_lang_id`` lesson: inlining the split into each filter
    re-executes tokenization per language — Catalyst does not CSE across
    projection items)."""
    return [
        F.size(
            F.filter(toks, (lambda words: lambda t: t.isin(*words))(
                LANG_PROFILES[lg]
            ))
        ).alias(f"__s_{lg}")
        for lg in _LANGS
    ]


def _lang_argmax() -> F.Column:
    """Stopword-profile argmax over the ``__s_*`` score columns with the
    fixed en>de>fr>es>zh tie-break — the ``text_quality_lang`` rule."""
    s = {lg: F.col(f"__s_{lg}") for lg in _LANGS}
    return (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"])
            & (s["en"] >= s["es"]) & (s["en"] >= s["zh"]),
            "en",
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]) & (s["de"] >= s["zh"]), "de")
        .when((s["fr"] >= s["es"]) & (s["fr"] >= s["zh"]), "fr")
        .when(s["es"] >= s["zh"], "es")
        .otherwise("zh")
    )


def quality_signals(
    d: DataFrame,
    repetition_n: int = 3,
    classifier_weights: dict | None = None,
    classifier_bias: float = 0.0,
    lm_model=None,
    with_ppl: bool = False,
    with_gopher: bool = False,
    with_compression: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One wide row per document: every quality signal the engine
    computes, ready to persist as the corpus's signal table.

    Columns: ``n_chars  n_tokens  n_punct  n_stopwords  quality
    pred_lang  rep_n_grams  dup_gram_frac  top_gram_frac`` plus
    ``clf_score`` when ``classifier_weights`` is given,
    ``ppl``/``avg_nll`` when ``with_ppl`` (``lm_model``: prefit
    ``lm.train_bigram_lm`` triple, ``None`` self-trains), the
    :func:`gopher_rules` feature set when ``with_gopher``, and the
    :func:`compression_signals` pair (zlib ratio + byte entropy — the
    only Python/Arrow stage, off by default) when ``with_compression``.

    No filtering happens here — thresholding is the consumer's choice;
    ``corpus.curate_and_prepare`` remains the filtering front-end."""
    feats = ["n_chars", "n_tokens", "n_punct", "n_stopwords", "quality"]
    base = (
        quality_features(d.select(id_col, text_col))
        .select(id_col, *feats, tokens(text_col).alias("__toks"))
        .select(id_col, *feats, *_lang_score_cols(F.col("__toks")))
        .select(id_col, *feats, _lang_argmax().alias("pred_lang"))
    )
    rep = repetition_stats(
        d, n=repetition_n, id_col=id_col, text_col=text_col
    ).select(
        id_col,
        F.col("n_grams").alias("rep_n_grams"),
        "dup_gram_frac",
        "top_gram_frac",
    )
    out = base.join(rep, id_col, "left")
    if classifier_weights is not None:
        from .text import classifier_score

        clf = classifier_score(
            d, classifier_weights, bias=classifier_bias,
            id_col=id_col, text_col=text_col,
        ).select(id_col, F.col("score").alias("clf_score"))
        out = out.join(clf, id_col, "left")
    if with_ppl:
        from .lm import lm_score

        ppl = lm_score(d, model=lm_model, id_col=id_col, text_col=text_col)
        out = out.join(
            ppl.select(id_col, "avg_nll", "ppl"), id_col, "left"
        )
    if with_gopher:
        out = out.join(
            gopher_rules(d, id_col=id_col, text_col=text_col), id_col, "left"
        )
    if with_compression:
        comp = compression_signals(d, id_col=id_col, text_col=text_col)
        out = out.join(
            comp.select(id_col, "compression_ratio", "char_entropy"),
            id_col,
            "left",
        )
    return out


# Gopher rule thresholds (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", appendix A1.1 —
# the public quality-filter recipe most crawl pipelines start from).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    d: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Per-document Gopher rule features + the composite pass flag — the
    standard heuristic gauntlet (word-count band, mean word length band,
    symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic-word
    fraction, stopword presence).  One narrow projection: every feature
    is array/regexp arithmetic on the tokenized text, zero shuffle, scan
    speed at any corpus size.

    Emits the raw features so consumers can re-threshold without a
    corpus pass (the signal-table philosophy of this module); the
    ``passes_gopher`` flag applies the defaults above (thresholds are
    the paper's; bullet fraction is expressed as the max fraction of
    lines ALLOWED to start with a bullet — the paper keeps docs with
    ≤ 90% bullet lines and ≤ 30% ellipsis-ended lines)."""
    toks = tokens(text_col)
    base = d.select(
        id_col,
        F.col(text_col).alias("__text"),
        toks.alias("__w"),
        F.split(F.col(text_col), "\n").alias("__lines"),
    )
    n_words = F.size("__w")
    mean_wl = F.when(n_words > 0,
        F.aggregate(
            "__w", F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        ).cast("double") / n_words,
    ).otherwise(F.lit(0.0))
    # symbol COUNT, not characters removed: the paper's ratio counts
    # symbol occurrences per word, so '...' is one symbol (weight 1),
    # same as the single-char '…'
    n_symbols = F.regexp_count("__text", F.lit(r"[#…]|\.\.\."))
    sym_ratio = F.when(n_words > 0, n_symbols.cast("double") / n_words).otherwise(
        F.lit(0.0)
    )
    n_lines = F.size("__lines")
    bullet_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter("__lines", lambda l: F.trim(l).rlike(r"^[-*•●]"))
        ).cast("double") / n_lines,
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter("__lines", lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
        ).cast("double") / n_lines,
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter("__w", lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / n_words,
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform("__w", F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    feat = base.select(
        id_col,
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_word_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("n_stop_hits"),
    )
    passes = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("n_stop_hits") >= min_stop_hits)
    )
    return feat.select("*", passes.alias("passes_gopher"))


# ---------------------------------------------------------------------------
# DuckDB re-derivations for the driver slot (rides the text_quality_lang
# union): repetition fractions + the Gopher feature set.
# ---------------------------------------------------------------------------

_SQL_TOKS = (
    "CASE WHEN LENGTH(TRIM(text)) = 0 THEN [] "
    "ELSE string_split_regex(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') END"
)


def sql_signal_ctes() -> str:
    """CTE chain over ``documents`` → ``sigrep(doc_id, rep_n_grams,
    dup_gram_frac, top_gram_frac)`` (trigram repetition — counted on raw
    gram STRINGS, which equals the operator's xxhash64-keyed counts
    unless a 64-bit collision occurs, in which case the driver hash
    rightly breaks) and ``siggo(...)`` (every Gopher feature + the pass
    flag re-derived with the same thresholds)."""
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""sreptoks AS (
      SELECT doc_id, string_split_regex(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') AS w
      FROM documents),
    srepg AS (
      SELECT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
      FROM sreptoks, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) t
      WHERE len(w) > 2),
    srepc AS (SELECT doc_id, g, COUNT(*) AS c FROM srepg GROUP BY doc_id, g),
    sreps AS (
      SELECT doc_id, SUM(c) AS total, SUM(c - 1) AS repeats, MAX(c) AS top_c
      FROM srepc GROUP BY doc_id),
    sigrep AS (
      SELECT d.doc_id,
             CAST(COALESCE(s.total, 0) AS BIGINT) AS rep_n_grams,
             COALESCE(CAST(s.repeats AS DOUBLE) / s.total, 0.0)
               AS dup_gram_frac,
             COALESCE(CAST(s.top_c AS DOUBLE) / s.total, 0.0)
               AS top_gram_frac
      FROM documents d LEFT JOIN sreps s USING (doc_id)),
    sgo AS (
      SELECT doc_id, text, {_SQL_TOKS} AS w,
             string_split(text, chr(10)) AS ls
      FROM documents),
    siggo AS (
      SELECT doc_id,
             CAST(len(w) AS INTEGER) AS n_words,
             round(CASE WHEN len(w) > 0 THEN
               CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE)
                 / len(w) ELSE 0.0 END, 6) AS mean_word_len,
             round(CASE WHEN len(w) > 0 THEN
               CAST(len(regexp_extract_all(text, '[#…]|\\.\\.\\.'))
                 AS DOUBLE) / len(w) ELSE 0.0 END, 6) AS symbol_word_ratio,
             round(CASE WHEN len(ls) > 0 THEN
               CAST(len(list_filter(ls,
                   l -> regexp_matches(TRIM(l), '^[-*•●]'))) AS DOUBLE)
                 / len(ls) ELSE 0.0 END, 6) AS bullet_line_frac,
             round(CASE WHEN len(ls) > 0 THEN
               CAST(len(list_filter(ls,
                   l -> regexp_matches(TRIM(l), '(\\.\\.\\.|…)$'))) AS DOUBLE)
                 / len(ls) ELSE 0.0 END, 6) AS ellipsis_line_frac,
             round(CASE WHEN len(w) > 0 THEN
               CAST(len(list_filter(w,
                   t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
                 / len(w) ELSE 0.0 END, 6) AS alpha_word_frac,
             CAST(len(list_intersect(
                 list_distinct(list_transform(w, t -> lower(t))),
                 [{stops}])) AS INTEGER) AS n_stop_hits
      FROM sgo),
    siggop AS (
      SELECT *,
             (n_words BETWEEN 50 AND 100000
              AND mean_word_len BETWEEN 3.0 AND 10.0
              AND symbol_word_ratio <= 0.1
              AND bullet_line_frac <= 0.9
              AND ellipsis_line_frac <= 0.3
              AND alpha_word_frac >= 0.8
              AND n_stop_hits >= 2) AS passes_gopher
      FROM siggo)"""


def compression_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio + character entropy per document — the
    classic cheap repetition/degeneracy signals (Gopher/RefinedWeb-style
    filters drop both tails: near-1 ratios are random/encrypted noise,
    near-0 ratios are templated repetition; entropy separates natural
    text from character soup).

    Output ``(id, n_bytes, compressed_bytes, compression_ratio,
    char_entropy)`` where ratio = compressed/raw (UTF-8 bytes; empty
    docs get ratio 0.0 and entropy 0.0) and entropy is the Shannon
    entropy of the UTF-8 byte histogram in bits/byte.

    zlib has no Catalyst expression, so this is a deliberate Python
    path — Arrow-batched ``mapInPandas`` (the multimodal discipline,
    never a row-at-a-time UDF): one narrow projection in, one narrow
    frame out, constant memory per batch, zero shuffles."""
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    # the id column's type follows the input schema — hardcoding `long`
    # would silently corrupt (or reject) a string/int id
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, n_bytes long, compressed_bytes long, "
        "compression_ratio double, char_entropy double"
    )

    def _batches(it):
        import math
        import zlib

        import pandas as pd

        for pdf in it:
            ids, nb, cb, cr, he = [], [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                raw = (t or "").encode("utf-8", errors="replace")
                n = len(raw)
                c = len(zlib.compress(raw, level)) if n else 0
                if n:
                    counts: dict = {}
                    for b in raw:
                        counts[b] = counts.get(b, 0) + 1
                    ent = -sum(
                        (k / n) * math.log2(k / n) for k in counts.values()
                    )
                else:
                    ent = 0.0
                ids.append(i)
                nb.append(n)
                cb.append(c)
                cr.append(c / n if n else 0.0)
                he.append(ent)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_bytes": nb,
                    "compressed_bytes": cb,
                    "compression_ratio": cr,
                    "char_entropy": he,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(_batches, out_schema)
