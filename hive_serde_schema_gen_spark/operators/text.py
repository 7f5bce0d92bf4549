"""Text-analysis operators over the ``documents`` table — the text half of a
training-data pipeline: token counting, quality scoring, language ID,
fingerprinting.

Everything is built from JVM-side expression functions (split / filter /
transform / regexp) — no Python UDFs in these paths, so the hot loop stays in
whole-stage codegen and scales linearly with executors.  Each query has an
exact DuckDB oracle built from the same primitives.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text_keys import hex_long, tokens, word_grams
from ..registry import query
from ..sources.tables import load_table

# Tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic.  Deterministic and engine-neutral (both sides count membership).
# Round 11 widened the profile set beyond the corpus's five ground-truth
# labels (it/pt/nl) — a real crawl classifier must DISCRIMINATE against
# languages the corpus doesn't contain, and the accuracy branch
# (op='langacc') measures the resulting confusion directly.
LANG_PROFILES = {
    "en": ("the", "a", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "los", "y", "que", "es", "una"),
    "it": ("il", "di", "che", "non", "per", "con"),
    "pt": ("o", "os", "da", "do", "em", "para"),
    "nl": ("de", "het", "een", "van", "niet", "met"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3"),  # pinyin-ish tokens
}

# Fixed argmax tie-break priority (first wins ties) — the order every
# CASE chain, Spark and SQL, is generated from.
LANG_ORDER = ("en", "de", "fr", "es", "it", "pt", "nl", "zh")


_SQL_TOKENS = (
    "CASE WHEN LENGTH(TRIM(text)) = 0 THEN [] "
    "ELSE string_split_regex(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') END"
)


_TOKEN_COUNT_SQL = f"""
    SELECT doc_id,
           CAST(len({_SQL_TOKENS}) AS INTEGER) AS n_tokens,
           CAST(LENGTH(text) AS INTEGER)       AS n_chars_computed,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INTEGER) AS n_subtokens
    FROM documents
"""


def text_token_count(spark, sf_dir, sort: bool = True):
    """Token counting, both flavors in one pass: whitespace tokens and
    BPE-ish subwords (alpha runs, digit runs, lone symbols — a common
    pre-tokenizer shape).  Pure narrow transformation — no shuffle.
    Registry-merged into ``text_token_count`` (the joined
    tokens+fingerprint slot) in round 9."""
    d = load_table(spark, sf_dir, "documents")
    out = d.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars_computed"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), F.lit(0)
            )
        ).alias("n_subtokens"),
    )
    return out.orderBy("doc_id") if sort else out


_STOPWORDS = ("the", "a", "and", "of", "to", "is", "in", "it", "that", "for")
_SW_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)


def _sql_quality_cte(src: str = "documents") -> str:
    """CTE chain ``feat → qual`` computing the quality score over an
    arbitrary source relation — shared by the ``text_quality_score`` oracle
    and the composed corpus pipeline oracle, so the weights/feature
    definitions cannot drift between them."""
    return f"""
    feat AS (
        SELECT doc_id,
               CAST(LENGTH(text) AS INTEGER) AS n_chars,
               CAST(len({_SQL_TOKENS}) AS INTEGER) AS n_tokens,
               CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.!?,;:]', '', 'g')) AS INTEGER) AS n_punct,
               CAST(len(list_filter({_SQL_TOKENS}, t -> t IN ({_SW_LIST}))) AS INTEGER) AS n_stopwords
        FROM {src}),
    qual AS (
        SELECT doc_id, n_chars, n_tokens, n_punct, n_stopwords,
               CASE WHEN n_tokens = 0 THEN 0.0 ELSE
                    0.5 * (CAST(n_stopwords AS DOUBLE) / n_tokens)
                  + 0.3 * (CASE WHEN n_chars BETWEEN 100 AND 10000 THEN 1.0 ELSE 0.0 END)
                  + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars)
               END AS quality
        FROM feat)
"""


def quality_features(docs):
    """Append the per-row quality features + score as COLUMNS on ``docs`` —
    a pure projection, no join or shuffle (the corpus pipeline's quality
    gate is a filter on this, not a join against a score table).  THE
    shared definition of the quality heuristic: stopword ratio + length
    band + punctuation density, weights mirroring common pretraining-data
    filters; all per-row integer/double arithmetic (deterministic)."""
    # The computed feature columns REPLACE any same-named input columns
    # (documents.parquet ships its own n_chars) — keeping both would make
    # the references ambiguous downstream.
    feature_names = {"n_chars", "n_tokens", "n_punct", "n_stopwords", "quality"}
    keep = [c for c in docs.columns if c not in feature_names]
    # Materialize the token array once: inlining the split expression into
    # every consumer re-executes the tokenization per column (Catalyst does
    # not CSE across projection items) — measured ~30% of query time here.
    base = docs.select(*keep, tokens("text").alias("__toks"))
    toks = F.col("__toks")
    n_chars = F.length("text").cast("int")
    n_tokens = F.size(toks)
    n_punct = (
        F.length("text") - F.length(F.regexp_replace("text", "[.!?,;:]", ""))
    ).cast("int")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    feat = base.select(
        "*",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
    ).drop("__toks")
    quality = (
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(
            0.5 * (F.col("n_stopwords").cast("double") / F.col("n_tokens"))
            + 0.3
            * F.when(F.col("n_chars").between(100, 10000), F.lit(1.0)).otherwise(0.0)
            + 0.2 * (F.lit(1.0) - F.col("n_punct").cast("double") / F.col("n_chars"))
        )
        .alias("quality")
    )
    return feat.select("*", quality)


def text_quality_score(spark, sf_dir, sort: bool = True):
    """Heuristic document quality per row — see ``quality_features`` for
    the shared definition.  Registry-merged into ``text_quality_lang``
    (the quality + language-ID tagged union) in round 10."""
    from ..sources.tables import fanout_for_compute

    d = load_table(spark, sf_dir, "documents")
    # single-row-group inputs otherwise tokenize+score on one core
    # (see fanout_for_compute; no-op at scale)
    d = fanout_for_compute(d.select("doc_id", "text"), "doc_id")
    out = quality_features(d).select(
        "doc_id", "n_chars", "n_tokens", "n_punct", "n_stopwords", "quality"
    )
    return out.orderBy("doc_id") if sort else out


def _lang_score_sql(langs=LANG_ORDER):
    cols = []
    for lg in langs:
        words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lg])
        cols.append(
            f"CAST(len(list_filter({_SQL_TOKENS}, t -> t IN ({words}))) AS INTEGER) AS s_{lg}"
        )
    return ",\n               ".join(cols)


def _lang_argmax_sql(langs=LANG_ORDER) -> str:
    """Fixed-priority argmax CASE chain over the s_<lang> columns —
    generated from LANG_ORDER so the Spark chain cannot drift from it."""
    whens = []
    for i, lg in enumerate(langs[:-1]):
        conds = " AND ".join(f"s_{lg} >= s_{o}" for o in langs[i + 1:])
        whens.append(f"WHEN {conds} THEN '{lg}'")
    body = "\n             ".join(whens)
    return f"CASE\n             {body}\n             ELSE '{langs[-1]}' END"


# margin = top1 − top2 profile-hit count: the abstain signal (a margin of
# 0 means the argmax was decided purely by the tie-break priority; a
# caller wanting an 'und' class thresholds on it)
_LANG_MARGIN_SQL = (
    "list_sort(["
    + ", ".join(f"s_{lg}" for lg in LANG_ORDER)
    + "], 'DESC')"
)

_LANG_ID_SQL = f"""
    WITH scores AS (
        SELECT doc_id, lang,
               {_lang_score_sql()}
        FROM documents)
    SELECT doc_id, lang,
           {_lang_argmax_sql()} AS predicted,
           CAST({_LANG_MARGIN_SQL}[1] - {_LANG_MARGIN_SQL}[2] AS INTEGER)
             AS margin,
           CAST({_LANG_MARGIN_SQL}[1] AS INTEGER) AS top1
    FROM scores
"""

# thresholds the op='abstain' oracle branch pins — a prediction survives
# only with >= ABSTAIN_MIN_TOP1 profile hits AND a top1−top2 margin of
# >= ABSTAIN_MIN_MARGIN; everything else becomes 'und'
ABSTAIN_MIN_MARGIN = 1
ABSTAIN_MIN_TOP1 = 2

_LANG_ACC_SQL = f"""
    SELECT lang, predicted,
           COUNT(*) AS n,
           SUM(CAST(margin AS BIGINT)) AS sum_margin,
           CAST(SUM(CASE WHEN lang = predicted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct
    FROM ({_LANG_ID_SQL})
    GROUP BY lang, predicted
"""


# op='norm' configuration (the text_quality_lang branch pinning
# :func:`normalize_text`): every (doc_id % 13 == 6) document gets a
# byte-identical mess planted around its real text — CRLF/bare-CR line
# endings, tab runs, multi-space, mixed case, ZWSP, BEL, the C1 NEL, a
# BOM, trailing blank lines — then the REAL normalizer runs and the
# normalized text's md5 + length land in the hash.  The oracle replays
# the same fixed-order regexp chain; only the control/zero-width class
# needs an RE2 twin (Java's \\uXXXX spelled \\x{{XXXX}} — same code
# points, the equivalence pinned by the driver hash like the CJK
# ranges).  NFC stays out (the documented Arrow-batch exception; the
# plant is pure ASCII + stripped code points, so the branch is
# normalization-complete without it).
_NORM_MOD, _NORM_REM = 13, 6
_NORM_PREFIX = "  MiXed\tCaSe "
_NORM_SUFFIX = "\r\nSecond LINE\r third\u200b\x07\x85\ufeffX  \n\n  "

# RE2 twin of the Java class inside normalize_text step 1
_CTRL_RE2 = (
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F"
    "\\x{0080}-\\x{009F}\\x{200B}-\\x{200D}\\x{FEFF}]"
)


def _sql_str(s: str) -> str:
    """Render a Python string as a DuckDB expression, spelling every
    non-printable / non-ASCII character as chr(n) so the planted bytes
    are identical in both engines."""
    parts, lit = [], ""
    for ch in s:
        if 32 <= ord(ch) < 127 and ch != "'":
            lit += ch
        else:
            if lit:
                parts.append(f"'{lit}'")
                lit = ""
            parts.append(f"chr({ord(ch)})")
    if lit:
        parts.append(f"'{lit}'")
    return " || ".join(parts) if parts else "''"


def _norm_sql() -> str:
    messy = f"{_sql_str(_NORM_PREFIX)} || text || {_sql_str(_NORM_SUFFIX)}"
    x = f"regexp_replace({messy}, '{_CTRL_RE2}', '', 'g')"
    x = f"regexp_replace({x}, '\\r\\n?', chr(10), 'g')"
    x = f"regexp_replace({x}, '[ \\t]+', ' ', 'g')"
    x = f"regexp_replace({x}, ' ?\\n ?', chr(10), 'g')"
    x = f"regexp_replace(trim({x}), '^\\n+|\\n+$', '', 'g')"
    return f"""
    SELECT doc_id, md5(lower({x})) AS norm_md5,
           CAST(length(lower({x})) AS INTEGER) AS n_norm
    FROM documents WHERE doc_id % {_NORM_MOD} = {_NORM_REM}
"""


# op='c4' configuration: the synthetic corpus is single-line without
# terminal punctuation (c4 over raw docs is vacuous — drops everything),
# so the slot PLANTS a five-line page per selected doc: three lines built
# from the real text with terminal tails (kept when the text is
# non-empty), one nav stub (dropped: short, no terminal), one blocklisted
# line (dropped).  The oracle re-implements the RULES generally in SQL —
# terminal membership, whitespace word count, blocklist scan, the
# min-doc-lines cut — not a shortcut over the planted shape.
_C4_MOD, _C4_REM = 3, 1
_C4_LINES = (
    "{t} tail one.",
    "Home",
    "Cookie policy applies to lorem ipsum here.",
    "{t} tail two!",
    "{t} tail three?",
)


def _c4_sql() -> str:
    # selection is a leaf module: this oracle renders while text itself is
    # being imported, so it must not pull in a module that imports text
    from .selection import (
        C4_BLOCKLIST,
        C4_MIN_DOC_LINES,
        C4_MIN_LINE_WORDS,
        C4_TERMINALS,
    )

    built = " || chr(10) || ".join(
        ("COALESCE(text, '') || " + _sql_str(ln[3:]))
        if ln.startswith("{t}")
        else _sql_str(ln)
        for ln in _C4_LINES
    )
    terms = ", ".join(
        "'" + t.replace("'", "''") + "'" for t in C4_TERMINALS
    )
    block = " AND ".join(
        f"NOT contains(lower(ln), {_sql_str(p.lower())})"
        for p in C4_BLOCKLIST
    )
    keep = (
        f"ln -> right(ln, 1) IN ({terms}) "
        f"AND len(list_filter(string_split_regex(ln, '[ \\t\\n\\x0B\\f\\r]+'),"
        f" w -> w <> '')) >= {C4_MIN_LINE_WORDS} "
        f"AND {block}"
    )
    return f"""
    SELECT doc_id, md5(array_to_string(kept, chr(10))) AS c4_md5,
           CAST(len(kept) AS INTEGER) AS n_kept,
           CAST(total - len(kept) AS INTEGER) AS n_dropped
    FROM (
      SELECT doc_id, list_filter(lns, {keep}) AS kept, len(lns) AS total
      FROM (
        SELECT doc_id,
               list_transform(string_split({built}, chr(10)),
                              ln -> trim(ln)) AS lns
        FROM documents WHERE doc_id % {_C4_MOD} = {_C4_REM}))
    WHERE len(kept) >= {C4_MIN_DOC_LINES}
"""


def _lang_scored(spark, sf_dir):
    """(doc_id, lang, s_<lang>... , predicted, margin): the shared scoring
    projection — tokenize ONCE into a materialized array column (the
    per-language filters would otherwise each inline and re-execute the
    split — measured ~30% slower), then |LANG_ORDER| JVM higher-order
    filters, a generated fixed-priority CASE argmax, and the top1−top2
    margin from one sorted integer array.  Pure narrow projection — zero
    shuffle at any scale."""
    from ..sources.tables import fanout_for_compute

    d = load_table(spark, sf_dir, "documents")
    # single-row-group inputs otherwise run the 8-profile scoring
    # projection on one core (see fanout_for_compute; no-op at scale)
    src = fanout_for_compute(d.select("doc_id", "lang", "text"), "doc_id")
    base = src.select("doc_id", "lang", tokens("text").alias("toks"))
    toks = F.col("toks")

    def profile_hits(words):
        # factory keeps the lambda unary — a 2-arg lambda would be treated
        # as (element, index) by F.filter
        return lambda t: t.isin(*words)

    scored = base.select(
        "doc_id",
        "lang",
        *[
            F.size(F.filter(toks, profile_hits(LANG_PROFILES[lg]))).alias(f"s_{lg}")
            for lg in LANG_ORDER
        ],
    )
    s = {lg: F.col(f"s_{lg}") for lg in LANG_ORDER}
    predicted = None
    for i, lg in enumerate(LANG_ORDER[:-1]):
        cond = None
        for o in LANG_ORDER[i + 1:]:
            c = s[lg] >= s[o]
            cond = c if cond is None else (cond & c)
        predicted = (
            F.when(cond, lg) if predicted is None else predicted.when(cond, lg)
        )
    predicted = predicted.otherwise(LANG_ORDER[-1]).alias("predicted")
    srt = F.sort_array(F.array(*[s[lg] for lg in LANG_ORDER]), asc=False)
    margin = (
        (F.element_at(srt, 1) - F.element_at(srt, 2))
        .cast("int")
        .alias("margin")
    )
    top1 = F.element_at(srt, 1).cast("int").alias("top1")
    return scored.select("doc_id", "lang", predicted, margin, top1)


def text_lang_id(spark, sf_dir, sort: bool = True):
    """Stopword-profile language ID: count profile hits per language,
    argmax with the fixed LANG_ORDER tie-break priority (both engines run
    the same generated CASE chain).  Registry-merged into
    ``text_quality_lang`` in round 10; round 11 widened the profiles to
    {len(LANG_ORDER)} languages and added the top1−top2 ``margin``
    abstain signal (see ``lang_id_accuracy``)."""
    out = _lang_scored(spark, sf_dir).select("doc_id", "lang", "predicted")
    return out.orderBy("doc_id") if sort else out


def lang_id_with_abstain(
    spark, sf_dir, min_margin: int = 1, min_top1: int = 1
):
    """Language ID with an explicit ``und`` (undetermined) class — the
    production-shaped output: a prediction is kept only when the top
    profile scored at least ``min_top1`` hits AND beat the runner-up by
    at least ``min_margin`` (margin 0 means the argmax was decided
    purely by tie-break priority — noise, not signal).  Everything else
    becomes ``und``, which a crawl pipeline routes to a heavier model
    or drops.  Same zero-shuffle projection as :func:`text_lang_id`
    plus two integer comparisons — no join, no second tokenization."""
    sc = _lang_scored(spark, sf_dir)
    return sc.select(
        "doc_id",
        "lang",
        F.when(
            (F.col("margin") >= min_margin) & (F.col("top1") >= min_top1),
            F.col("predicted"),
        )
        .otherwise(F.lit("und"))
        .alias("predicted"),
        "margin",
        "top1",
    )


def lang_id_accuracy(spark, sf_dir):
    """Confusion matrix of the language-ID heuristic against the
    ground-truth ``lang`` column: one row per (lang, predicted) pair with
    the document count, the summed decision margin (integer-exact — low
    total margin flags pairs decided by tie-break alone), and the correct
    count (diagonal).  Accuracy per class = n_correct / Σn over its rows;
    one map-side-combined aggregate, |langs|² rows max."""
    sc = _lang_scored(spark, sf_dir)
    return sc.groupBy("lang", "predicted").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("margin").cast("bigint")).alias("sum_margin"),
        F.sum((F.col("lang") == F.col("predicted")).cast("bigint")).alias(
            "n_correct"
        ),
    )


def _c4_evidence(spark, sf_dir):
    """op='c4' branch: plant the five-line page per selected doc (see
    ``_C4_LINES``), run the REAL :func:`selection.c4_line_filter`, and pin
    the rebuilt text's md5 plus the kept/dropped line accounting."""
    from ..sources.tables import load_table
    from .selection import c4_line_filter

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _C4_MOD == _C4_REM
    )
    lines = [
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(ln[3:]))
        if ln.startswith("{t}")
        else F.lit(ln)
        for ln in _C4_LINES
    ]
    built = d.select("doc_id", F.concat_ws("\n", *lines).alias("text"))
    return c4_line_filter(built).select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("c4_md5"),
        F.col("n_lines_kept").cast("int").alias("n_kept"),
        F.col("n_lines_dropped").cast("int").alias("n_dropped"),
    )


def _quality_lang_oracle() -> str:
    from .logreg import (
        sql_cal_ctes,
        sql_clf_ctes,
        sql_drift_ctes,
        sql_qsel_ctes,
        sql_serve_ctes,
    )
    from .signals import sql_signal_ctes

    pad_sig = (
        "CAST(NULL AS BIGINT) AS rep_n_grams, "
        "CAST(NULL AS DOUBLE) AS dup_gram_frac, "
        "CAST(NULL AS DOUBLE) AS top_gram_frac, "
        "CAST(NULL AS INTEGER) AS n_words, "
        "CAST(NULL AS DOUBLE) AS mean_word_len, "
        "CAST(NULL AS DOUBLE) AS symbol_word_ratio, "
        "CAST(NULL AS DOUBLE) AS bullet_line_frac, "
        "CAST(NULL AS DOUBLE) AS ellipsis_line_frac, "
        "CAST(NULL AS DOUBLE) AS alpha_word_frac, "
        "CAST(NULL AS INTEGER) AS n_stop_hits, "
        "CAST(NULL AS BOOLEAN) AS passes_gopher"
    )
    pad_clf = (
        "CAST(NULL AS BIGINT) AS bucket, CAST(NULL AS DOUBLE) AS w, "
        "CAST(NULL AS INTEGER) AS n_features, CAST(NULL AS DOUBLE) AS logit, "
        "CAST(NULL AS DOUBLE) AS score, "
        "CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS sum_margin, "
        "CAST(NULL AS BIGINT) AS n_correct"
    )
    from .logreg import CLF_ITERS

    return f"""
    WITH {sql_signal_ctes()},
    {sql_clf_ctes()},
    {sql_cal_ctes()},
    {sql_serve_ctes()},
    {sql_drift_ctes()},
    {sql_qsel_ctes()}
    SELECT * FROM (
    SELECT 'lang' AS op, doc_id, lang, predicted,
           CAST(NULL AS INTEGER) AS n_chars, CAST(NULL AS INTEGER) AS n_tokens,
           CAST(NULL AS INTEGER) AS n_punct, CAST(NULL AS INTEGER) AS n_stopwords,
           CAST(NULL AS DOUBLE) AS quality, {pad_sig}, {pad_clf}
    FROM ({_LANG_ID_SQL})
    UNION ALL
    SELECT 'quality', doc_id, NULL, NULL,
           n_chars, n_tokens, n_punct, n_stopwords, quality, {pad_sig}, {pad_clf}
    FROM (WITH {_sql_quality_cte()}
          SELECT doc_id, n_chars, n_tokens, n_punct, n_stopwords, quality
          FROM qual)
    UNION ALL
    SELECT 'rep', doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           rep_n_grams, dup_gram_frac, top_gram_frac,
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS BOOLEAN), {pad_clf}
    FROM sigrep WHERE doc_id % 7 = 0
    UNION ALL
    SELECT 'gopher', doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
           ellipsis_line_frac, alpha_word_frac, n_stop_hits, passes_gopher,
           {pad_clf}
    FROM siggop WHERE doc_id % 7 = 3
    UNION ALL
    SELECT 'clf_w', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS BOOLEAN),
           bucket, w, CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM cw{CLF_ITERS}
    UNION ALL
    SELECT 'clf_s', doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS BOOLEAN),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           n_features, logit, score, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM cscore
    UNION ALL
    SELECT 'clf_cal', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS BOOLEAN),
           CAST(iter AS BIGINT), a, CAST(NULL AS INTEGER), b,
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM calparams
    UNION ALL
    SELECT 'clf_cals', doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS BOOLEAN),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), logit, score_cal, y,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM calscore
    UNION ALL
    SELECT 'clf_serve', doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS BOOLEAN),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           n_features, logit, score_cal, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM srvscore
    UNION ALL
    SELECT 'clf_drift', epoch, dchk, NULL, NULL, NULL, NULL, NULL, NULL,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS BOOLEAN),
           metric, trail_mean, CAST(NULL AS INTEGER), trail_std, z,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM drflag
    UNION ALL
    SELECT 'clf_qsel', doc_id, source, NULL, NULL, NULL, NULL, NULL, NULL,
           {pad_sig},
           qs, CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM qssel
    UNION ALL
    SELECT 'clf_qth', NULL, source, NULL, NULL, NULL, NULL, NULL, NULL,
           {pad_sig},
           t, CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           n_docs, k, n_sel
    FROM qsdom
    UNION ALL
    SELECT 'langacc', NULL, lang, predicted, NULL, NULL, NULL, NULL, NULL,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS BOOLEAN),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), n, sum_margin, n_correct
    FROM ({_LANG_ACC_SQL})
    UNION ALL
    SELECT 'abstain', doc_id, lang,
           CASE WHEN margin >= {ABSTAIN_MIN_MARGIN}
                 AND top1 >= {ABSTAIN_MIN_TOP1}
                THEN predicted ELSE 'und' END,
           NULL, NULL, NULL, NULL, NULL,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS BOOLEAN),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(top1 AS BIGINT), CAST(margin AS BIGINT), CAST(NULL AS BIGINT)
    FROM ({_LANG_ID_SQL}) WHERE doc_id % 7 = 5
    UNION ALL
    SELECT 'norm', doc_id, norm_md5, CAST(NULL AS VARCHAR),
           n_norm, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), {pad_sig}, {pad_clf}
    FROM ({_norm_sql()})
    UNION ALL
    SELECT 'c4', doc_id, c4_md5, CAST(NULL AS VARCHAR),
           n_kept, n_dropped, CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), {pad_sig}, {pad_clf}
    FROM ({_c4_sql()})
    ) ORDER BY op, COALESCE(doc_id, -1), COALESCE(bucket, -2),
               COALESCE(lang, ''), COALESCE(predicted, '')
    """


@query("text_quality_lang", oracle=_quality_lang_oracle())
def text_quality_lang(spark, sf_dir):
    """The per-document text-scoring family in ONE driver slot (round-10
    tagged-union merge of ``text_quality_score`` + ``text_lang_id``, freeing
    a slot for the bigram-LM perplexity entry).  Both components stay pure
    narrow projections — zero shuffle; see their docstrings.

    Round-10 continuation: the union also carries the signal-bundle
    evidence (`operators/signals.py`) — op='rep' pins every 7th
    document's trigram repetition fractions (the oracle counts raw gram
    strings, equal to the operator's xxhash64-keyed counts barring a
    64-bit collision) and op='gopher' pins the full Gopher feature set +
    pass flag for the doc_id % 7 == 3 slice.

    Round-11 continuation: op='clf_w' / op='clf_s' pin the QUALITY-
    CLASSIFIER FIT (`operators/logreg.py`) — 4 unrolled exact-decimal GD
    iterations over md5-hashed bigram features of the even-id documents,
    labeled y=1 iff ground-truth lang='en'; the oracle re-derives bucket
    hashing, feature normalization, every gradient step, the final
    weight table (clf_w), and the scored training slice (clf_s)
    bit-for-bit (`logreg.sql_clf_ctes`).  op='langacc' pins the language-
    ID confusion matrix against the ground-truth lang column — counts,
    summed decision margins (the abstain signal), and per-pair correct
    counts — under the round-11 widened {len(LANG_ORDER)}-profile set.
    op='abstain' pins ``lang_id_with_abstain`` for the doc_id % 7 == 5
    slice: the production 'und' routing under (min_margin=1, min_top1=2),
    with the branch's ``n``/``sum_margin`` columns carrying top1/margin.
    op='norm' pins :func:`normalize_text` — the pre-hash canonicalizer —
    over planted CRLF/tab/zero-width/control/case mess (see `_NORM_MOD`):
    the normalized text's md5 rides ``lang`` and its length ``n_chars``.

    Round-12 continuation: op='clf_cal' / op='clf_cals' pin the PLATT
    CALIBRATION of the fitted classifier (`logreg.calibrate_classifier`)
    — the slot weights score the disjoint held-out slice
    (doc_id % 4 == 1), then 4 exact-decimal GD steps fit
    p = sigmoid(a·z + b); every per-iteration (a, b) pair and the
    calibrated held-out scores ride the hash, re-derived in SQL
    (`logreg.sql_cal_ctes`).  op='clf_serve' pins the full calibrated
    SERVE path (`classifier_score_calibrated`) over a THIRD disjoint
    slice (doc_id % 8 == 7) — fitted weights + fitted Platt step applied
    to documents neither fit ever saw (`logreg.sql_serve_ctes`).

    Round-13 continuation: op='clf_drift' pins the classifier drift
    monitor (`logreg.drift_rows` — full-corpus calibrated scores,
    planted −0.2 regime every 7th epoch, exact-int trailing z flags);
    op='clf_qsel' / op='clf_qth' pin the per-domain quality PERCENTILE
    selection (`selection.quality_top_fraction` via
    `logreg.quality_select_rows`): keep each source's top 30% by
    calibrated score, exact integer k = n·3 // 10 and quantized-score
    threshold with ties included — selected rows AND the per-source
    (n_docs, k, threshold, n_sel) accounting both ride the hash
    (`logreg.sql_qsel_ctes`).  The full-corpus serve pass is shared:
    drift and selection consume one localCheckpointed frame."""
    from ..functions.union import pad_union
    from ..sources.tables import load_table
    from .curation import repetition_stats
    from .logreg import (
        calibrated_serve_rows,
        calibration_rows,
        classifier_fit_rows,
        classifier_scored_rows,
        drift_rows,
        full_corpus_scored,
        quality_select_rows,
    )
    from .signals import gopher_rules

    d = load_table(spark, sf_dir, "documents")
    rep = repetition_stats(d).filter(F.col("doc_id") % 7 == 0)
    gop = gopher_rules(d).filter(F.col("doc_id") % 7 == 3)
    # fit ONCE; localCheckpoint so the scored + calibration branches reuse
    # the trained weights instead of re-running 4 GD iterations each
    clf_w = classifier_fit_rows(spark, sf_dir).localCheckpoint()
    clf_s = classifier_scored_rows(spark, sf_dir, weights=clf_w)
    cal_params, cal_scored = calibration_rows(spark, sf_dir, weights=clf_w)
    cal_params = cal_params.localCheckpoint()  # serve + drift reuse it
    clf_serve = calibrated_serve_rows(
        spark, sf_dir, weights=clf_w, cal_params=cal_params
    )
    # the full-corpus serve pass runs ONCE; drift + quality selection
    # both consume it
    scored_full = full_corpus_scored(
        spark, sf_dir, weights=clf_w, cal_params=cal_params
    ).localCheckpoint()
    clf_drift = drift_rows(spark, sf_dir, scored=scored_full)
    qsel, qth = quality_select_rows(spark, sf_dir, scored=scored_full)
    schema = [
        ("op", "string"), ("doc_id", "bigint"), ("lang", "string"),
        ("predicted", "string"), ("n_chars", "int"), ("n_tokens", "int"),
        ("n_punct", "int"), ("n_stopwords", "int"), ("quality", "double"),
        ("rep_n_grams", "bigint"), ("dup_gram_frac", "double"),
        ("top_gram_frac", "double"), ("n_words", "int"),
        ("mean_word_len", "double"), ("symbol_word_ratio", "double"),
        ("bullet_line_frac", "double"), ("ellipsis_line_frac", "double"),
        ("alpha_word_frac", "double"), ("n_stop_hits", "int"),
        ("passes_gopher", "boolean"),
        ("bucket", "bigint"), ("w", "double"), ("n_features", "int"),
        ("logit", "double"), ("score", "double"),
        ("n", "bigint"), ("sum_margin", "bigint"), ("n_correct", "bigint"),
    ]
    return pad_union(
        schema,
        (
            text_lang_id(spark, sf_dir, sort=False),
            {
                "op": F.lit("lang"), "doc_id": "doc_id",
                "lang": "lang", "predicted": "predicted",
            },
        ),
        (
            text_quality_score(spark, sf_dir, sort=False),
            {
                "op": F.lit("quality"), "doc_id": "doc_id",
                "n_chars": "n_chars", "n_tokens": "n_tokens",
                "n_punct": "n_punct", "n_stopwords": "n_stopwords",
                "quality": "quality",
            },
        ),
        (
            rep,
            {
                "op": F.lit("rep"), "doc_id": "doc_id",
                "rep_n_grams": "n_grams", "dup_gram_frac": "dup_gram_frac",
                "top_gram_frac": "top_gram_frac",
            },
        ),
        (
            gop,
            {
                "op": F.lit("gopher"), "doc_id": "doc_id",
                "n_words": "n_words", "mean_word_len": "mean_word_len",
                "symbol_word_ratio": "symbol_word_ratio",
                "bullet_line_frac": "bullet_line_frac",
                "ellipsis_line_frac": "ellipsis_line_frac",
                "alpha_word_frac": "alpha_word_frac",
                "n_stop_hits": "n_stop_hits",
                "passes_gopher": "passes_gopher",
            },
        ),
        (
            clf_w,
            {"op": F.lit("clf_w"), "bucket": "bucket", "w": "w"},
        ),
        (
            clf_s,
            {
                "op": F.lit("clf_s"), "doc_id": "doc_id",
                "n_features": "n_features", "logit": "logit",
                "score": "score",
            },
        ),
        (
            cal_params,
            # carriers: bucket = GD iteration, w = a (slope), logit = b
            {
                "op": F.lit("clf_cal"), "bucket": "iter",
                "w": "a", "logit": "b",
            },
        ),
        (
            cal_scored,
            # n carries the held-out label y for the calibrated slice
            {
                "op": F.lit("clf_cals"), "doc_id": "doc_id",
                "logit": "logit", "score": "score_cal", "n": "y",
            },
        ),
        (
            clf_serve,
            {
                "op": F.lit("clf_serve"), "doc_id": "doc_id",
                "n_features": "n_features", "logit": "logit",
                "score": "score_cal",
            },
        ),
        (
            clf_drift,
            # carriers: lang = the drifted series name, doc_id = epoch,
            # bucket = the integer metric, w/logit = trailing mean/std,
            # score = z
            {
                "op": F.lit("clf_drift"), "lang": "check",
                "doc_id": "epoch", "bucket": "metric",
                "w": "trail_mean", "logit": "trail_std", "score": "z",
            },
        ),
        (
            qsel,
            # carriers: lang = source, bucket = the exact quantized score
            {
                "op": F.lit("clf_qsel"), "doc_id": "doc_id",
                "lang": "source", "bucket": "qs",
            },
        ),
        (
            qth,
            # carriers: lang = source, bucket = the integer threshold,
            # n/sum_margin/n_correct = n_docs/k/n_sel
            {
                "op": F.lit("clf_qth"), "lang": "source",
                "bucket": "threshold", "n": "n_docs",
                "sum_margin": "k", "n_correct": "n_sel",
            },
        ),
        (
            lang_id_accuracy(spark, sf_dir),
            {
                "op": F.lit("langacc"), "lang": "lang",
                "predicted": "predicted", "n": "n",
                "sum_margin": "sum_margin", "n_correct": "n_correct",
            },
        ),
        (
            lang_id_with_abstain(
                spark, sf_dir,
                min_margin=ABSTAIN_MIN_MARGIN, min_top1=ABSTAIN_MIN_TOP1,
            ).filter(F.col("doc_id") % 7 == 5),
            # n / sum_margin carry top1 / margin for this branch (the
            # union schema has no dedicated columns; pad_union casts)
            {
                "op": F.lit("abstain"), "doc_id": "doc_id",
                "lang": "lang", "predicted": "predicted",
                "n": "top1", "sum_margin": "margin",
            },
        ),
        (
            normalize_text(
                load_table(spark, sf_dir, "documents")
                .filter(F.col("doc_id") % _NORM_MOD == _NORM_REM)
                .select(
                    "doc_id",
                    F.concat(
                        F.lit(_NORM_PREFIX), F.col("text"),
                        F.lit(_NORM_SUFFIX),
                    ).alias("text"),
                )
            ).select(
                "doc_id",
                F.md5(F.col("text").cast("binary")).alias("norm_md5"),
                F.length("text").cast("int").alias("n_norm"),
            ),
            # lang carries the normalized-text md5, n_chars its length
            {
                "op": F.lit("norm"), "doc_id": "doc_id",
                "lang": "norm_md5", "n_chars": "n_norm",
            },
        ),
        (
            _c4_evidence(spark, sf_dir),
            # lang carries the rebuilt text's md5; n_chars/n_tokens the
            # kept/dropped line counts
            {
                "op": F.lit("c4"), "doc_id": "doc_id",
                "lang": "c4_md5", "n_chars": "n_kept",
                "n_tokens": "n_dropped",
            },
        ),
    ).orderBy(
        "op",
        F.coalesce("doc_id", F.lit(-1)),
        F.coalesce("bucket", F.lit(-2)),
        F.coalesce("lang", F.lit("")),
        F.coalesce("predicted", F.lit("")),
    )


# Rolling-hash parameters.  Horner evaluation reduces mod ROLL_P at every
# step, so the largest intermediate is (ROLL_P-1)*ROLL_B + (2^32-1) ≈ 4.3e15
# — exact in int64 on both engines (no overflow, no float).  ROLL_P is the
# same >2^32 prime the MinHash affine family uses.
ROLL_W = 4  # tokens per rolling window
ROLL_B = 1000003  # polynomial base (prime)
ROLL_P = 4294967311  # modulus (smallest prime above 2^32)

_SQL_ROLL_H = "CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)"


def _rolling_oracle() -> str:
    lead = [
        f"LEAD(h, {k}) OVER (PARTITION BY doc_id ORDER BY ord) AS h{k}"
        for k in range(1, ROLL_W)
    ]
    acc = "h"
    for k in range(1, ROLL_W):
        acc = f"(({acc}) * {ROLL_B} + h{k}) % {ROLL_P}"
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
        FROM (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents)),
    hashed AS (
        SELECT doc_id, ord, {_SQL_ROLL_H} AS h FROM tok),
    led AS (
        SELECT doc_id, h, {", ".join(lead)} FROM hashed),
    windows AS (
        SELECT doc_id, {acc} AS rh FROM led
        WHERE h{ROLL_W - 1} IS NOT NULL),
    sketch AS (
        SELECT doc_id, MIN(rh) AS rolling_min, COUNT(*) AS n_windows
        FROM windows GROUP BY doc_id)
    SELECT d.doc_id,
           md5(LOWER(TRIM(d.text))) AS fingerprint,
           s.rolling_min,
           COALESCE(s.n_windows, 0) AS n_windows
    FROM documents d LEFT JOIN sketch s ON s.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


def text_fingerprint(spark, sf_dir, sort: bool = True):
    """Document fingerprinting, both granularities in one pass:

    - ``fingerprint``: md5 of the lowercased trimmed body — the exact-dedup
      join key (shuffle 16 bytes, not multi-KB documents).
    - ``rolling_min`` / ``n_windows``: a polynomial rolling hash over every
      {w}-token window (Rabin-Karp: Horner with per-step ``mod {p}``), then
      the per-doc MIN — the min-sampling half of the winnowing scheme
      (Schleimer/Wilkerson/Aiken, SIGMOD'03).  Two docs sharing any
      {w}-token run are *candidates* whenever their min windows coincide;
      at 100 TB you group on ``rolling_min`` buckets exactly like an LSH
      band — this is also the primitive behind content-defined chunking.

    All arithmetic is int64-exact (largest intermediate ≈ 4.3e15), so the
    DuckDB oracle reproduces every hash bit-for-bit.  Plan: one window
    shuffle on doc_id (token order), one groupBy, one key join — each
    partitions cleanly by document at any scale."""
    from pyspark.sql.window import Window as W

    from ..sources.tables import fanout_for_compute

    d = load_table(spark, sf_dir, "documents")
    # single-row-group inputs otherwise tokenize+hash on one core; the
    # doc_id partitioning is reused by the rolling window's distribution
    # (no-op at scale — see fanout_for_compute)
    d = fanout_for_compute(d.select("doc_id", "text"), "doc_id")
    tok = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    h = hex_long(F.md5(F.col("tok").cast("binary")))
    w = W.partitionBy("doc_id").orderBy("pos")
    led = tok.select(
        "doc_id",
        h.alias("h"),
        *[F.lead(h, k).over(w).alias(f"h{k}") for k in range(1, ROLL_W)],
    )
    acc = F.col("h")
    for k in range(1, ROLL_W):
        acc = (acc * ROLL_B + F.col(f"h{k}")) % ROLL_P
    sketch = (
        led.filter(F.col(f"h{ROLL_W - 1}").isNotNull())
        .select("doc_id", acc.alias("rh"))
        .groupBy("doc_id")
        .agg(
            F.min("rh").alias("rolling_min"),
            F.count(F.lit(1)).alias("n_windows"),
        )
    )
    base = d.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("fingerprint"),
    )
    out = base.join(sketch, "doc_id", "left").select(
        "doc_id",
        "fingerprint",
        "rolling_min",
        F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
    )
    return out.orderBy("doc_id") if sort else out


# NOTE: registered as slot "text_token_count" at the BOTTOM of this module
# (the merged oracle needs the CJK constants defined below).
def text_doc_profile(spark, sf_dir):
    """The per-document text profile in ONE driver slot (round-9 join of
    the former ``text_token_count`` and ``text_fingerprint`` slots — both
    emit exactly one row per doc, so the merge is a doc_id equi-join, not
    a tagged union): whitespace/subword token counts, chars, the md5
    exact-dedup fingerprint, and the Rabin-Karp winnowing sketch.
    Component docstrings carry the algorithms; all cores stay
    independently importable.

    Round 17 joins in the former ``text_cjk_tokens`` slot (also exactly
    one row per doc — its script-aware count rides as ``cjk_n_tokens``),
    ceding its registry slot to the packing-family split that localizes
    the driver hash divergence (VERDICT r16 #1); the CJK evidence —
    char-fallback token counts over injected BMP/ext-B/Thai samples —
    lands in this slot's hash unchanged."""
    return (
        text_token_count(spark, sf_dir, sort=False)
        .join(text_fingerprint(spark, sf_dir, sort=False), "doc_id")
        .join(
            text_cjk_tokens(spark, sf_dir).withColumnRenamed(
                "n_tokens", "cjk_n_tokens"
            ),
            "doc_id",
        )
        .orderBy("doc_id")
    )


def tfidf_top_terms(d, k: int = 5):
    """Per-document top-k terms by smoothed TF-IDF — the standard corpus
    relevance statistic the text family was missing (term weighting for
    near-dup shingle pruning, quality filtering, topic sampling).

    ``score(t, d) = tf(t, d) × (ln((N + 1)/(df(t) + 1)) + 1)`` — the
    smooth-idf form that never divides by zero and keeps corpus-wide terms
    at weight ≥ tf.

    Scale shape: one explode + (doc, term) count (map-side combined), one
    term-level df aggregate joined back on term (term vocabulary ≪ token
    stream), the corpus size N broadcast as a 1-row cross join (stays
    declarative — no driver action), and a rank-filtered window for top-k
    so only k rows per doc survive the final sort.  All built-in
    expressions; no Python row path.

    Returns (doc_id, term, tf, score, rank) with rank ≤ k, ordered by
    (doc_id, rank); ties inside a doc break on (score desc, term) so the
    result is deterministic."""
    from pyspark.sql.window import Window as W

    toks = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * (
                F.log(
                    (F.col("n_docs") + F.lit(1.0))
                    / (F.col("df") + F.lit(1.0))
                )
                + F.lit(1.0)
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score", "rank")
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# Learned quality classifier (hashed-ngram linear scorer)
# ---------------------------------------------------------------------------
#
# The standard step between heuristic quality rules (quality_features) and
# LLM-based filtering: a fastText-style linear model over hashed word
# n-grams (public recipe: Joulin et al. 2016, "Bag of Tricks for Efficient
# Text Classification"; CCNet/LLaMA filter web text exactly this way).
# Training happens offline wherever you like — what the ENGINE needs is the
# scoring pass, and that is pure built-ins here: xxhash64 feature hashing,
# a broadcast weight table, one map-side-combined per-doc sum, a sigmoid.


def hashed_ngram_terms(
    d: DataFrame,
    n_buckets: int = 1 << 18,
    max_ngram: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One row per {1..max_ngram}-gram OCCURRENCE, hashed to a feature
    bucket: ``(id, bucket)``.  Lowercased, whitespace-tokenized, xxhash64 →
    pmod n_buckets — the classic hashing trick: fixed feature space, no
    vocabulary to build, ship, or keep consistent across a 100-TB corpus.

    ``hash_fn='md5'`` (:func:`text_keys.hex_long` of the gram's md5)
    exists solely so the classifier-training oracle can re-derive bucket
    assignment bit-for-bit in DuckDB; production stays on the native
    xxhash64 (bit-identical to every earlier round).

    Grams come from :func:`text_keys.word_grams` (plain expressions,
    whole-stage codegen), one exploded scan PER gram length, unioned.
    Measured against the tempting single-scan alternative
    (:func:`text_keys.gram_array`, one pass but a nested interpreted
    lambda): at 50 000 docs the max_ngram codegen'd scans take 1.9 s vs
    70 s for the one lambda-interpreted scan — per-element interpreter overhead dwarfs a
    second columnar read, so "fewer scans" loses by 37×.  Occurrences are
    NOT deduped because the scorer averages over all of them (fastText
    semantics)."""
    from functools import reduce

    words = tokens(F.lower(F.col(text_col)))
    grams = [word_grams(d, words, n, id_col) for n in range(1, max_ngram + 1)]
    allg = reduce(lambda a, b: a.unionByName(b), grams)
    if hash_fn == "xxhash64":
        h = F.xxhash64("gram")
    elif hash_fn == "md5":
        h = hex_long(F.md5(F.col("gram").cast("binary")))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return allg.select(id_col, F.pmod(h, F.lit(n_buckets)).alias("bucket"))


def hashed_ngram_features(
    d: DataFrame,
    n_buckets: int = 1 << 18,
    max_ngram: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document hashed-feature counts ``(id, bucket, cnt)`` — the
    training-side representation (export these, fit the linear model
    offline, bring the weights back to ``classifier_score``).  One explode
    + one map-side-combined count; shuffles (id, bucket, cnt) longs only."""
    return (
        hashed_ngram_terms(d, n_buckets, max_ngram, id_col, text_col, hash_fn)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def classifier_score(
    d: DataFrame,
    weights,
    bias: float = 0.0,
    n_buckets: int = 1 << 18,
    max_ngram: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document with a linear hashed-ngram model:

        logit(doc) = bias + mean over feature occurrences of w[bucket]
        score(doc) = sigmoid(logit)          -- P(quality) in [0, 1]

    ``weights`` is a ``{bucket: weight}`` dict or a ``(bucket, w)``
    DataFrame; unlisted buckets weigh 0 (left join + coalesce), so a sparse
    model — the usual case after L1 training — ships only its non-zeros.

    Scale shape: the weight table BROADCASTS (even 2^20 non-zeros is ~8 MB)
    so the occurrence stream never shuffles on bucket; the only exchange is
    the per-doc aggregate, map-side combined to one row per document.
    Documents with zero features (empty text) score sigmoid(bias) via the
    left join from ``d``.  No Python row path (plan-asserted in tests)."""
    spark = d.sparkSession
    if isinstance(weights, dict):
        import pandas as pd

        weights = spark.createDataFrame(
            pd.DataFrame(
                sorted(weights.items()), columns=["bucket", "w"]
            ),
            "bucket long, w double",
        )
    terms = hashed_ngram_terms(d, n_buckets, max_ngram, id_col, text_col)
    per_doc = (
        terms.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.coalesce(F.col("w"), F.lit(0.0))).alias("__wsum"),
            F.count(F.lit(1)).alias("n_features"),
        )
    )
    logit = F.lit(float(bias)) + F.coalesce(
        F.col("__wsum") / F.col("n_features"), F.lit(0.0)
    )
    return (
        d.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
            logit.alias("logit"),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("score"),
        )
    )


def normalize_text(
    d,
    text_col: str = "text",
    lowercase: bool = True,
    nfc: bool = False,
    collapse_whitespace: bool = True,
    strip_control: bool = True,
) -> DataFrame:
    """Canonical text normalization BEFORE any hashing stage (exact dedup,
    shingles, k-gram postings, line hashing): byte-wise-distinct renderings
    of the same text — CRLF vs LF, tab runs, zero-width junk, case, NFD vs
    NFC accents — must collapse to one form, or every downstream digest
    treats them as different documents and dedup recall silently drops.

    Steps, in fixed order, replacing ``text_col`` in place:

    1. ``strip_control``: drop C0/C1 control characters (except newline,
       carriage return — step 2 owns line endings — and tab) and zero-width
       code points (ZWSP/ZWNJ/ZWJ/BOM) — one codegen'd ``regexp_replace``.
    2. ``collapse_whitespace``: CRLF/CR → LF, runs of spaces/tabs → one
       space, trim each line's edges AND the document's leading/trailing
       newlines ('abc' and 'abc\\n' must digest identically — ``F.trim``
       alone strips only spaces) — codegen'd ``regexp_replace`` chain
       (no split/rejoin, so the pass stays allocation-light).
    3. ``lowercase``: ``F.lower``.
    4. ``nfc`` (opt-in): Unicode NFC composition.  Spark SQL has no
       normalization builtin, so this one step is an Arrow-batched
       ``mapInPandas`` over vectorized ``pandas .str.normalize("NFC")`` —
       the documented exception to the codegen-only rule here; leave it
       off when inputs are known-composed (most crawls after WARC
       extraction are).

    Narrow transformation(s) only — no shuffle in any configuration; at
    100 TB this runs at scan speed fused into whatever stage follows."""
    c = F.col(text_col)
    if strip_control:
        c = F.regexp_replace(
            c,
            "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\u0080-\\u009F\\u200B-\\u200D\\uFEFF]",
            "",
        )
    if collapse_whitespace:
        c = F.regexp_replace(c, "\\r\\n?", "\n")
        c = F.regexp_replace(c, "[ \\t]+", " ")
        c = F.regexp_replace(c, " ?\\n ?", "\n")
        c = F.regexp_replace(F.trim(c), "^\\n+|\\n+$", "")
    if lowercase:
        c = F.lower(c)
    out = d.withColumn(text_col, c)
    if nfc:
        schema = out.schema

        def _nfc(batches):
            for pdf in batches:
                pdf[text_col] = pdf[text_col].str.normalize("NFC")
                yield pdf

        out = out.mapInPandas(_nfc, schema)
    return out


def bm25_topk(
    d: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 lexical retrieval: top-``k`` documents for a query string
    — the sparse-retrieval complement of the ANN entry points (hybrid
    pipelines run both and fuse).  Standard formula:

        score(D,Q) = Σ_t idf(t) · tf / (tf + k1·(1 − b + b·dl/avgdl))
        idf(t)     = ln(1 + (N − df + 0.5) / (df + 0.5))

    Scale shape — everything prunes on the QUERY terms before anything
    aggregates: the token explode filters to query terms immediately (the
    per-(doc, term) tf shuffle carries only matching postings, not the
    vocabulary), document length is a narrow ``size(split(...))``
    expression, corpus stats (N, avgdl) are a 1-row broadcast, per-term
    document frequencies are a |Q|-row broadcast, and the final top-k is
    a distributed TakeOrdered — never a global sort.  At 100 TB serve
    repeated queries from a persisted postings index instead; this is the
    scan-time form whose plan that index would replay."""
    terms = sorted({t for t in query.strip().lower().split() if t})
    if not terms:
        raise ValueError("empty query")
    # tokens carries the empty-text guard (a bare split('') yields [''],
    # which would count phantom 1-token docs into avgdl)
    from ..sources.tables import fanout_for_compute

    toks = tokens(F.lower(F.col(text_col)))
    # single-row-group inputs otherwise tokenize on one core — twice
    # (posting explode AND the avgdl stats scan); the fanned projection
    # feeds both (no-op at scale — see fanout_for_compute)
    src = fanout_for_compute(d.select(id_col, text_col), id_col)
    base = src.select(id_col, F.size(toks).alias("__dl"), F.explode(toks).alias("__t"))
    tf = (
        base.filter(F.col("__t").isin(terms))
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).alias("__tf"), F.first("__dl").alias("__dl"))
    )
    stats = src.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg(F.size(toks)).alias("__avgdl"),
    )
    dfreq = tf.groupBy("__t").agg(F.countDistinct(id_col).alias("__df"))
    return bm25_score_topk(tf, dfreq, stats, terms, k, k1, b, id_col)


def bm25_score_topk(tf, dfreq, stats, terms, k, k1, b, id_col="doc_id"):
    """The SHARED BM25 scoring tail — one definition for the scan-time
    form above and the persisted-index probe (``text_index.
    bm25_topk_indexed``), so their bit-exact parity is structural, not
    merely test-enforced.  Contracts: ``tf`` carries (id, __t, __tf,
    __dl); ``dfreq`` (__t, __df); ``stats`` one row (__n, __avgdl);
    ``terms`` sorted.

    Per-doc score: one conditional aggregate per query term, added in
    FIXED (sorted-term) order — not an unordered float SUM.  Each term
    has exactly one (doc, term) row, so every per-term aggregate is a
    single element and the final score is bit-deterministic across
    engines and runs (a reassociating float sum is not); cost is |Q|
    aggregate columns over the same single shuffle."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    denom = F.col("__tf") + k1 * (
        1.0 - b + b * F.col("__dl") / F.col("__avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "__t")
        .crossJoin(F.broadcast(stats))
        .select(id_col, "__t", (idf * F.col("__tf") / denom).alias("__s"))
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.when(F.col("__t") == t, F.col("__s"))).alias(f"__s{i}")
                for i, t in enumerate(terms)
            ]
        )
    )
    score = F.coalesce(F.col("__s0"), F.lit(0.0))
    for i in range(1, len(terms)):
        score = score + F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
    return (
        scored.select(id_col, score.alias("bm25"))
        .orderBy(F.desc("bm25"), id_col)
        .limit(k)
    )


def rrf_fuse(ranked: list, k: int = 60, id_col: str = "doc_id", topk: int | None = None):
    """Reciprocal-rank fusion of N ranked result lists (the standard
    score-free hybrid-retrieval combiner — e.g. BM25 ∪ ANN cosine):
    ``score(d) = Σ_lists 1 / (k + rank_d)`` with ranks 1-based in each
    list's OWN ordering; documents absent from a list simply contribute
    nothing.  Score-free on purpose: BM25 and cosine live on incomparable
    scales, ranks always fuse.

    Each input is a DataFrame whose row order is its ranking (the shape
    ``bm25_topk``/ANN entry points return).  Candidate lists are top-k
    sized — tiny; ranks attach via a single-partition window per list,
    bounded by that k, then one union + aggregate.  Returns (id, rrf)
    descending, ``topk``-limited if given."""
    from pyspark.sql.window import Window as W

    if not ranked:
        raise ValueError("no result lists to fuse")
    scored = []
    for df in ranked:
        w = W.orderBy(F.monotonically_increasing_id())
        scored.append(
            df.select(id_col)
            .withColumn("__r", F.row_number().over(w))
            .select(id_col, (1.0 / (F.lit(k) + F.col("__r"))).alias("__s"))
        )
    out = scored[0]
    for s in scored[1:]:
        out = out.unionByName(s)
    fused = (
        out.groupBy(id_col)
        .agg(F.sum("__s").alias("rrf"))
        .orderBy(F.desc("rrf"), id_col)
    )
    return fused.limit(topk) if topk is not None else fused


_BM25_TERMS = ("join", "spark", "window")  # sorted — mirrors bm25_topk's order


@query(
    "text_bm25",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN LENGTH(TRIM(text)) = 0 THEN []
                  ELSE string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') END AS w
      FROM documents),
    base AS (SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM toks),
    tf AS (
      SELECT doc_id, t, COUNT(*) AS tf, MAX(dl) AS dl
      FROM base WHERE t IN ('join', 'spark', 'window')
      GROUP BY doc_id, t),
    stats AS (SELECT COUNT(*) AS n, AVG(len(w)) AS avgdl FROM toks),
    dfq AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY t),
    s AS (
      SELECT tf.doc_id, tf.t,
             ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) * tf.tf
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS sc
      FROM tf JOIN dfq ON dfq.t = tf.t, stats)
    SELECT doc_id, round(
           COALESCE(MAX(CASE WHEN t = 'join'   THEN sc END), 0)
         + COALESCE(MAX(CASE WHEN t = 'spark'  THEN sc END), 0)
         + COALESCE(MAX(CASE WHEN t = 'window' THEN sc END), 0), 9) AS bm25
    FROM s GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def text_bm25(spark, sf_dir):
    """Driver slot for :func:`bm25_topk` (round-7 Okapi BM25 lexical
    retrieval): top-20 documents for the fixed query ``"spark join
    window"``.  Hash-exact across engines because every reduction in the
    score is order-free (integer tf/df/dl counts, an exact integer-sum
    avgdl) and the final per-doc score adds its per-term components in
    fixed sorted order on both sides.  The one exception is ``ln``: JVM
    ``Math.log`` and DuckDB's libm disagree by 1 ULP on some inputs
    (measured: idf('join') differs in the 17th digit at sf0.01), so the
    REPORTED score is rounded to 9 dp on both sides — score gaps at the
    top-20 cut are ~3e-4, nine orders above the discrepancy, so the cut
    and the rounded values are stable."""
    d = load_table(spark, sf_dir, "documents")
    return bm25_topk(d, " ".join(_BM25_TERMS), k=20).select(
        "doc_id", F.round("bm25", 9).alias("bm25")
    )


# ---------------------------------------------------------------------------
# CJK / multilingual tokenization fallback (round 8)
# ---------------------------------------------------------------------------

# BMP ranges: CJK unified (+ext A), Hiragana, Katakana, Hangul syllables.
CJK_RANGES = "一-鿿㐀-䶿぀-ゟ゠-ヿ가-힯"
# Supplementary-plane CJK (round 9): ext B..ext F (U+20000-U+2FFFF, which
# also covers compat supplement) and ext G (U+30000-U+3134F).  \x{...}
# syntax parses identically in Java regex (Spark) and RE2 (DuckDB), and
# both engines count a supplementary char as ONE character in length() —
# so the char-fallback arithmetic stays cross-engine exact.
CJK_SUPP_RANGES = r"\x{20000}-\x{2FFFF}\x{30000}-\x{3134F}"
_CJK_CLASS = f"[{CJK_RANGES}{CJK_SUPP_RANGES}]"

# Southeast-Asian scriptio-continua scripts (no word spaces, but UNLIKE
# CJK a per-CHARACTER split is wrong — orthographic syllables span
# several codepoints with combining vowels/tone marks, so char-splitting
# would shred them).  Policy: DETECTED AND FLAGGED, never split — the
# honest fallback until a real segmenter (ICU/newmm-style) is deployed;
# ``script_token_stats`` exposes the flag so pipelines can route these
# docs away from the whitespace-token operators instead of silently
# treating each line as one token.
SEA_RANGES = "฀-๿຀-໿က-႟ក-៿"
_SEA_CLASS = f"[{SEA_RANGES}]"


def pretokenize_cjk(d: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-fallback pre-tokenization for scripts without whitespace:
    every CJK codepoint becomes its own whitespace-delimited token (the
    standard character-segmentation fallback when no language-specific
    segmenter is deployed), so EVERY downstream whitespace-based operator
    — ``shingles_df`` n-gram dedup, ``kgram_postings`` span dedup, BPE
    pre-tokenization, ``ws_token_count``-style stats, token packing —
    works on CJK text unchanged.  Without this, a CJK document degenerates
    to one "token" per line: shingling yields nothing, MinHash can't see
    near-duplicates, and BPE learns line-sized "words".

    Narrow codegen'd projection (one regexp_replace), zero shuffles —
    compose it in front of the dedup/BPE chain for multilingual corpora.
    Latin/space-delimited text passes through with token boundaries
    unchanged (only spacing widths differ, which ``\\s+`` splitting
    absorbs)."""
    spaced = F.regexp_replace(F.col(text_col), f"({_CJK_CLASS})", " $1 ")
    return d.withColumn(text_col, spaced)


def script_token_stats(d: DataFrame, text_col: str = "text"):
    """Script-aware token statistics as appended columns: ``n_cjk_chars``,
    ``cjk_ratio`` (of non-whitespace chars), ``is_cjk`` (ratio >= 0.3),
    and a script-aware ``n_tokens`` = whitespace tokens of the non-CJK
    remainder + one token per CJK char — the count a char-fallback
    tokenizer would produce, correct for pure-CJK (BMP AND supplementary
    planes, ext B+), mixed, and Latin text alike.

    Round 9 adds the Thai-family columns ``n_sea_chars`` / ``sea_ratio``
    / ``is_sea`` (Thai, Lao, Myanmar, Khmer — scriptio continua where a
    char split would shred orthographic syllables): these docs are
    DETECTED AND FLAGGED, never char-split, so their ``n_tokens`` stays
    whitespace-based — an explicit under-count that routes them to a real
    segmenter rather than silently producing garbage shingles.  All
    per-row integer arithmetic (deterministic, order-free)."""
    t = F.col(text_col)
    n_cjk = F.length(t) - F.length(F.regexp_replace(t, _CJK_CLASS, ""))
    n_sea = F.length(t) - F.length(F.regexp_replace(t, _SEA_CLASS, ""))
    rest = F.regexp_replace(t, _CJK_CLASS, " ")
    n_ws = F.size(tokens(rest))
    nonspace = F.length(F.regexp_replace(t, r"\s", ""))
    denom = F.greatest(nonspace, F.lit(1)).cast("double")
    ratio = n_cjk.cast("double") / denom
    sea_ratio = n_sea.cast("double") / denom
    return (
        d.withColumn("n_cjk_chars", n_cjk.cast("int"))
        .withColumn("cjk_ratio", ratio)
        .withColumn("is_cjk", ratio >= 0.3)
        .withColumn("n_sea_chars", n_sea.cast("int"))
        .withColumn("sea_ratio", sea_ratio)
        .withColumn("is_sea", sea_ratio >= 0.3)
        .withColumn("n_tokens", (n_ws + n_cjk).cast("int"))
    )


_CJK_SAMPLE = "大数据处理引擎测试"  # 9 chars
_CJK_EXTB_SAMPLE = "𠀀𠀁𠀂引擎"  # 3 ext-B chars (U+20000..2) + 2 BMP chars
_SEA_SAMPLE = "การประมวลผลข้อมูล"  # Thai, no word spaces


# The CJK evidence CTE chain, shared by the merged "text_token_count"
# oracle at the bottom of this module (round 17: the former standalone
# text_cjk_tokens slot ceded its registry place to the packing-family
# split; the evidence itself is unchanged and still hash-gated).
_CJK_CORE_CTES = f"""
    cjkb AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN '{_CJK_SAMPLE}' || ' ' || text
                  WHEN doc_id % 11 = 3 THEN '{_SEA_SAMPLE}'
                  WHEN doc_id % 13 = 5 THEN '{_CJK_EXTB_SAMPLE}' || ' ' || text
                  ELSE text END AS text
      FROM documents),
    cjkm AS (
      SELECT doc_id, text,
             LENGTH(text) - LENGTH(regexp_replace(text, '{_CJK_CLASS}', '', 'g')) AS n_cjk,
             LENGTH(text) - LENGTH(regexp_replace(text, '{_SEA_CLASS}', '', 'g')) AS n_sea,
             LENGTH(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
             CASE WHEN LENGTH(TRIM(regexp_replace(text, '{_CJK_CLASS}', ' ', 'g'))) = 0
                  THEN 0
                  ELSE len(string_split_regex(
                       TRIM(regexp_replace(text, '{_CJK_CLASS}', ' ', 'g')), '[ \\t\\n\\x0B\\f\\r]+')) END AS n_ws
      FROM cjkb),
    cjk AS (
    SELECT doc_id,
           CAST(n_ws + n_cjk AS INTEGER) AS n_tokens,
           CAST(n_cjk AS INTEGER) AS n_cjk_chars,
           CAST(n_cjk AS DOUBLE) / GREATEST(nonspace, 1) >= 0.3 AS is_cjk,
           CAST(n_sea AS INTEGER) AS n_sea_chars,
           CAST(n_sea AS DOUBLE) / GREATEST(nonspace, 1) >= 0.3 AS is_sea
    FROM cjkm)"""


def text_cjk_tokens(spark, sf_dir):
    """The script-aware tokenization fallback evidence: injects
    fixed prefixes (identically on both sides — the synthetic corpus is
    whitespace-delimited Latin) — BMP CJK on doc_id % 7, a Thai
    scriptio-continua sample on % 11 = 3, and supplementary-plane ext-B
    CJK on % 13 = 5 — and hash-checks :func:`script_token_stats`'s
    char-fallback token counts (ext-B chars each counting as one token),
    CJK char counts, the is_cjk routing flag, AND the round-9
    detected-not-split Thai-family columns (n_sea_chars / is_sea) against
    an independent SQL re-derivation."""
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    built = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(_CJK_SAMPLE), F.lit(" "), F.col("text")),
        )
        .when(F.col("doc_id") % 11 == 3, F.lit(_SEA_SAMPLE))
        .when(
            F.col("doc_id") % 13 == 5,
            F.concat(F.lit(_CJK_EXTB_SAMPLE), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return (
        script_token_stats(built)
        .select(
            "doc_id", "n_tokens", "n_cjk_chars", "is_cjk",
            "n_sea_chars", "is_sea",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Slot "text_token_count" — registered HERE (module bottom) because the
# round-17 merged oracle needs the CJK constants defined above: the
# per-document profile (token counts ⋈ fingerprint) now also joins the
# former text_cjk_tokens slot's evidence on doc_id (all three emit exactly
# one row per doc).
# ---------------------------------------------------------------------------

_TOKEN_PROFILE_ORACLE = (
    "WITH tc AS (" + _TOKEN_COUNT_SQL + "),\n"
    "    fp AS (" + _rolling_oracle() + "),\n"
    + _CJK_CORE_CTES + "\n"
    "    SELECT tc.doc_id, tc.n_tokens, tc.n_chars_computed,"
    " tc.n_subtokens, fp.fingerprint, fp.rolling_min, fp.n_windows,\n"
    "           cjk.n_tokens AS cjk_n_tokens, cjk.n_cjk_chars,"
    " cjk.is_cjk, cjk.n_sea_chars, cjk.is_sea\n"
    "    FROM tc JOIN fp USING (doc_id) JOIN cjk USING (doc_id)"
    " ORDER BY tc.doc_id"
)

text_doc_profile = query("text_token_count", oracle=_TOKEN_PROFILE_ORACLE)(
    text_doc_profile
)
