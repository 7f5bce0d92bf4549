"""Corpus-curation operators a pretraining-data pipeline needs beyond
dedup: PII redaction, repetition signals, URL canonicalization and
URL/domain filtering, snapshot diffs and vocabulary coverage, and the
``curation_ops`` / ``dedup_url`` slots that drive them together with the
decontamination (``contamination.py``) and selection (``selection.py``)
families.  All are pure built-in-expression pipelines — no Python row
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text_keys import content_digest, word_grams, words, ws_token_count
from ..registry import query
from .contamination import (
    minhash_contamination,
    ngram_contamination,
    semantic_contamination,
)
from .selection import (
    TOKMIX_SALT,
    integer_temperature_budgets,
    temperature_mix_rates,
    token_budget_mixture,
)

# (pattern, replacement) — ordered: the more specific pattern first so an
# email is redacted as EMAIL, not as a phone-ish digit run inside it.
_PII_RULES = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("card", r"\b(?:\d[ -]?){13,16}\d\b", "<CARD>"),
    ("phone", r"\+?\d{1,2}[ .-]?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def redact_pii(
    d: DataFrame,
    text_col: str = "text",
    with_counts: bool = True,
    id_col: str = "doc_id",
) -> DataFrame:
    """Regex PII redaction over a text column: emails, SSN-shaped ids,
    payment-card-shaped digit runs, phone numbers, IPv4 addresses — each
    replaced by a typed placeholder, applied most-specific-first so one
    span is classified once.  Heuristic by design (a determined format
    evades any regex); the point is the Spark shape: a narrow per-row
    ``regexp_replace`` chain, fully codegen'd, zero shuffles — at 100 TB
    this runs at scan speed.  ``with_counts`` adds per-category match
    counts (via ``regexp_count`` on the PRE-redaction text) so a pipeline
    can route high-PII documents to quarantine instead of just scrubbing
    them."""
    from ..sources.tables import fanout_for_compute

    # The regexp chain is the whole cost and is embarrassingly parallel;
    # a degenerate single-split input would otherwise pin it to one core
    # (no-op at scale — see fanout_for_compute).  Key the fanout on the
    # id column when one exists: hashing by text would co-locate
    # byte-identical documents (a duplicate-heavy corpus skews one
    # partition) and carry full document strings as the exchange key.
    out = fanout_for_compute(
        d, id_col if id_col in d.columns else text_col
    )
    if with_counts:
        for name, pat, _ in _PII_RULES:
            out = out.withColumn(
                f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat))
            )
    redacted = F.col(text_col)
    for _, pat, repl in _PII_RULES:
        redacted = F.regexp_replace(redacted, pat, repl)
    return out.withColumn(text_col, redacted)


def repetition_stats(
    d: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document repetition signals (the Gopher/C4-style quality rule
    the length/punct/stopword scorer does not cover): the fraction of
    n-gram OCCURRENCES that are repeats of an earlier n-gram in the same
    document, and the share of the document claimed by its single most
    frequent n-gram.  Template/boilerplate/spam text scores high on both;
    a pipeline filters above a threshold.

    One explode + one (doc, gram) count + one per-doc aggregate — all
    map-side combinable, shuffling only gram-hash longs keyed by doc."""
    grams = word_grams(d, words(text_col), n, id_col)
    per_gram = grams.select(
        id_col, F.xxhash64("gram").alias("g")
    ).groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    stats = per_gram.groupBy(id_col).agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c") - 1).alias("repeats"),
        F.max("c").alias("top_c"),
    )
    return d.select(id_col).join(stats, id_col, "left").select(
        id_col,
        F.coalesce("total", F.lit(0)).alias("n_grams"),
        F.coalesce(
            F.col("repeats").cast("double") / F.col("total"), F.lit(0.0)
        ).alias("dup_gram_frac"),
        F.coalesce(
            F.col("top_c").cast("double") / F.col("total"), F.lit(0.0)
        ).alias("top_gram_frac"),
    )


_URL_RE = r"https?://[^\s<>\"')\]]+"
_DOMAIN_RE = r"https?://(?:[^/\s@]*@)?([^/\s:?#]+)"


def url_domain(url: F.Column) -> F.Column:
    """THE single URL→domain canonicalization: case-insensitive scheme
    (the URL is lowercased before matching — domains are case-insensitive
    anyway), userinfo stripped (``http://user@spam.com`` keys to
    ``spam.com``, not ``user@spam.com`` — a denylist-evasion vector when
    a caller once used its own regex), port/path/query dropped, leading
    ``www.`` removed.  Every domain-keyed operator (``extract_urls``,
    ``wet.wet_to_documents``, ``filter_by_domain`` callers) must key
    through here, or two operators would silently canonicalize
    differently."""
    d = F.regexp_extract(F.lower(url), _DOMAIN_RE, 1)
    return F.regexp_replace(d, r"^www\.", "")


def extract_urls(
    d: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_pos: bool = False,
) -> DataFrame:
    """One row per URL occurrence in the text: (id, url, domain) — the raw
    material of web-corpus curation (domain allow/deny lists, per-domain
    caps, citation graphs).  ``regexp_extract_all`` + explode, fully
    codegen'd, narrow until the explode; the domain is lowercased and
    stripped of a leading ``www.`` so aggregation keys are canonical.
    ``with_pos=True`` adds the 0-based occurrence index ``pos``
    (mention order — ``graph.domain_pagerank`` directs citation edges by
    it).  Domains come from :func:`url_domain`, THE single URL→domain
    canonicalization."""
    matches = F.regexp_extract_all(F.col(text_col), F.lit(_URL_RE), 0)
    if with_pos:
        urls = d.select(
            id_col, F.posexplode(matches).alias("pos", "url")
        )
    else:
        urls = d.select(id_col, F.explode(matches).alias("url"))
    return urls.select(
        id_col,
        "url",
        url_domain(F.col("url")).alias("domain"),
        *(["pos"] if with_pos else []),
    )


# Tracking parameters that multiply one page into many crawl URLs —
# the standard strip list (utm campaign tags, ad-click ids).  A single
# anchored regex over each split query component keeps it codegen'd.
_TRACKING_PARAM_RE = (
    r"^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid|ref|igshid)="
)


def canonical_url(col, strip_tracking: bool = False) -> F.Column:
    """Canonical form of a URL column — the normalization before URL-keyed
    dedup or crawl-frontier joins, where ``HTTP://Example.com:80/a?b=2&a=1#x``
    and ``http://example.com/a?a=1&b=2`` must hash identically:

    - scheme and host lowercased (path/query case is preserved — it is
      significant on most servers);
    - fragment dropped; default ports (``:80`` http / ``:443`` https)
      dropped; empty path → ``/``;
    - query parameters sorted (``split('&') → array_sort → array_join``,
      the standard order-insensitive canonicalization);
    - ``strip_tracking=True`` additionally drops the click/campaign
      parameters (utm_*, gclid, fbclid, …) that multiply one page into
      many crawl URLs — the dominant URL-level duplication source in web
      dumps.  Off by default: stripping is lossy, and frontier joins may
      legitimately key on full query strings.

    Pure codegen'd regexp/array expressions — usable inside any filter,
    groupBy key, or join condition at scan speed.  Values that don't look
    like absolute URLs pass through trimmed-but-unchanged rather than
    corrupted."""
    c = F.regexp_replace(F.trim(col), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    rest = F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    hostport = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.split(query, "&")
    if strip_tracking:
        params = F.filter(
            params, lambda p: ~p.rlike(_TRACKING_PARAM_RE)
        )
    qjoined = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        hostport,
        path,
        F.when(query == "", F.lit("")).otherwise(
            F.when(qjoined == "", F.lit("")).otherwise(
                F.concat(F.lit("?"), qjoined)
            )
        ),
    )
    return F.when(scheme == "", F.trim(col)).otherwise(canon)


def dedup_by_url(
    d: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    strip_tracking: bool = True,
) -> DataFrame:
    """URL-level exact dedup — the cheapest dedup pass in a crawl
    pipeline, run BEFORE any content hashing: the same page crawled under
    ``?utm_source=x`` / ``?utm_source=y`` / reordered params collapses to
    one row (smallest ``id_col`` kept, the same deterministic keep-first
    rule as ``dedup.keep_first_per_content``).  Keys on
    ``canonical_url(strip_tracking=True)`` by default — the tracking
    parameters are exactly what multiplies one page into many URLs.

    One hash-partitioned window on the canonical key; the shuffle carries
    the key + row, no text comparison anywhere.  Content-level dedup
    (exact digest, MinHash) still runs downstream — URL dedup only
    removes the self-evident republications."""
    from pyspark.sql.window import Window as W

    key = canonical_url(F.col(url_col), strip_tracking=strip_tracking)
    w = W.partitionBy(key).orderBy(id_col)
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def domain_stats(
    d: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-domain corpus statistics: (domain, n_urls, n_docs) ordered by
    frequency — feeds per-domain caps (a handful of boilerplate-heavy
    domains dominating a crawl is the classic skew) and deny-list review.
    One extract pass + one map-side-combined aggregate; the shuffle
    carries (domain, partial counts) only."""
    return (
        extract_urls(d, id_col, text_col)
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .orderBy(F.col("n_urls").desc(), "domain")
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dataset-version diff between two corpus snapshots: one row per
    changed document — ``(doc_id, change)`` with ``change ∈ {added,
    removed, modified}`` (same id, different content digest).  The audit
    table a data-versioning workflow stores next to each release; at
    100 TB both sides reduce to (id, 16-byte digest) before anything
    shuffles, so the diff joins digests, never text."""
    # NULL text must digest to content_digest's sentinel, not NULL:
    # md5(NULL)=NULL would make a present-with-null-text row
    # indistinguishable from an absent row, misreporting it as added/removed
    o = old.select(
        F.col(id_col).alias("doc_id"), content_digest(text_col).alias("__od")
    )
    n = new.select(
        F.col(id_col).alias("doc_id"), content_digest(text_col).alias("__nd")
    )
    j = o.join(n, "doc_id", "full_outer")
    return j.select(
        "doc_id",
        F.when(F.col("__od").isNull(), F.lit("added"))
        .when(F.col("__nd").isNull(), F.lit("removed"))
        .when(F.col("__od") != F.col("__nd"), F.lit("modified"))
        .otherwise(F.lit(None))
        .alias("change"),
    ).filter(F.col("change").isNotNull())


def vocab_coverage(
    d: DataFrame,
    vocab,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document vocabulary coverage against a reference token set —
    the tokenizer-fit signal (a corpus whose OOV rate jumps is in the
    wrong language/domain/encoding for the tokenizer it will be fed to):
    ``(doc_id, n_tokens, n_oov, oov_rate)``.

    The vocab broadcasts as a DataFrame (a tokenizer vocab is 10⁴–10⁵
    rows — KBs as 8-byte hashes); the token stream LEFT-joins it and
    counts misses map-side.  Tokens are matched lowercase-exact; plug a
    subword ``token_count_col`` upstream for BPE-accurate coverage."""
    spark = d.sparkSession
    # lowercase BEFORE dedup: {"The", "the"} must become ONE broadcast row,
    # or the left join fans out and inflates every match's token count
    vdf = F.broadcast(
        spark.createDataFrame(
            [(w,) for w in {v.lower() for v in vocab}], "__w string"
        )
    )
    toks = d.select(
        id_col,
        F.explode(
            F.filter(
                words(F.lower(F.col(text_col))),
                lambda t: t != "",
            )
        ).alias("__t"),
    )
    joined = toks.join(vdf, toks["__t"] == vdf["__w"], "left")
    stats = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("__w").isNull().cast("long")).alias("n_oov"),
    )
    return d.select(id_col).join(stats, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        F.coalesce(
            F.col("n_oov") / F.col("n_tokens"), F.lit(0.0)
        ).alias("oov_rate"),
    )


# ---------------------------------------------------------------------------
# Round-8 driver-oracle slot
# ---------------------------------------------------------------------------


def curation_mix_query(spark, sf_dir):
    """Driver slot for :func:`temperature_mix_rates` (round-7 mixing):
    α = 0.5 temperature keep-rates over the per-language strata of
    ``documents``.  Runs the REAL driver-side operator on a collected
    count map (strata counts are tiny by construction) and returns
    ``(lang, n_docs, rate)``; the oracle re-derives the exponentiated-
    share rule in SQL with every float op in the same order.  Both sides
    round to 6 dp: the only cross-engine wiggle is the share-sum Z
    (fsum vs SQL SUM, <= 1 ULP) and pow, nine orders below the rounding."""
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    counts = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rates = temperature_mix_rates(counts, alpha=0.5, total=None, max_rate=1.0)
    rows = [(s, counts[s], rates[s]) for s in sorted(rates)]
    out = spark.createDataFrame(rows, "lang string, n_docs long, rate double")
    return out.select(
        "lang", "n_docs", F.round("rate", 6).alias("rate")
    ).orderBy("lang")


_MIX_SQL = """
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    z AS (SELECT SUM(power(CAST(n AS DOUBLE), 0.5)) AS z FROM c),
    q AS (SELECT lang, n, power(CAST(n AS DOUBLE), 0.5) / z.z AS q FROM c, z),
    t AS (SELECT MIN(n / q) AS total FROM q)
    SELECT lang, n AS n_docs, round(LEAST(1.0, q * t.total / n), 6) AS rate
    FROM q, t
"""

# Quantized exact-strategy semantic decontamination: benchmark = the first
# 20 embeddings, threshold 0.40 (the corpus's measured max pairwise cosine
# is ~0.51, so the flag set is non-trivial — the similarity_pairs_threshold
# calibration lesson), tie-break = larger bench_id (Spark's struct-max).
_SEM_BENCH_MAX_ID = 20
_SEM_THRESHOLD = 0.40
_SEM_SQL = f"""
    WITH qe AS (
      SELECT vec_id,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings),
    bench AS (SELECT vec_id AS bench_id, v, i FROM qe
              WHERE vec_id < {_SEM_BENCH_MAX_ID}),
    dots AS (
      SELECT e.vec_id, b.bench_id,
             CAST(SUM(e.v * b.v) AS DOUBLE) AS dot,
             CAST(SUM(e.v * e.v) AS DOUBLE) AS nd,
             CAST(SUM(b.v * b.v) AS DOUBLE) AS nb
      FROM qe e JOIN bench b USING (i)
      GROUP BY e.vec_id, b.bench_id),
    sims AS (SELECT vec_id, bench_id,
                    dot / (sqrt(nd) * sqrt(nb)) AS sim FROM dots),
    best AS (
      SELECT vec_id, sim, bench_id,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, bench_id DESC) AS rn
      FROM sims)
    SELECT vec_id, sim AS max_bench_sim, bench_id AS nearest_bench_id
    FROM best WHERE rn = 1 AND sim >= {_SEM_THRESHOLD}
"""


# op='ngc' configuration: benchmark = every (doc_id % 41 == 3) document,
# n = the production default 8, raw-string grams (see ngram_contamination
# ``hashed``).  The slot pins the INTEGER pair statistics (n_shared,
# bench_grams); frac_bench_matched = n_shared / bench_grams is their exact
# ratio — hashing the ratio itself would re-open the 6-dp round-half
# ambiguity on binary fractions (e.g. 5/64) for no extra information.
_NGC_N = 8
_NGC_BENCH_MOD = 41
_NGC_BENCH_REM = 3


def _ngc_sql() -> str:
    n = _NGC_N
    lead = ", ".join(
        f"LEAD(t, {k}) OVER (PARTITION BY doc_id ORDER BY i) AS t{k}"
        for k in range(1, n)
    )
    cat = "concat_ws(' ', t, " + ", ".join(f"t{k}" for k in range(1, n)) + ")"
    return f"""
    WITH ngctok AS (
      SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) AS i
      FROM (SELECT doc_id, string_split_regex(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks
            FROM documents)),
    ngcled AS (SELECT doc_id, t, {lead} FROM ngctok),
    ngcg AS (
      SELECT DISTINCT doc_id, {cat} AS gram
      FROM ngcled WHERE t{n - 1} IS NOT NULL),
    ngcb AS (SELECT doc_id AS bench_id, gram FROM ngcg
             WHERE doc_id % {_NGC_BENCH_MOD} = {_NGC_BENCH_REM}),
    ngcbs AS (SELECT bench_id, COUNT(*) AS bench_grams
              FROM ngcb GROUP BY bench_id),
    ngcsh AS (
      SELECT g.doc_id, b.bench_id, COUNT(*) AS n_shared
      FROM ngcg g JOIN ngcb b USING (gram) GROUP BY g.doc_id, b.bench_id)
    SELECT s.doc_id, s.bench_id, s.n_shared, bs.bench_grams
    FROM ngcsh s JOIN ngcbs bs USING (bench_id)
    """


# op='pii' configuration: plant one email / one IP / one phone into every
# (doc_id % 13 == 2) document ON TOP of its real text (so the counts also
# sweep the organic corpus through both regex engines), then pin the
# per-category match counts and the md5 of the redacted text.  The rule
# list (_PII_RULES) is the single source for BOTH engines — the oracle
# renders the same patterns through RE2 (all five are RE2-safe: no
# backrefs, no lookaround).
_PII_MOD, _PII_REM = 13, 2
_PII_PLANT = (
    " u' || CAST(doc_id AS VARCHAR) || '@ex.com ip 10.0.0.' "
    "|| CAST(doc_id % 256 AS VARCHAR) || ' call +1 555-123-4567 now"
)


def _pii_sql() -> str:
    red = "text"
    for _, pat, repl in _PII_RULES:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat, _ in _PII_RULES
    )
    return f"""
    SELECT doc_id, {counts}, md5({red}) AS red_md5
    FROM (SELECT doc_id, text || '{_PII_PLANT}' AS text
          FROM documents WHERE doc_id % {_PII_MOD} = {_PII_REM})
    """


# op='diff' configuration: snapshot B is derived from documents by three
# disjoint deterministic edits; the oracle derives the expected labels
# from the CONSTRUCTION (independent of the operator's digest join).
_DIFF_RM, _DIFF_MODIFY, _DIFF_ADD, _DIFF_ADD_OFFSET = 29, 31, 53, 1000000

_DIFF_SQL = f"""
    SELECT doc_id, 'removed' AS change FROM documents
    WHERE doc_id % {_DIFF_RM} = 0
    UNION ALL
    SELECT doc_id, 'modified' FROM documents
    WHERE doc_id % {_DIFF_MODIFY} = 1 AND doc_id % {_DIFF_RM} <> 0
    UNION ALL
    SELECT doc_id + {_DIFF_ADD_OFFSET}, 'added' FROM documents
    WHERE doc_id % {_DIFF_ADD} = 5
"""

# op='vocab' configuration: vocab = the corpus's own top-K lowercased
# tokens (count desc, token asc tie-break — deterministic both engines).
# K = 16 sits strictly inside the synthetic corpus's ~31-token vocabulary,
# so the OOV side is non-trivially exercised (K = 50 covered every token
# and pinned nothing).
_VOCAB_K = 16

_VOCAB_SQL = f"""
    WITH voctok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x <> '')) AS w
      FROM documents),
    voctop AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM voctok GROUP BY w)
               ORDER BY c DESC, w LIMIT {_VOCAB_K}),
    voccov AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens,
             SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM voctok t LEFT JOIN voctop v USING (w) GROUP BY t.doc_id)
    SELECT d.doc_id, COALESCE(c.n_tokens, 0) AS n_tokens,
           COALESCE(c.n_oov, 0) AS n_oov
    FROM documents d LEFT JOIN voccov c USING (doc_id)
"""


#: op='tokmix'/'tokbud' evidence configuration
TOKMIX_TOTAL = 20_000
#: op='manifest' evidence configuration: epoch / context length / shard
#: count for the training-order export over the budget-selected docs
MANIFEST_EPOCH, MANIFEST_L, MANIFEST_SHARDS = 5, 64, 4


def token_mixture_frames(spark, sf_dir):
    """Driver branches: (selected, per_domain, manifest) for
    op='tokmix'/'tokbud'/'manifest' — per-source token totals (bounded
    collect: one row per source) feed
    :func:`integer_temperature_budgets`, the REAL operator fills each
    budget in md5 hash order, and ``per_domain`` pins the EXACT token
    accounting: selected-token sums must land in
    [budget, budget + max_doc_tokens) for every budget-constrained
    domain.  ``manifest`` is the composed LAST MILE
    (`packing.training_manifest` over the selected rows): epoch-5
    order hash, 4-way sharding, within-shard token offsets and 64-token
    chunk ranges — the complete selection→shuffle→shard→pack export,
    every column re-derived in SQL."""
    from ..sources.tables import load_table
    from .packing import training_manifest

    docs = load_table(spark, sf_dir, "documents")
    totals = {
        r["source"]: r["t"]
        for r in docs.groupBy("source")
        .agg(F.sum(ws_token_count()).alias("t"))
        .collect()
    }
    budgets = integer_temperature_budgets(totals, TOKMIX_TOTAL)
    sel = token_budget_mixture(
        docs, budgets, hash_fn="md5"
    ).localCheckpoint()  # rows + summary + manifest all consume it
    budf = spark.createDataFrame(
        [(str(k), int(v)) for k, v in sorted(budgets.items())],
        "source string, budget long",
    )
    per_domain = (
        sel.groupBy("source")
        .agg(
            F.sum("n_tokens").alias("tok_sel"),
            F.count(F.lit(1)).alias("n_sel"),
        )
        .join(F.broadcast(budf), "source")
        .select("source", "budget", "tok_sel", "n_sel")
    )
    manifest = training_manifest(
        sel, MANIFEST_EPOCH, MANIFEST_L, MANIFEST_SHARDS, hash_fn="md5"
    )
    return sel, per_domain, manifest


_TOKMIX_HK = (
    f"CAST(concat('0x', substr(md5('{TOKMIX_SALT}|' ||"
    " CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
)
_TOKMIX_NTOK = (
    "COALESCE(len(list_filter(string_split_regex(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+'),"
    " t -> t <> '')), 0)"
)


def sql_tokmix_ctes() -> str:
    """DuckDB CTE chain re-deriving :func:`token_mixture_frames` — the
    per-source token totals, the integer α=0.5 budgets, the md5
    hash-order prefix (ONE window — the oracle recomputes the
    distributed shard-wise prefix sum as the naive global one, the
    packing-oracle equivalence pattern), the crossing-document cut, and
    the per-domain accounting, and the training-manifest layout over the
    selected rows (epoch hash → shard → within-shard prefix offsets →
    chunk bounds).  Final CTEs: ``tbsel`` (dom, doc_id, ntok, before),
    ``tbdom`` (dom, budget, tok_sel, n_sel), ``mfman`` (dom, doc_id,
    ntok, oh, shard, off, chunk_first, chunk_last)."""
    from .clustering import _materialize

    return _materialize(f"""tbt AS (
      SELECT source AS dom, doc_id, {_TOKMIX_NTOK} AS ntok,
             {_TOKMIX_HK} AS hk
      FROM documents),
    tbsh AS (
      SELECT dom, SUM(ntok) AS tot,
             CAST(floor(sqrt(CAST(SUM(ntok) AS DOUBLE))) AS BIGINT) AS share
      FROM tbt GROUP BY dom HAVING SUM(ntok) > 0),
    tbz AS (SELECT SUM(share) AS z FROM tbsh),
    tbbud AS (
      SELECT dom, least(tot, share * {TOKMIX_TOTAL} // z) AS budget
      FROM tbsh, tbz),
    tbcum AS (
      SELECT dom, doc_id, ntok,
             COALESCE(SUM(ntok) OVER (
                 PARTITION BY dom ORDER BY hk, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS before
      FROM tbt),
    tbsel AS (
      SELECT c.dom, c.doc_id, c.ntok, c.before
      FROM tbcum c JOIN tbbud b USING (dom)
      WHERE c.before < b.budget),
    tbdom AS (
      SELECT s.dom, b.budget, SUM(s.ntok) AS tok_sel,
             COUNT(*) AS n_sel
      FROM tbsel s JOIN tbbud b USING (dom)
      GROUP BY s.dom, b.budget),
    mfh AS (
      SELECT dom, doc_id, ntok,
             CAST(concat('0x', substr(md5(concat_ws(':', 'shuffle-v1',
                 '{MANIFEST_EPOCH}', CAST(doc_id AS VARCHAR))), 1, 8))
               AS BIGINT) AS oh
      FROM tbsel),
    mfoff AS (
      SELECT dom, doc_id, ntok, oh, oh % {MANIFEST_SHARDS} AS shard,
             COALESCE(SUM(ntok) OVER (
                 PARTITION BY oh % {MANIFEST_SHARDS}
                 ORDER BY oh, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS off
      FROM mfh),
    mfman AS (
      SELECT dom, doc_id, ntok, oh, shard, off,
             off // {MANIFEST_L} AS chunk_first,
             CASE WHEN ntok = 0 THEN off // {MANIFEST_L} - 1
                  ELSE (off + ntok - 1) // {MANIFEST_L} END AS chunk_last
      FROM mfoff)""")


# op='fuzzy' configuration: benchmark = every doc_id % 41 == 3 document
# (the ngc slice — realistic: bench items ARE in the crawl, so self-pairs
# pin jaccard exactly 1.0 and the corpus's planted near-dups surface as
# partner pairs), md5 hash scheme, the production JACCARD_THRESHOLD.
_FUZZY_MOD, _FUZZY_REM = _NGC_BENCH_MOD, _NGC_BENCH_REM


def _fuzzy_sql_ctes() -> str:
    """CTE chain re-deriving :func:`minhash_contamination` (md5 scheme):
    shingles both sides, the 16-hash affine MinHash signatures, the
    4-band keys, the CROSS candidate join (corpus bands × bench bands —
    the oracle must replicate the banding, not brute-force: banding
    bounds recall, so a brute-forced pair set would contain pairs the
    operator is DESIGNED to miss), and the exact Jaccard + containment
    verify over candidates.  Final CTE ``fzpairs(doc_id, bench_id,
    jaccard, containment)``."""
    from .clustering import _materialize
    from .dedup import (
        JACCARD_THRESHOLD,
        _band_keys_sql,
        _mh_mins_sql,
        _sql_shd,
    )

    mins, keys = _mh_mins_sql(), _band_keys_sql()

    def side(p: str) -> str:
        return f"""{p}hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h
      FROM {p}shd),
    {p}mh AS (
      SELECT doc_id,
             {mins}
      FROM {p}hashed GROUP BY doc_id),
    {p}bands AS (
      SELECT doc_id,
             unnest({keys}) AS band_key,
             generate_subscripts({keys}, 1) AS band
      FROM {p}mh)"""

    return _materialize(f"""fzbsrc AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % {_FUZZY_MOD} = {_FUZZY_REM}),
    {_sql_shd('documents', 'fzc').strip().rstrip()},
    {_sql_shd('fzbsrc', 'fzb').strip().rstrip()},
    {side('fzc')},
    {side('fzb')},
    fzcand AS (
      SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
      FROM fzcbands c JOIN fzbbands b
        ON c.band = b.band AND c.band_key = b.band_key),
    fzcsizes AS (SELECT doc_id, COUNT(*) AS n FROM fzcshd GROUP BY doc_id),
    fzbsizes AS (SELECT doc_id, COUNT(*) AS n FROM fzbshd GROUP BY doc_id),
    fzinter AS (
      SELECT x.doc_id, y.doc_id AS bench_id, COUNT(*) AS i
      FROM fzcshd x JOIN fzbshd y ON y.shingle = x.shingle
      GROUP BY x.doc_id, y.doc_id),
    fzpairs AS (
      SELECT i.doc_id, i.bench_id,
             CAST(i.i AS DOUBLE) / (sc.n + sb.n - i.i) AS jaccard,
             CAST(i.i AS DOUBLE) / sb.n AS containment
      FROM fzinter i
      JOIN fzcand cd ON cd.doc_id = i.doc_id AND cd.bench_id = i.bench_id
      JOIN fzcsizes sc ON sc.doc_id = i.doc_id
      JOIN fzbsizes sb ON sb.doc_id = i.bench_id
      WHERE CAST(i.i AS DOUBLE) / (sc.n + sb.n - i.i)
            >= {JACCARD_THRESHOLD})""")


def _curation_ops_oracle() -> str:
    from .clustering import KM_ITERS, sql_kmeans_ctes, sql_semdedup_ctes
    from .dsir import sql_dsir_ctes

    pad_dsir = (
        "CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_grams, "
        "CAST(NULL AS DOUBLE) AS logw, CAST(NULL AS DOUBLE) AS gumbel, "
        "CAST(NULL AS INTEGER) AS sel_rank"
    )
    pad_km = (
        "CAST(NULL AS INTEGER) AS cluster, CAST(NULL AS INTEGER) AS pos, "
        "CAST(NULL AS BIGINT) AS cval"
    )
    K = KM_ITERS
    return f"""
    WITH {sql_dsir_ctes()},
    {sql_kmeans_ctes()},
    {sql_semdedup_ctes()},
    {sql_tokmix_ctes()},
    {_fuzzy_sql_ctes()}
    SELECT * FROM (
    SELECT 'mix' AS op, lang, n_docs, rate,
           CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS DOUBLE) AS max_bench_sim,
           CAST(NULL AS BIGINT) AS nearest_bench_id, {pad_dsir}, {pad_km}
    FROM ({_MIX_SQL})
    UNION ALL
    SELECT 'sem', NULL, NULL, NULL, vec_id, max_bench_sim, nearest_bench_id,
           {pad_dsir}, {pad_km}
    FROM ({_SEM_SQL})
    UNION ALL
    SELECT 'dsir_w', NULL, NULL, NULL, NULL, NULL, NULL,
           doc_id, n_grams, logw, CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER),
           {pad_km}
    FROM dsirw WHERE doc_id % 10 = 0
    UNION ALL
    SELECT 'dsir_sel', NULL, NULL, NULL, NULL, NULL, NULL,
           doc_id, n_grams, logw, gumbel, sel_rank, {pad_km}
    FROM dsirsel
    UNION ALL
    SELECT 'kmc', NULL, NULL, NULL, NULL, NULL, NULL, {pad_dsir},
           cell, CAST(i - 1 AS INTEGER), c
    FROM kmc{K}
    UNION ALL
    SELECT 'kma', NULL, NULL, NULL, vec_id, NULL, NULL, {pad_dsir},
           cell, CAST(NULL AS INTEGER), CAST(NULL AS BIGINT)
    FROM kma{K}
    UNION ALL
    SELECT 'kmrate', NULL, n, round(rate, 6), NULL, NULL, NULL, {pad_dsir},
           cell, CAST(NULL AS INTEGER), CAST(NULL AS BIGINT)
    FROM kmrate
    UNION ALL
    SELECT 'kmsel', NULL, NULL, NULL, vec_id, NULL, NULL, {pad_dsir},
           cell, CAST(NULL AS INTEGER), CAST(NULL AS BIGINT)
    FROM kmsel
    UNION ALL
    SELECT 'semdedup', NULL, NULL, NULL, vec_id, dup_cos, dup_of,
           {pad_dsir}, cell, CAST(NULL AS INTEGER), CAST(NULL AS BIGINT)
    FROM sdout
    UNION ALL
    SELECT 'sdprobe', NULL, NULL, NULL, vec_id, cos, matched_vec_id,
           {pad_dsir}, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT)
    FROM sdprobe
    UNION ALL
    SELECT 'ngc', NULL, bench_grams, NULL, bench_id, NULL, NULL,
           doc_id, n_shared, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), {pad_km}
    FROM ({_ngc_sql()})
    UNION ALL
    SELECT 'pii', red_md5, n_email, NULL, NULL, NULL, NULL,
           doc_id, n_ssn, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(n_card AS INTEGER),
           CAST(n_phone AS INTEGER), CAST(n_ipv4 AS INTEGER),
           CAST(NULL AS BIGINT)
    FROM ({_pii_sql()})
    UNION ALL
    SELECT 'diff', change, NULL, NULL, NULL, NULL, NULL,
           doc_id, NULL, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), {pad_km}
    FROM ({_DIFF_SQL})
    UNION ALL
    SELECT 'vocab', NULL, n_tokens, NULL, NULL, NULL, NULL,
           doc_id, n_oov, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), {pad_km}
    FROM ({_VOCAB_SQL})
    UNION ALL
    SELECT 'tokmix', dom, NULL, NULL, NULL, NULL, NULL,
           doc_id, ntok, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), before
    FROM tbsel
    UNION ALL
    SELECT 'tokbud', dom, n_sel, NULL, NULL, NULL, NULL,
           CAST(NULL AS BIGINT), tok_sel, CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), budget
    FROM tbdom
    UNION ALL
    SELECT 'manifest', dom, chunk_first, NULL, oh, NULL, chunk_last,
           doc_id, ntok, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS INTEGER), CAST(shard AS INTEGER),
           CAST(NULL AS INTEGER), off
    FROM mfman
    UNION ALL
    SELECT 'fuzzy', NULL, NULL, containment, bench_id, jaccard, NULL,
           doc_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER), {pad_km}
    FROM fzpairs
    ) ORDER BY op, COALESCE(lang, ''), COALESCE(vec_id, -1),
               COALESCE(doc_id, -1), COALESCE(cluster, -1), COALESCE(pos, -1)
    """


@query("curation_ops", oracle=_curation_ops_oracle())
def curation_ops(spark, sf_dir):
    """The corpus-composition curation family in ONE driver slot (round-10
    tagged-union merge of ``curation_mix`` + the until-now library-only
    ``semantic_contamination``): temperature mix rates over the language
    strata, plus embedding-space benchmark decontamination run through the
    REAL operator in its quantized exact-strategy oracle configuration —
    benchmark = first {_SEM_BENCH_MAX_ID} vectors (broadcast),
    threshold {_SEM_THRESHOLD}, per-vector max similarity + nearest
    benchmark id (struct-max tie-break), all integer-exact under the
    driver hash.  The LSH candidate path's parity with exact is
    pytest-held (`tests/test_curation.py`); its designed operating point
    (0.95) is above this corpus's max cross-vector cosine, so the slot
    pins the exact arithmetic the LSH path verifies against.

    Round-10 continuation: the union also carries the DSIR
    importance-resampling evidence (`operators/dsir.py`) — op='dsir_w'
    pins every 10th document's hashed-ngram log importance weight
    against the lang='zh' target slice, op='dsir_sel' pins the
    Gumbel-top-20 without-replacement sample (weights + noise + rank);
    the oracle re-derives hashing, both model fits, the 9-dp-quantized
    log ratio, the exact decimal reduction, and the Gumbel keys.

    Round-11 continuation: the DataComp/SemDeDup-style topic-rebalance
    move (`operators/clustering.py`) joins the driver hash — op='kmc'
    pins the k=8 integer k-means centroids after 2 Lloyd rounds,
    op='kma' every vector's cluster assignment, op='kmrate' the α=0.5
    temperature keep-rates, op='kmsel' the md5 hash-threshold sampled
    id set; the oracle re-derives quantization, the non-zero seed rule,
    both Lloyd rounds, rates, and membership (`sql_kmeans_ctes`).

    op='ngc' pins the GPT-3/PaLM-style exact n-gram benchmark
    decontamination (:func:`ngram_contamination`): benchmark = every
    doc_id % {_NGC_BENCH_MOD} == {_NGC_BENCH_REM} document, n = {_NGC_N}
    (the production default), raw-string grams for cross-engine parity
    (see ``hashed``); every contaminated (doc, bench) pair's shared-gram
    and benchmark-gram counts ride the vec_id/n_grams/n_docs carrier
    columns — the planted duplicate docs surface as non-self pairs.

    Round-12 continuation: op='semdedup' pins the full SemDeDup prune
    (:func:`clustering.semdedup_prune`) in its incremental configuration —
    the slot's frozen k-means centroids cluster a planted recrawl batch
    (exact copies / first-coordinate perturbations / reversed vectors;
    :func:`clustering.semdedup_evidence_frame`), and every vector's
    (cluster, dup_of, dup_cos) row rides the hash: the within-cell
    integer-cosine pairs, the >= 0.9 threshold cut, and the min-id
    duplicate attribution are all re-derived in SQL
    (``sql_semdedup_ctes``).  op='sdprobe' pins the PERSISTED-index
    roundtrip (:func:`clustering.semdedup_probe_evidence`): the on-disk
    artifact is built from the corpus at query time, the same planted
    batch probes it through quantized parquet + frozen-centroid
    assignment + partition-pruned member scan, and every hit is
    re-derived from the construction (index members = base survivors).

    op='pii' pins :func:`redact_pii`: PII planted on top of the real
    text by a byte-identical construction in both engines, per-category
    match counts AND the redacted text's md5 under the hash (the
    `_PII_RULES` list renders both engines' regexes).  op='diff' pins
    :func:`corpus_diff` against a snapshot built by three disjoint
    deterministic edits — the oracle derives added/removed/modified
    labels from the construction, independent of the operator's digest
    join.  op='vocab' pins :func:`vocab_coverage` per-document token and
    OOV counts against the corpus's own top-{_VOCAB_K} vocabulary
    (deterministic count-desc/token-asc cut)."""
    from ..functions.union import pad_union
    from ..sources.tables import load_table
    from .clustering import kmeans_curation_frames
    from .dsir import dsir_slot_frames

    e = load_table(spark, sf_dir, "embeddings")
    bench = e.filter(F.col("vec_id") < _SEM_BENCH_MAX_ID)
    sem = semantic_contamination(
        e, bench, threshold=_SEM_THRESHOLD, strategy="exact", quantize=True
    )
    docs = load_table(spark, sf_dir, "documents")
    ngc_bench = docs.filter(
        F.col("doc_id") % _NGC_BENCH_MOD == _NGC_BENCH_REM
    ).select(F.col("doc_id").alias("bench_id"), "text")
    ngc = ngram_contamination(docs, ngc_bench, n=_NGC_N, hashed=False)
    # op='pii': plant one of each PII shape on top of the real text (byte-
    # identical construction in the oracle), run the REAL redactor, pin
    # counts + redacted-text digest
    plant = F.concat(
        F.col("text"), F.lit(" u"), F.col("doc_id").cast("string"),
        F.lit("@ex.com ip 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(" call +1 555-123-4567 now"),
    )
    pii = redact_pii(
        docs.filter(F.col("doc_id") % _PII_MOD == _PII_REM).select(
            "doc_id", plant.alias("text")
        )
    ).select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("red_md5"),
        "n_email", "n_ssn", "n_card", "n_phone", "n_ipv4",
    )
    # op='diff': snapshot B = documents minus the %29==0 rows, with ' [v2]'
    # appended to the %31==1 rows and synthetic added rows at +1e6 ids
    snap_b = (
        docs.filter(F.col("doc_id") % _DIFF_RM != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % _DIFF_MODIFY == 1,
                # concat_ws, not concat: concat(NULL, ' [v2]') is NULL, so a
                # NULL-text doc in the modified slice would digest to the
                # same NULL sentinel on both sides (reported unchanged)
                # while the oracle labels it modified from the construction
                F.concat_ws("", F.col("text"), F.lit(" [v2]")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionAll(
            docs.filter(F.col("doc_id") % _DIFF_ADD == 5).select(
                (F.col("doc_id") + _DIFF_ADD_OFFSET).alias("doc_id"),
                F.concat(
                    F.lit("new doc "), F.col("doc_id").cast("string")
                ).alias("text"),
            )
        )
    )
    diff = corpus_diff(docs, snap_b)
    # op='vocab': vocab = the corpus's own top-K tokens — the collect is
    # exactly _VOCAB_K strings (the vocab artifact a tokenizer-fit
    # workflow materializes anyway), then the REAL coverage operator
    tok = docs.select(
        F.explode(
            F.filter(
                words(F.lower(F.col("text"))),
                lambda t: t != "",
            )
        ).alias("w")
    )
    top = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(_VOCAB_K)
    )
    cov = vocab_coverage(docs, [r["w"] for r in top.collect()])
    # one deterministic k-means run shared by the kmc/kma/kmrate/kmsel/
    # semdedup evidence AND the persisted-index build inside sdprobe —
    # the round-17 plan audit found the identical clustering executed
    # twice per slot run (kmeans_topics is seed-deterministic, so
    # sharing cannot change any result row)
    from .clustering import (
        KM_ITERS,
        KM_K,
        SD_THRESHOLD,
        kmeans_topics,
        semdedup_probe_evidence,
        semdedup_prune,
    )

    # The DSIR arms read only `documents` and are independent of the
    # whole kmeans/semdedup chain below — build them from a driver
    # thread so their gram-explode jobs back-fill executors idled by
    # the chain's driver-side phases (seed/size collects, Lloyd means,
    # index writes); guide §2.6.  Both sides are deterministic, so
    # overlap cannot change any result row.
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)
    try:
        fut_dsir = pool.submit(dsir_slot_frames, spark, sf_dir)
        cents, assigned = kmeans_topics(e, k=KM_K, iters=KM_ITERS)
        clustering = (cents, assigned.localCheckpoint())
    # one base-corpus pair stage, two consumers (round 18): the
    # persisted-index build inside sdprobe has always executed
    # semdedup_prune(e, assigned) eagerly — materialize those rows once
    # and ALSO hand them to the op='semdedup' evidence arm, which then
    # computes only the batch-receiving pairs lazily inside the union
    # (semdedup_prune's restrict=; equivalence argued there and
    # pytest-held).  Net: the union arm's pair stage shrinks from
    # (base+batch)² to batch×(base+batch) and the base pairs run once.
        base_pruned = semdedup_prune(
            e, assigned, threshold=SD_THRESHOLD
        ).localCheckpoint()
        km_cent, km_assigned, km_rates, km_sampled, km_semdedup = (
            kmeans_curation_frames(
                spark, sf_dir, clustering=clustering,
                sd_base_pruned=base_pruned,
            )
        )
        sd_probe = semdedup_probe_evidence(
            spark, sf_dir, clustering=clustering, pruned_base=base_pruned
        )
        dsir_w, dsir_sel = fut_dsir.result()
    finally:
        pool.shutdown(wait=True)
    tokmix_sel, tokmix_dom, tokmix_man = token_mixture_frames(
        spark, sf_dir
    )
    # op='fuzzy': the REAL minhash_contamination in its md5 oracle
    # configuration — benchmark = the ngc slice (self-pairs pin jaccard
    # exactly 1.0; planted corpus near-dups surface as partner pairs)
    fuzzy = minhash_contamination(
        docs,
        docs.filter(F.col("doc_id") % _FUZZY_MOD == _FUZZY_REM).select(
            F.col("doc_id").alias("bench_id"), "text"
        ),
        hash_fn="md5",
    )
    schema = [
        ("op", "string"), ("lang", "string"), ("n_docs", "bigint"),
        ("rate", "double"), ("vec_id", "bigint"),
        ("max_bench_sim", "double"), ("nearest_bench_id", "bigint"),
        ("doc_id", "bigint"), ("n_grams", "bigint"), ("logw", "double"),
        ("gumbel", "double"), ("sel_rank", "int"),
        ("cluster", "int"), ("pos", "int"), ("cval", "bigint"),
    ]
    return pad_union(
        schema,
        (
            curation_mix_query(spark, sf_dir),
            {
                "op": F.lit("mix"), "lang": "lang",
                "n_docs": "n_docs", "rate": "rate",
            },
        ),
        (
            sem,
            {
                "op": F.lit("sem"), "vec_id": "vec_id",
                "max_bench_sim": "max_bench_sim",
                "nearest_bench_id": "nearest_bench_id",
            },
        ),
        (
            dsir_w,
            {
                "op": F.lit("dsir_w"), "doc_id": "doc_id",
                "n_grams": "n_grams", "logw": "logw_q9",
            },
        ),
        (
            dsir_sel,
            {
                "op": F.lit("dsir_sel"), "doc_id": "doc_id",
                "n_grams": "n_grams", "logw": "logw_q9",
                "gumbel": "gumbel_q9", "sel_rank": "sel_rank",
            },
        ),
        (
            km_cent,
            {
                "op": F.lit("kmc"), "cluster": "cluster",
                "pos": "pos", "cval": "cval",
            },
        ),
        (
            km_assigned,
            {"op": F.lit("kma"), "vec_id": "vec_id", "cluster": "cluster"},
        ),
        (
            km_rates,
            {
                "op": F.lit("kmrate"), "n_docs": "n_docs",
                "rate": "rate", "cluster": "cluster",
            },
        ),
        (
            km_sampled,
            {"op": F.lit("kmsel"), "vec_id": "vec_id", "cluster": "cluster"},
        ),
        (
            km_semdedup,
            # carriers: nearest_bench_id = dup_of (the attributed smaller
            # near-dup id), max_bench_sim = that pair's cosine
            {
                "op": F.lit("semdedup"), "vec_id": "vec_id",
                "cluster": "cluster", "nearest_bench_id": "dup_of",
                "max_bench_sim": "dup_cos",
            },
        ),
        (
            sd_probe,
            # the persisted-index probe roundtrip: every batch-vs-member
            # hit (vec, matched member, cosine)
            {
                "op": F.lit("sdprobe"), "vec_id": "vec_id",
                "nearest_bench_id": "matched_vec_id",
                "max_bench_sim": "cos",
            },
        ),
        (
            ngc,
            # carrier columns: vec_id = bench_id, n_grams = n_shared,
            # n_docs = bench_grams (the union schema has no dedicated
            # columns for the pair statistics; pad_union casts)
            {
                "op": F.lit("ngc"), "doc_id": "doc_id",
                "vec_id": "bench_id", "n_grams": "n_shared",
                "n_docs": "bench_grams",
            },
        ),
        (
            pii,
            # carriers: lang = redacted-text md5; n_docs/n_grams/sel_rank/
            # cluster/pos = the five per-category counts in rule order
            {
                "op": F.lit("pii"), "doc_id": "doc_id",
                "lang": "red_md5", "n_docs": "n_email",
                "n_grams": "n_ssn", "sel_rank": "n_card",
                "cluster": "n_phone", "pos": "n_ipv4",
            },
        ),
        (
            diff,
            {"op": F.lit("diff"), "doc_id": "doc_id", "lang": "change"},
        ),
        (
            cov,
            {
                "op": F.lit("vocab"), "doc_id": "doc_id",
                "n_docs": "n_tokens", "n_grams": "n_oov",
            },
        ),
        (
            tokmix_sel,
            # carriers: lang = domain, n_grams = doc tokens,
            # cval = exact hash-order token prefix (the audit column)
            {
                "op": F.lit("tokmix"), "lang": "source",
                "doc_id": "doc_id", "n_grams": "n_tokens",
                "cval": "tok_before",
            },
        ),
        (
            tokmix_dom,
            # carriers: cval = the integer temperature budget,
            # n_grams = selected tokens, n_docs = selected docs
            {
                "op": F.lit("tokbud"), "lang": "source",
                "cval": "budget", "n_grams": "tok_sel", "n_docs": "n_sel",
            },
        ),
        (
            tokmix_man,
            # carriers: vec_id = epoch order hash, cluster = shard,
            # cval = within-shard token offset, n_docs/nearest_bench_id
            # = chunk_first/chunk_last
            {
                "op": F.lit("manifest"), "lang": "source",
                "doc_id": "doc_id", "n_grams": "n_tokens",
                "vec_id": "order_hash", "cluster": "shard",
                "cval": "offset", "n_docs": "chunk_first",
                "nearest_bench_id": "chunk_last",
            },
        ),
        (
            fuzzy,
            # carriers: vec_id = bench_id, max_bench_sim = jaccard,
            # rate = containment
            {
                "op": F.lit("fuzzy"), "doc_id": "doc_id",
                "vec_id": "bench_id", "max_bench_sim": "jaccard",
                "rate": "containment",
            },
        ),
    ).orderBy(
        "op",
        F.coalesce("lang", F.lit("")),
        F.coalesce("vec_id", F.lit(-1)),
        F.coalesce("doc_id", F.lit(-1)),
        F.coalesce("cluster", F.lit(-1)),
        F.coalesce("pos", F.lit(-1)),
    )


def filter_by_domain(
    d: DataFrame,
    allow: list | None = None,
    deny: list | None = None,
    source_col: str = "source",
    include_subdomains: bool = True,
) -> DataFrame:
    """Domain allow/deny policy filter over the ``source`` column (the
    crawl host, as ``sources.wet.wet_to_documents`` emits it) — the
    URL-policy step of web-corpus curation (spam/SEO-farm deny lists,
    curated allow lists).

    ``allow`` keeps ONLY listed domains; ``deny`` then removes listed
    domains (both given: allow first, deny wins on conflict — the safe
    order for "allow the TLD, deny the known-bad subdomain").
    ``include_subdomains`` matches ``blog.example.com`` against an
    ``example.com`` entry via a suffix test.  NULL sources are DROPPED
    under an allow list (unattributable docs can't be allowed) and KEPT
    under a pure deny list (a deny list names known-bad hosts only).

    Scale shape: each list becomes ONE set-membership expression — a
    plain IN-set over the host for exact matching, or (with subdomains)
    an IN-set probed once per dot-suffix of the host (``a.b.example.com``
    has <= label-count suffixes, so the per-row cost is O(labels), not
    O(list)).  A per-domain OR chain would instead put thousands of Or
    nodes in the plan — quadratic Catalyst analysis and a codegen
    fallback past the 64KB method limit.  Millions of entries belong in
    a broadcast-join table; up to that, this is a narrow filter, zero
    shuffles, scan speed."""
    if not allow and not deny:
        return d
    s = F.lower(F.col(source_col))
    labels = F.split(s, r"\.")
    n = F.size(labels)
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )

    def matches(domains):
        doms = sorted({str(x).lower() for x in domains})
        if include_subdomains:
            return F.exists(suffixes, lambda x: x.isin(*doms))
        return s.isin(*doms)

    out = d
    if allow:
        out = out.filter(s.isNotNull() & matches(allow))
    if deny:
        out = out.filter(s.isNull() | ~matches(deny))
    return out


# ---------------------------------------------------------------------------
# Round-9 driver slot: URL canonicalization + keep-first dedup, oracled
# ---------------------------------------------------------------------------

# Planted URL variants (a pure function of doc_id, identical on both
# sides): groups of doc_ids sharing g = doc_id % 100 carry the SAME page
# under scheme/host case, default-port, fragment, param-order, and
# tracking-param variations — every canonicalization rule is exercised —
# while variant 3 is a unique page per doc.  The oracle re-implements the
# FULL general canonicalization in SQL (scheme/host extraction, port
# strip, param filter+sort), not a shortcut over the planted shape.
_URL_VARIANTS_SQL = """
    SELECT doc_id,
           CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 0 THEN 'https://ex' || (doc_id % 100) % 7 || '.org/page/'
                         || doc_id % 100 || '?id=' || doc_id % 100 || '&x=1'
             WHEN 1 THEN 'HTTPS://EX' || (doc_id % 100) % 7 || '.ORG:443/page/'
                         || doc_id % 100 || '?x=1&id=' || doc_id % 100 || '#frag'
             WHEN 2 THEN 'https://ex' || (doc_id % 100) % 7 || '.org/page/'
                         || doc_id % 100 || '?id=' || doc_id % 100
                         || '&utm_source=tw&x=1'
             ELSE 'https://ex' || (doc_id % 100) % 7 || '.org/other/' || doc_id
           END AS url
    FROM documents
"""


def _sql_canon_ctes(src: str, p: str = "u") -> str:
    """CTE chain re-deriving :func:`canonical_url` (strip_tracking=True) in
    SQL over ``src(doc_id, url)`` → final CTE ``{p}canon(doc_id, canon)``.
    ``p`` prefixes every CTE name so composed oracles (the crawl-chain
    slot embeds this next to the corpus-pipeline CTEs) cannot collide.
    Shared by the ``dedup_url`` and ``web_corpus_from_crawl`` oracles —
    ONE SQL rendition of the normalization arithmetic."""
    return f"""{p}c AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS u FROM {src}),
    {p}parts AS (
      SELECT doc_id,
             lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
             regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest
      FROM {p}c),
    {p}norm AS (
      SELECT doc_id, scheme,
             CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                  WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END AS hostport,
             CASE WHEN regexp_extract(rest, '^([^?]*)', 1) = '' THEN '/'
                  ELSE regexp_extract(rest, '^([^?]*)', 1) END AS path,
             regexp_extract(rest, '\\?(.*)$', 1) AS query
      FROM {p}parts),
    {p}q AS (
      SELECT doc_id, scheme, hostport, path, query,
             array_to_string(list_sort(list_filter(string_split(query, '&'),
               p -> NOT regexp_matches(p,
                 '^(utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid|ref|igshid)='))),
               '&') AS qs
      FROM {p}norm),
    {p}canon AS (
      SELECT doc_id,
             scheme || '://' || hostport || path ||
             CASE WHEN query = '' OR qs = '' THEN '' ELSE '?' || qs END AS canon
      FROM {p}q)"""


def dedup_url_query(spark, sf_dir):
    """Driver slot for :func:`canonical_url` + :func:`dedup_by_url`:
    plants deterministic URL variants per doc_id (case, default port,
    fragment, parameter order, tracking parameters — every rule gets
    exercised), keeps the smallest doc_id per canonical URL, and returns
    (doc_id, canon).  The oracle re-derives the FULL canonicalization in
    SQL, so the normalization arithmetic and the keep-first window are
    hash-checked end to end."""
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    g = F.col("doc_id") % 100
    host = F.concat(F.lit("ex"), (g % 7).cast("string"), F.lit(".org"))
    HOST = F.concat(F.lit("EX"), (g % 7).cast("string"), F.lit(".ORG:443"))
    page = F.concat(F.lit("/page/"), g.cast("string"))
    idq = F.concat(F.lit("?id="), g.cast("string"))
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("https://"), host, page, idq, F.lit("&x=1")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("HTTPS://"), HOST, page, F.lit("?x=1&id="),
                g.cast("string"), F.lit("#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://"), host, page, idq,
                F.lit("&utm_source=tw&x=1"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), host, F.lit("/other/"),
                F.col("doc_id").cast("string"),
            )
        )
    )
    built = d.select("doc_id", url.alias("url"))
    return (
        dedup_by_url(built, strip_tracking=True)
        .select(
            "doc_id",
            canonical_url(F.col("url"), strip_tracking=True).alias("canon"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Round-10 slot union: URL canonicalization dedup + domain policy filter
# ---------------------------------------------------------------------------

# Planted crawl hosts (a pure function of doc_id, identical in both
# engines).  The cases are chosen to make a WRONG matcher fail the hash:
# 'notspam.biz' string-suffix-matches the deny entry 'spam.biz' but is NOT
# a label suffix of it; 'ex0.org.evil.com' string-PREFIX-matches the allow
# entry 'ex0.org' but must not be allowed; 'EX0.ORG' checks case folding;
# 'sub.sub.ex1.org' checks depth>1 suffix walk; NULL checks the
# drop-under-allow / keep-under-deny asymmetry.
_DOMAIN_SRC_SQL = """
    SELECT doc_id,
           CASE CAST(doc_id % 10 AS INTEGER)
             WHEN 0 THEN NULL
             WHEN 1 THEN 'ex' || doc_id % 3 || '.org'
             WHEN 2 THEN 'blog.ex' || doc_id % 3 || '.org'
             WHEN 3 THEN 'spam.biz'
             WHEN 4 THEN 'ads.spam.biz'
             WHEN 5 THEN 'EX0.ORG'
             WHEN 6 THEN 'other.net'
             WHEN 7 THEN 'notspam.biz'
             WHEN 8 THEN 'ex0.org.evil.com'
             ELSE 'sub.sub.ex1.org'
           END AS source
    FROM documents
"""

_URL_OPS_ORACLE = f"""
    WITH built AS ({_URL_VARIANTS_SQL}),
    {_sql_canon_ctes('built')},
    kept AS (
      SELECT doc_id, canon,
             ROW_NUMBER() OVER (PARTITION BY canon ORDER BY doc_id) AS rn
      FROM ucanon),
    src AS ({_DOMAIN_SRC_SQL}),
    -- label-suffix match re-derived generally: every dot-suffix of the
    -- lowercased host, intersected with the policy list (NOT a LIKE /
    -- endswith shortcut — the planted traps exist to kill that)
    suf AS (
      SELECT doc_id, source,
             list_transform(
               range(1, len(string_split(lower(source), '.')) + 1),
               i -> array_to_string(string_split(lower(source), '.')[i:], '.')
             ) AS sufs
      FROM src),
    pol AS (
      SELECT doc_id, source,
             len(list_intersect(sufs, ['ex0.org','ex1.org','ex2.org'])) > 0 AS allowed,
             len(list_intersect(sufs, ['spam.biz'])) > 0 AS denied
      FROM suf),
    unioned AS (
      SELECT 'dedup' AS op, CAST(NULL AS VARCHAR) AS policy, doc_id, canon,
             CAST(NULL AS VARCHAR) AS source
      FROM kept WHERE rn = 1
      UNION ALL
      SELECT 'domain', 'allowdeny', doc_id, CAST(NULL AS VARCHAR), source
      FROM pol WHERE source IS NOT NULL AND allowed AND NOT denied
      UNION ALL
      SELECT 'domain', 'deny', doc_id, CAST(NULL AS VARCHAR), source
      FROM pol WHERE source IS NULL OR NOT denied)
    SELECT op, policy, doc_id, canon, source FROM unioned
    ORDER BY op, coalesce(policy, ''), doc_id
"""


def domain_filter_query(spark, sf_dir):
    """Driver slot for :func:`filter_by_domain`: plants deterministic crawl
    hosts per doc_id — including the two matcher traps ('notspam.biz' is a
    string suffix of nothing on the deny list but ENDS WITH 'spam.biz';
    'ex0.org.evil.com' STARTS WITH an allowed domain) plus case folding,
    depth-2 subdomains, and NULL sources — then applies both policy shapes:
    allow+deny (NULL dropped, deny wins) and pure deny (NULL kept).  The
    oracle re-derives the label-suffix walk generally in SQL (dot-suffix
    enumeration + set intersection), so a LIKE/endswith shortcut on either
    side fails the hash."""
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 10).cast("int")
    k = (F.col("doc_id") % 3).cast("string")
    source = (
        F.when(m == 0, F.lit(None).cast("string"))
        .when(m == 1, F.concat(F.lit("ex"), k, F.lit(".org")))
        .when(m == 2, F.concat(F.lit("blog.ex"), k, F.lit(".org")))
        .when(m == 3, F.lit("spam.biz"))
        .when(m == 4, F.lit("ads.spam.biz"))
        .when(m == 5, F.lit("EX0.ORG"))
        .when(m == 6, F.lit("other.net"))
        .when(m == 7, F.lit("notspam.biz"))
        .when(m == 8, F.lit("ex0.org.evil.com"))
        .otherwise(F.lit("sub.sub.ex1.org"))
    )
    built = d.select("doc_id", source.alias("source"))
    allow = ["ex0.org", "ex1.org", "ex2.org"]
    deny = ["spam.biz"]
    both = filter_by_domain(built, allow=allow, deny=deny).withColumn(
        "policy", F.lit("allowdeny")
    )
    deny_only = filter_by_domain(built, deny=deny).withColumn(
        "policy", F.lit("deny")
    )
    return both.unionAll(deny_only)


@query("dedup_url", oracle=_URL_OPS_ORACLE)
def url_ops_query(spark, sf_dir):
    """Tagged union of the URL-level curation family (round-10 rotation,
    same pattern as ``packing_ops``/``curation_ops``): op='dedup' is the
    round-9 :func:`dedup_url_query` unchanged (full canonicalization +
    keep-first, SQL-re-derived); op='domain' is :func:`domain_filter_query`
    exercising :func:`filter_by_domain` under both policy shapes.  One
    slot, two operators, every row hash-checked."""
    from ..functions.union import pad_union

    schema = [
        ("op", "string"), ("policy", "string"), ("doc_id", "bigint"),
        ("canon", "string"), ("source", "string"),
    ]
    return pad_union(
        schema,
        (
            dedup_url_query(spark, sf_dir),
            {"op": F.lit("dedup"), "doc_id": "doc_id", "canon": "canon"},
        ),
        (
            domain_filter_query(spark, sf_dir),
            {
                "op": F.lit("domain"), "policy": "policy",
                "doc_id": "doc_id", "source": "source",
            },
        ),
    ).orderBy("op", F.coalesce("policy", F.lit("")), "doc_id")

