"""End-to-end training-corpus preparation — the composition the individual
operators exist for (the RefinedWeb/SlimPajama-shaped pipeline):

    quality filter → exact dedup (keep first per content)
    → near-dup pairs (MinHash+LSH, production config, optional df-cap)
    → connected-components canonicalization
    → token-stream packing → deterministic train/val/test splits

One call returns every surviving document with its corpus offset, context-
window chunk range, split assignment, and dedup lineage (``n_merged``).

Scale posture is inherited from the stages (each documented in its own
module): digest-grouped exact dedup, banded near-dup candidates (never
all-pairs), size-gated components (driver union-find for small pair sets,
O(log n) distributed rounds above), distributed prefix-sum packing,
pure-per-row split assignment.  Nothing in the composition adds a
driver-side loop over the corpus or an unbounded shuffle: the quality gate
is a per-row column expression (no join), and the only glue joins are
against the broadcast-sized survivor/lineage sets (near-dup clusters are a
small fraction of any corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_keys import ws_token_count
from ..registry import query
from ..sources.tables import load_table
from .clustering import _materialize, dedup_canonical
from .dedup import keep_first_per_content, minhash_lsh_pairs
from .packing import assign_split, chunk_token_stream
from .text import quality_features

DEFAULT_FRACTIONS = {"train": 0.98, "val": 0.01, "test": 0.01}
QUALITY_FLOOR = 0.3
CONTEXT_LEN = 512


def prepare_training_corpus(
    spark,
    sf_dir: str,
    *,
    context_len: int = 512,
    fractions: dict[str, float] | None = None,
    quality_floor: float = 0.3,
    hash_fn: str = "xxhash64",
    max_df: float | None = None,
    docs: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """documents → training-ready corpus manifest.

    ``shingles``: a pre-built shingle frame covering AT LEAST the quality
    survivors under the same ``hash_fn`` convention (round 18: the
    ``corpus_pipeline`` slot shingles the raw corpus ONCE for its card
    arm and passes it here; shingling is per-row, so the survivors'
    shingles are exactly the raw frame semi-joined to the surviving ids).
    Incompatible with ``max_df`` (the df cap is applied at shingle build).

    Output columns: (doc_id, n_tokens, offset, chunk_first, chunk_last,
    n_chunks, split, n_merged) — one row per SURVIVING document, in corpus
    (doc_id) order.  ``n_merged`` counts the near-dups this survivor
    absorbed (0 = unique).

    Deterministic end to end: the quality gate is per-row arithmetic, both
    dedup stages keep min(doc_id), packing offsets depend only on doc_id
    order, and splits are md5-mod functions of the id — re-running on the
    same corpus (or any repartitioning of it) reproduces the manifest
    bit-for-bit (asserted in tests/test_corpus.py).
    """
    fractions = fractions or DEFAULT_FRACTIONS
    d = docs if docs is not None else load_table(spark, sf_dir, "documents")

    # 1. quality gate — a per-row FILTER on the shared quality expression
    # (``quality_features`` adds the score as a column: no join, no shuffle;
    # joining a derived per-doc score table back to docs would shuffle the
    # whole corpus against itself for a value computable in place)
    kept = (
        quality_features(d)
        .filter(F.col("quality") >= quality_floor)
        .select("doc_id", "text")
    )

    # 2. exact dedup, keep-first per content digest (THE shared definition —
    # same helper as the dedup_exact registry entry, so the two can't drift).
    # localCheckpoint: the shingle stage, the canonicalization joins, the
    # packing stage, and the optional max_df doc count all consume `kept`;
    # without it each branch re-runs the scan + quality filter + dedup
    # window.  Chosen over cache() because its storage is released when the
    # reference is garbage-collected (a cache() here would pin the doc set
    # in executor memory for the session lifetime).  At 100 TB write an
    # intermediate table instead.
    kept = keep_first_per_content(kept).localCheckpoint()

    # 3. near-dup pairs on the survivors → components → canonical docs
    # (sort=False: the components shuffle the pairs by node id anyway)
    if shingles is not None:
        # restrict the caller's (raw-corpus) shingle frame to the
        # survivors: per-row shingling commutes with the id filter, so
        # this IS shingles_df(kept) without a second tokenize+window+
        # distinct pass over the corpus
        shingles = shingles.join(
            kept.select("doc_id"), "doc_id", "semi"
        )
    pairs = minhash_lsh_pairs(
        spark, sf_dir, hash_fn=hash_fn, max_df=max_df, docs=kept,
        sort=False, shingles=shingles,
    ).select("doc_a", "doc_b")
    canon = dedup_canonical(kept, pairs)

    # 4. pack the canonical corpus into context windows + assign splits
    packed = chunk_token_stream(canon, context_len)
    packed = assign_split(packed, fractions)
    return packed.join(
        canon.select("doc_id", "n_merged"), "doc_id"
    ).orderBy("doc_id")


def _pipeline_oracle(src: str = "documents", prelude: str = "") -> str:
    """The WHOLE pipeline recomputed in one DuckDB statement, assembled from
    the individually-proven oracle fragments: quality score (text.py) →
    keep-first window → shingles + md5 MinHash banding + exact-Jaccard
    verify (dedup.py) → recursive transitive-closure components
    (clustering.py) → global-window prefix sum + md5-mod splits
    (packing.py).  Any drift in any stage of the Spark composition — or in
    how the stages hand data to each other — breaks the hash compare.

    ``src``/``prelude`` make the statement composable: the crawl-chain
    slot prepends its WET-synthesis + URL-dedup CTEs and points ``src`` at
    the URL-surviving doc set, re-using this exact text for the shared
    curation tail (one rendition, no drift)."""
    from .dedup import _sql_minhash_pairs_cte, _sql_shd
    from .packing import _sql_chunk_split_cols
    from .text import _sql_quality_cte

    return f"""
    WITH RECURSIVE
    {prelude}{_sql_quality_cte(src)},
    kf AS (
        SELECT doc_id, text FROM (
            SELECT d.doc_id, d.text,
                   ROW_NUMBER() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) AS rn
            FROM {src} d JOIN qual q
              ON q.doc_id = d.doc_id AND q.quality >= {QUALITY_FLOOR})
        WHERE rn = 1),
    {_sql_shd("kf")},
    {_sql_minhash_pairs_cte()},
    edges AS (SELECT doc_a AS u, doc_b AS v FROM mh_pairs
              UNION SELECT doc_b, doc_a FROM mh_pairs),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    canon AS (SELECT component, MIN(id) AS keep_id, COUNT(*) - 1 AS n_merged
              FROM comp GROUP BY component),
    surv AS (
      SELECT kf.doc_id, kf.text, COALESCE(c.n_merged, 0) AS n_merged
      FROM kf LEFT JOIN canon c ON c.keep_id = kf.doc_id
      WHERE kf.doc_id NOT IN
            (SELECT id FROM comp WHERE id NOT IN (SELECT keep_id FROM canon))),
    tok2 AS (
      SELECT doc_id, n_merged,
             CAST(len(list_filter(string_split_regex(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                  t -> t <> '')) AS INTEGER) AS n_tokens
      FROM surv),
    cum AS (
      SELECT doc_id, n_merged, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
                 ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS "offset"
      FROM tok2)
    SELECT doc_id, n_tokens, "offset",
           {_sql_chunk_split_cols(CONTEXT_LEN)},
           n_merged
    FROM cum ORDER BY doc_id
    """


def _card_ctes() -> str:
    """Dataset-card CTEs over the RAW documents table → ``cardrows(metric,
    n, v)`` — the SQL twin of ``report.corpus_report_rows`` (md5 config).
    Reuses the pipeline statement's ``qual`` CTE (same quality arithmetic)
    and instantiates a second, card-prefixed shingle+MinHash chain for the
    raw-corpus near-dup count."""
    from .dedup import _sql_minhash_pairs_cte, _sql_shd

    return f"""{_sql_shd("documents", p="card")},
    {_sql_minhash_pairs_cte(p="card")},
    cardflag AS (SELECT COUNT(DISTINCT doc_b) AS nf FROM cardmh_pairs),
    cardagg AS (
      SELECT COUNT(*) AS nd,
             SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS nn,
             MIN(LENGTH(text)) AS lmin, MAX(LENGTH(text)) AS lmax,
             SUM(LENGTH(text)) AS lsum,
             COUNT(DISTINCT COALESCE(md5(text), '__NULL_TEXT__')) AS nu
      FROM documents),
    cardq AS (
      SELECT SUM(CASE WHEN quality < 0.3 THEN 1 ELSE 0 END) AS nlow,
             CAST(SUM(CAST(round(quality, 9) AS DECIMAL(20,9))) AS DOUBLE)
               AS qsum
      FROM qual),
    cardrows AS (
      SELECT 'n_docs' AS metric, CAST(nd AS BIGINT) AS n,
             CAST(NULL AS DOUBLE) AS v FROM cardagg
      UNION ALL SELECT 'n_null_text', nn, NULL FROM cardagg
      UNION ALL SELECT 'len_min', lmin, NULL FROM cardagg
      UNION ALL SELECT 'len_max', lmax, NULL FROM cardagg
      UNION ALL SELECT 'len_sum', lsum, NULL FROM cardagg
      UNION ALL SELECT 'n_unique_content', nu, NULL FROM cardagg
      UNION ALL SELECT 'exact_dup_frac', NULL,
                       1.0 - CAST(nu AS DOUBLE) / nd FROM cardagg
      UNION ALL SELECT 'quality_low', nlow, NULL FROM cardq
      UNION ALL SELECT 'quality_sum_q9', NULL, qsum FROM cardq
      UNION ALL SELECT 'n_near_dup', nf, NULL FROM cardflag
      UNION ALL SELECT 'lang:' || lang, COUNT(*), NULL
                FROM documents GROUP BY lang)"""


def _pipeline_union_oracle() -> str:
    """The pack rows + the dataset-card rows in ONE statement: splice the
    card CTEs after the pipeline chain (which ends at ``cum``) and union
    the two arms."""
    from .packing import _sql_chunk_split_cols

    base = _pipeline_oracle()
    marker = "\n    SELECT doc_id, n_tokens,"
    assert marker in base, "pipeline oracle tail changed"
    body = base.rsplit(marker, 1)[0]
    return f"""{body},
    {_card_ctes()}
    SELECT * FROM (
    SELECT 'pack' AS op, doc_id, n_tokens, "offset",
           {_sql_chunk_split_cols(CONTEXT_LEN)},
           n_merged,
           CAST(NULL AS VARCHAR) AS metric, CAST(NULL AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS v
    FROM cum
    UNION ALL
    SELECT 'card', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           metric, n, v
    FROM cardrows
    ) ORDER BY op, COALESCE(doc_id, -1), COALESCE(metric, '')
    """


@query("corpus_pipeline", oracle=_materialize(_pipeline_union_oracle()))
def corpus_pipeline(spark, sf_dir):
    """The composed pipeline as a single driver-checked query (md5 hash
    configuration so the MinHash stage is oracle-reproducible; the
    production configuration swaps ``hash_fn="xxhash64"`` and an optional
    ``max_df`` — identical plan shape, see ``prepare_training_corpus``).

    Round-11 continuation: op='card' rides the DATASET-CARD statistics
    (`report.corpus_report_rows`) over the raw documents table — size,
    length envelope, content-digest uniqueness, banded-MinHash near-dup
    count, 9-dp-decimal quality sum, language composition — so the
    release artifact's numbers are driver-hashed alongside the packed
    corpus they describe."""
    from ..functions.union import pad_union
    from .dedup import shingles_df
    from .report import corpus_report_rows

    # Round 18 (guide §6.1): the slot's two arms consumed the documents
    # table independently — the card arm checkpointed the raw corpus for
    # its aggregates AND ran a second complete tokenize+shingle+distinct
    # pass for its near-dup count, while the pack arm shingled the kept
    # subset.  Shingling is per-row, so ONE raw-corpus shingle frame
    # serves both: the card's pair chain reads it whole, the pipeline
    # semi-joins it to the quality/exact-dedup survivors.  One documents
    # scan + one shingle pass for the whole slot (was two of each).
    d = load_table(spark, sf_dir, "documents").localCheckpoint()
    shd_raw = shingles_df(d).localCheckpoint()  # md5 config: string shingles
    packed = prepare_training_corpus(
        spark,
        sf_dir,
        context_len=CONTEXT_LEN,
        quality_floor=QUALITY_FLOOR,
        hash_fn="md5",
        docs=d,
        shingles=shd_raw,
    )
    card = corpus_report_rows(
        d, hash_fn="md5", prepped=True, shingles=shd_raw
    )
    schema = [
        ("op", "string"), ("doc_id", "bigint"), ("n_tokens", "int"),
        ("offset", "bigint"), ("chunk_first", "bigint"),
        ("chunk_last", "bigint"), ("n_chunks", "int"), ("split", "string"),
        ("n_merged", "bigint"), ("metric", "string"), ("n", "bigint"),
        ("v", "double"),
    ]
    return pad_union(
        schema,
        (
            packed,
            {
                "op": F.lit("pack"), "doc_id": "doc_id",
                "n_tokens": "n_tokens", "offset": "offset",
                "chunk_first": "chunk_first", "chunk_last": "chunk_last",
                "n_chunks": "n_chunks", "split": "split",
                "n_merged": "n_merged",
            },
        ),
        (
            card,
            {"op": F.lit("card"), "metric": "metric", "n": "n", "v": "v"},
        ),
    ).orderBy(
        "op", F.coalesce("doc_id", F.lit(-1)), F.coalesce("metric", F.lit(""))
    )


def curate_documents(
    spark,
    sf_dir: str,
    *,
    accounting: list | None = None,
    benchmark: DataFrame | None = None,
    contamination_frac: float = 0.5,
    contamination_n: int = 8,
    benchmark_near: DataFrame | None = None,
    near_dup_threshold: float | None = None,
    benchmark_emb: DataFrame | None = None,
    semantic_contamination_threshold: float = 0.95,
    max_dup_gram_frac: float | None = None,
    mix_rates: dict | None = None,
    html: bool = False,
    cjk_fallback: bool = False,
    c4_lines: bool = False,
    redact: bool = False,
    strip_boilerplate_min_docs: int | None = None,
    strip_dup_spans_k: int | None = None,
    expectations: list | None = None,
    classifier_weights: dict | None = None,
    classifier_floor: float = 0.5,
    classifier_bias: float = 0.0,
    quality_top_frac: tuple | None = None,
    ppl_max: float | None = None,
    ppl_min: float | None = None,
    lm_model=None,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    dsir_m: int = 4096,
    dsir_seed: str = "dsir-seed",
    cluster_alpha: float | None = None,
    cluster_k: int = 16,
    semantic_threshold: float | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """The FULL curation front-end, returning the CURATED DOCUMENT frame
    — the complete RefinedWeb-shaped flow in one call (chain
    :func:`curate_and_prepare` for packing, or :func:`crawl_to_shards`
    for the token-budgeted training-shard export):

        [HTML→text] → [CJK pre-tokenization] → [domain mixing]
        → [repetition filter] → [benchmark decontamination]
        → [semantic decontamination] → [boilerplate line strip]
        → [substring dedup]
        → [learned quality filter] → [perplexity band] → [DSIR selection]
        → [cluster rebalance] → [semantic dedup] → [PII redaction]
        → [validation gate] → quality → exact dedup → near-dup canonical
        → pack → split

    - ``html``: the text column holds raw crawl HTML — run
      ``operators.html.html_to_text`` first (narrow regexp chain, scan
      speed) so every downstream stage sees clean block-structured text.
    - ``cjk_fallback``: apply ``text.pretokenize_cjk`` (each CJK char
      becomes its own token) so shingling/span-dedup/packing work on
      scripts without whitespace.
    - ``c4_lines``: the C4 per-line cleanup (``selection.c4_line_filter``
      — terminal punctuation, minimum words, blocklist, min-surviving-
      lines doc drop) applied before every statistical filter.

    Every bracketed stage is opt-in and composes as a per-row filter, a
    broadcast/left-anti join against a per-doc statistic, or (substring
    dedup) one gram-count pass — nothing adds an unbounded shuffle to the
    base pipeline (each stage's scale posture is documented in
    ``operators/curation.py`` / ``operators/dedup.py``).

    - ``benchmark`` + ``contamination_frac``: drop documents whose shared
      ``contamination_n``-gram fraction with ANY benchmark item reaches the
      threshold (eval-set leakage).
    - ``benchmark_near`` (+ ``near_dup_threshold``): ALSO drop documents
      that are shingle-Jaccard NEAR-DUPLICATES of a benchmark item
      (``contamination.minhash_contamination`` — banded candidates, exact
      verify; catches lightly-reworded leaks that break verbatim
      n-grams).  May be the same frame as ``benchmark``.
    - ``benchmark_emb`` (+ ``semantic_contamination_threshold``): ALSO drop
      documents whose embedding is within cosine threshold of any
      benchmark embedding (``contamination.semantic_contamination`` — catches
      the paraphrased leakage the n-gram filter misses; doc_id ≡ vec_id,
      docs without an embeddings row pass through).
    - ``max_dup_gram_frac``: drop template/boilerplate docs whose
      intra-document duplicate-trigram fraction exceeds the cap.
    - ``mix_rates``: deterministic per-``source`` subsampling rates
      (``temperature_mix_rates(stratum_counts(d), alpha)`` produces the
      standard temperature-rebalanced map).
    - ``strip_boilerplate_min_docs``: strip every line occurring in >= that
      many distinct documents (``dedup.strip_boilerplate_lines`` — the
      CCNet paragraph pass) before the finer-grained span dedup, so
      navbars/footers don't masquerade as duplicated spans downstream.
    - ``strip_dup_spans_k``: remove every duplicated ≥k-token span except
      its globally-first occurrence (``strip_duplicate_spans`` — the
      Lee-et-al. pass) BEFORE downstream hashing, so digests/shingles/
      token counts see the stripped text.
    - ``classifier_weights`` (+ ``classifier_floor``/``classifier_bias``):
      drop documents the hashed-ngram linear scorer
      (``text.classifier_score``) rates below the floor — the learned
      filter between the heuristic quality floor and LLM judging.
    - ``quality_top_frac`` = ``(num, den)`` (requires
      ``classifier_weights``): per-SOURCE percentile selection — keep
      each source's top num/den fraction by classifier score
      (``selection.quality_top_fraction``, ties included), so a
      uniformly-low-scoring domain is thinned, not erased — the
      FineWeb-Edu-style selection knob.  REPLACES the global
      ``classifier_floor`` stage (a floor would erase low-scoring
      domains before the percentile ever saw them); the corpus is
      scored once.
    - ``ppl_max`` / ``ppl_min`` (+ ``lm_model``): CCNet perplexity band —
      drop documents whose bigram-LM perplexity (``lm.lm_score``) falls
      outside [ppl_min, ppl_max]; the high tail is gibberish/OCR noise,
      the low tail is degenerate repetition.  ``lm_model``: a
      ``lm.train_bigram_lm`` triple (e.g. trained on a reference corpus);
      ``None`` self-trains on the surviving documents at this stage.
    - ``dsir_target`` (+ ``dsir_k``/``dsir_m``/``dsir_seed``): DSIR
      importance resampling (``operators/dsir.py``) — keep the ``dsir_k``
      documents whose hashed-ngram distribution best matches the target
      corpus, sampled without replacement via deterministic Gumbel top-k.
      Runs after the quality filters so the model fits on surviving text.
    - ``cluster_alpha`` (+ ``cluster_k``): cluster-balanced rebalance
      (``clustering.kmeans_topics`` + ``cluster_balanced_sample`` over
      the aligned ``embeddings`` table) — flattens topic skew with
      temperature ``alpha``; documents without an embeddings row pass
      through untouched (same coverage contract as the semantic stages).
    - ``semantic_threshold``: embedding-space dedup (SemDeDup recipe,
      ``similarity.semantic_dedup`` over the aligned ``embeddings`` table
      — doc_id ≡ vec_id in this schema): for each group of documents
      whose embeddings are mutually near (cosine ≥ threshold), keep only
      the smallest-id canonical.  Complements the TEXT near-dup stage
      downstream: paraphrases embed close but share few shingles.
    - ``redact``: scrub PII in the surviving text BEFORE dedup/packing, so
      the downstream digests and token counts see the redacted form.
    - ``expectations``: ``operators.validation`` checks asserted against
      the curated front-end output (one aggregate pass; raises
      ``ValidationError``) — the guard that stops an over-aggressive
      filter configuration from silently emptying the corpus before the
      expensive dedup/pack stages run.
    """
    from .contamination import ngram_contamination
    from .curation import redact_pii, repetition_stats
    from .selection import stratified_sample

    # docs= overrides the table load, the same escape hatch
    # prepare_training_corpus has — the crawl front end
    # (web_corpus_from_crawl) feeds WET/WARC-derived frames through here
    d = docs if docs is not None else load_table(spark, sf_dir, "documents")

    def _acct(stage):
        # opt-in per-stage accounting: each count() is one extra action
        # over the (cut) frame — the audit a production pipeline logs
        if accounting is not None:
            accounting.append((stage, d.count()))

    _acct("input")
    # Every stage below except mixing/redaction is a SELF-JOIN (d joined
    # against a statistic derived from d).  Stacking self-joins without a
    # lineage cut doubles the upstream DAG per stage — k stages recompute
    # the base chain up to 2^k times (measured: the all-stages config took
    # ~400 s at sf0.001 uncut, ~20 s cut).  So: cut lineage right before a
    # self-joining stage whenever an earlier stage already transformed d.
    # On a cluster the cuts become persisted intermediates — the standard
    # shape for a multi-stage curation job.
    dirty = False

    def _cut(df):
        return df.localCheckpoint() if dirty else df

    if html:
        from .html import html_to_text

        d = html_to_text(d)
        dirty = True
        _acct("html")
    if cjk_fallback:
        from .text import pretokenize_cjk

        d = pretokenize_cjk(d)
        dirty = True
        _acct("cjk")
    if c4_lines:
        # C4 line rules run FIRST among the text filters: nav/button/
        # banner lines are noise every downstream statistic would
        # otherwise dilute on.  Purely local, no aggregate (curation.
        # c4_line_filter docstring); drops the rebuilt text in place.
        # This stage self-joins d, so cut lineage first — otherwise the
        # html/cjk transforms above re-evaluate on both join sides.
        from .selection import c4_line_filter

        d = _cut(d)
        d = d.join(
            c4_line_filter(d).select(
                "doc_id", F.col("text").alias("__c4_text")
            ),
            "doc_id",
        ).withColumn("text", F.col("__c4_text")).drop("__c4_text")
        dirty = True
        _acct("c4_lines")
    if mix_rates is not None:
        d = stratified_sample(d, mix_rates)
        dirty = True
        _acct("mix")
    if max_dup_gram_frac is not None:
        d = _cut(d)
        ok = repetition_stats(d).filter(
            F.col("dup_gram_frac") <= max_dup_gram_frac
        )
        d = d.join(ok.select("doc_id"), "doc_id")
        dirty = True
        _acct("repetition")
    if benchmark is not None:
        d = _cut(d)
        bad = (
            ngram_contamination(d, benchmark, n=contamination_n)
            .filter(F.col("frac_bench_matched") >= contamination_frac)
            .select("doc_id")
            .distinct()
        )
        d = d.join(bad, "doc_id", "left_anti")
        dirty = True
        _acct("decontam_ngram")
    if benchmark_near is not None:
        from .contamination import minhash_contamination

        d = _cut(d)
        bad = (
            minhash_contamination(
                d, benchmark_near, threshold=near_dup_threshold
            )
            .select("doc_id")
            .distinct()
        )
        d = d.join(bad, "doc_id", "left_anti")
        dirty = True
        _acct("decontam_fuzzy")
    if benchmark_emb is not None:
        from .contamination import semantic_contamination

        e = load_table(spark, sf_dir, "embeddings")
        bad = semantic_contamination(
            e, benchmark_emb, threshold=semantic_contamination_threshold
        ).select(F.col("vec_id").alias("doc_id"))
        d = d.join(bad, "doc_id", "left_anti")
        dirty = True
        _acct("decontam_semantic")
    if strip_boilerplate_min_docs is not None:
        from .dedup import strip_boilerplate_lines

        d = strip_boilerplate_lines(_cut(d), min_docs=strip_boilerplate_min_docs)
        dirty = True
        _acct("boilerplate")
    if strip_dup_spans_k is not None:
        from .dedup import strip_duplicate_spans

        d = strip_duplicate_spans(_cut(d), k=strip_dup_spans_k)
        dirty = True
        _acct("dup_spans")
    if classifier_weights is not None and quality_top_frac is None:
        from .text import classifier_score

        d = _cut(d)
        keep = classifier_score(
            d, classifier_weights, bias=classifier_bias
        ).filter(F.col("score") >= classifier_floor)
        d = d.join(keep.select("doc_id"), "doc_id")
        dirty = True
        _acct("classifier_floor")
    if quality_top_frac is not None:
        from .selection import quality_top_fraction
        from .text import classifier_score

        if classifier_weights is None:
            raise ValueError(
                "quality_top_frac requires classifier_weights"
            )
        num, den = quality_top_frac
        d = _cut(d)
        scored = classifier_score(
            d, classifier_weights, bias=classifier_bias
        ).join(d.select("doc_id", "source"), "doc_id")
        selected, _ = quality_top_fraction(
            scored, num, den, score_col="score"
        )
        d = d.join(selected.select("doc_id"), "doc_id")
        dirty = True
        _acct("quality_top_frac")
    if ppl_max is not None or ppl_min is not None:
        from .lm import lm_score

        d = _cut(d)
        keep = lm_score(d, model=lm_model)
        if ppl_max is not None:
            keep = keep.filter(F.col("ppl") <= ppl_max)
        if ppl_min is not None:
            keep = keep.filter(F.col("ppl") >= ppl_min)
        d = d.join(keep.select("doc_id"), "doc_id")
        dirty = True
        _acct("perplexity")
    if dsir_target is not None:
        from .dsir import dsir_sample

        if dsir_k is None:
            raise ValueError("dsir_k is required with dsir_target")
        d = _cut(d)
        picked = dsir_sample(
            d, dsir_target, k=dsir_k, m=dsir_m, seed=dsir_seed
        )
        d = d.join(picked.select("doc_id"), "doc_id")
        dirty = True
        _acct("dsir")
    if cluster_alpha is not None:
        from .clustering import cluster_balanced_sample, kmeans_topics

        d = _cut(d)
        e = load_table(spark, sf_dir, "embeddings").join(
            d.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi"
        )
        # clamp k to the matched-embedding count: upstream filters (or a
        # docs= override whose ids are mostly absent from the embeddings
        # table) can leave < cluster_k vectors, and the documented
        # contract is pass-through, not a ValueError from kmeans_topics
        n_vecs = e.count()
        k_eff = min(cluster_k, n_vecs)
        if k_eff >= 2:
            _, labels = kmeans_topics(e, k=k_eff)
            kept = cluster_balanced_sample(
                d, labels, alpha=cluster_alpha
            ).select("doc_id")
            unlabeled = d.select("doc_id").join(
                labels.select(F.col("vec_id").alias("doc_id")),
                "doc_id",
                "left_anti",
            )
            d = d.join(kept.unionByName(unlabeled), "doc_id")
            dirty = True
            _acct("cluster_rebalance")
    if semantic_threshold is not None:
        from .similarity import semantic_dedup

        # Restrict to embeddings of SURVIVING docs first: a group whose
        # smallest-id member was already filtered out must elect a new
        # canonical among the survivors, not drop every remaining copy.
        # Then remove only confirmed non-canonical members (anti join) —
        # docs with no embeddings row pass through untouched (the
        # embeddings table may cover a subset of the corpus; at sf0.1 the
        # driver ships 5 000 docs but 2 000 vectors).
        e = load_table(spark, sf_dir, "embeddings").join(
            d.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi"
        )
        dupes = (
            semantic_dedup(e, threshold=semantic_threshold)
            .filter(~F.col("is_canonical"))
            .select(F.col("vec_id").alias("doc_id"))
        )
        d = d.join(dupes, "doc_id", "left_anti")
        dirty = True
        _acct("semantic_dedup")
    if redact:
        d = redact_pii(d, with_counts=False)
        dirty = True
        _acct("redact")
    if dirty:
        # Final cut before the manifest pipeline: it runs SEVERAL actions
        # (dedup, canonicalization, packing each materialize), and each
        # would otherwise re-execute the whole front-end tail — ANY enabled
        # stage (a review pass found the cheap-looking ones too: the
        # decontamination crossJoin, the repetition self-join) multiplies
        # by the number of downstream actions if left uncut.
        d = d.localCheckpoint()
    if expectations:
        from .validation import expect

        expect(d, expectations)
    _acct("curated")
    return d


#: keyword arguments consumed by the curation front-end — derived from
#: curate_documents' own signature so the router CANNOT drift when a
#: stage is added (review r14); everything else a composer receives
#: flows through to the packing/export tail
import inspect as _inspect

_CURATE_ARGS = tuple(
    n
    for n in _inspect.signature(curate_documents).parameters
    if n not in ("spark", "sf_dir")
)


def _split_curate_kwargs(kwargs):
    front = {k: kwargs.pop(k) for k in list(kwargs) if k in _CURATE_ARGS}
    return front, kwargs


def curate_and_prepare(spark, sf_dir: str, **kwargs) -> DataFrame:
    """:func:`curate_documents` chained onto
    ``prepare_training_corpus`` — curation front-end keywords are
    consumed here (see ``_CURATE_ARGS``); everything else (context_len,
    quality_floor, hash_fn, ...) flows to the packing tail.  Returns the
    packed/split frame; behavior identical to the pre-split monolith."""
    front, rest = _split_curate_kwargs(kwargs)
    d = curate_documents(spark, sf_dir, **front)
    return prepare_training_corpus(spark, sf_dir, docs=d, **rest)


def crawl_to_shards(
    spark,
    sf_dir: str,
    out_dir: str,
    *,
    total_tokens: int,
    epoch: int = 1,
    context_len: int = 2048,
    n_shards: int = 8,
    alpha=(1, 2),
    hash_fn: str = "xxhash64",
    **kwargs,
) -> tuple:
    """Crawl to training shards in ONE call — the complete product
    composition, every stage of which is individually oracle- or
    pytest-verified:

        curate_documents (c4 lines → signals/filters → classifier
        percentile → decontamination ×3 → dedup chain → ...)
        → per-domain token totals → integer temperature budgets (α)
        → token_budget_mixture (hash-order greedy fill)
        → training_manifest + write_training_shards (one sorted file
          per shard, loader-ready)

    Returns ``(selected, budgets)``: the SELECTED frame (key, domain,
    n_tokens, tok_before) the shards were written from, and the exact
    integer per-domain token budgets — together the audit that makes the
    export checkable row by row.  Pass ``accounting=[]`` to receive the
    per-stage document counts (the reconciliation audit: counts are
    non-increasing and the last entry is the selected count).

    Scale: the curation stages are the documented narrow/broadcast
    shapes; the selection adds one hash-partition shuffle; the export
    adds the one per-shard shuffle the write needs anyway."""
    from ..sources.sinks import write_training_shards
    from .selection import integer_power_budgets, token_budget_mixture

    front, rest = _split_curate_kwargs(kwargs)
    if rest:
        raise TypeError(f"unknown arguments: {sorted(rest)}")
    d = curate_documents(spark, sf_dir, **front).localCheckpoint()
    totals = {
        r["source"]: r["t"]
        for r in d.groupBy("source")
        .agg(F.sum(ws_token_count()).alias("t"))
        .collect()
        if r["source"] is not None
    }
    num, den = alpha
    budgets = integer_power_budgets(totals, total_tokens, num, den)
    sel = token_budget_mixture(d, budgets, hash_fn=hash_fn).localCheckpoint()
    write_training_shards(
        sel, out_dir, epoch, context_len, n_shards, hash_fn=hash_fn
    )
    acct = front.get("accounting")
    if acct is not None:
        acct.append(("selected", sel.count()))
    return sel, budgets


def web_corpus_from_crawl(
    spark,
    crawl_path: str,
    kind: str = "wet",
    url_dedup: bool = True,
    **curate_kwargs,
):
    """Crawl archives → training-ready corpus manifest, one call — the
    production composition of the whole round-9 ingestion front end:

    - ``kind='wet'``: Common Crawl ``.wet``/``.warc.wet.gz`` conversion
      records (text already extracted) via ``sources.wet.wet_to_documents``;
    - ``kind='warc'``: raw ``.warc``/``.warc.gz`` response archives — the
      HTML is stripped by ``html_to_text`` inside ``warc_to_documents``;
    - ``url_dedup``: collapse tracking-parameter republications FIRST
      (``curation.dedup_by_url`` — the cheapest pass, one window on the
      canonical URL, before any content hashing runs);
    - then the full :func:`curate_and_prepare` chain (quality gate, exact
      + near dedup, optional boilerplate/span stripping, contamination
      filters, packing, splits) with ``curate_kwargs`` passed through.

    Every stage is the already-tested operator — this entry only fixes
    the order (URL dedup before content work; HTML stripped before
    n_chars is computed, which ``warc_to_documents`` guarantees)."""
    from ..sources.wet import warc_to_documents, wet_to_documents

    if kind == "wet":
        docs = wet_to_documents(spark, crawl_path)
    elif kind == "warc":
        docs = warc_to_documents(spark, crawl_path)
    else:
        raise ValueError(f"unknown crawl kind {kind!r}")
    if url_dedup:
        from .curation import dedup_by_url

        docs = dedup_by_url(docs)
    return curate_and_prepare(spark, "", docs=docs.drop("url"), **curate_kwargs)


# ---------------------------------------------------------------------------
# Round-10 driver slot: the crawl chain end to end, oracled
# ---------------------------------------------------------------------------

# Fixture size: bounded and present at every SF (sf0.001 ships 50 docs).
_CRAWL_DOCS = 120
_CRAWL_GROUPS = 60


def _crawl_url(o: int) -> str:
    """Planted crawl URL for plain doc id ``o`` — groups of ``o`` and
    ``o + 60`` fetch the SAME page under different raw URLs, exercising the
    full canonicalization rule set on the way into URL dedup:
    case + default-port + fragment + param-order (g%3==0), tracking params
    (g%3==1), or a genuinely unique page (g%3==2).  Mirrored EXACTLY by
    the CASE in :func:`_crawl_src_sql` — both are pure functions of o."""
    g = o % _CRAWL_GROUPS
    h = g % 7
    if o < _CRAWL_GROUPS:
        return f"https://crawl{h}.example/page/{g}?id={g}&x=1"
    if g % 3 == 0:
        return f"HTTPS://CRAWL{h}.EXAMPLE:443/page/{g}?x=1&id={g}#frag"
    if g % 3 == 1:
        return f"https://crawl{h}.example/page/{g}?utm_source=tw&id={g}&x=1"
    return f"https://crawl{h}.example/other/{o}"


def _crawl_record_id(o: int) -> str:
    return f"<urn:uuid:rec-{o}>"


def _crawl_src_sql() -> str:
    """CTE ``crawlsrc(doc_id, text, url)``: the WET fixture re-derived from
    the documents table — doc_id is the Spark-side
    ``xxhash64(warc_record_id)`` via the precomputed VALUES mapping
    (``functions.xxh`` — DuckDB has no xxhash64), url is the planted
    variant, text passes through the WET write→parse byte roundtrip
    unchanged (Content-Length-exact by construction)."""
    from ..functions.xxh import xxhash64

    pairs = ", ".join(
        f"({o}, CAST({xxhash64(_crawl_record_id(o).encode())} AS BIGINT))"
        for o in range(_CRAWL_DOCS)
    )
    g = f"(d.doc_id % {_CRAWL_GROUPS})"
    return f"""hmap(orig_id, hid) AS (VALUES {pairs}),
    crawlsrc AS (
      SELECT hm.hid AS doc_id, d.text,
             CASE WHEN d.doc_id < {_CRAWL_GROUPS} THEN
                    'https://crawl' || {g} % 7 || '.example/page/' || {g}
                    || '?id=' || {g} || '&x=1'
                  WHEN {g} % 3 = 0 THEN
                    'HTTPS://CRAWL' || {g} % 7 || '.EXAMPLE:443/page/' || {g}
                    || '?x=1&id=' || {g} || '#frag'
                  WHEN {g} % 3 = 1 THEN
                    'https://crawl' || {g} % 7 || '.example/page/' || {g}
                    || '?utm_source=tw&id=' || {g} || '&x=1'
                  ELSE 'https://crawl' || {g} % 7 || '.example/other/' || d.doc_id
             END AS url
      FROM documents d JOIN hmap hm ON hm.orig_id = d.doc_id
      WHERE d.doc_id < {_CRAWL_DOCS})"""


def _crawl_oracle() -> str:
    """One DuckDB statement for the WHOLE crawl chain: WET synthesis
    (identity by construction — the oracle maps plain ids to the hashed
    record ids and takes text straight from ``documents``), the FULL URL
    canonicalization (shared ``curation._sql_canon_ctes``), the keep-first
    URL-dedup window, then the exact ``_pipeline_oracle`` curation tail
    (quality → exact dedup → MinHash components → packing → splits) over
    the URL survivors."""
    from .curation import _sql_canon_ctes

    prelude = f"""{_crawl_src_sql()},
    {_sql_canon_ctes('crawlsrc')},
    ukept AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY canon ORDER BY doc_id) AS rn
        FROM ucanon) WHERE rn = 1),
    urlkept AS (
      SELECT s.doc_id, s.text FROM crawlsrc s JOIN ukept USING (doc_id)),
    """
    return _pipeline_oracle(src="urlkept", prelude=prelude)


# Planted unparsable member for the crawl-report rows: 15 bytes of valid
# gzip whose decompressed content has no WARC header block, so the walk
# drops ALL 15 bytes with one diagnostic row — the malformed-accounting
# columns are then non-vacuous literals the oracle re-states.
_CRAWL_JUNK = b"NOT A WARC FILE"

_CRAWL_REPORT_SQL = f"""
    SELECT CAST(1 AS BIGINT) AS n_malformed_files,
           CAST({len(_CRAWL_JUNK)} AS BIGINT) AS bytes_dropped,
           COUNT(*) AS n_records,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_payload_bytes,
           CAST(SUM(CASE WHEN strlen(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_empty
    FROM documents WHERE doc_id < {{n}}
""".replace("{n}", str(_CRAWL_DOCS))


@query(
    "web_corpus_from_crawl",
    oracle=_materialize(f"""
    SELECT * FROM (
    SELECT 'doc' AS op, doc_id, n_tokens, "offset", chunk_first, chunk_last,
           n_chunks, split, n_merged,
           CAST(NULL AS BIGINT) AS n_malformed_files,
           CAST(NULL AS BIGINT) AS bytes_dropped,
           CAST(NULL AS BIGINT) AS n_records,
           CAST(NULL AS BIGINT) AS total_payload_bytes,
           CAST(NULL AS BIGINT) AS n_empty
    FROM ({_crawl_oracle()})
    UNION ALL
    SELECT 'report', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           n_malformed_files, bytes_dropped, n_records,
           total_payload_bytes, n_empty
    FROM ({_CRAWL_REPORT_SQL})
    ) ORDER BY op, COALESCE(doc_id, -1)
    """),
)
def web_corpus_crawl_query(spark, sf_dir):
    """Driver slot for :func:`web_corpus_from_crawl` — crawl archive →
    URL dedup → curation → manifest, end to end: synthesizes a
    deterministic PER-RECORD-GZIP ``.warc.wet.gz`` fixture (the layout
    Common Crawl ships) from the first {n} documents rows, with planted
    URL variants (see :func:`_crawl_url`) and record ids whose xxhash64
    doc_ids the oracle re-derives via the precomputed mapping, then runs
    the production entry point unmodified (md5 MinHash config so the
    near-dup stage is oracle-reproducible, same convention as
    ``corpus_pipeline``).

    Round-10 continuation: the slot is now a tagged union with the
    :func:`sources.wet.crawl_report` health summary over the SAME fixture
    dir — which also plants one unparsable gzip member, so the
    malformed-file count and dropped-byte accounting are exercised with
    non-zero values (the conversion-record count, payload-byte total and
    empty-payload count re-derive from ``documents`` in SQL; the junk
    member's byte count is a construction literal).

    A green hash therefore proves: the byte-exact WET write→parse
    roundtrip (per-record gzip members, Content-Length walk), the
    xxhash64 id derivation, the full URL canonicalization + keep-first
    dedup, the entire curation tail hand-off, AND the crawl-health
    accounting — under the driver gate.

    The fixture collect is {n} rows (bounded constant — fixture writer,
    not a data path); the files land in a scratch dir the call removes
    after checkpointing the union (round 13)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _CRAWL_DOCS
    )
    rows = d.select("doc_id", "text").orderBy("doc_id").collect()
    from .scratch import with_slot_scratch

    return with_slot_scratch(
        "wet-slot-", lambda tmp: _web_corpus_crawl_build(spark, rows, tmp)
    )


def _web_corpus_crawl_build(spark, rows, tmp):
    """Fixture write + end-to-end run inside the scratch dir — the final
    union is checkpointed by the caller before the dir is removed."""
    import gzip
    import os

    from ..functions.union import pad_union
    from ..sources.wet import crawl_report

    info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        b"WARC-Record-ID: <urn:uuid:info-0>\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
    )
    with open(os.path.join(tmp, "crawl-00000.warc.wet.gz"), "wb") as f:
        f.write(gzip.compress(info, mtime=0))
        for r in rows:
            payload = r["text"].encode("utf-8")
            hdr = (
                "WARC/1.0\r\n"
                "WARC-Type: conversion\r\n"
                f"WARC-Target-URI: {_crawl_url(r['doc_id'])}\r\n"
                "WARC-Date: 2026-01-01T00:00:00Z\r\n"
                f"WARC-Record-ID: {_crawl_record_id(r['doc_id'])}\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode("utf-8")
            f.write(gzip.compress(hdr + payload + b"\r\n\r\n", mtime=0))
    with open(os.path.join(tmp, "crawl-00001-junk.warc.wet.gz"), "wb") as f:
        f.write(gzip.compress(_CRAWL_JUNK, mtime=0))

    manifest = web_corpus_from_crawl(
        spark, tmp, kind="wet", url_dedup=True, hash_fn="md5"
    )
    report = crawl_report(spark, tmp)
    schema = [
        ("op", "string"), ("doc_id", "bigint"), ("n_tokens", "int"),
        ("offset", "bigint"), ("chunk_first", "bigint"),
        ("chunk_last", "bigint"), ("n_chunks", "int"), ("split", "string"),
        ("n_merged", "int"),
        ("n_malformed_files", "bigint"), ("bytes_dropped", "bigint"),
        ("n_records", "bigint"), ("total_payload_bytes", "bigint"),
        ("n_empty", "bigint"),
    ]
    return pad_union(
        schema,
        (
            manifest,
            {
                "op": F.lit("doc"), "doc_id": "doc_id",
                "n_tokens": "n_tokens", "offset": "offset",
                "chunk_first": "chunk_first", "chunk_last": "chunk_last",
                "n_chunks": "n_chunks", "split": "split",
                "n_merged": "n_merged",
            },
        ),
        (
            report,
            {
                "op": F.lit("report"),
                "n_malformed_files": "n_malformed_files",
                "bytes_dropped": "bytes_dropped",
                "n_records": "n_records",
                "total_payload_bytes": "total_payload_bytes",
                "n_empty": "n_empty",
            },
        ),
    ).orderBy("op", F.coalesce("doc_id", F.lit(-1)))


web_corpus_crawl_query.__doc__ = web_corpus_crawl_query.__doc__.format(
    n=_CRAWL_DOCS
)
