"""Deduplication operators over ``documents`` — exact, MinHash+LSH, SimHash,
and n-gram Jaccard (the embedding-cosine variant lives in ``similarity.py``).

Scale design:

- **Exact dedup** groups on a 16-byte md5 digest, not the text body — the
  shuffle moves digests, not documents.
- **MinHash+LSH** is the linear-time near-dup path: shingle → k minhashes →
  band → candidate pairs only for docs sharing a band bucket → exact-Jaccard
  verify on candidates.  Cost is O(docs × shingles) + O(candidates), never
  O(docs²).
- **n-gram Jaccard (exact)** is the quadratic-verify baseline used to
  validate LSH recall at small SF; at 100 TB you only ever run it on LSH
  candidates (which is exactly how ``dedup_minhash_lsh`` uses it).
- **Hot-shingle skew guard**: every join keyed on shingles skews when a
  stopword shingle appears in a large fraction of docs — ``cap_shingles``
  (``max_df=`` on the pair generators) drops those shingles before
  banding/verification, the standard production df-cap.
- All hashes are md5-derived (first 8 hex digits → int) so the DuckDB oracle
  can reproduce them bit-for-bit — and so results don't depend on any
  engine's partition-local hash seed.

Hash-scheme note: Spark's built-in ``hash``/``xxhash64`` would be ~3× faster
than md5 here, but is not reproducible in the oracle engine; at production
scale you'd swap the md5 expression in ``minhash_signatures`` for
``xxhash64`` — a one-line change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_keys import (
    content_digest,
    gram_array,
    hex_long,
    word_grams,
    words,
)
from ..registry import query
from ..sources.tables import load_table

N_HASHES = 16  # minhash signature length
BAND_SIZE = 4  # rows per LSH band → 4 bands; P(candidate) = 1-(1-j^4)^4
SHINGLE = 3  # words per shingle
JACCARD_THRESHOLD = 0.8


# ---------------------------------------------------------------------------
# Shared building blocks (Spark side)
# ---------------------------------------------------------------------------


def shingles_df(d: DataFrame, hashed: bool = False) -> DataFrame:
    """Distinct word-3-shingles per doc: posexplode tokens, slide the window
    with LEAD over (doc_id, pos), then distinct.

    This is the row-side formulation on purpose: the array-side alternative
    (``transform(sequence(...), i -> concat_ws(slice(toks, i, 3)))``) stays
    shuffle-free but its nested lambda drops out of whole-stage codegen and
    measures ~3× slower per core.  Here everything is codegen'd; the costs
    are one window shuffle on doc_id and the distinct — both partition
    cleanly by doc at any scale (a doc's tokens are never split across
    partitions, so no skew beyond document length).

    ``hashed=True`` (the xxhash64 production configuration) replaces the
    shingle STRING with its 8-byte xxhash64 before the distinct: every
    downstream payload — the distinct's shuffle, the localCheckpoint
    materialization, the shared-shingle verify join — carries a long
    instead of a ~25-byte string.  A hash collision can only MERGE two
    distinct shingles (within a doc: one deduped row fewer; across docs:
    one extra shared "shingle"), perturbing a Jaccard estimate by
    O(shingles²/2⁶⁴) ≈ never; the md5 oracle configuration keeps exact
    strings."""
    from pyspark.sql.window import Window as W

    from ..sources.tables import fanout_for_compute

    # single-row-group inputs otherwise tokenize+explode on one core and
    # single-threadedly WRITE the whole window exchange; hash-partitioning
    # by doc_id here both parallelizes that and satisfies the window's
    # distribution, so no second exchange appears (no-op at scale — see
    # fanout_for_compute)
    d = fanout_for_compute(d.select("doc_id", "text"), "doc_id")
    toks = d.select(
        "doc_id",
        F.posexplode(words("text")).alias("pos", "tok"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    lead2 = F.lead("tok", SHINGLE - 1).over(w)
    sh = toks.select(
        "doc_id",
        F.concat_ws(" ", "tok", F.lead("tok", 1).over(w), lead2).alias("shingle"),
        lead2.alias("tail_tok"),
    )
    kept = sh.filter(F.col("tail_tok").isNotNull())
    if hashed:
        kept = kept.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    else:
        kept = kept.select("doc_id", "shingle")
    return kept.distinct()


def shingles_df_no_shuffle(d: DataFrame, hashed: bool = False) -> DataFrame:
    """Shuffle-free shingle formulation: :func:`text_keys.word_grams`
    (``arrays_zip`` of the words and their shifted slices + explode) — NO
    window, so the token stream never crosses the network before the
    distinct.

    Emits exactly the rows of :func:`shingles_df` (asserted in
    tests/test_maxdf.py).  Unlike the nested-lambda array variant the
    module docstring warns about, ``arrays_zip``/``slice`` are plain
    expressions — this stays inside whole-stage codegen.  Measured ~10%
    slower than the window formulation on local[32] at sf0.1 (0.63 s vs
    0.57 s — struct-array allocation costs more than a free local
    "shuffle"), which is why the window form stays the single-box default;
    on a real cluster the window form shuffles O(total tokens) bytes while
    this form shuffles nothing until the distinct, so network-bound
    deployments should prefer it."""
    g = F.col("gram")
    return word_grams(d, words("text"), SHINGLE, "doc_id").select(
        "doc_id", (F.xxhash64(g) if hashed else g).alias("shingle")
    ).distinct()


def keep_first_per_content(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest-id row per exact text content (md5 digest window) —
    the deterministic form of ``dropDuplicates(["text"])``.  THE canonical
    definition: both the ``dedup_exact`` registry entry and the composed
    corpus pipeline call this, so the digest expression and tiebreaker can
    never drift between them."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy(id_col)
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cap_shingles(shd: DataFrame, n_docs: int, max_df: float) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df · n_docs`` —
    the production guard against hot-shingle skew in shared-shingle joins.

    At 100× scale a stopword shingle ("of the and") appears in a large
    fraction of documents; every join keyed on shingles (candidate
    generation in ``ngram_jaccard_pairs``, LSH verification) then gets a
    skewed key whose candidate count grows superlinearly.  Production dedup
    systems cap document frequency for exactly this reason — a near-dup
    signal carried ONLY by ubiquitous shingles is noise anyway.

    Cost: one groupBy over shingles + a broadcast anti-join (the hot set is
    tiny by definition — few shingles exceed the cap).  Semantics: the
    shingle universe shrinks, so downstream Jaccard is computed over the
    capped universe (standard df-capped shingling, not an approximation of
    the uncapped measure).  Off (``max_df=None``) in the oracle-checked
    registry entries so the DuckDB comparison stays parameter-free."""
    limit = int(max_df * n_docs)
    hot = (
        shd.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > limit)
        .select("shingle")
    )
    return shd.join(F.broadcast(hot), "shingle", "left_anti")


def _sql_shd(src: str = "documents", p: str = "") -> str:
    """CTE chain ``toks → sh → shd`` (distinct word-3-shingles per doc) over
    an arbitrary source relation — parameterized so composed oracles (the
    corpus pipeline) can shingle an already-filtered doc set.  ``p``
    prefixes the CTE names so one statement can shingle TWO relations (the
    incremental-index oracle shingles the corpus and the probe batch)."""
    return f"""
    {p}toks AS (
      SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
      FROM (SELECT doc_id, string_split_regex(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM {src})),
    {p}sh AS (
      SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
      FROM {p}toks a JOIN {p}toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
                  JOIN {p}toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2),
    {p}shd AS (SELECT DISTINCT doc_id, shingle FROM {p}sh)
"""


_SQL_SHD = _sql_shd()


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT 'digest' AS op, md5(text) AS fingerprint,
           MIN(doc_id) AS doc_id,
           CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS source,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    UNION ALL
    SELECT 'keep_first' AS op, CAST(NULL AS VARCHAR) AS fingerprint,
           doc_id, lang, source, CAST(NULL AS BIGINT) AS n_copies
    FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
    ORDER BY op, doc_id
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup, both canonical forms in one tagged union:

    - ``digest`` rows: group on md5(text) (16 bytes shuffled per row instead
      of the document body), keep the smallest doc_id as canonical.
    - ``keep_first`` rows: keep-first-row-per-content as a window — the
      deterministic form of ``dropDuplicates(["text"])``, which keeps an
      arbitrary partition-dependent row.
    """
    d = load_table(spark, sf_dir, "documents")
    digest = (
        d.select(F.md5(F.col("text").cast("binary")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(
            F.lit("digest").alias("op"),
            "fingerprint",
            "doc_id",
            F.lit(None).cast("string").alias("lang"),
            F.lit(None).cast("string").alias("source"),
            "n_copies",
        )
    )
    keep_first = keep_first_per_content(d).select(
        F.lit("keep_first").alias("op"),
        F.lit(None).cast("string").alias("fingerprint"),
        "doc_id",
        "lang",
        "source",
        F.lit(None).cast("long").alias("n_copies"),
    )
    return digest.unionAll(keep_first).orderBy("op", "doc_id")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise on shingle-sharing pairs)
# ---------------------------------------------------------------------------


# Exact-Jaccard pair CTEs over ``shd`` (shared with the ``dedup_canonical``
# oracle, which feeds the same pairs into recursive connected components).
_SQL_JPAIRS = f"""
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
    inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              FROM shd x JOIN shd y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY 1, 2),
    jpairs AS (
      SELECT doc_a, doc_b,
             CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      FROM inter JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD})
"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHD},
    {_SQL_JPAIRS}
    SELECT doc_a, doc_b, jaccard FROM jpairs
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (≥ {thr}).

    Only docs sharing at least one shingle ever pair (the shingle equi-join
    IS the candidate generation), so cost tracks shared-shingle pairs, not
    all pairs.  Integer intersection / union counts → exact double division
    → deterministic threshold.
    """
    return ngram_jaccard_pairs(spark, sf_dir)


dedup_ngram_jaccard.__doc__ = dedup_ngram_jaccard.__doc__ and dedup_ngram_jaccard.__doc__.format(thr=JACCARD_THRESHOLD)



def ngram_jaccard_pairs(
    spark, sf_dir, max_df: float | None = None, sort: bool = True
):
    """The pairs computation behind ``dedup_ngram_jaccard`` — also the pair
    source of the ``dedup_canonical`` connected-components tail.

    ``max_df`` (fraction of docs) enables the hot-shingle cap
    (``cap_shingles``) on the shared-shingle candidate join — the scale
    configuration; None (oracle mode) keeps the full shingle universe.
    Dropping shingles can only remove shared-shingle candidate pairs, never
    add them (asserted in tests/test_maxdf.py).

    ``sort=False`` skips the presentation orderBy — composed consumers
    (connected components) reshuffle by node id immediately, so the global
    range-partition sort would be pure wasted work in a pipeline."""
    d = load_table(spark, sf_dir, "documents")
    shd = shingles_df(d)
    if max_df is not None:
        shd = cap_shingles(shd, d.count(), max_df)
    # localCheckpoint, not cache(): shingles are consumed by sizes /
    # both join sides (/ signatures), and a cache would pin executor
    # storage for the session lifetime — checkpoint storage is released
    # when the DataFrame is GC'd (same rationale as operators/corpus.py).
    shd = shd.localCheckpoint()
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x = shd.alias("x")
    y = shd.alias("y")
    inter = (
        x.join(y, (F.col("x.shingle") == F.col("y.shingle")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    pairs = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return pairs.orderBy("doc_a", "doc_b") if sort else pairs


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Affine-rehash minhash: ONE md5 per shingle, then N_HASHES cheap affine
# transforms h_i = (a_i·h + b_i) mod P computed as parallel aggregate
# columns — 16× less hashing and no seed-explode row blowup.  P is a prime
# just above 2^32; products stay under 2^63 so bigint arithmetic is exact in
# both engines.
MINHASH_P = 4294967311
_AFFINE = [(2 * i + 1, (2654435761 * (i + 1)) % MINHASH_P) for i in range(N_HASHES)]


def _shingle_hash(hash_fn: str) -> F.Column:
    """One base hash per shingle, reduced below MINHASH_P so every affine
    product stays under 2^63 (exact bigint arithmetic).

    - ``md5``: oracle-reproducible (DuckDB computes the identical value) —
      the correctness-gate configuration.
    - ``xxhash64``: Spark's native 64-bit hash, ~3× faster per shingle — the
      production/bench configuration.  Not reproducible outside Spark, which
      is the only reason it isn't the default here.
    """
    if hash_fn == "md5":
        return hex_long(F.md5(F.col("shingle").cast("binary")))
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(F.col("shingle")), F.lit(MINHASH_P)).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _minhash_aggs():
    return [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(_AFFINE)
    ]


def minhash_signatures(shd: DataFrame, hash_fn: str = "md5") -> DataFrame:
    """(doc_id, mh0..mh15): the full signature in one groupBy pass."""
    base = shd.select("doc_id", _shingle_hash(hash_fn).alias("h"))
    return base.groupBy("doc_id").agg(*_minhash_aggs())


def band_keys_from_signatures(
    mh: DataFrame, hash_fn: str = "md5", carry: tuple = ()
) -> DataFrame:
    """(doc_id, band, band_key) from a signature frame — the banding of
    ``minhash_lsh_pairs``, extracted so the persisted-index build and probe
    paths (``dedup_index.py``) band IDENTICALLY to the batch self-join.

    xxhash64 configuration: band buckets as 8-byte longs instead of ~40-byte
    strings — smaller shuffle payload for every banding join.  A band-key
    hash collision only MERGES buckets (extra candidates the verify
    removes); it can never split one, so recall is unchanged.  The md5 path
    keeps the string keys the DuckDB oracle reproduces bit-for-bit.

    ``carry`` names extra columns of ``mh`` to keep alongside doc_id
    (round 18: the pairs path rides the per-doc shingle-set size through
    the banding so the Jaccard denominator needs no sizes join)."""
    band_cols = [
        F.concat_ws(",", *[F.col(f"mh{j * BAND_SIZE + k}") for k in range(BAND_SIZE)])
        for j in range(N_HASHES // BAND_SIZE)
    ]
    if hash_fn == "xxhash64":
        band_cols = [F.xxhash64(c) for c in band_cols]
    return mh.select(
        "doc_id",
        *carry,
        F.posexplode(F.array(*band_cols)).alias("band", "band_key"),
    )


def _mh_mins_sql() -> str:
    return ",\n             ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(_AFFINE)
    )


def _band_keys_sql() -> str:
    keys = []
    for j in range(N_HASHES // BAND_SIZE):
        cols = ", ".join(f"mh{j * BAND_SIZE + k}" for k in range(BAND_SIZE))
        keys.append(f"concat_ws(',', {cols})")
    return "[" + ", ".join(keys) + "]"


def _sql_minhash_pairs_cte(p: str = "") -> str:
    """CTE chain over an existing ``{p}shd`` producing ``{p}mh_pairs(doc_a,
    doc_b, jaccard)`` — the md5-affine MinHash+LSH banding and exact-Jaccard
    verify, shared by the ``dedup_minhash_lsh`` oracle and the composed
    corpus pipeline oracle.  ``p`` prefixes every CTE name so one statement
    can run the chain over TWO shingle sets (the dataset-card arm pairs the
    RAW corpus while the pipeline arm pairs the quality-gated one)."""
    sql = """
    {p}hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h
      FROM {p}shd),
    {p}mh AS (
      SELECT doc_id,
             __MINS__
      FROM {p}hashed GROUP BY doc_id),
    {p}bands AS (
      SELECT doc_id,
             unnest(__KEYS__) AS band_key,
             generate_subscripts(__KEYS__, 1) AS band
      FROM {p}mh),
    {p}cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM {p}bands a JOIN {p}bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    {p}msizes AS (SELECT doc_id, COUNT(*) AS n FROM {p}shd GROUP BY doc_id),
    {p}verified AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM {p}cand c JOIN {p}shd x ON x.doc_id = c.doc_a
                  JOIN {p}shd y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY c.doc_a, c.doc_b),
    {p}mh_pairs AS (
      SELECT v.doc_a, v.doc_b,
             CAST(v.i AS DOUBLE) / (sa.n + sb.n - v.i) AS jaccard
      FROM {p}verified v JOIN {p}msizes sa ON sa.doc_id = v.doc_a
                      JOIN {p}msizes sb ON sb.doc_id = v.doc_b
      WHERE CAST(v.i AS DOUBLE) / (sa.n + sb.n - v.i) >= __THR__)
"""
    return (
        sql.replace("{p}", p)
        .replace("__MINS__", _mh_mins_sql())
        .replace("__KEYS__", _band_keys_sql())
        .replace("__THR__", str(JACCARD_THRESHOLD))
    )


_MINHASH_ORACLE = f"""
    WITH {_SQL_SHD},
    {_sql_minhash_pairs_cte()}
    SELECT doc_a, doc_b, jaccard FROM mh_pairs
    ORDER BY doc_a, doc_b
    """


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup detection, oracle configuration (md5 base hash —
    see ``minhash_lsh_pairs`` for the parameterized core and the xxhash64
    production path).  Registered via the ``minhash_ops`` tagged union
    (round 10) together with the persisted-index incremental probe."""
    return minhash_lsh_pairs(spark, sf_dir, hash_fn="md5")


# ---------------------------------------------------------------------------
# Round-10 slot union: batch MinHash pairs + persisted-index incremental probe
# ---------------------------------------------------------------------------

# Probe-batch id offsets — far outside the corpus id space, and distinct per
# planted family so a match row's provenance is readable in the output.
_IDX_EXACT_OFF = 2_000_000_000
_IDX_PERT_OFF = 3_000_000_000
_IDX_NOVEL_OFF = 4_000_000_000
_IDX_MIN_MATCHES = -(-JACCARD_THRESHOLD * N_HASHES // 1)  # ceil = 13 of 16

# The planted probe batch as SQL (a pure function of doc_id, identical on
# the Spark side): exact copies (must match at 16/16), perturbed copies
# (six appended tokens — signature-estimated match, deterministic either
# way), and novel docs whose shingles exist nowhere in the corpus.
_IDX_BATCH_SQL = f"""
      SELECT doc_id + {_IDX_EXACT_OFF} AS doc_id, text
      FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT doc_id + {_IDX_PERT_OFF}, text || ' qq ww ee rr tt yy'
      FROM documents WHERE doc_id % 20 = 10
      UNION ALL
      SELECT doc_id + {_IDX_NOVEL_OFF},
             'zz' || doc_id || ' yy' || doc_id || ' xx' || doc_id || ' ww' || doc_id
      FROM documents WHERE doc_id % 20 = 5"""


def _minhash_ops_oracle() -> str:
    """One DuckDB statement for BOTH branches: the batch self-join pairs
    (the round-2 ``_MINHASH_ORACLE`` body, unchanged) and the incremental
    probe — batch signatures re-derived under the same md5-affine scheme,
    candidates from shared band keys against the CORPUS banding (``bands``
    is exactly what ``build_minhash_index``+``extend_minhash_index``
    persist), then the signature-estimated verify: matching-minhash count
    >= ceil(threshold × n_hashes).  Novel rows assert the anti-join."""
    mm_sum = " + ".join(
        f"CAST(a.mh{i} = b.mh{i} AS INTEGER)" for i in range(N_HASHES)
    )
    return f"""
    WITH {_SQL_SHD},
    {_sql_minhash_pairs_cte()},
    batch AS ({_IDX_BATCH_SQL}),
    {_sql_shd('batch', p='b')},
    bhashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h
      FROM bshd),
    bmh AS (
      SELECT doc_id,
             {_mh_mins_sql()}
      FROM bhashed GROUP BY doc_id),
    bbands AS (
      SELECT doc_id,
             unnest({_band_keys_sql()}) AS band_key,
             generate_subscripts({_band_keys_sql()}, 1) AS band
      FROM bmh),
    icand AS (
      SELECT DISTINCT n.doc_id AS doc_id, i.doc_id AS matched_doc_id
      FROM bbands n JOIN bands i
        ON i.band = n.band AND i.band_key = n.band_key),
    iver AS (
      SELECT c.doc_id, c.matched_doc_id, {mm_sum} AS mm
      FROM icand c JOIN bmh a ON a.doc_id = c.doc_id
                   JOIN mh b ON b.doc_id = c.matched_doc_id),
    imatch AS (
      SELECT doc_id, matched_doc_id, CAST(mm AS DOUBLE) / {N_HASHES} AS est
      FROM iver WHERE mm >= {int(_IDX_MIN_MATCHES)}),
    tridgb AS (
      SELECT DISTINCT coalesce(md5(text), '__NULL_TEXT__') AS dg FROM batch),
    tridgc AS (
      SELECT DISTINCT coalesce(md5(text), '__NULL_TEXT__') AS dg
      FROM documents),
    unioned AS (
      SELECT 'pairs' AS op, doc_a, doc_b, jaccard FROM mh_pairs
      UNION ALL
      SELECT 'match', doc_id, matched_doc_id, est FROM imatch
      UNION ALL
      SELECT 'novel', doc_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
      FROM batch WHERE doc_id NOT IN (SELECT doc_id FROM imatch)
      UNION ALL
      SELECT 'triage',
             (SELECT COUNT(*) FROM tridgb),
             (SELECT COUNT(*) FROM tridgb b JOIN tridgc c USING (dg)),
             1.0)
    SELECT op, doc_a, doc_b, jaccard FROM unioned
    ORDER BY op, doc_a, coalesce(doc_b, -1)
    """


def dedup_index_probe(spark, sf_dir, signatures=None):
    """Driver branch for the PERSISTED MinHash index lifecycle
    (``operators/dedup_index.py``): builds the index over the even-id half
    of the corpus, EXTENDS it with the odd-id half (so a dropped extend
    batch breaks the hash — the oracle's banding covers the whole corpus),
    probes it with the planted batch, and returns match rows
    (signature-estimated Jaccard) plus the novel anti-join — the
    snapshot-over-snapshot ingest pattern, md5 oracle configuration.
    The temp index lives only inside ``with_slot_scratch`` — the
    returned frames are eagerly checkpointed, the dir removed
    (round 13)."""
    from .scratch import with_slot_scratch

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return with_slot_scratch(
        "mh-idx-slot-",
        lambda path: _dedup_index_probe_build(spark, d, path, signatures),
    )


def _dedup_index_probe_build(spark, d, path, signatures=None):
    from .dedup_index import (
        build_minhash_index,
        dedup_against_index,
        extend_minhash_index,
        novel_docs,
    )

    # signatures: the slot's shared full-corpus md5 frame (signatures
    # are per-document, so the even/odd filters ARE the halves' frames)
    build_minhash_index(
        d.filter(F.col("doc_id") % 2 == 0), path, n_files=4, hash_fn="md5",
        digest_sketch=True,
        signatures=(
            None
            if signatures is None
            else signatures.filter(F.col("doc_id") % 2 == 0)
        ),
    )
    extend_minhash_index(
        d.filter(F.col("doc_id") % 2 == 1), path, digest_sketch=True,
        signatures=(
            None
            if signatures is None
            else signatures.filter(F.col("doc_id") % 2 == 1)
        ),
    )
    did = F.col("doc_id")
    exact = d.filter(did % 20 == 0).select(
        (did + _IDX_EXACT_OFF).alias("doc_id"), "text"
    )
    pert = d.filter(did % 20 == 10).select(
        (did + _IDX_PERT_OFF).alias("doc_id"),
        F.concat("text", F.lit(" qq ww ee rr tt yy")).alias("text"),
    )
    s = did.cast("string")
    novel = d.filter(did % 20 == 5).select(
        (did + _IDX_NOVEL_OFF).alias("doc_id"),
        F.concat(
            F.lit("zz"), s, F.lit(" yy"), s, F.lit(" xx"), s, F.lit(" ww"), s
        ).alias("text"),
    )
    batch = exact.unionAll(pert).unionAll(novel)
    batch = batch.localCheckpoint()  # probe + matches + triage + exact counts
    # Materialize the probe ONCE: novel_docs anti-joins the match set, so
    # a lazy matches frame would re-run the whole index probe when
    # with_slot_scratch checkpoints the novel frame.
    matches = dedup_against_index(batch, path).localCheckpoint()
    # Round-12: sketch-only recrawl triage vs the same index — the Theta
    # estimates validate against exact digest counts (two bounded counts
    # at slot scale), the accuracy-contract boolean rides the hash
    from .dedup_index import TRIAGE_REL_ERR, recrawl_triage

    tri = recrawl_triage(batch, path)
    bd = batch.select(content_digest().alias("dg")).distinct()
    cd = d.select(content_digest().alias("dg")).distinct()
    b_exact = bd.count()
    s_exact = bd.join(cd, "dg", "left_semi").count()
    tol = lambda x: max(TRIAGE_REL_ERR * x, 1.0)  # noqa: E731
    ok = (
        abs(tri["batch_distinct"] - b_exact) <= tol(b_exact)
        and abs(tri["seen"] - s_exact) <= tol(s_exact)
    )
    triage_row = spark.createDataFrame(
        [("triage", b_exact, s_exact, 1.0 if ok else 0.0)],
        "op string, doc_a bigint, doc_b bigint, jaccard double",
    )
    return matches, novel_docs(batch, matches).select("doc_id"), triage_row


@query("dedup_minhash_lsh", oracle=_minhash_ops_oracle())
def minhash_ops(spark, sf_dir):
    """Tagged union (round-10 rotation, ``packing_ops`` pattern):
    op='pairs' is the batch MinHash+LSH self-join unchanged; op='match' /
    op='novel' drive the persisted-index lifecycle — build on half the
    corpus, extend with the other half, probe with a planted batch
    (exact / perturbed / novel families) — end to end under the md5
    configuration, hash-checked against one DuckDB statement.

    Round-12: op='triage' pins the Theta digest-sketch recrawl triage
    (:func:`dedup_index.recrawl_triage`) against the SAME index — the
    build/extend calls persist per-batch content-digest sketches, and
    the sketch-only batch-overlap estimates must sit within the accuracy
    contract of the exact digest counts (re-derived in SQL from the
    batch construction; the exact family is the seen fraction)."""
    from ..functions.union import pad_union

    # one shingle pass + one signature pass for the whole slot: the
    # pairs arm and the index build/extend all consume per-document
    # pure functions of the same corpus under the same md5
    # configuration (round 17 — the curation_ops shared-k-means
    # pattern applied here)
    d = load_table(spark, sf_dir, "documents")
    shd = shingles_df(d).localCheckpoint()
    mh = minhash_signatures(shd, "md5").localCheckpoint()
    matches, novel, triage_row = dedup_index_probe(
        spark, sf_dir, signatures=mh
    )
    schema = [
        ("op", "string"), ("doc_a", "bigint"), ("doc_b", "bigint"),
        ("jaccard", "double"),
    ]
    return pad_union(
        schema,
        (
            minhash_lsh_pairs(
                spark, sf_dir, hash_fn="md5", shingles=shd, signatures=mh
            ),
            {"op": F.lit("pairs"), "doc_a": "doc_a", "doc_b": "doc_b",
             "jaccard": "jaccard"},
        ),
        (
            matches,
            {"op": F.lit("match"), "doc_a": "doc_id",
             "doc_b": "matched_doc_id", "jaccard": "est_jaccard"},
        ),
        (
            novel,
            {"op": F.lit("novel"), "doc_a": "doc_id"},
        ),
        (
            triage_row,
            # doc_a = exact distinct batch digests, doc_b = exact
            # already-seen digests; jaccard = 1.0 iff both Theta triage
            # estimates sit within the accuracy contract
            {
                "op": F.col("op"), "doc_a": "doc_a",
                "doc_b": "doc_b", "jaccard": "jaccard",
            },
        ),
    ).orderBy("op", "doc_a", F.coalesce("doc_b", F.lit(-1)))


def minhash_lsh_pairs(
    spark,
    sf_dir,
    hash_fn: str = "xxhash64",
    max_df: float | None = None,
    docs: DataFrame | None = None,
    sort: bool = True,
    shingles: DataFrame | None = None,
    signatures: DataFrame | None = None,
):
    """MinHash+LSH near-dup detection: {n} affine minhashes from one base
    hash per shingle, {b}-row bands → docs sharing a band bucket become
    candidates → exact-Jaccard verify.

    The banding join touches only (docs × bands) rows; candidate
    verification touches only shingles of candidate docs.  This is the
    100 TB near-dup path (the exact pairwise query is its recall baseline).
    ``hash_fn`` picks the base hash: ``xxhash64`` (native, fast — default)
    or ``md5`` (cross-engine reproducible, used by the oracle-checked
    registry entry).  Only candidate *generation* depends on the hash; the
    exact-Jaccard verification is hash-free, so both configurations emit
    only true ≥{t} pairs and differ at most in LSH recall.

    ``docs`` overrides the documents table (e.g. an already
    quality-filtered / exact-deduped subset in the composed corpus
    pipeline, ``operators/corpus.py``); default loads from ``sf_dir``.
    ``sort=False`` skips the presentation orderBy for composed consumers
    that reshuffle the pairs anyway (connected components).

    ``max_df`` (fraction of docs) enables the hot-shingle cap
    (``cap_shingles``) — the scale configuration protecting both the LSH
    verification join and the signatures from stopword-shingle skew.  The
    capped run computes signatures AND Jaccard over the capped shingle
    universe (consistent df-capped semantics); emitted pairs still all
    satisfy the exact ≥{t} threshold on that universe.
    """
    if max_df is not None and (shingles is not None or signatures is not None):
        # loud failure over silent mis-configuration: the hot-shingle cap
        # is applied while BUILDING the shingle frame, so caller-supplied
        # shingles/signatures would silently bypass it
        raise ValueError(
            "max_df cannot be combined with caller-supplied shingles/"
            "signatures: the df cap is applied when the shingle frame is "
            "built — pass pre-capped frames, or drop max_df"
        )
    d = docs if docs is not None else load_table(spark, sf_dir, "documents")
    if shingles is not None:
        # caller-shared checkpointed shingle frame (round 17: the
        # minhash_ops slot computes shingles + signatures ONCE for the
        # pairs arm and the index lifecycle; both are pure per-document
        # functions of the corpus under the same configuration)
        shd = shingles
    else:
        # the xxhash64 production configuration also hashes SHINGLES to
        # longs at creation (see shingles_df): the checkpoint, sizes
        # aggregate, and the shared-shingle verify join all carry 8
        # bytes instead of word strings
        shd = shingles_df(d, hashed=hash_fn == "xxhash64")
        if max_df is not None:
            shd = cap_shingles(shd, d.count(), max_df)
        # localCheckpoint, not cache(): shingles are consumed by sizes /
        # both join sides (/ signatures), and a cache would pin executor
        # storage for the session lifetime — checkpoint storage is
        # released when the DataFrame is GC'd (same rationale as
        # operators/corpus.py).
        shd = shd.localCheckpoint()
    # Round 18 (guide §2.3): ONE signature aggregation and NO sizes joins.
    # The former bands-vs-bands self-join planned the signature aggregate
    # on BOTH sides (plus two more full aggregates for the Jaccard
    # denominators — 5 aggregations of the shingle frame in the plan);
    # aliasing cannot dedupe subtrees and the broadcast/shuffle sides
    # never produce a reusable exchange.  Instead: group the banded rows
    # by bucket, collect the (doc_id, set size) members, and double-
    # explode the within-bucket ordered pairs — the textbook LSH bucket
    # formulation.  The candidate SET is identical (pairs sharing ≥1
    # bucket, doc_a < doc_b, deduped), the per-doc size rides along, and
    # the bands shuffle once by bucket key instead of the signature
    # subtree executing twice.  A degenerate hot bucket costs O(k²) pairs
    # in one task — exactly what the self-join's hot key cost.
    if signatures is not None:
        # caller-shared signature frame (no size column): one sizes
        # aggregate joined once — still one aggregation in the plan
        mh = signatures.join(
            shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n")),
            "doc_id",
        )
    else:
        base = shd.select("doc_id", _shingle_hash(hash_fn).alias("h"))
        mh = base.groupBy("doc_id").agg(
            *_minhash_aggs(), F.count(F.lit(1)).alias("__n")
        )
    bands = band_keys_from_signatures(mh, hash_fn, carry=("__n",))
    cand = (
        bands.groupBy("band", "band_key")
        .agg(F.collect_list(F.struct("doc_id", "__n")).alias("ms"))
        .filter(F.size("ms") > 1)
        .select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.__n").alias("na"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.__n").alias("nb"),
        )
        .distinct()
    )
    x = shd.alias("x")
    y = shd.alias("y")
    verified = (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(
            y,
            (F.col("y.doc_id") == F.col("doc_b"))
            & (F.col("y.shingle") == F.col("x.shingle")),
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    pairs = (
        verified.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return pairs.orderBy("doc_a", "doc_b") if sort else pairs


minhash_lsh_pairs.__doc__ = minhash_lsh_pairs.__doc__ and minhash_lsh_pairs.__doc__.format(n=N_HASHES, b=BAND_SIZE, t=JACCARD_THRESHOLD)



# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


# Shared signature CTE: 32-bit SimHash per doc (DuckDB side).
_SQL_SIMHASH = """
    toks AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(TRIM(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
      FROM documents),
    th AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM toks),
    bits AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS w
      FROM th CROSS JOIN (SELECT unnest(range(32)) AS bit) b
      GROUP BY doc_id, b.bit),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN w >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id)
"""


def simhash_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, simhash): each distinct token votes ±1 on every bit of its
    md5-derived hash; the sign pattern is the 32-bit signature."""
    from ..sources.tables import fanout_for_compute

    # single-row-group inputs otherwise tokenize + hash + bit-explode on
    # one core (no-op at scale — see fanout_for_compute)
    d = fanout_for_compute(d.select("doc_id", "text"), "doc_id")
    toks = (
        d.select(
            "doc_id", F.explode(words("text")).alias("tok")
        ).distinct()
    )
    th = toks.select(
        "doc_id",
        hex_long(F.md5(F.col("tok").cast("binary"))).alias("h"),
    )
    bits = (
        th.select(
            "doc_id",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit"),
        )
        .groupBy("doc_id", "bit")
        .agg(
            F.sum(
                F.when(F.expr("shiftright(h, bit) & 1") == 1, 1).otherwise(-1)
            ).alias("w")
        )
    )
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("w") >= 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("simhash")
    )


def dedup_simhash_sigs(spark, sf_dir, sort: bool = True):
    """32-bit SimHash signature per document (see ``simhash_signatures``).
    Near-dups are then low-Hamming-distance pairs — the pairing query is
    ``dedup_simhash_pairs``.  Registry-merged into the ``dedup_simhash``
    union slot in round 8."""
    d = load_table(spark, sf_dir, "documents")
    out = simhash_signatures(d)
    return out.orderBy("doc_id") if sort else out


SIMHASH_BANDS = 4  # 8-bit bands over the 32-bit signature
HAMMING_MAX = 3  # pigeonhole: ≤3 differing bits over 4 bands ⇒ one band equal


_SIMHASH_PAIRS_SQL = f"""
    WITH {_SQL_SIMHASH},
    bands AS (
      SELECT doc_id, simhash, b.band,
             (simhash >> (b.band * 8)) & 255 AS band_key
      FROM sig CROSS JOIN (SELECT unnest(range({SIMHASH_BANDS})) AS band) b),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sig_a, b.simhash AS sig_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {HAMMING_MAX}
"""


def dedup_simhash_pairs(spark, sf_dir, sort: bool = True):
    """SimHash near-dup pairing: bucket signatures on {b} 8-bit bands
    (LSH-band style); docs sharing any band become candidates; verify with
    ``bit_count(xor)`` ≤ {h}.

    Recall is exact, not approximate: ≤{h} differing bits spread over {b}
    bands leave at least one band untouched (pigeonhole), so every
    qualifying pair shares a band bucket.  Cost is O(docs × bands) banding +
    shared-bucket candidates — never all-pairs.  At 100 TB the band key is
    computed at ingest and the join is bucket-partitioned.
    """
    d = load_table(spark, sf_dir, "documents")
    sig = simhash_signatures(d)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band"),
    ).withColumn("band_key", F.expr("(simhash >> (band * 8)) & 255"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("sig_a ^ sig_b")).cast("int")
    out = (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
    )
    return out.orderBy("doc_a", "doc_b") if sort else out


dedup_simhash_pairs.__doc__ = dedup_simhash_pairs.__doc__ and dedup_simhash_pairs.__doc__.format(b=SIMHASH_BANDS, h=HAMMING_MAX)
dedup_simhash_pairs.__doc__ = (dedup_simhash_pairs.__doc__ or "") + (
    "\n    Registry-merged into the ``dedup_simhash`` union slot in round 8"
    " (plan shape still asserted in tests/test_plans.py)."
)


@query(
    "dedup_simhash",
    oracle=f"""
    SELECT 'sig' AS op, doc_id AS id_a, CAST(NULL AS BIGINT) AS id_b,
           simhash AS val
    FROM (WITH {_SQL_SIMHASH} SELECT doc_id, simhash FROM sig)
    UNION ALL
    SELECT 'pair' AS op, doc_a, doc_b, CAST(hamming AS BIGINT) AS val
    FROM ({_SIMHASH_PAIRS_SQL})
    ORDER BY op, id_a, id_b
    """,
)
def dedup_simhash(spark, sf_dir):
    """The SimHash family in ONE driver slot (round-8 tagged-union merge of
    the per-doc signature query and the banded near-dup pairing query —
    component docstrings carry the algorithm and scale notes).  ``sig``
    rows: (doc_id, 32-bit signature); ``pair`` rows: (doc_a, doc_b,
    Hamming distance <= {h})."""
    from ..functions.union import pad_union

    schema = [
        ("op", "string"), ("id_a", "bigint"),
        ("id_b", "bigint"), ("val", "bigint"),
    ]
    return pad_union(
        schema,
        (
            dedup_simhash_sigs(spark, sf_dir, sort=False),
            {"op": F.lit("sig"), "id_a": "doc_id", "val": "simhash"},
        ),
        (
            dedup_simhash_pairs(spark, sf_dir, sort=False),
            {
                "op": F.lit("pair"), "id_a": "doc_a", "id_b": "doc_b",
                "val": F.col("hamming").cast("long"),
            },
        ),
    ).orderBy("op", "id_a", "id_b")


dedup_simhash.__doc__ = dedup_simhash.__doc__ and dedup_simhash.__doc__.format(h=HAMMING_MAX)



# ---------------------------------------------------------------------------
# Substring-level exact dedup (repeated >= k-token spans)
# ---------------------------------------------------------------------------
#
# The step between exact-document and fuzzy dedup in a real pretraining
# pipeline (Lee et al. 2022, "Deduplicating Training Data Makes Language
# Models Better"; RefinedWeb runs the same pass): any span of >= k tokens
# that occurs more than once ACROSS THE WHOLE CORPUS (including twice within
# one document) is duplicated text — boilerplate, license headers, templated
# pages — and should be flagged or stripped even when the containing
# documents are nowhere near whole-doc duplicates.
#
# Scale shape (deliberately NOT a doc-pair self-join): rolling k-gram
# postings (doc_id, pos, xxhash64(gram)) -> per-gram occurrence count
# (groupBy: map-side combinable, so a boilerplate gram appearing in millions
# of docs is ONE reduced row, not a quadratic pair blow-up) -> join postings
# back on gram to keep duplicated occurrences (AQE splits the hot-gram
# partitions) -> per-doc interval merge of the covered token ranges into
# maximal spans.  Total work is O(postings) + O(duplicated postings); there
# is no O(candidates^2) term anywhere, which is what lets this run at
# 100 TB where the suffix-array formulation of Lee et al. is single-node.


# Mixed-radix first-occurrence encoding: min over (id, pos) lexicographic
# == min over the single value id*S + pos when 0 <= pos < S.  The point is
# PHYSICAL: Spark cannot hash-aggregate min(struct(...)) (struct agg
# buffers force SortAggregate — a per-partition sort on the gram/hash key,
# the largest intermediate of both dedup passes); min over a DECIMAL is
# HashAggregate-eligible, so the per-gram aggregate stays a hash map-side
# combine with NO sort anywhere.  S = 10^12 bounds positions (a 10^12-token
# document does not exist); decimal(38,0) holds |id| < 10^25 with room.
# Negative ids (xxhash64-derived doc ids) stay correctly ordered: the
# encoding is monotone in (id, pos) for any sign of id since 0 <= pos < S.
_FIRST_POS_SCALE = 10 ** 12


def _first_key(id_col: str, pos_col: str):
    return (
        F.col(id_col).cast("decimal(24,0)") * F.lit(_FIRST_POS_SCALE)
        + F.col(pos_col)
    ).cast("decimal(38,0)")


def _is_first(id_col: str, pos_col: str, key_col: str):
    # No decode needed (and none attempted: Spark's decimal division
    # rounds at scale 6, which would mis-decode positions within 5e5 of
    # the scale bound) — a row IS the first occurrence iff its OWN
    # encoding equals the per-gram minimum, and the encoding is injective
    # for 0 <= pos < S.
    return _first_key(id_col, pos_col) == F.col(key_col)


def _integral_id(df: DataFrame, id_col: str = "doc_id") -> bool:
    return dict(df.dtypes).get(id_col) in ("tinyint", "smallint", "int", "bigint")


def kgram_postings(d: DataFrame, k: int, hashed: bool = True) -> DataFrame:
    """Rolling word-k-gram postings ``(doc_id, pos, gram)`` — one row per
    token position p with p + k <= n_tokens; ``pos`` is the 0-based token
    offset so downstream spans are in token coordinates.

    Same window-lead formulation as :func:`shingles_df` (codegen'd; the k-1
    LEADs share one window spec so Spark computes them in a single pass) but
    keeps ``pos`` and does NOT dedup — span merging needs every occurrence.
    ``hashed=True`` replaces the gram string with xxhash64 before anything
    shuffles; a 2^-64 collision can only merge two grams, i.e. over-flag one
    span, never corrupt coordinates."""
    from pyspark.sql.window import Window as W

    toks = d.select(
        "doc_id",
        F.posexplode(words("text")).alias("pos", "tok"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    p = (
        toks.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", *parts).alias("gram"),
            parts[-1].alias("__tail"),
        )
        .filter(F.col("__tail").isNotNull())
        .drop("__tail")
    )
    if hashed:
        p = p.select("doc_id", "pos", F.xxhash64("gram").alias("gram"))
    return p


def kgram_postings_no_shuffle(
    d: DataFrame, k: int, hashed: bool = True
) -> DataFrame:
    """Shuffle-free twin of :func:`kgram_postings` (same rows, asserted in
    tests): the gram at each position is built row-locally by
    :func:`text_keys.gram_array`, so the token
    stream NEVER crosses the network — the first exchange in
    ``duplicate_spans`` becomes the per-gram count, which is map-side
    combined.  Same trade as ``shingles_df_no_shuffle``: the nested lambda
    drops out of whole-stage codegen (slightly slower per core on one
    box), but on a network-bound cluster this variant moves O(grams)
    pre-aggregated rows instead of O(tokens) raw ones.  Pass it via
    ``duplicate_spans(..., postings=kgram_postings_no_shuffle)``."""
    grams = gram_array(words("text"), k)
    p = d.select("doc_id", F.posexplode(grams).alias("pos", "gram"))
    if hashed:
        p = p.select("doc_id", "pos", F.xxhash64("gram").alias("gram"))
    return p


def duplicate_spans(
    docs: DataFrame, k: int = 20, keep_first: bool = False,
    postings=None,
) -> DataFrame:
    """Maximal duplicated spans per document: ``(doc_id, span_start,
    span_len, n_grams)`` in token coordinates — the union of all k-token
    windows that occur >= 2 times in the corpus, merged when overlapping OR
    exactly adjacent.  A shared run of L tokens comes back as ONE span of
    length L, not L - k + 1 grams.  Guarantee: every token inside a span is
    COVERED by some duplicated window (and every duplicated window lies
    inside a span); an adjacent-merge can contain an interior window that
    is itself unique (grams at p and p+k duplicated, the straddling gram
    not), so do not read spans as "all interior windows duplicated".

    ``keep_first=True`` is the removal policy of Lee et al.: the globally
    first occurrence of each gram — min (doc_id, pos), computed as a
    map-side-combinable ``min(struct)`` per gram, never a per-gram sort — is
    NOT flagged, so stripping the flagged spans keeps exactly one copy of
    every duplicated substring.  ``keep_first=False`` flags all occurrences
    (the analysis/statistics mode)."""
    from pyspark.sql.window import Window as W

    p = (postings or kgram_postings)(docs, k)
    # Integral ids take the mixed-radix encoding (HashAggregate — see
    # _first_key); anything else falls back to min(struct), which plans
    # a SortAggregate but accepts any orderable id type.
    encoded = _integral_id(p)
    first_agg = (
        F.min(_first_key("doc_id", "pos"))
        if encoded
        else F.min(F.struct("doc_id", "pos"))
    ).alias("__first")
    per_gram = p.groupBy("gram").agg(
        F.count(F.lit(1)).alias("__n_occ"), first_agg
    )
    dup = p.join(per_gram.filter(F.col("__n_occ") >= 2), "gram")
    if keep_first:
        is_first = (
            _is_first("doc_id", "pos", "__first")
            if encoded
            else (
                (F.col("doc_id") == F.col("__first.doc_id"))
                & (F.col("pos") == F.col("__first.pos"))
            )
        )
        dup = dup.filter(~is_first)
    w = W.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    spans = (
        dup.select("doc_id", "pos")
        .withColumn(
            "__new",
            (prev_end.isNull() | (F.col("pos") > prev_end)).cast("int"),
        )
        .withColumn("__span", F.sum("__new").over(w))
        .groupBy("doc_id", "__span")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k) - F.min("pos")).alias("span_len"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_len", "n_grams")
    )
    return spans


def line_postings(docs: DataFrame, delim: str = "\n") -> DataFrame:
    """One row per line per document: ``(doc_id, line_no, line, lhash)``.
    ``lhash`` is xxhash64 of the TRIMMED line, so leading/trailing whitespace
    differences don't split a boilerplate class.  ``delim`` is a LITERAL
    separator (regex-quoted with ``\\Q…\\E`` before the split — the rebuild
    in ``strip_boilerplate_lines`` rejoins with the same literal, and a
    regex/literal asymmetry would corrupt rebuilt docs for metachar
    delimiters like ``'.'`` or ``'|'``).  Row-local (split + posexplode) —
    nothing shuffles here."""
    if "\\E" in delim:
        raise ValueError(r"delim may not contain '\E' (regex quote sentinel)")
    pat = "\\Q" + delim + "\\E"
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), pat, -1)).alias("line_no", "line"),
    ).withColumn("lhash", F.xxhash64(F.trim(F.col("line"))))


def boilerplate_lines(
    docs: DataFrame, min_docs: int = 2, delim: str = "\n"
) -> DataFrame:
    """Lines (paragraphs) appearing in >= ``min_docs`` DISTINCT documents —
    the CCNet-style boilerplate set: ``(lhash, line, n_docs)`` with one
    representative ``line`` string per hash.

    Scale shape: per-hash aggregate only (Spark plans countDistinct as
    partial-distinct + final, both map-side combined) — there is NO doc-pair
    join, so a navbar line shared by 10^8 pages is one output row.  Empty
    lines are excluded: they are structure, not boilerplate."""
    p = line_postings(docs, delim).filter(F.trim(F.col("line")) != "")
    return (
        p.groupBy("lhash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("line").alias("line"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("lhash", "line", "n_docs")
    )


def strip_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 2,
    keep_first: bool = False,
    delim: str = "\n",
) -> DataFrame:
    """Remove boilerplate lines — lines occurring in >= ``min_docs`` distinct
    documents — from every document's ``text`` (CCNet paragraph dedup, the
    line-granularity sibling of :func:`strip_duplicate_spans`).

    ``keep_first=False`` (default) drops ALL occurrences — the Gopher/CCNet
    boilerplate-removal policy ("subscribe to our newsletter" carries no
    training signal anywhere).  ``keep_first=True`` keeps the globally first
    occurrence (min (doc_id, line_no), a map-side-combinable min(struct))
    so the corpus retains exactly one copy per duplicated line.  Both modes
    are idempotent: after a pass no line reaches ``min_docs`` documents.

    Scale design: (1) flagging is a per-hash aggregate — never a doc-pair
    join; (2) the postings↔flagged join keys on an 8-byte hash and the
    flagged side is small by construction (AQE broadcasts it); (3) the
    rebuild groupBy partitions by doc_id, bounded by document size.  Docs
    with no flagged line pass through BYTE-IDENTICAL (left join + coalesce
    on the untouched branch — their text is never re-split/re-joined); a
    fully-boilerplate doc comes back with empty text, for the caller's
    length filter to drop.  Empty lines are never stripped.  A 2^-64 hash
    collision can only merge two line classes (over-flagging one line),
    never corrupt coordinates."""
    p = line_postings(docs, delim)
    encoded = _integral_id(p)
    first_agg = (
        F.min(_first_key("doc_id", "line_no"))
        if encoded
        else F.min(F.struct("doc_id", "line_no"))
    ).alias("__first")
    flagged_hashes = (
        p.filter(F.trim(F.col("line")) != "")
        .groupBy("lhash")
        .agg(F.countDistinct("doc_id").alias("__n_docs"), first_agg)
        .filter(F.col("__n_docs") >= min_docs)
    )
    flagged = p.join(flagged_hashes, "lhash")
    if keep_first:
        is_first = (
            _is_first("doc_id", "line_no", "__first")
            if encoded
            else (
                (F.col("doc_id") == F.col("__first.doc_id"))
                & (F.col("line_no") == F.col("__first.line_no"))
            )
        )
        flagged = flagged.filter(~is_first)
    flagged = flagged.select("doc_id", "line_no")
    touched = flagged.select("doc_id").distinct()
    rebuilt = (
        p.join(flagged, ["doc_id", "line_no"], "left_anti")
        .join(touched, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                    lambda s: s["line"],
                ),
                delim,
            ).alias("__new_text")
        )
    )
    return (
        docs.join(
            touched.withColumn("__touched", F.lit(True)), "doc_id", "left"
        )
        .join(rebuilt, "doc_id", "left")
        .withColumn(
            "text",
            F.when(F.col("__touched").isNull(), F.col("text")).otherwise(
                F.coalesce(F.col("__new_text"), F.lit(""))
            ),
        )
        .drop("__touched", "__new_text")
    )


def strip_duplicate_spans(docs: DataFrame, k: int = 20) -> DataFrame:
    """Rewrite ``text`` with every duplicated >= k-token span removed EXCEPT
    its globally-first occurrence (``duplicate_spans(keep_first=True)``) —
    the corpus keeps exactly one copy of each duplicated substring.

    The rewrite is pure built-ins: spans collect to a per-doc array (bounded
    by tokens/k per doc), and ``filter(tokens, (tok, i) -> not exists(spans,
    s -> covered))`` drops covered token positions.  Docs with no duplicated
    span pass through untouched (left join + coalesce), so the common case
    costs one broadcast-or-shuffle join and zero rewrites."""
    spans = duplicate_spans(docs, k=k, keep_first=True)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_len")).alias("__spans")
    )
    toks = words("text")
    covered = lambda tok, i: F.exists(  # noqa: E731
        F.col("__spans"),
        lambda s: (i >= s["span_start"]) & (i < s["span_start"] + s["span_len"]),
    )
    kept = F.filter(toks, lambda tok, i: ~covered(tok, i))
    return (
        docs.join(per_doc, "doc_id", "left")
        .withColumn(
            "text",
            F.when(F.col("__spans").isNull(), F.col("text")).otherwise(
                F.concat_ws(" ", kept)
            ),
        )
        .drop("__spans")
    )


# ---------------------------------------------------------------------------
# Round-8 driver-oracle slots for the round-7 substring/line dedup operators
# ---------------------------------------------------------------------------

SPAN_K = 6  # span gram width for the driver slot (docs are ~30-90 tokens)


_SPANS_SQL = f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos,
             array_to_string(w[t.i : t.i + {SPAN_K - 1}], ' ') AS gram
      FROM toks, LATERAL (SELECT unnest(range(1, len(w) - {SPAN_K} + 2)) AS i) t
      WHERE len(w) >= {SPAN_K}
    ),
    occ AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY gram) AS n_occ,
             ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
      FROM grams
    ),
    dup AS (SELECT doc_id, pos FROM occ WHERE n_occ >= 2 AND rn > 1),
    marks AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + {SPAN_K}) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR pos > max(pos + {SPAN_K}) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS newspan
      FROM dup
    ),
    sp AS (
      SELECT doc_id, pos,
             SUM(newspan) OVER (PARTITION BY doc_id ORDER BY pos) AS span
      FROM marks
    )
    SELECT doc_id, MIN(pos) AS span_start,
           MAX(pos) + {SPAN_K} - MIN(pos) AS span_len,
           COUNT(*) AS n_grams
    FROM sp GROUP BY doc_id, span
    """


def dedup_spans(spark, sf_dir):
    """Driver slot for :func:`duplicate_spans` (round-7 substring-level
    exact dedup, Lee et al. keep-first policy): maximal duplicated
    >= {k}-token spans per document in integer token coordinates — exactly
    re-derivable in the oracle with window functions, so the whole
    postings -> per-gram first-occurrence -> interval-merge pipeline is
    hash-checked end to end.  The Spark side is the production operator
    (per-gram map-side-combinable aggregates, min(struct) first-occurrence,
    NO doc-pair join); the oracle is an independent SQL formulation over
    raw gram strings."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicate_spans(d, k=SPAN_K, keep_first=True).orderBy(
        "doc_id", "span_start"
    )


dedup_spans.__doc__ = dedup_spans.__doc__ and dedup_spans.__doc__.format(k=SPAN_K)


_BP_NEWS = "Subscribe to our newsletter today"
_BP_COPY = "Copyright 2026 Example Corp - All rights reserved"


_BP_SQL = f"""
    WITH built AS (
      SELECT doc_id,
             concat_ws(chr(10),
                 CAST(doc_id AS VARCHAR) || ': ' || text,
                 CASE WHEN doc_id % 3 = 0 THEN '{_BP_NEWS}' END,
                 CASE WHEN doc_id % 5 = 0 THEN '{_BP_COPY}' END) AS text
      FROM documents),
    lines AS (
      SELECT doc_id, t.i - 1 AS line_no, ls[t.i] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM built),
           LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) t),
    flagged AS (
      SELECT trim(line) AS key FROM lines WHERE trim(line) <> ''
      GROUP BY trim(line) HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
    FROM lines WHERE trim(line) NOT IN (SELECT key FROM flagged)
    GROUP BY doc_id
    """


def dedup_boilerplate(spark, sf_dir):
    """Driver slot for :func:`strip_boilerplate_lines` (round-7 CCNet-style
    line/paragraph dedup).  The flat synthetic corpus has no newlines, so
    the query PLANTS deterministic multi-line structure — a unique
    id-prefixed first line plus boilerplate lines on doc_id % 3 / % 5 —
    identically on both sides, then runs the production operator
    (per-line-hash countDistinct flagging, hash-keyed anti-join rebuild,
    byte-identical passthrough for untouched docs); the oracle re-derives
    the strip from raw trimmed-line strings, so the whole flag->strip->
    rebuild path is hash-checked."""
    d = load_table(spark, sf_dir, "documents")
    built = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.col("doc_id").cast("string"), F.lit(": "), F.col("text")),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_BP_NEWS)),
            F.when(F.col("doc_id") % 5 == 0, F.lit(_BP_COPY)),
        ).alias("text"),
    )
    return (
        strip_boilerplate_lines(built, min_docs=2)
        .select("doc_id", "text")
        .orderBy("doc_id")
    )


@query(
    "dedup_textual",
    oracle=f"""
    SELECT 'spans' AS op, doc_id, span_start, span_len, n_grams,
           CAST(NULL AS VARCHAR) AS text
    FROM ({_SPANS_SQL}) sp_
    UNION ALL
    SELECT 'lines' AS op, doc_id, CAST(NULL AS BIGINT) AS span_start,
           CAST(NULL AS BIGINT) AS span_len, CAST(NULL AS BIGINT) AS n_grams,
           text
    FROM ({_BP_SQL}) bp_
    ORDER BY op, doc_id, span_start NULLS FIRST
    """,
)
def dedup_textual(spark, sf_dir):
    """The sub-document textual dedup family in ONE driver slot (round-9
    tagged-union merge of ``dedup_spans`` and ``dedup_boilerplate`` —
    component docstrings carry the algorithms and scale notes).
    ``spans`` rows: maximal duplicated >= 6-token spans per document
    (:func:`duplicate_spans`, Lee et al. keep-first) in integer token
    coordinates; ``lines`` rows: documents after CCNet-style boilerplate
    line stripping (:func:`strip_boilerplate_lines`) over the planted
    multi-line corpus."""
    from ..functions.union import pad_union

    schema = [
        ("op", "string"), ("doc_id", "bigint"), ("span_start", "bigint"),
        ("span_len", "bigint"), ("n_grams", "bigint"), ("text", "string"),
    ]
    return pad_union(
        schema,
        (
            dedup_spans(spark, sf_dir),
            {
                "op": F.lit("spans"), "doc_id": "doc_id",
                "span_start": "span_start", "span_len": "span_len",
                "n_grams": "n_grams",
            },
        ),
        (
            dedup_boilerplate(spark, sf_dir),
            {"op": F.lit("lines"), "doc_id": "doc_id", "text": "text"},
        ),
    ).orderBy("op", "doc_id", F.col("span_start").asc_nulls_first())
