"""Persisted BM25 postings index — the serve-path artifact
``text.bm25_topk``'s docstring defers to ("at 100 TB serve repeated
queries from a persisted postings index; this is the scan-time form whose
plan that index would replay").  Same layered design as the MinHash
ingest index (``operators/dedup_index.py``): one corpus pass at ingest
writes term-clustered artifacts; each query then reads ONLY its own
terms' row groups.

Layout under ``path``:

- ``postings/``  — (term, doc_id, tf), repartitionByRange on term and
  sorted within partitions, so a query's ``term IN (...)`` pushdown skips
  row groups for every term it doesn't mention;
- ``df/``       — (term, df) per-term document frequency, same
  clustering (tiny relation, broadcast at query time);
- ``doclens/``  — (doc_id, dl) document lengths (joined only for the
  matching postings);
- ``stats/``    — (n_docs, n_len, sum_dl) batch rows; the probe derives
  exact corpus stats by SUMMING them: idf's N = Σ n_docs (ALL docs),
  avgdl = Σ sum_dl / Σ n_len (n_len counts docs with a non-null token
  count — the denominator Spark's AVG uses, so NULL-text corpora probe
  bit-identically to the scan-time form);
- ``meta/``     — version + tokenizer pin (lowercase whitespace tokens,
  the exact ``text_keys.tokens`` contract) so a probe never scores against
  an index built with a different tokenization.

Every artifact is APPEND-ONLY and additive — ``extend_text_index``
appends a new batch's postings/df/doclens/stats files and the probe
aggregates (SUM of per-batch df rows per term, SUM of stats rows), so
continuous ingest never rewrites existing data and a reader never sees
a half-overwritten artifact.  Appends assume batch doc_ids are disjoint
from the indexed corpus (dedup upstream — the ``streaming/ingest``
composition guarantees it); appended files lose the term clustering of
the initial build until :func:`compact_text_index` rewrites them back
into the clustered layout (O(index) — no re-tokenization), exactly like
the MinHash index's extend/compact pair.

Query cost: O(query-term postings) — the shuffle never carries the
vocabulary, exactly like the scan-time form, but the corpus scan itself
is gone.  ``bm25_topk_indexed`` and ``bm25_topk`` share ONE scoring
tail (``text.bm25_score_topk``), so their bit-exact parity is
structural; the parity tests pin it — and a built+extended index scores
identically to a from-scratch build over the union corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text_keys import tokens
from ..registry import query
from .text import bm25_score_topk

# v2: stats rows gained n_len (the AVG denominator excluding NULL-text
# docs) — the bump makes a v1 index fail LOUDLY at _check_meta instead
# of the mixed-parquet-schema failure an extend would otherwise create
# (schema sampled per file-listing order; reproduced scoring silently
# wrong), the same bug class the MinHash index's v2 bump closed.
INDEX_VERSION = 2
_TOKENIZER = "lower-ws"


def _write_batch(
    docs: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    n_files: int,
    mode: str,
) -> None:
    """One corpus pass → postings/df/doclens/stats for THIS batch, written
    with ``mode`` (overwrite = initial build, append = extend)."""
    toks = tokens(F.lower(F.col(text_col)))
    # doc lengths are written as their own artifact — carrying a per-token
    # length column through the explode would widen the build's largest
    # intermediate for nothing
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(toks).alias("term"),
    )
    tf = (
        base.groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    (
        tf.repartitionByRange(n_files, "term")
        .sortWithinPartitions("term", "doc_id")
        .write.mode(mode)
        .parquet(f"{path}/postings")
    )
    (
        tf.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .repartitionByRange(max(1, n_files // 8), "term")
        .sortWithinPartitions("term")
        .write.mode(mode)
        .parquet(f"{path}/df")
    )
    # one tokenization pass serves doclens AND stats (the checkpoint cuts
    # the second corpus scan the stats aggregate would otherwise re-run)
    doclens = docs.select(
        F.col(id_col).alias("doc_id"), F.size(toks).alias("dl")
    ).localCheckpoint()
    (
        doclens.repartitionByRange(max(1, n_files // 8), "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode(mode)
        .parquet(f"{path}/doclens")
    )
    # n_docs counts ALL docs (idf's N); n_len counts docs with a non-null
    # token count — the denominator Spark's AVG uses, so a corpus with
    # NULL-text rows still probes bit-identically to scan-time bm25_topk
    doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("dl").alias("n_len"),
        F.sum("dl").alias("sum_dl"),
    ).write.mode(mode).parquet(f"{path}/stats")


def build_text_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int = 32,
    owner: str | None = None,
) -> None:
    """Initial build: one corpus pass → the artifacts above.  Mutating
    writers hold the single-writer lease (``manifest.index_writer_lock``)
    so a build can never interleave with an extend/compaction."""
    from ..sources.manifest import index_writer_lock

    with index_writer_lock(docs.sparkSession, path, owner):
        _write_batch(docs, path, id_col, text_col, n_files, "overwrite")
        docs.sparkSession.createDataFrame(
            [(INDEX_VERSION, _TOKENIZER)], "version int, tokenizer string"
        ).write.mode("overwrite").parquet(f"{path}/meta")


def extend_text_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int = 4,
    owner: str | None = None,
) -> None:
    """Append a new batch to an existing index — O(batch), no rewrite of
    existing data (see module docstring for the additive-artifact
    design and the disjoint-doc_ids assumption).  Holds the single-writer
    lease for the duration of the append: an extend racing a compaction
    would otherwise have its files silently dropped by the compaction
    swap (round-9 verdict finding — now structurally impossible; the
    loser gets ``ConflictError`` and retries with nothing lost)."""
    from ..sources.manifest import index_writer_lock

    with index_writer_lock(docs.sparkSession, path, owner):
        _check_meta(docs.sparkSession, path)
        _write_batch(docs, path, id_col, text_col, n_files, "append")


def _check_meta(spark: SparkSession, path: str) -> None:
    m = spark.read.parquet(f"{path}/meta").collect()[0]
    got = (m["version"], m["tokenizer"])
    want = (INDEX_VERSION, _TOKENIZER)
    if got != want:
        raise ValueError(
            f"text index at {path} was built with {got}, this build "
            f"expects {want} — rebuild the index"
        )


def bm25_topk_indexed(
    spark: SparkSession,
    path: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-``k`` served from the persisted index — identical
    arithmetic to ``text.bm25_topk`` (same formula, same fixed sorted-term
    addition order → bit-identical scores), but the only data read is the
    query terms' postings/df row groups plus the 1-row stats."""
    _check_meta(spark, path)
    terms = sorted({t for t in query.strip().lower().split() if t})
    if not terms:
        raise ValueError("empty query")
    postings = spark.read.parquet(f"{path}/postings").filter(
        F.col("term").isin(terms)
    )
    # per-batch df/stats rows are ADDITIVE (batch doc sets are disjoint):
    # aggregate them so a built+extended index probes exactly like a
    # from-scratch build
    dfreq = (
        spark.read.parquet(f"{path}/df")
        .filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    stats = spark.read.parquet(f"{path}/stats").agg(
        F.sum("n_docs").alias("__n"),
        # long-sum / long-count in one double division == Spark's AVG over
        # the union corpus, bit-for-bit; n_len (not n_docs) is the
        # denominator so NULL-text docs count into N but not avgdl,
        # exactly like the scan-time form
        (F.sum("sum_dl").cast("double") / F.sum("n_len")).alias("__avgdl"),
    )
    doclens = spark.read.parquet(f"{path}/doclens")
    tf = postings.join(doclens, "doc_id").select(
        "doc_id", F.col("term").alias("__t"), F.col("tf").alias("__tf"),
        F.col("dl").alias("__dl"),
    )
    # the scoring tail is text.bm25_score_topk — ONE definition shared
    # with the scan-time form, so parity is structural
    return bm25_score_topk(
        tf,
        dfreq.select(F.col("term").alias("__t"), F.col("df").alias("__df")),
        stats,
        terms,
        k,
        k1,
        b,
        id_col="doc_id",
    )


# ---------------------------------------------------------------------------
# Round-9 driver slot: build + extend + probe, oracled end to end
# ---------------------------------------------------------------------------

_IDX_TERMS = ("data", "filter", "group")  # distinct from text_bm25's query


@query(
    "bm25_topk_indexed",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN LENGTH(TRIM(text)) = 0 THEN []
                  ELSE string_split_regex(TRIM(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') END AS w
      FROM documents),
    base AS (SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM toks),
    tf AS (
      SELECT doc_id, t, COUNT(*) AS tf, MAX(dl) AS dl
      FROM base WHERE t IN ('data', 'filter', 'group')
      GROUP BY doc_id, t),
    stats AS (SELECT COUNT(*) AS n, AVG(len(w)) AS avgdl FROM toks),
    dfq AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY t),
    s AS (
      SELECT tf.doc_id, tf.t,
             ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5)) * tf.tf
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS sc
      FROM tf JOIN dfq ON dfq.t = tf.t, stats)
    SELECT doc_id, round(
           COALESCE(MAX(CASE WHEN t = 'data'   THEN sc END), 0)
         + COALESCE(MAX(CASE WHEN t = 'filter' THEN sc END), 0)
         + COALESCE(MAX(CASE WHEN t = 'group'  THEN sc END), 0), 9) AS bm25
    FROM s GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def bm25_indexed_probe(spark, sf_dir):
    """Driver slot for the PERSISTED BM25 index: builds the index over the
    even-doc_id half of the corpus, ``extend``s it with the odd half, then
    probes top-20 for ``"data filter group"`` — so the batch-additive
    df/stats arithmetic (SUM of per-batch df rows, Σsum_dl/Σn_len avgdl)
    is hash-checked against an oracle that recomputes BM25 from the RAW
    text of the union corpus.  A green hash therefore proves
    build + extend + probe ≡ scan-time BM25 over the whole corpus, the
    module's central parity claim, under the driver gate rather than
    pytest only.  The index lands in a fresh scratch dir per call,
    checkpointed out of and removed before returning (round 13).
    Rounding note: scores are reported at 9 dp for the same 1-ULP ``ln``
    reason as ``text_bm25``."""
    from ..sources.tables import load_table
    from .scratch import with_slot_scratch

    d = load_table(spark, sf_dir, "documents")

    def _build(path):
        build_text_index(d.filter(F.col("doc_id") % 2 == 0), path)
        extend_text_index(d.filter(F.col("doc_id") % 2 == 1), path)
        return bm25_topk_indexed(
            spark, path, " ".join(_IDX_TERMS), k=20
        ).select("doc_id", F.round("bm25", 9).alias("bm25"))

    return with_slot_scratch("bm25-idx-slot-", _build)


# ---------------------------------------------------------------------------
# Round-9: index compaction (restores clustering lost by appends)
# ---------------------------------------------------------------------------


def _swap_rewrite(spark: SparkSession, path: str, artifact: str, writer):
    """Rewrite one index artifact via a temp dir + delete/rename swap.

    ``writer(tmp_path)`` must WRITE the replacement (an eager Spark write
    reading the OLD files — lazy plans would read a dir we then delete).
    The swap itself is delete-then-rename (Hadoop FS, so file://, hdfs://
    and s3a:// all work): a crash between the two steps loses the
    artifact dir, which is why production deployments run compaction
    under the manifest layer (``sources.manifest.ManifestTable.compact``
    — commit-then-swap, readers never see a partial state); the bare form
    here matches the bare append-only index contract."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    tmp = hpath(f"{path}/.compact-{artifact}")
    dst = hpath(f"{path}/{artifact}")
    fs = dst.getFileSystem(conf)
    if fs.exists(tmp):
        fs.delete(tmp, True)
    writer(f"{path}/.compact-{artifact}")
    fs.delete(dst, True)
    if not fs.rename(tmp, dst):
        raise IOError(f"compaction swap failed for {path}/{artifact}")


def compact_text_index(
    spark: SparkSession, path: str, n_files: int = 32,
    owner: str | None = None,
) -> None:
    """Rewrite an appended-to BM25 index back into its initial-build
    layout — the compaction ``extend_text_index`` documents ("appended
    files lose the term clustering ... until a rebuild compacts them"),
    WITHOUT re-tokenizing anything: cost is O(index), a read + clustered
    rewrite of the existing artifacts, not O(corpus re-scan).

    - ``postings``: re-clustered ``repartitionByRange(term)`` + sorted, so
      ``term IN`` probes prune row groups across the WHOLE index again;
    - ``df``: per-batch additive rows merged to one row per term (probes
      SUM them, and batch doc sets are disjoint — the merged sum is the
      union df, so probe arithmetic is unchanged);
    - ``doclens``: re-clustered on doc_id;
    - ``stats``: per-batch rows summed to one (the additive contract:
      probes derive N = Σn_docs, avgdl = Σsum_dl/Σn_len — identical
      sums, identical division);
    - ``meta``: untouched (same version, same tokenizer pin).

    Probe parity is structural — the probe aggregates per-batch rows
    anyway, so pre/post-compaction ``bm25_topk_indexed`` results are
    bit-identical (pinned in tests/test_index_compaction.py).

    CONCURRENCY: the single-writer rule ("do not run compaction while an
    extend is in flight — a batch appended mid-compaction would be
    dropped by the swap") is ENFORCED since round 10: the whole rewrite
    runs under ``manifest.index_writer_lock``, so a concurrent extend
    fails with ``ConflictError`` instead of losing its batch.  Probes are
    lock-free and safe throughout except during the brief delete/rename
    window."""
    from ..sources.manifest import index_writer_lock

    with index_writer_lock(spark, path, owner):
        _check_meta(spark, path)
        postings = spark.read.parquet(f"{path}/postings")
        _swap_rewrite(
            spark, path, "postings",
            lambda tmp: postings.repartitionByRange(n_files, "term")
            .sortWithinPartitions("term", "doc_id")
            .write.parquet(tmp),
        )
        dfreq = (
            spark.read.parquet(f"{path}/df")
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
        _swap_rewrite(
            spark, path, "df",
            lambda tmp: dfreq.repartitionByRange(max(1, n_files // 8), "term")
            .sortWithinPartitions("term")
            .write.parquet(tmp),
        )
        doclens = spark.read.parquet(f"{path}/doclens")
        _swap_rewrite(
            spark, path, "doclens",
            lambda tmp: doclens.repartitionByRange(
                max(1, n_files // 8), "doc_id"
            )
            .sortWithinPartitions("doc_id")
            .write.parquet(tmp),
        )
        stats = spark.read.parquet(f"{path}/stats").agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_len").cast("long").alias("n_len"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        )
        _swap_rewrite(
            spark, path, "stats",
            lambda tmp: stats.coalesce(1).write.parquet(tmp),
        )
