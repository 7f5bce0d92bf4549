"""Corpus report — the dataset-card statistics sheet assembled from the
operators that already exist: size/quality/language/domain/dedup-rate
numbers a data release publishes (public convention: dataset cards /
datasheets for datasets).  Composition only; each section documents which
operator computes it, so the report's scale posture is the union of
theirs.

Cost control: every section is a bounded aggregate or a driver-bounded
top-k; the near-dup rate — the one genuinely corpus-quadratic-looking
number — reuses the banded-LSH path (linear in docs + candidates).  The
whole report runs a handful of jobs and returns a plain dict, safe to log
per release.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_keys import content_digest


def corpus_report(
    docs: DataFrame,
    top_domains: int = 5,
    near_dup: bool = True,
) -> dict:
    """Statistics sheet for a (doc_id, text[, lang, source]) corpus."""
    from .curation import domain_stats, repetition_stats
    from .diagnostics import column_profile
    from .text import quality_features

    cols = set(docs.columns)
    # ~8 independent jobs consume this frame — cut lineage ONCE so a
    # derived input (curate_and_prepare output, the natural datasheet
    # subject) doesn't re-run its whole pipeline per section (the same
    # multi-consumer convention as quality_gate / minhash_lsh_pairs)
    docs = docs.localCheckpoint()
    out: dict = {}

    # size + length envelope (one-pass profiler; strings profile LENGTH)
    prof = {p["column"]: p for p in column_profile(docs, ["doc_id", "text"])}
    out["n_docs"] = prof["doc_id"]["rows"]
    out["text_len"] = {
        k: prof["text"][k] for k in ("min", "max", "mean", "p50", "p95")
    }
    out["null_text_frac"] = prof["text"]["null_frac"]

    # quality distribution (shared heuristic scorer — pure projection)
    q = quality_features(docs).agg(
        F.avg("quality").alias("mean"),
        F.expr("percentile_approx(quality, 0.5)").alias("p50"),
        F.avg((F.col("quality") < 0.3).cast("double")).alias("frac_low"),
    ).collect()[0]
    out["quality"] = {k: q[k] for k in ("mean", "p50", "frac_low")}

    # composition mixes — TOP-50 strata only (TakeOrdered, driver-bounded:
    # provenance columns can be arbitrarily high-cardinality; an unbounded
    # collect here would be the one driver-OOM hole in the report)
    for c in ("lang", "source"):
        if c in cols:
            top = (
                docs.groupBy(c)
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), c)
                .limit(51)
                .collect()
            )
            out[f"{c}_mix"] = {r[c]: r["n"] for r in top[:50]}
            out[f"{c}_mix_truncated"] = len(top) > 50

    # exact-dup rate: ONE map-side-combined aggregate over digests (no
    # window sort — we need the unique count, not the surviving rows)
    n_unique = docs.agg(
        # NULL text is one content class, not zero
        F.countDistinct(content_digest())
    ).collect()[0][0]
    out["exact_dup_frac"] = 1.0 - n_unique / out["n_docs"] if out["n_docs"] else 0.0
    if near_dup:
        from .dedup import minhash_lsh_pairs

        pairs = minhash_lsh_pairs(
            docs.sparkSession, None, hash_fn="xxhash64", docs=docs, sort=False
        )
        flagged = pairs.select(
            F.col("doc_b").alias("doc_id")
        ).distinct().count()
        out["near_dup_frac"] = flagged / out["n_docs"] if out["n_docs"] else 0.0

    # intra-doc repetition (Gopher-style template smell)
    rep = repetition_stats(docs).agg(
        F.avg("dup_gram_frac").alias("mean_dup_gram_frac"),
        F.avg((F.col("dup_gram_frac") > 0.3).cast("double")).alias(
            "frac_templatey"
        ),
    ).collect()[0]
    out["repetition"] = {k: rep[k] for k in rep.__fields__}

    # domain head (URL extraction; empty for URL-free corpora)
    out["top_domains"] = [
        (r["domain"], r["n_urls"])
        for r in domain_stats(docs).limit(top_domains).collect()
    ]
    return out


def corpus_report_rows(
    docs: DataFrame,
    hash_fn: str = "xxhash64",
    lang_col: str = "lang",
    prepped: bool = False,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The dataset card as a DRIVER-HASHABLE row set ``(metric, n, v)`` —
    the exactly-re-derivable subset of :func:`corpus_report`, built from
    the same shared fragments (``quality_features``, the NULL-text digest
    sentinel, ``minhash_lsh_pairs``), so the release artifact itself
    rides the oracle gate:

    - ``n_docs`` / ``n_null_text`` — corpus size and the null-text count
    - ``len_min`` / ``len_max`` / ``len_sum`` — the text-length envelope
      (integer-exact; mean = len_sum / n_docs)
    - ``n_unique_content`` — distinct content digests (exact-dup rate =
      1 − n_unique/n_docs, emitted as ``exact_dup_frac`` in ``v``)
    - ``n_near_dup`` — docs flagged as some pair's doc_b by the banded
      MinHash+LSH path (``hash_fn='md5'`` in the oracle configuration)
    - ``quality_low`` — docs under the 0.3 quality floor;
      ``quality_sum_q9`` — the 9-dp-decimal quality sum (mean =
      quality_sum_q9 / n_docs, order-free under any partitioning)
    - ``lang:<l>`` — per-language composition counts

    Each metric is one bounded aggregate; the percentile/top-domain
    sections of the dict report stay driver-side (percentile_approx is
    engine-specific by design)."""
    from .dedup import minhash_lsh_pairs
    from .text import quality_features

    spark = docs.sparkSession
    # ~4 aggregates + the pair pipeline consume docs — cut lineage once
    # (``prepped=True``: the caller already materialized the frame;
    # ``shingles``: a caller-shared shingle frame under the same hash_fn
    # convention forwards to the pair chain — round 18, corpus_pipeline)
    if not prepped:
        docs = docs.localCheckpoint()
    digest = content_digest()
    row = lambda m, n=F.lit(None), v=F.lit(None): [  # noqa: E731
        F.lit(m).alias("metric"),
        n.cast("bigint").alias("n"),
        v.cast("double").alias("v"),
    ]
    size = docs.agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum(F.col("text").isNull().cast("long")).alias("nn"),
        F.min(F.length("text")).alias("lmin"),
        F.max(F.length("text")).alias("lmax"),
        F.sum(F.length("text")).alias("lsum"),
        F.countDistinct(digest).alias("nu"),
    ).localCheckpoint()  # 1 row; consumed by several projections below
    qf = quality_features(docs).agg(
        F.sum((F.col("quality") < 0.3).cast("long")).alias("nlow"),
        F.sum(F.round("quality", 9).cast("decimal(20,9)"))
        .cast("double")
        .alias("qsum"),
    )
    pairs = minhash_lsh_pairs(
        spark, None, hash_fn=hash_fn, docs=docs, sort=False,
        shingles=shingles,
    )
    flagged = pairs.select(F.col("doc_b").alias("d")).distinct().agg(
        F.count(F.lit(1)).alias("nf")
    )
    parts = [
        size.select(*row("n_docs", n=F.col("nd"))),
        size.select(*row("n_null_text", n=F.col("nn"))),
        size.select(*row("len_min", n=F.col("lmin"))),
        size.select(*row("len_max", n=F.col("lmax"))),
        size.select(*row("len_sum", n=F.col("lsum"))),
        size.select(*row("n_unique_content", n=F.col("nu"))),
        size.select(
            *row(
                "exact_dup_frac",
                v=F.lit(1.0) - F.col("nu") / F.col("nd"),
            )
        ),
        qf.select(*row("quality_low", n=F.col("nlow"))),
        qf.select(*row("quality_sum_q9", v=F.col("qsum"))),
        flagged.select(*row("n_near_dup", n=F.col("nf"))),
        docs.groupBy(F.col(lang_col).alias("__l"))
        .agg(F.count(F.lit(1)).alias("ln"))
        .select(
            F.concat(F.lit("lang:"), F.col("__l")).alias("metric"),
            F.col("ln").cast("bigint").alias("n"),
            F.lit(None).cast("double").alias("v"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
