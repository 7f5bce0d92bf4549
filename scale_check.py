"""Scaling evidence for the dedup/corpus/curation paths: per-row cost across
three decades of corpus size (500 → 5 000 → 50 000 docs) for MinHash+LSH,
the composed corpus pipeline, substring-level duplicate spans, PII
redaction, benchmark decontamination, repetition stats, domain mixing,
line-level boilerplate stripping, mixture materialization (upsampling),
the single-pass validation suite, the shuffle-skew instrument, and the
embed→JL-project ingest composition.

Two targets wrap their DataFrame in a filter referencing the computed
columns: the harness forces evaluation with ``count()``, and ``count`` alone
lets Catalyst prune a narrow ``withColumn`` (redaction) or the aggregate
values of a ``groupBy`` (repetition) — the filter makes the measured plan
actually do the work being measured.

The driver ships sf0.01/sf0.1 (500/5 000 docs); the 50 000-doc point is a
deterministic 10× replication of the driver's sf0.1 documents table with a
per-copy perturbation (every 7th word of copy k suffixed ``_k``), which
drops cross-copy Jaccard to ~0.75 — BELOW the 0.8 near-dup threshold — so
the corpus's intra-copy duplicate structure is preserved and the true-pair
count scales ~linearly, the realistic shape for a grown corpus (a naive
10× exact replication would instead plant a quadratic pair blow-up no real
corpus has).  Build it with::

    python scale_check.py --build   # writes .scale_scratch/sf1/documents.parquet
    python scale_check.py           # measures + prints one JSON line

A per-row cost ratio ≤ 1.3 per decade is the near-linear target
(VERDICT r3 item 3); the banded-LSH design predicts ~1: every stage is a
hash-partitioned join/aggregate whose work is proportional to rows +
candidate pairs, and candidate pairs grow linearly when the dup rate is
constant.  Run `--max-df 0.5` to add the skew-guarded production config
(``cap_shingles``) for comparison.

The persisted-index lifecycle (round-10 verdict item 6) gets its own
section (``_index_lifecycle``): text-index + MinHash-index build / 10%
extend per-row, and the BM25 + persisted-IVF PROBES in raw seconds — the
flat-probe claim (probe reads only its terms' row groups / probed cell
partitions, so its cost must not track corpus size).  The MinHash probe
is the exception by design: a broadcast map-side pass over the index
bands relation (O(index bytes), no shuffle) whose cost production ingest
amortizes across a whole micro-batch per pass — its decade growth is
reported, not asserted flat.  ``--build`` synthesizes the 10× embeddings
point alongside the documents.
"""

from __future__ import annotations

import argparse
import json
import os
import time

# Paths are env-overridable (SPARK_GRAFT_TESTDATA for the driver-shipped
# parquet root) and repo-relative for the synthesized 10× point, so the
# script runs from any checkout location.
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SCRATCH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".scale_scratch", "sf1"
)
POINTS = [
    ("sf0.01", os.path.join(TESTDATA, "sf0.01"), 500),
    ("sf0.1", os.path.join(TESTDATA, "sf0.1"), 5000),
    ("sf1x", SCRATCH, 50000),
]


def build() -> None:
    import duckdb

    os.makedirs(SCRATCH, exist_ok=True)
    src = os.path.join(TESTDATA, "sf0.1", "documents.parquet")
    duckdb.connect().execute(
        f"""
        COPY (
          SELECT d.doc_id + k.k * 1000000 AS doc_id,
                 CASE WHEN k.k = 0 THEN d.text ELSE
                   list_aggregate(
                     list_transform(string_split(d.text, ' '),
                       (w, i) -> CASE WHEN i % 7 = 0 THEN w || '_' || k.k
                                 ELSE w END),
                     'string_agg', ' ')
                 END AS text,
                 d.lang, d.source, d.n_chars
          FROM '{src}' d, range(10) k(k)
        ) TO '{SCRATCH}/documents.parquet' (FORMAT PARQUET)
        """
    )
    # 10× embeddings for the persisted-IVF lifecycle decade (vectors kept
    # verbatim per copy — "the crawl grew with similar data", so per-cell
    # occupancy grows 10× uniformly, the honest probe-cost shape; the k=0
    # copy keeps original vec_ids so the fixed probe id stays resolvable)
    esrc = os.path.join(TESTDATA, "sf0.1", "embeddings.parquet")
    duckdb.connect().execute(
        f"""
        COPY (
          SELECT e.vec_id + k.k * 1000000 AS vec_id, e.embedding, e.label
          FROM '{esrc}' e, range(10) k(k)
        ) TO '{SCRATCH}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    # Full sf1 relational set (round 12 — the one-off 10×-the-graded-SF
    # headline bench reads this directory): TPC-H semantics — the fixed
    # dims (region, nation) copy VERBATIM, every fact table replicates
    # 10× with disjoint key offsets on its own keys while foreign keys to
    # the fixed dims stay untouched, so every join remains consistent and
    # selectivities match a grown corpus.
    OFF = 100_000_000
    con = duckdb.connect()
    sf01 = os.path.join(TESTDATA, "sf0.1")
    for t in ("region", "nation"):
        con.execute(
            f"COPY (SELECT * FROM '{sf01}/{t}.parquet')"
            f" TO '{SCRATCH}/{t}.parquet' (FORMAT PARQUET)"
        )
    fact_keys = {
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"],
    }
    for t, keys in fact_keys.items():
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM '{sf01}/{t}.parquet'"
            ).fetchall()
        ]
        sel = ", ".join(
            f"t.{c} + k.k * {OFF} AS {c}" if c in keys else f"t.{c}"
            for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} FROM '{sf01}/{t}.parquet' t, range(10) k(k))"
            f" TO '{SCRATCH}/{t}.parquet' (FORMAT PARQUET)"
        )


SCRATCH10 = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".scale_scratch", "sf10"
)


def build_sf10() -> None:
    """Second decade up (round 13 — VERDICT r12 ask #2): synthesize the
    sf10 point (100× the graded sf0.1) for the tables the five steepest
    sf1 growers read — documents (perturbed replication, same ~0.75
    cross-copy Jaccard construction as sf1 so near-dup structure stays
    linear), embeddings (verbatim replication), and events + orders with
    disjoint key offsets (the as-of join's two sides)."""
    import duckdb

    os.makedirs(SCRATCH10, exist_ok=True)
    sf01 = os.path.join(TESTDATA, "sf0.1")
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT d.doc_id + k.k * 1000000 AS doc_id,
                 CASE WHEN k.k = 0 THEN d.text ELSE
                   list_aggregate(
                     list_transform(string_split(d.text, ' '),
                       (w, i) -> CASE WHEN i % 7 = 0 THEN w || '_' || k.k
                                 ELSE w END),
                     'string_agg', ' ')
                 END AS text,
                 d.lang, d.source, d.n_chars
          FROM '{sf01}/documents.parquet' d, range(100) k(k)
        ) TO '{SCRATCH10}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT e.vec_id + k.k * 1000000 AS vec_id, e.embedding, e.label
          FROM '{sf01}/embeddings.parquet' e, range(100) k(k)
        ) TO '{SCRATCH10}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    OFF = 100_000_000
    fact_keys = {
        "orders": ["o_orderkey", "o_custkey"],
        "events": ["event_id", "user_id"],
    }
    for t, keys in fact_keys.items():
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM '{sf01}/{t}.parquet'"
            ).fetchall()
        ]
        sel = ", ".join(
            f"t.{c} + k.k * {OFF} AS {c}" if c in keys else f"t.{c}"
            for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} FROM '{sf01}/{t}.parquet' t, range(100) k(k))"
            f" TO '{SCRATCH10}/{t}.parquet' (FORMAT PARQUET)"
        )


def _qsel_probe(s, d):
    """Per-source top-30% selection over a synthetic hash score — the
    two-pass histogram threshold evaluated per row (the groupBy inside
    quality_top_fraction cannot fold the score away)."""
    from pyspark.sql import functions as F

    from hive_serde_schema_gen_spark.operators.selection import (
        quality_top_fraction,
    )
    from hive_serde_schema_gen_spark.sources.tables import load_table

    docs = load_table(s, d, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        (
            F.pmod(F.xxhash64("doc_id"), F.lit(1_000_000)) / 1_000_000.0
        ).alias("score_cal"),
    )
    sel, _report = quality_top_fraction(scored, 3, 10)
    return sel.filter("qs >= 0")


def _tokmix_probe(s, d):
    """Token-budget fill + training manifest over the real corpus —
    bounded collect for the per-source totals (one row per source), then
    the distributed prefix sum and the manifest's per-shard layout."""
    from pyspark.sql import functions as F

    from hive_serde_schema_gen_spark.functions.text_keys import ws_token_count
    from hive_serde_schema_gen_spark.operators.packing import training_manifest
    from hive_serde_schema_gen_spark.operators.selection import (
        integer_temperature_budgets,
        token_budget_mixture,
    )
    from hive_serde_schema_gen_spark.sources.tables import load_table

    docs = load_table(s, d, "documents")
    totals = {
        r["source"]: r["t"]
        for r in docs.groupBy("source")
        .agg(F.sum(ws_token_count()).alias("t"))
        .collect()
    }
    # budget scales with the corpus so the fill stays a constant fraction
    budgets = integer_temperature_budgets(
        totals, sum(totals.values()) // 3
    )
    from pyspark.sql import functions as FF

    sel = token_budget_mixture(docs, budgets)
    m = training_manifest(sel, epoch=5, context_len=64, n_shards=64)
    return m.filter(
        (FF.col("offset") >= 0) & (FF.col("chunk_last") >= -1)
    )


def _fuzzy_probe(s, d):
    """Fuzzy decontamination against a FIXED 20-item benchmark (eval
    sets don't grow with the crawl): banded candidates + exact verify —
    the corpus side must stay linear while the broadcast side is
    constant."""
    from hive_serde_schema_gen_spark.operators.contamination import (
        minhash_contamination,
    )
    from hive_serde_schema_gen_spark.sources.tables import load_table

    docs = load_table(s, d, "documents")
    bench = docs.filter("doc_id < 20").selectExpr(
        "doc_id AS bench_id", "text"
    )
    return minhash_contamination(docs, bench, hash_fn="xxhash64").filter(
        "jaccard >= 0"
    )


def run_sf10() -> None:
    """Measure the five steepest sf1 growers once at sf0.1 and once at
    sf10 (same session, best-of-2 per point, bench-style warmup) and
    print one JSON line with the 100×-data growth factors."""
    from pyspark.sql import functions as F  # noqa: F401

    from hive_serde_schema_gen_spark.operators.advanced import (
        asof_join_last_order,
    )
    from hive_serde_schema_gen_spark.operators.dedup import minhash_lsh_pairs
    from hive_serde_schema_gen_spark.operators.similarity import (
        embedding_norms,
    )
    from hive_serde_schema_gen_spark.operators.media_audio import (
        audio_evidence_clips,
        audio_fingerprints,
    )
    from hive_serde_schema_gen_spark.operators.media_core import phash_dedup
    from hive_serde_schema_gen_spark.operators.media_image import (
        image_hashes,
        phash_evidence_images,
    )
    from hive_serde_schema_gen_spark.operators.media_video import (
        video_evidence_clips,
        video_fingerprints,
    )
    from hive_serde_schema_gen_spark.operators.phash_index import AUDIO, VIDEO
    from hive_serde_schema_gen_spark.operators.text import (
        text_lang_id,
        text_quality_score,
    )
    from hive_serde_schema_gen_spark.session import get_spark
    from hive_serde_schema_gen_spark.sources.tables import load_table

    spark = get_spark("scale-sf10")
    spark.sparkContext.setLogLevel("ERROR")
    # Forced with a filter on COMPUTED columns + count (the scale_check
    # convention): a bare count() lets Catalyst prune the narrow
    # projections entirely (first attempt read text_lang_id flat across
    # 100× data — it was counting parquet rows); a full collect() would
    # instead bill a driver-transfer cost that a real sink never pays.
    targets = {
        # groupBy on the computed column, not a filter: `predicted` is an
        # all-literal-branch CASE, so ANY literal comparison on it folds
        # into the branches and the filter (then the whole projection,
        # under count) optimizes away — PushFoldableIntoBranches.  An
        # aggregation keyed on the prediction must evaluate it per row.
        "text_lang_id": lambda s, d: text_lang_id(s, d)
        .groupBy("predicted", "lang")
        .count(),
        "text_quality_score": lambda s, d: text_quality_score(s, d).filter(
            "quality >= 0 AND n_stopwords >= 0"
        ),
        "embedding_norms": lambda s, d: embedding_norms(s, d).filter(
            "l2_norm >= 0 AND n_positive >= 0 AND q_max > -1e18"
        ),
        "asof_join_last_order": lambda s, d: asof_join_last_order(
            s, d
        ).filter("coalesce(last_orderkey, -1) > -9e18"),
        "dedup_minhash_lsh_xxhash64": lambda s, d: minhash_lsh_pairs(
            s, d, hash_fn="xxhash64", sort=False
        ).filter("jaccard >= 0"),
        # round-14 selection tail (VERDICT r13 ask #4): second decade for
        # the three operators measured only to sf1x so far.  Scores /
        # budgets are computed columns forced through aggregates or
        # filters Catalyst cannot fold.
        "quality_top_fraction": lambda s, d: _qsel_probe(s, d),
        "token_budget_manifest": lambda s, d: _tokmix_probe(s, d),
        "minhash_contamination": lambda s, d: _fuzzy_probe(s, d),
        # round-15 image/audio family (VERDICT r14 ask #3 + #1): the sf10
        # doc_ids reach ~99M, past the oracle offsets (10M/20M/30M), so
        # the probes pass 1e9-scale offsets — the parameterization the
        # collision guard exists for.  image_hashes/audio_fingerprints
        # are mapInPandas stages (Catalyst cannot fold Python), filtered
        # on computed columns anyway per the scale_check convention; the
        # dedup probes bill the hash pass once via the eager
        # localCheckpoint, as the slot does.
        "image_hashes": lambda s, d: image_hashes(
            phash_evidence_images(
                load_table(s, d, "documents").select("doc_id", "text"),
                up_offset=10**9, pert_offset=2 * 10**9,
            )
        ).filter("dhash IS NOT NULL AND width >= 0"),
        "phash_image_dedup": lambda s, d: phash_dedup(
            image_hashes(
                phash_evidence_images(
                    load_table(s, d, "documents").select("doc_id", "text"),
                    up_offset=10**9, pert_offset=2 * 10**9,
                )
            ).localCheckpoint()
        ).filter("dist >= 0"),
        "audio_fingerprints": lambda s, d: audio_fingerprints(
            audio_evidence_clips(
                load_table(s, d, "documents").select("doc_id", "text"),
                up_offset=10**9, pert_offset=2 * 10**9,
                vol_offset=3 * 10**9,
            )
        ).filter("afp IS NOT NULL AND sample_rate > 0"),
        # strategy='anchor': the sf10 corpus's word-perturbed copies stay
        # within AFP radius (the fingerprint is deliberately edit-robust),
        # forming ~100-copy near-dup clusters — the regime where the
        # default minpair pair enumeration is quadratic (measured once:
        # 151.7 s at sf10, 124x on 100x data — BASELINE.md round 15) and
        # the anchor path is linear with the SAME duplicate set.
        # round 16: the video family's first scale rows — fingerprints
        # are one Arrow pass (linear in bytes); dedup runs the auto
        # default end-to-end.
        "video_fingerprints": lambda s, d: video_fingerprints(
            video_evidence_clips(
                load_table(s, d, "documents").select("doc_id", "text"),
                dup_offset=10**9, pert_offset=2 * 10**9,
            )
        ).filter("vfp IS NOT NULL AND n_sampled > 0"),
        "video_dedup_default": lambda s, d: VIDEO.dedup(
            video_fingerprints(
                video_evidence_clips(
                    load_table(s, d, "documents").select("doc_id", "text"),
                    dup_offset=10**9, pert_offset=2 * 10**9,
                )
            ).localCheckpoint(),
        ).filter("dist >= 0"),
        # round 16: the DEFAULT path (strategy='auto') — the bucket
        # diagnostic must route this corpus's ~100-copy AFP clusters to
        # the anchor plan, so the default no longer cliffs (VERDICT r15
        # #3: "default-path sf10 row with no cliff").
        "audio_dedup_default": lambda s, d: AUDIO.dedup(
            audio_fingerprints(
                audio_evidence_clips(
                    load_table(s, d, "documents").select("doc_id", "text"),
                    up_offset=10**9, pert_offset=2 * 10**9,
                    vol_offset=3 * 10**9,
                )
            ).localCheckpoint(),
        ).filter("dist >= 0"),
        "audio_dedup_anchor": lambda s, d: AUDIO.dedup(
            audio_fingerprints(
                audio_evidence_clips(
                    load_table(s, d, "documents").select("doc_id", "text"),
                    up_offset=10**9, pert_offset=2 * 10**9,
                    vol_offset=3 * 10**9,
                )
            ).localCheckpoint(),
            strategy="anchor",
        ).filter("dist >= 0"),
    }
    points = [
        ("sf0.1", os.path.join(TESTDATA, "sf0.1"), 1.0),
        ("sf10", SCRATCH10, 100.0),
    ]
    for fn in targets.values():  # codegen warmup
        fn(spark, os.path.join(TESTDATA, "sf0.001")).count()
    out: dict = {}
    for qname, fn in targets.items():
        rows = {}
        for label, path, _mult in points:
            best = None
            for _ in range(2):
                t0 = time.monotonic()
                fn(spark, path).count()
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
            rows[label] = round(best, 3)
        rows["x_on_100x_data"] = round(rows["sf10"] / rows["sf0.1"], 1)
        out[qname] = rows
    print(json.dumps({"metric": "sf10_decade", "results": out}))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--build-sf10", action="store_true")
    ap.add_argument("--sf10", action="store_true")
    ap.add_argument("--max-df", type=float, default=None)
    args = ap.parse_args()
    if args.build:
        build()
        return
    if args.build_sf10:
        build_sf10()
        return
    if args.sf10:
        run_sf10()
        return

    from hive_serde_schema_gen_spark.operators.corpus import (
        CONTEXT_LEN,
        QUALITY_FLOOR,
        prepare_training_corpus,
    )
    from hive_serde_schema_gen_spark.operators.contamination import (
        minhash_contamination,
        ngram_contamination,
    )
    from hive_serde_schema_gen_spark.operators.curation import (
        redact_pii,
        repetition_stats,
    )
    from hive_serde_schema_gen_spark.operators.selection import (
        materialize_mixture,
        quality_top_fraction,
        stratified_sample,
        token_budget_mixture,
    )
    from hive_serde_schema_gen_spark.operators.dedup import (
        duplicate_spans,
        minhash_lsh_pairs,
        strip_boilerplate_lines,
    )
    from pyspark.sql import functions as F

    from hive_serde_schema_gen_spark.operators.diagnostics import (
        frequent_items,
        skew_report,
    )
    from hive_serde_schema_gen_spark.operators.projection import (
        random_projection,
    )
    from hive_serde_schema_gen_spark.operators.dsir import dsir_weights
    from hive_serde_schema_gen_spark.operators.embedding import embed_text
    from hive_serde_schema_gen_spark.operators.html import html_to_text
    from hive_serde_schema_gen_spark.operators.media_audio import (
        audio_evidence_clips,
        audio_fingerprints,
    )
    from hive_serde_schema_gen_spark.operators.media_core import phash_dedup
    from hive_serde_schema_gen_spark.operators.media_image import (
        image_hashes,
        phash_evidence_images,
    )
    from hive_serde_schema_gen_spark.operators.media_video import (
        video_evidence_clips,
        video_fingerprints,
    )
    from hive_serde_schema_gen_spark.operators.phash_index import AUDIO, VIDEO
    from hive_serde_schema_gen_spark.operators.text import script_token_stats
    from hive_serde_schema_gen_spark.operators.bpe import encode_bpe
    from hive_serde_schema_gen_spark.operators.packing import (
        pack_documents_best_fit,
    )
    from hive_serde_schema_gen_spark.operators.validation import (
        completeness,
        in_range,
        metrics_frame,
        row_count,
        satisfies,
        uniqueness,
    )
    from hive_serde_schema_gen_spark.session import get_spark
    from hive_serde_schema_gen_spark.sources.tables import load_table

    spark = get_spark("scale-check")
    spark.sparkContext.setLogLevel("ERROR")

    def _docs(s, d):
        return load_table(s, d, "documents")

    # Fixed 20-item benchmark (base-copy doc_ids, present at every point) so
    # the decontamination broadcast side stays CONSTANT while the corpus
    # grows — the realistic shape (eval sets don't grow with the crawl).
    def _bench(s, d):
        return (
            _docs(s, d)
            .filter("doc_id < 20")
            .selectExpr("doc_id AS bench_id", "text")
        )

    # every kept stratum at an explicit rate; unlisted default to 0
    MIX = {f"src{i}": 0.05 * (i % 4) + 0.2 for i in range(20)}

    def _bpe_train_probe(s, d):
        # train_bpe is eager (driver loop of aggregates) — running it
        # inside the timed fn() puts the full training cost on the clock;
        # the returned 1-row frame satisfies the harness's count()
        from hive_serde_schema_gen_spark.operators.bpe import train_bpe

        merges = train_bpe(_docs(s, d), n_merges=4)
        return s.createDataFrame([(len(merges),)], "n int")

    def _chunk_probe(s, d):
        from hive_serde_schema_gen_spark.operators.packing import (
            chunk_documents,
        )

        return chunk_documents(_docs(s, d), chunk_tokens=16, overlap=4).filter(
            "length(chunk_text) >= 0"
        )

    def _semdedup_probe(s, d):
        # eager seed collect + Lloyd refine run INSIDE the timed fn (the
        # honest composed cost); the prune self-join is the scaling story
        from hive_serde_schema_gen_spark.operators.clustering import (
            kmeans_topics,
            semdedup_prune,
        )

        e = load_table(s, d, "embeddings")
        _, assigned = kmeans_topics(e, k=8, iters=1)
        return semdedup_prune(e, assigned, threshold=0.9).filter(
            "cluster >= 0"
        )

    def _anomaly_probe(s, d):
        # integer epoch-count series from documents (present at every
        # point): epochs grow with the corpus, the honest window-scan axis
        from hive_serde_schema_gen_spark.operators.validation import (
            metric_anomalies,
        )

        rep = (
            _docs(s, d)
            .groupBy(
                F.col("lang").alias("check"),
                F.expr("doc_id DIV 50").alias("epoch"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("metric"))
        )
        return metric_anomalies(
            rep, k=3.0, min_history=5, window=20, exact_int=True
        )

    def _classifier(s, d):
        from hive_serde_schema_gen_spark.operators.text import classifier_score

        return classifier_score(
            _docs(s, d), {i: 0.01 * i for i in range(64)}
        ).filter("score >= 0")

    def _manifest_probe(s, d):
        from hive_serde_schema_gen_spark.functions.text_keys import ws_token_count
        from hive_serde_schema_gen_spark.operators.packing import training_manifest

        return training_manifest(
            _docs(s, d).select(
                "doc_id", "source", ws_token_count().alias("n_tokens")
            ),
            epoch=3,
            context_len=512,
            n_shards=32,
        ).filter("chunk_last >= chunk_first - 1")

    def _logreg_fit_probe(s, d):
        # eager driver loop (GD iterations) — run INSIDE the timed fn so
        # the whole fit is on the clock.  2 iterations, 2^10 buckets,
        # production float path: the per-iteration cost is one broadcast
        # join + two doc-keyed aggregates, so per-row time should stay
        # ~flat as the corpus grows (the weight table does not)
        from hive_serde_schema_gen_spark.operators.logreg import (
            train_classifier,
        )

        docs = _docs(s, d)
        labels = docs.select(
            "doc_id", (F.col("doc_id") % 2 == 0).cast("double").alias("y")
        )
        w = train_classifier(
            docs, labels, n_buckets=1 << 10, max_ngram=2, iters=2, lr=1.0
        )
        return s.createDataFrame([(w.count(),)], "n long")

    targets = {
        "dedup_minhash_lsh_xxhash64": lambda s, d: minhash_lsh_pairs(
            s, d, hash_fn="xxhash64", sort=False
        ),
        # the raw pipeline (not the registry slot): the slot grew a
        # dataset-card union arm in round 11, and the decade series must
        # keep measuring the same pack workload it always has
        "corpus_pipeline": lambda s, d: prepare_training_corpus(
            s, d, context_len=CONTEXT_LEN,
            quality_floor=QUALITY_FLOOR, hash_fn="md5",
        ),
        "substring_duplicate_spans_k8": lambda s, d: duplicate_spans(
            _docs(s, d), k=8
        ),
        # aggregate over the redacted text so the harness's count() cannot
        # let Catalyst prune the regexp chain away (count(*) needs no
        # columns).  A filter on the computed columns — the pre-r17 forcing
        # — was PUSHED below the operator's fanout exchange to the scan, so
        # the whole regexp chain ran single-core in the scan stage and was
        # then RECOMPUTED by the post-exchange Project: the harness was
        # measuring the chain twice, once serially.  The aggregate consumes
        # the same columns but cannot be pushed through the exchange, so
        # the measured plan is the production shape (scan → fanout →
        # one parallel regexp pass).  The returned 1-row frame satisfies
        # the harness's count().
        "curation_redact_pii": lambda s, d: redact_pii(_docs(s, d)).agg(
            F.sum(F.length("text")).alias("red_len"),
            F.sum("n_email").alias("n_email"),
        ),
        "curation_ngram_contamination": lambda s, d: ngram_contamination(
            _docs(s, d), _bench(s, d), n=8
        ),
        "curation_repetition_stats": lambda s, d: repetition_stats(
            _docs(s, d)
        ).filter("dup_gram_frac >= 0"),
        "curation_stratified_sample": lambda s, d: stratified_sample(
            _docs(s, d), MIX
        ),
        # token-budgeted mixture (round 13): per-domain hash-order greedy
        # fill via the distributed hash-range-shard prefix sum — budgets
        # fixed per source so the selected fraction shrinks as the corpus
        # grows (the filter keeps the audit column alive under count)
        "curation_token_budget_mixture": lambda s, d: token_budget_mixture(
            _docs(s, d), {f"src{i}": 2_000 for i in range(20)}
        ).filter("tok_before >= 0"),
        # toy sparse model: the cost being measured is hashing + broadcast
        # join + per-doc mean, which is weight-independent
        "text_classifier_score": lambda s, d: _classifier(s, d),
        # the FIT itself (round 11): full-batch GD over the hashed-ngram
        # features — cost per row should be ~iterations-flat across decades
        "logreg_train_2iter": lambda s, d: _logreg_fit_probe(s, d),
        # the synthetic docs have no newlines, so token-as-line (delim " ")
        # exercises the worst-case explode fan-out: one posting per token,
        # near-universal flag rate, full rebuild of every doc
        "dedup_strip_boilerplate_lines": lambda s, d: strip_boilerplate_lines(
            _docs(s, d), min_docs=3, delim=" "
        ).filter("length(text) >= 0"),
        # upsampling: rates > 1 so the explode actually replicates (count()
        # cannot prune an explode — it determines the row count)
        "curation_materialize_mixture": lambda s, d: materialize_mixture(
            _docs(s, d), {f"src{i}": 1.0 + 0.1 * (i % 5) for i in range(20)}
        ),
        # heavy hitters over the token vocabulary: the MG summaries bound
        # the shuffle to capacity×partitions rows however large the
        # vocabulary grows (explode is the honest cost driver here)
        "diagnostics_frequent_tokens": lambda s, d: frequent_items(
            _docs(s, d).select(
                F.explode(F.split(F.col("text"), " ")).alias("tok")
            ),
            "tok",
            k=20,
        ),
        # the pre-join skew instrument: per column one map-side-combined
        # groupBy-count top-k + one shuffle-free totals scan — a hot key
        # is ONE row after partial agg, so per-row cost must stay flat
        "diagnostics_skew_report": lambda s, d: skew_report(
            _docs(s, d), ["lang", "source"], k=10, n_partitions=32
        ),
        # the composed ingest transform: hash-embed then JL-project
        # (embed cost is its own row above, so the delta is the
        # projection's explode + broadcast weight join + two aggregates)
        "projection_embed_rp16": lambda s, d: random_projection(
            embed_text(_docs(s, d)).select("doc_id", "embedding"),
            out_dim=16,
            in_dim=64,
            id_col="doc_id",
        ).filter("size(embedding_rp) = 16"),
        # best-fit packing: the per-group Python loop is the honest cost;
        # groups pack in parallel so per-row cost should stay flat
        "packing_best_fit": lambda s, d: pack_documents_best_fit(
            _docs(s, d), context_len=512
        ),
        # BPE encode under a fixed merge list (training excluded — the
        # timed path is the per-token Arrow encode with word memoization;
        # size() filter keeps the array alive under count)
        "bpe_encode": lambda s, d: encode_bpe(
            _docs(s, d), [("t", "h"), ("th", "e"), ("a", "n"), ("i", "n")]
        ).filter("size(bpe_tokens) >= 0"),
        # sliding-window RAG chunking: one explode over per-doc window
        # starts — per-row cost tracks tokens/doc, flat across decades
        "packing_chunk_16_4": lambda s, d: _chunk_probe(s, d),
        # SemDeDup prune (round 12): k-means cells bound the pair count,
        # so per-row cost tracks Σ|cell|²/n — k grows with the corpus in
        # production; here k is fixed, so the decade growth REPORTS the
        # quadratic-within-cell honesty rather than asserting flat
        "clustering_semdedup_k8": lambda s, d: _semdedup_probe(s, d),
        # trailing-anomaly scan (exact-int): report table is O(epochs ×
        # checks); the window shuffle is metadata-sized at any corpus SF
        "validation_metric_anomalies": lambda s, d: _anomaly_probe(s, d),
        # BPE training (4 merges): per-row cost should FALL steeply with
        # corpus size — training iterates over the VOCABULARY, and the
        # synthetic vocab grows far slower than the corpus
        "bpe_train_4merges": lambda s, d: _bpe_train_probe(s, d),
        # HTML->text extraction over synthetic page wraps: the cost is the
        # codegen'd regexp chain; the length filter keeps it alive under
        # count()
        "html_extract_chain": lambda s, d: html_to_text(
            _docs(s, d).select(
                "doc_id",
                F.concat(
                    F.lit("<html><body><script>x()</script><p>"),
                    F.col("text"),
                    F.lit("</p><div>Home &amp; About</div></body></html>"),
                ).alias("text"),
            )
        ).filter("length(text) >= 0"),
        # script-aware token stats (CJK fallback counters): four regexp
        # passes per row, narrow
        "text_cjk_stats": lambda s, d: script_token_stats(
            _docs(s, d)
        ).filter("n_tokens >= 0"),
        # hashed bag-of-ngrams embedding: explode + two doc-keyed
        # map-side-combined aggregates + per-row normalize
        "text_embed_hashed": lambda s, d: embed_text(_docs(s, d)).filter(
            "size(embedding) = 64"
        ),
        # DSIR importance weights (production xxhash64, m=4096, target =
        # the zh slice): two tiny model fits + one corpus tf aggregate +
        # broadcast ratio join; the filter keeps logw alive under count()
        "dsir_weights": lambda s, d: dsir_weights(
            _docs(s, d), _docs(s, d).filter("lang = 'zh'"), m=4096
        ).filter("logw_q9 > -1e15"),
        # per-source top-30% percentile selection (round 13): score via
        # the toy sparse model, then the two-pass quantized threshold —
        # per-row cost should stay flat (windows run over value
        # histograms, never corpus rows)
        "curation_quality_top30": lambda s, d: quality_top_fraction(
            _classifier(s, d).join(
                _docs(s, d).select("doc_id", "source"), "doc_id"
            ),
            3,
            10,
            score_col="score",
        )[0].filter("qs >= -9223372036854775807"),
        # fuzzy decontamination (round 13): fixed 20-item benchmark, so
        # the broadcast side is constant while the corpus grows; the
        # banded candidate join is the scaling story (threshold 0 keeps
        # every verified candidate pair alive under count)
        "curation_minhash_contamination": lambda s, d: minhash_contamination(
            _docs(s, d), _bench(s, d), threshold=0.0
        ),
        # training-order manifest (round 13): one hash-partition shuffle
        # + per-shard sort/prefix sum — the shard-file export's own
        # physical work, so per-row cost must stay flat
        "packing_training_manifest": lambda s, d: _manifest_probe(s, d),
        # zlib-ratio + entropy signals (round 13): the deliberate
        # Arrow/mapInPandas path — per-row cost tracks bytes/doc and the
        # Arrow batch overhead amortizes across decades
        "signals_compression": lambda s, d: __import__(
            "hive_serde_schema_gen_spark.operators.signals",
            fromlist=["compression_signals"],
        ).compression_signals(_docs(s, d)).filter(
            "compression_ratio >= 0"
        ),
        # perceptual-hash image dedup end to end: synthesize+decode+hash
        # (Arrow path, linear in bytes), exact-hash collapse, then the
        # banded Hamming join among representatives (phash_dedup — raw
        # pair ENUMERATION is quadratic in duplicate-cluster size and the
        # sf1 corpus's planted clusters prove it: 3.5M pairs; the dedup
        # operator's output is one attribution row per duplicate).  The
        # eager localCheckpoint inside the timed fn bills the hash pass
        # once, as the slot does.
        "phash_image_dedup": lambda s, d: phash_dedup(
            image_hashes(phash_evidence_images(_docs(s, d))).localCheckpoint()
        ).filter("dist >= 0"),
        # audio twin (round 15): WAV synth+decode+fingerprint (Arrow
        # path), exact-fingerprint collapse, banded Hamming among reps
        "audio_dedup": lambda s, d: AUDIO.dedup(
            audio_fingerprints(
                audio_evidence_clips(_docs(s, d))
            ).localCheckpoint()
        ).filter("dist >= 0"),
        # video twin (round 16): container decode + per-frame dHash +
        # majority pool (Arrow path), then the shared banded machinery
        "video_dedup": lambda s, d: VIDEO.dedup(
            video_fingerprints(
                video_evidence_clips(_docs(s, d))
            ).localCheckpoint()
        ).filter("dist >= 0"),
        # 6 constraints in ONE aggregate pass; the filter keeps the
        # metrics columns alive under count()
        "validation_six_checks": lambda s, d: metrics_frame(
            _docs(s, d),
            [
                completeness("text", 0.99),
                uniqueness("doc_id"),
                in_range("n_chars", 0, 10**6),
                satisfies("length(text) > 0", 0.99),
                *row_count(1),
            ],
        ).filter("m0 >= 0"),
    }

    if args.max_df is not None:
        targets["dedup_minhash_lsh_xxhash64_maxdf"] = (
            lambda s, d: minhash_lsh_pairs(
                s, d, hash_fn="xxhash64", sort=False, max_df=args.max_df
            )
        )

    # warmup: JVM, parquet readers, codegen for both pipelines
    for _, fn in targets.items():
        fn(spark, os.path.join(TESTDATA, "sf0.001")).count()

    out: dict = {}
    for qname, fn in targets.items():
        rows = {}
        for label, path, n_docs in POINTS:
            best = None
            for _ in range(2):  # best-of-2: JIT/GC noise on local[32]
                t0 = time.monotonic()
                fn(spark, path).count()
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
            rows[label] = {
                "sec": round(best, 3),
                "docs": n_docs,
                "us_per_doc": round(best / n_docs * 1e6, 1),
            }
        g1 = rows["sf0.1"]["us_per_doc"] / rows["sf0.01"]["us_per_doc"]
        g2 = rows["sf1x"]["us_per_doc"] / rows["sf0.1"]["us_per_doc"]
        rows["per_row_cost_growth"] = {
            "sf0.01->sf0.1": round(g1, 2),
            "sf0.1->sf1x": round(g2, 2),
        }
        out[qname] = rows
    out.update(_index_lifecycle(spark))
    print(json.dumps({"metric": "scaling_evidence", "results": out}))


def _index_lifecycle(spark) -> dict:
    """Decade points for the persisted-index serving path (round-10
    verdict item 6): text-index BUILD (per-row), a 10% EXTEND
    (per-batch-row), the BM25 probe, and the persisted-IVF probe.  Builds
    and extends are reported per row — the amortized ingest cost, which
    should grow ~linearly in rows (flat per-row).  PROBES are reported in
    SECONDS: the whole point of the term-clustered / cell-partitioned
    layouts is that a query reads only its own terms' row groups / its
    probed cells, so probe cost should stay ~flat while the corpus grows
    a decade (a per-row ratio over a growing corpus would trivially
    flatter it)."""
    import shutil
    import tempfile
    import time as _t

    from pyspark.sql import functions as F

    from hive_serde_schema_gen_spark.operators.dedup_index import (
        build_minhash_index,
        dedup_against_index,
        extend_minhash_index,
    )
    from hive_serde_schema_gen_spark.operators.media_core import (
        with_bmp_payload,
    )
    from hive_serde_schema_gen_spark.operators.media_image import image_hashes
    from hive_serde_schema_gen_spark.operators.phash_index import (
        build_phash_index,
        extend_phash_index,
        phash_against_index,
    )
    from hive_serde_schema_gen_spark.operators.similarity import (
        ann_topk_ivf_persisted,
        persist_ivf_index,
    )
    from hive_serde_schema_gen_spark.operators.text_index import (
        bm25_topk_indexed,
        build_text_index,
        extend_text_index,
    )
    from hive_serde_schema_gen_spark.sources.tables import load_table

    text_rows: dict = {}
    ivf_rows: dict = {}
    mh_rows: dict = {}
    ph_rows: dict = {}
    root = tempfile.mkdtemp(prefix="scale_index_")
    try:
        for label, path, n_docs in POINTS:
            docs = load_table(spark, path, "documents")
            idx = os.path.join(root, f"bm25_{label}")
            t0 = _t.monotonic()
            build_text_index(docs, idx)
            build_s = _t.monotonic() - t0
            # 10% batch with ids shifted out of the built range (the
            # extend contract assumes disjoint doc_ids)
            batch = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
                "doc_id", F.col("doc_id") + 100_000_000
            )
            n_batch = batch.count()
            t0 = _t.monotonic()
            extend_text_index(batch, idx)
            extend_s = _t.monotonic() - t0
            probe_s = None
            for _ in range(3):  # best-of-3: probes are sub-second
                t0 = _t.monotonic()
                bm25_topk_indexed(spark, idx, "spark join window", k=20).count()
                dt = _t.monotonic() - t0
                probe_s = dt if probe_s is None else min(probe_s, dt)
            # BATCH probe: 32 queries in ONE plan (batch_retrieval) — the
            # offline shape.  Reported in seconds AND per-query; the
            # whole point is batch_sec ≪ 32 × probe_sec (one postings
            # read + one plan amortizes across the batch).
            from hive_serde_schema_gen_spark.operators.batch_retrieval import (
                bm25_topk_indexed_batch,
            )

            vocab = [
                "spark join window", "data filter group", "batch merge sort",
                "scan vector group", "key hash value", "row table column",
                "stream order line", "query agg small",
            ]
            qdf = spark.createDataFrame(
                [(i, vocab[i % len(vocab)] + f" q{i % 3}") for i in range(32)],
                "qid long, query string",
            ).localCheckpoint()
            bprobe_s = None
            for _ in range(3):
                t0 = _t.monotonic()
                bm25_topk_indexed_batch(spark, idx, qdf, k=20).count()
                dt = _t.monotonic() - t0
                bprobe_s = dt if bprobe_s is None else min(bprobe_s, dt)
            text_rows[label] = {
                "docs": n_docs,
                "build_sec": round(build_s, 3),
                "build_us_per_doc": round(build_s / n_docs * 1e6, 1),
                "extend_rows": n_batch,
                "extend_sec": round(extend_s, 3),
                "extend_us_per_row": round(extend_s / n_batch * 1e6, 1),
                "probe_sec": round(probe_s, 3),
                "batch32_probe_sec": round(bprobe_s, 3),
                "batch32_us_per_query": round(bprobe_s / 32 * 1e6, 1),
            }

            # persisted MinHash index (production xxhash64 config): build /
            # 10% extend per-row; probe with a FIXED 50-doc batch.  The
            # probe is a broadcast map-side join over the index bands scan
            # — no shuffle, but cost is O(index bytes) per pass (unlike the
            # term-clustered BM25 probe), so its growth across a decade is
            # expected ~linear with a small constant; production ingest
            # amortizes it by probing a whole micro-batch per scan pass.
            midx = os.path.join(root, f"mh_{label}")
            t0 = _t.monotonic()
            build_minhash_index(docs, midx, n_files=8)
            mh_build_s = _t.monotonic() - t0
            t0 = _t.monotonic()
            extend_minhash_index(batch, midx)
            mh_extend_s = _t.monotonic() - t0
            probe_batch = (
                docs.orderBy("doc_id")
                .limit(50)
                .withColumn("doc_id", F.col("doc_id") + 200_000_000)
            ).localCheckpoint()
            mh_probe_s = None
            for _ in range(3):
                t0 = _t.monotonic()
                dedup_against_index(probe_batch, midx).count()
                dt = _t.monotonic() - t0
                mh_probe_s = dt if mh_probe_s is None else min(mh_probe_s, dt)
            mh_rows[label] = {
                "docs": n_docs,
                "build_sec": round(mh_build_s, 3),
                "build_us_per_doc": round(mh_build_s / n_docs * 1e6, 1),
                "extend_rows": n_batch,
                "extend_sec": round(mh_extend_s, 3),
                "extend_us_per_row": round(mh_extend_s / n_batch * 1e6, 1),
                "probe_sec": round(mh_probe_s, 3),
            }

            # persisted pHash image index: the image twin — build/extend
            # per row (hash 16 bytes per image regardless of pixels),
            # probe with a FIXED 50-image batch; same O(index bands scan)
            # probe posture as the MinHash index.
            imgs = image_hashes(
                with_bmp_payload(docs).withColumnRenamed(
                    "doc_id", "img_id"
                )
            ).localCheckpoint()
            pidx = os.path.join(root, f"ph_{label}")
            t0 = _t.monotonic()
            build_phash_index(imgs, pidx, n_files=8)
            ph_build_s = _t.monotonic() - t0
            pbatch = imgs.filter(F.col("img_id") % 10 == 0).withColumn(
                "img_id", F.col("img_id") + 100_000_000
            )
            pn_batch = pbatch.count()
            t0 = _t.monotonic()
            extend_phash_index(pbatch, pidx)
            ph_extend_s = _t.monotonic() - t0
            pprobe = (
                imgs.orderBy("img_id")
                .limit(50)
                .withColumn("img_id", F.col("img_id") + 200_000_000)
            ).localCheckpoint()
            ph_probe_s = None
            for _ in range(3):
                t0 = _t.monotonic()
                phash_against_index(pprobe, pidx).count()
                dt = _t.monotonic() - t0
                ph_probe_s = dt if ph_probe_s is None else min(ph_probe_s, dt)
            ph_rows[label] = {
                "imgs": n_docs,
                "build_sec": round(ph_build_s, 3),
                "build_us_per_img": round(ph_build_s / n_docs * 1e6, 1),
                "extend_rows": pn_batch,
                "extend_sec": round(ph_extend_s, 3),
                "extend_us_per_row": round(ph_extend_s / pn_batch * 1e6, 1),
                "probe_sec": round(ph_probe_s, 3),
            }

            epath = os.path.join(path, "embeddings.parquet")
            if not os.path.exists(epath):
                continue  # sf1x point needs --build first
            e = spark.read.parquet(epath)
            n_vecs = e.count()
            ivf = os.path.join(root, f"ivf_{label}")
            t0 = _t.monotonic()
            persist_ivf_index(e, ivf)
            ivf_build_s = _t.monotonic() - t0
            iprobe_s = None
            for _ in range(3):
                t0 = _t.monotonic()
                ann_topk_ivf_persisted(spark, ivf, k=10).count()
                dt = _t.monotonic() - t0
                iprobe_s = dt if iprobe_s is None else min(iprobe_s, dt)
            ivf_rows[label] = {
                "vecs": n_vecs,
                "build_sec": round(ivf_build_s, 3),
                "build_us_per_vec": round(ivf_build_s / n_vecs * 1e6, 1),
                "probe_sec": round(iprobe_s, 3),
            }
    finally:
        shutil.rmtree(root, ignore_errors=True)

    def _growth(rows, key):
        g = {}
        if "sf0.01" in rows and "sf0.1" in rows:
            g["sf0.01->sf0.1"] = round(rows["sf0.1"][key] / rows["sf0.01"][key], 2)
        if "sf0.1" in rows and "sf1x" in rows:
            g["sf0.1->sf1x"] = round(rows["sf1x"][key] / rows["sf0.1"][key], 2)
        return g

    text_rows["per_row_build_growth"] = _growth(text_rows, "build_us_per_doc")
    text_rows["probe_sec_growth"] = _growth(text_rows, "probe_sec")
    if ivf_rows:
        ivf_rows["per_vec_build_growth"] = _growth(ivf_rows, "build_us_per_vec")
        ivf_rows["probe_sec_growth"] = _growth(ivf_rows, "probe_sec")
    mh_rows["per_row_build_growth"] = _growth(mh_rows, "build_us_per_doc")
    mh_rows["probe_sec_growth"] = _growth(mh_rows, "probe_sec")
    ph_rows["per_img_build_growth"] = _growth(ph_rows, "build_us_per_img")
    ph_rows["probe_sec_growth"] = _growth(ph_rows, "probe_sec")
    return {
        "index_text_bm25": text_rows,
        "index_ivf": ivf_rows,
        "index_minhash": mh_rows,
        "index_phash": ph_rows,
    }


if __name__ == "__main__":
    main()
