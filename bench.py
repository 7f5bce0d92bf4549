"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall seconds.

Each query is forced with a full-result action (collect) so the number
includes scan→shuffle→result, not just plan time.

Methodology — steady state, not cold start: before timing, every headline
query runs once at sf0.001 (~tiny data).  That run compiles the query's
whole-stage-codegen classes and forks the Python worker pool; both are
per-process one-off costs (3-4 s for the codegen-heavy queries) that a
long-lived cluster amortizes to zero, so the timed numbers measure the
per-SF marginal cost — the quantity that actually extrapolates to 100 TB.
Set SPARK_GRAFT_COLD=1 to skip the warmup and measure cold-start instead.

The JSON line holds `metric`, `value` (the sum of the per-query minima),
`unit`, `queries` (each query's minimum over $SPARK_GRAFT_BENCH_REPS
interleaved sweeps, default 3), `sf` and `queries_raw_per_sweep` (every
timed reading).  The numbers are raw wall seconds on this host; compare
them only with a run of the other tree in the same session shape, per
query.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "agg_distinct",
    "window_topk_per_group",
    "sessionize_events",
    "pivot_events",
    "dedup_exact",
    "dedup_minhash_lsh_xxhash64",
    "text_quality_score",
    "text_lang_id",
    "similarity_topk_cosine",
    "embedding_norms",
    "asof_join_last_order",
    "multimodal_payload_meta",
    "infer_props_schema",
    # the media family's default-strategy dedups over their planted
    # evidence corpora: synthesis, Arrow decode + fingerprint, exact
    # collapse, the strategy='auto' bucket diagnostic, banded attribution
    "phash_image_dedup",
    "audio_dedup_default",
    "video_dedup_default",
    # a CPU-scaling probe: at sf0.1 every real headliner is bound by fixed
    # overhead, so core count shows only in a query whose wall is
    # ∝ rows/cores
    "compute_scaling_probe",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from hive_serde_schema_gen_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = headline_queries()
    cold = os.environ.get("SPARK_GRAFT_COLD", "0") == "1"

    # warmup: JVM + parquet footer reads + Python worker pool, then one
    # tiny-SF pass per headline query to compile its codegen stages (see
    # module docstring)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.range(1000).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    if not cold:
        warm_dir = "/root/testdata/sf0.001"
        if os.path.isdir(warm_dir):
            for name in HEADLINE:
                _run(spark, queries[name], warm_dir)
        # One untimed priming sweep at the target SF: the sf0.001 warmup
        # compiles codegen classes but leaves C2 JIT shallow (dedup_exact
        # decays 0.91 s → 0.39 s over ~12 runs from compilation depth
        # alone), so priming moves every timed rep onto the flat part of
        # that curve.
        for name in HEADLINE:
            _run(spark, queries[name], sf_dir)

    # Best-of-N per query: JVM JIT/GC and bursty host CPU add multi-second
    # run-to-run noise, and the minimum over repetitions is the
    # low-variance estimator of steady-state cost.  Reps are interleaved
    # (full sweeps over all queries, not N back-to-back runs per query) so
    # one noisy window cannot poison every rep of one query.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None
    sweeps = [
        {name: _run(spark, queries[name], sf_dir) for name in HEADLINE}
        for _ in range(reps)
    ]
    timings = {
        name: round(min(s[name] for s in sweeps), 3) for name in HEADLINE
    }

    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "queries_raw_per_sweep": [
                    {name: round(dt, 3) for name, dt in s.items()}
                    for s in sweeps
                ],
            }
        )
    )
    spark.stop()


def headline_queries() -> dict:
    """``{name: query(spark, sf_dir) -> DataFrame}`` for every HEADLINE
    entry: the registry slot of that name, or the override below for a
    name the registry does not hold or holds in another form.  Building
    it starts no Spark session."""
    from pyspark.sql import functions as F

    from hive_serde_schema_gen_spark.operators.dedup import minhash_lsh_pairs
    from hive_serde_schema_gen_spark.operators.inference import (
        infer_props_schema,
    )
    from hive_serde_schema_gen_spark.operators.media_audio import (
        audio_evidence_clips,
    )
    from hive_serde_schema_gen_spark.operators.media_image import (
        phash_evidence_images,
    )
    from hive_serde_schema_gen_spark.operators.media_video import (
        video_evidence_clips,
    )
    from hive_serde_schema_gen_spark.operators.phash_index import (
        AUDIO,
        IMAGE,
        VIDEO,
    )
    from hive_serde_schema_gen_spark.operators.similarity import (
        embedding_norms,
        similarity_topk_cosine,
    )
    from hive_serde_schema_gen_spark.operators.text import (
        text_lang_id,
        text_quality_score,
    )
    from hive_serde_schema_gen_spark.registry import all_queries
    from hive_serde_schema_gen_spark.sources.tables import (
        fanout_for_compute,
        load_table,
    )

    def media_dedup(family, evidence):
        return lambda s, d: family.dedup(
            family.fingerprint(
                evidence(load_table(s, d, "documents").select("doc_id", "text"))
            ).localCheckpoint()
        ).filter("dist >= 0")

    def scaling_probe(s, d):
        # a 100-deep xxhash64 chain per lineitem row, fanned out like a
        # compute-heavy operator (the single-row-group input would pin it
        # to one core), reduced to one order-free bit_xor
        li = fanout_for_compute(
            load_table(s, d, "lineitem").select("l_orderkey", "l_partkey"),
            "l_orderkey",
        )
        h = F.col("l_orderkey")
        for _ in range(100):
            h = F.xxhash64(h, F.col("l_partkey"))
        return li.select(h.alias("h")).agg(F.bit_xor("h").alias("x"))

    overrides = {
        # the production hash under its own name: the registry slot
        # `dedup_minhash_lsh` keeps md5 so its DuckDB oracle can re-derive
        # every hash; the plan shape is the same
        "dedup_minhash_lsh_xxhash64": lambda s, d: minhash_lsh_pairs(
            s, d, hash_fn="xxhash64"
        ),
        # retired slots (folded into similarity_brute and
        # text_quality_lang), timed under their own names
        "similarity_topk_cosine": similarity_topk_cosine,
        "embedding_norms": embedding_norms,
        "text_quality_score": text_quality_score,
        "text_lang_id": text_lang_id,
        # props-only inference; the registry slot adds --infer-maps rows
        "infer_props_schema": infer_props_schema,
        "phash_image_dedup": media_dedup(IMAGE, phash_evidence_images),
        "audio_dedup_default": media_dedup(AUDIO, audio_evidence_clips),
        "video_dedup_default": media_dedup(VIDEO, video_evidence_clips),
        "compute_scaling_probe": scaling_probe,
    }
    slots = all_queries()
    return {name: overrides.get(name) or slots[name] for name in HEADLINE}


def _run(spark, query, sf_dir) -> float:
    """Wall seconds of building and collecting ``query`` at ``sf_dir``."""
    t0 = time.perf_counter()
    query(spark, sf_dir).collect()
    dt = time.perf_counter() - t0
    spark.catalog.clearCache()  # queries cache() internally
    # The media headliners localCheckpoint() intermediates whose blocks
    # the JVM frees only once the Python DataFrame is collected and py4j
    # runs its finalizer; left to lazy GC they pile up and slow the
    # queries after them.  Outside the timed region: each query still
    # pays for its own checkpoints.
    gc.collect()
    return dt


if __name__ == "__main__":
    main()
