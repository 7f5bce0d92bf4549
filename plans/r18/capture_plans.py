"""Capture .explain('formatted') for every bench headliner and registry
slot into plans/r18/<name>_<tag>.txt (tag = before/after).

Usage: python plans/r18/capture_plans.py <tag> [name ...]
Names default to ALL headliners + all 50 slots.  Plans only — no
execution — so this is cheap; localCheckpoint-based pipelines (the
media headliners) ARE partially executed by construction, which is the
production shape and what the bench times.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.dirname(os.path.abspath(__file__))


def bench_queries(spark):
    """The exact callables bench.py times, re-derived here."""
    from hive_serde_schema_gen_spark.registry import all_queries
    from hive_serde_schema_gen_spark.operators.dedup import minhash_lsh_pairs
    from hive_serde_schema_gen_spark.operators.similarity import (
        embedding_norms,
        similarity_topk_cosine,
    )
    from hive_serde_schema_gen_spark.operators.text import (
        text_lang_id,
        text_quality_score,
    )
    from hive_serde_schema_gen_spark.operators.inference import infer_props_schema
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
    from hive_serde_schema_gen_spark.sources.tables import load_table

    queries = dict(all_queries())
    queries["dedup_minhash_lsh_xxhash64"] = lambda s, d: minhash_lsh_pairs(
        s, d, hash_fn="xxhash64"
    )
    queries["similarity_topk_cosine"] = similarity_topk_cosine
    queries["embedding_norms"] = embedding_norms
    queries["text_quality_score"] = text_quality_score
    queries["text_lang_id"] = text_lang_id
    queries["infer_props_schema"] = infer_props_schema
    queries["phash_image_dedup"] = lambda s, d: phash_dedup(
        image_hashes(
            phash_evidence_images(
                load_table(s, d, "documents").select("doc_id", "text")
            )
        ).localCheckpoint()
    ).filter("dist >= 0")
    queries["audio_dedup_default"] = lambda s, d: AUDIO.dedup(
        audio_fingerprints(
            audio_evidence_clips(
                load_table(s, d, "documents").select("doc_id", "text")
            )
        ).localCheckpoint()
    ).filter("dist >= 0")
    queries["video_dedup_default"] = lambda s, d: VIDEO.dedup(
        video_fingerprints(
            video_evidence_clips(
                load_table(s, d, "documents").select("doc_id", "text")
            )
        ).localCheckpoint()
    ).filter("dist >= 0")
    return queries


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    from hive_serde_schema_gen_spark.session import get_spark

    spark = get_spark("plans-r18")
    spark.sparkContext.setLogLevel("ERROR")
    queries = bench_queries(spark)
    names = sorted(only) if only else sorted(queries)
    for name in names:
        try:
            import contextlib
            import io

            df = queries[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # capture the failure, keep going
            plan = f"ERROR capturing plan: {exc!r}"
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(name, "->", path)
    spark.stop()


if __name__ == "__main__":
    main()
