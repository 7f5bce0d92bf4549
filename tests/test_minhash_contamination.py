"""Fuzzy benchmark decontamination (`curation.minhash_contamination`):
planted near-duplicate benchmark items are detected with exact Jaccard /
containment values (Python shingle-set oracle); unrelated documents never
pair."""

from __future__ import annotations

from hive_serde_schema_gen_spark.operators.contamination import (
    minhash_contamination,
)
from hive_serde_schema_gen_spark.operators.dedup import SHINGLE

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "sleepy cats watch from a warm windowsill and the autumn wind "
    "carries fallen leaves across the quiet garden path toward the "
    "old wooden gate that creaks softly in the fading evening light"
)
# one word changed -> kills <= SHINGLE shingles, Jaccard ~0.9
NEAR = BASE.replace("seventeen", "nineteen")
OTHER = (
    "completely different subject matter entirely about databases and "
    "distributed query engines shuffling partitioned columnar data "
    "between executor nodes under an adaptive optimizer that picks "
    "broadcast joins when one side fits comfortably in memory budget"
)


def _shingle_set(text):
    toks = text.split()
    return {
        " ".join(toks[i : i + SHINGLE])
        for i in range(len(toks) - SHINGLE + 1)
    }


def test_planted_near_dup_detected_exact_values(spark):
    docs = spark.createDataFrame(
        [(1, BASE), (2, OTHER)], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(100, NEAR), (101, "tiny unrelated benchmark question here ok")],
        "bench_id long, text string",
    )
    out = minhash_contamination(docs, bench).collect()
    assert {(r["doc_id"], r["bench_id"]) for r in out} == {(1, 100)}
    row = next(r for r in out if r["doc_id"] == 1)
    a, b = _shingle_set(BASE), _shingle_set(NEAR)
    assert row["jaccard"] == len(a & b) / len(a | b)
    assert row["containment"] == len(a & b) / len(b)
    assert row["jaccard"] >= 0.8


def test_identical_copy_is_jaccard_one(spark):
    docs = spark.createDataFrame(
        [(1, BASE), (2, OTHER)], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(7, OTHER)], "bench_id long, text string"
    )
    out = minhash_contamination(docs, bench).collect()
    assert len(out) == 1
    assert out[0]["doc_id"] == 2 and out[0]["bench_id"] == 7
    assert out[0]["jaccard"] == 1.0 and out[0]["containment"] == 1.0


def test_md5_configuration_matches(spark):
    docs = spark.createDataFrame([(1, BASE)], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, NEAR)], "bench_id long, text string"
    )
    out = minhash_contamination(docs, bench, hash_fn="md5").collect()
    a, b = _shingle_set(BASE), _shingle_set(NEAR)
    assert len(out) == 1
    assert out[0]["jaccard"] == len(a & b) / len(a | b)
