"""Per-arm profile of curation_ops (guide §1.4): construct each arm the
way the slot does, time its noop execution separately, then time the
whole slot.  Construction costs (collects, checkpoints, index builds)
are timed inside the arm closures where the slot pays them.

Usage: python plans/r18/profile_curation.py [sf_dir]
"""
import sys, time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from hive_serde_schema_gen_spark.session import get_spark
from hive_serde_schema_gen_spark.sources.tables import load_table

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
spark = get_spark()


def t(label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    print(f"{label:28s} {dt:7.3f}s", flush=True)
    return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()


load_table(spark, SF, "documents").count()  # warm session

from hive_serde_schema_gen_spark.functions.text_keys import words
from hive_serde_schema_gen_spark.operators import curation as C
from hive_serde_schema_gen_spark.operators.contamination import (
    minhash_contamination, ngram_contamination, semantic_contamination,
)
from hive_serde_schema_gen_spark.operators.clustering import (
    KM_ITERS, KM_K, kmeans_curation_frames, kmeans_topics,
    semdedup_probe_evidence,
)
from hive_serde_schema_gen_spark.operators.dsir import (
    dsir_selected_rows, dsir_weight_rows,
)

e = load_table(spark, SF, "embeddings")
docs = load_table(spark, SF, "documents")

# --- mix
t("mix", lambda: noop(C.curation_mix_query(spark, SF)))

# --- sem (exact semantic contamination)
bench = e.filter(F.col("vec_id") < C._SEM_BENCH_MAX_ID)
t("sem", lambda: noop(semantic_contamination(
    e, bench, threshold=C._SEM_THRESHOLD, strategy="exact", quantize=True)))

# --- dsir
t("dsir_w", lambda: noop(dsir_weight_rows(spark, SF)))
t("dsir_sel", lambda: noop(dsir_selected_rows(spark, SF)))

# --- kmeans family (shared clustering, incl. construction)
def km_all():
    cents, assigned = kmeans_topics(e, k=KM_K, iters=KM_ITERS)
    clustering = (cents, assigned.localCheckpoint())
    frames = kmeans_curation_frames(spark, SF, clustering=clustering)
    for f in frames:
        noop(f)
    return clustering

clustering = t("kmeans family (5 frames)", km_all)

# --- sdprobe (persisted-index roundtrip, reuses clustering)
t("sdprobe", lambda: noop(
    semdedup_probe_evidence(spark, SF, clustering=clustering)))

# --- ngc (exact n-gram contamination)
ngc_bench = docs.filter(
    F.col("doc_id") % C._NGC_BENCH_MOD == C._NGC_BENCH_REM
).select(F.col("doc_id").alias("bench_id"), "text")
t("ngc", lambda: noop(ngram_contamination(
    docs, ngc_bench, n=C._NGC_N, hashed=False)))

# --- pii
plant = F.concat(
    F.col("text"), F.lit(" u"), F.col("doc_id").cast("string"),
    F.lit("@ex.com ip 10.0.0."), (F.col("doc_id") % 256).cast("string"),
    F.lit(" call +1 555-123-4567 now"),
)
t("pii", lambda: noop(C.redact_pii(
    docs.filter(F.col("doc_id") % C._PII_MOD == C._PII_REM).select(
        "doc_id", plant.alias("text"))).select(
    "doc_id", F.md5(F.col("text").cast("binary")).alias("red_md5"),
    "n_email", "n_ssn", "n_card", "n_phone", "n_ipv4")))

# --- diff
snap_b = (
    docs.filter(F.col("doc_id") % C._DIFF_RM != 0)
    .select(
        "doc_id",
        F.when(
            F.col("doc_id") % C._DIFF_MODIFY == 1,
            F.concat_ws("", F.col("text"), F.lit(" [v2]")),
        ).otherwise(F.col("text")).alias("text"),
    )
    .unionAll(
        docs.filter(F.col("doc_id") % C._DIFF_ADD == 5).select(
            (F.col("doc_id") + C._DIFF_ADD_OFFSET).alias("doc_id"),
            F.concat(F.lit("new doc "),
                     F.col("doc_id").cast("string")).alias("text"),
        )
    )
)
t("diff", lambda: noop(C.corpus_diff(docs, snap_b)))

# --- vocab (top-K collect + coverage)
def vocab_arm():
    tok = docs.select(
        F.explode(
            F.filter(
                words(F.lower(F.col("text"))),
                lambda t: t != "",
            )
        ).alias("w")
    )
    top = (tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
           .orderBy(F.desc("c"), "w").limit(C._VOCAB_K))
    vocab = [r["w"] for r in top.collect()]
    noop(C.vocab_coverage(docs, vocab))

t("vocab (collect+coverage)", vocab_arm)

# --- tokmix family
def tokmix_all():
    sel, dom, man = C.token_mixture_frames(spark, SF)
    noop(sel); noop(dom); noop(man)

t("tokmix family (3 frames)", tokmix_all)

# --- fuzzy
t("fuzzy", lambda: noop(minhash_contamination(
    docs,
    docs.filter(F.col("doc_id") % C._FUZZY_MOD == C._FUZZY_REM).select(
        F.col("doc_id").alias("bench_id"), "text"),
    hash_fn="md5")))

# --- whole slot
from hive_serde_schema_gen_spark.registry import all_queries
q = all_queries()["curation_ops"]
for rep in range(2):
    t(f"WHOLE SLOT rep{rep}", lambda: noop(q(spark, SF)))
