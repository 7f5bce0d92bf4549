"""Phase profile of multimodal_resize_frames construction + execution.

Times every eager construction point: each localCheckpoint call (by
wrapping DataFrame.localCheckpoint), each persisted-index lifecycle call,
and the dedup_media_corpus accounting pass — then the final noop.

Usage: python plans/r18/profile_multimodal.py [sf_dir]
"""
import sys, time

sys.path.insert(0, "/root/repo")

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

from pyspark.sql.classic.dataframe import DataFrame

from hive_serde_schema_gen_spark.session import get_spark

spark = get_spark()
spark.read.parquet(f"{SF}/documents.parquet").count()

VERBOSE = [False]
_orig_ckpt = DataFrame.localCheckpoint


def timed_ckpt(self, eager=True):
    t0 = time.perf_counter()
    out = _orig_ckpt(self, eager)
    if VERBOSE[0]:
        print(f"    localCheckpoint({self.columns[:3]}...) {time.perf_counter()-t0:7.3f}s")
    return out


DataFrame.localCheckpoint = timed_ckpt

import hive_serde_schema_gen_spark.operators.media_corpus as MC
import hive_serde_schema_gen_spark.operators.phash_index as PI


def wrap(mod, name):
    fn = getattr(mod, name)

    def wrapped(*a, **k):
        t0 = time.perf_counter()
        out = fn(*a, **k)
        if VERBOSE[0]:
            print(f"    {name:28s} {time.perf_counter()-t0:7.3f}s")
        return out

    return wrapped


for mod, names in (
    (PI, ["build_phash_index", "extend_phash_index", "phash_against_index"]),
    (MC, ["dedup_media_corpus", "decode_drop_report"]),
):
    for n in names:
        setattr(mod, n, wrap(mod, n))

import hive_serde_schema_gen_spark.operators.multimodal as M

# the facade binds names at import: re-point them at the wrapped versions
for n in ("dedup_media_corpus", "decode_drop_report"):
    if hasattr(M, n):
        setattr(M, n, getattr(MC, n))

for rep in range(2):
    VERBOSE[0] = rep == 1
    t0 = time.perf_counter()
    df = M.multimodal_resize_frames(spark, SF)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    print(f"rep{rep}: construct {t1-t0:.3f}s  execute {t2-t1:.3f}s  total {t2-t0:.3f}s")
