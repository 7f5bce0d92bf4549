"""Isolated per-query timing with the noop sink (guide §1.4): run one or
more bench headliners / registry slots N times each in a fresh session,
print min/median.  Usage: python plans/r17/isolate.py name [name ...]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), REPS (default 3),
ACTION=noop|collect (default noop).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))

from bench import headline_queries  # noqa: E402  (the repo root)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("REPS", "3"))
ACTION = os.environ.get("ACTION", "noop")


def main() -> None:
    from hive_serde_schema_gen_spark.registry import all_queries
    from hive_serde_schema_gen_spark.session import get_spark

    spark = get_spark("isolate-r17")
    spark.sparkContext.setLogLevel("ERROR")
    queries = {**all_queries(), **headline_queries()}
    names = sys.argv[1:]
    # warmup: codegen + python worker pool at tiny SF
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").count()
    for name in names:
        queries[name](spark, "/root/testdata/sf0.001").collect()
        spark.catalog.clearCache()
    # one untimed priming pass at target SF
    for name in names:
        queries[name](spark, SF_DIR).collect()
        spark.catalog.clearCache()
    out = {}
    for rep in range(REPS):
        for name in names:
            spark.sparkContext.setJobDescription(f"isolate:{name}:{rep}")
            t0 = time.perf_counter()
            df = queries[name](spark, SF_DIR)
            if ACTION == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            out.setdefault(name, []).append(round(dt, 3))
    for name, vals in out.items():
        print(
            f"{name}: min={min(vals)} med={statistics.median(vals)} all={vals}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
