"""Parquet table loaders for the driver-provided star schema
(``/root/repo/TESTDATA.md``): region nation customer supplier part orders
lineitem events documents embeddings.

Parquet scans get column pruning + predicate pushdown from Catalyst for free;
every query should show ``PushedFilters``/``ReadSchema`` restricted to what it
uses (checked in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from ..session import scoped_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (region is
# 5 rows, nation 25 at every TPC-H SF — they do not grow with SF).
BROADCAST_ALWAYS = frozenset({"region", "nation"})


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to ``TimestampType`` regardless of how the
    test-data generator physically encoded it.  Two encodings have been
    observed across regenerations, and either may come back:

    - int64: parquet ``TIMESTAMP(NANOS)`` surfaced as raw nanos under
      ``spark.sql.legacy.parquet.nanosAsLong`` — truncate to µs (the values
      are µs-precision, so truncation is lossless).
    - ``TIMESTAMP_NTZ``: native parquet ``timestamp[us]`` with
      isAdjustedToUTC=false — cast to session-local timestamp.  Under a
      UTC-pinned session (callers pin it; see ``load_table``) the instants
      are identical, and the cast is mandatory: NTZ rejects bigint casts
      and breaks ``unix_millis`` arithmetic downstream.

    Already-``TimestampType`` input passes through untouched.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # No-op for the native µs encoding; required for the legacy
        # TIMESTAMP(NANOS) one.  Safe to set unconditionally (and NOT
        # restored: the parquet scan consults it again at execution time).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Pin UTC only for the duration of the read+normalize: DataFrame
        # analysis is eager, so the NTZ→LTZ cast captures UTC here and the
        # caller's session timeZone is restored before we return — a read
        # must not change how unrelated timestamps render afterwards.
        with scoped_conf(spark, **{"spark.sql.session.timeZone": "UTC"}):
            df = normalize_events_ts(
                spark.read.parquet(f"{sf_dir}/events.parquet")
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


#: sizing floor for :func:`fanout_for_compute` — one task per ~24 KiB of
#: PLAN-ESTIMATED input.  Catalyst's size-only stats charge a string
#: column its 20-byte default width, undercounting text-heavy rows ~3×
#: (documents sf0.1: 594 KiB on disk, ~219 KiB estimated), so 24 KiB of
#: estimate ≈ 64-96 KiB of actual bytes ≈ 500+ docs ≈ 100-200 ms of
#: Arrow-stage Python or heavy JVM per-row compute per task — ~10× the
#: per-task setup cost (JVM task + Python worker handshake + Arrow
#: stream init, ~10-20 ms measured on this box).  Over-fanning a tiny
#: input is a measured LOSS: the r17 partition sweep on the image
#: synth+hash chain read 1.016 s at 1 partition, 0.434 s at 8, but
#: 0.803 s at 32 (plans/r17 notes; OPTIMIZATION_r17.md).
FANOUT_BYTES_PER_TASK = 24 * 1024


def fanout_for_compute(df: DataFrame, key_col: str) -> DataFrame:
    """Spread a low-partition input across cores before a CPU-heavy
    per-row stage (media synthesis/decode/fingerprint, per-doc shingling,
    regex scoring).

    Scale posture: a properly laid-out large input (many files / row
    groups, >= ``defaultParallelism`` scan partitions) passes through
    UNTOUCHED — the repartition engages only on degenerate layouts (one
    small file, one row group: the shape of this sandbox's test tables,
    where it measurably leaves 31 of 32 cores idle for the whole heavy
    stage).  The target partition count derives from the plan's size
    estimate (``FANOUT_BYTES_PER_TASK`` per task, capped at
    ``defaultParallelism``) — scale-adaptive, never a constant tuned to
    one host.  Hash-partitions on ``key_col`` itself rather than
    round-robin: deterministic under task retry (SPARK-38388), skips the
    sort-before-repartition a keyless exchange pays, and lets a
    downstream window/groupBy keyed on the same column satisfy its
    distribution from THIS exchange instead of adding another."""
    spark = df.sparkSession
    dp = spark.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    # Driver-cost control (round 18): the partition probe forces physical
    # planning (~25-40 ms, measured in round 18) and this helper sits inside hot
    # builders that are often called several times per query over the
    # SAME input (shingles_df, media synth stages).  Memoize the DECISION
    # per (semantic plan, plan size estimate, key, parallelism) on the
    # session.  The size is part of the key because the semantic hash of
    # a file scan does not change when the files under its path are
    # rewritten; the size estimate (a fresh read re-lists the files) does.
    # Only the integer target is cached, never a DataFrame, so a
    # (vanishingly unlikely) hash collision could at worst mis-size the
    # fanout of the colliding plan — a performance nuance, not a
    # correctness risk.
    memo = getattr(spark, "_fanout_decisions", None)
    if memo is None:
        memo = {}
        spark._fanout_decisions = memo
    size = int(qe.optimizedPlan().stats().sizeInBytes())
    key = (qe.analyzed().semanticHash(), size, key_col, dp)
    target = memo.get(key)
    if target is None:
        # JVM-side partition probe: same physical planning as df.rdd but
        # skips the Python-serializer RDD wrapper (~40 % cheaper measured)
        parts = qe.executedPlan().execute().getNumPartitions()
        if parts >= dp:
            target = 0
        else:
            target = min(dp, max(1, size // FANOUT_BYTES_PER_TASK))
            if target <= parts:
                target = 0
        if len(memo) > 512:
            memo.clear()
        memo[key] = target
    if target == 0:
        return df
    return df.repartition(target, F.col(key_col))


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register temp views so queries can use the SQL API interchangeably."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
