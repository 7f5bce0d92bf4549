"""Streaming windowed aggregation over the events table.

The query runs a real Structured Streaming pipeline (file source → watermark
→ tumbling-window aggregate → memory sink, driven to completion with
``processAllAvailable``) and returns the materialized result.  Because a
tumbling window over a static file set must equal the batch GROUP BY
time-bucket, the DuckDB oracle is exact — a strong equivalence check between
the streaming and batch planners.

Output mode is **append**, the mode that scales: a window is emitted exactly
once, when the watermark passes its end, and its state is then evicted — so
state size is bounded by (windows inside the lateness allowance), not by
stream lifetime.  (``complete`` mode would re-emit every window each batch
and never evict — a scale-killer on an unbounded source.)  To close the tail
windows of a *finite* source, the harness appends a far-future sentinel row
after the real files are consumed; the advanced watermark finalizes all real
windows, and Spark's no-data micro-batch flushes them to the sink.  With a
real unbounded source (Kafka) no sentinel is needed — new data plays that
role continuously.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import time

from pyspark.sql import functions as F

from ..registry import query
from ..session import scoped_conf
from ..sources.tables import normalize_events_ts

# Far enough past any real event that every real window closes (year ~2191;
# the nanos form must stay under 2^63-1).
_SENTINEL_SECONDS = 7_000_000_000
_SENTINEL_TYPE = "__sentinel__"


def _state_partitions(spark, sf_dir: str) -> int:
    """State-store task count for this slot's drives (round 18, guide §2.4).

    Stateful streaming operators ignore AQE: every micro-batch runs
    ``spark.sql.shuffle.partitions`` tasks per stateful operator, and each
    task commits its state store to the checkpoint per batch — a fixed
    ~10-30 ms apiece.  Inheriting the batch session's core-count default
    (32 here) made the three drives pay ~256 store commits per run for a
    few MB of events; measured on the attribution drive, 8 partitions cut
    the batch wall 6.2 s → 2.2 s with byte-identical output (the join/
    aggregate results are partition-independent).  Derive the count from
    the SOURCE SIZE — one state partition per ~8 MiB, floor 4 — capped at
    ``defaultParallelism``, so a cluster-scale stream still gets every
    core (the local win is from right-sizing to data, not from a host
    constant)."""
    try:
        size = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    except OSError:
        size = 0
    dp = spark.sparkContext.defaultParallelism
    return max(1, min(dp, max(4, size // (8 << 20) + 1)))


def _stream_source_dir(sf_dir: str) -> str:
    """Spark's file streaming source requires a *directory*; expose the
    single events.parquet through a scratch dir of symlinks under the system
    tmpdir (real deployments stream from a directory/Kafka anyway).  A fresh
    run-unique dir keeps the sentinel of one run out of the next."""
    key = hashlib.md5(f"{sf_dir}:{time.time_ns()}".encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), "spark_stream_scratch", key)
    os.makedirs(d, exist_ok=True)
    os.symlink(
        os.path.join(sf_dir, "events.parquet"), os.path.join(d, "events.parquet")
    )
    # run-unique dirs would otherwise accumulate across runs — the caller
    # removes the dir once the query stops (see streaming_window_counts)
    return d


def _write_sentinel(raw_schema, stream_dir: str) -> None:
    """One far-future row, same raw schema as the source files.  Its only job
    is to advance the watermark past every real window.

    NOTE: the sentinel must NOT be filtered out inside the streaming query —
    a deterministic filter on a non-event-time column is pushed down through
    the EventTimeWatermark node into the scan, and the sentinel's timestamp
    then never reaches the watermark collector (observed: watermark stuck,
    tail windows never emitted).  It flows through the aggregate instead;
    its own window can never close (nothing later exists), so it adds no
    output row, and the batch-side result filter drops it if that ever
    changes.

    The ``ts`` cell is written in whatever physical encoding the real files
    use (raw int64 nanos for the legacy TIMESTAMP(NANOS) data, native
    ``timestamp[us]`` otherwise) so the sentinel file's schema matches the
    stream's fixed read schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    values = {
        "event_id": -1,
        "user_id": -1,
        "event_type": _SENTINEL_TYPE,
        "value": 0.0,
        "props": "{}",
    }
    cols = {}
    for f in raw_schema.fields:
        if f.name == "ts":
            if isinstance(f.dataType, LongType):
                cols["ts"] = pa.array(
                    [_SENTINEL_SECONDS * 1_000_000_000], type=pa.int64()
                )
            else:
                cols["ts"] = pa.array(
                    [_SENTINEL_SECONDS * 1_000_000], type=pa.timestamp("us")
                )
        else:
            cols[f.name] = [values[f.name]]
    pq.write_table(
        pa.table(cols), os.path.join(stream_dir, "zz_sentinel.parquet")
    )


@query(
    "streaming_window_counts",
    oracle="""
    SELECT * FROM (
    SELECT 'window' AS op,
           strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
           CAST(NULL AS BIGINT) AS user_id,
           CAST(NULL AS BIGINT) AS total_cents,
           CAST(NULL AS BIGINT) AS click_id,
           CAST(NULL AS VARCHAR) AS click_ts,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS VARCHAR) AS purchase_ts,
           CAST(NULL AS DOUBLE) AS purchase_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'user' AS op,
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           COUNT(*),
           CAST(NULL AS DOUBLE),
           user_id,
           CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT),
           NULL, NULL, NULL, NULL, NULL
    FROM events GROUP BY user_id
    UNION ALL
    SELECT 'attr' AS op,
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           c.user_id, CAST(NULL AS BIGINT),
           c.event_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S'),
           p.event_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S'),
           p.value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    ) ORDER BY op, window_start NULLS FIRST, event_type NULLS FIRST,
             user_id NULLS FIRST, click_id NULLS FIRST,
             purchase_id NULLS FIRST
    """,
)
def streaming_window_counts(spark, sf_dir):
    """TWO real Structured Streaming pipelines over the same file source,
    tagged-union'd into one driver-hashed row set:

    ``op='window'`` — tumbling 1-hour windows with a 30-minute watermark in
    **append** mode: each window is emitted once when the watermark passes
    it and its state is evicted (bounded state at scale).  The sink is the
    real exactly-once protocol
    (``streaming.exactly_once.idempotent_epoch_sink``): every epoch lands in
    a deterministic ``epoch=<id>`` path with a commit-ledger marker, and
    EVERY epoch is deliberately REPLAYED in-stream (simulating Structured
    Streaming's at-least-once redelivery after a crash) — the ledger must
    absorb each one, or the replayed rows double and the unchanged batch
    oracle catches it.

    ``op='user'`` — the CUSTOM STATEFUL operator
    (``stateful.running_user_cents``, ``applyInPandasWithState``): per-user
    running (count, integer-cents total) accumulated across micro-batches
    in executor state; the last update per user must equal the batch GROUP
    BY — the streaming/batch equivalence contract for arbitrary stateful
    processing, with integer state making the equality bit-exact under any
    micro-batching.  Both halves verify against the one batch oracle.

    ``op='attr'`` (round 11) — the STREAM-STREAM interval join
    (``streaming/join.py``): click→purchase attribution in left_outer
    mode over the same file source, both sides watermarked, the
    time-range condition bounding join state.  Unmatched clicks emit
    only once the watermark proves no purchase can still arrive (the
    sentinel closes the tail intervals); the batch oracle is the plain
    range θ-join with a LEFT JOIN."""
    import shutil
    import tempfile

    from .exactly_once import idempotent_epoch_sink

    # Session confs for the three drives, each restored on exit (every row
    # is collected inside the scope): nanos-as-long for the raw events
    # schema; the sentinel flush rides on the no-data micro-batch, so don't
    # depend on the (default-true) conf being untouched in the caller's
    # session; and a scale-adaptive state-store task count (each streaming
    # query captures the conf at start) — see _state_partitions.
    confs = {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.streaming.noDataMicroBatches.enabled": "true",
        "spark.sql.shuffle.partitions": str(_state_partitions(spark, sf_dir)),
    }
    with scoped_conf(spark, **confs):
        # raw physical schema (ts: int64 nanos or TIMESTAMP_NTZ)
        raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        stream_dir = _stream_source_dir(sf_dir)
        stream = normalize_events_ts(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "8")
            .parquet(stream_dir)
        )
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("double")
                .alias("total_value"),
            )
        )
        out_dir = tempfile.mkdtemp(prefix="spark_eo_windows_")
        inner = idempotent_epoch_sink(out_dir)

        def handler(batch_df, epoch_id: int) -> None:
            inner(batch_df, epoch_id)
            # injected redelivery of EVERY committed epoch: the commit ledger
            # must turn each into a no-op (exactly-once under at-least-once
            # delivery).  Redelivering all epochs — rather than probing for the
            # first non-empty one with a take(), which would re-evaluate the
            # whole batch plan — guarantees the row-carrying epochs are among
            # the replays, so a broken ledger skip doubles real rows and the
            # unchanged batch oracle catches it; the skip itself short-circuits
            # before any Spark job runs, so the replays cost nothing.
            inner(batch_df, epoch_id)

        q = agg.writeStream.outputMode("append").foreachBatch(handler).start()
        try:
            win_rows = _drive_and_read(
                spark, q, raw_schema, stream_dir, out_dir
            )
            user_totals = _run_stateful(spark, raw_schema, stream_dir)
            # the sentinel _drive_and_read wrote is still in stream_dir — the
            # attribution stream consumes it as its watermark closer
            attr_rows = _run_attribution(spark, raw_schema, stream_dir)
        finally:
            # single cleanup point: covers the success path AND any exception
            # from the drive loop (TimeoutError, processAllAvailable failures),
            # so neither scratch dir can accumulate across runs
            shutil.rmtree(stream_dir, ignore_errors=True)
            shutil.rmtree(out_dir, ignore_errors=True)
    out_schema = (
        "op string, window_start string, event_type string, n long,"
        " total_value double, user_id long, total_cents long,"
        " click_id long, click_ts string, purchase_id long,"
        " purchase_ts string, purchase_value double"
    )
    pad = (None,) * 5
    rows = [
        (
            "window", r["window_start"], r["event_type"], r["n"],
            r["total_value"], None, None,
        ) + pad
        for r in win_rows
    ] + [
        ("user", None, None, n, None, uid, cents) + pad
        for uid, (n, cents) in sorted(user_totals.items())
    ] + [
        (
            "attr", None, None, None, None, r["user_id"], None,
            r["click_id"], r["click_ts"], r["purchase_id"],
            r["purchase_ts"], r["purchase_value"],
        )
        for r in attr_rows
    ]
    # Driver-side sort (nulls first, matching the previous .orderBy) + an
    # Arrow-backed LocalRelation: the rows are already collected, so a
    # DataFrame orderBy would buy nothing but a 32-slice parallelize, a
    # range-sampling job, and an exchange (~0.9 s of pure overhead).
    rows.sort(
        key=lambda r: (
            r[0],
            (r[1] is not None, r[1] or ""),
            (r[2] is not None, r[2] or ""),
            (r[5] is not None, r[5] or 0),
            (r[7] is not None, r[7] or 0),
            (r[9] is not None, r[9] or 0),
        )
    )
    import pandas as pd

    pdf = pd.DataFrame(
        rows,
        columns=[
            "op", "window_start", "event_type", "n",
            "total_value", "user_id", "total_cents",
            "click_id", "click_ts", "purchase_id",
            "purchase_ts", "purchase_value",
        ],
        dtype=object,
    )
    return spark.createDataFrame(pdf, out_schema)


def _run_attribution(spark, raw_schema, stream_dir):
    """Drive the stream-stream interval join (left_outer click→purchase
    attribution, ``streaming/join.py``) over the already-populated source
    dir — the sentinel file is ALREADY present, so it rides the first
    micro-batch as the watermark closer (passthrough keeps it from being
    filter-pushed below the EventTimeWatermark node; its self-join row is
    dropped by the ``user_id >= 0`` result filter).  Outer rows flush in
    the no-data micro-batch once the committed watermark crosses the
    sentinel region.  Returns formatted rows (timestamps rendered
    engine-side as strings, like the window arm)."""
    from ..sources.tables import normalize_events_ts
    from .join import click_purchase_attribution

    stream = normalize_events_ts(
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(stream_dir)
    )
    name = f"swc_attr_{int(time.time() * 1000)}"
    q = (
        click_purchase_attribution(
            stream, how="left_outer", passthrough_types=(_SENTINEL_TYPE,)
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        for _ in range(200):
            wm = (q.lastProgress or {}).get("eventTime", {}).get(
                "watermark", ""
            )
            if wm >= "2100":
                break
            time.sleep(0.1)
        else:
            raise TimeoutError(
                "attribution watermark never crossed the sentinel region "
                f"(last watermark: {wm!r}); outer rows would be missing"
            )
        # bounded collect: one row per (click, purchase-within-30min) pair
        # plus one per unmatched click — O(clicks), never event-stream-scale
        return spark.sql(
            f"""SELECT user_id, click_id,
                   date_format(click_ts, 'yyyy-MM-dd HH:mm:ss') AS click_ts,
                   purchase_id,
                   date_format(purchase_ts, 'yyyy-MM-dd HH:mm:ss') AS purchase_ts,
                   purchase_value
            FROM {name} WHERE user_id >= 0"""
        ).collect()
    finally:
        q.stop()


def _run_stateful(spark, raw_schema, stream_dir):
    """Drive the custom stateful operator over the already-populated source
    dir and return its FINAL per-user state (update-mode emissions are
    keyed, so last-write-wins into a dict is the sink).  The sentinel row
    is dropped IN-stream — safe here, unlike in the watermarked query,
    because this pipeline has no EventTimeWatermark node for the filter
    pushdown to starve (cf. the _write_sentinel note)."""
    from .stateful import running_user_cents

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(stream_dir)
        .filter(F.col("user_id") >= 0)
    )
    totals: dict = {}

    def capture(batch_df, epoch_id: int) -> None:
        # Safe to collect: each update-mode micro-batch emits at most one
        # AGGREGATED row per user touched in that batch — bounded by the
        # distinct-user count (~hundreds here), never by the event stream.
        # A real deployment would write the batch to a keyed sink instead.
        for r in batch_df.collect():
            totals[r["user_id"]] = (r["n_events"], r["total_cents"])

    q = running_user_cents(stream).writeStream.outputMode("update").foreachBatch(
        capture
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return totals


def _drive_and_read(spark, q, raw_schema, stream_dir, out_dir):
    from .exactly_once import read_committed

    try:
        q.processAllAvailable()  # all real files consumed; tail windows open
        _write_sentinel(raw_schema, stream_dir)
        q.processAllAvailable()  # sentinel batch advances the watermark
        # The flush of now-late windows happens in Spark's no-data
        # micro-batch, which processAllAvailable doesn't await.  That batch
        # is done exactly when the committed watermark (lastProgress) has
        # crossed the sentinel's far-future region — wait on that, not on
        # sink-count heuristics.  The compare is a plain string compare on
        # the ISO-8601 watermark ("2191-..." >= "2100"), which is safe
        # because ISO timestamps sort lexicographically.
        for _ in range(200):
            p = q.lastProgress
            wm = (p or {}).get("eventTime", {}).get("watermark", "")
            if wm >= "2100":
                break
            time.sleep(0.1)
        else:
            # proceeding silently would return partial output and fail the
            # oracle compare with no diagnostic — make the cause explicit
            raise TimeoutError(
                "streaming watermark never crossed the sentinel region "
                f"(last watermark: {wm!r}); tail windows would be missing"
            )
    finally:
        q.stop()
    committed = read_committed(spark, out_dir)
    if committed is None:
        # honor read_committed's documented no-committed-epochs contract
        # (empty/missing ledger) instead of dereferencing None
        return []
    result = (
        committed.select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "total_value",
        )
        # defensively drop the sentinel's far-future window should it
        # ever be emitted (it cannot close under the current watermark
        # logic)
        .filter(F.col("window_start") < "2100")
        .orderBy("window_start", "event_type")
    )
    # materialize before the caller removes the sink dir (the returned
    # rows must not depend on the scratch files).  Safe to collect: the
    # result is one row per (window, event_type) — windows/hour × a small
    # type vocabulary, thousands of rows at any SF, never event-scale.
    return result.collect()
