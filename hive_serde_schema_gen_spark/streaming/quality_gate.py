"""Streaming quality gate: the validation layer (``operators/validation``)
applied per micro-batch with QUARANTINE routing — a production stream
never fails on bad data, it routes it:

- **row level**: rows failing a SQL predicate peel off to
  ``quarantine/epoch=N`` (the malformed tail of every real feed);
- **batch level**: the surviving rows run the declarative check suite in
  one aggregate; a failing batch routes WHOLE to quarantine ("stop the
  line": a schema-drifted or half-empty upstream batch must not pollute
  the curated output), and EVERY epoch — including an empty one, which
  writes a single ``__empty_batch`` row — lands a result set in the
  report table (its own root, ``report_path``, NOT inside the curated
  directory: mixing a second schema under ``good_path`` would break
  plain ``spark.read.parquet(good_path)`` readers), so an orchestrator
  can distinguish "gate ran, batch empty" from "epoch lost".

All writes are deterministic per-epoch directories with overwrite, so
foreachBatch replays rewrite the same files (the ``exactly_once`` /
``ingest.py`` recipe).  Costs per batch: one pass for the row split, one
aggregate for the checks — both map-side combined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.validation import validate


_REPORT_SCHEMA = (
    "epoch long, check string, metric double, op string, "
    "threshold double, passed boolean"
)


def _write_report(spark, rows, report_path: str, epoch_id: int) -> None:
    # repartition(1), NOT coalesce(1): a coalesced local relation
    # evaluates its parallelize slices serially through one Python
    # worker per slice; report readers never depend on row order.
    spark.createDataFrame(rows, _REPORT_SCHEMA).repartition(1).write.mode(
        "overwrite"
    ).parquet(f"{report_path}/epoch={epoch_id}")


def process_gated_batch(
    batch: DataFrame,
    epoch_id: int,
    checks,
    good_path: str,
    quarantine_path: str,
    report_path: str,
    row_predicate: str | None = None,
) -> list:
    """One micro-batch through the gate; returns the check results (exposed
    as a plain function so replay and routing are directly testable)."""
    spark = batch.sparkSession
    if batch.isEmpty():
        # still a report row: "gate ran, nothing arrived" ≠ "epoch lost"
        _write_report(
            spark,
            [(epoch_id, "__empty_batch", None, "==", 0.0, True)],
            report_path,
            epoch_id,
        )
        return []
    batch = batch.localCheckpoint()  # consumed by split + checks + write
    if row_predicate is not None:
        ok_rows = batch.filter(row_predicate)
        bad_rows = batch.filter(
            ~F.coalesce(F.expr(row_predicate), F.lit(False))
        )
    else:
        ok_rows, bad_rows = batch, None
    results = validate(ok_rows, checks)
    batch_ok = all(r["passed"] for r in results)
    _write_report(
        spark,
        [
            (
                epoch_id,
                r["name"],
                float(r["metric"]) if r["metric"] is not None else None,
                r["op"],
                float(r["threshold"]),
                r["passed"],
            )
            for r in results
        ],
        report_path,
        epoch_id,
    )
    if batch_ok:
        ok_rows.write.mode("overwrite").parquet(f"{good_path}/epoch={epoch_id}")
        if bad_rows is not None:
            bad_rows.write.mode("overwrite").parquet(
                f"{quarantine_path}/epoch={epoch_id}"
            )
    else:
        # stop the line: the WHOLE batch (including predicate-passing rows)
        # is suspect when a batch-level invariant breaks
        batch.write.mode("overwrite").parquet(
            f"{quarantine_path}/epoch={epoch_id}"
        )
    return results

