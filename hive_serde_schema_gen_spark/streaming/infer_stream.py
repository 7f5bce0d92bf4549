"""Streaming schema inference — the reference's fold, made incremental.

The reference's merge is a left fold over lines (``Schemer.scala:11-14``),
which is exactly a streaming accumulator: each micro-batch folds, seeded
with the running schema, to a descriptor and its row count (distributed, by
``infer_json_column``'s fold, one Spark job per batch) and ``foreachBatch``
merges it into the running schema on the driver.  State is O(schema size);
the stream can run forever.

This is SURVEY §7 M4 ("streaming inference") — the natural extension the
single-pass batch design already paid for.
"""

from __future__ import annotations

import threading
from typing import Optional

from ..schema_infer import EMPTY_STRUCT, Descriptor, merge
from ..schema_infer.infer import _infer_column
from ..schema_infer.render import render_definition


class StreamingSchemaAccumulator:
    """Thread-safe running schema over micro-batches."""

    def __init__(self, permissive: bool = True) -> None:
        self._lock = threading.Lock()
        self.schema: Descriptor = EMPTY_STRUCT
        self.rows = 0
        self.permissive = permissive

    def absorb(self, partial: Descriptor, n_rows: int) -> None:
        # the PERMISSIVE join across batches when permissive: a cross-batch
        # kind conflict types the field STRING, it does not terminate the
        # StreamingQuery
        with self._lock:
            self.schema = merge(self.schema, partial, permissive=self.permissive)
            self.rows += n_rows

    def definition(self) -> str:
        with self._lock:
            return render_definition(self.schema)


def infer_stream(
    stream_df,
    column: str,
    accumulator: Optional[StreamingSchemaAccumulator] = None,
    permissive: bool = True,
    checkpoint: Optional[str] = None,
):
    """Attach streaming inference to a streaming DataFrame's string column.

    Returns ``(StreamingQuery, StreamingSchemaAccumulator)``; the caller
    drives the stream (``processAllAvailable`` for tests, or leave running).
    Each micro-batch is itself folded distributively, in one Spark job that
    also counts its rows (null cells included) — the driver only ever
    merges one partial descriptor per batch.
    """
    acc = accumulator or StreamingSchemaAccumulator(permissive=permissive)

    def absorb_batch(batch_df, epoch_id: int) -> None:
        # seeded with the running schema, so a strict conflict with an
        # earlier batch names its row, as the fold of all the rows would
        result = _infer_column(batch_df, column, permissive, acc.schema)
        acc.absorb(result.schema, result.lines)

    writer = stream_df.writeStream.outputMode("append").foreachBatch(absorb_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start(), acc
