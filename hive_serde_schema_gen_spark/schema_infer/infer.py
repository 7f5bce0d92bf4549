"""Distributed NDJSON schema inference — the Spark-native pipeline.

The reference runs a sequential fold over a lazy line iterator in a single
JVM thread (``/root/reference/Schemer.scala:7-14``).  Here the same fold is a
classic **partial/final distributed aggregation**:

    sc.textFile(path, cores)                # operator 1: one split per core
                                            #   (and per MiB of input)
      .mapPartitionsWithIndex(_fold)        # operators 2-4: parse + observe,
                                            #   one partial schema per partition
      → driver: prefix-sum line counts, merge partials in partition order
                                            # final merge (first-seen field order)

One kernel, :func:`_fold`, is the only parse → observe loop: it folds every
partition, re-folds a partition on the error path, folds each task of
:func:`infer_json_column`, and is :func:`infer_ndjson_strings`.  It takes a
seed schema, and folding lines seeded with the schema of the lines before
them gives exactly the fold of all of them.

Each partition emits exactly one tiny record (partition id, then the
kernel's partial schema, line count, sampled errors and first error), so the
driver-side work is O(partitions × schema size) — at 100 TB / 128 MB splits
that is ~800k small merges, still driver-trivial, and the heavy parse work
is embarrassingly parallel.  Line numbers are exact without a
``zipWithIndex`` second job: local offsets + driver prefix sums (SURVEY §7
"cheap line numbers at scale").

Error semantics: ``FAILFAST`` (the reference's behavior) aborts at the first
bad line in *file order*; ``PERMISSIVE`` skips bad rows, keeps the earlier
kind of a conflicting field, and returns the first 20 errors.  A partition
whose partial conflicts with the schema of the partitions before it, or
(FAILFAST) that stopped at a local error, is re-folded on its own — one
one-task job, error path only — seeded with that schema.  The seeded re-fold
is the one-partition fold of the file up to there, so FAILFAST's line and
PERMISSIVE's schema and error lines do not depend on the split.  PERMISSIVE
re-folds every later partition that conflicts with the same schema in that
one job, so a field that changes kind partway through a file costs one
parallel pass, not one job per partition.

``infer_json_column`` applies the same kernel to a DataFrame string column
(e.g. ``events.props``) via Arrow-batched ``mapInPandas`` — the Spark-idiomatic
fast path when the JSON is already a column rather than a raw file.
"""

from __future__ import annotations

import json
import pickle
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Iterable, List, Optional, Tuple

from .errors import BadJson, SchemaGenError
from .lattice import (
    EMPTY_STRUCT,
    Arr,
    Descriptor,
    Struct,
    describe,
    merge,
    merge_lenient,
    observe,
)
from .render import render_definition, render_table

_MAX_ERROR_SAMPLES = 20


def _reject_constant(name: str):
    # play-json (the reference's parser, Schemer.scala:13) rejects these
    # non-standard literals; Python's json would otherwise admit values the
    # lattice cannot type (Decimal('Infinity') breaks rendering)
    raise ValueError(f"{name} is not valid JSON")


def parse_line(text: str):
    """Parse one NDJSON line.

    ``parse_float=Decimal`` preserves the literal's textual scale so numeric
    widening matches the reference's play-json ``BigDecimal`` semantics
    (``Schemer.scala:13,52``): ``10.0`` is scale 1, ``0.12`` is scale 2.
    ``NaN``/``Infinity`` literals are rejected like the reference does.
    """
    return json.loads(text, parse_float=Decimal, parse_constant=_reject_constant)


@dataclass
class LineError:
    line: Optional[int]
    message: str


@dataclass
class InferenceResult:
    schema: Descriptor
    lines: int
    errors: List[LineError] = field(default_factory=list)

    def definition(self, indent: int = 0) -> str:
        return render_definition(self.schema, indent)

    def table(self, name: str, file: str) -> str:
        return render_table(self.schema, name, file)


def _observe_lenient(schema: Descriptor, value, detect_dates: bool = False) -> Descriptor:
    """PERMISSIVE fold step for a row that conflicts with the schema:
    field-wise best-effort merge (conflicting fields keep the earlier kind,
    clean fields still contribute).  A row whose value cannot even be
    described (e.g. a mixed-kind array) is skipped whole."""
    try:
        return merge_lenient(schema, describe(value, detect_dates=detect_dates))
    except SchemaGenError:
        return schema


# What the kernel returns: (schema, lines seen, PERMISSIVE's sampled
# (local line, message) errors, FAILFAST's first error or None)
_Fold = Tuple[Descriptor, int, List[Tuple[int, str]], Optional[SchemaGenError]]


def _fold(
    lines: Iterable[str],
    schema: Descriptor = EMPTY_STRUCT,
    permissive: bool = False,
    detect_dates: bool = False,
) -> _Fold:
    """The fold kernel: parse each line and observe it into ``schema``.

    Lines are numbered from 1.  FAILFAST stops at the first bad line and
    returns its error with that local line number set.  PERMISSIVE skips bad
    JSON, degrades a conflicting row field-wise, and keeps going, keeping
    the first ``_MAX_ERROR_SAMPLES`` errors.  Seeding ``schema`` with what the
    lines before these folded to gives exactly the fold of all of them.
    """
    n = 0
    errors: List[Tuple[int, str]] = []
    for raw in lines:
        n += 1
        try:
            value = parse_line(raw)
        except ValueError as e:
            if not permissive:
                return schema, n, errors, BadJson(raw, str(e), line=n)
            if len(errors) < _MAX_ERROR_SAMPLES:
                errors.append((n, "BadJson: " + str(e)))
            continue
        try:
            schema = observe(schema, value, n, detect_dates)
        except SchemaGenError as e:
            if not permissive:
                if getattr(e, "raw", None) is None and hasattr(e, "raw"):
                    e.raw = value
                return schema, n, errors, e.with_line(n)
            if len(errors) < _MAX_ERROR_SAMPLES:
                errors.append((n, type(e).__name__))
            schema = _observe_lenient(schema, value, detect_dates)
    return schema, n, errors, None


# Fewest bytes in a default split beyond Spark's own default of two, so a
# small file does not pay a task start-up per core for a millisecond fold.
_MIN_SPLIT_BYTES = 1 << 20


def _input_bytes(sc, path: str) -> int:
    """Total size of what ``sc.textFile(path)`` reads (comma-separated
    files, directories or globs, split the way ``textFile`` splits them)."""
    jvm = sc._jvm
    job = jvm.org.apache.hadoop.mapred.JobConf(sc._jsc.hadoopConfiguration())
    jvm.org.apache.hadoop.mapred.FileInputFormat.setInputPaths(job, path)
    total = 0
    for hp in jvm.org.apache.hadoop.mapred.FileInputFormat.getInputPaths(job):
        fs = hp.getFileSystem(job)
        for st in fs.globStatus(hp) or []:
            total += fs.getContentSummary(st.getPath()).getLength()
    return total


def _kinds(d: Descriptor):
    """``d`` without its bounds.  Whether a row conflicts, and the kinds it
    leaves, depend on nothing else; so if ``t`` is ``s`` widened by folding
    and has the kinds of ``s``, a fold seeded with ``s`` meets the same
    errors as one seeded with ``t``, and ``merge(t, fold(s))`` is
    ``fold(t)``."""
    if isinstance(d, Struct):
        return ("struct", tuple((k, _kinds(v)) for k, v in d.fields.items()))
    if isinstance(d, Arr):
        return ("array", _kinds(d.element))
    return d.kind


def _merge_or_none(a: Descriptor, b: Descriptor) -> Optional[Descriptor]:
    try:
        return merge(a, b)
    except SchemaGenError:
        return None


def infer_path(
    spark,
    path: str,
    mode: str = "FAILFAST",
    min_partitions: Optional[int] = None,
    sampling_ratio: Optional[float] = None,
    detect_dates: bool = False,
) -> InferenceResult:
    """Infer the schema of an NDJSON file/glob distributively.

    ``mode="FAILFAST"`` reproduces the reference's first-bad-line abort with
    an exact line number; ``"PERMISSIVE"`` skips bad rows and returns the
    first 20 errors in file order.  ``min_partitions`` defaults to one split
    per core, but no more splits than MiB of input, and never fewer than
    Spark's default of 2.
    ``sampling_ratio`` (like ``spark.read.json``'s option) infers from a
    deterministic row sample — line numbers are then relative to the sample
    and reported as None.  ``detect_dates`` (opt-in deviation, OFF for
    reference fidelity) types ISO-8601 strings as DATE/TIMESTAMP.
    """
    permissive = mode.upper() == "PERMISSIVE"
    sc = spark.sparkContext
    if not min_partitions:
        by_size = -(-_input_bytes(sc, path) // _MIN_SPLIT_BYTES)
        min_partitions = max(sc.defaultMinPartitions, min(sc.defaultParallelism, by_size))
    rdd = sc.textFile(path, minPartitions=min_partitions)
    sampled = sampling_ratio is not None and sampling_ratio < 1.0
    if sampled:
        rdd = rdd.sample(False, float(sampling_ratio), seed=42)

    recs = rdd.mapPartitionsWithIndex(
        lambda pid, it: [(pid, _fold(it, EMPTY_STRUCT, permissive, detect_dates))]
    ).collect()
    recs.sort(key=lambda r: r[0])

    # Prefix-sum the per-partition line counts → global line offsets.
    offsets = {}
    total = 0
    for pid, (_schema, n, _errors, _err) in recs:
        offsets[pid] = total
        total += n

    def at(pid: int, local: Optional[int]) -> Optional[int]:
        return None if sampled else offsets[pid] + local

    # Merge in partition (= file) order.  A partition whose partial does not
    # merge, or that stopped at a local error, is re-folded seeded with the
    # schema of the partitions before it: the seeded fold is the fold of the
    # file up to there, so its first error is the file's first error, and
    # PERMISSIVE's schema and error lines do not depend on the split.
    # PERMISSIVE re-folds, in the same job and with the same seed, every
    # later partition whose partial conflicts with that schema too (a field
    # that changes kind partway through a file conflicts in each of them);
    # such a re-fold stands in for its partition's own as long as the
    # schema before that partition still has the seed's kinds (_kinds).
    schema: Descriptor = EMPTY_STRUCT
    all_errors: List[LineError] = []
    refolds = {}  # pid -> (kinds of the seed, seeded fold)
    for i, (pid, (partial, _n, errors, err)) in enumerate(recs):
        if err is not None and schema == EMPTY_STRUCT:
            # nothing before it: the partition's own fold is the seeded one
            raise err.with_line(at(pid, err.line))
        merged = None if err is not None else _merge_or_none(schema, partial)
        if merged is None:
            kinds = _kinds(schema)
            if pid not in refolds or refolds[pid][0] != kinds:
                pids = [pid]
                if permissive:
                    pids += [p for p, (part, *_) in recs[i + 1:]
                             if _merge_or_none(schema, part) is None]
                folds = sc.runJob(
                    rdd,
                    lambda it: [_fold(it, schema, permissive, detect_dates)],
                    partitions=pids,
                )
                refolds.update((p, (kinds, f)) for p, f in zip(pids, folds))
            refolded, _n, errors, err = refolds[pid][1]
            if err is not None:
                raise err.with_line(at(pid, err.line))
            merged = merge(schema, refolded)
        schema = merged
        all_errors.extend(LineError(at(pid, local), msg) for local, msg in errors)
    # each partition kept its own first errors, so these are the file's
    return InferenceResult(schema, total, all_errors[:_MAX_ERROR_SAMPLES])


# ---------------------------------------------------------------------------
# DataFrame string-column inference (Arrow path)
# ---------------------------------------------------------------------------


def infer_json_column(df, column: str, permissive: bool = False) -> Descriptor:
    """Infer the lattice schema of a JSON-bearing string column.

    Uses ``mapInPandas``: each task folds its Arrow batches with the same
    kernel as :func:`infer_path` and emits one pickled (partial descriptor,
    first error) record; the driver merges partials in partition order.  At
    cluster scale this moves only O(partitions) tiny blobs to the driver.
    Null cells are skipped (column-level nullability, not a row error).
    Strict mode raises the first error as its :class:`SchemaGenError`
    subclass (line None: a column has no line numbers), wherever the
    conflicting rows landed.

    Repeated raw strings are folded ONCE per task: inference is
    multiplicity-insensitive — every lattice statistic (min/max bound,
    max length, max scale, field set) is an idempotent monotone max/min,
    so a value's second occurrence can never change the schema, and
    real-world JSON columns are heavily repetitive (the events.props
    benchmark column has 100 distinct values in 100 k rows — the dedup
    collapses ~1000× of parse work).  The seen-set is bounded (entry count
    and per-string length) so a genuinely high-cardinality column degrades
    to plain parsing, never to unbounded task memory.
    """
    from pyspark import TaskContext

    # seen-set bounds: past these, parse instead of remember — correctness
    # is unaffected (dedup is an optimization).  Task memory is bounded in
    # BYTES, not just entries: entry count × per-string length caps the
    # worst case at 64 MiB, but the byte budget keeps the typical bound two
    # orders lower — a high-cardinality column of near-cap strings degrades
    # to plain parsing after ~16 MiB instead of growing to the product cap.
    _SEEN_CAP = 1 << 16
    _SEEN_MAX_LEN = 1 << 10
    _SEEN_MAX_BYTES = 1 << 24

    def distinct_cells(batches):
        seen: set = set()
        seen_bytes = 0
        for pdf in batches:
            for raw in pdf[column]:
                if raw is None or raw in seen:
                    continue
                if (
                    len(raw) <= _SEEN_MAX_LEN
                    and len(seen) < _SEEN_CAP
                    and seen_bytes + len(raw) <= _SEEN_MAX_BYTES
                ):
                    seen.add(raw)
                    seen_bytes += len(raw)
                yield raw

    def fold(batches):
        import pandas as pd  # worker-side

        pid = TaskContext.get().partitionId()
        schema, _n, _errors, err = _fold(distinct_cells(batches), EMPTY_STRUCT, permissive)
        yield pd.DataFrame({"pid": [pid], "blob": [pickle.dumps((schema, err))]})

    parts = (
        df.select(column)
        .mapInPandas(fold, schema="pid int, blob binary")
        .collect()
    )
    schema: Descriptor = EMPTY_STRUCT
    for row in sorted(parts, key=lambda r: r["pid"]):
        partial, err = pickle.loads(bytes(row["blob"]))
        if err is not None:
            raise err.with_line(None)
        if permissive:
            schema = merge_lenient(schema, partial)
        else:
            schema = merge(schema, partial)
    return schema


def infer_ndjson_strings(lines: Iterable[str], detect_dates: bool = False) -> InferenceResult:
    """Single-process fold over an iterable of lines (testing / tiny inputs).
    Semantics identical to the distributed path."""
    schema, n, _errors, err = _fold(lines, EMPTY_STRUCT, False, detect_dates)
    if err is not None:
        raise err
    return InferenceResult(schema, n)
