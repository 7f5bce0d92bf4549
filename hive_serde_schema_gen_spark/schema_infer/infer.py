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
partition, re-folds a partition on FAILFAST's error path, folds each task of
:func:`infer_json_column` and each byte range of :func:`infer_local_file`,
and is :func:`infer_ndjson_strings`.  It takes a seed schema, and folding
lines seeded with the schema of the lines before them gives exactly the
fold of all of them.  One combine step, :func:`_combine`, turns the folds of
an input's contiguous pieces into the fold of the input, for all three
executors: a file's Spark partitions, its local byte ranges and a column's
tasks.  So they share one merge, one FAILFAST replay, one seeded re-fold
rule and one PERMISSIVE error sample, and :func:`infer_ndjson_strings` is
the one-process reference they are all tested against.

Each partition emits exactly one tiny record (partition id, then the
kernel's partial schema, line count, sampled errors and first error), so the
driver-side work is O(partitions × schema size) — at 100 TB / 128 MB splits
that is ~800k small merges, still driver-trivial, and the heavy parse work
is embarrassingly parallel.  Line numbers are exact without a
``zipWithIndex`` second job: local offsets + driver prefix sums (SURVEY §7
"cheap line numbers at scale").

Error semantics: ``FAILFAST`` (the reference's behavior) aborts at the first
bad line in *file order*.  A FAILFAST partition that stopped at a local
error, and whose partial merges with the schema of the partitions before
it, costs no second job: the driver observes the failing row into that
merge, which is the fold of the file up to it.  A partition whose partial
conflicts with that schema is re-folded on its own — one one-task job,
error path only — seeded with it.  So FAILFAST's error does not depend on
the split.  ``PERMISSIVE`` folds with the lattice's PERMISSIVE join: a field
whose rows disagree on kind becomes ``TOP`` (``STRING``), so no row
conflicts.  It skips only rows that are bad on their own — bad JSON, and a
row that is not an object — and returns the first 20 of them.  The join is
associative and commutative, so its schema and error lines do not depend on
the split either, and it never runs a second job.

``infer_json_column`` applies the same kernel to a DataFrame string column
(e.g. ``events.props``) via Arrow-batched ``mapInPandas`` — the Spark-idiomatic
fast path when the JSON is already a column rather than a raw file.  Its
tasks' folds go through :func:`_combine` unnumbered, so a strict error's
text does not depend on the partition count.

Where Spark does not pay, the same fold runs with no JVM: ``SchemaGen``
(and so the CLI) hands a small plain local file to :func:`infer_local_file`,
which cuts it into one contiguous byte range per usable core (at most one
per MiB), each cut moved forward to a line start as ``textFile``'s splits
are.  The calling process folds range 0 and forked children fold the
others; each reads, decodes and splits only its own range
(:func:`_read_range`, split exactly as ``sc.textFile`` splits lines), so no
process holds the whole file.  :func:`_combine` merges the folds; a
conflicting range is re-read and re-folded in-process instead of by a
one-task job.  Every other input, a sampled read, and every direct caller
of :func:`infer_path` takes the Spark path above.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import pickle
import re
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field
from decimal import Decimal
from itertools import chain
from typing import BinaryIO, Callable, Iterable, List, Optional, Tuple

from .errors import BadJson, SchemaGenError
from .lattice import EMPTY_STRUCT, Descriptor, Top, merge, observe
from .render import render_table

_MAX_ERROR_SAMPLES = 20


def _reject_constant(name: str):
    # play-json (the reference's parser, Schemer.scala:13) rejects these
    # non-standard literals; Python's json would otherwise admit values the
    # lattice cannot type (Decimal('Infinity') breaks rendering)
    raise ValueError(f"{name} is not valid JSON")


# One decoder for the process, the pattern of the json module's own
# _default_decoder: json.loads with keyword arguments builds a new
# JSONDecoder, and its C scanner, on every call.  Decoding keeps no state
# between calls, so tasks and threads share it.
_DECODER = json.JSONDecoder(parse_float=Decimal, parse_constant=_reject_constant)


def parse_line(text: str):
    """Parse one NDJSON line, exactly as ``json.loads(text,
    parse_float=Decimal, parse_constant=_reject_constant)`` does.

    ``parse_float=Decimal`` preserves the literal's textual scale so numeric
    widening matches the reference's play-json ``BigDecimal`` semantics
    (``Schemer.scala:13,52``): ``10.0`` is scale 1, ``0.12`` is scale 2.
    ``NaN``/``Infinity`` literals are rejected like the reference does.
    A ``str`` is decoded by the module's one decoder, after the BOM check
    ``json.loads`` makes; a line that starts with a BOM, or ``bytes`` from a
    binary column, go to ``json.loads`` itself for its error or its decoding.
    """
    if isinstance(text, str) and not text.startswith("\ufeff"):
        return _DECODER.decode(text)
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

    def table(self, name: str, file: str) -> str:
        return render_table(self.schema, name, file)


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
    returns its error with that local line number set.  PERMISSIVE joins a
    row that conflicts with the schema into it (each conflicting field
    becomes ``TOP``), skips bad JSON and a row that is not an object, and
    keeps going, keeping the first ``_MAX_ERROR_SAMPLES`` of those errors.
    A line nested too deeply to parse or observe within the recursion limit
    is bad JSON too, so a deep line is reported with its line number, and
    never before an earlier bad line.  Seeding ``schema`` with what the
    lines before these folded to gives exactly the fold of all of them.
    """
    n = 0
    errors: List[Tuple[int, str]] = []
    for raw in lines:
        n += 1
        try:
            value = parse_line(raw)
            try:
                schema = observe(schema, value, n, detect_dates)
            except SchemaGenError as e:
                if not permissive:
                    e.raw = value  # the row, so the driver can replay it
                    return schema, n, errors, e.with_line(n)
                joined = observe(schema, value, n, detect_dates, permissive=True)
                if type(joined) is not Top:  # a kind conflict joins in
                    schema = joined
                elif len(errors) < _MAX_ERROR_SAMPLES:  # a row that is not an object
                    errors.append((n, "RowMismatch"))
            continue
        except ValueError as e:  # parse_line's: not JSON
            cause = str(e)
        except RecursionError:  # parsed or observed past the stack's depth
            cause = "nested too deeply for the recursion limit"
        if not permissive:
            return schema, n, errors, BadJson(raw, cause, line=n)
        if len(errors) < _MAX_ERROR_SAMPLES:
            errors.append((n, "BadJson: " + cause))
    return schema, n, errors, None


def _drained(part: _Fold, rest: Iterable) -> _Fold:
    """``part``, a Spark task's fold, once ``rest`` (its input) has been
    read to the end.  A FAILFAST fold stops at its first error and leaves
    the rest of its partition unread, and PySpark ends a Python worker
    whose input was not read to the end instead of reusing it."""
    if part[3] is not None:
        for _ in rest:
            pass
    return part


# Fewest bytes in a default split beyond Spark's own default of two, so a
# small file does not pay a task start-up per core for a millisecond fold.
_MIN_SPLIT_BYTES = 1 << 20
# Largest file the CLI folds with no JVM (infer_local_file) instead of in
# a Spark job.  It decides only where Spark pays, not memory: each process
# of the local fold holds one byte range, never the whole file.  Warm
# sweep on a 4-core host, perfbench.gen nested lines, median of 5, local
# read+fold time over infer_path time in one process with a live session,
# at 1.7 / 3.4 / 5.1 / 6.8 / 10 / 14 / 27 MB:
# - one process: 0.32 / 0.54 / 0.57 / 0.84 / 0.85 / 0.70 / 0.95 at
#   local[32] (the CLI's default session), and 0.35 / 0.44-0.64 /
#   0.66-0.71 / 1.07-1.13 / 1.15-1.31 / 1.26-1.57 / 1.94 at local[4]
#   under load (an earlier, quieter sweep put that crossover near 13 MB);
# - chunked on 4 cores: 0.23 / 0.32 / 0.38 / 0.34 / 0.33 / 0.30 / 0.31
#   at local[32], and 0.25 / 0.34 / 0.42 / 0.37 / 0.51 / 0.56 / 0.72 at
#   local[4] (0.19 s against 0.51 s at 6.8 MB, 0.66 s against 0.91 s at
#   27 MB).
# A fresh CLI process also pays Spark's start-up, 8-9 s; the chunked fold
# takes the 68 MB file in 1.5-1.6 s (4.2-4.7 s in one process).  The
# bound stays until a cold-CLI metric can measure a second, larger one.
_LOCAL_MAX_BYTES = 8 << 20


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


def _permissive(mode: str) -> bool:
    """Whether ``mode``, ``FAILFAST`` or ``PERMISSIVE`` in any case, is
    PERMISSIVE; any other value is a ``ValueError``, not a silent FAILFAST."""
    if mode.upper() not in ("FAILFAST", "PERMISSIVE"):
        raise ValueError(f"mode must be FAILFAST or PERMISSIVE, got {mode!r}")
    return mode.upper() == "PERMISSIVE"


def _check_ratio(sampling_ratio: Optional[float]) -> None:
    """``sampling_ratio`` is None (every line) or in ``(0, 1]``; anything
    else (``0``, ``2.0``, ``nan``, ``-1``) is a ``ValueError``."""
    if sampling_ratio is not None and not 0 < sampling_ratio <= 1:
        raise ValueError(f"sampling_ratio must be in (0, 1], got {sampling_ratio!r}")


def _merge_or_none(a: Descriptor, b: Descriptor, permissive: bool) -> Optional[Descriptor]:
    try:
        return merge(a, b, permissive=permissive)
    except SchemaGenError:
        return None


def _replay(err: SchemaGenError, schema: Descriptor, detect_dates: bool) -> SchemaGenError:
    """The error a fold that reaches ``err``'s row with ``schema`` meets
    there: the kernel's row observed again (bad JSON stands as it is)."""
    if not isinstance(err, BadJson):
        try:
            observe(schema, err.raw, detect_dates=detect_dates)
        except SchemaGenError as e:
            e.raw = err.raw
            return e
    return err


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
    an exact line number; ``"PERMISSIVE"`` types a field whose rows disagree
    on kind as ``TOP`` (``STRING``), skips bad JSON and non-object rows, and
    returns the first 20 of those in file order, in one Spark job at any
    partition count.  ``min_partitions`` defaults to one split per core,
    but no more splits than MiB of input, and never fewer than Spark's
    default of 2.
    ``sampling_ratio`` (like ``spark.read.json``'s option) infers from a
    deterministic row sample — line numbers are then relative to the sample
    and reported as None; it must be in ``(0, 1]``, and ``1.0`` reads every
    line.  ``detect_dates`` (opt-in deviation, OFF for reference fidelity)
    types ISO-8601 strings as DATE/TIMESTAMP.
    """
    permissive = _permissive(mode)
    _check_ratio(sampling_ratio)
    sc = spark.sparkContext
    if not min_partitions:
        by_size = -(-_input_bytes(sc, path) // _MIN_SPLIT_BYTES)
        min_partitions = max(sc.defaultMinPartitions, min(sc.defaultParallelism, by_size))
    rdd = sc.textFile(path, minPartitions=min_partitions)
    sampled = sampling_ratio is not None and sampling_ratio < 1.0
    if sampled:
        rdd = rdd.sample(False, float(sampling_ratio), seed=42)

    recs = rdd.mapPartitionsWithIndex(
        lambda pid, it: [(pid, _drained(_fold(it, EMPTY_STRUCT, permissive, detect_dates), it))]
    ).collect()
    recs.sort(key=lambda r: r[0])

    def refold(pid: int, seed: Descriptor) -> _Fold:
        [part] = sc.runJob(
            rdd, lambda it: [_drained(_fold(it, seed, False, detect_dates), it)], partitions=[pid]
        )
        return part

    return _combine((part for _pid, part in recs), refold, permissive, detect_dates,
                    numbered=not sampled)


def _combine(
    parts: Iterable[_Fold],
    refold: Callable[[int, Descriptor], _Fold],
    permissive: bool,
    detect_dates: bool,
    numbered: bool = True,
) -> InferenceResult:
    """The fold of a file (or a column) from the folds of its contiguous
    chunks, taken in order: chunk ``i``'s lines are numbered after the
    prefix sum of the line counts before it (None when not ``numbered``, as
    for a sample or a column's rows).

    Where a chunk's partial merges with the schema of the chunks before it,
    the merge is the fold of the file up to there; so a FAILFAST chunk that
    stopped at a local error holds the file's first error, and observing
    its row into the merge re-derives it exactly.  A FAILFAST partial that
    does not merge is re-folded by ``refold(i, seed)``, seeded with that
    schema (its first conflicting line is not known).  A PERMISSIVE partial
    always joins.  ``parts`` is consumed lazily, so a chunk after the one
    that raises is never asked for.
    """
    schema: Descriptor = EMPTY_STRUCT
    all_errors: List[LineError] = []
    offset = 0

    def at(local: int) -> Optional[int]:
        return offset + local if numbered else None

    for i, (partial, n, errors, err) in enumerate(parts):
        merged = _merge_or_none(schema, partial, permissive)
        if merged is None:
            partial, _n, errors, err = refold(i, schema)
            merged = merge(schema, partial)
        if err is not None:
            raise _replay(err, merged, detect_dates).with_line(at(err.line))
        schema = merged
        all_errors.extend(LineError(at(local), msg) for local, msg in errors)
        offset += n
    # each chunk kept its own first errors, so these are the file's
    return InferenceResult(schema, offset, all_errors[:_MAX_ERROR_SAMPLES])


# ---------------------------------------------------------------------------
# DataFrame string-column inference (Arrow path)
# ---------------------------------------------------------------------------


def infer_json_column(df, column: str, permissive: bool = False) -> Descriptor:
    """Infer the lattice schema of a JSON-bearing string column.

    Uses ``mapInPandas``: each task folds its Arrow batches with the same
    kernel as :func:`infer_path` and emits one pickled fold record (partial
    descriptor, row count, sampled errors, first error); the driver combines
    them in partition order with :func:`_combine`, as :func:`infer_path`
    combines its partitions.  At cluster scale this moves only
    O(partitions) tiny blobs to the driver.  Null cells are skipped
    (column-level nullability, not a row error).  Strict mode raises the
    error the in-order fold of the cells meets, as its
    :class:`SchemaGenError` subclass, with the same text at any partition
    count (line None: a column has no line numbers).  A partition that
    stopped at its own error is re-derived on the driver; one whose partial
    conflicts with the partitions before it is re-folded, seeded with their
    schema, by one one-task job.  ``permissive=True`` folds and merges with
    the PERMISSIVE join, so a field whose cells disagree on kind is ``TOP``
    however the rows are ordered or partitioned.

    Repeated raw strings are folded ONCE per task: inference is
    multiplicity-insensitive — every lattice statistic (min/max bound,
    max length, max scale, field set) is an idempotent monotone max/min,
    so a value's second occurrence can never change the schema, and
    real-world JSON columns are heavily repetitive (the events.props
    benchmark column has 100 distinct values in 100 k rows — the dedup
    collapses ~1000× of parse work).  Nor can it raise: the fold stops at
    its first error, so a cell seen before folded cleanly into a schema no
    wider than today's.  The seen-set is bounded (entry count and
    per-string length) so a genuinely high-cardinality column degrades to
    plain parsing, never to unbounded task memory.
    """
    return _infer_column(df, column, permissive).schema


def _infer_column(
    df, column: str, permissive: bool, seed: Descriptor = EMPTY_STRUCT
) -> InferenceResult:
    """:func:`infer_json_column`'s fold, seeded with ``seed`` (the schema of
    the rows before these), with the column's row count (null cells
    included) as the result's ``lines``."""
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

    def distinct_cells(batches, rows: List[int]):
        seen: set = set()
        seen_bytes = 0
        for pdf in batches:
            rows[0] += len(pdf)
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

    def folded(seed: Descriptor, permissive: bool):
        """One (pid, pickled fold) row per task; the fold counts rows,
        nulls included, where the kernel counts lines."""

        def fold(batches):
            import pandas as pd  # worker-side

            rows = [0]
            schema, _n, errors, err = _drained(
                _fold(distinct_cells(batches, rows), seed, permissive), batches
            )
            blob = pickle.dumps((schema, rows[0], errors, err))
            yield pd.DataFrame({"pid": [TaskContext.get().partitionId()], "blob": [blob]})

        return df.select(column).mapInPandas(fold, schema="pid int, blob binary")

    def record(row) -> _Fold:
        return pickle.loads(bytes(row["blob"]))

    recs = sorted(folded(seed, permissive).collect(), key=lambda r: r["pid"])

    def refold(i: int, seed: Descriptor) -> _Fold:
        sc = df.sparkSession.sparkContext
        [row] = sc.runJob(folded(seed, False).rdd, list, partitions=[recs[i]["pid"]])
        return record(row)

    return _combine(map(record, recs), refold, permissive, False, numbered=False)


def infer_ndjson_strings(
    lines: Iterable[str], detect_dates: bool = False, mode: str = "FAILFAST"
) -> InferenceResult:
    """Single-process fold over an iterable of lines: the reference fold
    that the chunked local fold (:func:`infer_local_file`),
    :func:`infer_path` and :func:`infer_json_column` are tested against.
    Semantics identical to :func:`infer_path` on a file of these lines: a
    BOM that starts the first line is dropped, as ``sc.textFile`` drops one
    that starts a file (a BOM on a later line stays, and that line is bad
    JSON on both paths);
    FAILFAST raises the first error with its line number; PERMISSIVE
    returns the first 20 skipped lines."""
    permissive = _permissive(mode)
    it = iter(lines)
    first = next(it, None)
    if first is not None:
        it = chain([first.removeprefix("\ufeff")], it)
    schema, n, errors, err = _fold(it, EMPTY_STRUCT, permissive, detect_dates)
    if err is not None:
        raise err
    return InferenceResult(schema, n, [LineError(line, msg) for line, msg in errors])


# Hadoop's line ends: textFile's LineRecordReader ends a line at \r\n, \r or
# \n, and at nothing else (str.splitlines also splits on \x0b, \x0c, \x1c-\x1e,
# \x85, \u2028 and \u2029).  The same, in a file's bytes: none is a byte of
# a multi-byte UTF-8 character, so a range cut after one decodes on its own.
_LINE_BREAK = re.compile("\r\n|\r|\n")
_BYTE_BREAK = re.compile(rb"\r\n|\r|\n")
# Bytes read per step while moving a cut to the next line start.
_SCAN_BYTES = 1 << 16
# What makes textFile read a path other than as one plain local file: glob
# and path-list syntax or a URI scheme; a name its hidden-file filter skips;
# a suffix the bundled Hadoop's codec factory decompresses (any case).
_SPARK_PATH_CHARS = frozenset("*?[]{}\\,:")
_CODEC_SUFFIXES = (".gz", ".bz2", ".deflate", ".lz4", ".snappy", ".zst")


def infer_local_file(
    path: str, mode: str = "FAILFAST", detect_dates: bool = False
) -> Optional[InferenceResult]:
    """What :func:`infer_path` infers from ``path``, folded on this host's
    cores with no JVM; or None when Spark should read ``path``: it is not
    one plain local regular file of valid UTF-8 of at most
    ``_LOCAL_MAX_BYTES``.  Invalid UTF-8 goes to Spark, whose ``Text``
    decoding substitutes U+FFFD; so do names textFile hides or decompresses,
    and globs.  The file is cut into one contiguous byte range per usable
    core, but no more ranges than MiB of input, so a file of at most 1 MiB
    is folded in this process alone."""
    permissive = _permissive(mode)
    name = os.path.basename(path)
    if (
        not _SPARK_PATH_CHARS.isdisjoint(path)
        or name.startswith((".", "_"))
        or name.lower().endswith(_CODEC_SUFFIXES)
        or not os.path.isfile(path)
    ):
        return None
    try:
        with open(path, "rb") as f:
            size = os.fstat(f.fileno()).st_size
            if size > _LOCAL_MAX_BYTES:
                return None
            k = max(1, min(_usable_cpus(), -(-size // _MIN_SPLIT_BYTES)))
            cuts = _cuts(f, size, k)
    except OSError:
        return None
    return _fold_ranges(path, cuts, permissive, detect_dates)


def _usable_cpus() -> int:
    affinity = getattr(os, "sched_getaffinity", None)
    return len(affinity(0)) if affinity else os.cpu_count() or 1


def _cuts(f: BinaryIO, size: int, k: int) -> List[int]:
    """The bounds of ``k`` contiguous byte ranges of the ``size``-byte file
    ``f``: 0, then each ``i * size // k`` moved forward to the next
    line start, then ``size``.  A range may be empty (a line longer than a
    range) and never splits a line, a ``\\r\\n`` or a UTF-8 character."""
    cuts = [0]
    for i in range(1, k):
        cuts.append(_line_start(f, max(size * i // k, cuts[-1]), size))
    return cuts + [size]


def _line_start(f: BinaryIO, t: int, size: int) -> int:
    """The first line start at or after byte ``t`` of the file ``f``:
    ``t`` itself when the byte before it ends a line (a ``\\r`` that
    a ``\\n`` follows does not), or ``size`` when no line starts after ``t``.
    Reads from byte ``t - 1`` to the next line break, in blocks: a file
    cut shorter under an ``mmap`` would kill this process with SIGBUS,
    where a short read here only leaves a range for its reader to find
    short."""
    if t == 0:
        return 0
    pos = t - 1
    while True:
        f.seek(pos)
        block = f.read(min(_SCAN_BYTES, size - pos))
        m = _BYTE_BREAK.search(block)
        last = len(block) < _SCAN_BYTES  # the file's end is in this block
        # a break that ends the block may be a \r whose \n comes next
        if m and (last or m.end() < len(block)):
            return pos + m.end()
        if last:
            return size
        pos += len(block) - 1


def _read_range(path: str, start: int, end: int) -> Optional[List[str]]:
    """The lines ``sc.textFile`` reads from bytes ``[start, end)`` of
    ``path``, cut at line starts (a BOM that starts the file stays on line
    1, for the fold to drop; a file that is only a BOM has no line, as
    Hadoop drops the BOM before it looks for one); or None when the bytes
    are not valid UTF-8 or the file no longer holds them all.  Reads
    exactly ``end - start`` bytes: the caller has checked the size."""
    try:
        with open(path, "rb") as f:
            f.seek(start)
            data = f.read(end - start)
        if len(data) < end - start:  # the file shrank after it was cut
            return None
        text = data.decode("utf-8")
    except (OSError, UnicodeDecodeError):
        return None
    del data  # the bytes go before the lines are built
    lines = _LINE_BREAK.split(text) if "\r" in text else text.split("\n")
    # no line follows a final line break
    if lines[-1] == "" or (start == 0 and text == "\ufeff"):
        lines.pop()
    return lines


def _fold_range(
    path: str, start: int, end: int, seed: Descriptor, permissive: bool, detect_dates: bool
) -> Optional[_Fold]:
    """The kernel's fold of bytes ``[start, end)`` of ``path`` (see
    :func:`_read_range`), with a BOM that starts the file dropped, as
    ``sc.textFile`` drops it; or None when the range is not readable."""
    lines = _read_range(path, start, end)
    if lines is None:
        return None
    if start == 0 and lines:
        lines[0] = lines[0].removeprefix("\ufeff")
    return _fold(lines, seed, permissive, detect_dates)


class _Unreadable(Exception):
    """A byte range that is not valid UTF-8, or that the file no longer holds."""


def _fold_ranges(
    path: str, cuts: List[int], permissive: bool, detect_dates: bool
) -> Optional[InferenceResult]:
    """Fold bytes ``cuts[i]`` to ``cuts[i + 1]`` of ``path`` for each ``i``
    and combine the folds as :func:`infer_path` combines its partitions; or
    None when Spark should read the file: a range is not valid UTF-8 (it
    decodes alike wherever its cuts fall) or reads short.  Range 0 folds in
    this process and the others in forked children, each of which reads
    its own range; a re-fold reads its range again here.  Where ``fork`` is
    not available every range folds here, in file order, and a range after
    a FAILFAST error is not read.  The children run only the range
    reader and the fold kernel, which take no lock a thread of this process
    (a live Spark session's, say) could hold at the fork."""
    k = len(cuts) - 1

    def fold(
        i: int, seed: Descriptor = EMPTY_STRUCT, permissive: bool = permissive
    ) -> _Fold:
        part = _fold_range(path, cuts[i], cuts[i + 1], seed, permissive, detect_dates)
        if part is None:
            raise _Unreadable
        return part

    def refold(i: int, seed: Descriptor) -> _Fold:
        return fold(i, seed, False)

    try:
        if k == 1 or "fork" not in multiprocessing.get_all_start_methods():
            return _combine(map(fold, range(k)), refold, permissive, detect_dates)
        with ProcessPoolExecutor(
            k - 1, mp_context=multiprocessing.get_context("fork")
        ) as pool:
            futures = [
                pool.submit(_fold_range, path, cuts[i], cuts[i + 1], EMPTY_STRUCT,
                            permissive, detect_dates)
                for i in range(1, k)
            ]
            first = fold(0)
            # a range that is not valid UTF-8 sends the file to Spark,
            # whatever the ranges before it hold
            if any(f.exception() is None and f.result() is None for f in futures):
                return None

            def parts():
                yield first
                # a range whose child could not fold or send it (a partial
                # nested too deeply to pickle, a killed worker) folds here,
                # where an error of its own is raised in file order
                for i, future in enumerate(futures, 1):
                    yield fold(i) if future.exception() else future.result()

            return _combine(parts(), refold, permissive, detect_dates)
    except _Unreadable:
        return None
