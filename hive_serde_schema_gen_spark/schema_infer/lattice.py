"""The type lattice at the heart of the engine.

The reference (``/root/reference/Schemer.scala:10,43-63``) folds every NDJSON
row into a single *exemplar* ``JsValue`` whose shape encodes the inferred type
(longest string ⇒ VARCHAR width, max-value-at-max-scale ⇒ numeric tier, …).
We re-express that trick as an explicit, picklable **type-descriptor lattice**
so the fold can run as a distributed partial/final aggregation on Spark
executors (the reference's sequential fold, ``Schemer.scala:11-14``, becomes
per-partition folds + a driver/tree merge).

Descriptor kinds (mirroring ``Schemer.scala:67-97``'s decision tree):

- ``UNKNOWN``  — bottom of the lattice; all-null column (``Schemer.scala:45-46,70``)
- ``BOOLEAN``  — ``Schemer.scala:47,71``
- ``STR``      — tracks ``max_len`` (⇒ VARCHAR(n)/STRING, ``Schemer.scala:49-50,73-75``)
- ``NUM``      — tracks ``lo``/``hi``/``max_scale``.  DELIBERATE DEVIATION from
  the reference, which keeps only the max value (``Schemer.scala:52``) and
  therefore mis-types mixed-sign columns ({-1000, 5} ⇒ TINYINT); we track both
  bounds (SURVEY §1.4 "negatives forgotten" bug, fixed per §7).
- ``ARR``      — single unified element descriptor (``Schemer.scala:32-41,53``)
- ``STRUCT``   — key-union of fields (``Schemer.scala:55-59``).  DELIBERATE
  DEVIATION: field order is deterministic first-seen (the reference's Scala
  ``groupBy`` scrambles it nondeterministically, SURVEY §1.4).
- ``TOP``      — top: every value fits (renders ``STRING``); PERMISSIVE only

``merge`` is an associative, commutative (up to struct field order, which is
left-biased so partials must be combined in partition order for exact
first-seen ordering) semilattice join — the ``zero``/``seqOp``/``combOp`` of
the distributed aggregation.

Cross-kind merges raise :class:`~.errors.RowMismatch`; mixed-kind array
elements raise :class:`~.errors.InconsistentArray`
(``Schemer.scala:16-30,37-38,61``).  The PERMISSIVE join (``permissive=True``)
yields ``TOP`` there instead, as Spark's JSON reader widens a kind conflict
to a string; ``TOP`` absorbs in either mode.
"""

from __future__ import annotations

from decimal import Decimal
from typing import Any, Optional, Union

from .errors import InconsistentArray, RowMismatch, SchemaGenError

# ---------------------------------------------------------------------------
# Descriptors.  Plain classes with __slots__, never mutated once built:
# merge and observe return new descriptors (observe returns its input
# unchanged when nothing widens), so descriptors can be shared freely.  All
# picklable.  Equality, hash and repr come from the Descriptor base and
# read each kind's __slots__.
# ---------------------------------------------------------------------------


class Descriptor:
    """Base of the descriptor kinds: two descriptors are equal when they
    have the same type and the same slot values, and hash alike when so."""

    __slots__ = ()
    kind = "?"
    _positional = False  # repr ``Arr(elem)`` rather than ``Str(max_len=3)``

    def _key(self) -> tuple:
        return tuple(getattr(self, s) for s in self.__slots__)

    def __eq__(self, other: object) -> bool:
        return type(other) is type(self) and other._key() == self._key()

    def __hash__(self) -> int:
        # hash() of int/Decimal is value-consistent across numeric types
        # (str() is not: '10' vs '10.0' — would break the eq/hash contract)
        return hash((self.kind, self._key()))

    def __repr__(self) -> str:
        name = type(self).__name__
        if self._positional:
            return f"{name}({getattr(self, self.__slots__[0])!r})"
        return f"{name}({', '.join(f'{s}={getattr(self, s)}' for s in self.__slots__)})"


class Unknown(Descriptor):
    """Bottom type: only nulls observed (renders ``???``, Schemer.scala:70)."""

    __slots__ = ()
    kind = "unknown"


UNKNOWN = Unknown()


class Bool(Descriptor):
    __slots__ = ()
    kind = "boolean"


BOOL = Bool()


class Str(Descriptor):
    """Tracks the longest observed length in code points.

    The reference keeps the longest exemplar string (Schemer.scala:49-50) and
    renders ``VARCHAR(len)`` (Schemer.scala:73-74).  Scala ``String.size``
    counts UTF-16 code units; we count code points (documented deviation —
    differs only beyond the BMP).
    """

    __slots__ = ("max_len",)
    kind = "string"

    def __init__(self, max_len: int = 0):
        self.max_len = max_len


class Ts(Descriptor):
    """Opt-in ISO-8601 date/timestamp detection (``detect_dates=True`` —
    OFF by default: the reference has no date type, ``Schemer.scala:43-63``,
    so reference-mode output stays byte-identical).

    Tracks ``max_len`` like :class:`Str` so a later non-date string
    degrades the field losslessly to VARCHAR, and ``has_time`` to pick
    DATE vs TIMESTAMP at render time.
    """

    __slots__ = ("max_len", "has_time")
    kind = "timestamp"

    def __init__(self, max_len: int, has_time: bool):
        self.max_len = max_len
        self.has_time = has_time


class Num(Descriptor):
    """Tracks lo/hi bounds and the maximum observed scale.

    ``lo``/``hi`` are ``int`` (scale-0 values) or :class:`decimal.Decimal`.
    The reference keeps only ``max(value) setScale max(scale)``
    (Schemer.scala:52); precision for rendering is derived at output time
    (Schemer.scala:77-85).  :func:`.render.numeric_tier` reproduces the
    derivation from the bounds: ``precision = integer digits of
    max(|lo|, |hi|) + max_scale`` — identical to
    Java ``BigDecimal.precision`` of the reference's exemplar for all-positive
    columns (golden check: {12345678901234.5, 0.12} ⇒ NUMERIC(16, 2),
    README.md:42; {12544, 1234.5434} ⇒ precision 9 ⇒ DOUBLE, README.md:36).
    """

    __slots__ = ("lo", "hi", "max_scale")
    kind = "number"

    def __init__(self, lo: Union[int, Decimal], hi: Union[int, Decimal], max_scale: int):
        self.lo = lo
        self.hi = hi
        self.max_scale = max_scale


class Arr(Descriptor):
    """Array with one unified element descriptor (Schemer.scala:32-41).

    An empty array observes element ``UNKNOWN`` ⇒ renders ``ARRAY<???>``
    (Schemer.scala:36; README.md:39-41).
    """

    __slots__ = ("element",)
    kind = "array"
    _positional = True

    def __init__(self, element: Descriptor):
        self.element = element


class Struct(Descriptor):
    """Struct: insertion-ordered dict of field name → descriptor.

    Key-union across rows (Schemer.scala:55-59); order is first-seen
    (deviation from the reference's hash-scrambled order, SURVEY §1.4).
    Equality ignores field order, so the hash keys on the field set.
    """

    __slots__ = ("fields",)
    kind = "struct"
    _positional = True

    def __init__(self, fields: Optional[dict] = None):
        self.fields = fields if fields is not None else {}

    def _key(self) -> tuple:
        return (frozenset(self.fields.items()),)


EMPTY_STRUCT = Struct()


class Top(Descriptor):
    """Top type: kinds met here under a PERMISSIVE join (renders STRING)."""

    __slots__ = ()
    kind = "any"


TOP = Top()

# ---------------------------------------------------------------------------
# Value → descriptor (the "observe" direction of the fold)
# ---------------------------------------------------------------------------


def _scale(x: Union[int, float, Decimal]) -> int:
    """Scale à la Java BigDecimal, clamped at 0.

    JSON ints parse to ``int`` (scale 0); floats parse to ``Decimal``
    preserving the literal's textual scale (``infer.parse_line``'s decoder
    has ``parse_float=Decimal``), so ``10.0`` has scale 1 exactly as
    play-json's BigDecimal does (Schemer.scala:52 ``ax.scale``).
    Exponent-form literals (``1e3``) get scale 0 (deviation: Java would
    report a negative scale; the rendered tier is unchanged for the
    integral case).  :func:`_widen` reads a ``Decimal``'s scale the same
    way, inline.
    """
    if isinstance(x, int):
        return 0
    if isinstance(x, Decimal):
        exp = x.as_tuple().exponent
        return max(0, -exp) if isinstance(exp, int) else 0
    return 0


# Date-only or full timestamp; time part optionally fractional + zoned.
_ISO8601 = __import__("re").compile(
    r"\d{4}-\d{2}-\d{2}([T ]\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:?\d{2})?)?$"
)


def describe(
    value: Any, line: Optional[int] = None, detect_dates: bool = False, permissive: bool = False
) -> Descriptor:
    """Build a descriptor for one parsed JSON value (exemplar → descriptor).

    Mirrors the implicit typing in ``Schemer.scala:43-63`` with array
    normalization (``prepare``, Schemer.scala:32-41) applied eagerly: a
    multi-element array folds its elements into one unified element type;
    element-kind conflicts raise InconsistentArray (Schemer.scala:37-38), or
    with ``permissive=True`` join to ``TOP``.

    ``detect_dates=True`` (opt-in deviation) types ISO-8601 strings as
    :class:`Ts`; OFF by default for reference fidelity.
    """
    if value is None:
        return UNKNOWN
    if isinstance(value, bool):  # must precede int: bool is an int subclass
        return BOOL
    if isinstance(value, str):
        if detect_dates:
            m = _ISO8601.match(value)
            if m:
                return Ts(len(value), has_time=m.group(1) is not None)
        return Str(len(value))
    if isinstance(value, (int, Decimal, float)):
        if isinstance(value, float):  # defensive: parse_float=Decimal upstream
            value = Decimal(repr(value))
        return Num(value, value, _scale(value))
    if isinstance(value, list):
        elem: Descriptor = UNKNOWN
        try:
            for v in value:
                elem = merge(elem, describe(v, line, detect_dates, permissive), line, permissive)
        except RowMismatch:
            raise InconsistentArray(value, line=line) from None
        return Arr(elem)
    if isinstance(value, dict):
        return Struct({k: describe(v, line, detect_dates, permissive) for k, v in value.items()})
    raise TypeError(f"unsupported JSON value: {value!r}")


# ---------------------------------------------------------------------------
# merge — the semilattice join (Schemer.scala:43-63)
# ---------------------------------------------------------------------------


def merge(
    a: Descriptor, b: Descriptor, line: Optional[int] = None, permissive: bool = False
) -> Descriptor:
    """Least upper bound of two descriptors.

    Associative and commutative in the *type* it denotes; struct field order
    is left-biased (first-seen), so combine partition partials in partition
    order for deterministic global ordering.  Cross-kind ⇒ RowMismatch
    (null absorbs, Schemer.scala:45-46; everything else must match kinds,
    Schemer.scala:61), or ``TOP`` with ``permissive=True``.  ``TOP`` absorbs
    in either mode.
    """
    if a is UNKNOWN or isinstance(a, Unknown):
        return b
    if b is UNKNOWN or isinstance(b, Unknown):
        return a
    if isinstance(a, Bool) and isinstance(b, Bool):
        return BOOL
    if isinstance(a, Ts) and isinstance(b, Ts):
        return Ts(max(a.max_len, b.max_len), a.has_time or b.has_time)
    if isinstance(a, Str) and isinstance(b, Str):
        return a if a.max_len >= b.max_len else b
    if isinstance(a, (Ts, Str)) and isinstance(b, (Ts, Str)):
        # a date-looking string and a general string unify to VARCHAR —
        # max_len is tracked on both sides so nothing is lost
        return Str(max(a.max_len, b.max_len))
    if isinstance(a, Num) and isinstance(b, Num):
        return Num(
            a.lo if a.lo <= b.lo else b.lo,
            a.hi if a.hi >= b.hi else b.hi,
            a.max_scale if a.max_scale >= b.max_scale else b.max_scale,
        )
    if isinstance(a, Arr) and isinstance(b, Arr):
        try:
            return Arr(merge(a.element, b.element, line, permissive))
        except RowMismatch:
            raise InconsistentArray([a.element, b.element], line=line) from None
    if isinstance(a, Struct) and isinstance(b, Struct):
        fields = dict(a.fields)
        for k, bv in b.fields.items():
            av = fields.get(k)
            fields[k] = bv if av is None else merge(av, bv, line, permissive)
        return Struct(fields)
    # MapOf never arises from observe() — the reference lattice above is
    # untouched — but rewritten schemas meet in evolve's diff, where two
    # map columns must widen by their VALUE types, not flag incompatible
    if a.kind == "map" and b.kind == "map":
        return type(a)(merge(a.value, b.value, line, permissive))
    if permissive or type(a) is Top or type(b) is Top:
        return TOP
    raise RowMismatch(a, b, line=line)


def observe(
    schema: Descriptor,
    value: Any,
    line: Optional[int] = None,
    detect_dates: bool = False,
    permissive: bool = False,
) -> Descriptor:
    """Fold one parsed JSON row into the running schema.

    ``schema ← merge(schema, describe(row))`` — the loop body of
    ``Schemer.scala:11-14``, with ``permissive`` handed to both.  The seed
    is :data:`EMPTY_STRUCT` (the reference seeds with ``Json.obj()``,
    Schemer.scala:10), so a non-object top-level row raises RowMismatch
    exactly as the reference does (PERMISSIVE: the row joins to ``TOP``).

    The common row only widens a few leaves, so :func:`_widen` walks the
    value and the schema together: it returns ``schema`` itself when nothing
    widens and copies only the path to a widened leaf.  Every other row (a
    new field, the first non-null value of a slot, a kind conflict, or any
    row under ``detect_dates``) takes the ``merge(schema, describe(row))``
    path, so results and errors are exactly that expression's.
    """
    if not detect_dates:
        widened = _widen(schema, value)
        if widened is not None:
            return widened
    return merge(schema, describe(value, line, detect_dates, permissive), line, permissive)


def _widen(d: Descriptor, v: Any) -> Optional[Descriptor]:
    """``merge(d, describe(v))`` for a ``v`` that fits ``d``'s shape, or
    None when it does not (the caller then takes the general path).

    Exact down to the objects kept: ``d`` itself when nothing widens, and
    on a tie the existing bound, as ``merge`` keeps its left operand.  Any
    ``v`` fits ``TOP`` and is not described, so a field past its first
    kind conflict costs a PERMISSIVE fold no general path.
    """
    if v is None:
        return d
    t = type(v)
    if t is str:
        if type(d) is Str:
            n = len(v)
            return d if n <= d.max_len else Str(n)
    elif t is int or t is Decimal:  # exact types: bool is an int subclass
        if type(d) is Num:
            if t is int:
                sc = 0
            else:  # _scale inline, no call per number: exponent clamped at 0
                sc = v.as_tuple().exponent
                sc = -sc if type(sc) is int and sc < 0 else 0
            lo, hi, ms = d.lo, d.hi, d.max_scale
            if lo <= v <= hi and sc <= ms:
                return d
            return Num(v if v < lo else lo, v if v > hi else hi, sc if sc > ms else ms)
    elif t is dict:
        if type(d) is Struct:
            fields = d.fields
            out = None
            for k, x in v.items():
                old = fields.get(k)
                if old is None:  # new field: first-seen order is merge's to keep
                    return None
                new = _widen(old, x)
                if new is None:
                    return None
                if new is not old:
                    if out is None:
                        out = dict(fields)
                    out[k] = new
            return d if out is None else Struct(out)
    elif t is bool:
        if type(d) is Bool:
            return d
    elif t is list:
        if type(d) is Arr:
            elem = d.element
            for x in v:
                elem = _widen(elem, x)
                if elem is None:
                    return None
            return d if elem is d.element else Arr(elem)
    # a miss: v is not of d's kind
    return d if type(d) is Top else None


# ---------------------------------------------------------------------------
# MAP inference (round-9 opt-in extension; the reference has no MAP type —
# SURVEY §1.3 lists it as unsupported, so this is flag-gated and the
# default output stays byte-identical to the reference contract)
# ---------------------------------------------------------------------------


class MapOf(Descriptor):
    """``MAP<STRING, value>`` — produced ONLY by :func:`structs_to_maps`
    (never by the observe/merge fold, which stays exactly the reference's
    lattice).  Keys are always strings: JSON object keys are."""

    __slots__ = ("value",)
    kind = "map"
    _positional = True

    def __init__(self, value: Descriptor):
        self.value = value


def structs_to_maps(
    desc: Descriptor, threshold: int, _root: bool = True
) -> Descriptor:
    """Post-merge rewrite: any NESTED struct with >= ``threshold`` fields
    whose field types UNIFY under the lattice becomes
    ``MAP<STRING, unified>`` — the standard heuristic for key-as-data
    objects (per-user dicts, counters, feature bags) whose key set would
    otherwise grow one schema column per observed key and never converge.

    Driver-side over the already-merged descriptor tree (O(schema), not
    O(data)); bottom-up, so an inner dict-of-dicts collapses before its
    parent is considered.  The TOP-LEVEL struct is never rewritten — its
    fields are the table's columns.  A struct whose field types conflict
    (e.g. mixed string/number values) stays a struct: lossy coercion is
    exactly what this engine refuses to do silently; so does one where a
    ``TOP`` (PERMISSIVE's mixed-kind field) would absorb a field of another
    known kind, though strict ``merge`` lets it.  All-``UNKNOWN`` structs
    also stay: there is no evidence of a value type to map to."""
    if isinstance(desc, Arr):
        return Arr(structs_to_maps(desc.element, threshold, _root=False))
    if isinstance(desc, MapOf):
        return MapOf(structs_to_maps(desc.value, threshold, _root=False))
    if not isinstance(desc, Struct):
        return desc
    if not _root and len(desc.fields) >= threshold:
        # unify the ORIGINAL (reference-lattice) field descriptors — the
        # fold happens before any child becomes a MapOf, which merge()
        # deliberately does not know — then rewrite the unified value
        unified: Descriptor = UNKNOWN
        try:
            for v in desc.fields.values():
                unified = merge(unified, v)
        except SchemaGenError:
            unified = None  # heterogeneous values: keep the struct
        if (
            unified is not None
            and not isinstance(unified, Unknown)
            and not any(_coerces(v, unified) for v in desc.fields.values())
        ):
            return MapOf(structs_to_maps(unified, threshold, _root=False))
    return Struct(
        {
            k: structs_to_maps(v, threshold, _root=False)
            for k, v in desc.fields.items()
        }
    )


def _coerces(d: Descriptor, into: Descriptor) -> bool:
    """Whether widening ``d`` to ``into`` turns a known kind into ``TOP``."""
    if type(into) is Top:
        return not isinstance(d, (Top, Unknown))
    if isinstance(d, Arr) and isinstance(into, Arr):
        return _coerces(d.element, into.element)
    if isinstance(d, Struct) and isinstance(into, Struct):
        return any(_coerces(v, into.fields[k]) for k, v in d.fields.items())
    return False
