"""Property-based tests for the merge lattice (SURVEY §5): associativity,
commutativity-of-type, idempotence — the laws that make the distributed
partial/final aggregation correct regardless of partitioning."""

from decimal import Decimal

from hypothesis import example, given, settings
from hypothesis import strategies as st

from hive_serde_schema_gen_spark.schema_infer import (
    Arr,
    Descriptor,
    Num,
    Str,
    SchemaGenError,
    Struct,
    describe,
    merge,
    render_type,
)

# Field name decides the value kind, so randomly-built objects always merge
# cleanly (kind conflicts are covered by the explicit error tests).
KIND_POOL = {
    "i": st.integers(min_value=-(10**20), max_value=10**20),
    "f": st.decimals(
        min_value=Decimal("-1e12"),
        max_value=Decimal("1e12"),
        allow_nan=False,
        allow_infinity=False,
        places=6,
    ),
    "s": st.text(max_size=30),
    "b": st.booleans(),
    "n": st.none(),
}


def value_strategy(depth: int = 2):
    scalar_keys = list(KIND_POOL)
    if depth == 0:
        kinds = [KIND_POOL[k] for k in scalar_keys]
        return st.one_of(*kinds)
    sub = value_strategy(depth - 1)
    # list elements must be kind-consistent: draw one scalar kind per list
    homogeneous_list = st.sampled_from(scalar_keys).flatmap(
        lambda k: st.lists(KIND_POOL[k] | st.none(), max_size=4)
    )
    obj = st.dictionaries(
        st.sampled_from(scalar_keys), sub, max_size=4
    ).map(lambda d: {f"{k}_{i}": v for i, (k, v) in enumerate(d.items())})
    return st.one_of(*[KIND_POOL[k] for k in scalar_keys], homogeneous_list, obj)


def row_strategy():
    """Rows are objects whose field name prefix pins the field's kind."""
    return st.dictionaries(
        st.sampled_from(list(KIND_POOL)),
        st.nothing() | st.none(),
        max_size=0,
    ).flatmap(
        lambda _: st.fixed_dictionaries(
            {},
            optional={
                f"{k}1": KIND_POOL[k] for k in KIND_POOL
            },
        )
    )


def canonical(d: Descriptor) -> str:
    """Type identity modulo struct field order."""
    if isinstance(d, Struct):
        return (
            "struct{"
            + ",".join(f"{k}:{canonical(v)}" for k, v in sorted(d.fields.items()))
            + "}"
        )
    if isinstance(d, Arr):
        return f"array<{canonical(d.element)}>"
    if isinstance(d, (Num, Str)):
        return render_type(d)
    return d.kind


@settings(max_examples=200, deadline=None)
@given(row_strategy(), row_strategy(), row_strategy())
def test_merge_associative(a, b, c):
    da, db, dc = describe(a), describe(b), describe(c)
    left = merge(merge(da, db), dc)
    right = merge(da, merge(db, dc))
    assert canonical(left) == canonical(right)


@settings(max_examples=200, deadline=None)
@given(row_strategy(), row_strategy())
def test_merge_commutative_type(a, b):
    da, db = describe(a), describe(b)
    assert canonical(merge(da, db)) == canonical(merge(db, da))


@settings(max_examples=200, deadline=None)
@given(value_strategy())
def test_describe_idempotent_under_self_merge(v):
    d = describe(v)
    assert canonical(merge(d, d)) == canonical(d)


@settings(max_examples=100, deadline=None)
@given(st.lists(row_strategy(), min_size=1, max_size=8))
def test_fold_order_independent_type(rows):
    """Any partitioning of the fold yields the same type — the law the
    distributed partial/final aggregation rests on."""
    descs = [describe(r) for r in rows]
    seq = descs[0]
    for d in descs[1:]:
        seq = merge(seq, d)
    rev = descs[-1]
    for d in reversed(descs[:-1]):
        rev = merge(rev, d)
    assert canonical(seq) == canonical(rev)


# Loose values: any kind under any key, so rows conflict, arrays mix kinds,
# and slots go from null to a kind.  Decimals carry scales -2..7, so equal
# values meet with different scales (Decimal("-90.000000") against -90).
LOOSE_NUMBER = st.integers(min_value=-(10**12), max_value=10**12) | st.builds(
    lambda i, sc: Decimal(i).scaleb(-sc),
    st.integers(min_value=-(10**9), max_value=10**9),
    st.integers(min_value=-2, max_value=7),
)
LOOSE_SCALAR = st.one_of(st.none(), st.booleans(), LOOSE_NUMBER, st.text(max_size=6))
LOOSE_VALUE = st.recursive(
    LOOSE_SCALAR,
    lambda sub: st.lists(sub, max_size=3)
    | st.lists(LOOSE_NUMBER | st.none(), max_size=3)
    | st.dictionaries(st.sampled_from("abc"), sub, max_size=3),
    max_leaves=8,
)
LOOSE_ROW = st.dictionaries(st.sampled_from("abcd"), LOOSE_VALUE, max_size=4)


def _fold_rows(rows):
    """Seed schema: ``merge(schema, describe(row))`` over the rows that fit,
    each with an ``id`` that grows every row, as real NDJSON ids do."""
    from hive_serde_schema_gen_spark.schema_infer.lattice import EMPTY_STRUCT

    schema = EMPTY_STRUCT
    for i, r in enumerate(rows):
        try:
            schema = merge(schema, describe({"id": i, **r}))
        except SchemaGenError:
            pass
    return schema


def _near(data, v):
    """A value of ``v``'s shape whose leaves move a little: numbers step by
    up to 2 and may change scale (so equal values meet as int and as
    Decimal), strings change length by up to 1, arrays gain copies of their
    elements, objects drop fields."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, (int, Decimal)):
        x = v + data.draw(st.integers(min_value=-2, max_value=2))
        scale = data.draw(st.sampled_from([None, 0, 1, 2, 6]))
        return x if scale is None else Decimal(x).quantize(Decimal(1).scaleb(-scale))
    if isinstance(v, str):
        return data.draw(st.text(min_size=max(0, len(v) - 1), max_size=len(v) + 1))
    if isinstance(v, list):
        extra = data.draw(st.lists(st.sampled_from(v), max_size=2)) if v else []
        return [_near(data, x) for x in v + extra]
    return {k: _near(data, x) for k, x in v.items() if data.draw(st.booleans())}


def _outcome(f):
    try:
        return f(), None
    except SchemaGenError as e:
        return None, (type(e), str(e))


@settings(max_examples=500, deadline=None)
@given(
    st.lists(row_strategy() | LOOSE_ROW, max_size=8),
    st.sampled_from(["fresh", "repeat", "near", "near"]),
    st.sampled_from([False, False, False, True]),
    st.data(),
)
def test_observe_is_merge_of_describe(rows, probe, detect_dates, data):
    """``observe`` equals ``merge(schema, describe(value))`` exactly: the
    same descriptor down to field order and bound representation, the same
    error type and message on conflicts, and the schema object itself when
    nothing widens.  The value is a fresh one, a seed row observed again
    with its own id (nothing widens), or a seed row whose leaves moved."""
    from hive_serde_schema_gen_spark.schema_infer.lattice import observe

    schema = _fold_rows(rows)
    if probe == "fresh" or not rows:
        value = data.draw(row_strategy() | LOOSE_ROW | LOOSE_VALUE)
    else:
        i = data.draw(st.integers(min_value=0, max_value=len(rows) - 1))
        value = rows[i] if probe == "repeat" else _near(data, rows[i])
        value = {"id": i if probe == "repeat" else len(rows), **value}
    got, got_err = _outcome(lambda: observe(schema, value, 7, detect_dates))
    want, want_err = _outcome(
        lambda: merge(schema, describe(value, 7, detect_dates), 7)
    )
    assert got_err == want_err
    assert got == want
    assert repr(got) == repr(want)  # field order, int vs Decimal bounds
    if got == schema and not detect_dates:
        assert got is schema


def _line(v) -> str:
    """One NDJSON line for ``v``; Decimals keep their literal scale."""
    import json

    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, dict):
        return "{" + ",".join(json.dumps(k) + ":" + _line(x) for k, x in v.items()) + "}"
    if isinstance(v, list):
        return "[" + ",".join(_line(x) for x in v) + "]"
    return json.dumps(v)


def _row_fold(lines, permissive):
    """The fold by definition, one ``merge(schema, describe(row))`` per
    line: the (schema, lines seen, sampled errors, first error) the kernel
    must return, with the first error as (type, line)."""
    from hive_serde_schema_gen_spark.schema_infer.infer import (
        _observe_lenient,
        parse_line,
    )
    from hive_serde_schema_gen_spark.schema_infer.lattice import EMPTY_STRUCT

    schema = EMPTY_STRUCT
    errors = []
    for n, raw in enumerate(lines, 1):
        value = parse_line(raw)
        try:
            schema = merge(schema, describe(value, n), n)
        except SchemaGenError as e:
            if not permissive:
                return schema, n, errors, (type(e), n)
            errors.append((n, type(e).__name__))
            schema = _observe_lenient(schema, value)
    return schema, len(lines), errors, None


@settings(max_examples=300, deadline=None)
@given(st.lists(row_strategy() | LOOSE_ROW, max_size=12), st.booleans())
def test_fast_batch_fold_matches_row_fold(rows, permissive):
    """The fold kernel over a batch of lines produces the exact descriptor
    (bounds, scales, lengths, field order included — not just the rendered
    type) of the row-at-a-time ``merge(schema, describe(row))`` fold, and
    the same first error (FAILFAST) or sampled errors (PERMISSIVE)."""
    from hive_serde_schema_gen_spark.schema_infer.infer import _fold

    lines = [_line(r) for r in rows]
    schema, n, errors, err = _fold(lines, permissive=permissive)
    want, want_n, want_errors, want_err = _row_fold(lines, permissive)
    assert schema == want
    assert repr(schema) == repr(want)  # first-seen order, bound objects
    assert (n, errors) == (want_n, want_errors)
    assert (None if err is None else (type(err), err.line)) == want_err


FLAT_ROW = st.fixed_dictionaries(
    {}, optional={f"{k}1": KIND_POOL[k] for k in KIND_POOL}
)


@settings(max_examples=300, deadline=None)
@given(st.lists(FLAT_ROW, min_size=1, max_size=12))
def test_fast_batch_fold_covers_flat_rows(rows):
    """Flat scalar rows fold through the kernel without error and reproduce
    the row fold exactly; once folded, every row fits the schema, so
    observing it again takes the no-copy path and returns the schema
    object itself."""
    from hive_serde_schema_gen_spark.schema_infer.infer import _fold, parse_line
    from hive_serde_schema_gen_spark.schema_infer.lattice import observe

    lines = [_line(r) for r in rows]
    schema, n, errors, err = _fold(lines)
    want, _n, _errors, _err = _row_fold(lines, False)
    assert (n, errors, err) == (len(rows), [], None)
    assert schema == want
    assert list(schema.fields) == list(want.fields)  # first-seen order
    for raw in lines:
        assert observe(schema, parse_line(raw)) is schema


# Two keys and few kinds, so slots go from null to a kind, arrays from
# empty to typed, and rows conflict often.
NARROW_LEAF = st.one_of(st.none(), st.integers(0, 300), st.text(max_size=2))
NARROW_VALUE = NARROW_LEAF | st.lists(NARROW_LEAF, max_size=2) | st.fixed_dictionaries(
    {}, optional={"c": NARROW_LEAF}
)
NARROW_ROW = st.dictionaries(st.sampled_from("ab"), NARROW_VALUE, max_size=2)


@settings(max_examples=500, deadline=None)
@given(
    st.lists(NARROW_ROW, max_size=4),
    st.lists(NARROW_ROW, max_size=3),
    st.lists(NARROW_ROW, min_size=1, max_size=4),
    st.booleans(),
)
# the seed's kinds hold a slot the middle fills: null, [] and {"c": null}
@example([{"a": None}], [{"a": 1}], [{"a": "x"}], False)
@example([{"a": []}], [{"a": [1]}], [{"a": ["x"]}], False)
@example([{"a": {"c": None}}], [{"a": {"c": 1}}], [{"a": {"c": "x"}}], False)
def test_seeded_fold_stands_in_for_a_wider_seed(head, middle, tail, detect_dates):
    """What lets ``infer_path`` re-fold later PERMISSIVE partitions in one
    job: if folding the middle lines leaves the seed's kinds, the tail
    folded from the seed, merged into the wider schema, is the tail folded
    from the wider schema, with the same errors."""
    from hive_serde_schema_gen_spark.schema_infer.infer import _fold, _kinds

    def fold(rows, seed):
        return _fold([_line(r) for r in rows], seed, True, detect_dates)

    s = fold(head, Struct())[0]
    t = fold(middle, s)[0]
    if _kinds(t) != _kinds(s):
        return
    from_s, from_t = fold(tail, s), fold(tail, t)
    assert repr(merge(t, from_s[0])) == repr(from_t[0])
    assert from_s[1:] == from_t[1:]
