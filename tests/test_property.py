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
    line (PERMISSIVE: the join, skipping a row that joins to ``TOP``): the
    (schema, lines seen, sampled errors, first error) the kernel must
    return, with the first error as (type, line)."""
    from hive_serde_schema_gen_spark.schema_infer.infer import parse_line
    from hive_serde_schema_gen_spark.schema_infer.lattice import EMPTY_STRUCT, Top

    schema = EMPTY_STRUCT
    errors = []
    for n, raw in enumerate(lines, 1):
        value = parse_line(raw)
        try:
            joined = merge(schema, describe(value, n, permissive=permissive), n, permissive)
        except SchemaGenError as e:
            return schema, n, errors, (type(e), n)
        if isinstance(joined, Top):
            errors.append((n, "RowMismatch"))
        else:
            schema = joined
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
    """A PERMISSIVE fold seeded with a schema stands in for one seeded with
    any wider schema: the tail folded from the seed, joined into the wider
    schema, is the tail folded from the wider schema, with the same
    errors."""
    from hive_serde_schema_gen_spark.schema_infer.infer import _fold

    def fold(rows, seed):
        return _fold([_line(r) for r in rows], seed, True, detect_dates)

    s = fold(head, Struct())[0]
    t = fold(middle, s)[0]
    from_s, from_t = fold(tail, s), fold(tail, t)
    assert repr(merge(t, from_s[0], permissive=True)) == repr(from_t[0])
    assert from_s[1:] == from_t[1:]


# Conflict-heavy input for the PERMISSIVE join: few keys, every kind under
# every key (ISO dates, so Ts meets Str too), nested arrays and objects, so
# fields and array elements join to TOP at any depth.
MIXED_LEAF = NARROW_LEAF | st.booleans() | st.sampled_from(
    [Decimal("1.50"), Decimal("-0.5"), "2024-01-02", "2024-01-02 03:04:05"]
)
MIXED_VALUE = st.recursive(
    MIXED_LEAF,
    lambda sub: st.lists(sub, max_size=3) | st.dictionaries(st.sampled_from("ab"), sub, max_size=2),
    max_leaves=6,
)
MIXED_ROW = st.dictionaries(st.sampled_from("abc"), MIXED_VALUE, max_size=3)
# lines: mostly such rows, then bad JSON and top-level values that are not
# objects (row-local errors), and a top-level null (no error in any mode)
PERMISSIVE_LINE = st.one_of(
    MIXED_ROW.map(_line),
    NARROW_ROW.map(_line),
    st.sampled_from(["{broken", '{"a": ', "[1, 2]", "5", '"x"', '[{"a": 1}]', "null"]),
)


@settings(max_examples=500, deadline=None)
@given(MIXED_VALUE, MIXED_VALUE, MIXED_VALUE, st.booleans())
@example({"a": 1}, {"a": "x"}, {"a": [1]}, False)
@example([1, "x"], [[1], ["x"]], [{"a": 1}, {"a": True}], False)
def test_permissive_join_is_a_semilattice(a, b, c, detect_dates):
    """The PERMISSIVE join is commutative, associative (field order and
    bound objects included) and idempotent, and ``TOP`` absorbs every
    descriptor under the join and under the strict merge alike."""
    from hive_serde_schema_gen_spark.schema_infer import TOP

    def join(x, y):
        return merge(x, y, permissive=True)

    da, db, dc = (describe(v, detect_dates=detect_dates, permissive=True) for v in (a, b, c))
    assert join(da, db) == join(db, da)
    assert repr(join(join(da, db), dc)) == repr(join(da, join(db, dc)))
    assert repr(join(da, da)) == repr(da)
    for d in (da, db, dc):
        assert join(TOP, d) == join(d, TOP) == merge(TOP, d) == merge(d, TOP) == TOP


@settings(max_examples=500, deadline=None)
@given(
    st.lists(PERMISSIVE_LINE, max_size=12),
    st.lists(st.integers(min_value=0, max_value=12), max_size=4),
    st.booleans(),
)
@example(['{"a": 1}', '{"a": "x"}'], [1], False)
@example(['{"a": [1]}', "[1, 2]", '{"a": ["x"]}', "{broken"], [1, 3], False)
def test_permissive_fold_does_not_depend_on_the_split(lines, cuts, detect_dates):
    """A PERMISSIVE fold cut at any points, its pieces folded from the empty
    schema and joined in order (error lines offset by the lines before),
    is the one-piece fold: the same descriptor, DDL and error lines."""
    from hive_serde_schema_gen_spark.schema_infer import EMPTY_STRUCT, render_definition
    from hive_serde_schema_gen_spark.schema_infer.infer import _fold

    whole, n, errors, err = _fold(lines, EMPTY_STRUCT, True, detect_dates)
    assert err is None
    bounds = [0, *sorted(min(c, len(lines)) for c in cuts), len(lines)]
    joined, joined_errors = EMPTY_STRUCT, []
    for lo, hi in zip(bounds, bounds[1:]):
        partial, m, piece_errors, _ = _fold(lines[lo:hi], EMPTY_STRUCT, True, detect_dates)
        assert m == hi - lo
        joined = merge(joined, partial, permissive=True)
        joined_errors += [(lo + line, msg) for line, msg in piece_errors]
    assert repr(joined) == repr(whole)
    assert render_definition(joined) == render_definition(whole)
    assert joined_errors == errors


@settings(max_examples=300, deadline=None)
@given(st.lists(PERMISSIVE_LINE, max_size=10).flatmap(
    lambda lines: st.tuples(st.just(lines), st.permutations(lines))
))
def test_permissive_fold_does_not_depend_on_row_order(pair):
    """Any order of the same lines gives an equal PERMISSIVE descriptor
    (field order aside) and the same number of skipped rows."""
    from hive_serde_schema_gen_spark.schema_infer.infer import _fold

    lines, shuffled = pair
    a, b = _fold(lines, permissive=True), _fold(shuffled, permissive=True)
    assert a[0] == b[0]
    assert len(a[2]) == len(b[2])


# JSON text written token by token, so it can hold what json.dumps never
# writes: ints beyond 2**64, Decimal literals with trailing zeros or in
# exponent form, lone-surrogate escapes and duplicate keys.
JSON_NUMBER = st.one_of(
    st.integers(min_value=-(2**80), max_value=2**80).map(str),
    st.builds(
        lambda i, frac, zeros: f"{i}.{frac}{'0' * zeros}",
        st.integers(min_value=-(10**20), max_value=10**20),
        st.integers(min_value=0, max_value=999),
        st.integers(min_value=0, max_value=3),
    ),
    st.builds(
        "{}{}{}".format,
        st.sampled_from(["1", "-2.5", "10.00", "0.0", "123456789012345678901"]),
        st.sampled_from(["e", "E"]),
        st.sampled_from(["3", "+3", "-3", "0", "-30", "+308", "400"]),
    ),
)
JSON_STRING = st.lists(
    st.text(
        st.characters(blacklist_categories=("Cs",), blacklist_characters='"\\'),
        max_size=4,
    )
    | st.sampled_from(
        ["\\n", '\\"', "\\\\", "\\/", "\\t", "\\u00e9", "\\ud800", "\\udc00", "\\ud83d\\ude00"]
    ),
    max_size=4,
).map(lambda parts: '"' + "".join(parts) + '"')
JSON_KEY = st.sampled_from(['"a"', '"b"', '"\\u0061"']) | JSON_STRING
JSON_TEXT = st.recursive(
    st.sampled_from(["true", "false", "null"]) | JSON_NUMBER | JSON_STRING,
    lambda sub: st.lists(sub, max_size=3).map(lambda xs: "[" + ", ".join(xs) + "]")
    | st.lists(st.tuples(JSON_KEY, sub), max_size=4).map(
        lambda kv: "{" + ",".join(f"{k}: {v}" for k, v in kv) + "}"
    ),
    max_leaves=10,
)
WHITESPACE = st.sampled_from(["", " ", "\t", "\n", " \r\n ", "\x0b", "\u00a0"])


@st.composite
def json_variant(draw):
    """Valid JSON text, or one of the ways a line can break."""
    s = draw(JSON_TEXT)
    how = draw(st.sampled_from(["as is", "bom", "trailing", "truncated", "constant", "space"]))
    if how == "bom":
        return "\ufeff" + s
    if how == "trailing":
        return s + draw(st.sampled_from([" x", "1", "{}", ",", "]", s]))
    if how == "truncated":
        return s[: draw(st.integers(min_value=0, max_value=max(0, len(s) - 1)))]
    if how == "constant":
        return f"[{s}, {draw(st.sampled_from(['NaN', 'Infinity', '-Infinity']))}]"
    if how == "space":
        return draw(WHITESPACE) + s + draw(WHITESPACE)
    return s


def _parsed(parse, text):
    """``repr`` of what ``parse`` returns (pins Decimal scale and key
    order), or the type and message of what it raises."""
    try:
        return repr(parse(text))
    except Exception as e:  # noqa: BLE001 - the exception is the outcome
        return type(e), str(e)


@settings(max_examples=1000, deadline=None)
@given(json_variant())
@example('{"a": 1.50, "a": 2}')
@example('{"\\ud800": 18446744073709551617}')
@example("\ufeff{}")
@example("[1e400, -0.0E-7, 10.00]")
@example(b'\xef\xbb\xbf{"a": 1.0}')  # bytes, as from a binary column
def test_parse_line_is_json_loads(text):
    """``parse_line`` returns what ``json.loads`` with the same hooks
    returns, and raises what it raises, message included."""
    import json

    from hive_serde_schema_gen_spark.schema_infer.infer import _reject_constant, parse_line

    want = _parsed(
        lambda s: json.loads(s, parse_float=Decimal, parse_constant=_reject_constant), text
    )
    assert _parsed(parse_line, text) == want


def test_parse_line_builds_no_decoder_per_call(monkeypatch):
    """The fold parses with one decoder built when the module loads: a row
    does not construct a ``JSONDecoder``."""
    import json

    from hive_serde_schema_gen_spark.schema_infer.infer import parse_line

    def no_decoder(*args, **kwargs):
        raise AssertionError("a JSONDecoder was built for one row")

    monkeypatch.setattr(json, "JSONDecoder", no_decoder)
    assert repr(parse_line('{"a": 1.50}')) == "{'a': Decimal('1.50')}"


def test_parse_line_shared_across_threads():
    """Eight threads parsing the same lines at once get what one thread
    gets, errors included (``NaN`` calls back into Python mid-scan, where
    the interpreter may switch threads)."""
    import random
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from hive_serde_schema_gen_spark.schema_infer.infer import parse_line

    rng = random.Random(6)
    lines = []
    for i in range(2_000):
        row = {
            "id": str(i),
            f"k{rng.randrange(50)}": f"{rng.randrange(10**6)}.{rng.randrange(100):02d}0",
            "tags": "[%s]" % ", ".join(f'"t{rng.randrange(9)}"' for _ in range(rng.randrange(4))),
            "nested": '{"x": %d, "y": [%d.5, null]}' % (rng.randrange(2**70), rng.randrange(99)),
        }
        if i % 97 == 0:
            row["bad"] = "NaN"
        lines.append("{" + ", ".join(f'"{k}": {v}' for k, v in row.items()) + "}")

    def parse_all(_):
        return [_parsed(parse_line, s) for s in lines]

    want = parse_all(None)
    assert sum(isinstance(w, tuple) for w in want) == 21  # the NaN rows raise
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(parse_all, range(8)))
    finally:
        sys.setswitchinterval(interval)
    assert all(g == want for g in got)


def test_widen_reads_the_scale_describe_reads():
    """``observe`` reads a Decimal's scale inline; it must agree with
    ``describe``'s ``_scale`` for trailing zeros, exponent form, negative
    exponents and the non-finite values no JSON line parses to."""
    from hive_serde_schema_gen_spark.schema_infer.lattice import observe

    schema = describe({"v": Decimal("5.5")})
    for v in ["1.500", "1E+3", "1E-3", "-0.0E-7", "12345678901234567890.1", "Infinity", "-Inf"]:
        value = {"v": Decimal(v)}
        got = observe(schema, value)
        want = merge(schema, describe(value))
        assert repr(got) == repr(want), v
