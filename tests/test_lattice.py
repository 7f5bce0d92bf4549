"""Unit tests for the type lattice (no Spark) — SURVEY §5 fixture families
A2-A6 plus merge-law checks."""

import pickle
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from hive_serde_schema_gen_spark.schema_infer import (
    EMPTY_STRUCT,
    UNKNOWN,
    Arr,
    BadJson,
    Bool,
    InconsistentArray,
    Num,
    RowMismatch,
    Str,
    Struct,
    describe,
    infer_ndjson_strings,
    merge,
    observe,
    render_type,
    to_spark_type,
)


def infer_lines(*lines):
    return infer_ndjson_strings(iter(lines)).schema


def col_type(schema, name):
    return render_type(schema.fields[name])


# --- A2: numeric ladder ---------------------------------------------------

LADDER = [
    ("127", "TINYINT", T.ByteType()),
    ("-128", "TINYINT", T.ByteType()),
    ("128", "SMALLINT", T.ShortType()),
    ("-129", "SMALLINT", T.ShortType()),
    ("32768", "INT", T.IntegerType()),
    ("-32769", "INT", T.IntegerType()),
    ("2147483648", "BIGINT", T.LongType()),
    ("9223372036854775808", "NUMERIC(19, 0)", T.DecimalType(19, 0)),
    ("1" + "0" * 39, "NUMERIC(40, 0)", T.DecimalType(38, 0)),  # capped at 38
    ("1.5", "FLOAT", T.FloatType()),
    ("1234567.89", "DOUBLE", T.DoubleType()),  # precision 9
    ("1234567890123456.78", "NUMERIC(18, 2)", T.DecimalType(18, 2)),
]


@pytest.mark.parametrize(
    "value,expected,spark_type", LADDER, ids=[f"{v}-{e}" for v, e, _ in LADDER]
)
def test_numeric_ladder(value, expected, spark_type):
    # the DDL renderer and the Spark bridge read the same tiers
    schema = infer_lines('{"v": %s}' % value)
    assert col_type(schema, "v") == expected
    assert to_spark_type(schema.fields["v"]) == spark_type


# --- A3: widening interactions -------------------------------------------

def test_widening_int_then_frac_to_double():
    # README.md:36 — {12544, 1234.5434} → DOUBLE (precision 9)
    schema = infer_lines('{"a": 12544}', '{"a": 1234.5434}')
    assert col_type(schema, "a") == "DOUBLE"


def test_widening_numeric_16_2():
    # README.md:42 — {12345678901234.5, 0.12} → NUMERIC(16, 2)
    schema = infer_lines('{"b": 12345678901234.5}', '{"b": 0.12}')
    assert col_type(schema, "b") == "NUMERIC(16, 2)"


def test_mixed_sign_deviation():
    # Reference keeps only max ⇒ TINYINT (bug, Schemer.scala:52);
    # we track min/max ⇒ SMALLINT (SURVEY §1.4 documented deviation).
    schema = infer_lines('{"c": -1000}', '{"c": 5}')
    assert col_type(schema, "c") == "SMALLINT"


def test_scale_widening_inflates_precision():
    # {99999.99, 0.000001} → scale 6, int digits 5 ⇒ precision 11 ⇒ DOUBLE
    schema = infer_lines('{"v": 99999.99}', '{"v": 0.000001}')
    assert col_type(schema, "v") == "DOUBLE"


# --- A4: VARCHAR boundaries ----------------------------------------------

def test_strings():
    schema = infer_lines(
        '{"empty": "", "short": "ab", "uni": "Jožica"}',
        '{"grow": "a"}',
        '{"grow": "abcde"}',
    )
    assert col_type(schema, "empty") == "STRING"  # 0 not > 0 (Schemer.scala:73)
    assert col_type(schema, "short") == "VARCHAR(2)"
    assert col_type(schema, "uni") == "VARCHAR(6)"
    assert col_type(schema, "grow") == "VARCHAR(5)"


def test_huge_string_is_string():
    schema = infer_lines('{"huge": "%s"}' % ("x" * 70000))
    assert col_type(schema, "huge") == "STRING"


def test_varchar_bound_is_65535():
    # deviation: reference typo 65356 (Schemer.scala:73); we use Hive's 65535
    assert render_type(Str(65535)) == "VARCHAR(65535)"
    assert render_type(Str(65536)) == "STRING"


# --- A5: structural rules -------------------------------------------------

def test_struct_key_union_first_seen_order():
    schema = infer_lines('{"s": {"a": 1}}', '{"s": {"b": true}}')
    s = schema.fields["s"]
    assert list(s.fields) == ["a", "b"]
    assert col_type(s, "a") == "TINYINT"
    assert col_type(s, "b") == "BOOLEAN"


def test_sparse_field_keeps_type():
    schema = infer_lines('{"x": 1}', '{"y": "ab"}', '{"x": 2}')
    assert col_type(schema, "x") == "TINYINT"
    assert col_type(schema, "y") == "VARCHAR(2)"


def test_null_absorbs():
    schema = infer_lines('{"x": null}', '{"x": 7}', '{"x": null}')
    assert col_type(schema, "x") == "TINYINT"


def test_all_null_is_unknown():
    schema = infer_lines('{"x": null}')
    assert col_type(schema, "x") == "???"


def test_heterogeneous_numeric_array():
    # README.md:75 — [1, 12.345] → ARRAY<FLOAT>
    schema = infer_lines('{"a": [1, 12.345]}')
    assert render_type(schema.fields["a"]) == "ARRAY<\n\tFLOAT\n>"


def test_empty_array_unknown_element():
    schema = infer_lines('{"cars": []}')
    assert render_type(schema.fields["cars"]) == "ARRAY<\n\t???\n>"


def test_nested_array_normalization():
    # [[1,2]] — reference leaves inner un-normalized when outer has one
    # element (Schemer.scala:33,89); we always normalize (SURVEY §1.4).
    schema = infer_lines('{"x": [[1, 2]]}')
    assert render_type(schema.fields["x"]) == "ARRAY<\n\tARRAY<\n\t\tTINYINT\n\t>\n>"


def test_deep_nesting():
    schema = infer_lines('{"a": [{"b": {"c": [1]}}]}')
    a = schema.fields["a"]
    assert isinstance(a, Arr) and isinstance(a.element, Struct)
    assert isinstance(a.element.fields["b"].fields["c"], Arr)


# --- A6: error fixtures ---------------------------------------------------

def test_row_mismatch_with_line():
    with pytest.raises(RowMismatch) as ei:
        infer_lines('{"names": ["Rok", "Manca"]}', '{"names": {"first": "Rok"}}')
    assert ei.value.line == 2
    msg = str(ei.value)
    assert "On the line 2" in msg
    assert "VARCHAR(5)" in msg  # the running array-of-string schema


def test_kind_conflict():
    with pytest.raises(RowMismatch) as ei:
        infer_lines('{"v": 1}', '{"v": "x"}')
    assert ei.value.line == 2


def test_inconsistent_array():
    with pytest.raises(InconsistentArray) as ei:
        infer_lines('{"a": ["a", {"b": 1}]}')
    assert ei.value.line == 1
    assert "incompatible datatypes" in str(ei.value)


def test_errors_survive_pickling():
    # the executor → driver crossing: type, line, row and message all survive
    errors = [
        RowMismatch(Str(3), Num(1, 1, 0)),
        InconsistentArray([1, "a"]),
        BadJson("{oops", "Expecting value"),
    ]
    for e in errors:
        e.raw = {"v": [1, "a"]}
        e.with_line(7)
        back = pickle.loads(pickle.dumps(e))
        assert type(back) is type(e)
        assert (back.line, back.raw) == (7, {"v": [1, "a"]})
        assert str(back) == str(e)
        assert str(back).startswith("On the line 7 ")


def test_top_is_string_and_survives_pickling():
    """``TOP`` renders STRING and maps to StringType in both bridge modes;
    a pickled ``TOP`` (a partial from an executor is a new instance) is
    equal to it, absorbs under either merge, and every value fits it."""
    from hive_serde_schema_gen_spark.schema_infer import TOP

    back = pickle.loads(pickle.dumps(Struct({"v": TOP}))).fields["v"]
    assert back is not TOP and back == TOP and hash(back) == hash(TOP)
    for top in (TOP, back):
        assert render_type(top) == "STRING"
        assert to_spark_type(top) == to_spark_type(top, for_read=True) == T.StringType()
        for d in (UNKNOWN, Num(1, 1, 0), Str(3), describe({"a": [1]})):
            assert merge(top, d) == merge(d, top) == merge(d, top, permissive=True) == TOP
        for v in (None, 1, "x", True, [1, "x"], {"c": [{}]}):
            assert observe(top, v) is top


def test_non_object_row():
    with pytest.raises(RowMismatch) as ei:
        infer_lines("42")
    assert ei.value.line == 1


def test_bad_json_line():
    from hive_serde_schema_gen_spark.schema_infer import BadJson

    with pytest.raises(BadJson) as ei:
        infer_lines('{"ok": 1}', "{not json")
    assert ei.value.line == 2


def test_bool_number_conflict():
    with pytest.raises(RowMismatch):
        infer_lines('{"v": true}', '{"v": 1}')


# --- merge laws -----------------------------------------------------------

def test_merge_associative_commutative_types():
    a = describe({"x": 1, "s": "ab"})
    b = describe({"x": Decimal("2.5"), "t": True})
    c = describe({"s": "abcd", "u": [1]})
    left = merge(merge(a, b), c)
    right = merge(a, merge(b, c))
    assert left == right
    # commutative up to field order: same field→type mapping
    ab, ba = merge(a, b), merge(b, a)
    assert dict(ab.fields) == dict(ba.fields)


def test_merge_identity():
    a = describe({"x": 1})
    assert merge(UNKNOWN, a) == a
    assert merge(a, UNKNOWN) == a
    assert merge(EMPTY_STRUCT, a) == a
