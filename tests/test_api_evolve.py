"""Reference-parity programmatic API (SchemaGen ≡ Schemer) and schema
evolution diff/ALTER generation."""

import os

from hive_serde_schema_gen_spark.schema_infer import (
    SchemaGen,
    alter_statements,
    diff,
    infer_ndjson_strings,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
USERS = os.path.join(FIXTURES, "users.json")


def test_schemagen_parity_surface(spark):
    sg = SchemaGen(USERS, spark=spark)
    assert sg.lines == 3
    assert sg.definition().startswith("id TINYINT")
    assert "CREATE TABLE users (" in sg.table("users")
    assert str(sg) == sg.table("data")  # Schemer.toString parity
    df = sg.dataframe()
    assert df.count() == 3
    assert sg.spark_schema()["name"].dataType.simpleString() == "varchar(6)"


def _schema(*lines):
    return infer_ndjson_strings(iter(lines)).schema


def test_diff_and_alter():
    old = _schema('{"a": 1, "b": "xy", "gone": true}')
    new = _schema('{"a": 1000, "b": "xy", "c": 0.5}')
    by_col = {c.column: c for c in diff(old, new)}
    assert by_col["a"].kind == "widened" and by_col["a"].new == "SMALLINT"
    assert by_col["b"].kind == "unchanged"
    assert by_col["gone"].kind == "removed"
    assert by_col["c"].kind == "added"
    stmts = alter_statements("t", old, new)
    assert "ALTER TABLE t CHANGE COLUMN a a SMALLINT;" in stmts
    assert "ALTER TABLE t ADD COLUMNS (c FLOAT);" in stmts
    assert any(s.startswith("-- column gone") for s in stmts)


def test_diff_incompatible_kind_change():
    old = _schema('{"v": 1}')
    new = _schema('{"v": "now a string"}')
    (change,) = [c for c in diff(old, new) if c.column == "v"]
    assert change.kind == "incompatible"
    stmts = alter_statements("t", old, new)
    assert any("INCOMPATIBLE: v" in s for s in stmts)


def test_diff_widened_nested_varchar():
    old = _schema('{"s": {"x": "ab"}}')
    new = _schema('{"s": {"x": "abcdef"}}')
    (change,) = [c for c in diff(old, new) if c.column == "s"]
    assert change.kind == "widened"
    assert "VARCHAR(6)" in change.new


def test_diff_top_widens_to_string():
    """A column that became ``TOP`` under a PERMISSIVE join widens to
    STRING; a ``TOP`` column whose new data is one kind again is narrowed
    (no ALTER needed)."""
    from hive_serde_schema_gen_spark.schema_infer import describe, merge

    typed = _schema('{"v": 1}')
    top = merge(typed, describe({"v": "x"}), permissive=True)
    (change,) = diff(typed, top)
    assert (change.kind, change.old, change.new) == ("widened", "TINYINT", "STRING")
    assert alter_statements("t", typed, top) == ["ALTER TABLE t CHANGE COLUMN v v STRING;"]
    (change,) = diff(top, typed)
    assert (change.kind, change.old, change.new) == ("narrowed", "STRING", "TINYINT")
    assert alter_statements("t", top, typed) == []
