"""MAP inference (opt-in structs_to_maps): nested structs whose key set
is data (per-user dicts, counters) become MAP<STRING, T> when the keys
are numerous and the value types unify — and NOTHING else changes (the
reference has no MAP type, so the default path must stay byte-identical;
heterogeneous or all-unknown structs keep their struct shape)."""

from __future__ import annotations

import json

import pytest

from hive_serde_schema_gen_spark.schema_infer.lattice import (
    Arr,
    MapOf,
    Num,
    Str,
    Struct,
    Unknown,
    describe,
    merge,
    structs_to_maps,
)
from hive_serde_schema_gen_spark.schema_infer.render import render_type


def _infer(*rows):
    sch = Struct()
    for r in rows:
        sch = merge(sch, describe(r))
    return sch


def test_wide_uniform_struct_becomes_map():
    counts = {f"user{i}": i for i in range(12)}
    sch = _infer({"counts": counts})
    out = structs_to_maps(sch, threshold=10)
    assert isinstance(out, Struct)  # the TOP level is never rewritten
    assert isinstance(out.fields["counts"], MapOf)
    assert isinstance(out.fields["counts"].value, Num)
    # rendered Hive type
    assert "MAP<STRING," in render_type(out.fields["counts"])


def test_below_threshold_stays_struct():
    counts = {f"u{i}": i for i in range(5)}
    out = structs_to_maps(_infer({"counts": counts}), threshold=10)
    assert isinstance(out.fields["counts"], Struct)


def test_heterogeneous_values_stay_struct():
    mixed = {f"k{i}": (i if i % 2 else f"s{i}") for i in range(12)}
    out = structs_to_maps(_infer({"m": mixed}), threshold=10)
    assert isinstance(out.fields["m"], Struct)  # no silent coercion


def test_all_unknown_stays_struct():
    nulls = {f"k{i}": None for i in range(12)}
    out = structs_to_maps(_infer({"m": nulls}), threshold=10)
    assert isinstance(out.fields["m"], Struct)


def test_struct_valued_map_unifies_key_union():
    subs = {
        f"u{i}": ({"a": i} if i % 2 else {"b": float(i)}) for i in range(12)
    }
    out = structs_to_maps(_infer({"m": subs}), threshold=10)
    m = out.fields["m"]
    assert isinstance(m, MapOf) and isinstance(m.value, Struct)
    assert set(m.value.fields) == {"a", "b"}  # key-unioned value struct


def test_nested_dict_of_dicts_collapses_bottom_up():
    inner = {f"d{i}": {f"k{j}": j for j in range(12)} for i in range(12)}
    out = structs_to_maps(_infer({"m": inner}), threshold=10)
    m = out.fields["m"]
    assert isinstance(m, MapOf)
    assert isinstance(m.value, MapOf)  # inner dicts unified, then mapped
    assert isinstance(m.value.value, Num)


def test_map_inside_array():
    rows = [{"xs": [{f"k{i}": i for i in range(12)}]}]
    out = structs_to_maps(_infer(*rows), threshold=10)
    xs = out.fields["xs"]
    assert isinstance(xs, Arr) and isinstance(xs.element, MapOf)


def test_top_level_never_rewritten_even_if_wide():
    row = {f"col{i}": i for i in range(50)}
    out = structs_to_maps(_infer(row), threshold=10)
    assert isinstance(out, Struct) and len(out.fields) == 50


def test_spark_schema_maps():
    from pyspark.sql import types as T

    from hive_serde_schema_gen_spark.schema_infer.spark_schema import (
        to_spark_schema,
    )

    sch = structs_to_maps(
        _infer({"counts": {f"u{i}": i for i in range(12)}}), threshold=10
    )
    st = to_spark_schema(sch)
    assert isinstance(st["counts"].dataType, T.MapType)
    assert isinstance(st["counts"].dataType.keyType, T.StringType)


def test_cli_flag_end_to_end(tmp_path, capsys):
    from hive_serde_schema_gen_spark.cli import main

    p = tmp_path / "wide.json"
    rows = [{"id": i, "counts": {f"user{j}": j for j in range(15)}} for i in range(3)]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    assert main([str(p), "t", "--infer-maps", "10"]) == 0
    out = capsys.readouterr().out
    assert "MAP<STRING," in out
    # default path unchanged: no MAP without the flag
    assert main([str(p), "t"]) == 0
    out2 = capsys.readouterr().out
    assert "MAP<" not in out2 and "STRUCT<" in out2


def test_evolve_widens_map_value_type(tmp_path, capsys):
    from hive_serde_schema_gen_spark.cli import main

    old_p, new_p = tmp_path / "old.json", tmp_path / "new.json"
    old_p.write_text(json.dumps({"counts": {f"u{j}": j for j in range(15)}}))
    new_p.write_text(
        json.dumps({"counts": {f"u{j}": j * 100 for j in range(15)}})
    )
    assert main([str(new_p), "t", "--infer-maps", "10",
                 "--evolve-from", str(old_p)]) == 0
    out = capsys.readouterr().out
    assert "CHANGE COLUMN" in out and "SMALLINT" in out
    assert "INCOMPATIBLE" not in out


def _permissive_maps(*rows):
    from hive_serde_schema_gen_spark.schema_infer import infer_ndjson_strings

    lines = [json.dumps(r) for r in rows]
    schema = infer_ndjson_strings(lines, mode="PERMISSIVE").schema
    return render_type(structs_to_maps(schema, 2).fields["o"]).split()


def test_top_does_not_absorb_a_known_kind_into_a_map():
    """Under PERMISSIVE a field whose rows disagree on kind is TOP; it must
    not pull a sibling of another known kind into MAP<STRING, STRING>."""
    assert _permissive_maps({"o": {"a": 1, "b": 2}}, {"o": {"a": 1, "b": "x"}}) == [
        "STRUCT<", "a:", "TINYINT,", "b:", "STRING", ">"]
    # nested: o.a.x is TOP, o.b.x TINYINT
    assert _permissive_maps({"o": {"a": {"x": 1}, "b": {"x": 2}}},
                            {"o": {"a": {"x": "q"}, "b": {"x": 3}}})[0] == "STRUCT<"
    # every field TOP: a map of strings, as before
    assert _permissive_maps({"o": {"a": 1, "b": 2}}, {"o": {"a": "y", "b": "x"}}) == [
        "MAP<STRING,", "STRING", ">"]
    # UNKNOWN still absorbs: TOP and an all-null field map to strings
    assert _permissive_maps({"o": {"a": 1, "b": None}}, {"o": {"a": "y", "b": None}}) == [
        "MAP<STRING,", "STRING", ">"]
    # FAILFAST never yields TOP: a struct of one kind maps as before
    assert render_type(structs_to_maps(_infer({"o": {"a": 1, "b": 300}}), 2).fields["o"]).split() == [
        "MAP<STRING,", "SMALLINT", ">"]


def test_cli_permissive_conflict_keeps_the_struct(tmp_path, capsys):
    from hive_serde_schema_gen_spark.cli import main

    p = tmp_path / "o.json"
    p.write_text('{"o":{"a":1,"b":2}}\n{"o":{"a":1,"b":"x"}}\n')
    assert main([str(p), "t", "--mode", "PERMISSIVE", "--infer-maps", "2"]) == 0
    out = capsys.readouterr().out
    assert "\to STRUCT<\n\t\ta: TINYINT,\n\t\tb: STRING\n\t>" in out
    assert "MAP<" not in out


def test_merge_map_with_nonmap_still_mismatch():
    from hive_serde_schema_gen_spark.schema_infer.errors import RowMismatch

    m = MapOf(Num(0, 1, 0))
    with pytest.raises(RowMismatch):
        merge(m, Str(3))


def test_schemagen_class_infer_maps_parity(tmp_path, spark):
    from hive_serde_schema_gen_spark.schema_infer.api import SchemaGen

    p = tmp_path / "wide.json"
    p.write_text(json.dumps({"counts": {f"u{j}": j for j in range(15)}}))
    g = SchemaGen(str(p), spark=spark, infer_maps=10)
    assert "MAP<STRING," in g.definition()
    from pyspark.sql import types as T

    assert isinstance(g.spark_schema()["counts"].dataType, T.MapType)
