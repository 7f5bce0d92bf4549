"""End-to-end distributed inference: the golden users.json example
(``/root/reference/example/users.json`` → ``README.md:25-48``), byte-exact
modulo the two documented deviations (deterministic first-seen column order;
commas inside STRUCT per the README golden rather than the comma-less
``Schemer.scala:92-95``)."""

import os

import pytest

from hive_serde_schema_gen_spark.schema_infer import (
    BadJson,
    RowMismatch,
    SchemaGenError,
    infer_json_column,
    infer_ndjson_strings,
    infer_path,
    render_definition,
    to_spark_schema,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
USERS = os.path.join(FIXTURES, "users.json")


def test_golden_users_ddl(spark):
    result = infer_path(spark, USERS)
    assert result.lines == 3
    expected = open(os.path.join(FIXTURES, "users_expected.sql")).read().rstrip("\n")
    got = result.table("data", "tests/fixtures/users.json")
    assert got == expected


def test_golden_users_many_partitions(spark):
    """Partial/final merge must give the same schema regardless of split."""
    r1 = infer_path(spark, USERS)
    r3 = infer_path(spark, USERS, min_partitions=3)
    assert r1.schema == r3.schema


def test_error_line_numbers_distributed(spark, tmp_path):
    p = tmp_path / "bad.json"
    rows = ['{"v": %d}' % i for i in range(100)]
    rows[57] = '{"v": "oops"}'
    p.write_text("\n".join(rows) + "\n")
    with pytest.raises(RowMismatch) as ei:
        infer_path(spark, str(p), min_partitions=8)
    assert ei.value.line == 58  # 1-based


def test_permissive_skips_bad_rows(spark, tmp_path):
    p = tmp_path / "mixed.json"
    p.write_text('{"v": 1}\n{not json\n{"v": "x"}\n{"v": 300}\n')
    result = infer_path(spark, str(p), mode="PERMISSIVE")
    assert result.lines == 4
    assert render_definition(result.schema) == "v SMALLINT"
    assert sorted(e.line for e in result.errors) == [2, 3]


def test_to_spark_schema_roundtrip(spark):
    """Inferred schema loads the same file via Spark's typed JSON reader."""
    result = infer_path(spark, USERS)
    schema = to_spark_schema(
        result.schema, unknown_as_string=True, varchar_as_string=True
    )
    df = spark.read.schema(schema).json(USERS)
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["city"]["name"] == "Grosuplje"
    assert rows[3]["children"][1]["toy"] == "Ropotulica"
    assert rows[2]["employed"] is True
    assert df.schema["id"].dataType.typeName() == "byte"
    # the metadata-preserving form keeps VARCHAR tightness
    meta = to_spark_schema(result.schema)
    assert meta["name"].dataType.simpleString() == "varchar(6)"


def test_infer_json_column(spark):
    df = spark.createDataFrame(
        [('{"k": 1}',), ('{"k": 2.5, "s": "abc"}',), (None,)], ["props"]
    )
    desc = infer_json_column(df, "props")
    assert render_definition(desc) == "k FLOAT,\ns VARCHAR(3)"


@pytest.mark.parametrize("parts", [1, 3])
@pytest.mark.parametrize(
    "rows, error",
    [(['{"a": 1}', '{"a": "xyz"}', '{"a": 2}'], RowMismatch),
     (['{"a": 1}', "{broken", '{"a": 2}'], BadJson)],
)
def test_infer_json_column_strict_error_is_typed(spark, parts, rows, error):
    """A strict column error reaches the caller as its SchemaGenError
    subclass whether the rows share a task or not."""
    df = spark.createDataFrame([(r,) for r in rows], ["props"]).repartition(parts)
    with pytest.raises(error):
        infer_json_column(df, "props")


def test_infer_json_column_permissive_cross_partition_conflict(spark):
    """Kind conflicts split across partitions must degrade gracefully in
    permissive mode (first-seen kind wins) instead of raising at the driver
    merge — regression for the cross-partition RowMismatch found in
    verification."""
    df = spark.createDataFrame(
        [('{"a":1}',), ("{broken",), ('{"a":"xyz"}',)], ["props"]
    ).repartition(3)
    desc = infer_json_column(df, "props", permissive=True)
    assert render_definition(desc) == "a TINYINT"


def test_sampling_ratio(spark, tmp_path):
    p = tmp_path / "big.json"
    p.write_text("\n".join('{"v": %d}' % i for i in range(5000)) + "\n")
    result = infer_path(spark, str(p), sampling_ratio=0.2)
    assert 500 < result.lines < 2000
    assert render_definition(result.schema) == "v SMALLINT"


def test_infer_json_column_dedup_is_exact(spark):
    """The per-task seen-set (fold each distinct raw once) must be invisible
    in the result: duplicates interleaved with conflicting shapes, bad rows
    among the repeats, and repeats crossing batch/partition boundaries all
    infer exactly what the duplicate-free column infers."""
    rows = (
        [('{"k": 1}',)] * 500
        + [('{"k": 2.5, "s": "abc"}',)] * 300
        + [('{"k": 1}',)] * 200  # repeat AFTER a widening merge
        + [('{"n": [1, 2]}',)] * 50  # fast-path miss → replay, repeated
    )
    df = spark.createDataFrame(rows, ["props"]).repartition(4)
    dedup_free = spark.createDataFrame(
        [('{"k": 1}',), ('{"k": 2.5, "s": "abc"}',), ('{"n": [1, 2]}',)],
        ["props"],
    )
    got = render_definition(infer_json_column(df, "props"))
    want = render_definition(infer_json_column(dedup_free, "props"))
    assert got == want

    # permissive + repeated broken rows: bad rows skipped, repeats no-op
    dfp = spark.createDataFrame(
        [('{"a":1}',)] * 100 + [("{broken",)] * 100 + [('{"a":"xyz"}',)] * 100,
        ["props"],
    ).repartition(3)
    desc = infer_json_column(dfp, "props", permissive=True)
    assert render_definition(desc) == "a TINYINT"


def _outcomes(spark, path, parts):
    """FAILFAST's DDL or (error type, line); PERMISSIVE's DDL and errors."""
    try:
        failfast = render_definition(infer_path(spark, path, min_partitions=parts).schema)
    except SchemaGenError as e:
        failfast = (type(e).__name__, e.line)
    permissive = infer_path(spark, path, mode="PERMISSIVE", min_partitions=parts)
    errors = [(e.line, e.message) for e in permissive.errors]
    return failfast, render_definition(permissive.schema), errors


def _drift_line(i: int) -> str:
    """Line ``i`` of a file whose ``v`` turns from a number into a string
    at line 7, and which gains a field ``w`` at line 21 that turns into a
    string at line 31."""
    v = str(i) if i < 7 else '"s%d"' % i
    w = "" if i < 21 else ', "w": %s' % (i if i < 31 else '"w%d"' % i)
    return '{"id": %d, "v": %s%s}' % (i, v, w)


def test_infer_path_partition_matrix(spark, tmp_path):
    """The split never shows: 1, 2, 3, 4 and 8 partitions give the same
    FAILFAST DDL or error line and the same PERMISSIVE schema and error
    lines as the one-partition fold."""
    growing = [
        '{"id": %d, "ts": %d, "user": {"n": "%s"}, "s": [%d]}'
        % (i, 1_700_000_000_000 + i * 997, "x" * (i % 7), -i)
        for i in range(1, 41)
    ]
    array_conflict = [
        '{"id": %d, "items": [{"sku": "k%d", "qty": %d}]}' % (i, i, i)
        for i in range(1, 41)
    ]
    array_conflict[22] = '{"id": 23, "items": [{"sku": "k", "qty": "many"}, {"qty": 5}]}'
    array_conflict[29] = '{"id": 30, "items": [{"sku": "k30", "qty": 300}]}'
    conflict_then_bad = ['{"id": %d, "v": %d}' % (i, i) for i in range(1, 41)]
    conflict_then_bad[11] = '{"id": 12, "v": "x"}'
    conflict_then_bad[29] = "{broken"
    drift = [_drift_line(i) for i in range(1, 41)]
    cases = [
        ("growing", growing,
         render_definition(infer_ndjson_strings(growing).schema), []),
        ("array_conflict", array_conflict,
         ("InconsistentArray", 23), [23]),
        ("conflict_then_bad", conflict_then_bad,
         ("RowMismatch", 12), [12, 30]),
        # 34 conflicting rows: PERMISSIVE keeps the file's first 20
        ("drift", drift, ("RowMismatch", 7), list(range(7, 27))),
    ]
    for name, lines, failfast, error_lines in cases:
        path = tmp_path / f"{name}.json"
        path.write_text("\n".join(lines) + "\n")
        want = _outcomes(spark, str(path), 1)
        assert want[0] == failfast, name
        assert [line for line, _ in want[2]] == error_lines, name
        for parts in (2, 3, 4, 8):
            assert _outcomes(spark, str(path), parts) == want, (name, parts)


def test_infer_path_permissive_drift_refolds_in_few_jobs(spark, tmp_path):
    """A field that changes kind partway through a file conflicts in every
    later partition; PERMISSIVE re-folds them together, one job per change
    of the schema's kinds, not one job per partition."""
    path = tmp_path / "drift.json"
    path.write_text("\n".join(_drift_line(i) for i in range(1, 41)) + "\n")
    sc = spark.sparkContext
    sc.setJobGroup("drift", "drift")
    try:
        result = infer_path(spark, str(path), mode="PERMISSIVE", min_partitions=8)
    finally:
        sc.setJobGroup(None, None)
    # the scan, then one re-fold job for v's change and one after w appears
    assert len(sc.statusTracker().getJobIdsForGroup("drift")) <= 3
    assert render_definition(result.schema) == "id TINYINT,\nv TINYINT,\nw TINYINT"
