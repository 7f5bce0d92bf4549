"""End-to-end distributed inference: the golden users.json example
(``/root/reference/example/users.json`` → ``README.md:25-48``), byte-exact
modulo the two documented deviations (deterministic first-seen column order;
commas inside STRUCT per the README golden rather than the comma-less
``Schemer.scala:92-95``)."""

import os
import re
import time

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
    # v's rows disagree on kind, so v joins to STRING; only bad JSON is skipped
    assert render_definition(result.schema) == "v STRING"
    assert sorted(e.line for e in result.errors) == [2]


def test_to_spark_schema_roundtrip(spark):
    """Inferred schema loads the same file via Spark's typed JSON reader."""
    result = infer_path(spark, USERS)
    schema = to_spark_schema(result.schema, for_read=True)
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


def _ordered_column(spark, rows, parts):
    """``rows`` as a string column in ``parts`` partitions, in order
    (``repartition`` would reorder them)."""
    rdd = spark.sparkContext.parallelize([(r,) for r in rows], parts)
    return spark.createDataFrame(rdd, "props string")


def _unnumbered(e):
    """``e``'s type and text, its line number read as a column's ``?``."""
    return type(e).__name__, re.sub(r"^On the line \d+ ", "On the line ? ", str(e))


@pytest.mark.parametrize("row_2", ['{"v":"x"}', "[1,2]"])
def test_infer_json_column_error_does_not_depend_on_the_split(spark, row_2):
    """A strict column error names the row and the schema the in-order fold
    meets, at any partition count: the one-process fold's text, with the
    line read as ``?``."""
    rows = ['{"v":1}', row_2, '{"v":2}', '{"v":3}']
    with pytest.raises(RowMismatch) as want:
        infer_ndjson_strings(rows)
    assert want.value.line == 2
    for parts in (1, 2, 4):
        with pytest.raises(RowMismatch) as got:
            infer_json_column(_ordered_column(spark, rows, parts), "props")
        assert got.value.line is None
        assert _unnumbered(got.value) == _unnumbered(want.value), parts
    assert "this JSON:\n(unknown)" not in str(got.value)
    assert str(got.value).endswith("this signature:\n" + (
        "TINYINT" if row_2 == '{"v":"x"}' else "STRUCT<\n\tv: TINYINT\n>"))


def test_infer_json_column_failfast_refolds_only_a_conflicting_partition(spark):
    """Eight rows in four ordered partitions of two.  A partition that
    stopped at its own error is re-derived on the driver: the fold is the
    only job.  A partition whose partial conflicts with the partitions
    before it as a whole is re-folded, seeded, in one more job."""
    clean = ['{"v":%d}' % i for i in range(1, 9)]
    # the last partition holds {"v":7} then {"v":"x"}: a local error
    local = clean[:7] + ['{"v":"x"}']
    # the last partition holds {"w":7} then {"v":"x"}: its partial
    # {w, v: STRING} conflicts with v's TINYINT as a whole
    whole = clean[:6] + ['{"w":7}', '{"v":"x"}']
    sc = spark.sparkContext
    for name, rows, jobs in (("clean", clean, 1), ("local", local, 1), ("whole", whole, 2)):
        df = _ordered_column(spark, rows, 4)
        group = f"column-{name}"
        sc.setJobGroup(group, group)
        try:
            if name == "clean":
                assert render_definition(infer_json_column(df, "props")) == "v TINYINT"
            else:
                with pytest.raises(RowMismatch) as got:
                    infer_json_column(df, "props")
                with pytest.raises(RowMismatch) as want:
                    infer_ndjson_strings(rows)
                assert _unnumbered(got.value) == _unnumbered(want.value), name
        finally:
            sc.setJobGroup(None, None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs, name


def test_infer_json_column_permissive_cross_partition_conflict(spark):
    """Kind conflicts split across partitions join to STRING in permissive
    mode instead of raising at the driver merge — regression for the
    cross-partition RowMismatch found in verification."""
    df = spark.createDataFrame(
        [('{"a":1}',), ("{broken",), ('{"a":"xyz"}',)], ["props"]
    ).repartition(3)
    desc = infer_json_column(df, "props", permissive=True)
    assert render_definition(desc) == "a STRING"


def test_infer_json_column_permissive_is_order_and_split_free(spark):
    """A shuffled column whose cells conflict at the top level, inside
    structs and inside arrays gives one PERMISSIVE descriptor at 1, 3, 4
    and 8 partitions, equal to the fold of the cells in their written
    order."""
    import random

    from hive_serde_schema_gen_spark.schema_infer import EMPTY_STRUCT
    from hive_serde_schema_gen_spark.schema_infer.infer import _fold

    cells = [
        '{"id": %d, "v": %s, "o": {"c": %s}, "xs": [%s]}'
        % (i, [str(i), '"s%d"' % i, "true", "[%d]" % i][i % 4],
           [str(i), '"c"'][i % 3 == 0], [str(i), '"x"', "null"][i % 5 % 3])
        for i in range(200)
    ] + ["{broken", "[1, 2]", "null"]
    want, _n, _errors, _err = _fold(cells, EMPTY_STRUCT, True)
    assert render_definition(want) == (
        "id SMALLINT,\nv STRING,\no STRUCT<\n\tc: STRING\n>,\nxs ARRAY<\n\tSTRING\n>"
    )
    random.Random(7).shuffle(cells)
    df = spark.createDataFrame([(c,) for c in cells], ["props"])
    for parts in (1, 3, 4, 8):
        got = infer_json_column(df.repartition(parts), "props", permissive=True)
        assert got == want, parts


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
    assert render_definition(desc) == "a STRING"


def _outcomes(spark, path, parts):
    """FAILFAST's DDL or (error type, line, message); PERMISSIVE's DDL and
    errors."""
    try:
        failfast = render_definition(infer_path(spark, path, min_partitions=parts).schema)
    except SchemaGenError as e:
        failfast = (type(e).__name__, e.line, str(e))
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


def _numbered(template: str, planted: dict) -> list:
    """Lines 1-40 of ``template % (i, i)``, with ``planted`` lines (by
    line number) in their place."""
    return [planted.get(i, template % (i, i)) for i in range(1, 41)]


def test_infer_path_partition_matrix(spark, tmp_path):
    """The split never shows: 1, 2, 3, 4 and 8 partitions give the same
    FAILFAST DDL or error (type, line and message) and the same PERMISSIVE
    schema and error lines as the one-partition fold."""
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
    # an early partition widens the field past what the failing partition
    # saw, so the error names the file's schema, not the partition's
    widened_age = _numbered('{"id": %d, "age": %d}',
                            {2: '{"id": 2, "age": 300}', 35: '{"id": 35, "age": "x"}'})
    widened_tags = _numbered('{"id": %d, "tags": [%d]}',
                             {2: '{"id": 2, "tags": [1000]}', 36: '{"id": 36, "tags": ["x"]}'})
    first_conflict = _numbered('{"id": %d, "v": %d}', {3: '{"id": 3, "v": "x"}'})
    late_bad = _numbered('{"id": %d, "v": %d}', {38: '{"id": 38, "v": '})
    non_object = _numbered('{"id": %d, "v": %d}', {19: "[1, 2]"})
    clean = render_definition(
        infer_ndjson_strings(non_object[:18] + non_object[19:]).schema
    )
    # PERMISSIVE skips only rows that are bad on their own (bad JSON, a row
    # that is not an object); a kind conflict joins the field to STRING
    cases = [
        ("growing", growing,
         render_definition(infer_ndjson_strings(growing).schema), [], None),
        ("array_conflict", array_conflict,
         ("InconsistentArray", 23), [], None),
        ("conflict_then_bad", conflict_then_bad,
         ("RowMismatch", 12), [30], None),
        ("drift", drift, ("RowMismatch", 7), [], None),
        ("widened_age", widened_age, ("RowMismatch", 35), [],
         "into the schema with this signature:\nSMALLINT"),
        # raised merging the row's array into the schema's element
        ("widened_tags", widened_tags, ("InconsistentArray", 36), [],
         "Num(lo=1, hi=1000, max_scale=0)"),
        ("first_conflict", first_conflict, ("RowMismatch", 3), [], None),
        ("late_bad", late_bad, ("BadJson", 38), [38], None),
        ("non_object", non_object, ("RowMismatch", 19), [19], None),
    ]
    for name, lines, failfast, error_lines, says in cases:
        path = tmp_path / f"{name}.json"
        path.write_text("\n".join(lines) + "\n")
        want = _outcomes(spark, str(path), 1)
        assert (want[0] if isinstance(want[0], str) else want[0][:2]) == failfast, name
        assert says is None or says in want[0][2], name
        assert [line for line, _ in want[2]] == error_lines, name
        assert name != "non_object" or want[1] == clean
        for parts in (2, 3, 4, 8):
            assert _outcomes(spark, str(path), parts) == want, (name, parts)


@pytest.mark.parametrize("parts", [4, 8])
def test_infer_path_failfast_local_error_runs_one_job(spark, tmp_path, parts):
    """A FAILFAST partition that stopped at a local error, and that
    otherwise merges with the partitions before it, has its error re-derived
    on the driver: the scan is the only job.  A partition that conflicts
    with the partitions before it as a whole is still re-folded in a second
    job, to find its first conflicting line."""
    local = _numbered('{"id": %d, "v": %d}', {38: '{"id": 38, "v": "x"}'})
    # v is absent from lines 11-37, so the partition holding line 38 sees
    # only its string: that partial conflicts with the schema before it
    late = [line if i <= 10 or i == 38 else '{"id": %d}' % i
            for i, line in enumerate(local, 1)]
    sc = spark.sparkContext
    for name, lines, jobs in (("local", local, 1), ("late", late, 2)):
        path = tmp_path / f"{name}.json"
        path.write_text("\n".join(lines) + "\n")
        group = f"failfast-{name}-{parts}"
        sc.setJobGroup(group, group)
        try:
            with pytest.raises(RowMismatch) as ei:
                infer_path(spark, str(path), min_partitions=parts)
        finally:
            sc.setJobGroup(None, None)
        assert ei.value.line == 38, name
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs, name


def test_infer_path_failfast_keeps_python_workers(spark, tmp_path):
    """A FAILFAST task that stops at its partition's error still reads the
    rest of the partition, so PySpark reuses its Python worker: four calls
    that raise leave no more distinct workers behind than four clean
    calls.  After each call a task per core reports its worker's pid."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism

    def pid(_):
        time.sleep(0.2)  # hold the worker, so each task takes its own
        return os.getpid()

    def workers(name, planted):
        path = tmp_path / f"{name}.json"
        path.write_text("\n".join(_numbered('{"id": %d, "v": %d}', planted)) + "\n")
        pids, lines = set(), []
        for _ in range(4):
            try:
                infer_path(spark, str(path), min_partitions=4)
            except RowMismatch as e:
                lines.append(e.line)
            pids |= set(sc.parallelize(range(cores), cores).map(pid).collect())
        return pids, lines

    clean, no_errors = workers("clean", {})
    # the error is local to the last of the 4 partitions, 4 lines from its end
    failing, errors = workers("local", {36: '{"id": 36, "v": "x"}'})
    assert (no_errors, errors) == ([], [36] * 4)
    assert len(failing) <= len(clean)


def test_infer_path_permissive_drift_refolds_in_few_jobs(spark, tmp_path):
    """A field that changes kind partway through a file conflicts in every
    later partition; PERMISSIVE joins it to STRING and re-folds nothing:
    the scan is the only job."""
    path = tmp_path / "drift.json"
    path.write_text("\n".join(_drift_line(i) for i in range(1, 41)) + "\n")
    sc = spark.sparkContext
    sc.setJobGroup("drift", "drift")
    try:
        result = infer_path(spark, str(path), mode="PERMISSIVE", min_partitions=8)
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("drift")) == 1
    assert render_definition(result.schema) == "id TINYINT,\nv STRING,\nw STRING"
    assert result.errors == []


def test_bom_matches_infer_path(spark, tmp_path):
    """``infer_ndjson_strings`` reads a BOM as ``infer_path`` does:
    ``sc.textFile`` drops a BOM that starts the file, and a BOM that starts
    a later line stays, so that line is bad JSON on both paths."""
    for name, lines in (("first", ['\ufeff{"a": 1}', '{"a": 2}']),
                        ("second", ['{"a": 1}', '\ufeff{"a": 2}'])):
        path = tmp_path / f"bom_{name}.json"
        path.write_text("\n".join(lines) + "\n", encoding="utf-8")
        got = []
        for infer in (lambda: infer_path(spark, str(path)),
                      lambda: infer_ndjson_strings(lines)):
            try:
                r = infer()
                got.append((render_definition(r.schema), r.lines))
            except SchemaGenError as e:
                got.append((type(e).__name__, e.line, str(e)))
        assert got[0] == got[1], name
        if name == "first":
            assert got[0] == ("a TINYINT", 2)
        else:
            assert got[0][:2] == ("BadJson", 2)
            assert "Unexpected UTF-8 BOM" in got[0][2]


def test_permissive_top_reads_back_as_text(spark, tmp_path):
    """A field whose rows disagree on kind is ``TOP``; its read schema is
    StringType, and Spark's JSON reader gives every row's value as text."""
    path = tmp_path / "top.json"
    path.write_text('{"v":1}\n{"v":"x"}\n{"v":{"c":1}}\n{"v":[1]}\n')
    result = infer_path(spark, str(path), mode="PERMISSIVE")
    assert render_definition(result.schema) == "v STRING"
    assert result.errors == []
    schema = to_spark_schema(result.schema, for_read=True)
    assert schema.simpleString() == "struct<v:string>"
    rows = spark.read.schema(schema).json(str(path)).collect()
    assert [r["v"] for r in rows] == ["1", "x", '{"c":1}', "[1]"]
