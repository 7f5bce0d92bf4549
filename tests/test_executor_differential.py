"""One input, every executor, one result.

The reference is one left fold over the lines (``Schemer.scala:11-14``),
so however the input is split, the result must be that fold's.  Generated
rows (kind conflicts, bad JSON, rows that are not objects, nested arrays of
structs, nulls, repeated rows and BOMs) go through the one-process fold
``infer_ndjson_strings`` and through each executor that splits them:

- ``infer_local_file`` at 1 byte range and at 3 (the CLI's path);
- ``infer_path`` at 1 and 3 partitions;
- ``infer_json_column`` at 1, 2 and 4 ordered partitions.

The file executors must give the same schema ``repr``, line count and
errors (type, line and message).  A column has no line numbers, so there
the schema ``repr`` and the error's type and message, its line read as
``?``, must agree.  A BOM is drawn only after line 1: a file reader drops a
BOM that starts the file, as ``textFile`` does, but a column cell has no
file start.
"""

import itertools
import os
import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from hive_serde_schema_gen_spark.schema_infer import (
    SchemaGenError,
    infer_json_column,
    infer_ndjson_strings,
    infer_path,
)
from hive_serde_schema_gen_spark.schema_infer import infer as infer_mod

LEAF = st.sampled_from(
    ["null", "true", "0", "-300", "70000", "2.50", "1e3", '"x"', '"abcdef"',
     '"2024-01-02"', "[]", "{}"]
)
VALUE = st.recursive(
    LEAF,
    lambda sub: st.lists(sub, max_size=3).map(lambda xs: "[" + ", ".join(xs) + "]")
    | st.dictionaries(st.sampled_from("ab"), sub, max_size=2).map(
        lambda d: "{" + ", ".join(f'"{k}": {v}' for k, v in d.items()) + "}"),
    max_leaves=6,
)
ROW = st.dictionaries(st.sampled_from("abc"), VALUE, max_size=3).map(
    lambda d: "{" + ", ".join(f'"{k}": {v}' for k, v in d.items()) + "}")
# rows bad on their own: not JSON, or not an object
LONE = st.sampled_from(["{broken", '{"a": ', "", "NaN", "[1, 2]", "5", '"x"', '[{"a": 1}]'])
LINE = st.one_of(ROW, ROW, ROW, LONE, ROW.map(lambda r: "\ufeff" + r))


@st.composite
def lines(draw):
    """Rows drawn from a small pool, so cells repeat (a column folds each
    distinct cell once per task); line 1 never starts with a BOM."""
    pool = draw(st.lists(LINE, min_size=1, max_size=6))
    rows = draw(st.lists(st.sampled_from(pool), max_size=12))
    if rows:
        rows[0] = rows[0].removeprefix("\ufeff")
    return rows


_names = itertools.count()


@pytest.fixture(scope="module")
def rows_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("differential")


def _write(directory, rows):
    path = os.path.join(directory, f"rows{next(_names)}.json")
    with open(path, "w", encoding="utf-8") as f:
        f.write("".join(r + "\n" for r in rows))
    return path


def _outcome(infer):
    """A result's schema ``repr``, line count and errors, or the error's
    type, line and message."""
    try:
        r = infer()
    except SchemaGenError as e:
        return ("error", type(e).__name__, e.line, str(e))
    return ("ok", repr(r.schema), r.lines, [(e.line, e.message) for e in r.errors])


def _unnumbered(outcome):
    """What a column can say of an outcome: the schema, or the error's type
    and message with its line read as ``?``."""
    if outcome[0] == "ok":
        return outcome[:2]
    return "error", outcome[1], re.sub(r"^On the line \S+ ", "On the line ? ", outcome[3])


def _local(path, k, mode):
    """``infer_local_file``'s fold of ``path`` in ``k`` byte ranges."""
    if k == 1:
        return lambda: infer_mod.infer_local_file(path, mode)
    with open(path, "rb") as f:
        cuts = infer_mod._cuts(f, os.path.getsize(path), k)
    return lambda: infer_mod._fold_ranges(path, cuts, mode == "PERMISSIVE", False)


def _file_outcomes(path, rows, mode):
    """The one-process fold's outcome, after checking that the local
    executor gives it at 1 and 3 byte ranges."""
    want = _outcome(lambda: infer_ndjson_strings(rows, mode=mode))
    for k in (1, 3):
        assert _outcome(_local(path, k, mode)) == want, ("local", k)
    return want


MODES = st.sampled_from(["FAILFAST", "PERMISSIVE"])


@settings(max_examples=200, deadline=None)
@given(lines(), MODES)
def test_local_executor_is_the_one_process_fold(rows_dir, rows, mode):
    path = _write(rows_dir, rows)
    _file_outcomes(path, rows, mode)


@settings(max_examples=25, deadline=None)
@given(lines(), MODES)
# a partition that conflicts as a whole (the seeded re-fold), and a BOM
@example(['{"a": 1}', '{"a": 2}', '{"b": 1}', '{"a": "x"}'], "FAILFAST")
@example(['{"a": [{"b": 1}]}', '\ufeff{"a": []}', '{"a": [{"b": "x"}]}', "[1, 2]"],
         "PERMISSIVE")
def test_every_executor_is_the_one_process_fold(spark, rows_dir, rows, mode):
    path = _write(rows_dir, rows)
    want = _file_outcomes(path, rows, mode)
    for parts in (1, 3):
        got = _outcome(lambda: infer_path(spark, path, mode=mode, min_partitions=parts))
        assert got == want, ("infer_path", parts)
    sc = spark.sparkContext
    for parts in (1, 2, 4):
        df = spark.createDataFrame(sc.parallelize([(r,) for r in rows], parts), "props string")
        try:
            got = ("ok", repr(infer_json_column(df, "props", permissive=mode == "PERMISSIVE")))
        except SchemaGenError as e:
            got = _unnumbered(("error", type(e).__name__, e.line, str(e)))
        assert got == _unnumbered(want), ("infer_json_column", parts)
