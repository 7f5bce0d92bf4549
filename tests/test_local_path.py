"""The CLI's JVM-free path for a small local file equals ``infer_path``.

The range reader (``infer._read_range``) must split a file exactly as
``sc.textFile`` does, and ``infer_ndjson_strings`` must fold those lines to
the schema, line count, PERMISSIVE error lines and FAILFAST message that
``infer_path`` gives for the same file.  The local fold over byte ranges
(``infer_local_file``: cuts moved to line starts, each range read and
folded by its own process, merged by ``infer_path``'s combine step) must
give the same at any range count, read only its own range in this
process, and leave no process behind.  The routing tests check that every
input the local path does not take reaches ``infer_path``; the routing is
``SchemaGen``'s, which ``cli.main`` builds and prints, and the tests need
no Spark.
"""

import json
import os
import random
import subprocess
import sys

import pytest

from hive_serde_schema_gen_spark import cli
from hive_serde_schema_gen_spark.schema_infer import (
    InferenceResult,
    SchemaGenError,
    infer_ndjson_strings,
    infer_path,
)
from hive_serde_schema_gen_spark.schema_infer import api
from hive_serde_schema_gen_spark.schema_infer import infer as infer_mod
from hive_serde_schema_gen_spark.schema_infer.lattice import EMPTY_STRUCT

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
USERS = os.path.join(ROOT, "tests", "fixtures", "users.json")

BOM = "\ufeff".encode()
ROWS = [b'{"a": 1, "s": "x"}', b'{"a": 300}', b'{"b": [1, 2]}']
CASES = {
    "crlf": b"\r\n".join(ROWS) + b"\r\n",
    "lone_cr": b"\r".join(ROWS) + b"\r",
    "mixed_breaks": ROWS[0] + b"\r\n" + ROWS[1] + b"\r" + ROWS[2] + b"\n",
    "blank_mid": ROWS[0] + b"\n\n" + ROWS[1] + b"\n",
    "blank_cr_cr": ROWS[0] + b"\r\r" + ROWS[1],
    "no_trailing_newline": b"\n".join(ROWS),
    "empty": b"",
    "only_newline": b"\n",
    "bom_line_1": BOM + b"\n".join(ROWS) + b"\n",
    "bom_line_2": ROWS[0] + b"\n" + BOM + ROWS[1] + b"\n",
    "bom_only": BOM,
    "bom_then_newline": BOM + b"\n" + ROWS[0],
    "two_boms": BOM + BOM + ROWS[0] + b"\n",
    # str.splitlines would cut each of these lines in two
    "separators_in_strings": "\n".join([
        '{"s": "a\u0085b"}', '{"s": "a\u2028b", "t": "\u2029"}',
        '{"s": "a\x0bb"}', '{"s": "a\x0cb"}', '{"s": "\x1c\x1d\x1e"}',
        '{"s": "ok"}\x0c', '{"s": "tail"}',
    ]).encode(),
    "many_errors": b"\n".join(
        b'{"v": %d}' % i if i % 3 else b"{bad" for i in range(75)
    ) + b"\n",
    "row_mismatch": b'{"v": 1}\n{"v": 2}\n{"v": "x"}\n{"v": 3}\n',
    "nested_mismatch": b'{"o": {"c": 1}}\n{"o": {"c": [1]}}\n',
    "inconsistent_array": b'{"v": [1]}\n{"v": [1, "x"]}\n',
    "bad_json": b'{"v": 1}\n{"v": }\n{"v": 2}\n',
    "non_object": b'{"v": 1}\n[1, 2]\n{"v": 2}\n',
}


def _outcome(infer):
    try:
        r = infer()
    except SchemaGenError as e:
        return ("error", type(e).__name__, e.line, str(e))
    return ("ok", repr(r.schema), r.lines, [(e.line, e.message) for e in r.errors])


def _whole(path):
    """The file's lines, read as one range."""
    lines = infer_mod._read_range(str(path), 0, os.path.getsize(path))
    assert lines is not None, f"{path} did not take the local path"
    return lines


def _local(path, mode):
    return infer_ndjson_strings(_whole(path), mode=mode)


@pytest.mark.parametrize("mode", ["FAILFAST", "PERMISSIVE"])
def test_local_path_equals_infer_path(spark, tmp_path, mode):
    for name, data in CASES.items():
        path = tmp_path / f"{name}.json"
        path.write_bytes(data)
        local = _outcome(lambda: _local(path, mode))
        for parts in (None, 3):
            remote = _outcome(lambda: infer_path(spark, str(path), mode=mode,
                                                 min_partitions=parts))
            assert local == remote, (name, parts)
    # the cases reach what they are here for
    assert _outcome(lambda: _local(tmp_path / "empty.json", mode)) == (
        "ok", repr(EMPTY_STRUCT), 0, [])
    many = _outcome(lambda: _local(tmp_path / "many_errors.json", mode))
    if mode == "PERMISSIVE":
        assert len(many[3]) == 20 and many[3][-1][0] == 58
    else:
        assert many[:3] == ("error", "BadJson", 1)
        for name, kind, line in (("row_mismatch", "RowMismatch", 3),
                                 ("inconsistent_array", "InconsistentArray", 2),
                                 ("bad_json", "BadJson", 2)):
            assert _outcome(lambda: _local(tmp_path / f"{name}.json", mode))[:3] == (
                "error", kind, line)


def _seeded_file(rng: random.Random) -> bytes:
    breaks = [b"\n", b"\r", b"\r\n"]
    text = ["plain", "a\u2028b", "c\u0085d", "e\u2029f", "\x1cg", "h\x1e"]
    out = []
    for i in range(rng.randint(5, 40)):
        row = {"i": i, "s": rng.choice(text)}
        if rng.random() < 0.3:
            row["n"] = rng.choice([1, -70000, 2.50, None, True])
        out.append(json.dumps(row, ensure_ascii=False).encode() + rng.choice(breaks))
    if rng.random() < 0.5:
        out[-1] = out[-1].rstrip(b"\r\n")
    return b"".join(out)


def test_seeded_mixed_line_breaks_match_text_file(spark, tmp_path):
    """Lines are cut at \\n, \\r and \\r\\n only, as textFile cuts them; the
    strings hold characters ``str.splitlines`` also breaks at."""
    sc = spark.sparkContext
    rng = random.Random(20261018)
    for k in range(12):
        path = tmp_path / f"mixed_{k}.json"
        path.write_bytes(_seeded_file(rng))
        lines = _whole(path)
        assert lines == sc.textFile(str(path), 2).collect(), k
        for mode in ("FAILFAST", "PERMISSIVE"):
            assert _outcome(lambda: infer_ndjson_strings(lines, mode=mode)) == _outcome(
                lambda: infer_path(spark, str(path), mode=mode)), (k, mode)


# ---------------------------------------------------------------------------
# Routing: which inputs the CLI folds itself, which go to infer_path
# ---------------------------------------------------------------------------


@pytest.fixture
def routed(monkeypatch):
    """Runs ``cli.main`` with ``infer_path`` and ``get_spark`` replaced by
    recorders; returns the paths that reached ``infer_path``."""
    calls = []

    def fake_infer_path(spark, path, **kw):
        calls.append(path)
        return InferenceResult(EMPTY_STRUCT, 0)

    monkeypatch.setattr(api, "infer_path", fake_infer_path)
    monkeypatch.setattr(api, "get_spark", lambda *a: "session")

    def run(*argv):
        calls.clear()
        assert cli.main([str(a) for a in argv]) == 0
        return list(calls)

    return run


def test_small_local_file_stays_in_process(routed, tmp_path, capsys):
    assert routed(USERS) == []
    assert "CREATE TABLE data" in capsys.readouterr().out
    plain = tmp_path / "plain.json"
    plain.write_text('{"a": 1}\n')
    assert routed(plain, "t", "--mode", "PERMISSIVE", "--infer-maps", "2") == []


def test_spark_inputs_reach_infer_path(routed, tmp_path, monkeypatch):
    def file(name, data=b'{"a": 1}\n'):
        path = tmp_path / name
        path.write_bytes(data)
        return str(path)

    spark_paths = [file(n) for n in (
        ".hidden.json", "_under.json", "x.gz", "x.bz2", "x.deflate", "x.lz4",
        "x.snappy", "x.zst", "X.GZ")]
    spark_paths.append(file("latin1.json", b'{"a": "caf\xe9"}\n'))
    spark_paths += [str(tmp_path), str(tmp_path / "missing.json")]
    for ch in "*?[]{}\\,:":
        spark_paths.append(file(f"a{ch}b.json"))
    spark_paths.append("file://" + file("scheme.json"))
    spark_paths.append(str(tmp_path / "*.json"))
    spark_paths.append(file("one.json") + "," + file("two.json"))
    for path in spark_paths:
        assert routed(path) == [path], path

    small = file("small.json")
    assert routed(small, "--sampling-ratio", "1.0") == [small]
    assert routed(small, "--sampling-ratio", "0.5") == [small]

    # invalid UTF-8 only in the last of 4 ranges sends the file to Spark,
    # though line 1 is bad JSON
    monkeypatch.setattr(infer_mod, "_usable_cpus", lambda: 4)
    data = "\n".join(_rows(100_000, {1: "{bad"})).encode() + b'\n{"a": "caf\xe9"}\n'
    late = file("late_latin1.json", data)
    assert len(data) > 3 << 20 and _cut(late, 4)[3] < data.index(b"\xe9")
    assert routed(late) == [late]

    # the size bound, at a bound of 9 bytes
    monkeypatch.setattr(infer_mod, "_LOCAL_MAX_BYTES", 9)
    at_bound, over = file("nine.json", b'{"a": 1}\n'), file("ten.json", b'{"a": 10}\n')
    assert routed(at_bound) == [] and routed(over) == [over]

    # open() failing sends the file to Spark
    def refuse(*a, **k):
        raise PermissionError("denied")

    monkeypatch.setattr(infer_mod, "open", refuse, raising=False)
    assert infer_mod._read_range(at_bound, 0, 9) is None
    assert routed(at_bound) == [at_bound]


def test_short_read_goes_to_infer_path(routed, tmp_path, monkeypatch):
    """Reads are exact: a bound far above a file's size costs nothing, and
    a file that shrank after it was cut goes to Spark, whichever process
    reads the short range."""
    monkeypatch.setattr(infer_mod, "_LOCAL_MAX_BYTES", 1 << 40)
    assert routed(USERS) == []
    monkeypatch.setattr(infer_mod, "_usable_cpus", lambda: 4)
    fold_ranges = infer_mod._fold_ranges

    def shrink_then_fold(path, cuts, *a):
        with open(path, "r+b") as f:
            f.truncate(cuts[-1] - 1)
        return fold_ranges(path, cuts, *a)

    monkeypatch.setattr(infer_mod, "_fold_ranges", shrink_then_fold)
    small, big = tmp_path / "small.json", tmp_path / "big.json"
    small.write_bytes(b'{"a": 1}\n' * 3)  # one range, read here
    big.write_text("\n".join(_rows(100_000)) + "\n")  # the last of 4, in a child
    assert os.path.getsize(big) > 3 << 20
    for path in (small, big):
        assert routed(path) == [str(path)]


def test_each_input_is_routed_on_its_own(routed, tmp_path):
    new, old = tmp_path / "new.json", tmp_path / "old.gz"
    new.write_text('{"a": 1}\n')
    old.write_bytes(b"")
    assert routed(new, "t", "--evolve-from", old) == [str(old)]
    assert routed(old, "t", "--evolve-from", new) == [str(old)]
    assert routed(new, "t", "--evolve-from", new) == []


# ---------------------------------------------------------------------------
# No JVM for a small local file; the Spark path prints the same
# ---------------------------------------------------------------------------

_NO_JVM = """
import sys
from hive_serde_schema_gen_spark import cli
rc = cli.main(sys.argv[1:])
from pyspark import SparkContext
assert SparkContext._active_spark_context is None, "a SparkContext was started"
sys.exit(rc)
"""


def _cli(code, *argv):
    env = dict(os.environ, PYTHONPATH=ROOT)
    return subprocess.run([sys.executable, "-c", code, *argv], cwd=ROOT, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=300)


def test_small_file_starts_no_jvm_and_matches_spark_path():
    local = _cli(_NO_JVM, USERS, "people")
    assert local.returncode == 0, local.stderr.decode()[-2000:]
    assert local.stderr == b""
    spark = _cli("import sys; from hive_serde_schema_gen_spark import cli; "
                 "sys.exit(cli.main(sys.argv[1:]))", USERS, "people", "--sampling-ratio", "1.0")
    assert spark.returncode == 0, spark.stderr.decode()[-2000:]
    assert spark.stdout == local.stdout
    assert b"CREATE TABLE people" in local.stdout


_SCHEMAGEN_NO_JVM = """
import sys
from hive_serde_schema_gen_spark.schema_infer import SchemaGen
print(SchemaGen(sys.argv[1]).table(sys.argv[2]))
from pyspark import SparkContext
assert SparkContext._active_spark_context is None, "a SparkContext was started"
"""


def test_schemagen_is_the_cli_without_its_print():
    lib = _cli(_SCHEMAGEN_NO_JVM, USERS, "people")
    assert lib.returncode == 0, lib.stderr.decode()[-2000:]
    assert lib.stderr == b""
    assert lib.stdout == _cli(_NO_JVM, USERS, "people").stdout
    assert b"CREATE TABLE people" in lib.stdout


def test_schemagen_session_is_lazy(monkeypatch):
    asked = []
    monkeypatch.setattr(api, "get_spark", lambda *a: asked.append(a) or "session")
    sg = api.SchemaGen(USERS)
    assert asked == []
    assert sg.spark == sg.spark == "session" and len(asked) == 1
    assert api.SchemaGen(USERS, "given").spark == "given" and len(asked) == 1


# ---------------------------------------------------------------------------
# Arguments are checked before anything is read
# ---------------------------------------------------------------------------


def test_mode_is_failfast_or_permissive_in_any_case(monkeypatch, tmp_path):
    def no_spark(*a):
        raise AssertionError("a session was asked for")

    monkeypatch.setattr(api, "get_spark", no_spark)
    path = tmp_path / "conflict.json"
    path.write_bytes(CASES["row_mismatch"])
    for mode in ("permissive", "Permissive", "PERMISSIVE"):
        assert infer_ndjson_strings(['{"v": 1}', '{"v": "x"}'], mode=mode).lines == 2
        assert infer_mod.infer_local_file(str(path), mode).lines == 4
        assert api.SchemaGen(str(path), mode=mode).definition() == "v STRING"
    assert api.SchemaGen(USERS, mode="failfast").lines == 3
    with pytest.raises(SchemaGenError):
        infer_mod.infer_local_file(str(path), "FailFast")
    for mode in ("PERMISIVE", "DROPMALFORMED", ""):
        msg = f"mode must be FAILFAST or PERMISSIVE, got {mode!r}"
        with pytest.raises(ValueError, match=msg):
            infer_ndjson_strings(['{"v": 1}', '{"v": "x"}'], mode=mode)
        with pytest.raises(ValueError, match=msg):
            infer_mod.infer_local_file(str(path), mode)
        # refused before the path is looked at, a glob's too
        with pytest.raises(ValueError, match=msg):
            infer_mod.infer_local_file(str(tmp_path / "*.json"), mode)
        with pytest.raises(ValueError, match=msg):
            api.SchemaGen(str(path), mode=mode)


@pytest.mark.parametrize("ratio", ["0", "2.0", "nan", "-1"])
def test_sampling_ratio_out_of_range_reads_nothing(spark, monkeypatch, capsys, tmp_path, ratio):
    msg = r"sampling_ratio must be in \(0, 1\], got "
    # a missing path: the ratio is refused before the path is looked at
    with pytest.raises(ValueError, match=msg):
        infer_path(spark, str(tmp_path / "missing.json"), sampling_ratio=float(ratio))
    monkeypatch.setattr(api, "get_spark", lambda *a: spark)
    assert cli.main([USERS, "t", "--sampling-ratio", ratio]) == 1
    out, err = capsys.readouterr()
    assert out == ""
    assert err == f"error: sampling_ratio must be in (0, 1], got {float(ratio)!r}\n"


@pytest.mark.parametrize("ratio", ["0", "2.0", "nan", "-1"])
def test_sampling_ratio_out_of_range_starts_no_jvm(ratio):
    # the ratio is refused before a session is started for the Spark route
    r = _cli(_NO_JVM, USERS, "t", "--sampling-ratio", ratio)
    assert r.returncode == 1, r.stderr.decode()[-2000:]
    assert r.stdout == b""
    assert r.stderr.decode() == (
        f"error: sampling_ratio must be in (0, 1], got {float(ratio)!r}\n"
    )


# ---------------------------------------------------------------------------
# The local fold over byte ranges: cuts at line starts, forked children,
# one combine
# ---------------------------------------------------------------------------

CHUNKS = (1, 2, 3, 4, 8)


def _write(tmp_path, name, data):
    path = tmp_path / f"{name}.json"
    path.write_bytes(data)
    return path


def _even(tmp_path, name, lines):
    """``lines`` written as rows of one byte length (padded with spaces),
    so the cuts of ``k`` ranges of ``k * m`` rows fall every ``m`` rows."""
    rows = [ln.encode() for ln in lines]
    width = max(map(len, rows))
    return _write(tmp_path, name, b"".join(r.ljust(width) + b"\n" for r in rows))


def _cut(path, k):
    """The bounds of ``k`` byte ranges of ``path``."""
    with open(path, "rb") as f:
        return infer_mod._cuts(f, os.path.getsize(path), k)


def _chunked(path, k, mode):
    return infer_mod._fold_ranges(str(path), _cut(path, k), mode == "PERMISSIVE", False)


def _children():
    """Pids of this process's live children, from /proc (Linux only)."""
    pids = set()
    try:
        for task in os.listdir("/proc/self/task"):
            with open(f"/proc/self/task/{task}/children") as f:
                pids.update(int(p) for p in f.read().split())
    except OSError:
        pass
    return pids


@pytest.mark.parametrize("mode", ["FAILFAST", "PERMISSIVE"])
def test_chunked_fold_equals_single_process(tmp_path, mode):
    for name, data in CASES.items():
        path = _write(tmp_path, name, data)
        want = _outcome(lambda: infer_ndjson_strings(_whole(path), mode=mode))
        for k in CHUNKS:
            assert _outcome(lambda: _chunked(path, k, mode)) == want, (name, k)


def _rows(n, bad=()):
    """``n`` NDJSON lines; line numbers in ``bad`` (1-based) map to their
    replacement text."""
    bad = dict(bad)
    return [bad.get(i, json.dumps({"i": i, "o": {"s": "x" * (i % 7)}}))
            for i in range(1, n + 1)]


@pytest.mark.parametrize("mode", ["FAILFAST", "PERMISSIVE"])
def test_chunk_edges(tmp_path, mode):
    # 12 rows of one length in 3 ranges: lines 1-4, 5-8, 9-12
    cases = {
        "bad_first_of_chunk": _rows(12, {5: "{bad"}),
        "bad_last_of_chunk": _rows(12, {8: "{bad"}),
        "bad_first_and_last_line": _rows(12, {1: "[1]", 12: "{bad"}),
        "mismatch_first_of_chunk": _rows(12, {9: '{"i": "x"}'}),
        "mismatch_last_of_chunk": _rows(12, {4: '{"o": 1}', 8: '{"i": [1]}'}),
        "bom_line_1": ["\ufeff" + ln if i == 0 else ln for i, ln in enumerate(_rows(12))],
        # a partial too deep to pickle back from a child: folded here
        "deep_partial": _rows(12, {10: '{"a":' * 300 + "1" + "}" * 300}),
    }
    paths = {name: _even(tmp_path, name, lines) for name, lines in cases.items()}
    for name, path in paths.items():
        row = os.path.getsize(path) // 12
        assert _cut(path, 3) == [0, 4 * row, 8 * row, 12 * row], name
        want = _outcome(lambda: infer_ndjson_strings(_whole(path), mode=mode))
        for k in CHUNKS:
            assert _outcome(lambda: _chunked(path, k, mode)) == want, (name, k)
    assert _outcome(lambda: _chunked(paths["bom_line_1"], 3, mode))[0] == "ok"
    if mode == "FAILFAST":
        for name, line in (("bad_first_of_chunk", 5), ("bad_last_of_chunk", 8),
                           ("mismatch_first_of_chunk", 9), ("mismatch_last_of_chunk", 4)):
            assert _outcome(lambda: _chunked(paths[name], 3, mode))[2] == line, name


def test_conflict_across_chunks_takes_the_seeded_refold(monkeypatch, tmp_path):
    # range 2 (lines 9-12) folds cleanly on its own, but its "x" conflicts
    # with the number the ranges before it typed
    path = _even(tmp_path, "conflict", _rows(12, {i: '{"i": "x"}' for i in range(9, 13)}))
    row = os.path.getsize(path) // 12
    assert _cut(path, 3) == [0, 4 * row, 8 * row, 12 * row]
    want = _outcome(lambda: infer_ndjson_strings(_whole(path)))
    assert want[:3] == ("error", "RowMismatch", 9)
    seeds = []
    fold = infer_mod._fold

    def spy(chunk, schema=EMPTY_STRUCT, *a, **k):
        seeds.append(schema)
        return fold(chunk, schema, *a, **k)

    monkeypatch.setattr(infer_mod, "_fold", spy)
    assert _outcome(lambda: _chunked(path, 3, "FAILFAST")) == want
    # this process folded range 0, then re-folded range 2 seeded
    assert len(seeds) == 2 and seeds[0] == EMPTY_STRUCT and seeds[1] != EMPTY_STRUCT


def test_parent_reads_only_its_own_range(monkeypatch, tmp_path):
    """This process reads range 0, and a range it re-folds; never the
    whole file (the children read the others)."""
    monkeypatch.setattr(infer_mod, "_usable_cpus", lambda: 4)
    reads = []
    read_range = infer_mod._read_range

    def spy(path, start, end):
        reads.append((start, end))
        return read_range(path, start, end)

    monkeypatch.setattr(infer_mod, "_read_range", spy)
    n = 100_000  # 4 ranges of 25,000 rows; lines 50,001-100,000 conflict
    good = _even(tmp_path, "good", _rows(n))
    bad = _even(tmp_path, "bad", _rows(n, {i: '{"i": "x"}' for i in range(n // 2 + 1, n + 1)}))
    assert os.path.getsize(good) == os.path.getsize(bad) > 3 << 20
    c = _cut(good, 4)
    assert c == [i * os.path.getsize(good) // 4 for i in range(5)]
    assert infer_mod.infer_local_file(str(good)).lines == n
    assert reads == [(c[0], c[1])]
    reads.clear()
    got = _outcome(lambda: infer_mod.infer_local_file(str(bad)))
    assert got[:3] == ("error", "RowMismatch", n // 2 + 1)
    assert reads == [(c[0], c[1]), (c[2], c[3])]


def test_worker_exception_never_overtakes_an_earlier_error(monkeypatch, tmp_path):
    fold = infer_mod._fold

    def boom(chunk, *a, **k):
        if any("boom" in ln for ln in chunk):
            raise RuntimeError("boom")
        return fold(chunk, *a, **k)

    monkeypatch.setattr(infer_mod, "_fold", boom)
    # 16 rows of one length in 4 ranges; the file's first error is in
    # range 1, the raising line in range 3
    path = _even(tmp_path, "boom_after_bad", _rows(16, {6: "{bad", 14: '{"boom": 1}'}))
    row = os.path.getsize(path) // 16
    assert _cut(path, 4) == [0, 4 * row, 8 * row, 12 * row, 16 * row]
    err = _outcome(lambda: _chunked(path, 4, "FAILFAST"))
    assert err[:3] == ("error", "BadJson", 6)
    # with no earlier error, the raising range's exception is what surfaces
    path = _even(tmp_path, "boom", _rows(16, {14: '{"boom": 1}'}))
    for mode in ("FAILFAST", "PERMISSIVE"):
        with pytest.raises(RuntimeError, match="boom"):
            _chunked(path, 4, mode)
    assert infer_mod.multiprocessing.active_children() == []


def test_without_fork_every_chunk_folds_here(monkeypatch, tmp_path):
    def no_pool(*a, **k):
        raise AssertionError("a process pool was started")

    monkeypatch.setattr(infer_mod.multiprocessing, "get_all_start_methods",
                        lambda: ["spawn"])
    monkeypatch.setattr(infer_mod, "ProcessPoolExecutor", no_pool)
    monkeypatch.setattr(infer_mod, "_usable_cpus", lambda: 4)
    for mode in ("FAILFAST", "PERMISSIVE"):
        path = _write(tmp_path, "rows", "\n".join(
            _rows(40, {17: "{bad", 30: '{"i": "x"}'})).encode() + b"\n")
        want = _outcome(lambda: infer_ndjson_strings(_whole(path), mode=mode))
        for k in CHUNKS:
            assert _outcome(lambda: _chunked(path, k, mode)) == want, (mode, k)
    big = tmp_path / "big.json"
    big.write_text("\n".join(_rows(40_000)) + "\n")
    assert os.path.getsize(big) > 1 << 20
    assert infer_mod.infer_local_file(str(big)).lines == 40_000


def test_small_file_forks_nothing(monkeypatch, tmp_path):
    pools = []
    real = infer_mod.ProcessPoolExecutor

    def spy(*a, **k):
        pools.append(a)
        return real(*a, **k)

    monkeypatch.setattr(infer_mod, "ProcessPoolExecutor", spy)
    monkeypatch.setattr(infer_mod, "_usable_cpus", lambda: 4)
    row, n = b'{"a": 1}\n', (1 << 20) // 9
    at_bound = tmp_path / "one_mib.json"
    at_bound.write_bytes(b'{"a": 1' + b" " * ((1 << 20) % 9) + b'}\n' + row * (n - 1))
    assert os.path.getsize(at_bound) == 1 << 20
    assert infer_mod.infer_local_file(str(at_bound)).lines == n
    assert pools == []
    over = tmp_path / "over.json"
    over.write_bytes(at_bound.read_bytes() + row)
    assert infer_mod.infer_local_file(str(over)).lines == n + 1
    assert pools == [(1,)]  # 2 chunks: this process and one child


def test_no_child_outlives_cli_main(monkeypatch, tmp_path, capsys):
    monkeypatch.setattr(infer_mod, "_usable_cpus", lambda: 4)
    before = _children()
    good = tmp_path / "good.json"
    good.write_text("\n".join(_rows(120_000)) + "\n")
    bad = tmp_path / "bad.json"
    bad.write_text("\n".join(_rows(120_000, {119_000: "{bad"})) + "\n")
    assert os.path.getsize(bad) > 3 << 20  # 4 chunks
    assert cli.main([str(good)]) == 0
    assert cli.main([str(bad)]) == 1
    assert "On the line 119000 " in capsys.readouterr().err
    fold = infer_mod._fold

    def interrupt(chunk, *a, **k):
        if os.getpid() == parent:
            raise KeyboardInterrupt
        return fold(chunk, *a, **k)

    parent = os.getpid()
    monkeypatch.setattr(infer_mod, "_fold", interrupt)
    with pytest.raises(KeyboardInterrupt):
        cli.main([str(good)])
    assert infer_mod.multiprocessing.active_children() == []
    assert _children() <= before


# lines 1-2 conflict; a later partition holds a line too deep to parse
DEEP = [b'{"v":1}', b'{"v":"x"}'] + [b'{"w": %d}' % i for i in range(20_000)] + [
    b'{"a":' * 100_000 + b"1" + b"}" * 100_000]


@pytest.fixture
def default_recursion_limit():
    """CPython's default limit, the one the CLI's process and Spark's
    Python workers run at (a test run can leave it raised)."""
    old = sys.getrecursionlimit()
    sys.setrecursionlimit(1000)
    yield
    sys.setrecursionlimit(old)


@pytest.mark.parametrize("mode", ["FAILFAST", "PERMISSIVE"])
def test_deep_line_is_bad_json_in_file_order(spark, tmp_path, mode, default_recursion_limit):
    path = tmp_path / "deep.json"
    path.write_bytes(b"\n".join(DEEP) + b"\n")
    local = _outcome(lambda: infer_mod.infer_local_file(str(path), mode))
    for k in CHUNKS:
        assert _outcome(lambda: _chunked(path, k, mode)) == local, k
    assert _outcome(lambda: infer_path(spark, str(path), mode=mode)) == local
    if mode == "FAILFAST":
        assert local[:3] == ("error", "RowMismatch", 2)
    else:
        assert local[3] == [(20_003, "BadJson: nested too deeply for the recursion limit")]
    # a lone line that parses but is too deep to observe
    lone = tmp_path / "lone.json"
    lone.write_bytes(b'{"a":' * 600 + b"1" + b"}" * 600 + b"\n")
    got = _outcome(lambda: infer_mod.infer_local_file(str(lone), mode))
    assert _outcome(lambda: infer_path(spark, str(lone), mode=mode)) == got
    if mode == "FAILFAST":
        assert got[:3] == ("error", "BadJson", 1) and "recursion limit" in got[3]


@pytest.mark.parametrize("mode", ["FAILFAST", "PERMISSIVE"])
def test_chunked_fold_equals_infer_path(spark, tmp_path, mode):
    files = dict(CASES)
    files["edges"] = "\n".join(_rows(4_000, {1_000: "{bad", 2_001: '{"i": "x"}',
                                             3_000: "[1]"})).encode()
    for name, data in files.items():
        path = _write(tmp_path, name, data)
        want = _outcome(lambda: infer_path(spark, str(path), mode=mode, min_partitions=3))
        for k in CHUNKS:
            assert _outcome(lambda: _chunked(path, k, mode)) == want, (name, k)


# a 33-byte row
X = b'{"a": "' + b"x" * 24 + b'"}'


def _aimed(head, at, last=b"\n"):
    """``head``, then one row ending in ``last``, padded so that the cut
    target at 2 ranges (``size // 2``) is byte ``at``."""
    row = b'{"z": 0}' + last
    data = head + b"{" + b" " * (2 * at - len(head) - len(row)) + row[1:]
    assert len(data) // 2 == at
    return data


def _char_row(ch):
    """A row holding ``ch``'s UTF-8 bytes from byte 27 on."""
    return b'{"s": "' + b"x" * 20 + ch.encode() + b'"}\n'


# name: (file, where the cut at 2 ranges falls)
BYTE_EDGES = {
    # the target is the \n of a \r\n (byte 34): the cut moves past it
    "target_between_cr_and_lf": (_aimed(X + b"\r\n", 34), 35),
    "target_at_line_start": (_aimed(X + b"\n", 34), 34),
    # the target is the last byte of the character
    "target_in_2_byte_char": (_aimed(_char_row("\u00e9"), 28), 32),
    "target_in_3_byte_char": (_aimed(_char_row("\u20ac"), 29), 33),
    "target_in_4_byte_char": (_aimed(_char_row("\U0001f600"), 30), 34),
    # line 1 starts with a BOM, in range 0 at every k
    "bom": (_aimed(BOM + X + b"\n", 24), 37),
    "bom_only": (BOM, 3),
    # the target is in line 2: range 1 is the empty line 3
    "empty_last_line": (_aimed(X + b"\n", 38, b"\n\n"), 75),
    # the target is in the last line: range 1 is empty
    "no_final_break": (_aimed(X + b"\n", 38, b""), 76),
    # a 210-byte line 1 holds 6 of 8 targets: ranges 1-5 are empty
    "line_longer_than_a_range": (b'{"a": "' + b"x" * 200 + b'"}\n' + X + b"\n", 210),
}


def _line_starts(data):
    """Every offset a line starts at under textFile's breaks, and the end."""
    return {0, len(data)} | {i + 1 for i, b in enumerate(data)
                             if b == 10 or (b == 13 and data[i + 1:i + 2] != b"\n")}


@pytest.mark.parametrize("mode", ["FAILFAST", "PERMISSIVE"])
def test_byte_range_edges(spark, tmp_path, mode):
    """Each cut moves its target forward to the next line start, and every
    range count folds to what the whole file and ``infer_path`` give."""
    for name, (data, at_2) in BYTE_EDGES.items():
        path = _write(tmp_path, name, data)
        assert _cut(path, 2) == [0, at_2, len(data)], name
        starts = _line_starts(data)
        for k in CHUNKS:
            targets = [len(data) * i // k for i in range(1, k)]
            want_cuts = [min(s for s in starts if s >= t) for t in targets]
            assert _cut(path, k) == [0, *want_cuts, len(data)], (name, k)
        want = _outcome(lambda: infer_ndjson_strings(_whole(path), mode=mode))
        assert _outcome(lambda: infer_path(spark, str(path), mode=mode,
                                           min_partitions=3)) == want, name
        for k in CHUNKS:
            assert _outcome(lambda: _chunked(path, k, mode)) == want, (name, k)
    assert _cut(tmp_path / "line_longer_than_a_range.json", 8) == [0] + [210] * 6 + [244] * 2
    assert _outcome(lambda: _chunked(tmp_path / "bom.json", 8, mode))[:3] == (
        "ok", repr(infer_ndjson_strings([X.decode(), '{"z": 0}']).schema), 2)
    assert _outcome(lambda: _chunked(tmp_path / "bom_only.json", 8, mode))[2] == 0
    empty_last = _outcome(lambda: _chunked(tmp_path / "empty_last_line.json", 2, mode))
    if mode == "FAILFAST":
        assert empty_last[:3] == ("error", "BadJson", 3)
    else:
        assert empty_last[2] == 3 and [line for line, _msg in empty_last[3]] == [3]


def test_large_file_starts_no_jvm_and_matches_spark_path(tmp_path):
    rng = random.Random(20261018)
    rows = [json.dumps({"i": i, "u": {"name": "n" * rng.randint(0, 30),
                                      "tags": [rng.random() for _ in range(rng.randint(0, 3))]},
                        "f": rng.choice([1, 2.5, None, True, "s"]) if i % 9 else 7},
                       separators=(",", ":"))
            for i in range(30_000)]
    path = tmp_path / "large.json"
    path.write_text("\n".join(rows) + "\n")
    assert os.path.getsize(path) > 2 << 20
    local = _cli(_NO_JVM, path, "t", "--mode", "PERMISSIVE")
    assert local.returncode == 0, local.stderr.decode()[-2000:]
    assert local.stderr == b""
    spark = _cli("import sys; from hive_serde_schema_gen_spark import cli; "
                 "sys.exit(cli.main(sys.argv[1:]))", path, "t", "--mode", "PERMISSIVE",
                 "--sampling-ratio", "1.0")
    assert spark.returncode == 0, spark.stderr.decode()[-2000:]
    assert spark.stdout == local.stdout
    assert b"CREATE TABLE t" in local.stdout
