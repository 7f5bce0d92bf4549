"""Seeded inputs for the schema-gen benchmark, with their expected outputs.

Every input is a pure function of ``(workload, seed, scale)``.  The first
line (first row) of every input plants each field's extremes -- its longest
string, its widest number, its largest scale -- and every other value is
drawn strictly inside them.  The inferred schema is therefore the same for
every seed and is written down below as a constant (``NESTED_DDL_BODY``,
``FLAT_DEFINITION``).  ``cross_check`` folds each fresh input once with the
single-process ``infer_ndjson_strings`` reference and compares.

Strings hold only letters, digits and spaces, so rows are formatted
directly as JSON text without escaping.
"""

from __future__ import annotations

import json
import os
import random
import string
import sys

import numpy as np

# Lines of the nested NDJSON file and rows of the flat column at scale 1.
NESTED_LINES = 12_000
FLAT_ROWS = 300_000
FLAT_POOL = 1_000  # distinct payloads that make up half of the flat rows
COLUMN = "payload"  # the flat parquet file's one string column
CONFLICT_AT = 0.9  # share of the file that precedes the planted conflict
# The value that replaces user.age on the conflict line: a number field
# becoming a string.
CONFLICT_VALUE = "forty-two"

# Bump when the generated bytes change, so cached inputs are rebuilt.
GENERATOR_VERSION = 2

_ALPHABET = string.ascii_letters + string.digits + "  "


def _text(rng: random.Random, n: int = 1 << 16) -> str:
    return "".join(rng.choices(_ALPHABET, k=n))


def _dec(rng: random.Random, int_digits: int, max_scale: int) -> str:
    """A JSON number with at most ``int_digits`` integer digits and a
    scale drawn from 0..max_scale (0 prints as an integer literal)."""
    ip = rng.randrange(10 ** rng.randint(1, int_digits))
    if rng.random() < 0.5:
        ip = -ip
    s = rng.randint(0, max_scale)
    if s == 0:
        return str(ip)
    frac = rng.randrange(10 ** s)
    sign = "-" if ip == 0 and rng.random() < 0.5 else ""
    return f"{sign}{ip}.{frac:0{s}d}"


# ---------------------------------------------------------------------------
# ndjson_nested_file / ndjson_failfast_conflict
# ---------------------------------------------------------------------------

# Line 1: every field at its extreme, in the field order every line uses.
# Decimals are written out, so their planted scale survives.
_NESTED_EXTREMES = (
    '{"id": 2147483647, "ts": 1799999999999, "user": {"name": "' + "N" * 32 + '", '
    '"age": 120, "vip": true, "geo": {"lat": -90.000000, "lon": -180.000000, '
    '"city": "' + "C" * 28 + '", "meta": {"tz_off": -720, "src": "' + "S" * 8 + '"}}}, '
    '"tags": ["' + "T" * 16 + '"], "scores": [-30000, 30000], '
    '"items": [{"sku": "' + "K" * 10 + '", "qty": 127, "price": 99999.99, '
    '"discount": 0.125}], "amount": -9999999.9999, '
    '"balance": 9999999999999999.999, "note": "' + "Z" * 240 + '", '
    '"flags": {"a": false, "b": true}, "legacy": null, "empty": []}'
)


NESTED_DDL_BODY = """\
\tid INT,
\tts BIGINT,
\tuser STRUCT<
\t\tname: VARCHAR(32),
\t\tage: TINYINT,
\t\tvip: BOOLEAN,
\t\tgeo: STRUCT<
\t\t\tlat: DOUBLE,
\t\t\tlon: DOUBLE,
\t\t\tcity: VARCHAR(28),
\t\t\tmeta: STRUCT<
\t\t\t\ttz_off: SMALLINT,
\t\t\t\tsrc: VARCHAR(8)
\t\t\t>
\t\t>
\t>,
\ttags ARRAY<
\t\tVARCHAR(16)
\t>,
\tscores ARRAY<
\t\tSMALLINT
\t>,
\titems ARRAY<
\t\tSTRUCT<
\t\t\tsku: VARCHAR(10),
\t\t\tqty: TINYINT,
\t\t\tprice: FLOAT,
\t\t\tdiscount: FLOAT
\t\t>
\t>,
\tamount DOUBLE,
\tbalance NUMERIC(19, 3),
\tnote VARCHAR(240),
\tflags STRUCT<
\t\ta: BOOLEAN,
\t\tb: BOOLEAN
\t>,
\tlegacy ???,
\tempty ARRAY<
\t\t???
\t>"""


def nested_ddl(path: str, table: str) -> str:
    """The exact stdout of ``cli.main([path, table])`` on a nested file."""
    return "\n".join([
        "ADD JAR hive-json-serde-0.2.jar;",
        "",
        f"CREATE TABLE {table} (",
        NESTED_DDL_BODY,
        ") ROW FORMAT SERDE 'org.apache.hadoop.hive.contrib.serde2.JsonSerde';",
        "",
        f"LOAD DATA LOCAL INPATH '{path}' INTO TABLE {table};",
    ])


def _nested_line(rng: random.Random, i: int, txt: str, age: str | None = None) -> str:
    rnd, ri = rng.random, rng.randint
    tlen = len(txt) - 256

    def s(lo: int, hi: int) -> str:
        o = ri(0, tlen)
        return txt[o:o + ri(lo, hi)]

    city = f'"{s(4, 20)}"' if rnd() < 0.8 else "null"
    tags = ", ".join(f'"{s(1, 12)}"' for _ in range(ri(0, 5)))
    scores = ", ".join(str(ri(-1000, 1000)) for _ in range(ri(0, 6)))
    items = ", ".join(
        f'{{"sku": "{s(8, 8)}", "qty": {ri(1, 50)}, '
        f'"price": {ri(0, 9999)}.{ri(0, 99):02d}, '
        f'"discount": {"null" if rnd() < 0.5 else f"0.{ri(0, 499):03d}"}}}'
        for _ in range(ri(0, 3))
    )
    note = f'"{s(0, 200)}"' if rnd() < 0.7 else "null"
    b = ("true", "false", "null")[ri(0, 2)]
    if age is None:
        age = str(ri(0, 99))
    return (
        f'{{"id": {i}, "ts": {ri(1600000000000, 1700000000000)}, '
        f'"user": {{"name": "{s(3, 24)}", "age": {age}, '
        f'"vip": {"true" if rnd() < 0.1 else "false"}, '
        f'"geo": {{"lat": {_dec(rng, 2, 6)}, "lon": {_dec(rng, 3, 6)}, '
        f'"city": {city}, '
        f'"meta": {{"tz_off": {ri(-720, 840)}, "src": "{s(2, 6)}"}}}}}}, '
        f'"tags": [{tags}], "scores": [{scores}], "items": [{items}], '
        f'"amount": {_dec(rng, 7, 4)}, "balance": {_dec(rng, 16, 3)}, '
        f'"note": {note}, '
        f'"flags": {{"a": {"true" if rnd() < 0.5 else "false"}, "b": {b}}}, '
        f'"legacy": null, "empty": []}}'
    )


def nested_lines(seed: int, n: int, conflict_line: int | None = None):
    """The lines of a nested NDJSON file (without newlines).  With
    ``conflict_line`` (1-based), that line carries ``user.age`` as a
    string -- the only kind conflict in the file."""
    rng = random.Random(seed)
    txt = _text(rng)
    yield _NESTED_EXTREMES
    for i in range(2, n + 1):
        age = json.dumps(CONFLICT_VALUE) if i == conflict_line else None
        yield _nested_line(rng, i, txt, age)


def conflict_line_number(n: int) -> int:
    return int(n * CONFLICT_AT) + 1


def conflict_stderr(line: int) -> tuple[str, str]:
    """First line and last four lines of the FAILFAST message that
    ``cli.main`` prints for the planted conflict."""
    head = f"On the line {line} you attempted to insert this JSON:"
    tail = "\n".join([
        "with the corresponding schema:",
        f"VARCHAR({len(CONFLICT_VALUE)})",
        "into the schema with this signature:",
        "TINYINT",
    ])
    return head, tail


# ---------------------------------------------------------------------------
# json_column_flat
# ---------------------------------------------------------------------------

_FLAT_EXTREMES = (
    '{"seq": 2000000000, "event": "' + "E" * 24 + '", "user_id": 4000000000, '
    '"count": 32767, "value": -99999.999, "ok": true, "country": "ZZ", '
    '"ref": "' + "R" * 48 + '", "score": 1.0000}'
)

FLAT_DEFINITION = """\
seq INT,
event VARCHAR(24),
user_id BIGINT,
count SMALLINT,
value DOUBLE,
ok BOOLEAN,
country VARCHAR(2),
ref VARCHAR(48),
score FLOAT"""

_EVENTS = [
    "click", "view", "purchase", "add_to_cart", "remove_from_cart", "search",
    "login", "logout", "signup", "share", "comment", "like", "checkout_start",
    "checkout_done", "refund", "page_scroll_depth",
]
_COUNTRIES = ["US", "DE", "FR", "JP", "BR", "IN", "GB", "CN", "KR", "NG"]


def _flat_block(rng, first_seq: int, m: int, txt: str) -> list[str]:
    """``m`` flat rows with ``seq`` numbered from ``first_seq``, so every
    row is distinct.  Drawn column by column with NumPy: row-by-row
    drawing made generation the largest part of a run."""
    ints = rng.integers
    # value: up to 5 integer digits, scale 0..3, as _dec(rng, 5, 3) draws it
    ip = ints(0, 10 ** ints(1, 6, m)) * np.where(rng.random(m) < 0.5, -1, 1)
    scale = ints(0, 4, m)
    frac = ints(0, 10 ** scale)
    neg0 = (ip == 0) & (rng.random(m) < 0.5)
    ref_at = np.where(rng.random(m) < 0.6, ints(0, len(txt) - 63, m), -1)
    cols = [
        range(first_seq, first_seq + m), ints(0, len(_EVENTS), m),
        ints(1, 3_000_000_001, m), ints(0, 30_001, m), ip, scale, frac, neg0,
        ints(0, 2, m), ints(0, len(_COUNTRIES), m), ref_at, ints(0, 41, m),
        ints(0, 10_000, m), ints(1, 5, m),
    ]
    rows = []
    for seq, ev, uid, cnt, ip, s, fr, n0, ok, ctry, at, rlen, sc, sd in zip(
        *(c if isinstance(c, range) else c.tolist() for c in cols)
    ):
        value = str(ip) if s == 0 else f'{"-" if n0 else ""}{ip}.{fr:0{s}d}'
        ref = "null" if at < 0 else f'"{txt[at:at + rlen]}"'
        rows.append(
            f'{{"seq": {seq}, "event": "{_EVENTS[ev]}", '
            f'"user_id": {uid}, "count": {cnt}, '
            f'"value": {value}, "ok": {"true" if ok else "false"}, '
            f'"country": "{_COUNTRIES[ctry]}", "ref": {ref}, '
            f'"score": 0.{sc:0{sd}d}}}'
        )
    return rows


def flat_rows(seed: int, n: int) -> list[str]:
    """Row 0 plants the extremes; of the rest, half repeat one of
    ``FLAT_POOL`` payloads and half are distinct, shuffled together."""
    rng = np.random.default_rng(seed)
    txt = _text(random.Random(seed))
    pool = _flat_block(rng, 0, FLAT_POOL, txt)
    n_rest = n - 1
    n_distinct = n_rest // 2
    rows = _flat_block(rng, FLAT_POOL, n_distinct, txt)
    rows += [pool[j] for j in rng.integers(0, FLAT_POOL, n_rest - n_distinct).tolist()]
    return [_FLAT_EXTREMES] + [rows[j] for j in rng.permutation(n_rest).tolist()]


# ---------------------------------------------------------------------------
# Writing, caching and the reference cross-check
# ---------------------------------------------------------------------------


def _fold_chunk(lines: list[str]):
    from hive_serde_schema_gen_spark.schema_infer import infer_ndjson_strings

    return infer_ndjson_strings(lines).schema


def reference_schema(lines: list[str], procs: int):
    """Fold ``lines`` with ``infer_ndjson_strings``, split into ``procs``
    contiguous chunks on spawned workers and merged in order -- the same
    schema a single fold gives, since ``merge`` is the fold's join."""
    from hive_serde_schema_gen_spark.schema_infer import EMPTY_STRUCT, merge

    if procs <= 1 or len(lines) < 10_000:
        return _fold_chunk(lines)
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    step = -(-len(lines) // procs)
    chunks = [lines[k:k + step] for k in range(0, len(lines), step)]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(len(chunks), mp_context=ctx) as pool:
        parts = list(pool.map(_fold_chunk, chunks))
    schema = EMPTY_STRUCT
    for p in parts:
        schema = merge(schema, p)
    return schema


def cross_check(workload: str, lines: list[str], procs: int) -> None:
    """Raise if the reference fold of ``lines`` disagrees with the
    expectation this module states for ``workload``."""
    from hive_serde_schema_gen_spark.schema_infer import (
        RowMismatch, observe, parse_line, render_definition,
    )

    if workload == "json_column_flat":
        # a repeated row cannot change the schema, so fold each once
        got = render_definition(reference_schema(list(dict.fromkeys(lines)), procs))
        if got != FLAT_DEFINITION:
            raise RuntimeError(f"flat generator drifted:\n{got}")
        return
    conflict = None
    if workload == "ndjson_failfast_conflict":
        n = conflict_line_number(len(lines))
        conflict, lines = lines[n - 1], lines[: n - 1]
    schema = reference_schema(lines, procs)
    got = render_definition(schema, 1)
    if got != NESTED_DDL_BODY:
        raise RuntimeError(f"nested generator drifted:\n{got}")
    if conflict is not None:
        # the clean prefix folds to the DDL above; the next line conflicts
        try:
            observe(schema, parse_line(conflict))
        except RowMismatch:
            return
        raise RuntimeError("planted conflict line folds cleanly")


def build(workload: str, seed: int, scale: float, data_dir: str, procs: int) -> dict:
    """Write the workload's input under ``data_dir`` unless a previous call
    already wrote it for the same seed and scale; return its manifest."""
    key = {"workload": workload, "seed": seed, "scale": scale, "version": GENERATOR_VERSION}
    os.makedirs(data_dir, exist_ok=True)
    stem = os.path.join(data_dir, workload)
    manifest_path = stem + ".manifest.json"
    try:
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest["key"] == key and os.path.exists(manifest["path"]):
            return manifest
    except (OSError, ValueError, KeyError):
        pass
    if os.path.exists(manifest_path):
        os.remove(manifest_path)

    if workload == "json_column_flat":
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = max(1_000, int(FLAT_ROWS * scale))
        lines = flat_rows(seed, n)
        cross_check(workload, lines, procs)
        path = stem + ".parquet"
        # one row group per core, so the scan splits into nproc tasks
        pq.write_table(
            pa.table({COLUMN: lines}), path,
            row_group_size=-(-n // procs), compression="snappy",
        )
        extra = {"rows": n, "distinct": len(set(lines)),
                 "json_bytes": sum(map(len, lines))}
    else:
        n = max(200, int(NESTED_LINES * scale))
        conflict = conflict_line_number(n) if workload == "ndjson_failfast_conflict" else None
        lines = list(nested_lines(seed, n, conflict))
        cross_check(workload, lines, procs)
        path = stem + ".ndjson"
        with open(path, "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
        extra = {"lines": n, "conflict_line": conflict,
                 "json_bytes": os.path.getsize(path)}
    manifest = {"key": key, "path": path, "bytes": os.path.getsize(path), **extra}
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    return manifest


if __name__ == "__main__":
    # python3 -m perfbench.gen <workload> <seed> <scale> <data_dir> <procs>
    w, seed, scale, data_dir, procs = sys.argv[1:6]
    print(json.dumps(build(w, int(seed), float(scale), data_dir, int(procs))))
