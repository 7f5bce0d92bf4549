"""Smoke test of the benchmark: every workload at 1% of its size, with all
output checks, untraced and traced.

    python -m pytest perfbench/test_smoke.py -q
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_workload(trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
         "--smoke", "--seed", "3", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0
    spec = _spec()
    names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert set(out["workloads"]) == {w["name"] for w in spec["workloads"]}
    for w, r in out["workloads"].items():
        assert set(r["metrics"]) == names, w
        if trace:
            m = {k: v["value"] for k, v in r["metrics"].items()}
            # the conflict op adds a re-scan job; the column op adds the
            # job spark.read.parquet runs to read the footer schema
            assert m["spark.jobs"] == (1 if w == "ndjson_nested_file" else 2), w
            assert m["spark.tasks"] >= 1 and m["spark.result_bytes"] > 0, w
        else:
            assert all(v["value"] > 0 for v in r["metrics"].values()), w


def test_seed_fixes_the_input(tmp_path):
    sys.path.insert(0, ROOT)
    from perfbench import gen

    a = gen.build("json_column_flat", 5, 0.01, str(tmp_path / "a"), 2)
    b = gen.build("json_column_flat", 5, 0.01, str(tmp_path / "b"), 2)
    c = gen.build("ndjson_failfast_conflict", 6, 0.01, str(tmp_path / "a"), 2)
    with open(a["path"], "rb") as fa, open(b["path"], "rb") as fb:
        assert fa.read() == fb.read()
    assert c["conflict_line"] == gen.conflict_line_number(c["lines"])


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero and prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ndjson_nested_file",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180,
    )
    assert proc.returncode != 0 and not proc.stdout.strip()
