"""Capture .explain('formatted') for every bench headliner and registry
slot into plans/r18/<name>_<tag>.txt (tag = before/after).

Usage: python plans/r18/capture_plans.py <tag> [name ...]
Names default to ALL headliners + all 50 slots.  Plans only — no
execution — so this is cheap; localCheckpoint-based pipelines (the
media headliners) ARE partially executed by construction, which is the
production shape and what the bench times.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))

from bench import headline_queries  # noqa: E402  (the repo root)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    from hive_serde_schema_gen_spark.registry import all_queries
    from hive_serde_schema_gen_spark.session import get_spark

    spark = get_spark("plans-r18")
    spark.sparkContext.setLogLevel("ERROR")
    queries = {**all_queries(), **headline_queries()}
    names = sorted(only) if only else sorted(queries)
    for name in names:
        try:
            import contextlib
            import io

            df = queries[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # capture the failure, keep going
            plan = f"ERROR capturing plan: {exc!r}"
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(name, "->", path)
    spark.stop()


if __name__ == "__main__":
    main()
