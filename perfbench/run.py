#!/usr/bin/env python3
"""Schema-gen benchmark: NDJSON -> Hive DDL wall time, with a per-layer split.

One run measures one workload in one process, on ``local[nproc]``, one op at
a time (a closed loop with a single client):

    python3 perfbench/run.py --workload ndjson_nested_file --seed 1 \\
        --seconds 8 --trace 0

- ``--trace 0`` prints the end-to-end metrics: ``setup_s`` (package import,
  session start and the first, cold op) and ``wall_vs_ref`` (the median,
  over rounds, of a warm op's wall time over that of a stdlib-``json``
  reference job on the same input, run just before and just after it).
  The raw ``wall_s`` and ``input_mb_per_s`` are printed beside them.
- ``--trace 1`` builds the session with the UI on and prints the per-layer
  metrics: Spark job/stage/task counts and stage metrics per op, driver
  self time, single-process parse/fold/render timings, Spark-only floors,
  peak memory, and the tracing overhead.  Spans go to
  ``perfbench/_work/spans/``.
- ``--workload all`` runs every workload in its own process.
- ``--smoke`` runs every workload at 1% of its size with all checks.

Every op's output is checked against what the generator planted
(``gen.py``); the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  Metric names and units come from
``BENCHMARK.json``.  See ``perfbench/METRICS.md`` for what each metric
should move.  The JVM, its Python workers and every other process a run
starts have ended before it prints that line.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shlex
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext, redirect_stderr, redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# perfbench is imported as a package from the checkout root, so that the
# Python workers (whose PYTHONPATH is the root) can unpickle its functions
sys.path.insert(0, ROOT)
from perfbench import gen, layers  # noqa: E402

PACKAGE = "hive_serde_schema_gen_spark"
WORK = os.path.join(ROOT, "perfbench", "_work")
WORKLOADS = ("ndjson_nested_file", "json_column_flat", "ndjson_failfast_conflict")
# Warm-up rounds (reference job, then op) run after the cold op and before
# timing starts (METRICS.md has the drift curves this count comes from).
WARMUP_ROUNDS = 1
MIN_ROUNDS = 3
SMOKE_SCALE = 0.01
SAMPLE_ROWS = 10_000  # rows of the single-process parse/fold sample
TABLE = "bench"
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def pin_env(nproc: int, trace: bool) -> None:
    """Local Spark with nproc task slots, the package importable on the
    Python workers, the UI only when tracing, every temporary file under
    ``perfbench/_work``."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    for k in ("SPARK_MASTER", "SPARK_HOME_CLUSTER"):
        os.environ.pop(k, None)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    warehouse = os.path.join(WORK, "warehouse")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_UI": "1" if trace else "0",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={warehouse}"),
            "pyspark-shell",
        ]),
    })


def adopt_orphans() -> None:
    """Make this process the subreaper of the processes it starts, so that
    one orphaned by its parent (a Python worker whose JVM has exited) is
    reparented here and can be waited for."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session and end the JVM behind it: the JVM exits once its
    stdin closes, and is killed if it has not within ``timeout`` seconds."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def stop_descendants(grace: float = 10.0) -> None:
    """Terminate every process still below this one (kill after ``grace``
    seconds) and wait until each has ended and been reaped."""
    deadline = time.monotonic() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = layers.descendants(os.getpid())
        if not left:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def make_op(workload: str, spark, manifest: dict):
    """``(run, check)`` for one op of ``workload``: ``run(span)`` performs
    the op, wrapping its calls into the package in ``span(name)``;
    ``check(outcome)`` returns None if the output is right, else why not."""
    from hive_serde_schema_gen_spark import cli
    from hive_serde_schema_gen_spark.schema_infer import infer_json_column, render_definition

    path = manifest["path"]
    if workload == "json_column_flat":
        def run(span):
            with span("schema_infer.infer.infer_json_column"):
                schema = infer_json_column(spark.read.parquet(path), gen.COLUMN)
            with span("schema_infer.render.render_definition"):
                return render_definition(schema)

        def check(out):
            return None if out == gen.FLAT_DEFINITION else f"definition differs:\n{out}"

        return run, check

    def run(span):
        out, err = io.StringIO(), io.StringIO()
        with span("cli.main"), redirect_stdout(out), redirect_stderr(err):
            rc = cli.main([path, TABLE])
        return rc, out.getvalue(), err.getvalue()

    if workload == "ndjson_nested_file":
        want = gen.nested_ddl(path, TABLE) + "\n"

        def check(outcome):
            rc, out, err = outcome
            if rc == 0 and out == want and not err:
                return None
            return f"exit {rc}; stdout {'ok' if out == want else 'differs'}; stderr {err[:500]!r}"

        return run, check

    head, tail = gen.conflict_stderr(manifest["conflict_line"])

    def check(outcome):
        rc, out, err = outcome
        msg = err.rstrip("\n")
        if rc == 1 and not out and msg.startswith(head + "\n") and msg.endswith("\n" + tail):
            return None
        return f"exit {rc}; stdout {out[:200]!r}; stderr {err[:500]!r}"

    return run, check


class Ops:
    """Counts attempted and failed ops; a failed op is one whose check
    failed or that raised."""

    def __init__(self, run, check):
        self.run, self.check = run, check
        self.attempted = self.failed = 0

    def judge(self, fn):
        """Call ``fn()`` (which returns the op's outcome and anything
        else as a tuple); return its result, or None if the op failed."""
        self.attempted += 1
        try:
            outcome, *rest = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        why = self.check(outcome)
        if why is not None:
            self.failed += 1
            print(f"op {self.attempted} failed its check: {why}", file=sys.stderr)
            return None
        return rest

    def timed(self) -> float | None:
        def fn():
            t = time.perf_counter()
            outcome = self.run(lambda name: nullcontext())
            return outcome, time.perf_counter() - t

        res = self.judge(fn)
        return None if res is None else res[0]


def _sample(workload: str, manifest: dict) -> list[str]:
    """The workload's first SAMPLE_ROWS lines or strings, stopping before
    a planted conflict."""
    if workload == "json_column_flat":
        import pyarrow.parquet as pq

        col = pq.read_table(manifest["path"], columns=[gen.COLUMN]).column(gen.COLUMN)
        return col.slice(0, SAMPLE_ROWS).to_pylist()
    stop = min(SAMPLE_ROWS, (manifest["conflict_line"] or 1 << 62) - 1)
    with open(manifest["path"]) as f:
        return [ln.rstrip("\n") for _, ln in zip(range(stop), f)]


def window(seconds: float, ops: Ops, ref, traced=None) -> list[tuple]:
    """Rounds of (reference job, plain op[, traced op]) until ``seconds``
    have passed, and at least MIN_ROUNDS of them, closed by one more run
    of the reference job.  Each round gives (reference wall before, plain
    op wall or None, traced op stats or None, reference wall after); an
    op that failed gives None."""
    def ref_wall():
        t = time.perf_counter()
        ref()
        return time.perf_counter() - t

    rows = []
    start = time.perf_counter()
    while len(rows) < MIN_ROUNDS or time.perf_counter() - start < seconds:
        before = ref_wall()
        wall = ops.timed()
        stats = None if traced is None else ops.judge(traced)
        rows.append((before, wall, stats and stats[0]))
    afters = [r[0] for r in rows[1:]] + [ref_wall()]
    return [row + (after,) for row, after in zip(rows, afters)]


def wall_vs_ref(rounds) -> float:
    """Median over rounds of the plain op's wall over the mean of the
    reference walls just before and just after it."""
    ratios = [2 * w / (b + a) for b, w, _, a in rounds if w is not None]
    if not ratios:
        raise RuntimeError("no timed op succeeded")
    return statistics.median(ratios)


def traced_metrics(workload, rounds, tracer, spark, manifest: dict) -> dict:
    """Per-layer metrics: medians over the traced ops, the single-process
    layer timings, the floors and peak memory."""
    from hive_serde_schema_gen_spark.schema_infer import render_definition, render_table

    traced = [t for _, _, t, _ in rounds if t is not None]
    plain = [w for _, w, _, _ in rounds if w is not None]
    if not traced or not plain:
        raise RuntimeError("no traced or plain op succeeded")

    def med(key):
        return statistics.median(t[key] for t in traced)

    out = {f"spark.{k}": med(k) for k in (
        "jobs", "stages", "tasks", "core_busy_frac", "executor_run_s",
        "jvm_cpu_s", "python_wait_s", "gc_s", "result_bytes")}
    out["driver.self_s"] = med("driver_self_s")
    out["op.wall_s"] = statistics.median(plain)
    out["ref.wall_s"] = statistics.median(r for r, _, _, _ in rounds)
    out["trace.wall_s"] = med("wall_s")
    out["trace.overhead_s"] = out["trace.wall_s"] - out["op.wall_s"]

    path = manifest["path"]
    if workload == "json_column_flat":
        render, column = render_definition, gen.COLUMN
    else:
        render, column = (lambda s: render_table(s, TABLE, path)), None
    out.update(layers.sample_layers(tracer, _sample(workload, manifest), render))
    out.update(layers.floors(tracer, spark, path, column))
    out.update(layers.peak_memory())
    return out


def measure(args) -> tuple[dict, dict]:
    """One workload, one process: the contract's JSON result, and the
    figures to print beside it as ``{name: (value, unit)}``."""
    nproc = len(os.sched_getaffinity(0))
    pin_env(nproc, args.trace)
    scale = SMOKE_SCALE if args.smoke else 1.0
    # generated (and cross-checked) in a child process, so that this one
    # has imported nothing of the package or of pyspark when setup_s starts
    built = subprocess.run(
        [sys.executable, "-m", "perfbench.gen", args.workload, str(args.seed),
         str(scale), os.path.join(WORK, "data", f"scale{scale:g}"), str(nproc)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
    )
    manifest = json.loads(built.stdout.strip().splitlines()[-1])

    tracer = layers.Tracer()
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        from hive_serde_schema_gen_spark.session import get_spark

        spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ops = Ops(*make_op(args.workload, spark, manifest))
        with tracer.span("op.cold"):
            cold = ops.timed()
        setup_s = time.perf_counter() - t0
        column = gen.COLUMN if args.workload == "json_column_flat" else None
        ref = layers.reference_job(spark, manifest["path"], column)
        for _ in range(WARMUP_ROUNDS):  # the reference job warms up too
            ref()
            ops.timed()
        traced = None
        if args.trace:
            sc = spark.sparkContext

            def traced():
                stats = layers.traced_op(tracer, sc, ops.attempted, ops.run, nproc)
                return stats.pop("outcome"), stats

        rounds = window(args.seconds, ops, ref, traced)
        if args.trace:
            metrics = traced_metrics(args.workload, rounds, tracer, spark, manifest)
            metrics["session.get_spark_s"] = session_s
            metrics["setup.cold_op_s"] = cold if cold is not None else float("nan")
            report = {}
        else:
            metrics = {"setup_s": setup_s, "wall_vs_ref": wall_vs_ref(rounds)}
            # raw figures for the reader; they move with the host
            walls = [w for _, w, _, _ in rounds if w is not None]
            wall_s = statistics.median(walls)
            report = {
                "wall_s": (wall_s, "s"),
                "ref_wall_s": (statistics.median(r for r, _, _, _ in rounds), "s"),
                "input_mb_per_s": (manifest["json_bytes"] / 1e6 / wall_s, "MB/s"),
                "timed_ops": (len(walls), "count"),
            }
    finally:
        stop_spark(spark)
    if args.trace:
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        tracer.write(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.jsonl"))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    report.update((k, (m["value"], m["unit"])) for k, m in result["metrics"].items())
    report["failed_frac"] = (ops.failed / ops.attempted, "ratio")
    return result, report


def run_all(args) -> int:
    """Every workload in its own process, then one JSON line keyed by
    workload."""
    results = {}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{w}: exit {proc.returncode}", file=sys.stderr)
            return 1
        print("\n".join(lines[:-1]), flush=True)
        results[w] = json.loads(lines[-1])
    ok = all(r["correct"] for r in results.values())
    print(json.dumps({
        "correct": ok,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "workloads": results,
    }))
    return 0 if ok else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help=f"inputs at {SMOKE_SCALE:.0%} of their size, no timed window")
    args = p.parse_args(argv)
    if args.smoke:
        args.seconds = 0
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    adopt_orphans()
    try:
        if args.workload == "all":
            return run_all(args)
        result, report = measure(args)
    finally:
        stop_descendants()
    for k, (v, u) in report.items():
        print(f"{args.workload:26s} {k:28s} {v:14.6g} {u}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
