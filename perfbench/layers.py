"""Per-layer measurements for the traced run, taken from outside the package.

Nothing here reaches into the package's internals: spans wrap the
benchmark's own calls into ``session``, ``cli``, ``schema_infer.infer``,
``schema_infer.lattice`` and ``schema_infer.render``; Spark's job, stage and
task counts come from ``statusTracker`` on a job group set around each op;
stage metrics and job submission/completion times come from Spark's REST
status API (the traced session is built with the UI on); peak memory comes
from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    """Spans kept in memory -- name, start, end, parent and op id -- and
    written out as JSON lines at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []

    def add(self, name: str, start: float, end: float, op=None, parent=None, **attrs) -> dict:
        if parent is None and self._open:
            parent = self._open[-1]
        rec = {"id": len(self.spans), "name": name, "start": start, "end": end,
               "parent": parent, "op": op, **attrs}
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, op=None, **attrs):
        rec = self.add(name, time.time(), None, op, **attrs)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


# ---------------------------------------------------------------------------
# Spark status: statusTracker counts and REST stage metrics
# ---------------------------------------------------------------------------


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _epoch(ts: str) -> float:
    # the REST API prints "2026-10-16T18:03:32.123GMT"
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def op_spark_stats(sc, group: str, timeout: float = 10.0) -> dict:
    """Jobs, stages and tasks of the job group ``group`` from
    ``statusTracker``, plus the summed stage metrics and the job spans
    (submission to completion) from the REST API.  Polls until Spark's
    listener has recorded every stage as finished."""
    st = sc.statusTracker()
    jobs = sorted(st.getJobIdsForGroup(group))
    stage_ids = sorted(s for j in jobs for s in st.getJobInfo(j).stageIds)
    tasks = sum(st.getStageInfo(s).numTasks for s in stage_ids)
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    api = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + timeout
    while True:
        job_recs = [_rest(f"{api}/jobs/{j}") for j in jobs]
        stage_recs = [a for s in stage_ids for a in _rest(f"{api}/stages/{s}")]
        done = all(j.get("completionTime") for j in job_recs) and all(
            a["status"] in ("COMPLETE", "FAILED", "SKIPPED") for a in stage_recs
        )
        if done or time.time() > deadline:
            break
        time.sleep(0.05)
    if not done:
        raise RuntimeError(f"Spark status for job group {group} incomplete after {timeout}s")
    return {
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "tasks": tasks,
        "executor_run_s": sum(a["executorRunTime"] for a in stage_recs) / 1e3,
        "jvm_cpu_s": sum(a["executorCpuTime"] for a in stage_recs) / 1e9,
        "gc_s": sum(a["jvmGcTime"] for a in stage_recs) / 1e3,
        "result_bytes": sum(a["resultSize"] for a in stage_recs),
        "job_spans": [
            (j["jobId"], _epoch(j["submissionTime"]), _epoch(j["completionTime"]))
            for j in job_recs
        ],
    }


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def traced_op(tracer: Tracer, sc, op_id: int, run_op, nproc: int) -> dict:
    """Run ``run_op(span)`` inside a job group and a root span; return its
    per-layer numbers and record its Spark jobs as child spans."""
    group = f"perfbench-op-{op_id}"
    sc.setJobGroup(group, f"perfbench op {op_id}")
    try:
        with tracer.span("op", op=op_id) as root:
            outcome = run_op(lambda name: tracer.span(name, op=op_id))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    wall = root["end"] - root["start"]
    stats = op_spark_stats(sc, group)
    jobs = []
    for jid, start, end in stats.pop("job_spans"):
        tracer.add("spark.job", start, end, op=op_id, parent=root["id"], job_id=jid)
        # clipped to the op: REST times have millisecond resolution
        jobs.append((max(start, root["start"]), min(end, root["end"])))
    stats["wall_s"] = wall
    stats["driver_self_s"] = wall - union_length(jobs)
    stats["python_wait_s"] = stats["executor_run_s"] - stats["jvm_cpu_s"]
    stats["core_busy_frac"] = stats["executor_run_s"] / (wall * nproc)
    stats["outcome"] = outcome
    return stats


# ---------------------------------------------------------------------------
# Single-process layer timings on the workload's own sample
# ---------------------------------------------------------------------------


def _median_time(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def sample_layers(tracer: Tracer, sample: list[str], render, reps: int = 3) -> dict:
    """``parse_line`` and ``observe`` over ``sample`` in this process,
    scaled to 100k rows, and ``render`` on the folded schema."""
    from hive_serde_schema_gen_spark.schema_infer import EMPTY_STRUCT, observe, parse_line

    def parse():
        return [parse_line(x) for x in sample]

    values = parse()

    def fold():
        schema = EMPTY_STRUCT
        for v in values:
            schema = observe(schema, v)
        return schema

    per_100k = 100_000 / len(sample)
    with tracer.span("schema_infer.infer.parse_line", rows=len(sample)):
        parse_s = _median_time(parse, reps)
    with tracer.span("schema_infer.lattice.observe", rows=len(sample)):
        observe_s = _median_time(fold, reps)
    schema = fold()
    with tracer.span("schema_infer.render"):
        render_s = min(_median_time(lambda: render(schema), 50) for _ in range(3))
    return {
        "parse_line.s_per_100k": parse_s * per_100k,
        "observe.s_per_100k": observe_s * per_100k,
        "render.ms": render_s * 1e3,
    }


# ---------------------------------------------------------------------------
# The reference job: the host's current speed, on the op's own input
# ---------------------------------------------------------------------------


def _walk(v) -> int:
    if isinstance(v, dict):
        return 1 + sum(_walk(x) for x in v.values())
    if isinstance(v, list):
        return 1 + sum(_walk(x) for x in v)
    return 1


def _ref_lines(lines):
    yield sum(_walk(json.loads(s)) for s in lines)


def _ref_batches(batches):
    import pandas as pd

    n = 0
    for pdf in batches:
        # every 2nd string: the op parses each distinct string once, and
        # half the column is distinct
        for s in pdf.iloc[::2, 0]:
            n += _walk(json.loads(s))
    yield pd.DataFrame({"n": [n]})


def reference_job(spark, path: str, column: str | None):
    """A job that reads the op's input with the op's task layout and, in
    the Python workers, parses every row with the standard library's
    ``json`` and walks it -- no package code.  It runs between ops, so
    that its wall time tracks how fast this host runs that kind of work
    at that moment.  Returns a function that runs the job once and
    returns the number of JSON values it walked."""
    if column is None:
        return lambda: sum(spark.sparkContext.textFile(path).mapPartitions(_ref_lines).collect())
    # one row per task collected, as the op collects one partial per task
    return lambda: sum(r.n for r in spark.read.parquet(path).select(column)
                       .mapInPandas(_ref_batches, "n long").collect())


# ---------------------------------------------------------------------------
# Spark-only floors: must not move with package changes
# ---------------------------------------------------------------------------


def _count_batches(batches):
    import pandas as pd

    n = 0
    for pdf in batches:
        n += len(pdf)
    yield pd.DataFrame({"n": [n]})


def floors(tracer: Tracer, spark, path: str, column: str | None, reps: int = 3) -> dict:
    """Spark-only reference times on the op's own input: a plain scan, the
    JVM's own JSON schema inference, and an Arrow pass into Python that
    only counts rows.  ``column`` is None for an NDJSON file, else the
    string column of a parquet file."""
    from pyspark.sql import functions as F

    def frame():
        if column is None:
            return spark.read.text(path)
        return spark.read.parquet(path).select(column)

    def scan():
        if column is None:
            return frame().count()
        return frame().agg(F.count(column)).collect()

    def json_infer():
        if column is None:
            return spark.read.json(path)
        jds = getattr(frame()._jdf, "as")(spark._jvm.org.apache.spark.sql.Encoders.STRING())
        return spark._jsparkSession.read().json(jds)

    def arrow():
        frame().mapInPandas(_count_batches, "n long").agg(F.sum("n")).collect()

    out = {}
    for name, fn in (("floor.read_text_count_s", scan),
                     ("floor.read_json_infer_s", json_infer),
                     ("floor.arrow_passthrough_s", arrow)):
        fn()  # warm
        with tracer.span(name):
            out[name] = _median_time(fn, reps)
    return out


# ---------------------------------------------------------------------------
# Memory: peak RSS of the JVM and its Python workers
# ---------------------------------------------------------------------------


def _proc_children() -> dict:
    """``{parent pid: [child pids]}`` of every process in ``/proc``."""
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; the fields after its closing paren do not
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` in the process tree."""
    kids = _proc_children()
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _vmhwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_memory() -> dict:
    """``VmHWM`` of the JVM this process launched and the largest one of
    its Python workers."""
    jvm, workers = 0.0, 0.0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm == "java":
            jvm = max(jvm, _vmhwm_mb(pid))
        elif comm.startswith("python"):
            workers = max(workers, _vmhwm_mb(pid))
    return {"jvm.vmhwm_mb": jvm, "workers.vmhwm_mb": workers}
