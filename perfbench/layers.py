"""Per-layer accounting for the traced benchmark run.

Three sources, all public Spark observation surfaces or the benchmark's
own timers:

- ``Spans``: wall-clock intervals the worker records around each query
  builder call, each noop write and each pass, tagged with pass and
  query.
- ``StreamProgress``: a ``StreamingQueryListener`` that keeps every
  micro-batch progress report (``durationMs``, input rows, state
  operator commit time and rows).
- ``read_event_log``: the uncompressed Spark event log, from which jobs,
  stages and per-task metrics are read, plus the SQL metrics of the
  Python-evaluation operators (matched through the plan info of each
  SQL execution).

``analyse`` joins them: every job and stage is attributed to the
span its submission time falls in, and every streaming progress report
to the pass whose wall interval holds it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0
# Plan nodes that run Python UDFs, and their SQL metrics.
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
ROWS = "number of output rows"
# Set on the driver when a file scan is planned. The task-side input
# byte counter misses the vectorized parquet reader's reads.
FILES_READ = "size of files read"

# Counts that repeat exactly between runs of the same code on the same
# input (the self-test checks it); every other per-layer metric is a
# time or a byte volume and varies run to run.
EXACT_COUNTS = (
    "plans.build_jobs",
    "plans.exec_jobs",
    "spark.failed_tasks",
    "sources.load_table_calls",
    "sources.scan_rows",
    "sources.artifact_entries_added",
    "functions.python_rows_in",
    "streaming.batches",
    "streaming.rows_in",
    "streaming.state_rows",
)


@dataclass
class Span:
    pass_no: int  # 1 = cold pass, 2.. = timed steady passes
    query: str
    phase: str  # "build", "exec" or "pass"
    t0: float
    t1: float


class Spans:
    """Append-only span list; the worker is single-threaded."""

    def __init__(self) -> None:
        self.items: list[Span] = []

    def add(self, pass_no: int, query: str, phase: str, t0: float, t1: float) -> None:
        self.items.append(Span(pass_no, query, phase, t0, t1))

    def find(self, t: float, phases: tuple[str, ...]) -> Span | None:
        for s in self.items:
            if s.phase in phases and s.t0 <= t <= s.t1:
                return s
        return None


class StreamProgress(StreamingQueryListener):
    """Keeps every micro-batch progress report of every streaming query."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
        ops = p.stateOperators or []
        rec = {
            "t": ts,
            "rows_in": int(p.numInputRows),
            "duration_ms": dict(p.durationMs),
            "state_commit_ms": sum(int(o.commitTimeMs) for o in ops),
            "state_rows": sum(int(o.numRowsUpdated) for o in ops),
        }
        with self.lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def _plan_accumulators(app: str, plan: dict, python: dict, files_read: set) -> None:
    """Collect the accumulator ids of scan file sizes and, for each
    Python-evaluation node (matched by node name: other operators reuse
    its metric names), of its bytes sent and returned and of the rows
    fed to it (the output-row metric of its nearest descendant that has
    one)."""
    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if FILES_READ in names:
        files_read.add((app, names[FILES_READ]))
    if PYTHON_NODE.search(plan.get("nodeName", "")):
        for metric, kind in ((PY_SENT, "mb_in"), (PY_RECV, "mb_out")):
            if metric in names:
                python[(app, names[metric])] = kind
        child = plan["children"][0] if plan.get("children") else None
        while child is not None:
            cm = {m["name"]: m["accumulatorId"] for m in child.get("metrics", [])}
            if ROWS in cm:
                python[(app, cm[ROWS])] = "rows_in"
                break
            child = child["children"][0] if child.get("children") else None
    for c in plan.get("children", []):
        _plan_accumulators(app, c, python, files_read)


def read_event_log(log_dir: str) -> tuple[dict, dict, list]:
    """Jobs, per-stage task aggregates, and (time, bytes) of every
    planned file scan, from every event log under ``log_dir`` (times in
    epoch seconds)."""
    jobs: dict[tuple, dict] = {}
    stages: dict[tuple, dict] = {}
    python: dict[tuple, str] = {}  # (app, accumulator id) -> python metric
    files_read: set[tuple] = set()
    exec_start: dict[tuple, float] = {}
    scan_updates: list[tuple] = []
    tasks: list[tuple] = []
    # rolling logs: <app dir>/events_<n>_<app id>, in order of n
    paths = glob.glob(os.path.join(log_dir, "*", "events_*"))
    for path in sorted(paths, key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1]))):
        app = os.path.dirname(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[(app, ev["Job ID"])] = {
                        "t0": ev["Submission Time"] / 1000.0,
                        "group": group,
                        "stages": [(app, sid) for sid in ev.get("Stage IDs", [])],
                    }
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, ev["Job ID"]))
                    if job is not None:
                        job["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault((app, info["Stage ID"], info["Stage Attempt ID"]), {})
                    st["t0"] = info.get("Submission Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((app, ev))
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    if "time" in ev:
                        exec_start[(app, ev["executionId"])] = ev["time"] / 1000.0
                    _plan_accumulators(app, ev["sparkPlanInfo"], python, files_read)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    scan_updates.append((app, ev["executionId"], ev["accumUpdates"]))
    for app, ev in tasks:
        key = (app, ev["Stage ID"], ev["Stage Attempt ID"])
        st = stages.setdefault(key, {"t0": ev["Task Info"]["Launch Time"] / 1000.0})
        _add_task(st, app, ev, python)
    scans = [
        (exec_start.get((app, ex), 0.0), v)
        for app, ex, updates in scan_updates
        for acc, v in updates
        if (app, acc) in files_read
    ]
    return jobs, stages, scans


def _add_task(st: dict, app: str, ev: dict, python: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    inp, out = m.get("Input Metrics", {}), m.get("Output Metrics", {})
    run_ms = m.get("Executor Run Time", 0)
    duration = info["Finish Time"] - info["Launch Time"]
    overhead = run_ms + m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
    records_in = inp.get("Records Read", 0) + sr.get("Total Records Read", 0)
    records_out = sw.get("Shuffle Records Written", 0) + out.get("Records Written", 0)
    acc = {"mb_in": 0, "mb_out": 0, "rows_in": 0}
    for a in info.get("Accumulables", []):
        kind = python.get((app, a.get("ID")))
        if kind is not None and a.get("Update") is not None:
            acc[kind] += int(a["Update"])
    values = {
        "tasks": 1,
        "failed_tasks": int(bool(info.get("Failed"))),
        "empty_tasks": int(records_in == 0 and records_out == 0),
        "run_s": run_ms / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "sched_delay_s": max(0, duration - overhead - info.get("Getting Result Time", 0)) / 1000.0,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
        "scan_rows": inp.get("Records Read", 0),
        "python_mb_in": acc["mb_in"] / MB,
        "python_mb_out": acc["mb_out"] / MB,
        "python_rows_in": acc["rows_in"],
    }
    for k, v in values.items():
        st[k] = st.get(k, 0) + v


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _attribute_jobs(spans: Spans, jobs: dict) -> None:
    by_group = {f"perfbench:{s.pass_no}:{s.query}:{s.phase}": s for s in spans.items}
    for job in jobs.values():
        span = by_group.get(job["group"]) or spans.find(job["t0"], ("build", "exec"))
        if span is not None:
            job["span"] = span


def analyse(spans: Spans, log_dir: str, progress: StreamProgress, cores: int, timed: list[int], cold: int) -> dict:
    """Per-layer metrics (median over the ``timed`` passes of each
    pass's sum), the same for the ``cold`` pass, the per-query
    reconciliation, and the span tree (query -> builder / noop write ->
    jobs -> stages)."""
    jobs, stages, scans = read_event_log(log_dir)
    _attribute_jobs(spans, jobs)
    with progress.lock:
        batches = list(progress.batches)
    steady = [_pass_metrics(spans, jobs, stages, scans, batches, cores, p) for p in timed]
    return {
        "per_layer": {k: statistics.median(v[k] for v in steady) for k in steady[0]},
        "cold": _pass_metrics(spans, jobs, stages, scans, batches, cores, cold),
        "reconciliation": _reconcile(spans, jobs, timed),
        "spans": _span_tree(spans, jobs, stages),
    }


def _pass_metrics(spans: Spans, jobs: dict, stages: dict, scans: list, batches: list[dict], cores: int, p: int) -> dict:
    ps = next(s for s in spans.items if s.pass_no == p and s.phase == "pass")
    wall = ps.t1 - ps.t0
    mine = [j for j in jobs.values() if j.get("span") is not None and j["span"].pass_no == p and "t1" in j]
    st = [s for s in stages.values() if ps.t0 <= s.get("t0", 0) <= ps.t1]
    agg = {k: sum(s.get(k, 0) for s in st) for k in _STAGE_KEYS}
    sb = [b for b in batches if ps.t0 <= b["t"] <= ps.t1]
    trig = sum(b["duration_ms"].get("triggerExecution", 0) for b in sb) / 1000.0
    add = sum(b["duration_ms"].get("addBatch", 0) for b in sb) / 1000.0
    spans_p = [s for s in spans.items if s.pass_no == p]
    return {
        "plans.build_s": sum(s.t1 - s.t0 for s in spans_p if s.phase == "build"),
        "plans.build_jobs": sum(1 for j in mine if j["span"].phase == "build"),
        "plans.exec_s": sum(s.t1 - s.t0 for s in spans_p if s.phase == "exec"),
        "plans.exec_jobs": sum(1 for j in mine if j["span"].phase == "exec"),
        "plans.driver_gap_s": wall - _union_s([(j["t0"], j["t1"]) for j in mine]),
        "spark.stages": len(st),
        "spark.tasks": agg["tasks"],
        "spark.failed_tasks": agg["failed_tasks"],
        "spark.empty_task_ratio": agg["empty_tasks"] / agg["tasks"] if agg["tasks"] else 0.0,
        "spark.scheduler_delay_s": agg["sched_delay_s"],
        "spark.slot_busy_ratio": agg["run_s"] / (wall * cores),
        "spark.executor_run_s": agg["run_s"],
        "spark.executor_cpu_s": agg["cpu_s"],
        "spark.gc_s": agg["gc_s"],
        "spark.shuffle_write_mb": agg["shuffle_write_mb"],
        "spark.shuffle_read_mb": agg["shuffle_read_mb"],
        "spark.spill_mb": agg["spill_mb"],
        "sources.scan_mb": sum(v for t, v in scans if ps.t0 <= t <= ps.t1) / MB,
        "sources.scan_rows": agg["scan_rows"],
        "functions.python_rows_in": agg["python_rows_in"],
        "functions.python_mb_in": agg["python_mb_in"],
        "functions.python_mb_out": agg["python_mb_out"],
        "streaming.batches": len(sb),
        "streaming.rows_in": sum(b["rows_in"] for b in sb),
        "streaming.trigger_s": trig,
        "streaming.add_batch_s": add,
        "streaming.commit_s": sum(b["duration_ms"].get("walCommit", 0) + b["duration_ms"].get("commitOffsets", 0) for b in sb)
        / 1000.0,
        "streaming.state_commit_s": sum(b["state_commit_ms"] for b in sb) / 1000.0,
        "streaming.state_rows": sum(b["state_rows"] for b in sb),
        "streaming.overhead_s_per_batch": (trig - add) / len(sb) if sb else 0.0,
    }


def _span_tree(spans: Spans, jobs: dict, stages: dict) -> list[dict]:
    by_stage: dict[tuple, list[dict]] = {}
    for (app, sid, _), st in stages.items():
        by_stage.setdefault((app, sid), []).append(st)
    out = []
    for s in spans.items:
        if s.phase == "pass":
            continue
        js = sorted(((k, j) for k, j in jobs.items() if j.get("span") is s), key=lambda kj: kj[1]["t0"])
        out.append(
            {
                "pass": s.pass_no,
                "query": s.query,
                "phase": s.phase,
                "t0": round(s.t0, 3),
                "t1": round(s.t1, 3),
                "jobs": [
                    {
                        "job": k[1],
                        "t0": j["t0"],
                        "t1": j.get("t1"),
                        "stages": [
                            {"stage": sid[1], "tasks": st.get("tasks", 0), "run_s": round(st.get("run_s", 0), 3)}
                            for sid in j["stages"]
                            for st in by_stage.get(sid, [])
                        ],
                    }
                    for k, j in js
                ],
            }
        )
    return out


_STAGE_KEYS = (
    "tasks",
    "failed_tasks",
    "empty_tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "sched_delay_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "scan_rows",
    "python_mb_in",
    "python_mb_out",
    "python_rows_in",
)


def _reconcile(spans: Spans, jobs: dict, timed_passes: list[int]) -> dict:
    """Per query, medians over the timed passes of: wall (builder +
    write span), builder and write time, summed and unioned job time,
    driver gap (wall minus job union), and the two residuals the
    accounting leaves: wall - (build + exec), and wall - (summed job
    time + driver gap), which is the overlap of concurrent jobs."""
    rows: dict[str, list[dict]] = {}
    for p in timed_passes:
        qs: dict[str, list[Span]] = {}
        for s in spans.items:
            if s.pass_no == p and s.phase in ("build", "exec"):
                qs.setdefault(s.query, []).append(s)
        for q, ss in qs.items():
            t0, t1 = min(s.t0 for s in ss), max(s.t1 for s in ss)
            js = [j for j in jobs.values() if j.get("span") in ss and "t1" in j]
            wall = t1 - t0
            job_sum = sum(j["t1"] - j["t0"] for j in js)
            gap = wall - _union_s([(j["t0"], j["t1"]) for j in js])
            build = sum(s.t1 - s.t0 for s in ss if s.phase == "build")
            exec_ = sum(s.t1 - s.t0 for s in ss if s.phase == "exec")
            rows.setdefault(q, []).append(
                {
                    "wall_s": wall,
                    "build_s": build,
                    "exec_s": exec_,
                    "jobs": len(js),
                    "job_sum_s": job_sum,
                    "driver_gap_s": gap,
                    "residual_build_exec_s": wall - build - exec_,
                    "residual_jobs_gap_s": wall - job_sum - gap,
                }
            )
    return {q: {k: round(statistics.median(r[k] for r in rs), 4) for k in rs[0]} for q, rs in rows.items()}
