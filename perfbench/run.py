"""Benchmark launcher for the spark-graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

It generates the workload's input from ``--seed`` (``datagen.py``),
pins the run environment, runs one ``worker.py`` process in its own
session, kills whatever that session leaves behind, and prints the
result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the ``end_to_end`` metrics of ``BENCHMARK.json``
and ``--trace 1`` its ``per_layer`` metrics, from a run with the event
log, the streaming listener and the per-query spans on. A traced run
also reports its tracing overhead (traced minus untraced ``pass_s``)
when the untraced run of the same workload and seed has left its
report. Details (pass samples, per-query medians, failures, host steal and
calibration, per-query reconciliation) go to
``.perfbench_out/<workload>-seed<seed>-trace<0|1>.json``.

Everything the run writes stays under the checkout: inputs, Spark
local and temporary files, streaming checkpoints and the event log live
in ``.perfbench_work/`` and are deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from worker import WORKLOADS, session_pids  # noqa: E402

DEADLINE_S = 170.0
# The engine's default driver heap (48g) is sized for a large host;
# this benchmark's inputs need a small fraction of it.
DRIVER_MEM = "2g"


def stop_session(proc: subprocess.Popen) -> None:
    """Kill every process left in the worker's session and wait for it."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    for _ in range(100):
        left = session_pids(proc.pid)
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise RuntimeError(f"processes of the run did not exit: {session_pids(proc.pid)}")


def worker_env(work: str, cores: int, event_log: str | None) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "local"))
    # no perf-data files: a JVM writes them to /tmp whatever tmpdir says
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if event_log:
        os.makedirs(event_log)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
            "--conf", "spark.eventLog.compress=false",
        ]  # fmt: skip
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def run_worker(args, work: str, trace: bool, data: str, deadline: float) -> dict | None:
    cores = len(os.sched_getaffinity(0))
    event_log = os.path.join(work, "events") if trace else None
    env = worker_env(work, cores, event_log)
    result = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(int(trace)), "--data-dir", data,
        "--event-log", event_log or "", "--spawned-at", repr(time.time()), "--result", result,
    ]  # fmt: skip
    cwd = os.path.join(work, "cwd")
    os.makedirs(cwd)
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded the {DEADLINE_S:.0f}s deadline", file=sys.stderr)
    finally:
        stop_session(proc)
    if proc.returncode != 0 or not os.path.exists(result):
        print(f"perfbench: worker exited with {proc.returncode} and no result", file=sys.stderr)
        return None
    with open(result) as fh:
        out = json.load(fh)
    out["env"] = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS", "TMPDIR")}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="input scale instead of the workload's own (the self-test uses 0.001)")
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    # a terminated launcher still reaps its worker session (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("monday_etl_automation_spark/plans/registry.py", "tests/oracle_compare.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing; run from a checkout of the engine", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    import datagen

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    try:
        t0 = time.time()
        data = os.path.join(work, "data")
        datagen.write(data, args.sf or WORKLOADS[args.workload]["sf"], args.seed)
        gen_s = time.time() - t0
        run = run_worker(args, work, bool(args.trace), data, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if run is None:
        return 1
    run["gen_s"] = gen_s

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    report = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if args.trace:
        values, declared = run["per_layer"], spec["per_layer"]
        untraced = report[: -len("trace1.json")] + "trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as fh:
                run["tracing_overhead_s"] = values["trace.pass_s"] - json.load(fh)["end_to_end"]["pass_s"]
            print(f"# tracing overhead: {run['tracing_overhead_s']:+.3f} s per pass")
    else:
        values, declared = run["end_to_end"], spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], float("nan")), "unit": m["unit"]} for m in declared}
    finite = all(isinstance(m["value"], (int, float)) and math.isfinite(m["value"]) for m in metrics.values())
    with open(report, "w") as fh:
        json.dump(run, fh, indent=1)
    print(f"# perfbench report: {os.path.relpath(report, ROOT)}")
    for f in run["failures"] + run["mismatches"]:
        print(f"# failed: {f}")
    print(
        json.dumps(
            {
                "correct": run["failed"] == 0 and finite,
                "attempted": run["attempted"],
                "failed": run["failed"],
                "metrics": {k: {"value": v["value"] if finite else None, "unit": v["unit"]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
