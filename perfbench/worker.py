"""One benchmark run inside the environment ``run.py`` prepares.

A single closed-loop client: this process runs the workload's queries
one after another, each as ``queries()[name](spark, dir)`` followed by
``.write.format("noop")``, and writes its measurements as JSON to
``--result``. Phases:

1. set-up: create the session (``session.get_spark``) and load the
   registry (``registry.queries()``). It is timed from the moment the
   process is spawned, so it includes interpreter, JVM and module
   start-up.
2. cold pass: every query once on the workload input. Nothing runs
   before it, so it pays what a one-shot run of each query pays: the
   first-run JIT and code generation, Python worker start-up, and the
   per-snapshot artifact builds (``sources.tables.session_artifact_cache``).
3. check, untimed: every query is built again and its collected output
   compared with its ``registry.oracle_sql()`` twin through DuckDB
   (``tests/oracle_compare.py``). This second execution is also the
   warm-up of the steady passes: on a 4-core host a query still runs
   20-40% slower the second time than later, while the JIT compiles.
4. steady passes, each in a seed-shuffled query order, until
   ``--seconds`` have passed and at least ``MIN_PASSES`` are timed.

With ``--trace 1`` the event log (configured by ``run.py``), a
streaming-query listener, per-query job groups and timers around
``sources.tables.load_table`` and the artifact caches are on, and the
result holds per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]

MIN_PASSES = 3
MB = 1024.0 * 1024.0

# Why each workload exists, and the scale it runs at, is in README.md.
WORKLOADS: dict[str, dict] = {
    "relational": {
        "sf": 0.1,
        "queries": ("q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue", "q10_returned_customers"),
    },
    "pipelines": {
        "sf": 0.01,
        "queries": ("stream_tumbling_replay", "stateful_user_totals", "minhash_lsh_candidates", "media_pipeline"),
    },
}


def session_stats(sid: int) -> list[tuple[int, str, list[str]]]:
    """(pid, command name, /proc/<pid>/stat fields from the state on)
    of every live process whose session id is ``sid``."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended between listing and reading
        comm, rest = stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()
        if int(rest[3]) == sid:
            out.append((int(pid), comm, rest))
    return out


def session_pids(sid: int) -> list[int]:
    """Every live process whose session id is ``sid``."""
    return [pid for pid, _, _ in session_stats(sid)]


class RssPeak:
    """Peak summed resident memory of every process in this process's
    session (the driver, its JVM and the JVM's Python workers)."""

    def __init__(self, interval: float = 0.1) -> None:
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self.interval = interval
        self.stop = threading.Event()
        self.sid = os.getsid(0)
        self.page = os.sysconf("SC_PAGE_SIZE")
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def sample(self) -> dict[str, int]:
        """Resident bytes per command name. A child the JVM spawns to run
        a command (Hadoop's local file system shells out to chmod) shares
        the JVM's address space until it execs, with the same size,
        resident pages and stack: it is counted once."""
        by_comm: dict[str, int] = {}
        seen = set()
        for _, comm, f in session_stats(self.sid):
            vsize, rss, startstack = f[20], int(f[21]), f[25]
            if (vsize, rss, startstack) in seen:
                continue
            seen.add((vsize, rss, startstack))
            by_comm[comm] = by_comm.get(comm, 0) + rss * self.page
        return by_comm

    def _run(self) -> None:
        while not self.stop.is_set():
            by_comm = self.sample()
            if sum(by_comm.values()) > self.peak:
                self.peak, self.at_peak = sum(by_comm.values()), by_comm
            self.stop.wait(self.interval)

    def close(self) -> float:
        self.stop.set()
        self.thread.join()
        return self.peak / MB


def steal_s() -> float | None:
    """Cumulative hypervisor steal over all CPUs in seconds (/proc/stat),
    or None where the field is unavailable."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / 100.0
    except (OSError, IndexError, ValueError):
        return None


def calib_ms() -> float:
    """Fixed single-thread loop, min of 3 (ms): a slow host shows here."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        best = min(best, (time.perf_counter() - t0) * 1000.0)
    return best


class LayerCounters:
    """Trace-only timers around ``sources.tables.load_table`` and a
    count of new entries in the session's artifact caches."""

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0

    def install(self) -> None:
        from monday_etl_automation_spark.sources import tables

        original = tables.load_table

        def timed_load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t0

        # plan modules bind the function by name at import time
        for name, mod in list(sys.modules.items()):
            if name.startswith("monday_etl_automation_spark") and getattr(mod, "load_table", None) is original:
                mod.load_table = timed_load_table

    @staticmethod
    def artifact_keys(spark) -> set:
        keys = set()
        for attr, cache in vars(spark).items():
            if attr.startswith("_mea_cache_"):
                keys.update((attr, repr(k)) for k in cache)
        return keys


class Runner:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.queries = list(WORKLOADS[args.workload]["queries"])
        self.trace = bool(args.trace)
        self.failures: list[dict] = []
        self.attempted = 0
        from layers import Spans, StreamProgress

        self.spans = Spans()
        self.progress = StreamProgress() if self.trace else None
        self.counters = LayerCounters() if self.trace else None
        self.per_pass_counts: dict[int, dict] = {}

    # -- one query -------------------------------------------------------
    def run_query(self, spark, fn, name: str, sf_dir: str, pass_no: int) -> float | None:
        """Build and noop-write one query; returns its seconds, or None
        after recording a failure."""
        self.attempted += 1
        group = f"perfbench:{pass_no}:{name}"
        t0 = time.time()
        try:
            if self.trace:
                spark.sparkContext.setJobGroup(f"{group}:build", f"{name} builder")
            df = fn(spark, sf_dir)
            t1 = time.time()
            if self.trace:
                spark.sparkContext.setJobGroup(f"{group}:exec", f"{name} noop write")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception as ex:  # noqa: BLE001 (one failed query must not end the run)
            self.failures.append({"query": name, "pass": pass_no, "error": f"{type(ex).__name__}: {str(ex)[:300]}"})
            traceback.print_exc()
            return None
        self.spans.add(pass_no, name, "build", t0, t1)
        self.spans.add(pass_no, name, "exec", t1, t2)
        return t2 - t0

    def run_pass(self, spark, qs, sf_dir: str, pass_no: int, order: list[str]) -> tuple[float, dict]:
        before = LayerCounters.artifact_keys(spark) if self.trace else None
        calls0, secs0 = (self.counters.calls, self.counters.seconds) if self.trace else (0, 0.0)
        times = {}
        t0 = time.time()
        for name in order:
            times[name] = self.run_query(spark, qs[name], name, sf_dir, pass_no)
        t1 = time.time()
        self.spans.add(pass_no, "*", "pass", t0, t1)
        if self.trace:
            self.per_pass_counts[pass_no] = {
                "sources.load_table_calls": self.counters.calls - calls0,
                "sources.load_table_s": self.counters.seconds - secs0,
                "sources.artifact_entries_added": len(LayerCounters.artifact_keys(spark) - before),
            }
        return t1 - t0, times

    # -- the run ---------------------------------------------------------
    def main(self) -> dict:
        args = self.args
        rss = RssPeak()
        from monday_etl_automation_spark import session

        t0 = time.time()
        spark = session.get_spark(f"perfbench-{args.workload}")
        get_spark_s = time.time() - t0
        t0 = time.time()
        from monday_etl_automation_spark.plans import registry

        qs = registry.queries()
        oracles = registry.oracle_sql()
        registry_load_s = time.time() - t0
        setup_s = time.time() - args.spawned_at
        cores = spark.sparkContext.defaultParallelism
        if self.trace:
            spark.streams.addListener(self.progress)
            self.counters.install()

        cold_s, cold_times = self.run_pass(spark, qs, args.data_dir, 1, self.queries)
        from oracle_compare import assert_matches_oracle

        t_check = time.time()
        if self.trace:
            spark.sparkContext.setJobGroup("perfbench:check", "oracle check")  # in no span
        mismatches = []
        for name in self.queries:
            self.attempted += 1
            try:
                assert_matches_oracle(qs[name](spark, args.data_dir), oracles[name], args.data_dir)
            except Exception as ex:  # noqa: BLE001 (a mismatch or error is a counted failure)
                mismatches.append({"query": name, "error": f"{type(ex).__name__}: {str(ex)[:300]}"})
        check_s = time.time() - t_check
        rng = random.Random(args.seed)
        passes: list[float] = []
        per_query: dict[str, list[float]] = {q: [] for q in self.queries}
        host: list[dict] = []
        t_measure = time.time()
        pass_no = 2
        while len(passes) < MIN_PASSES or time.time() - t_measure < args.seconds:
            order = list(self.queries)
            rng.shuffle(order)
            spark.sparkContext._jvm.System.gc()  # noqa: SLF001 (same start state per pass)
            s0 = steal_s()
            wall, times = self.run_pass(spark, qs, args.data_dir, pass_no, order)
            s1 = steal_s()
            host.append({"steal_cpu_s": None if s0 is None or s1 is None else round(s1 - s0, 2), "calib_ms": round(calib_ms(), 1)})
            passes.append(wall)
            for q, t in times.items():
                if t is not None:
                    per_query[q].append(t)
            pass_no += 1
        measured_s = time.time() - t_measure
        peak_rss_mb = rss.close()

        if self.trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
        session.stop_spark()

        medians = {q: statistics.median(v) for q, v in per_query.items() if v}
        q1, _, q3 = statistics.quantiles(passes, n=4) if len(passes) > 1 else (passes[0],) * 3
        result = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "attempted": self.attempted,
            "failed": len(self.failures) + len(mismatches),
            "failures": self.failures,
            "mismatches": mismatches,
            "setup_s": setup_s,
            "pass_samples_s": passes,
            "pass_quartiles_s": [q1, statistics.median(passes), q3],
            "check_s": check_s,
            "measured_s": measured_s,
            "cold_query_s": cold_times,
            "query_median_s": medians,
            "host": host,
            "rss_at_peak_mb": {k: round(v / MB, 1) for k, v in rss.at_peak.items()},
            "end_to_end": {
                "setup_s": setup_s,
                "cold_pass_s": cold_s,
                "pass_s": statistics.median(passes),
                "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in medians.values()))
                if len(medians) == len(self.queries)
                else float("nan"),
                "peak_rss_mb": peak_rss_mb,
            },
        }
        if self.trace:
            result.update(self.layers(cores, passes, get_spark_s, registry_load_s))
            result["per_layer"]["spark.peak_rss_mb"] = peak_rss_mb
        return result

    def layers(self, cores: int, passes: list[float], get_spark_s: float, registry_load_s: float) -> dict:
        from layers import analyse

        timed = sorted(p for p in self.per_pass_counts if p >= 2)
        out = analyse(self.spans, self.args.event_log, self.progress, cores, timed, cold=1)
        metrics = out["per_layer"]
        for key in ("plans.build_s", "plans.build_jobs"):
            metrics[f"cold.{key}"] = out["cold"][key]
        for key in self.per_pass_counts[1]:
            metrics[key] = statistics.median(self.per_pass_counts[p][key] for p in timed)
            metrics[f"cold.{key}"] = self.per_pass_counts[1][key]
        metrics["session.get_spark_s"] = get_spark_s
        metrics["plans.registry_load_s"] = registry_load_s
        metrics["trace.pass_s"] = statistics.median(passes)
        return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--event-log", default="")
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    result = Runner(args).main()
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
