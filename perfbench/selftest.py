"""Smoke self-test of the benchmark on sf0.001 inputs.

For every workload it makes one untraced and two traced runs with the
same seed, through ``run.py`` exactly as a caller would, and checks:

- each run exits 0 and its last line is a result with ``correct`` true;
- every metric ``BENCHMARK.json`` declares for that mode is emitted,
  with its declared unit and a finite value;
- every count in ``layers.EXACT_COUNTS`` is identical in the two traced
  runs.

Run from the root of a checkout: python3 perfbench/selftest.py
(about five minutes on a 4-core host).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from layers import EXACT_COUNTS  # noqa: E402
from worker import WORKLOADS  # noqa: E402

SMOKE_SF = "0.001"
SEED = 7


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
        "--seconds", "1", "--trace", str(trace), "--sf", SMOKE_SF,
    ]  # fmt: skip
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=240)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit code {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, declared: list[dict], label: str) -> list[str]:
    errors = []
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{label}: correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
    for m in declared:
        got = result["metrics"].get(m["name"])
        if got is None:
            errors.append(f"{label}: {m['name']} missing")
        elif got["unit"] != m["unit"]:
            errors.append(f"{label}: {m['name']} unit {got['unit']!r}, declared {m['unit']!r}")
        elif not isinstance(got["value"], (int, float)) or not math.isfinite(got["value"]):
            errors.append(f"{label}: {m['name']} value {got['value']!r} is not a finite number")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    for workload in WORKLOADS:
        errors += check_metrics(run(workload, 0), spec["end_to_end"], f"{workload} untraced")
        first, second = run(workload, 1), run(workload, 1)
        errors += check_metrics(first, spec["per_layer"], f"{workload} traced")
        for name in EXACT_COUNTS:
            a, b = first["metrics"][name]["value"], second["metrics"][name]["value"]
            if a != b:
                errors.append(f"{workload}: exact count {name} differs between runs: {a} vs {b}")
        print(f"{workload}: checked", flush=True)
    for e in errors:
        print(f"FAIL {e}")
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
