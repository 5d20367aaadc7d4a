"""Benchmark front end over perfbench: prints one cumulative JSON line
after each phase.

    python bench.py

``perfbench/run.py`` owns the workloads, their output checks and the
metrics.  This script only runs it, one fresh process (so one fresh JVM)
per run, and summarizes the runs.  The workloads and the seconds a run
measures come from ``BENCHMARK.json``.  The phases, in order:

1. every workload, seeds 1-3, on all the CPUs this process may use;
2. crawl_polite, seeds 1-3, on ``max(1, cores // 4)`` of them.  The
   affinity is set in the child before it starts, so perfbench sizes its
   session from it and the JVM and the Python workers inherit it.

Each phase's ``medians`` are the per-metric medians of its runs'
end-to-end metrics.  The headline ``value`` is the median crawl_polite
``throughput_per_s`` on all cores.  ``scaling`` is the N->4N efficiency
over the median crawl_polite ``steady_throughput_per_s`` of the two
phases: ``(steady_big / steady_small) / (big / small)``.

``BENCH_BUDGET_SEC`` (default 2900) is the window the whole run must
fit in.  A run is skipped, and recorded under ``skipped``, when the
remaining budget is under 1.15 times the wall time of the last run of
its phase; the first run of a phase needs only a positive budget.  The
whole result is re-printed after every phase, so a run killed at its
deadline still leaves the last completed phase as its last stdout line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
SEEDS = (1, 2, 3)
HEADROOM = 1.15
SCALED = "crawl_polite"  # the headline workload, also run on fewer cores


def run_perfbench(command: list[str], workload: str, seed: int, seconds: float,
                  cpus: list[int], timeout: float) -> str:
    """Standard output of one perfbench run on ``cpus``."""
    proc = subprocess.run(
        [*command, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=timeout,
        preexec_fn=lambda: os.sched_setaffinity(0, cpus),
    )
    if proc.returncode:
        raise RuntimeError(f"exit {proc.returncode}: {proc.stderr[-500:]}")
    return proc.stdout


def parse_run(stdout: str) -> dict:
    """perfbench's result (its last line) with the core count and the
    steal of its env line."""
    lines = stdout.strip().splitlines()
    result = json.loads(lines[-1])
    env = json.loads(lines[-2]).get("env", {}) if len(lines) > 1 else {}
    return {
        "cores": env.get("cores"),
        "steal_frac": env.get("steal_frac"),
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: m["value"] for k, m in result["metrics"].items()},
    }


def medians(runs: list[dict], names: list[str]) -> dict:
    done = [r["metrics"] for r in runs if "metrics" in r]
    return {n: statistics.median(m[n] for m in done) for n in names} if done else {}


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["end_to_end"]]
    budget = float(os.environ.get("BENCH_BUDGET_SEC", "2900"))
    cpus = sorted(os.sched_getaffinity(0))
    small = max(1, len(cpus) // 4)
    phases = [(w["name"], cpus) for w in spec["workloads"]]
    if small < len(cpus):
        phases.append((SCALED, cpus[:small]))
    big_phase, small_phase = f"{SCALED}@{len(cpus)}", f"{SCALED}@{small}"

    t_start = time.time()
    result: dict = {
        "metric": "urls_scheduled_fetched_per_sec",
        "value": None,
        "unit": "urls/sec",
        "cores": len(cpus),
        "runs": {},
        "medians": {},
        "scaling": None,
        "skipped": [],
    }
    for workload, pinned in phases:
        phase = f"{workload}@{len(pinned)}"
        runs = result["runs"][phase] = []
        last_wall = 0.0
        for seed in SEEDS:
            remaining = budget - (time.time() - t_start)
            if remaining <= HEADROOM * last_wall:
                result["skipped"].append({
                    "phase": phase, "seed": seed,
                    "need_s": round(HEADROOM * last_wall, 1),
                    "remaining_s": round(remaining, 1),
                })
                continue
            t0 = time.time()
            try:
                run = parse_run(run_perfbench(spec["command"], workload, seed,
                                              spec["run_seconds"], pinned, remaining))
            except (OSError, RuntimeError, ValueError, LookupError,
                    subprocess.TimeoutExpired) as exc:
                run = {"error": f"{type(exc).__name__}: {exc}"}
            last_wall = time.time() - t0
            runs.append({"seed": seed, "wall_s": round(last_wall, 1), **run})
        result["medians"][phase] = medians(runs, names)

        big = result["medians"].get(big_phase, {})
        sml = result["medians"].get(small_phase, {}) if small < len(cpus) else {}
        result["value"] = big.get("throughput_per_s")
        if big and sml:
            steady_big = big["steady_throughput_per_s"]
            steady_small = sml["steady_throughput_per_s"]
            result["scaling"] = {
                "big_cores": len(cpus),
                "small_cores": small,
                "steady_big": steady_big,
                "steady_small": steady_small,
                "efficiency": round(
                    (steady_big / steady_small) / (len(cpus) / small), 3),
            }
        result["bench_wall_s"] = round(time.time() - t_start, 1)
        print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
