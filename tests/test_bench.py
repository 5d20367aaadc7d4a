"""bench.py's contract, without starting Spark: one complete JSON line
per phase, the deadline skips, the medians and the scaling formula."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture
def bench():
    spec = importlib.util.spec_from_file_location("bench", ROOT / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_zero_budget_skips_every_phase():
    env = {**os.environ, "BENCH_BUDGET_SEC": "0"}
    proc = subprocess.run([sys.executable, "bench.py"], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["value"] is None and out["scaling"] is None
    assert set(out["runs"]) == {s["phase"] for s in out["skipped"]}
    assert all(runs == [] for runs in out["runs"].values())
    assert len(out["skipped"]) == 3 * len(out["runs"])


# canned steady throughputs per (workload, cores); the other metrics
# are derived from them so each run differs in every metric
STEADY = {("crawl_polite", 8): [300.0, 100.0, 200.0],
          ("registry", 8): [5.0, 7.0, 6.0],
          ("crawl_polite", 2): [80.0, 60.0, 40.0]}


def canned_stdout(workload: str, seed: int, cores: int) -> str:
    steady = STEADY[(workload, cores)][seed - 1]
    metrics = {"throughput_per_s": steady / 2, "steady_throughput_per_s": steady,
               "step_p50_s": 1000 / steady, "setup_s": 10.0 + seed,
               "peak_rss_mb": 5000.0 + seed}
    env = {"env": {"cores": cores, "heap_gb": 4, "steal_frac": 0.001}}
    result = {"correct": True, "attempted": 4, "failed": 0,
              "metrics": {k: {"value": v, "unit": "x"} for k, v in metrics.items()}}
    return f"{json.dumps(env)}\n{json.dumps(result)}\n"


def test_medians_scaling_and_one_line_per_phase(bench, monkeypatch, capsys):
    calls = []

    def fake_run(command, workload, seed, seconds, cpus, timeout):
        calls.append((workload, seed, tuple(cpus)))
        return canned_stdout(workload, seed, len(cpus))

    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: set(range(8)))
    monkeypatch.setattr(bench, "run_perfbench", fake_run)
    monkeypatch.delenv("BENCH_BUDGET_SEC", raising=False)
    assert bench.main() == 0

    lines = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert [list(line["runs"]) for line in lines] == [
        ["crawl_polite@8"],
        ["crawl_polite@8", "registry@8"],
        ["crawl_polite@8", "registry@8", "crawl_polite@2"],
    ]
    assert [c[:2] for c in calls] == [
        (w, s) for w in ("crawl_polite", "registry", "crawl_polite") for s in (1, 2, 3)]
    assert {c[2] for c in calls} == {tuple(range(8)), (0, 1)}

    out = lines[-1]
    assert out["skipped"] == [] and out["cores"] == 8
    big = out["medians"]["crawl_polite@8"]
    assert big == {"throughput_per_s": 100.0, "steady_throughput_per_s": 200.0,
                   "step_p50_s": 5.0, "setup_s": 12.0, "peak_rss_mb": 5002.0}
    assert out["medians"]["registry@8"]["steady_throughput_per_s"] == 6.0
    assert out["value"] == 100.0
    assert out["scaling"] == {"big_cores": 8, "small_cores": 2, "steady_big": 200.0,
                              "steady_small": 60.0,
                              "efficiency": round((200.0 / 60.0) / (8 / 2), 3)}
    run = out["runs"]["crawl_polite@2"][0]
    assert run["seed"] == 1 and run["cores"] == 2 and run["correct"]
    assert run["metrics"]["steady_throughput_per_s"] == 80.0
    assert lines[0]["scaling"] is None and lines[0]["value"] == 100.0


def test_run_skipped_when_budget_below_last_wall(bench, monkeypatch, capsys):
    """A run needs 1.15x the wall time of the last run of its phase
    left; the first run of a phase needs only a positive budget."""
    now = [0.0]

    def fake_run(command, workload, seed, seconds, cpus, timeout):
        now[0] += 100.0
        return canned_stdout(workload, seed, 8)

    monkeypatch.setattr(bench.time, "time", lambda: now[0])
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: {0})
    monkeypatch.setattr(bench, "run_perfbench", fake_run)
    monkeypatch.setenv("BENCH_BUDGET_SEC", "230")
    bench.main()
    out = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert list(out["runs"]) == ["crawl_polite@1", "registry@1"]  # no small phase
    assert out["scaling"] is None
    # 230 s left, then 130 > 1.15 x 100, then 30: a new phase's first run
    assert [r["seed"] for r in out["runs"]["crawl_polite@1"]] == [1, 2]
    assert [r["seed"] for r in out["runs"]["registry@1"]] == [1]
    assert [(s["phase"], s["seed"], s["need_s"], s["remaining_s"])
            for s in out["skipped"]] == [
        ("crawl_polite@1", 3, 115.0, 30.0),
        ("registry@1", 2, 115.0, -70.0),
        ("registry@1", 3, 115.0, -70.0)]


def test_perfbench_patch_targets_exist(monkeypatch):
    """A traced perfbench run patches engine functions and methods by
    name; entering its patch contexts here makes renaming or deleting
    any of them fail Tier-1, not only a traced benchmark run."""
    monkeypatch.syspath_prepend(str(ROOT / "perfbench"))
    spec = importlib.util.spec_from_file_location(
        "perfbench_crawl", ROOT / "perfbench" / "crawl.py")
    crawl = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, crawl)  # for its dataclasses
    spec.loader.exec_module(crawl)
    from spans import Tracer

    from newscrawler_spark.sources.catalog import Catalog

    real = Catalog.write_delta
    with crawl.layer_spans(Tracer()), crawl.commit_clock({}):
        assert Catalog.write_delta is not real
    assert Catalog.write_delta is real
