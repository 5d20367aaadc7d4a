"""Benchmark of the crawl engine and its query registry on this machine's
cores, from one process.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  It starts one local Spark session
on every core the process may use, runs the workload, checks its outputs
(the crawl against ``oracle/simulator.py``, each query against its DuckDB
oracle, both after the timers stop) and prints one JSON object as the
last line of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
repeats the workload with spans and Spark's event log on and reports the
per-layer ones (see ``spans.py``).  A line before it records the heap,
the core count and the hypervisor steal of the run.

Workloads (``BENCHMARK.json`` says why each was chosen):

- ``crawl_polite``: ``crawl`` over synthetic seeds with tight per-domain
  budgets, so every round schedules about the same 700 URLs out of a
  deferred backlog that outlasts the crawl.  A step is one round.
- ``registry``: passes over registry queries (``registry.py``) on the
  data under ``perfbench/data``, which is fixed, so ``--seed`` does not
  apply.  The first pass warms the session; later passes are steady.
  A step is one pass: the median of single query times would jump
  between queries whose times differ several-fold.

A run measures whole crawls, or passes after the first, until at least
``--seconds`` have passed.  End-to-end metrics, each the median over the
crawls or passes of the run, except ``setup_s`` and ``peak_rss_mb``:

- ``throughput_per_s``: crawl: fetch_order rows per second from
  ``seed_frontier`` to the last manifest commit; registry: queries per
  second over the first pass.
- ``steady_throughput_per_s``: crawl: fetch_order rows of rounds >= 2
  per second of those rounds; registry: queries per second over the
  passes after the first.
- ``step_p50_s``: crawl: median round time over rounds >= 1; registry:
  median time of the passes after the first.  A round ends when
  its next-frontier delta is on disk (``crawl.py``).
- ``setup_s``: Spark session start plus the workload's set-up (crawl:
  synthesize the inputs and fill the fixture corpus caches; registry:
  scan the input tables), each once: a repeated set-up would find the
  session warm and time a different thing.
- ``peak_rss_mb``: peak resident memory of this process and all its
  descendants (the JVM and the Python workers) from session start to
  the end of the timed work; the output checks come after.

``failed`` out of ``attempted`` counts operations: a crawl round, a
crawl's output check, or a registry query with its oracle check.

Exit status 2, with no result, when the checkout holds no engine, and 3
when the machine has less than ``MIN_AVAILABLE_GB`` of memory available:
the heap is fixed, so that ``peak_rss_mb`` reflects the program and not
the other tenants of the machine.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
DATA = HERE / "data" / "sf0.01"
WORKLOADS = ("crawl_polite", "registry")
# the driver heap, pinned and pre-touched at JVM start; a run's process
# tree peaks 1 to 2.1 GB above it (the JVM's own memory and the Python
# workers), and the rest leaves room for the machine's other tenants
HEAP_GB = 4
MIN_AVAILABLE_GB = 8
SPAN_NAMES = ("scheduler", "crawl_round", "fetch", "catalog.round_log",
              "catalog.frontier", "catalog.docs", "catalog.sidecar",
              "catalog.budget_state", "catalog.commit")


# -- deployment ----------------------------------------------------------------

def mem_available_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def deploy(run_dir: Path, trace: bool) -> dict:
    """Environment for the session: heap, cores, the package on the
    workers' path, work space inside the checkout, and the event log
    when tracing."""
    cores = len(os.sched_getaffinity(0))
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_DRIVER_MEM": f"{HEAP_GB}g",
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(tmp),
        # no hsperfdata file, which the JVM would write to /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    if trace:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir()
        extra = json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF") or "{}")
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": log_dir.as_uri(),
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = json.dumps(extra)
    return {"cores": cores, "heap_gb": HEAP_GB}


class PeakRss:
    """Samples the resident memory of a process tree on a thread until
    ``stop``."""

    def __init__(self, pid: int, period_s: float = 0.2):
        self.pid, self.period_s, self.peak = pid, period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = [self.pid], [self.pid]
        while frontier:
            kids = [p for p, pp in parent.items() if pp in frontier]
            tree += kids
            frontier = kids
        return tree

    def sample(self) -> int:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.sample()

    def __exit__(self, *exc):
        self.stop()


def start_session(cores: int):
    from newscrawler_spark.session import get_spark

    return get_spark("perfbench", cores=cores)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so every Python worker) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def timed(fn, *args):
    t0 = time.time()
    out = fn(*args)
    return out, time.time() - t0


# -- workloads -----------------------------------------------------------------

def crawl_workload(spark, args, env: dict, run_dir: Path, rss: PeakRss) -> dict:
    import crawl

    shape = crawl.Shape(seeds=8000, pages=8000, capacity=50, rounds=3)
    cores = env["cores"]
    world, synth_s = timed(crawl.synthesize, spark, shape, args.seed)
    env["synth_s"] = synth_s
    setup_s = synth_s + timed(crawl.warm_fixture, world, cores)[1]
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext)
    runs = []
    deadline = time.time() + args.seconds
    while not runs or time.time() < deadline:
        runs.append(crawl.run_once(spark, world, shape, run_dir / f"crawl{len(runs)}",
                                   cores, tracer))
        if tracer is not None:
            break
    rss.stop()

    t_check = time.time()
    want = crawl.simulate(world, shape, args.seed, ROOT / "newscrawler_spark",
                          WORK / "cache", crawl.round_config(cores).max_depth)
    attempted = failed = 0
    per_crawl = []
    for run in runs:
        per_crawl.append(crawl.end_to_end(spark, run))
        problems = crawl.check(spark, run["catalog"], want)
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        attempted += len(run["commits"]) + 1
        failed += bool(problems)
    env["check_s"] = time.time() - t_check
    out = {"attempted": attempted, "failed": failed, "setup_s": setup_s, "runs": per_crawl}
    if tracer is not None:
        out["tracer"] = tracer
        out["shape"] = crawl.shape_metrics(spark, runs[0]["catalog"])
    return out


def registry_workload(spark, args, env: dict, run_dir: Path, rss: PeakRss) -> dict:
    import registry

    setup_s = timed(registry.set_up, spark, DATA)[1]
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext)
    passes = [registry.run_pass(spark, DATA)]
    deadline = time.time() + args.seconds
    while len(passes) < 2 or time.time() < deadline:
        passes.append(registry.run_pass(spark, DATA, tracer))
        if tracer is not None:
            break
    rss.stop()
    env["query_s"] = {q: [round(p[q][0], 3) for p in passes] for q in registry.QUERY_NAMES}
    t_check = time.time()
    problems = registry.check(passes[-1], registry.oracle_outputs(DATA, WORK / "cache"))
    env["check_s"] = time.time() - t_check
    for name, why in problems.items():
        print(f"check failed: {name}: {why}", file=sys.stderr)
    n = len(registry.QUERY_NAMES)
    pass_s = [sum(t for t, _ in p.values()) for p in passes]
    out = {
        "attempted": n, "failed": len(problems), "setup_s": setup_s,
        "runs": [{
            "throughput_per_s": n / pass_s[0],
            "steady_throughput_per_s": n * len(pass_s[1:]) / sum(pass_s[1:]),
            "step_p50_s": statistics.median(pass_s[1:]),
        }],
    }
    if tracer is not None:
        out["tracer"] = tracer
        mods = {q: registry.modules_called(spark, DATA, q) for q in registry.QUERY_NAMES}
        out["modules"] = {
            m: sum(t for q, (t, _) in passes[-1].items() if m in mods[q])
            for m in registry.OPERATOR_MODULES
        }
    return out


# -- per-layer metrics -----------------------------------------------------------

def udf_metrics(log) -> dict[str, float]:
    """extract.* from the ArrowEvalPython nodes that run extract_udf and
    seen.* from the bloom probe's cogroup, summed over the event log."""
    out = dict.fromkeys(("extract.python_s", "extract.to_python_mb",
                         "extract.from_python_mb", "extract.rows",
                         "seen.python_s", "seen.maybe_rows"), 0.0)
    confirmed = 0
    for node in log.nodes():
        if node.name == "ArrowEvalPython" and "extract_udf" in node.desc:
            out["extract.python_s"] += log.seconds(node, "time to run Python workers")
            out["extract.to_python_mb"] += log.value(node, "data sent to Python workers") / 1e6
            out["extract.from_python_mb"] += log.value(node, "data returned from Python workers") / 1e6
            out["extract.rows"] += log.value(node, "number of output rows")
        elif node.name == "FlatMapCoGroupsInPandas":
            out["seen.python_s"] += log.seconds(node, "time to run Python workers")
            out["seen.maybe_rows"] += log.value(node, "number of output rows")
        elif "LeftSemi" in node.desc and any(
                c.name == "FlatMapCoGroupsInPandas" for c in log.descendants(node)):
            confirmed += log.value(node, "number of output rows")
    out["seen.bloom_precision"] = confirmed / out["seen.maybe_rows"] if out["seen.maybe_rows"] else 0.0
    return out


def per_layer(result: dict, log_dir: Path) -> dict[str, float]:
    from spans import SPAN_FIELDS, layer_table, parse_event_log
    import registry

    tracer = result["tracer"]
    (log_file,) = [p for p in log_dir.iterdir() if p.is_file()]
    with open(log_file) as f:
        log = parse_event_log(f)
    table = layer_table(tracer.spans, log.tasks)
    metrics = {}
    for name in SPAN_NAMES:
        row = table.get(name, {})
        for fld in SPAN_FIELDS:
            metrics[f"{name}.{fld}"] = row.get(fld, 0.0)
    metrics.update(udf_metrics(log))
    metrics.update(result.get("shape") or dict.fromkeys(
        ["catalog.frontier_mb", "catalog.round_log_mb", "catalog.docs_mb",
         "catalog.bloom_mb", "catalog.budget_state_mb", "frontier.rows",
         "frontier.deferred_share"], 0.0))
    mods = result.get("modules", {})
    for m in registry.OPERATOR_MODULES:
        metrics[f"registry.operators.{m}_s"] = mods.get(m, 0.0)
    roots = [s for s in tracer.spans if s.parent is None and s.name != "catalog.docs"]
    traced_wall = sum(s.end - s.start for s in roots)
    metrics["trace_overhead_frac"] = tracer.overhead_s / traced_wall
    return metrics


# -- main -------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "newscrawler_spark" / "__init__.py").is_file() or not DATA.is_dir():
        print(f"no engine or data under {ROOT}: run from the root of a checkout",
              file=sys.stderr)
        return 2
    if mem_available_gb() < MIN_AVAILABLE_GB:
        print(f"{mem_available_gb():.1f} GB of memory available, the benchmark "
              f"needs {MIN_AVAILABLE_GB} GB for its fixed {HEAP_GB} GB heap",
              file=sys.stderr)
        return 3
    sys.path.insert(0, str(ROOT))
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        env = deploy(run_dir, bool(args.trace))
        steal0 = cpu_times()
        with PeakRss(os.getpid()) as rss:
            spark, session_s = timed(start_session, env["cores"])
            try:
                work = crawl_workload if args.workload == "crawl_polite" else registry_workload
                result = work(spark, args, env, run_dir, rss)
            finally:
                stop_session(spark)
        steal1 = cpu_times()
        env["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        env["setups_s"] = [session_s, result["setup_s"]]
        env["runs"] = result["runs"]
        print(json.dumps({"env": env}))

        if args.trace:
            metrics = per_layer(result, run_dir / "eventlog")
            units = {}
        else:
            metrics = {k: statistics.median(r[k] for r in result["runs"])
                       for k in ("throughput_per_s", "steady_throughput_per_s", "step_p50_s")}
            metrics["setup_s"] = session_s + result["setup_s"]
            metrics["peak_rss_mb"] = rss.peak / 1e6
            units = {"throughput_per_s": "1/s", "steady_throughput_per_s": "1/s",
                     "step_p50_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
        print(json.dumps({
            "correct": result["failed"] == 0,
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: {"value": v, "unit": units.get(k) or layer_unit(k)}
                        for k, v in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def layer_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_frac", "fraction"),
                         ("_share", "fraction"), ("_precision", "fraction")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
