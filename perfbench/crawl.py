"""The crawl workload: set-up, one timed crawl, the simulator check, and
the per-layer spans around ``crawl``'s calls into its layers.

Round boundaries and counts come from the catalog: the time each round's
next-frontier delta landed, the time the last manifest commit returned,
and the rows of the fetch_order and frontier deltas.  The crawl's own
``wall_sec`` counters are never read, so a change that redefines them
cannot move a metric.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass
from pathlib import Path
from unittest import mock

from pyspark.sql import functions as F

from newscrawler_spark import synth
from newscrawler_spark.oracle.simulator import simulate_crawl
from newscrawler_spark.plans import scheduler
from newscrawler_spark.plans.crawl_round import RoundConfig
from newscrawler_spark.sources.catalog import Catalog
from newscrawler_spark.sources.fetch import FixtureFetcher

from spans import Tracer

# every module the simulator check runs, directly or through the inputs
# it is given: a change to any of them invalidates a cached result
SIM_SOURCES = ("oracle/simulator.py", "canonical.py", "xhash.py", "synth.py",
               "sources/fetch.py", "functions")
SIDECARS = ("bloom", "cuckoo")


@dataclass(frozen=True)
class Shape:
    seeds: int
    pages: int
    capacity: int
    rounds: int


@dataclass
class World:
    seeds: object
    pages: object
    budgets: object
    robots: object
    fetcher: FixtureFetcher | None = None


def synthesize(spark, shape: Shape, seed: int) -> World:
    seeds = synth.synth_frontier(spark, shape.seeds, seed=seed).cache()
    seeds.count()
    return World(seeds, synth.synth_pages(spark, shape.pages, seed=seed),
                 synth.synth_budgets(spark, capacity_default=shape.capacity),
                 synth.synth_robots(spark))


def warm_fixture(world: World, cores: int) -> None:
    """Give the world a fixture fetcher whose corpus caches one throwaway
    fetch has filled, so the timed crawl never pays the corpus load that
    a live fetcher would not pay either."""
    world.fetcher = FixtureFetcher(world.pages, corpus_partitions=cores)
    world.fetcher.fetch(world.seeds.select("url")).write.format("noop").mode(
        "overwrite").save()


def round_config(cores: int) -> RoundConfig:
    return RoundConfig(n_partitions=cores)


@contextmanager
def commit_clock(commits: dict):
    """Record when each round's manifest commit returns."""
    real = Catalog.commit_round

    def commit_round(self, round_no, tables):
        real(self, round_no, tables)
        commits[round_no] = time.time()

    with mock.patch.object(Catalog, "commit_round", commit_round):
        yield


def _delta_span(table: str) -> str | None:
    if table in SIDECARS:
        return "catalog.sidecar"
    if table in ("frontier", "docs", "budget_state"):
        return f"catalog.{table}"
    return None


@contextmanager
def layer_spans(tracer: Tracer):
    """Spans around every call ``crawl`` makes into a layer; the
    docs write runs on the scheduler's background thread and becomes a
    root span of that thread."""
    calls = [
        (scheduler, "crawl", "scheduler"),
        (scheduler, "run_round", "crawl_round"),
        (FixtureFetcher, "fetch", "fetch"),
        (Catalog, "write_round_log", "catalog.round_log"),
        (Catalog, "write_bloom_local", "catalog.sidecar"),
        (Catalog, "write_cuckoo_local", "catalog.sidecar"),
        (Catalog, "write_budget_state_row_local", "catalog.budget_state"),
        (Catalog, "write_metrics_row", "catalog.commit"),
        (Catalog, "commit_round", "catalog.commit"),
    ]
    with ExitStack() as stack:
        for owner, attr, name in calls:
            stack.enter_context(mock.patch.object(
                owner, attr, tracer.wrap(name, getattr(owner, attr))))
        write_delta = Catalog.write_delta
        stack.enter_context(mock.patch.object(Catalog, "write_delta", tracer.wrap(
            lambda self, df, table, round_no: _delta_span(table),
            write_delta)))
        yield


def run_once(spark, world: World, shape: Shape, root: Path, cores: int,
             tracer: Tracer | None = None) -> dict:
    """One crawl into a fresh catalog at ``root``; returns its commit
    times and the catalog."""
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    commits: dict[int, float] = {}
    with ExitStack() as stack:
        stack.enter_context(commit_clock(commits))
        if tracer is not None:
            stack.enter_context(layer_spans(tracer))
        t0 = time.time()
        scheduler.seed_frontier(cat, world.seeds)
        scheduler.crawl(spark, cat, world.fetcher, world.budgets, world.robots,
                        max_rounds=shape.rounds, conf=round_config(cores))
    return {"t0": t0, "commits": commits, "catalog": cat}


def round_rows(spark, cat: Catalog) -> dict[int, int]:
    rows = cat.read_table(spark, "fetch_order").groupBy("round").count().collect()
    return {r["round"]: r["count"] for r in rows}


def round_ends(cat: Catalog, last: int) -> list[float]:
    """When each round's next-frontier delta landed on disk.  A round's
    manifest commit waits for the next round's plan (the docs write
    overlaps it), so commit times are not round boundaries."""
    return [(Path(cat.delta_path("frontier", r + 1)) / "_SUCCESS").stat().st_mtime
            for r in range(last + 1)]


def end_to_end(spark, run: dict) -> dict[str, float]:
    """Throughput from the seed write to the last commit, steady
    throughput over rounds >= 2, and the median round time over rounds
    >= 1."""
    commits, per_round = run["commits"], round_rows(spark, run["catalog"])
    last = max(commits)
    if last < 2:
        raise RuntimeError(f"crawl committed only rounds 0..{last}; need >= 3 rounds")
    ends = round_ends(run["catalog"], last)
    steps = [ends[r] - ends[r - 1] for r in range(1, last + 1)]
    return {
        "throughput_per_s": sum(per_round.values()) / (commits[last] - run["t0"]),
        "steady_throughput_per_s": sum(n for r, n in per_round.items() if r >= 2)
        / (ends[last] - ends[1]),
        "step_p50_s": statistics.median(steps),
        "round_s": [ends[0] - run["t0"]] + steps,
        "round_rows": [per_round.get(r, 0) for r in range(last + 1)],
    }


# -- correctness ---------------------------------------------------------------

def _source_digest(pkg_root: Path) -> str:
    h = hashlib.sha256()
    for rel in SIM_SOURCES:
        p = pkg_root / rel
        files = sorted(p.rglob("*.py")) if p.is_dir() else [p]
        for f in files:
            h.update(str(f.relative_to(pkg_root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _summary(fetch_order, seen, docs, quarantine) -> dict[str, tuple[int, str]]:
    """Row count and digest of each crawl output in a canonical order."""
    parts = {"fetch_order": sorted(fetch_order), "url_seen": sorted(seen),
             "docs": sorted(docs), "quarantine": sorted(quarantine)}
    return {k: (len(v), hashlib.sha256(repr(v).encode()).hexdigest())
            for k, v in parts.items()}


def simulate(world: World, shape: Shape, seed: int, pkg_root: Path,
             cache_dir: Path, max_depth: int) -> dict[str, tuple[int, str]]:
    """The simulator's output summary for these inputs, cached by seed,
    shape and the source of every module it runs."""
    key = f"sim-{seed}-{shape.seeds}-{shape.pages}-{shape.capacity}-{shape.rounds}" \
          f"-{max_depth}-{_source_digest(pkg_root)}.json"
    path = cache_dir / key
    if path.exists():
        return {k: tuple(v) for k, v in json.loads(path.read_text()).items()}
    seeds = [r.asDict() for r in world.seeds.collect()]
    pages = {r["url"]: (r["status"], r["html"], list(r["out_links"] or []))
             for r in world.pages.collect()}
    budgets = {r["domain"]: (r["capacity"], r["window_s"]) for r in world.budgets.collect()}
    robots = [(r["domain"], r["path_prefix"], r["allow"], r["crawl_delay_s"] or 0.0)
              for r in world.robots.collect()]
    out = simulate_crawl(seeds, pages, budgets, robots,
                         max_rounds=shape.rounds, max_depth=max_depth)
    summary = _summary(
        out["fetch_order"], out["seen"],
        [(k, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
         for k, d in out["docs"].items()],
        out["quarantine"])
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(summary))
    os.replace(tmp, path)
    return summary


def check(spark, cat: Catalog, want: dict[str, tuple[int, str]]) -> list[str]:
    """Fetch order, seen set, docs span sequences and quarantine against
    the simulator's; returns the outputs that differ."""
    got = _summary(
        [(r["round"], r["domain"], r["rank"], r["canonical_url"])
         for r in cat.read_table(spark, "fetch_order").collect()],
        [r[0] for r in cat.read_table(spark, "url_seen").select("canonical_url").collect()],
        [(r["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in r["spans"]])
         for r in cat.read_table(spark, "docs").select("doc_id", "spans").collect()],
        [(r["url"], r["round"], r["error"])
         for r in cat.read_table(spark, "quarantine").collect()])
    return [f"{k}: {got[k][0]} rows, simulator {want[k][0]}"
            + ("" if got[k][0] != want[k][0] else ", contents differ")
            for k in want if got[k] != want[k]]


# -- catalog and frontier shape -----------------------------------------------

def _mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6


def shape_metrics(spark, cat: Catalog) -> dict[str, float]:
    """On-disk size per table, total frontier rows, and the share of
    each next frontier (rounds >= 1) that is deferred rows rather than
    out-links discovered in the round before."""
    out = {f"catalog.{t}_mb": _mb(cat.root / t) if (cat.root / t).exists() else 0.0
           for t in ("frontier", "round_log", "docs", "bloom", "budget_state")}
    fr = spark.read.parquet(str(cat.root / "frontier"))
    rows = fr.groupBy("round").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("round_added") < F.col("round")).cast("long")).alias("deferred"),
    ).collect()
    out["frontier.rows"] = float(sum(r["n"] for r in rows))
    nxt = [r for r in rows if r["round"] >= 1]
    total = sum(r["n"] for r in nxt)
    out["frontier.deferred_share"] = sum(r["deferred"] for r in nxt) / total if total else 0.0
    return out
