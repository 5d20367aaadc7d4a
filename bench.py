"""Benchmark entry for the driver: prints ONE JSON line.

  {"metric": ..., "value": <total seconds>, "unit": "sec",
   "queries": {<name>: sec, ...}, "sf": <sf>,
   "crawl": {"urls_per_sec": ..., "scaling": {...}}}

Components:
  * per-query wall time for the headline operators from
    ``newscrawler_spark.queries`` at $SPARK_GRAFT_SF_DIR
    (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS];
  * crawl throughput — URLs scheduled+fetched/sec over a deterministic
    synthetic web (the BASELINE.json metric), run at local[N] and
    local[4N] on the same input to evidence the north-rule scaling
    criterion (no real cluster in this sandbox): efficiency =
    (throughput_4N / throughput_N) / 4.

Deadline awareness (round-4 verdict task 1): the driver runs this
under a hard timeout (r4's run died at it with no parsed headline).
Two defenses:
  * the CURRENT cumulative result JSON is re-printed as a complete
    line after EVERY phase — a timeout kill still leaves the last
    completed-phase artifact parseable on stdout;
  * BENCH_BUDGET_SEC (default 2900) is an internal soft deadline:
    each optional phase is skipped — recorded under "skipped" — when
    the remaining budget is under its observed-cost estimate, so the
    run finishes inside the driver's window by construction.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: the CPUs this
process may run on), BENCH_BUDGET_SEC (default 2900), BENCH_CRAWL_URLS
(default 400000), BENCH_CRAWL_REPS (default 3), BENCH_SKIP_SCALING=1 to
skip the small-core crawl runs, BENCH_SKIP_LINEAR_PAIR=1 to skip the extra
linear-bandwidth-region pair (cpus/16 -> cpus/4 cores),
BENCH_SKIP_EXTRAS=1 to skip the dedup/streaming/AIMD crawl probes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "url_canonicalize",
    "frontier_classify",
    "kind_prioritize",
    "seen_cuckoo",
    "seen_antijoin",
    "frontier_dedup",
    "politeness_schedule",
    "politeness_deferred",
    "span_dedup",
    "markdown_render",
    "media_manifest",
    "dedup_exact",
    "rolling_fingerprint",
    "jaccard_pairs",
    "minhash_lsh",
    "incremental_neardup",
    "incremental_neardup_capped",
    "simhash",
    "text_stats",
    "decontaminate",
    "quality_filter",
    "pii_scrub",
    "multimodal_features",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "embed_neardup",
    "multimodal_decode",
    "sitemap_parse",
    "bpe_train",
    "host_rank",
    "host_components",
    "rank_prioritize",
    "anchor_stats",
    "trap_detect",
    "recrawl_schedule",
    "segment_dedup",
    "pack_sequences",
    "repetition_stats",
    "bm25_topk",
    "tfidf_terms",
    "lm_perplexity",
    "hashed_classifier",
    "kmeans_assign",
    "semdedup",
    "length_quantiles",
    "adaptive_budget",
    "doc_embed",
    "decontaminate_embed",
    "dup_span_fraction",
    "media_neardup",
    "sample_stratified",
    "sample_balanced",
    "shuffle_shards",
    "corpus_report",
    "events_tumbling",
    "events_sessionize",
    "span_projections",
    "dup_clusters",
    "simhash_pairs",
    "token_stats_by_source",
    "vocab_topk",
    "curate_pipeline",
    "robots_rules",
    "sitemap_discover",
    "ann_ivf_topk",
    "multimodal_resize",
    "multimodal_frames",
    "domain_mix",
    "train_split",
    "inverted_index",
    "boilerplate_strip",
    "cms_counts",
    "hll_distinct",
    "bpe_vocab",
    "bpe_encode",
    "lm_bigrams",
    "search_sweep",
    "stream_metrics",
    "stream_sessionize",
]


def _descendants(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(c) for c in f.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        stack.extend(kids)
    return out


def _cpu_stat() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat — hypervisor steal
    during a timed section explains run-to-run swings on this VM."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def pin_cpu_budget(cores: int) -> None:
    """Bound this process tree (JVM, pandas-UDF python workers) to
    `cores` CPUs — local[N] alone only limits JVM task threads; GC /
    JIT / shuffle threads and python UDF workers would silently use
    extra cores, making an N-vs-4N core comparison unfair to the 4N
    run.  sched_setaffinity is per-THREAD on Linux (the pid argument is
    a TID), so walk /proc/<pid>/task/* for every process in the tree —
    pinning only each PID would leave all other JVM threads (notably
    the ~23 ParallelGC threads a local[8] JVM gets by host-cpu default)
    running full-width.  Threads/processes spawned later inherit their
    creator's mask, so one sweep at timed-section start stays binding."""
    mask = set(range(min(cores, os.cpu_count())))
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            tids = [str(pid)]
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), mask)
            except OSError:
                pass


def run_queries(spark, sf_dir: str) -> dict[str, float]:
    from newscrawler_spark.queries import QUERIES

    out: dict[str, float] = {}
    for name in BENCH_QUERIES:
        t0 = time.time()
        try:
            n = QUERIES[name](spark, sf_dir).count()
        except Exception as exc:  # noqa: BLE001 — record, keep benching
            print(f"  query {name} FAILED: {exc}", file=sys.stderr)
            out[name] = -1.0
            continue
        out[name] = round(time.time() - t0, 3)
        print(f"  query {name}: {n} rows in {out[name]}s", file=sys.stderr)
    return out


def _pages_fixture(spark, n_pages: int) -> str:
    """Materialize the deterministic synthetic web ONCE per page count
    and share it across every crawl/stream/extract measurement in the
    bench run (it is a pure function of n_pages and the synth code,
    identical at any core count).  r4's bench re-synthesized and
    re-wrote the same 1.6M-page fixture ~9 times — several hundred
    seconds of pure setup inside the driver's budget.

    The cache key includes a sha256 of synth.py, so an edited generator
    never reuses stale pages; the fixture is written to a temp dir and
    renamed into place, so a killed write never looks complete."""
    import hashlib

    from newscrawler_spark import synth

    with open(synth.__file__, "rb") as f:
        code = hashlib.sha256(f.read()).hexdigest()[:16]
    path = os.path.join(
        tempfile.gettempdir(), f"ncs_bench_pages_{n_pages}_{code}"
    )
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        synth.synth_pages(spark, n_pages).write.mode("overwrite").parquet(tmp)
        try:
            os.replace(tmp, path)
        except OSError:  # a concurrent run renamed its copy first
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def run_crawl(
    cores: int,
    n_urls: int,
    rounds: int = 5,
    dedup: bool = False,
    adaptive: bool = False,
) -> dict:
    """Fresh JVM-conf session at local[cores]; returns throughput stats.

    dedup=True additionally runs the per-round incremental near-dup
    (conf.dedup_docs — each round's new docs probed against the
    accumulated LSH index) so the 100 TB per-ingest dedup claim carries
    a measured cost: per_round wall_sec then includes the dedup writes
    and neardup_matches appears per round.

    'URLs scheduled+fetched' = fetch_order rows (every scheduled URL
    reaches fetch+extract in its round).  Two throughputs are reported:
    total (all rounds incl. rounds 0-1 warmup: session startup and
    one-time whole-stage-codegen compilation, which is single-threaded
    and core-count independent) and steady-state (rounds >= 2, the
    number that scales with cores — on a long 10^10-URL crawl the
    warmup rounds amortize to nothing).  Partitioning is FIXED (64)
    regardless of cores so the two scaling runs execute the identical
    job and produce identical outputs (asserted by the determinism
    tests).
    """
    from newscrawler_spark import synth
    from newscrawler_spark.plans.crawl_round import RoundConfig
    from newscrawler_spark.plans.scheduler import crawl, seed_frontier
    from newscrawler_spark.session import get_spark
    from newscrawler_spark.sources.catalog import Catalog
    from newscrawler_spark.sources.fetch import FixtureFetcher

    spark = get_spark(f"bench-crawl-{cores}", cores=cores, shuffle_partitions=64)
    root = tempfile.mkdtemp(prefix=f"bench_crawl_{cores}_")
    try:
        cat = Catalog(root)
        frontier = synth.synth_frontier(spark, n_urls)
        # fixture setup (untimed): materialize the synthetic web to
        # parquet so the timed section measures the engine, not the
        # fixture's HTML generation; also lets the fetch join see real
        # size stats (shuffle join, not an 80 MB broadcast).  Shared
        # across all bench runs at this n (pure function of count).
        pages = spark.read.parquet(_pages_fixture(spark, n_urls * 4))
        budgets = synth.synth_budgets(spark, capacity_default=max(1000, n_urls // 8))
        robots = synth.synth_robots(spark)
        conf = RoundConfig(
            n_partitions=64, n_buckets=64, m_bits=1 << 22, dedup_docs=dedup,
            adaptive_budgets=adaptive,
        )
        pin_cpu_budget(cores)  # pin only the timed section; setup ran full-width
        steal0, total0 = _cpu_stat()
        t0 = time.time()
        seed_frontier(cat, frontier)
        with FixtureFetcher(pages) as fetcher:
            totals = crawl(spark, cat, fetcher, budgets, robots,
                           max_rounds=rounds, conf=conf)
        wall = time.time() - t0
        steal1, total1 = _cpu_stat()
        steal_pct = (
            round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 2)
            if total1 > total0
            else 0.0
        )
        scheduled = sum(c["scheduled"] for c in totals.values())
        docs = sum(c["docs"] for c in totals.values())
        steady = {r: c for r, c in totals.items() if r >= 2}
        steady_sched = sum(c["scheduled"] for c in steady.values())
        steady_wall = sum(c["wall_sec"] for c in steady.values())
        out = {
            "cores": cores,
            "urls_scheduled": scheduled,
            "docs_extracted": docs,
            "rounds": len(totals),
            "wall_sec": round(wall, 2),
            "urls_per_sec": round(scheduled / wall, 1),
            "steady_urls_per_sec": round(steady_sched / steady_wall, 1)
            if steady_wall
            else None,
            "steal_pct": steal_pct,
            "per_round": {r: c for r, c in totals.items()},
        }
        if dedup:
            out["dedup"] = True
            out["neardup_matches_total"] = sum(
                c.get("neardup_matches", 0) for c in totals.values()
            )
        if adaptive:
            out["adaptive_budgets"] = True
            out["capacity_evolution"] = {
                r: c.get("capacity_total") for r, c in totals.items()
            }
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


def run_stream_crawl(cores: int, n_urls: int, rounds: int = 5) -> dict:
    """§2.9 streaming-mode crawl probe: the SAME synthetic web driven
    through crawl_from_seed_stream (foreachBatch + Trigger.AvailableNow)
    instead of the direct round loop — one micro-batch delivers the
    seeds, the batch round semantics run inside it.  Comparable 1:1 with
    run_crawl at the same n_urls; the delta is the streaming machinery's
    overhead (checkpoint dir, micro-batch planning)."""
    from newscrawler_spark import schema, synth
    from newscrawler_spark.plans.crawl_round import RoundConfig
    from newscrawler_spark.session import get_spark
    from newscrawler_spark.sources.catalog import Catalog
    from newscrawler_spark.sources.fetch import FixtureFetcher
    from newscrawler_spark.streaming.stream import crawl_from_seed_stream

    spark = get_spark(f"bench-stream-{cores}", cores=cores, shuffle_partitions=64)
    root = tempfile.mkdtemp(prefix=f"bench_stream_{cores}_")
    try:
        cat = Catalog(os.path.join(root, "cat"))
        seeds_path = os.path.join(root, "_seeds")
        synth.synth_frontier(spark, n_urls).write.mode("overwrite").parquet(
            seeds_path
        )
        pages = spark.read.parquet(_pages_fixture(spark, n_urls * 4))
        budgets = synth.synth_budgets(spark, capacity_default=max(1000, n_urls // 8))
        robots = synth.synth_robots(spark)
        conf = RoundConfig(n_partitions=64, n_buckets=64, m_bits=1 << 22)
        seeds_stream = spark.readStream.schema(schema.FRONTIER).parquet(seeds_path)
        pin_cpu_budget(cores)
        t0 = time.time()
        with FixtureFetcher(pages) as fetcher:
            q = crawl_from_seed_stream(
                spark, seeds_stream, cat, fetcher, budgets, robots,
                checkpoint=os.path.join(root, "_ckpt"),
                max_rounds_per_batch=rounds, conf=conf,
            )
            q.awaitTermination()
        wall = time.time() - t0
        totals = {
            int(r): c for r, c in cat.read_manifest()["rounds"].items()
        }
        scheduled = sum(c["scheduled"] for c in totals.values())
        steady = {r: c for r, c in totals.items() if r >= 2}
        steady_wall = sum(c["wall_sec"] for c in steady.values())
        return {
            "cores": cores,
            "mode": "streaming_available_now",
            "urls_scheduled": scheduled,
            "rounds": len(totals),
            "wall_sec": round(wall, 2),
            "urls_per_sec": round(scheduled / wall, 1),
            "steady_urls_per_sec": round(
                sum(c["scheduled"] for c in steady.values()) / steady_wall, 1
            )
            if steady_wall
            else None,
            "per_round": totals,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


def run_extract_stage(cores: int, n_pages: int) -> dict:
    """Scaling probe for the compute-bound core stage: url-identity +
    span extraction (pandas UDF) over a parquet page fixture.  At
    10^10-URL scale this stage (plus network fetch) is the overwhelming
    share of cluster time; the driver-side round orchestration measured
    in run_crawl amortizes away.  Timed on the second run (the first
    pays one-time codegen compile, which is single-threaded and
    identical at any core count)."""
    from pyspark.sql import functions as F

    from newscrawler_spark.canonical import with_url_identity
    from newscrawler_spark.functions.extract import extract_udf
    from newscrawler_spark.session import get_spark

    spark = get_spark(f"bench-extract-{cores}", cores=cores, shuffle_partitions=64)
    root = tempfile.mkdtemp(prefix=f"bench_extract_{cores}_")
    try:
        pages = spark.read.parquet(_pages_fixture(spark, n_pages)).filter(
            "status = 200"
        )
        pin_cpu_budget(cores)  # pin only the timed section; setup ran full-width

        def once() -> tuple[int, float]:
            t0 = time.time()
            idf = with_url_identity(pages, "url")
            ex = idf.withColumn(
                "ex", extract_udf(F.col("html"), F.col("url"), F.col("platform"))
            )
            n = ex.filter(F.col("ex.error").isNull()).count()
            return n, time.time() - t0

        # min-of-3: the first iteration pays one-time codegen + C2 JIT
        # warmup (single-threaded, core-count independent) and local-mode
        # run-to-run noise is large; the min is the stable capability
        walls = []
        n = 0
        for _ in range(3):
            n, w = once()
            walls.append(w)
        wall = min(walls)
        return {
            "cores": cores,
            "pages": n,
            "wall_sec": round(wall, 2),
            "pages_per_sec": round(n / wall, 1),
            "walls": [round(w, 2) for w in walls],
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


def _in_subprocess(fn: str, cores: int, n: int) -> dict:
    """Run one measurement in a fresh python+JVM: measurements sharing a
    JVM contaminate each other (heap fragmentation/GC debt from earlier
    phases skewed same-process crawl runs by 3x)."""
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", fn, str(cores), str(n)],
        capture_output=True,
        text=True,
        timeout=1800,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"worker {fn}/{cores} failed: {proc.stderr[-500:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _worker(fn: str, cores: int, n: int) -> None:
    if fn == "crawl":
        out = run_crawl(cores, n)
    elif fn == "crawl_dedup":
        out = run_crawl(cores, n, dedup=True)
    elif fn == "crawl_aimd":
        out = run_crawl(cores, n, adaptive=True)
    elif fn == "stream":
        out = run_stream_crawl(cores, n)
    else:
        out = run_extract_stage(cores, n)
    print(json.dumps(out))


def main() -> None:
    if len(sys.argv) >= 5 and sys.argv[1] == "--worker":
        _worker(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from newscrawler_spark.session import default_cores

    cpus = default_cores()
    # 400k URLs ≈ 1.5M scheduled over 5 rounds: large enough that the
    # ~7 s/round local-mode fixed cost (driver plan compile — per
    # ROUND, not per URL, and amortizing to nothing on a 10^10-URL
    # crawl) stops dominating the N-vs-4N comparison
    n_urls = int(os.environ.get("BENCH_CRAWL_URLS", "400000"))
    budget = float(os.environ.get("BENCH_BUDGET_SEC", "2900"))
    reps = int(os.environ.get("BENCH_CRAWL_REPS", "3"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None

    t_start = time.time()
    small_cores = max(2, cpus // 4)
    lin_cores = max(1, small_cores // 4)

    result: dict = {
        "metric": "urls_scheduled_fetched_per_sec",
        "value": None,
        "unit": "urls/sec",
        "queries": None,
        "sf": sf,
        "skipped": [],
    }

    def emit() -> None:
        """Re-print the whole cumulative result as ONE complete JSON
        line after each phase (atomic single write + flush): if the
        driver's timeout kills the run mid-phase, the last completed
        phase's artifact is still the final parseable stdout line."""
        result["bench_wall_sec"] = round(time.time() - t_start, 2)
        os.write(1, (json.dumps(result) + "\n").encode())

    def remaining() -> float:
        return budget - (time.time() - t_start)

    def fits(cost_est: float, phase: str) -> bool:
        """Soft-deadline gate: skip (and record) a phase whose cost
        estimate exceeds the remaining budget with 15% headroom."""
        if remaining() > cost_est * 1.15:
            return True
        result["skipped"].append(
            {"phase": phase, "cost_est_sec": round(cost_est, 1),
             "remaining_sec": round(remaining(), 1)}
        )
        return False

    def _steady(run: dict) -> float:
        return run.get("steady_urls_per_sec") or run["urls_per_sec"]

    def _median_reps(fn_name: str, cores: int, first: dict | None,
                     cost_est: float, phase: str) -> dict:
        """first + up to (reps-1) more fresh-JVM runs, deadline-gated;
        headline the median by steady throughput (lower-middle for even
        N — conservative under noise)."""
        runs = [first] if first else []
        while len(runs) < reps and fits(cost_est, f"{phase}_rep{len(runs)}"):
            runs.append(_in_subprocess(fn_name, cores, n_urls))
        ranked = sorted(runs, key=_steady)
        med = ranked[(len(runs) - 1) // 2]
        if len(runs) > 1:
            med["steady_urls_per_sec_runs"] = [_steady(r) for r in runs]
            med["headline_stat"] = f"median_of_{len(runs)}"
        return med

    # ---- phase 1: registry queries ------------------------------------
    if not os.environ.get("BENCH_SKIP_QUERIES"):
        from newscrawler_spark.session import get_spark

        spark = get_spark(
            "bench-queries", cores=cpus, shuffle_partitions=max(8, 2 * cpus)
        )
        result["queries"] = run_queries(spark, sf_dir)
        spark.stop()
        emit()

    # ---- phase 2: headline crawl (32-core, median of up to `reps`) ----
    # the full-width run is the volatile one on this VM (co-tenant
    # memory-bandwidth bursts; steal stays ~0); all reps are reported so
    # the band is visible.  The FIRST rep also builds the shared pages
    # fixture, so its wall is the cost ceiling for later crawl phases.
    t0 = time.time()
    first_big = _in_subprocess("crawl", cpus, n_urls)
    big_cost = time.time() - t0  # includes one-time fixture build
    crawl_big = _median_reps("crawl", cpus, first_big, big_cost * 0.8,
                             "crawl_big")
    result["crawl"] = crawl_big
    result["value"] = crawl_big["urls_per_sec"]
    emit()

    if not os.environ.get("BENCH_SKIP_SCALING"):
        # ---- phase 3: N-vs-4N crawl scaling (the north-rule metric) ---
        # small-core side gets the same median-of-N treatment: r3's
        # driver window recorded a single anomalous 8-core reading at
        # 2x its historical band, poisoning the efficiency ratio
        try:
            small_est = big_cost * 1.6  # ~8-core wall at 400k, measured band
            if fits(small_est, "crawl_small"):
                t0 = time.time()
                first_small = _in_subprocess("crawl", small_cores, n_urls)
                small_cost = time.time() - t0
                crawl_small = _median_reps(
                    "crawl", small_cores, first_small, small_cost,
                    "crawl_small"
                )
                thr_n, thr_n4 = _steady(crawl_small), _steady(crawl_big)
                result["scaling"] = {
                    "n_cores": small_cores,
                    "n4_cores": cpus,
                    "steady_urls_per_sec_n": thr_n,
                    "steady_urls_per_sec_n4": thr_n4,
                    "efficiency": round((thr_n4 / thr_n) / (cpus / small_cores), 3),
                }
                result["crawl_small"] = crawl_small
                emit()
                # linear-region N->4N pair: on this single-socket box
                # pure memcpy stops scaling between 8 and 32 threads
                # (membw probe), so the 8->32 ratio measures the socket,
                # not the engine.  The 2->8 pair sits entirely in the
                # hardware's linear-bandwidth region (memcpy 2->8 ~1.0)
                # and models a multi-executor cluster where each worker
                # brings its own memory channels.
                # 2-core wall ≈ 2.3x the 8-core wall at 400k (fixture
                # already cached); BENCH_LINEAR_REPS > 1 medians the
                # 2-core side like the other pairs
                lin_reps = int(os.environ.get("BENCH_LINEAR_REPS", "1"))
                if (
                    not os.environ.get("BENCH_SKIP_LINEAR_PAIR")
                    and lin_cores < small_cores
                    and fits(small_cost * 2.3, "crawl_linear")
                ):
                    lin_runs = [_in_subprocess("crawl", lin_cores, n_urls)]
                    while len(lin_runs) < lin_reps and fits(
                        small_cost * 2.3, f"crawl_linear_rep{len(lin_runs)}"
                    ):
                        lin_runs.append(
                            _in_subprocess("crawl", lin_cores, n_urls)
                        )
                    crawl_lin = sorted(lin_runs, key=_steady)[
                        (len(lin_runs) - 1) // 2
                    ]
                    if len(lin_runs) > 1:
                        crawl_lin["steady_urls_per_sec_runs"] = [
                            _steady(r) for r in lin_runs
                        ]
                        crawl_lin["headline_stat"] = f"median_of_{len(lin_runs)}"
                    thr_lin = _steady(crawl_lin)
                    result["scaling_linear_region"] = {
                        "n_cores": lin_cores,
                        "n4_cores": small_cores,
                        "steady_urls_per_sec_n": thr_lin,
                        "steady_urls_per_sec_n4": thr_n,
                        "efficiency": round(
                            (thr_n / thr_lin) / (small_cores / lin_cores), 3
                        ),
                        "why": "both endpoints inside the socket's linear"
                        " memory-bandwidth region (see membw_probe);"
                        " models per-worker-memory cluster scaling",
                    }
                    result["crawl_linear"] = crawl_lin
                    emit()
        except Exception as exc:  # noqa: BLE001
            result["scaling_error"] = f"{type(exc).__name__}: {exc}"

        # ---- phase 4: memcpy bandwidth context (cheap, ~1 min) --------
        # hardware context for the ratios above: aggregate memcpy GB/s
        # at the same pinned core counts; the crawl's N->4N efficiency
        # is also reported normalized to the memcpy ceiling for the
        # same pair — the engine-attributable share of the scaling loss.
        if fits(90, "membw_probe"):
            try:
                import subprocess

                proc = subprocess.run(
                    [
                        sys.executable,
                        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                     "scripts", "membw_probe.py"),
                        str(lin_cores), str(small_cores), str(cpus),
                    ],
                    capture_output=True, text=True, timeout=600,
                )
                bw = json.loads(proc.stdout.strip().splitlines()[-1])
                result["membw_probe"] = bw
                hw_eff = bw.get("copy_scaling_efficiency", {}).get(
                    f"{small_cores}->{cpus}"
                )
                if hw_eff and "scaling" in result:
                    result["scaling"]["memcpy_efficiency_same_pair"] = hw_eff
                    result["scaling"]["bandwidth_normalized_efficiency"] = round(
                        result["scaling"]["efficiency"] / hw_eff, 3
                    )
                lin_hw = bw.get("copy_scaling_efficiency", {}).get(
                    f"{lin_cores}->{small_cores}"
                )
                if lin_hw and "scaling_linear_region" in result:
                    result["scaling_linear_region"][
                        "memcpy_efficiency_same_pair"
                    ] = lin_hw
            except Exception as exc:  # noqa: BLE001
                result["membw_probe_error"] = f"{type(exc).__name__}: {exc}"
            emit()

        # ---- phase 5: extract-stage scaling (compute-bound core) ------
        try:
            n_extract = int(
                os.environ.get(
                    "BENCH_EXTRACT_PAGES", str(min(n_urls * 10, 1_500_000))
                )
            )
            if fits(big_cost * 2.0, "extract_scaling"):
                ex_big = _in_subprocess("extract", cpus, n_extract)
                ex_small = _in_subprocess("extract", small_cores, n_extract)
                result["extract_stage_scaling"] = {
                    "n_cores": small_cores,
                    "n4_cores": cpus,
                    "pages_per_sec_n": ex_small["pages_per_sec"],
                    "pages_per_sec_n4": ex_big["pages_per_sec"],
                    "efficiency": round(
                        (ex_big["pages_per_sec"] / ex_small["pages_per_sec"])
                        / (cpus / small_cores),
                        3,
                    ),
                }
                emit()
        except Exception as exc:  # noqa: BLE001
            result["extract_scaling_error"] = f"{type(exc).__name__}: {exc}"

    if not os.environ.get("BENCH_SKIP_EXTRAS"):
        # ---- phases 6-8: crawl-variant probes (each own JVM) ----------
        # per-ingest incremental-dedup cost, §2.9 streaming-mode crawl,
        # and the AIMD adaptive-budget crawl — all at the same input as
        # the headline crawl so the deltas are attributable
        base_steady = _steady(crawl_big)
        for fn_name, key, est_mult in (
            ("crawl_aimd", "crawl_adaptive_budgets", 1.2),
            ("crawl_dedup", "crawl_dedup", 2.2),
            ("stream", "crawl_streaming", 2.0),
        ):
            if not fits(big_cost * est_mult, key):
                continue
            try:
                run = _in_subprocess(fn_name, cpus, n_urls)
                run["steady_vs_plain_crawl"] = round(
                    _steady(run) / base_steady, 3
                )
                result[key] = run
            except Exception as exc:  # noqa: BLE001
                result[f"{key}_error"] = f"{type(exc).__name__}: {exc}"
            emit()

    emit()


if __name__ == "__main__":
    main()
