"""The resumable round scheduler — driver-level iterative control flow
(the reference's politeness blocking and pagination loops have no
Catalyst analog; SURVEY.md §4).

Each round: read frontier delta from the catalog → run_round → write all
deltas → atomically commit the manifest.  A killed run resumes from the
last committed manifest and, because every derived value is a pure
function of (url, round, config), reproduces the uninterrupted run
bit-identically (tested in tests/test_crawl.py).

One path per mechanism: every delta the loop reads back comes through
Catalog.read_delta (typed by schema.TABLES); the docs delta is always
written on a background thread, and its round commits when that write
is done; every frame the crawl materializes is made by
crawl_round.checkpoint and freed by crawl_round.release, so a finished
crawl() holds no checkpoint.

Seen-filter lifecycle: each round folds its new seen rows into the
previous round's bloom sidecar and persists it as its own `bloom`
delta, so a resume reads the latest sidecar instead of rescanning 10^10
seen rows.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema
from ..operators.seen import fold_sidecar
from ..sources.catalog import Catalog
from .crawl_round import RoundConfig, RoundResult, checkpoint, release, run_round

# Above this many rows a round's seen-sidecar and budget-state folds go
# back to distributed jobs (driver-side DuckDB over the round_log
# partition would otherwise read GBs on one node).
LOCAL_FOLD_MAX_ROWS = 5_000_000

# Per-round near-dup probe's hot-bucket cutoff (dedup.incremental_neardup's
# bucket_cap): band keys shared by more indexed docs than this are
# skipped, keeping the probe O(batch) on template-heavy corpora.
CRAWL_DEDUP_BUCKET_CAP = 128


def bootstrap_hosts_for_round(
    frontier: DataFrame, bootstrap, round_no: int
) -> list[str]:
    """The hosts a round pulls onto the driver for header bootstrapping —
    BOUNDED (round-3 verdict item 2: the naive distinct().collect() of
    frontier domains is millions of rows at 10^10-URL scale).

    Two bounds compose:
      * hosts whose bootstrap entry is still TTL-fresh are anti-joined
        out BEFORE the collect (they need neither re-collect nor
        re-bootstrap — refresh() would skip them anyway, but only after
        they crossed the driver);
      * the remainder is capped to the top `max_hosts_per_round` by
        frontier mass (ties broken by domain for determinism) — compiles
        to TakeOrderedAndProject over the per-domain counts, so the
        driver sees at most K rows however wide the frontier is.  The
        long tail keeps static platform config until it carries weight.
    """
    mass = (
        frontier.filter(F.col("domain").isNotNull())
        .groupBy("domain")
        .agg(F.count("*").alias("__mass"))
    )
    fresh = bootstrap.fresh_hosts(round_no)
    if fresh:
        fresh_df = frontier.sparkSession.createDataFrame(
            [(h,) for h in sorted(fresh)], "domain string"
        )
        mass = mass.join(F.broadcast(fresh_df), "domain", "left_anti")
    top = (
        mass.orderBy(F.col("__mass").desc(), F.col("domain").asc())
        .limit(bootstrap.max_hosts_per_round)
        .collect()
    )
    return [r.domain for r in top]


def seed_frontier(catalog: Catalog, seeds: DataFrame) -> None:
    """Round-0 bootstrap: seeds become frontier delta 0 (idempotent if
    the manifest hasn't committed round 0 yet)."""
    if catalog.last_round >= 0:
        return
    catalog.write_delta(_as_table(seeds, "frontier"), "frontier", 0)


def _as_table(df: DataFrame, table: str) -> DataFrame:
    """`df` with its table's schema.TABLES type, so that every delta of
    the table has one file schema.  `to()` selects, orders and casts the
    columns but keeps a non-null column non-null; the union with an
    empty frame of the table's type makes each column as nullable as
    the type declares (the optimizer drops the empty side)."""
    table_schema = schema.TABLES[table]
    return df.to(table_schema).unionByName(
        df.sparkSession.createDataFrame([], table_schema)
    )


def crawl(
    spark: SparkSession,
    catalog: Catalog,
    fetcher,
    budgets: DataFrame,
    robots: DataFrame,
    max_rounds: int = 10,
    conf: RoundConfig | None = None,
    header_bootstrap=None,
    robots_fetcher=None,
) -> dict:
    """Run crawl rounds until the frontier drains or max_rounds.

    `budgets` and `robots` are materialized once per call
    (crawl_round.checkpoint, released when crawl() returns or raises), so
    callers need not cache them: every round reads the checkpoint
    instead of re-running their lineage in each of its gates.  A later
    crawl() call on the same catalog resumes from its manifest.
    `header_bootstrap` (operators.projections.HeaderBootstrap) is the S4
    seam: refreshed at every round boundary (TTL-gated), its host→headers
    table is broadcast onto the round's eligible rows.
    `robots_fetcher`, when given, closes the robots loop LIVE: at each
    round boundary robots.txt is fetched (through that fetcher — same
    retry/timeout machinery as page fetches) for frontier domains not
    yet attempted, parsed via sources.robots.parse_robots, and unioned
    onto the static `robots` rules for the round's gate.  Static rules
    take precedence only in the trivial sense that both apply — the
    gate's longest-prefix match sees the union.
    Returns the final metrics dict (also persisted per round).
    """
    held: list[DataFrame] = []
    # one thread: each round's docs write (see _crawl_rounds)
    docs_writer = ThreadPoolExecutor(max_workers=1)
    try:
        return _crawl_rounds(
            spark, catalog, fetcher, checkpoint(budgets, held),
            checkpoint(robots, held), held, docs_writer, max_rounds,
            conf or RoundConfig(), header_bootstrap, robots_fetcher,
        )
    finally:
        docs_writer.shutdown()
        release(held)


def _budget_rows(budgets: DataFrame) -> list | None:
    """The budget table's rows for the driver-local budget_state fold,
    or None when the table has more than LOCAL_FOLD_MAX_ROWS rows (the
    collect is bounded by a limit; bigger tables fold distributed)."""
    rows = (
        budgets.select("domain", "capacity", "window_s")
        .limit(LOCAL_FOLD_MAX_ROWS + 1)
        .collect()
    )
    return rows if len(rows) <= LOCAL_FOLD_MAX_ROWS else None


def _crawl_rounds(
    spark: SparkSession,
    catalog: Catalog,
    fetcher,
    budgets: DataFrame,
    robots: DataFrame,
    held: list[DataFrame],
    docs_writer: ThreadPoolExecutor,
    max_rounds: int,
    conf: RoundConfig,
    header_bootstrap,
    robots_fetcher,
) -> dict:
    totals: dict = {}
    robots_done: set[str] = set()

    # budgeted hosts to bootstrap alongside each round's own frontier
    # hosts, bounded like them: the first max_hosts_per_round by domain
    boot_hosts = (
        [
            r.domain
            for r in budgets.select("domain").distinct().orderBy("domain")
            .limit(header_bootstrap.max_hosts_per_round).collect()
        ]
        if header_bootstrap is not None
        else None
    )
    # budget table rows for the driver-local budget_state fold (zero
    # Spark jobs), collected only while the table has at most
    # LOCAL_FOLD_MAX_ROWS rows — the collect is bounded, and a bigger
    # table folds distributed every round.  In adaptive mode the table
    # is per-round STATE instead: re-read from the last committed
    # `budgets` delta on resume and re-collected (same bound) after
    # each AIMD update.
    budgets_round = (
        catalog.read_delta(spark, "budgets", catalog.last_round)
        if conf.adaptive_budgets
        else None
    )
    if budgets_round is None:
        budgets_round = budgets
    budget_rows = _budget_rows(budgets_round)

    # Deferred-commit pipeline: round N's docs write (its biggest delta,
    # needed by nothing round N+1 compiles against) runs on a background
    # thread UNDER round N+1's serial driver work (Catalyst analysis +
    # codegen, measured ~12 s/round at 32 cores — the driver-bound side
    # of the scaling ratio).  All other writes stay strictly sequential
    # in the foreground (concurrent write JOBS measured 4x slower under
    # the shared local-mode scheduler); the only overlap is executor
    # work vs driver compile.  Round N's metrics row + manifest commit
    # happen when the future joins — before any N+1 WRITE — so the
    # manifest never commits a round whose deltas aren't all on disk
    # (crash ⇒ redo the uncommitted round; write_delta overwrites, so
    # the redo is idempotent).  Incremental dedup waits for the write
    # early, because it reads the delta back; the commit still waits for
    # the next round's compile.
    pending: dict | None = None

    def _finalize_pending(final: bool = False) -> None:
        nonlocal pending
        if pending is None:
            return
        p, pending = pending, None
        p["counters"]["docs"] = p["docs"].result()
        if final:
            # no later round overlapped the write tail — attribute it
            p["counters"]["wall_sec"] = round(time.time() - p["t_round"], 3)
        catalog.write_metrics_row(p["round_no"], p["counters"])
        catalog.commit_round(p["round_no"], p["counters"])
        p["result"].unpersist()
        totals[p["round_no"]] = p["counters"]

    start = catalog.last_round + 1
    for round_no in range(start, max_rounds):
        t_round = time.time()
        # committed counters already know if the frontier drained — no
        # isEmpty() job needed except for the un-counted seed round; an
        # uncommitted pending round's counters live in memory
        prev = (
            pending["counters"]
            if pending is not None and pending["round_no"] == round_no - 1
            else catalog.read_manifest().get("rounds", {}).get(str(round_no - 1))
        )
        # per-round reads are typed by schema.TABLES (read_delta):
        # schema inference costs a driver-side footer scan per round
        # (pure fixed cost), and at scale a delta's schema is table
        # metadata, never file footers.  No frontier delta = empty.
        frontier = catalog.read_delta(spark, "frontier", round_no)
        if frontier is None:
            break
        if prev is not None:
            if prev.get("frontier_next", 0) == 0:
                break
        elif frontier.isEmpty():
            break

        url_seen = catalog.read_table(spark, "url_seen", upto_round=round_no - 1)
        # the previous round's bloom sidecar (one bitset per bucket);
        # None in round 0
        sidecar = catalog.read_delta(spark, "bloom", round_no - 1)

        boot_cfg = None
        if header_bootstrap is not None:
            # S4 scope: bootstrap every host this round may fetch —
            # budgeted domains PLUS domains discovered mid-crawl (the
            # reference bootstraps per visited host,
            # libs/playwright_driver.py:26-58; a budgets-only scope
            # would never bootstrap hosts that enter via out-links).
            # The collect is BOUNDED: TTL-fresh hosts are anti-joined
            # out and the rest capped to top-K by frontier mass
            # (bootstrap_hosts_for_round) — at most K rows reach the
            # driver however wide the frontier grows.
            round_hosts = set(
                bootstrap_hosts_for_round(frontier, header_bootstrap, round_no)
            )
            header_bootstrap.refresh(
                sorted(round_hosts.union(boot_hosts)), round_no
            )
            boot_cfg = header_bootstrap.config_df(spark)

        if robots_fetcher is not None:
            from ..sources.robots import fetch_robots

            doms, new_rules = fetch_robots(
                frontier, robots_fetcher, exclude=robots_done,
            )
            robots_done.update(doms)
            if new_rules:
                # re-materialize the rules only when they changed.  The
                # table this replaces stays held until the crawl ends:
                # the lazy checkpoint reads its blocks until it is
                # computed, and a rules table is KB-scale (the gate
                # broadcasts it)
                robots = checkpoint(
                    robots.unionByName(
                        spark.createDataFrame(new_rules, schema.ROBOTS)
                    ),
                    held,
                )

        result: RoundResult = run_round(
            frontier, url_seen, sidecar, budgets_round, robots, fetcher,
            round_no, conf,
            fetch_size_hint=(prev or {}).get("frontier_next"),
            boot_config=boot_cfg,
        )

        # the previous round's backgrounded docs write ran under this
        # round's plan compile; join + commit it before any write job
        _finalize_pending()

        # actions: write all deltas, then commit atomically (sequential —
        # measured: concurrent write jobs contend on the shared local-mode
        # scheduler/memory and run 4x slower than back-to-back; the ONLY
        # exception is the docs write, which is spawned LAST and overlaps
        # exclusively with the next round's driver compile).
        # Per-round write jobs: round_log (seen ∪ order ∪ quarantine in
        # ONE partitioned write), frontier and docs — 3.  The sidecar and
        # budget_state fold on the driver (no Spark job) unless the round
        # is over LOCAL_FOLD_MAX_ROWS, the metrics row is written
        # driver-side (pyarrow), and per-table counts ride on the big
        # writes as Observations.
        log_counts = catalog.write_round_log(result.round_log, round_no)
        n_next = catalog.write_delta(result.frontier_next, "frontier", round_no + 1)

        # sidecar + budget accounting both re-read the just-written
        # (small) round_log delta — partition-pruned by kind,
        # column-pruned — instead of re-executing the round lineage.
        # Small rounds fold both on the DRIVER (DuckDB + numpy/pyarrow,
        # the same per-bucket kernels, zero Spark jobs); big rounds use
        # the distributed path.
        log_round = catalog.read_delta(spark, "round_log", round_no)
        if log_counts["seen"] <= LOCAL_FOLD_MAX_ROWS:
            catalog.write_bloom_local(
                round_no, round_no - 1 if round_no > 0 else None, conf.m_bits
            )
        else:
            seen_round = log_round.filter(F.col("kind") == "seen")
            catalog.write_delta(
                fold_sidecar(seen_round, sidecar, "bloom", conf.m_bits),
                "bloom",
                round_no,
            )

        counters = {
            "scheduled": log_counts["order"],
            "docs": None,  # set when the docs write joins
            "new_seen": log_counts["seen"],
            "quarantined": log_counts["quarantine"],
            "frontier_next": n_next,
            "wall_sec": round(time.time() - t_round, 3),
        }

        # A3/A4: budget accounting delta (the reference's batch
        # success/fail counters and APIKeyPool folds, round-wise — see
        # operators.scheduling.budget_accounting); the metrics row is
        # written at commit time (it needs the docs count)
        from ..operators.scheduling import budget_accounting

        if budget_rows is not None and log_counts["order"] <= LOCAL_FOLD_MAX_ROWS:
            catalog.write_budget_state_row_local(round_no, budget_rows)
        else:
            scheduled = log_round.filter(F.col("kind") == "order").select("domain")
            catalog.write_delta(
                _as_table(
                    budget_accounting(budgets_round, scheduled, round_no),
                    "budget_state",
                ),
                "budget_state",
                round_no,
            )

        if conf.adaptive_budgets:
            # AIMD update: this round's fetch outcomes → next round's
            # capacities, written as the round's `budgets` delta (KB —
            # one row per domain) so the evolved table is crawl state a
            # resume picks up.  Outcomes are synthetic, a deterministic
            # pure function of the url (profiling.synthetic_fetch_log —
            # the live-fetch path would feed measured latency/status
            # through the same log shape), so re-running a crashed round
            # reproduces the identical next-capacity table.
            from ..operators.profiling import adaptive_budget, synthetic_fetch_log

            fetch_log = synthetic_fetch_log(
                log_round.filter(F.col("kind") == "order")
            )
            upd = adaptive_budget(fetch_log, budgets_round)
            nxt = (
                upd.select("domain", F.col("next_capacity").alias("capacity"))
                .join(
                    budgets_round.select("domain", "window_s", "reset_ts"),
                    "domain",
                )
                .select("domain", "capacity", "window_s", "reset_ts")
            )
            catalog.write_delta(nxt, "budgets", round_no)
            # read the delta back (truncates lineage — identical to what
            # a resume at round_no+1 would read) and re-collect the
            # bounded row cache
            budgets_round = catalog.read_delta(spark, "budgets", round_no)
            budget_rows = _budget_rows(budgets_round)
            counters["capacity_total"] = int(
                budgets_round.agg(F.sum("capacity")).first()[0] or 0
            )

        # spawn the docs write LAST (all foreground writes done) so it
        # overlaps only the next round's serial driver compile.  Every
        # checkpoint except the docs write's own input is consumed by
        # now — release them BEFORE the overlap window so two rounds'
        # block sets never coexist (measured as a 25%-of-runtime GC
        # storm at 32 threads when they did)
        result.unpersist_light()
        # .result() returns the row count or re-raises the write's error
        docs = docs_writer.submit(
            inheritable_thread_target(spark)(catalog.write_delta),
            result.docs, "docs", round_no,
        )

        # optional per-round incremental dedup: this round's docs delta
        # vs the accumulated corpus index (the 100 TB pipeline's
        # per-ingest dedup shape) — batch = the just-written docs delta
        # (re-read once the write is done, so the round lineage isn't
        # re-executed), history = the committed index/signature deltas
        # of earlier rounds
        if conf.dedup_docs and docs.result() > 0:
            from ..operators.dedup import doc_text, incremental_neardup

            # repartition BEFORE the signature aggregation: the docs
            # delta is a handful of small parquet files, so the scan
            # comes back as 1-2 input partitions — and minhash's md5
            # work happens map-side in the partial agg, i.e. on those
            # few cores (measured: one task grinding 3+ min at 32
            # cores).  One narrow shuffle of the batch text buys full
            # parallelism for the 16x-md5-per-shingle hot loop.
            batch = (
                catalog.read_delta(spark, "docs", round_no)
                .select("doc_id", doc_text().alias("text"))
                .repartition(conf.n_partitions)
            )
            dedup_frames: list[DataFrame] = []
            dd = incremental_neardup(
                batch,
                catalog.read_table(spark, "dedup_index", upto_round=round_no - 1),
                catalog.read_table(spark, "dedup_sigs", upto_round=round_no - 1),
                bucket_cap=CRAWL_DEDUP_BUCKET_CAP,
                persist_fn=lambda df: checkpoint(df, dedup_frames),
            )
            counters["neardup_matches"] = catalog.write_delta(
                dd["matches"], "neardup", round_no
            )
            catalog.write_delta(dd["index_delta"], "dedup_index", round_no)
            catalog.write_delta(dd["sigs_delta"], "dedup_sigs", round_no)
            release(dedup_frames)

        pending = {
            "round_no": round_no,
            "counters": counters,
            "docs": docs,
            "result": result,
            "t_round": t_round,
        }
    _finalize_pending(final=True)
    return totals
