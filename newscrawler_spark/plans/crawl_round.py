"""One crawl round — the engine's core physical plan (SURVEY.md §4):

  frontier_n
    → canonicalize (X1/F1/F2)            [staged JVM exprs]
    → within-round first-wins dedup       [window over canonical_url]
    → seen probe + exact anti-join (J4)   [prune, then confirm]
    → robots gate (broadcast)             [deny → quarantine, seen]
    → budget gate (A5/A6)                 [rank ≤ cap; rest deferred]
    → fetch (U3)                          [fixture join or mapInPandas]
    → extract (U1, pandas UDF)            [interleaved spans]
    → validate (F3)                       [empty/invalid → quarantine]
    → deltas: docs, round_log (seen ∪ order ∪ quarantine, one write),
      frontier_{n+1} = deferred ∪ discovered out-links

Seen-set semantics (the contract the simulator oracle also implements):
a canonical URL becomes *seen* the round it is scheduled (eligible after
the budget gate) or robots-denied/unsupported (terminal without fetch).
Deferred rows are not seen — they re-compete next round.  Retries happen
*inside* the fetch stage (tenacity-style, base.py:73-78), never across
rounds, so every scheduled URL reaches a terminal state in its round.

Determinism: every derived value is a pure function of (url, round,
config) — discovered rows get seq = md5_64(url), so two cluster sizes
(or a killed+resumed run) produce identical frontiers and orderings.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schema
from ..canonical import with_url_identity
from ..operators.scheduling import apply_robots, budget_gate, dedup_within_round
from ..operators.seen import filter_unseen, seen_key
from ..xhash import md5_64

FRONTIER_COLS = schema.FRONTIER.fieldNames()


@dataclass
class RoundConfig:
    n_buckets: int = 64
    m_bits: int = 1 << 20
    n_partitions: int = 32
    max_depth: int = 10
    # per-round incremental dedup: check each round's new docs against
    # the accumulated corpus LSH index (dedup.incremental_neardup) and
    # write neardup/dedup_index/dedup_sigs deltas
    dedup_docs: bool = False
    # opt-in crawl-trap guard (operators/webgraph.py::trap_detect):
    # domains whose PRE-dedup URL shape this round matches the
    # explosion signature are quarantined wholesale as `trap_denied`
    trap_guard: bool = False
    # opt-in AIMD politeness budgets (operators/profiling.py::
    # adaptive_budget): each round's fetch outcomes update the budget
    # table, which is persisted as a per-round `budgets` delta — crawl
    # STATE, so a killed run resumes with the evolved capacities and
    # reproduces the uninterrupted run bit-identically
    adaptive_budgets: bool = False


@dataclass
class RoundResult:
    docs: DataFrame
    # unified seen ∪ order ∪ quarantine log, discriminated by `kind` —
    # ONE write job per round instead of three (catalog.write_round_log;
    # `round` is carried by the delta path, not a data column)
    round_log: DataFrame
    frontier_next: DataFrame
    # the round's checkpoints: `docs_input` holds the extracted frame,
    # the only one the background docs write reads, so the scheduler
    # frees `checkpoints` before the next round's compile and
    # `docs_input` at commit (holding a whole round's checkpoints across
    # the overlap window was measured as a 25%-of-runtime GC storm at
    # 32 threads)
    checkpoints: list
    docs_input: list

    def unpersist_light(self) -> None:
        """Release every checkpoint EXCEPT the docs write's input."""
        frames, self.checkpoints = self.checkpoints, []
        release(frames)

    def unpersist(self) -> None:
        """Release ALL the round's checkpoints (idempotent)."""
        self.unpersist_light()
        frames, self.docs_input = self.docs_input, []
        release(frames)


def checkpoint(df: DataFrame, owner: list) -> DataFrame:
    """Materialize `df` once for all of its readers; `owner` records it
    for `release`.  Every frame the crawl materializes is made here.

    LAZY localCheckpoint, not persist: persist keeps the full logical
    plan, so every later transformation re-runs CheckAnalysis over the
    whole round lineage (hundreds of nodes x the 11-platform identity
    CASE trees) — measured ~4 s of DRIVER time per round just
    constructing the plan, pure fixed cost that never parallelizes.
    localCheckpoint truncates the plan to a leaf; construction drops
    ~35% and every downstream analysis/AQE pass shrinks with it.
    Blocks are MEMORY_AND_DISK like persist; `release` frees them."""
    df = df.localCheckpoint(eager=False)
    owner.append(df)
    # overlap materialization with downstream plan compiles: each
    # checkpoint's toRdd costs 2-4 s of serial DRIVER Catalyst time
    # while the executors sit idle — kick the checkpoint's compute
    # job in a background thread NOW so it runs underneath the next
    # sub-plan's compile instead of lazily inside the first reader.
    # The checkpoint RDD is already compiled and shared, so the
    # background count materializes the same blocks the readers
    # would (FIFO-queued; content and AQE decisions are fixed at
    # compile time — determinism is untouched, and the crawl-swap
    # bit-identity tests assert it).  Errors are swallowed: the
    # same lineage re-raises in the foreground reader if real.
    # Measured at 4 cores (perfbench crawl_polite, 10 alternating
    # pairs): without the thread, end-to-end throughput, steady
    # throughput and round time were each worse in 9 of 10 pairs
    # (medians -6.7 %, -2.9 %, +9.4 %).
    InheritableThread(target=_materialize, args=(df,), daemon=True).start()
    return df


def _materialize(df: DataFrame) -> None:
    try:
        df.count()
    except Exception:
        pass  # foreground consumers surface real failures


def release(frames: list | None) -> None:
    """Free materialized frames now: the cache entry of a persisted
    frame and the RDD behind a localCheckpoint.

    ``Dataset.unpersist`` only clears CacheManager entries — the RDD
    behind a localCheckpoint is invisible to it and otherwise waits for
    the ContextCleaner (driver GC + async queue), so blocks from every
    completed round pile up in executor memory and push later rounds
    into eviction/spill thrash.  Reach into the LogicalRDD leaf and
    unpersist the checkpoint RDD directly (verified: getPersistentRDDs
    drops to zero immediately).  Every crawl-path frame is freed here."""
    for df in frames or []:
        df.unpersist()
        try:
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)
        except Exception:
            pass  # cleanup is best-effort; the ContextCleaner backstops


def run_round(
    frontier: DataFrame,
    url_seen: DataFrame | None,
    sidecar: DataFrame | None,  # the previous round's bloom sidecar
    budgets: DataFrame,
    robots: DataFrame,
    fetcher,
    round_no: int,
    conf: RoundConfig,
    fetch_size_hint: int | None = None,
    boot_config: "DataFrame | None" = None,
) -> RoundResult:
    spark = frontier.sparkSession

    # The round's outputs (docs, seen, quarantine, order, next frontier)
    # all fan out of three pivotal frames: the unseen candidates, the
    # budget gate's ranked shards and the extracted pages.  Unmaterialized,
    # each delta write re-executes the whole chain (measured 5x
    # fetch+extract per round), the seen probe's applyInPandas and
    # extract_udf included.  On a cluster the same seam would checkpoint
    # them as short-lived catalog tables.
    checkpoints: list = []
    docs_input: list = []

    # 1-2. identity + within-round dedup
    cand = with_url_identity(frontier)
    # 2b. optional crawl-trap guard: URL-shape explosion stats are
    # computed over the PRE-dedup candidates (the raw-URL volume IS the
    # signal — 300 ?session= variants of one page collapse to a single
    # canonical row right below); flagged domains are a tiny frame,
    # broadcast against the post-gate candidates further down
    trap_domains = None
    if conf.trap_guard:
        from ..operators.webgraph import trap_detect

        trap_domains = (
            trap_detect(cand.select("url", "domain"))
            .filter(F.col("flagged"))
            .select("domain")
        )
    cand = dedup_within_round(cand)

    # 3. seen-set anti-join (sidecar prune + exact) over ALL candidates —
    # one probe pass; the supported/unsupported split happens after
    # (splitting first would run the cogroup probe twice)
    if url_seen is not None:
        cand = filter_unseen(cand, url_seen, sidecar, conf.n_buckets)
    cand = checkpoint(cand, checkpoints)

    # unsupported-platform rows are terminal (extractor has no dialect —
    # mirrors detect_platform → None → error, extractor.py:56-73)
    new = cand.filter(F.col("platform").isNotNull())
    unsupported = cand.filter(F.col("platform").isNull())

    # 4. robots gate
    allowed, denied = apply_robots(new, robots)

    # 4b. trap gate: quarantine the flagged domains' rows for this
    # round (terminal, like robots denials — they enter the seen set so
    # the trap's URL space is never re-scheduled)
    trap_denied = None
    if trap_domains is not None:
        trap_denied = allowed.join(F.broadcast(trap_domains), "domain", "left_semi")
        allowed = allowed.join(F.broadcast(trap_domains), "domain", "left_anti")

    # 5. budget gate → (eligible, deferred); ranked frame materialized
    eligible, deferred = budget_gate(
        allowed, budgets, persist_fn=lambda df: checkpoint(df, checkpoints)
    )

    # 6. fetch + extract.  Partitioning for the fetch is the FETCHER's
    # concern: HttpFetcher salts by (domain, salt) for politeness
    # locality + skew spread (salt_domains); FixtureFetcher joins on url
    # (its own shuffle) — salting first would just add a dead exchange.
    # size hint = previous round's committed frontier_next counter (an
    # upper bound on this round's eligible rows, known for free) — lets
    # FixtureFetcher withhold its broadcast hint for oversized rounds.
    #
    # fetch and extract FUSE into one pipeline whose output is persisted
    # ONCE, html-free: persisting the raw fetched frame as well would
    # hold the round's entire HTML corpus in storage a second time and
    # add a full materialization pass (measured: the two big persists
    # were the round's dominant memory-bandwidth cost).  extract_udf
    # returns an error struct for non-200 rows (html is null), so every
    # downstream consumer — valid/invalid docs, http failures,
    # discovered out-links — reads the same persisted frame.
    # S2/S4 — attach per-platform fetch config (impersonate target +
    # header map, optionally overridden by the round's header bootstrap)
    # whenever a live fetcher declares it consumes it (the reference
    # always sends its per-crawler headers, base.py:24-29).  Fixture
    # fetchers skip the (cheap, 11-row broadcast) join entirely.
    if boot_config is not None or getattr(fetcher, "wants_fetch_config", False):
        from ..operators.projections import platform_config_df, with_fetch_config

        eligible = with_fetch_config(
            eligible, platform_config_df(spark), boot_config
        )
    fetched = fetcher.fetch(eligible, size_hint_rows=fetch_size_hint)

    from ..functions.extract import extract_udf

    # coalesce bounds the checkpointed frame to the round's configured
    # width: FixtureFetcher's found ∪ missing union inflates the
    # partition count to about corpus + request partitions — every
    # downstream consumer of the checkpoint would then launch one task
    # per partition per scan.  coalesce is shuffle-free, never raises
    # the count, and n_partitions is the engine's explicit sizing knob
    # (a cluster sizes it to total cores).
    extracted = checkpoint(
        fetched.coalesce(conf.n_partitions)
        .withColumn(
            "ex", extract_udf(F.col("html"), F.col("url"), F.col("platform"))
        )
        .drop("html"),
        docs_input,  # released at commit, after every other checkpoint
    )
    ok = extracted.filter(F.col("status") == 200)
    valid = ok.filter(
        F.col("ex.error").isNull()
        & (F.size("ex.spans") > 0)
        & F.col("ex.title").isNotNull()
    )

    docs = valid.select(
        F.col("canonical_url").alias("doc_id"),
        F.col("ex.spans").alias("spans"),
        F.col("ex.title").alias("title"),
        F.col("ex.subtitle").alias("subtitle"),
        F.col("url").alias("news_url"),
        "platform",
        F.struct(
            F.col("ex.author_name").alias("author_name"),
            F.col("ex.author_url").alias("author_url"),
            F.col("ex.publish_time").alias("publish_time"),
        ).alias("meta"),
        F.lit(round_no).alias("round"),
        F.pmod(F.xxhash64("domain"), F.lit(conf.n_buckets)).cast("int").alias(
            "domain_bucket"
        ),
        "source_seed",
    )

    # 7-9. unified round log — seen delta (everything that reached a
    # terminal state), deterministic crawl order, and quarantine rows
    # (fetch failures + invalid extractions + robots denials +
    # unsupported platforms; per-row isolation, server.py:130-182) in
    # ONE frame discriminated by `kind`, written as one job
    # (catalog.write_round_log).  `round` rides in the delta path.
    #
    # Shape: each source frame is scanned ONCE, emitting its 1-3 log
    # entries per row as an exploded struct array (seen + order +
    # conditional quarantine for fetched rows; seen + quarantine for
    # robots denials / unsupported platforms).  The previous 6-branch
    # filter-union re-scanned the persisted parents once per branch —
    # hundreds of near-empty map tasks per round at sandbox scale, and
    # 6x the cache-read bandwidth at any scale.
    url_hash, bucket = seen_key(conf.n_buckets)

    def _entry(kind, **cols):
        """One log entry of `kind`: every schema.ROUND_LOG column not
        passed is a NULL of the column's type."""
        cols["kind"] = F.lit(kind)
        return F.struct(*[
            cols.get(f.name, F.lit(None).cast(f.dataType)).alias(f.name)
            for f in schema.ROUND_LOG
        ])

    def _log_rows(df, *entries):
        return df.select(
            F.explode(F.array_compact(F.array(*entries))).alias("e")
        ).select("e.*")

    seen_entry = _entry("seen", canonical_url=F.col("canonical_url"),
                        url_hash=url_hash, bucket=bucket)
    # quarantine reason for a fetched row, NULL when the row is a valid
    # doc (same predicates as the failed/invalid splits above)
    fetch_quarantine_error = F.when(
        F.col("status") != 200, F.concat(F.lit("http_"), F.col("status"))
    ).when(
        F.col("ex.error").isNotNull() | (F.size("ex.spans") <= 0),
        F.coalesce(F.col("ex.error"), F.lit("empty content")),
    )
    round_log = _log_rows(
        extracted,
        seen_entry,
        _entry("order", url=F.col("url"), canonical_url=F.col("canonical_url"),
               domain=F.col("domain"), rank=F.col("rank")),
        F.when(
            fetch_quarantine_error.isNotNull(),
            _entry("quarantine", url=F.col("url"),
                   error=fetch_quarantine_error, attempt=F.col("attempts")),
        ),
    )
    # rows that are terminal without a fetch: seen, and quarantined
    terminal = [(denied, "robots_denied"), (unsupported, "unsupported_platform")]
    if trap_denied is not None:
        terminal.append((trap_denied, "trap_denied"))
    for df, reason in terminal:
        round_log = round_log.unionByName(
            _log_rows(df, seen_entry, _entry("quarantine", url=F.col("url"),
                                       error=F.lit(reason), attempt=F.lit(0)))
        )

    # 10. next frontier = deferred ∪ discovered out-links
    discovered = (
        extracted.filter((F.col("status") == 200) & (F.col("depth") < conf.max_depth))
        .select(
            F.col("source_seed"),
            F.col("priority"),
            (F.col("depth") + 1).alias("depth"),
            F.explode("out_links").alias("url"),
        )
        .select(
            "url",
            F.parse_url("url", F.lit("HOST")).alias("domain"),
            "priority",
            "depth",
            md5_64(F.col("url")).alias("seq"),
            F.lit(round_no + 1).alias("round_added"),
            F.lit(0).alias("attempt"),
            "source_seed",
        )
    )
    frontier_next = deferred.select(*FRONTIER_COLS).unionByName(
        discovered.select(*FRONTIER_COLS)
    )

    return RoundResult(
        docs=docs,
        round_log=round_log,
        frontier_next=frontier_next,
        checkpoints=checkpoints,
        docs_input=docs_input,
    )
