"""The politeness scheduler: per-domain priority queue (A5/W3), budget
gate with round-wise deferral (A6), robots gate, skew-salted domain
repartitioning.

Reference semantics encoded:
  * per-group cap / priority queue — MAX_RESOURCES_PER_KEYWORD top-k
    (/root/reference/video_crawler/pixabay/videos/downloader.py:80-99,
    pixabay/common/schemas.py:6);
  * budget block-until-reset — APIKeyPool.get_key sleeps until the
    earliest reset when exhausted (pixabay/common/base.py:38-55); the
    engine never sleeps in executors: rows beyond the budget are
    *deferred* to the next round's frontier (filter + union), which
    reproduces blocking semantics round-wise;
  * crawl-delay: effective per-round capacity = min(capacity,
    floor(window_s / crawl_delay_s)) for delay > 0;
  * deterministic ordering — rank over (priority, depth, seq) within a
    domain; total crawl order = (round, domain, rank).  seq is a
    deterministic tie-breaker, so two cluster sizes produce identical
    orderings (north_rule requirement).

Scale notes:
  * budgets/robots are tiny per-domain tables → broadcast joins (J3);
  * the per-domain rank is computed in TWO stages (budget_gate): a
    salted pre-cap window bounds every partition to ~|domain|/salt
    rows, and the exact per-domain rank then runs over at most
    salt × capacity survivors — a mega-host with 10^8 frontier rows
    never funnels them through one window partition;
  * the *fetch* stage additionally repartitions by (domain, salt) for
    politeness locality with skew spread (salt_domains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# budget window (seconds) for a budget row whose window_s is NULL
DEFAULT_WINDOW_S = 60


def RANK_ORDER():
    """Deterministic within-domain order: (priority, depth, seq)."""
    return [F.col("priority").asc(), F.col("depth").asc(), F.col("seq").asc()]


def apply_robots(candidates: DataFrame, robots: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split candidates into (allowed, denied) by per-domain robots rules.

    robots: (domain, path_prefix, allow, crawl_delay_s).  Prefix semantics:
    a candidate is denied if the longest matching prefix rule for its
    domain has allow=false; domains with no rule default to allow.

    Shape: the per-domain rules collapse into ONE broadcast row carrying
    a (length-desc, prefix-desc)-sorted rule array; longest-prefix
    resolution is then a row-local array filter — no shuffle, no window.
    (The natural theta-join + row_number form costs a full exchange on
    every candidate row per round; rules tables are KB-sized, so this is
    strictly better at any scale.)
    """
    rules = robots.groupBy("domain").agg(
        F.reverse(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.length("path_prefix").alias("len"),
                        F.col("path_prefix").alias("path_prefix"),
                        F.col("allow").alias("allow"),
                        F.col("crawl_delay_s").alias("crawl_delay_s"),
                    )
                )
            )
        ).alias("__rules")
    )
    path = F.coalesce(F.nullif(F.parse_url("url", F.lit("PATH")), F.lit("")), F.lit("/"))
    joined = candidates.withColumn("__path", path).join(
        F.broadcast(rules), "domain", "left"
    )

    def _matches(r):
        return F.col("__path").startswith(r["path_prefix"])

    best = F.element_at(F.filter(F.col("__rules"), _matches), 1)
    out = (
        joined.withColumn("allow", F.coalesce(best["allow"], F.lit(True)))
        .withColumn(
            "crawl_delay_s",
            F.when(F.col("allow"), best["crawl_delay_s"]),
        )
        .drop("__rules", "__path")
    )
    allowed = out.filter(F.col("allow")).drop("allow")
    denied = out.filter(~F.col("allow")).drop("allow", "crawl_delay_s")
    return allowed, denied


def budget_gate(
    candidates: DataFrame,
    budgets: DataFrame,
    persist_fn=None,
    pre_cap_salt: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Rank candidates per domain and split into (eligible, deferred).

    candidates must carry (domain, priority, depth, seq, crawl_delay_s?).
    eligible = rank <= effective capacity; deferred rows keep all frontier
    columns and return to the next round (A6 round-wise blocking).

    Two-stage top-k so a mega-host never funnels its whole candidate set
    through ONE window partition (the single-window form shuffled every
    row of a 10^8-row domain into one task just to rank the ~capacity
    survivors):

      stage 1 — row_number per (domain, salt-of-url) shard, pre-capped
        at the domain's raw `capacity` (a row ranked > capacity inside
        ANY shard has global rank > capacity >= its effective capacity,
        so it can never be eligible — it defers directly).  Each window
        partition is ~|domain| / pre_cap_salt rows.
      stage 2 — exact global row_number per domain over the survivors
        (<= pre_cap_salt x capacity rows per domain, bounded).

    Rank values emitted for eligible rows are IDENTICAL to the
    single-window form: no dropped row can precede a row whose global
    rank <= capacity (it would need global rank > capacity and < that
    row's simultaneously), so the stage-2 ranks of all potentially
    eligible rows are exact.  The effective capacity (crawl-delay
    tightening) can vary per row, which is why the pre-cap uses the
    domain-constant raw `capacity` upper bound.  Domains with no budget
    row (NULL capacity = unbounded) skip the pre-cap and keep the old
    single-window behavior — an unbounded budget admits everything
    anyway.

    persist_fn, when given, materializes the sharded stage-1 frame
    before its two-way split so neither side re-executes the unbounded
    window (on a cluster this would be a short-lived checkpoint table);
    the bounded stage-2 frame is cheaper to recompute than to
    checkpoint (see the inline note).
    """
    b = budgets.select(
        F.col("domain").alias("b_domain"), "capacity", "window_s"
    )
    joined = candidates.join(
        F.broadcast(b), F.col("domain") == F.col("b_domain"), "left"
    ).drop("b_domain")
    delay = F.coalesce(F.col("crawl_delay_s"), F.lit(0.0))
    eff_cap = F.when(
        delay > 0,
        F.least(
            F.coalesce(F.col("capacity"), F.lit(2**31 - 1)),
            F.floor(F.coalesce(F.col("window_s"), F.lit(DEFAULT_WINDOW_S)) / delay).cast("int"),
        ),
    ).otherwise(F.coalesce(F.col("capacity"), F.lit(2**31 - 1)))

    # stage 1: per-(domain, salt) pre-cap at the raw capacity bound
    cap_bound = F.coalesce(F.col("capacity"), F.lit(2**31 - 1))
    pre_w = Window.partitionBy("domain", "__salt").orderBy(*RANK_ORDER())
    pre = joined.withColumn(
        "__salt", F.pmod(F.xxhash64("url"), F.lit(pre_cap_salt)).cast("int")
    ).withColumn("__pre_rank", F.row_number().over(pre_w))
    if persist_fn is not None:
        pre = persist_fn(pre)
    survivors = pre.filter(F.col("__pre_rank") <= cap_bound).drop(
        "__salt", "__pre_rank"
    )
    pre_deferred = pre.filter(F.col("__pre_rank") > cap_bound).drop(
        "__salt", "__pre_rank", "capacity", "window_s", "crawl_delay_s"
    )

    # stage 2: exact per-domain rank over the bounded survivor set
    w = Window.partitionBy("domain").orderBy(*RANK_ORDER())
    ranked = survivors.withColumn("rank", F.row_number().over(w)).withColumn(
        "__eff_cap", eff_cap
    )
    # NOT materialized: ranked's two consumers each re-run the stage-2
    # window, but it is BOUNDED (<= pre_cap_salt x capacity rows per
    # domain, partition-parallel) — re-sorting it twice costs well under
    # a second of executor time, while the checkpoint it replaced cost
    # 2-4 s of serial DRIVER plan-compile every round (toRdd runs the
    # full Catalyst pipeline per checkpoint; measured with per-step
    # timers around the round's plan build).  The sharded `pre` frame
    # stays materialized: its stage-1 window runs over the whole
    # unbounded candidate set.
    eligible = ranked.filter(F.col("rank") <= F.col("__eff_cap")).drop(
        "__eff_cap", "capacity", "window_s", "crawl_delay_s"
    )
    deferred = ranked.filter(F.col("rank") > F.col("__eff_cap")).drop(
        "__eff_cap", "capacity", "window_s", "crawl_delay_s", "rank"
    ).unionByName(pre_deferred)
    return eligible, deferred


def budget_accounting(
    budgets: DataFrame, scheduled: DataFrame, round_no: int
) -> DataFrame:
    """A4 — fold the round's consumption back into the budget table
    (the reference mutates APIKeyPool state per response,
    /root/reference/video_crawler/pixabay/common/base.py:64-79,115-127;
    the engine folds it per round — same arithmetic, batched).

    scheduled: rows with a `domain` column (the round's fetch_order).
    Returns the budgets table with (used, remaining, reset_ts) updated:
    remaining = max(0, capacity - used), NULL-propagating — a NULL
    capacity means *unbounded* (budget_gate semantics), so remaining
    stays NULL rather than collapsing to 0 ("exhausted").  The guard
    matters because Spark's greatest() SKIPS nulls (greatest(0, NULL)
    = 0), which would silently diverge from the driver-side fold
    (catalog.write_budget_state_row_local) — byte-identity of the two
    paths is asserted in tests/test_plans.py.  reset_ts advances one
    window per round (round-wise time, deterministic — no wall clock).
    """
    used = scheduled.groupBy("domain").agg(F.count("*").alias("used"))
    out = budgets.join(used, "domain", "left").withColumn(
        "used", F.coalesce(F.col("used"), F.lit(0)).cast("long")
    )
    return out.select(
        "domain",
        "capacity",
        "window_s",
        "used",
        F.when(
            F.col("capacity").isNotNull(),
            F.greatest(
                F.lit(0).cast("long"), F.col("capacity") - F.col("used")
            ),
        ).alias("remaining"),
        (
            (F.lit(round_no + 1))
            * F.coalesce(F.col("window_s"), F.lit(DEFAULT_WINDOW_S)).cast("double")
        ).alias("reset_ts"),
    )


def salt_domains(df: DataFrame, n_partitions: int, salt_factor: int = 8) -> DataFrame:
    """Repartition by (domain, salt) ahead of the fetch stage so a
    mega-host's rows spread over `salt_factor` partitions instead of
    hot-spotting one executor (explicit skew handling per north_rule;
    AQE remains the backstop for joins)."""
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64("url"), F.lit(salt_factor)).cast("int")
    )
    return salted.repartition(n_partitions, "domain", "__salt").drop("__salt")


def dedup_within_round(candidates: DataFrame) -> DataFrame:
    """First-wins per canonical_url inside one round: the reference
    processes URLs serially, so the first occurrence (by priority, depth,
    seq) claims the canonical id and later duplicates are idempotent
    re-crawls (base.py:99-107)."""
    w = Window.partitionBy("canonical_url").orderBy(*RANK_ORDER())
    return (
        candidates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
