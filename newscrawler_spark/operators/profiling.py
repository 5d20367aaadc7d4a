"""Corpus / crawl profiling with EXACT integer quantiles, and adaptive
politeness budgets from observed fetch behaviour.

Two operators a production crawl+curation loop runs every round:

  * ``length_quantiles`` — exact per-stratum p50/p90/p99 of an integer
    measure (doc length, fetch latency).  Spark's approx_percentile is
    the usual answer at scale, but its sketch is not reproducible
    across engines; here the quantile is the EXACT order statistic
    (value at rank ceil(q·n), ranks all-integer), computed with one
    per-stratum window + conditional aggregation.  The partition is a
    stratum (source / domain) — bounded by design; for a single
    giant stratum the same two-stage salted pre-cap as the scheduler
    applies (only ranks ≤ ceil(0.99·n) matter).
  * ``adaptive_budget`` — AIMD politeness control (TCP-style:
    additive-increase / multiplicative-decrease, the classic
    feedback rule for unknown capacity): a host whose observed error
    rate or p90 latency crosses its threshold gets its per-round
    capacity HALVED next round; a healthy host earns +1 up to a cap.
    All decisions are exact integer arithmetic (error rate in basis
    points, p90 by order statistic), so the next-round budget table
    is bit-identical on any engine — which matters because the budget
    table is part of the resumable crawl state.

Reference anchor: the reference's budgets are static constants
(`video_crawler/pixabay/common/base.py:16-26` — 100 req/60 s
block-until-reset); ``adaptive_budget`` is the engine-added dynamic
form feeding the same ``budget_gate`` (operators/scheduling.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..xhash import md5_64

QUANTILES = (50, 90, 99)  # percent

# AIMD defaults
ERR_BP_HALVE = 2000       # halve capacity when error rate > 20 %
LAT_P90_HALVE = 1800      # ... or p90 latency > 1800 ms
CAP_MAX = 64
CAP_MIN = 1


def length_quantiles(
    docs: DataFrame,
    value_col: str = "n_chars",
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """(stratum, n, p50, p90, p99): exact order-statistic quantiles of
    an integer column per stratum — value at rank ceil(q·n), ties
    broken by id so the rank order is total.  One per-stratum window
    (rank + count) then a conditional aggregate — a single pass."""
    w = Window.partitionBy("stratum").orderBy(
        F.col("v").asc(), F.col(id_col).asc()
    )
    cw = Window.partitionBy("stratum")
    ranked = (
        docs.select(
            F.col(stratum_col).alias("stratum"),
            F.col(value_col).alias("v"),
            F.col(id_col),
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("c", F.count(F.lit(1)).over(cw))
    )
    exprs = [F.count(F.lit(1)).cast("long").alias("n")]
    for q in QUANTILES:
        pos = F.expr(f"(c * {q} + 99) div 100")  # ceil(q·c/100), exact ints
        exprs.append(
            F.max(F.when(F.col("rn") == pos, F.col("v"))).cast("long").alias(f"p{q}")
        )
    return ranked.groupBy("stratum").agg(*exprs)


def synthetic_fetch_log(fetches: DataFrame) -> DataFrame:
    """``adaptive_budget``'s fetch log for fetches whose outcome was not
    measured: (domain, url) rows get a latency in [50, 2050) ms and an
    ok flag (~15 % errors), each a pure function of the url via md5_64,
    so a re-run of the same fetches reproduces the same budgets."""
    return fetches.select(
        "domain",
        "url",
        (
            F.lit(50)
            + F.pmod(md5_64(F.concat(F.lit("lat:"), F.col("url"))), F.lit(2000))
        ).cast("long").alias("latency_ms"),
        (
            F.pmod(md5_64(F.concat(F.lit("ok:"), F.col("url"))), F.lit(100))
            >= F.lit(15)
        ).alias("ok"),
    )


def adaptive_budget(
    fetch_log: DataFrame,
    budgets: DataFrame,
    err_bp_halve: int = ERR_BP_HALVE,
    lat_p90_halve: int = LAT_P90_HALVE,
    cap_max: int = CAP_MAX,
    cap_min: int = CAP_MIN,
) -> DataFrame:
    """Next-round politeness budgets from this round's fetch outcomes.

    ``fetch_log``: (domain, url, latency_ms:int, ok:boolean) — one row
    per fetch.  ``budgets``: (domain, capacity) — the current table
    (KB-scale, broadcast).  Returns (domain, n_fetches, err_bp,
    p90_latency, capacity, next_capacity):

        err_bp   = n_err · 10000 / n          (integer division, exact)
        p90      = latency at rank ceil(0.9·n)  (order statistic)
        next     = max(cap_min, capacity // 2)  if err_bp > err_bp_halve
                                                 or p90 > lat_p90_halve
                 = min(cap_max, capacity + 1)   otherwise

    A domain in ``budgets`` with no fetches this round keeps its
    capacity (no evidence → no change).
    """
    w = Window.partitionBy("domain").orderBy(
        F.col("latency_ms").asc(), F.col("url").asc()
    )
    cw = Window.partitionBy("domain")
    ranked = (
        fetch_log.withColumn("rn", F.row_number().over(w))
        .withColumn("c", F.count(F.lit(1)).over(cw))
    )
    p90pos = F.expr("(c * 90 + 99) div 100")
    stats = ranked.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).cast("long").alias("n_err"),
        F.max(F.when(F.col("rn") == p90pos, F.col("latency_ms")))
        .cast("long")
        .alias("p90_latency"),
    )
    joined = budgets.select("domain", "capacity").join(
        stats, "domain", "left"
    )
    err_bp = F.expr("(n_err * 10000) div n_fetches").cast("long")
    degrade = (err_bp > err_bp_halve) | (F.col("p90_latency") > lat_p90_halve)
    nxt = (
        F.when(F.col("n_fetches").isNull(), F.col("capacity"))
        .when(
            degrade,
            F.greatest(F.lit(cap_min), F.expr("capacity div 2").cast("int")),
        )
        .otherwise(F.least(F.lit(cap_max), F.col("capacity") + 1))
    )
    return joined.select(
        "domain",
        F.coalesce("n_fetches", F.lit(0)).cast("long").alias("n_fetches"),
        F.coalesce(err_bp, F.lit(0)).cast("long").alias("err_bp"),
        F.coalesce("p90_latency", F.lit(0)).cast("long").alias("p90_latency"),
        F.col("capacity").cast("int").alias("capacity"),
        nxt.cast("int").alias("next_capacity"),
    )
