"""Physical-plan assertions: the properties that matter at 100 TB
(pushdown, broadcast, salting, codegen) are checked on the actual plans
so regressions are caught, not eyeballed."""

from __future__ import annotations

from pyspark.sql import functions as F

from newscrawler_spark import synth
from newscrawler_spark.operators.scheduling import budget_gate, salt_domains


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_parquet_filter_and_column_pushdown(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang")
    )
    plan = _plan(df)
    assert "PushedFilters: [EqualTo(lang,en)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan  # pruned


def test_budget_gate_broadcasts_budgets(spark):
    cand = synth.synth_frontier(spark, 100).withColumn("crawl_delay_s", F.lit(0.0))
    budgets = synth.synth_budgets(spark, 10)
    eligible, _ = budget_gate(cand, budgets)
    assert "BroadcastHashJoin" in _plan(eligible)


def test_budget_gate_two_stage_topk_plan_and_equivalence(spark):
    """The per-domain rank must never funnel a mega-host's full
    candidate set through one window partition: stage 1 partitions by
    (domain, __salt) and pre-caps at capacity, stage 2 ranks only the
    bounded survivors.  Output (rows AND rank values) must equal the
    single-window form."""
    from pyspark.sql import Window

    # skewed: one mega-host with 5000 rows, two small domains
    mega = spark.range(5000).select(
        F.concat(F.lit("https://mega.host/a/"), F.col("id")).alias("url"),
        F.lit("mega.host").alias("domain"),
        (F.col("id") % 3).cast("int").alias("priority"),
        F.lit(0).alias("depth"),
        F.col("id").alias("seq"),
        F.lit(0).alias("round_added"),
        F.lit(0).alias("attempt"),
        F.lit("s").alias("source_seed"),
    )
    small = spark.range(40).select(
        F.concat(F.lit("https://tiny.org/p/"), F.col("id")).alias("url"),
        F.when(F.col("id") % 2 == 0, "tiny.org").otherwise("mini.net").alias("domain"),
        F.lit(1).cast("int").alias("priority"),
        F.lit(0).alias("depth"),
        F.col("id").alias("seq"),
        F.lit(0).alias("round_added"),
        F.lit(0).alias("attempt"),
        F.lit("s").alias("source_seed"),
    )
    cand = mega.unionByName(small).withColumn("crawl_delay_s", F.lit(0.0))
    budgets = spark.createDataFrame(
        [("mega.host", 25, 60), ("tiny.org", 7, 60)],
        "domain string, capacity int, window_s int",
    )

    eligible, deferred = budget_gate(cand, budgets)

    # plan: stage-1 window partitions by (domain, __salt)
    plan = _plan(eligible)
    import re

    windows = re.findall(r"Window \[.*?windowspecdefinition\(([^)]*)\)", plan)
    salted = [w for w in windows if "__salt" in w]
    assert salted, f"no salted pre-cap window in plan:\n{plan[:2000]}"

    # equivalence vs the single-window reference form
    w = Window.partitionBy("domain").orderBy(
        F.col("priority").asc(), F.col("depth").asc(), F.col("seq").asc()
    )
    b = budgets.select(F.col("domain").alias("bd"), "capacity")
    ref = (
        cand.join(b, F.col("domain") == F.col("bd"), "left")
        .withColumn("rank", F.row_number().over(w))
        .withColumn("cap", F.coalesce(F.col("capacity"), F.lit(2**31 - 1)))
    )
    ref_elig = {
        (r.url, r.rank) for r in ref.filter("rank <= cap").collect()
    }
    got_elig = {(r.url, r.rank) for r in eligible.collect()}
    assert got_elig == ref_elig
    # deferred = everything else, with frontier columns intact, no rank
    assert "rank" not in deferred.columns
    assert deferred.count() == cand.count() - len(ref_elig)


def test_no_persisted_round_frame_carries_html(spark):
    """The raw HTML corpus must never be materialized past extraction:
    run_round drops `html` before the fused fetch+extract frame is
    checkpointed (crawl_round.py), so the round's three checkpoints —
    the only buffers that hold executor memory across actions — are
    html-free.  At 100 TB the html column IS the dataset; persisting it
    a second time doubles the round's memory-bandwidth cost (the
    measured 32-thread scaling ceiling)."""
    from newscrawler_spark.plans.crawl_round import RoundConfig, run_round
    from newscrawler_spark.sources.fetch import FixtureFetcher

    frontier = synth.synth_frontier(spark, 200)
    pages = synth.synth_pages(spark, 800)
    budgets = synth.synth_budgets(spark, capacity_default=100)
    robots = synth.synth_robots(spark)
    conf = RoundConfig(n_buckets=4, m_bits=1 << 12, n_partitions=4)
    with FixtureFetcher(pages) as fetcher:
        result = run_round(frontier, None, None, budgets, robots, fetcher, 0, conf)
        assert result.round_log.count() > 0  # force the pipeline
        frames = result.checkpoints + result.docs_input
        assert len(frames) == 3, "round should materialize its pivotal frames"
        for df in frames:
            assert "html" not in df.columns, (
                "persisted round frame carries the raw html corpus: "
                f"{df.columns}"
            )
        # and none of the round's OUTPUTS re-derives html upstream of a
        # non-extract consumer: their analyzed plans read the persisted
        # html-free leaves, not a second fetch
        for out in (result.docs, result.round_log, result.frontier_next):
            assert "html" not in out.columns
        result.unpersist()


def test_salt_domains_spreads_mega_host(spark):
    # one domain, 2000 rows: without salting all rows land in one
    # partition of a domain-hash repartition; with salt they spread
    df = spark.range(2000).select(
        F.concat(F.lit("https://mega.host/a/"), F.col("id")).alias("url"),
        F.lit("mega.host").alias("domain"),
    )
    salted = salt_domains(df, n_partitions=16, salt_factor=8)
    n_parts = (
        salted.withColumn("pid", F.spark_partition_id())
        .select("pid")
        .distinct()
        .count()
    )
    assert n_parts >= 4  # 8 salts over 16 partitions → ≥4 distinct in practice


def test_seen_probe_is_single_pass_and_slim(spark):
    """The bloom probe must appear exactly ONCE in the plan (the old
    filter-union shape executed it per branch) and must cogroup only the
    slim (bucket, url_hash) projection — full-width candidate rows never
    cross the Arrow boundary."""
    from newscrawler_spark.operators.seen import filter_unseen, fold_sidecar

    cand = synth.synth_frontier(spark, 200).withColumn(
        "canonical_url", F.col("url")
    )
    seen = cand.limit(50).select(
        F.xxhash64("canonical_url").alias("url_hash"),
        F.pmod(F.xxhash64("canonical_url"), F.lit(8)).cast("int").alias("bucket"),
    )
    bloom = fold_sidecar(seen, None, "bloom", 1 << 16)
    out = filter_unseen(cand, seen, bloom, 8)
    plan = _plan(out)
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan[:2000]
    import re

    m = re.search(r"FlatMapCoGroupsInPandas[^\n]*", plan)
    # the python stage's output carries only the slim columns
    assert m and "url_hash" in m.group(0)
    assert "priority" not in m.group(0) and "source_seed" not in m.group(0)


def test_url_identity_stays_whole_stage_codegen(spark):
    # the hot canonicalization chain (regex CASE dispatch, splits) must
    # stay inside whole-stage codegen; higher-order-function ops
    # (textops lambdas) are expression-level fallback by Spark design
    from newscrawler_spark.canonical import with_url_identity

    out = with_url_identity(synth.synth_frontier(spark, 10))
    # '*(n)' prefixes mark operators inside a WholeStageCodegen stage
    assert _plan(out).startswith("*(")


def test_local_budget_state_matches_distributed(spark, tmp_path):
    """The driver-side budget-state fold (DuckDB count + pyarrow write)
    must produce value- and type-identical rows to the distributed
    budget_accounting path — INCLUDING a NULL-capacity (unbounded)
    domain, where Spark's null-skipping greatest() once yielded
    remaining=0 while the local fold wrote NULL."""
    from newscrawler_spark.operators.scheduling import budget_accounting
    from newscrawler_spark.sources.catalog import Catalog

    cat = Catalog(tmp_path / "cat")
    budgets = spark.createDataFrame(
        [
            ("a.com", None, 60),     # unbounded: remaining must stay NULL
            ("b.org", 10, 60),
            ("c.net", 2, 30),        # over-consumed: clamps at 0
            ("idle.io", 5, 60),      # never scheduled: used=0
        ],
        "domain string, capacity int, window_s int",
    )
    order_rows = ["a.com"] * 3 + ["b.org"] * 4 + ["c.net"] * 5
    log = spark.createDataFrame(
        [(d,) for d in order_rows], "domain string"
    ).select(
        F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("string").alias("canonical_url"),
        F.lit(None).cast("long").alias("url_hash"),
        F.lit(None).cast("int").alias("bucket"),
        "domain",
        F.lit(1).cast("int").alias("rank"),
        F.lit(None).cast("string").alias("error"),
        F.lit(None).cast("int").alias("attempt"),
        F.lit("order").alias("kind"),
    )
    round_no = 0
    cat.write_round_log(log, round_no)

    # driver-side fold (reads the just-written order partition)
    budget_rows = budgets.select("domain", "capacity", "window_s").collect()
    cat.write_budget_state_row_local(round_no, budget_rows)
    local_df = spark.read.parquet(cat.delta_path("budget_state", round_no))

    # distributed fold over the same delta
    scheduled = (
        cat.read_delta(spark, "round_log", round_no)
        .filter(F.col("kind") == "order")
        .select("domain")
    )
    dist_df = budget_accounting(budgets, scheduled, round_no)

    assert dict(local_df.dtypes) == dict(dist_df.dtypes)
    key = lambda r: r["domain"]  # noqa: E731
    local = sorted((r.asDict() for r in local_df.collect()), key=key)
    dist = sorted((r.asDict() for r in dist_df.collect()), key=key)
    assert local == dist
    by_dom = {r["domain"]: r for r in dist}
    assert by_dom["a.com"]["remaining"] is None      # NULL propagates
    assert by_dom["c.net"]["remaining"] == 0         # clamped
    assert by_dom["idle.io"]["used"] == 0


def test_local_bloom_bitsets_match_distributed(spark, tmp_path):
    """The driver-side (DuckDB+numpy) bloom build must produce
    byte-identical bitsets to the distributed build/merge path — the
    sidecar is prune-only, so the crawl correctness tests would NOT
    catch a divergence here."""
    from newscrawler_spark.operators.seen import fold_sidecar
    from newscrawler_spark.sources.catalog import Catalog

    m_bits = 1 << 16
    cat = Catalog(tmp_path / "cat")

    def seen_df(lo, hi):
        return spark.range(lo, hi).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
            F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(8))
            .cast("int")
            .alias("bucket"),
        )

    def log_shape(df):
        return df.select(
            F.lit(None).cast("string").alias("url"),
            F.lit(None).cast("string").alias("canonical_url"),
            "url_hash",
            "bucket",
            F.lit(None).cast("string").alias("domain"),
            F.lit(None).cast("int").alias("rank"),
            F.lit(None).cast("string").alias("error"),
            F.lit(None).cast("int").alias("attempt"),
            F.lit("seen").alias("kind"),
        )

    cat.write_round_log(log_shape(seen_df(0, 300)), 0)
    cat.write_round_log(log_shape(seen_df(250, 600)), 1)

    # driver-side build + merge
    cat.write_bloom_local(0, None, m_bits)
    cat.write_bloom_local(1, 0, m_bits)
    local = {
        r.bucket: (bytes(r.bitset), r.n_items)
        for r in spark.read.parquet(cat.delta_path("bloom", 1)).collect()
    }

    # distributed build + merge over the same deltas
    b0 = fold_sidecar(seen_df(0, 300), None, "bloom", m_bits)
    b1 = fold_sidecar(seen_df(250, 600), b0, "bloom", m_bits)
    dist = {
        r.bucket: (bytes(r.bitset), r.n_items) for r in b1.collect()
    }
    assert set(local) == set(dist)
    for b in dist:
        assert local[b][0] == dist[b][0], f"bitset differs for bucket {b}"
        assert local[b][1] == dist[b][1]


# ---------------------------------------------------------------------------
# Late-round operators: plan shapes that matter at 100 TB
# ---------------------------------------------------------------------------

def _docs_df(spark, n=60):
    return spark.createDataFrame(
        [(i, f"src{i % 4}", " ".join(f"w{(i * 13 + j) % 40}" for j in range(24)))
         for i in range(n)],
        "doc_id LONG, source STRING, text STRING",
    )


def test_inverted_index_plan_group_limits_no_cartesian(spark):
    """Both window stages must carry WindowGroupLimit (rank pushdown
    below the sort — Spark's map-side top-K), and nothing may
    cartesian."""
    from newscrawler_spark.operators.postings import inverted_index

    plan = _plan(inverted_index(_docs_df(spark)))
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_cms_probe_broadcasts_sketch(spark):
    """The d x w sketch is constant-size: the probe join must broadcast
    it, never shuffle the probe side against it."""
    from newscrawler_spark.operators.sketches import cms_estimate

    plan = _plan(cms_estimate(_docs_df(spark)))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hll_plan_aggregates_with_partial(spark):
    """Register table is a plain two-phase hash aggregate (map-side
    combine) — no window, no cartesian grid join."""
    from newscrawler_spark.operators.sketches import hll_distinct

    plan = _plan(hll_distinct(_docs_df(spark)))
    assert "CartesianProduct" not in plan and "Window" not in plan


def test_boilerplate_broadcasts_doc_totals(spark):
    """The per-source doc-total side (|sources| rows, explicitly
    broadcast) must reach the threshold filter as a broadcast join; the
    boiler-set join is deliberately left to AQE statistics (it can
    outgrow broadcast at web scale).  Nothing may cartesian."""
    from newscrawler_spark.operators.corpusprep import strip_boilerplate

    plan = _plan(strip_boilerplate(_docs_df(spark)))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_media_neardup_hamming_join_shape(spark):
    """The phash pair join must be block-value equi-joins (no cartesian,
    no nested loop) with the bit_count verify after."""
    from newscrawler_spark.operators.dedup import hamming_pairs

    t = spark.createDataFrame(
        [(str(i), i * 37 % 65536) for i in range(64)],
        "media_id STRING, phash LONG",
    )
    plan = _plan(hamming_pairs(t, "media_id", "phash", 16, 2, 4,
                               out_cols=("media_a", "media_b")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_doc_embed_single_aggregation_no_join(spark):
    """Hashed doc embeddings: one map-side-combined groupBy, no joins."""
    from newscrawler_spark.operators.classify import hashed_doc_embedding

    docs = spark.createDataFrame(
        [(i, "w a b c") for i in range(8)], "doc_id LONG, text STRING"
    )
    plan = _plan(hashed_doc_embedding(docs, dim=4))
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") == 1
