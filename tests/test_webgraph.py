"""Semantics tests for the web-graph / revisit analytics operators
(operators/webgraph.py) on crafted inputs where the right answer is
known by construction.  The driver's oracle harness separately checks
the same operators against DuckDB on the sf tables (queries host_rank,
anchor_stats, trap_detect, recrawl_schedule)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newscrawler_spark.operators import webgraph as WG


# ---------------------------------------------------------------------------
# host_rank
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def star_edges(spark):
    # hub -> a,b,c ; a,b,c -> hub  (hub should out-rank the leaves)
    rows = [("hub", "a"), ("hub", "b"), ("hub", "c"),
            ("a", "hub"), ("b", "hub"), ("c", "hub")]
    return spark.createDataFrame(rows, "src_host string, dst_host string")


def test_host_rank_star_ordering(spark, star_edges):
    out = {r["host"]: r for r in WG.host_rank(star_edges).collect()}
    assert set(out) == {"hub", "a", "b", "c"}
    assert out["hub"]["out_degree"] == 3
    assert out["a"]["out_degree"] == 1
    # the hub receives three full contributions, each leaf one third
    assert out["hub"]["rank"] > out["a"]["rank"]
    assert out["a"]["rank"] == out["b"]["rank"] == out["c"]["rank"]


def test_host_rank_one_iteration_exact(spark):
    # a -> b only.  After 1 iteration:
    #   b: base + 85% * (scale // 1);  a: base + 0
    edges = spark.createDataFrame([("a", "b")], "src_host string, dst_host string")
    out = {r["host"]: r["rank"] for r in WG.host_rank(edges, n_iter=1).collect()}
    scale = WG.RANK_SCALE
    base = (100 - WG.RANK_DAMP_PCT) * scale // 100
    assert out["a"] == base
    assert out["b"] == base + WG.RANK_DAMP_PCT * scale // 100


def test_host_rank_partitioning_invariant(spark, star_edges):
    """Fixed-point BIGINT arithmetic ⇒ bit-identical ranks at any
    partitioning (the property float PageRank cannot give)."""
    a = sorted(WG.host_rank(star_edges.repartition(1)).collect())
    b = sorted(WG.host_rank(star_edges.repartition(7, "dst_host")).collect())
    assert a == b


def test_host_rank_dangling_sink(spark):
    # b has no out-edges: its mass evaporates (documented), out_degree 0
    edges = spark.createDataFrame([("a", "b")], "src_host string, dst_host string")
    out = {r["host"]: r for r in WG.host_rank(edges).collect()}
    assert out["b"]["out_degree"] == 0
    assert out["b"]["rank"] > out["a"]["rank"]  # b still accumulates from a


def test_rank_prioritize_tiers_and_band_preservation(spark):
    ranks = spark.createDataFrame(
        [("big", 3 * WG.RANK_SCALE), ("mid", WG.RANK_SCALE), ("small", 1)],
        "host string, rank long",
    )
    fr = spark.createDataFrame(
        [(1, "big", 0), (2, "mid", 0), (3, "small", 0),
         (4, "unranked", 0), (5, "small", 1)],
        "doc_id long, domain string, priority int",
    )
    out = {r["doc_id"]: r["priority"] for r in
           WG.rank_prioritize(fr, ranks).collect()}
    assert out[1] == 0   # band 0, tier 0
    assert out[2] == 1   # band 0, tier 1
    assert out[3] == 2   # band 0, tier 2
    assert out[4] == 1   # unranked -> middle tier
    # band order preserved: every band-1 priority > every band-0 priority
    assert out[5] == 5 and out[5] > max(out[1], out[2], out[3])


# ---------------------------------------------------------------------------
# anchor_stats
# ---------------------------------------------------------------------------

def test_anchor_stats_counts_and_tiebreak(spark):
    rows = [
        ("t", "news"), ("t", "news"), ("t", "sport"),      # news wins by count
        ("u", "alpha"), ("u", "beta"),                      # tie -> 'beta' (greatest)
    ]
    links = spark.createDataFrame(rows, "dst_host string, anchor string")
    out = {r["dst_host"]: r for r in WG.anchor_stats(links).collect()}
    assert out["t"]["n_links"] == 3
    assert out["t"]["n_anchors"] == 2
    assert out["t"]["top_anchor"] == "news"
    assert out["t"]["top_anchor_count"] == 2
    assert out["u"]["top_anchor"] == "beta"
    assert out["u"]["top_anchor_count"] == 1


def test_anchor_stats_plan_has_no_window(spark):
    """The dominant anchor comes from chained hash aggregates, not a
    window sort — a mega-target never funnels through one task."""
    links = spark.createDataFrame(
        [("t", "x")], "dst_host string, anchor string"
    )
    plan = WG.anchor_stats(links)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan


# ---------------------------------------------------------------------------
# trap_detect
# ---------------------------------------------------------------------------

def _urls(domain, n, query=False, same_path=False):
    out = []
    for i in range(n):
        path = "/page" if same_path else f"/p/{i}"
        q = f"?session={i}" if query else ""
        out.append((f"https://{domain}{path}{q}", domain))
    return out


def test_trap_detect_flags_explosion(spark):
    deep = [
        (f"https://deep.example/{'/'.join(['s'] * 15)}/p{i}", "deep.example")
        for i in range(150)
    ]
    articles = [  # unique paths, no queries — a NORMAL news site
        (f"https://news.example/story/{i}", "news.example") for i in range(200)
    ]
    rows = (
        _urls("trap.example", 200, query=True)        # query-string spam
        + deep                                         # recursive path trap
        + articles
        + _urls("hub.example", 200, same_path=True)    # one path repeated
        + _urls("tiny.example", 5, query=True)         # under min_urls
    )
    fr = spark.createDataFrame(rows, "url string, domain string")
    out = {r["domain"]: r for r in WG.trap_detect(fr).collect()}
    assert out["trap.example"]["flagged"] is True
    assert out["trap.example"]["query_ratio"] == 1.0
    assert out["deep.example"]["flagged"] is True      # depth criterion
    assert out["deep.example"]["max_depth"] == 16
    # unique-path-per-article is NORMAL: must not flag
    assert out["news.example"]["flagged"] is False
    assert out["news.example"]["distinct_path_ratio"] == 1.0
    assert out["hub.example"]["flagged"] is False
    assert out["hub.example"]["n_paths"] == 1
    assert out["tiny.example"]["flagged"] is False  # volume guard


def test_trap_detect_depth(spark):
    fr = spark.createDataFrame(
        [("https://d.example/a/b/c/page", "d.example")], "url string, domain string"
    )
    row = WG.trap_detect(fr).collect()[0]
    assert row["max_depth"] == 4  # /a/b/c/page


def test_trap_guard_quarantines_in_crawl_round(spark):
    """Opt-in enforcement: a query-spam domain in the frontier is
    detected PRE-dedup and its rows quarantined as `trap_denied`
    (terminal, enters the seen set); guard off = unchanged behavior."""
    from newscrawler_spark.plans.crawl_round import RoundConfig, run_round
    from newscrawler_spark.sources.fetch import FixtureFetcher
    from newscrawler_spark.synth import (
        synth_budgets, synth_frontier, synth_pages, synth_robots,
    )

    normal = synth_frontier(spark, 60)
    trap = spark.createDataFrame(
        [
            (f"https://www.toutiao.com/article/7400000099/?session={i}",
             "www.toutiao.com", 0, 0, 1000 + i, 0, 0, "trap-seed")
            for i in range(300)
        ],
        normal.schema,
    )
    frontier = normal.unionByName(trap)
    pages = synth_pages(spark, 400)
    budgets = synth_budgets(spark, capacity_default=50)
    robots = synth_robots(spark)

    def run(trap_guard):
        conf = RoundConfig(n_buckets=16, m_bits=1 << 16, n_partitions=8,
                           trap_guard=trap_guard)
        res = run_round(frontier, None, None, budgets, robots,
                        FixtureFetcher(pages), 0, conf)
        log = res.round_log
        trapped = log.filter(
            (F.col("kind") == "quarantine") & (F.col("error") == "trap_denied")
        )
        return trapped, res.docs

    trapped_on, docs_on = run(True)
    rows = trapped_on.collect()
    assert len(rows) > 0
    assert all("toutiao" in r["url"] for r in rows)
    # no toutiao page was fetched/extracted under the guard
    assert docs_on.filter(F.col("url").contains("toutiao")).count() == 0

    trapped_off, docs_off = run(False)
    assert trapped_off.count() == 0
    assert docs_off.filter(F.col("url").contains("toutiao")).count() > 0


# ---------------------------------------------------------------------------
# recrawl_schedule
# ---------------------------------------------------------------------------

def test_recrawl_schedule_buckets(spark):
    rows = []
    # url 1: changes every visit (ratio 1.0 -> 1h)
    rows += [(1, 1000 + i, f"fp{i}") for i in range(5)]
    # url 2: never changes (ratio 0.0 with >1 visits -> 72h)
    rows += [(2, 1000 + i, "same") for i in range(4)]
    # url 3: single visit (ratio 0.0 -> 72h)
    rows += [(3, 1000, "x")]
    # url 4: 1 change in 4 intervals (0.25 -> 12h)
    rows += [(4, 1000, "a"), (4, 1001, "a"), (4, 1002, "b"),
             (4, 1003, "b"), (4, 1004, "b")]
    visits = spark.createDataFrame(
        rows, "url_id long, ts_epoch long, content_fp string"
    )
    out = {r["url_id"]: r for r in WG.recrawl_schedule(visits).collect()}
    assert out[1]["change_ratio"] == 1.0 and out[1]["interval_hours"] == 1
    assert out[2]["n_changes"] == 0 and out[2]["interval_hours"] == 72
    assert out[3]["n_visits"] == 1 and out[3]["interval_hours"] == 72
    assert out[4]["change_ratio"] == 0.25 and out[4]["interval_hours"] == 12
    assert out[1]["next_fetch_epoch"] == 1004 + 3600


def test_recrawl_schedule_tie_order_deterministic(spark):
    """Equal timestamps: ordering falls back to content_fp, and rows
    that tie on BOTH keys are interchangeable — the change count is
    invariant to their relative order."""
    rows = [(9, 1000, "a"), (9, 1000, "a"), (9, 1000, "b")]
    visits = spark.createDataFrame(
        rows, "url_id long, ts_epoch long, content_fp string"
    )
    for parts in (1, 5):
        row = WG.recrawl_schedule(visits.repartition(parts)).collect()[0]
        assert row["n_changes"] == 1  # a,a,b in fp order


def test_host_components_partitions_graph(spark):
    from newscrawler_spark.operators.webgraph import host_components

    edges = spark.createDataFrame(
        [
            ("a.com", "b.com"), ("b.com", "c.com"),   # component a.com
            ("x.com", "y.com"),                        # component x.com
            ("solo.com", "solo.com"),                  # self-loop → singleton
        ],
        "src_host STRING, dst_host STRING",
    )
    got = {r.host: (r.component, r.component_size)
           for r in host_components(edges).collect()}
    assert got["a.com"] == ("a.com", 3)
    assert got["b.com"] == ("a.com", 3)
    assert got["c.com"] == ("a.com", 3)
    assert got["x.com"] == ("x.com", 2)
    assert got["y.com"] == ("x.com", 2)
    assert got["solo.com"] == ("solo.com", 1)
