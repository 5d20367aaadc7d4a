"""S2 — the curl_cffi impersonation seam, pinned with a fake fetcher.

The container ships no curl_cffi wheel, so the live impersonating path
cannot run; what MUST hold regardless is the seam contract: a fetcher
that declares `wants_fetch_config` receives every eligible row with the
per-platform `impersonate` target and `headers` map attached (wechat/
bbc → "chrome", toutiao → "requests", mirroring the reference's
per-crawler class attributes — news_crawler/wechat_news/wechat_news.py:
506-509, toutiao_news/toutaio_news.py:24-29), executor-side, through
the REAL crawl-round plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from newscrawler_spark import schema
from newscrawler_spark.canonical import with_url_identity
from newscrawler_spark.operators.projections import (
    PLATFORM_FETCH_CONFIG,
    platform_config_df,
    with_fetch_config,
)
from newscrawler_spark.plans.crawl_round import RoundConfig, run_round

URLS = [
    ("https://mp.weixin.qq.com/s/SSGxFake01", "wechat"),
    ("https://www.toutiao.com/article/712345/", "toutiao"),
    ("https://www.bbc.com/news/articles/c1234567890o", "bbc"),
]


class CurlCffiStyleFetcher:
    """What a curl_cffi-backed fetcher looks like to the engine: same
    mapInPandas shape as HttpFetcher, but the per-row session would be
    `curl_cffi.requests.Session(impersonate=row.impersonate)`.  Here it
    echoes the received (impersonate, User-Agent) into the html so the
    test can observe exactly what crossed the Arrow boundary."""

    wants_fetch_config = True

    def __init__(self):
        self.saw_columns: set[str] | None = None  # plan-time observation

    def fetch(self, eligible, size_hint_rows=None):
        self.saw_columns = set(eligible.columns)
        cols = [f.name for f in eligible.schema.fields]
        out_schema = (
            eligible.schema.simpleString()[7:-1]
            + ",status int,html string,out_links array<string>,attempts int"
        )

        def run(batches):
            for pdf in batches:
                out = pdf[cols].copy()
                out["status"] = 200
                out["html"] = [
                    f"imp={imp} ua={dict(hdrs)['User-Agent']}"
                    for imp, hdrs in zip(pdf["impersonate"], pdf["headers"])
                ]
                out["out_links"] = [[] for _ in range(len(pdf))]
                out["attempts"] = 1
                yield out

        return eligible.mapInPandas(run, schema=out_schema)


def test_impersonation_config_reaches_executor_rows(spark):
    frontier = spark.createDataFrame([(u,) for u, _ in URLS], "url string")
    eligible = with_fetch_config(
        with_url_identity(frontier), platform_config_df(spark)
    )
    fetched = {r.url: r.html for r in CurlCffiStyleFetcher().fetch(eligible).collect()}
    for url, platform in URLS:
        imp, ua = PLATFORM_FETCH_CONFIG[platform]
        assert fetched[url] == f"imp={imp} ua={ua}", (url, platform)


def test_bootstrap_host_collect_is_bounded(spark):
    """Round-3 verdict item 2: the live-bootstrap host collect must be
    BOUNDED on a many-domain frontier — TTL-fresh hosts never cross the
    driver again, and the rest caps to top-K by frontier mass."""
    from newscrawler_spark.operators.projections import HeaderBootstrap
    from newscrawler_spark.plans.scheduler import bootstrap_hosts_for_round

    # 5000 domains; domain d-i carries (i % 100) + 1 frontier rows so
    # mass ranks are known: d-99, d-199, ... carry 100 rows each
    frontier = (
        spark.range(5000)
        .select(
            F.concat(F.lit("d-"), F.col("id").cast("string")).alias("domain"),
            ((F.col("id") % 100) + 1).alias("n"),
        )
        .select("domain", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("x"))
    )
    boot = HeaderBootstrap(
        provider=lambda h: {"X-Boot": h}, ttl_rounds=10, max_hosts_per_round=25
    )
    # pre-bootstrapped fresh hosts must be excluded from the collect
    boot.refresh(["d-99", "d-199"], round_no=4)

    hosts = bootstrap_hosts_for_round(frontier, boot, round_no=5)
    assert len(hosts) == 25  # the cap, not the 5000 distinct domains
    assert "d-99" not in hosts and "d-199" not in hosts  # TTL-fresh skipped
    # every selected host carries max mass (100 rows); the two fresh
    # ones are replaced by the next heaviest, still mass-100 hosts
    assert all(h.endswith("99") for h in hosts)

    # expired entries (age >= ttl) become collectable again
    assert "d-99" not in boot.fresh_hosts(14)
    boot.max_hosts_per_round = 100
    hosts_later = bootstrap_hosts_for_round(frontier, boot, round_no=14)
    assert "d-99" in hosts_later


def test_round_plan_attaches_config_for_impersonating_fetcher(spark):
    """run_round itself must feed the seam: with wants_fetch_config the
    fetcher's input carries impersonate+headers; without it (fixture
    path) the join is skipped and the columns never materialize."""
    frontier = spark.createDataFrame(
        [
            (u, None, 0, 0, i, 0, 0, u)
            for i, (u, _) in enumerate(URLS)
        ],
        schema.FRONTIER,
    )
    budgets = spark.createDataFrame([], schema.BUDGETS)
    robots = spark.createDataFrame([], schema.ROBOTS)
    conf = RoundConfig(n_buckets=4, m_bits=1 << 12, n_partitions=2)

    imp = CurlCffiStyleFetcher()
    result = run_round(frontier, None, None, budgets, robots, imp, 0, conf)
    # force the plan so the pipeline actually runs end-to-end
    assert result.round_log.count() > 0
    result.unpersist()
    assert {"impersonate", "headers"} <= imp.saw_columns

    plain = CurlCffiStyleFetcher()
    plain.wants_fetch_config = False

    def passthrough_fetch(eligible, size_hint_rows=None):
        plain.saw_columns = set(eligible.columns)
        return eligible.select(
            "*",
            F.lit(200).alias("status"),
            F.lit("x").alias("html"),
            F.array().cast("array<string>").alias("out_links"),
            F.lit(1).alias("attempts"),
        )

    plain.fetch = passthrough_fetch
    result2 = run_round(frontier, None, None, budgets, robots, plain, 0, conf)
    assert result2.round_log.count() > 0
    result2.unpersist()
    assert "impersonate" not in plain.saw_columns
    assert "headers" not in plain.saw_columns
