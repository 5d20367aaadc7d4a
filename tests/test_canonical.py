"""Canonicalization parity: Spark expressions == pure-Python twins ==
the reference's documented get_article_id examples."""

from pyspark.sql import functions as F

from newscrawler_spark.canonical import (
    article_id_py,
    canonical_url_py,
    detect_platform_py,
    domain_of_py,
    with_url_identity,
)

# (url, expected_platform, expected_article_id) — ids from the reference
# docstrings (e.g. toutaio_news.py:58-59, netease_news.py:63-64, ...)
CASES = [
    ("https://www.toutiao.com/article/7404384826024935990/?log_from=6ca9c55804822_1729740822770",
     "toutiao", "7404384826024935990"),
    ("https://www.toutiao.com/article/7434425099895210546/", "toutiao", "7434425099895210546"),
    ("https://mp.weixin.qq.com/s/SSgnSfAhcYdSdCbSCqf3dw?poc_token=x", "wechat", "SSgnSfAhcYdSdCbSCqf3dw"),
    ("https://www.163.com/news/article/KC12OUHK000189FH.html", "netease", "KC12OUHK000189FH"),
    ("https://www.163.com/dy/article/ABCD1234.html?clickfrom=w_yw", "netease", "ABCD1234"),
    ("https://www.sohu.com/a/945014338_160447", "sohu", "945014338"),
    ("https://news.qq.com/rain/a/20251016A07W8J00", "tencent", "20251016A07W8J00"),
    ("https://www.bbc.com/news/articles/c797qlx93j0o", "bbc", "c797qlx93j0o"),
    ("https://edition.cnn.com/2025/10/27/uk/sami-hamdi-detained-ice-intl",
     "cnn", "sami-hamdi-detained-ice-intl"),
    ("https://news.detik.com/internasional/d-7626006/5-pernyataan-trump", "detik", "d-7626006"),
    ("https://blog.naver.com/newsroom/223663803144", "naver", "223663803144"),
    ("https://www.lennysnewsletter.com/p/how-duolingo-reignited-user-growth",
     "lenny", "how-duolingo-reignited-user-growth"),
    ("https://www.quora.com/What-is-X/answer/Some-One-42?ch=10", "quora", "Some-One-42"),
    ("https://www.quora.com/q/something/answers/123456789", "quora", "123456789"),
    ("https://example.com/some/page?q=1#frag", None, None),
    # domain twin parity: parse_url(HOST) strips port and userinfo
    ("http://127.0.0.1:8080/some/page", None, None),
    ("https://user:pw@example.com:8443/x", None, None),
]


def test_python_twins():
    for url, plat, aid in CASES:
        assert detect_platform_py(url) == plat, url
        if plat:
            assert article_id_py(url, plat) == aid, url


def test_spark_matches_python(spark):
    """The four identity columns the crawl computes == the _py twins."""
    df = spark.createDataFrame([(u,) for u, _, _ in CASES], ["url"])
    rows = with_url_identity(df).collect()
    assert len(rows) == len(CASES)
    for r in rows:
        assert r["platform"] == detect_platform_py(r["url"]), r["url"]
        if r["platform"]:
            assert r["article_id"] == article_id_py(r["url"], r["platform"]), r["url"]
        assert r["canonical_url"] == canonical_url_py(r["url"]), r["url"]
        assert r["domain"] == domain_of_py(r["url"]), r["url"]


def test_canonical_dedups_query_noise():
    a = canonical_url_py("https://www.toutiao.com/article/74x/?log_from=1")
    b = canonical_url_py("https://www.toutiao.com/article/74x/")
    assert a == b == "toutiao:74x"


def test_unknown_platform_fallback():
    assert canonical_url_py("https://example.com/a/b/?q=1#f") == "https://example.com/a/b"


def test_classify_url_kind_heuristics(spark):
    from pyspark.sql import functions as F

    from newscrawler_spark.canonical import classify_url_kind

    urls = [
        ("https://www.sohu.com/a/912345678_121117", "article"),   # long numeric id
        ("https://news.site.com/2024/03/some-story", "article"),  # dated path
        ("https://www.bbc.com/news", "hub"),                      # shallow, no digits
        ("https://site.com/", "hub"),
        ("https://site.com/tech/gadgets/review-x1", "other"),     # deep, few digits
    ]
    df = spark.createDataFrame([(u,) for u, _k in urls], "url STRING")
    k = classify_url_kind("url")
    got = {r.url: r.kind for r in df.select("url", k["kind"].alias("kind")).collect()}
    for u, expect in urls:
        assert got[u] == expect, (u, got[u], expect)


def test_kind_prioritize_band_monotone(spark):
    """Band order must be preserved exactly: any priority-0 URL still
    schedules before any priority-1 URL regardless of kind tier."""
    from newscrawler_spark.canonical import kind_prioritize

    rows = [
        (0, "https://www.bbc.com/news", 0),                     # hub, band 0
        (1, "https://www.sohu.com/a/912345678_121117", 1),      # article, band 1
        (2, "https://site.com/tech/gadgets/review", 0),         # other, band 0
    ]
    df = spark.createDataFrame(rows, "rid LONG, url STRING, priority INT")
    got = {r.rid: r.priority for r in kind_prioritize(df).collect()}
    assert got[0] == 2   # 0*3 + hub tier 2
    assert got[2] == 1   # 0*3 + other tier 1
    assert got[1] == 3   # 1*3 + article tier 0
    assert max(got[0], got[2]) < got[1]  # band 0 still beats band 1
