"""URL canonicalization, platform detection, article-id extraction.

All hot-path logic is JVM-side Column expressions (F.when chains, split,
substring_index, regexp) — no Python UDFs.  A pure-Python twin of each
function feeds the crawl-semantics simulator (tests/oracle) so engine and
oracle share exactly one spec.

Reference semantics encoded here (studied, not ported):
  platform regexes   /root/reference/news_extractor_core/services/detector.py:9-21
  article ids        per-platform get_article_id():
    toutiao  /root/reference/news_crawler/toutiao_news/toutaio_news.py:56-69
    wechat   /root/reference/news_crawler/wechat_news/wechat_news.py:500-504
    netease  /root/reference/news_crawler/netease_news/netease_news.py:61-73
    sohu     /root/reference/news_crawler/sohu_news/sohu_news.py:61-74
    tencent  /root/reference/news_crawler/tencent_news/tencent_news.py:63-75
    bbc      /root/reference/news_crawler/bbc_news/bbc_news.py:61-74
    cnn      /root/reference/news_crawler/cnn_news/cnn_news.py:61-75
    detik    /root/reference/news_crawler/detik_news/detik_news.py:56-70
    naver    /root/reference/news_crawler/naver_news/naver_news.py:173-177
    lenny    /root/reference/news_crawler/lennysnewsletter/lennysnewsletter.py:260-273
    quora    /root/reference/news_crawler/quora/quora_answer.py:57-66
"""

from __future__ import annotations

import re
from functools import lru_cache as _lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered — detection is first-match, order-preserving (detector.py iterates
# an insertion-ordered dict).  Patterns are re.match → anchor with ^ here.
PLATFORM_PATTERNS: list[tuple[str, str]] = [
    ("toutiao", r"^https?://www\.toutiao\.com/article/"),
    ("wechat", r"^https?://mp\.weixin\.qq\.com/s/"),
    ("netease", r"^https?://www\.163\.com/(news|dy)/article/"),
    ("sohu", r"^https?://www\.sohu\.com/a/"),
    ("tencent", r"^https?://news\.qq\.com/rain/a/"),
    ("detik", r"^https?://news\.detik\.com/"),
    ("naver", r"^https?://.*\.naver\.com/"),
    ("lenny", r"^https?://www\.lennysnewsletter\.com/"),
    ("quora", r"^https?://.*\.quora\.com/"),
    ("bbc", r"^https?://www\.bbc\.com/news/articles/"),
    ("cnn", r"^https?://(edition\.|www\.)?cnn\.com/\d{4}/\d{2}/\d{2}/"),
]

PLATFORMS = [p for p, _ in PLATFORM_PATTERNS]


# ---------------------------------------------------------------------------
# Platform detection (F1)
# ---------------------------------------------------------------------------

def detect_platform(url: Column | str) -> Column:
    """First-match regex dispatch over the 11 platform patterns; NULL if none."""
    c = F.col(url) if isinstance(url, str) else url
    expr: Column | None = None
    for platform, pattern in PLATFORM_PATTERNS:
        cond = c.rlike(pattern)
        expr = F.when(cond, F.lit(platform)) if expr is None else expr.when(cond, F.lit(platform))
    assert expr is not None
    return expr.otherwise(F.lit(None).cast("string"))


def detect_platform_py(url: str) -> str | None:
    for platform, pattern in PLATFORM_PATTERNS:
        if re.match(pattern[1:], url):  # strip our ^ anchor; re.match anchors
            return platform
    return None


# ---------------------------------------------------------------------------
# Article id (X1) — the reference's seen-set key, per platform
# ---------------------------------------------------------------------------

def _after(c: Column, sep: str) -> Column:
    """Python `s.split(sep)[1]` as an expression (2nd piece)."""
    return F.split(c, re.escape(sep)).getItem(1)


def _before(c: Column, sep: str) -> Column:
    """Python `s.split(sep)[0]` — everything before the first sep."""
    return F.substring_index(c, sep, 1)


def article_id(url: Column | str, platform: Column | str) -> Column:
    """Per-platform article id, faithful to each get_article_id()."""
    u = F.col(url) if isinstance(url, str) else url
    p = F.col(platform) if isinstance(platform, str) else platform

    def chop_trailing(c: Column) -> Column:
        return F.when(c.endswith("/"), c.substr(F.lit(1), F.length(c) - 1)).otherwise(c)

    toutiao = chop_trailing(_before(_after(u, "/article/"), "?"))
    wechat = _before(_after(u, "/s/"), "?")
    netease = _before(_before(_after(u, "/article/"), ".html"), "?")
    sohu = _before(_before(_after(u, "/a/"), "_"), "?")
    # tencent/bbc use str.strip('/') — both sides
    tencent = F.regexp_replace(_before(_after(u, "/a/"), "?"), r"^/+|/+$", "")
    bbc = F.regexp_replace(_before(_after(u, "/articles/"), "?"), r"^/+|/+$", "")
    # cnn: rstrip('/') then last '/'-segment, then split('?')[0]
    cnn = _before(F.element_at(F.split(F.regexp_replace(u, "/+$", ""), "/"), -1), "?")
    # detik: strip base url, 3rd path piece (index 2 of '/'-split of '/sec/id/...')
    detik_path = F.regexp_replace(u, r"^https?://news\.detik\.com", "")
    detik = chop_trailing(_before(F.split(detik_path, "/").getItem(2), "?"))
    # naver / lenny: split('?')[0].split('/')[-1] then chop one trailing '/'
    last_seg = F.element_at(F.split(_before(u, "?"), "/"), -1)
    naver = chop_trailing(last_seg)
    lenny = chop_trailing(last_seg)
    # quora: '/answers/' wins over '/answer/'
    q_sanitized = _before(u, "?")
    quora = F.when(
        q_sanitized.contains("/answers/"), F.element_at(F.split(q_sanitized, "/answers/"), -1)
    ).when(
        q_sanitized.contains("/answer/"), F.element_at(F.split(q_sanitized, "/answer/"), -1)
    ).otherwise(F.lit(None).cast("string"))

    return (
        F.when(p == "toutiao", toutiao)
        .when(p == "wechat", wechat)
        .when(p == "netease", netease)
        .when(p == "sohu", sohu)
        .when(p == "tencent", tencent)
        .when(p == "bbc", bbc)
        .when(p == "cnn", cnn)
        .when(p == "detik", detik)
        .when(p == "naver", naver)
        .when(p == "lenny", lenny)
        .when(p == "quora", quora)
        .otherwise(F.lit(None).cast("string"))
    )


def article_id_py(url: str, platform: str | None) -> str | None:
    """Pure-Python twin (drives the simulator oracle)."""
    try:
        if platform == "toutiao":
            nid = url.split("/article/")[1].split("?")[0]
            return nid[:-1] if nid.endswith("/") else nid
        if platform == "wechat":
            return url.split("/s/")[1].split("?")[0]
        if platform == "netease":
            return url.split("/article/")[1].split(".html")[0].split("?")[0]
        if platform == "sohu":
            return url.split("/a/")[1].split("_")[0].split("?")[0]
        if platform == "tencent":
            return url.split("/a/")[1].split("?")[0].strip("/")
        if platform == "bbc":
            return url.split("/articles/")[1].split("?")[0].strip("/")
        if platform == "cnn":
            return url.rstrip("/").split("/")[-1].split("?")[0]
        if platform == "detik":
            path = re.sub(r"^https?://news\.detik\.com", "", url)
            nid = path.split("/")[2].split("?")[0]
            return nid[:-1] if nid.endswith("/") else nid
        if platform in ("naver", "lenny"):
            nid = url.split("?")[0].split("/")[-1]
            return nid[:-1] if nid.endswith("/") else nid
        if platform == "quora":
            s = url.split("?")[0]
            if "/answers/" in s:
                return s.split("/answers/")[-1]
            if "/answer/" in s:
                return s.split("/answer/")[-1]
            return None
    except IndexError:
        return None
    return None


# ---------------------------------------------------------------------------
# Canonical URL + domain — the engine's seen-set identity
# ---------------------------------------------------------------------------

def domain_of(url: Column | str) -> Column:
    """Host part — JVM-side parse_url."""
    c = F.col(url) if isinstance(url, str) else url
    return F.parse_url(c, F.lit("HOST"))


def domain_of_py(url: str) -> str:
    """Twin of parse_url(HOST): authority minus userinfo minus port
    (java.net.URI.getHost semantics — 'user:pw@host:8080' -> 'host').
    The port strip matters: a loopback-crawl URL's budget/robots key
    must be the same on both sides or the oracle misses the budget row.
    """
    m = re.match(r"^https?://([^/?#\s]+)", url)
    if not m:
        return ""
    return m.group(1).rsplit("@", 1)[-1].split(":", 1)[0]


def canonical_url_py(url: str) -> str:
    """Seen-set identity (twin of with_url_identity's canonical_url).

    Known platform → 'platform:article_id' (the reference's filesystem
    key, base.py:99-107, prefixed with the platform against cross-platform
    id collisions); otherwise the url minus query/fragment and trailing '/'.
    """
    p = detect_platform_py(url)
    if p is not None:
        aid = article_id_py(url, p)
        if aid:
            return f"{p}:{aid}"
    return re.sub(r"/+$", "", url.split("#")[0].split("?")[0])


@_lru_cache(maxsize=8)
def _identity_cols(url_col: str, patterns_key: tuple):
    """The four identity Column trees, built ONCE per process: Columns
    are unresolved expression templates reusable across DataFrames, and
    constructing the 11-platform CASE chains costs ~0.25 s of py4j
    round-trips — pure driver fixed cost when paid per crawl round.

    `patterns_key` is the PLATFORM_PATTERNS content at build time: the
    detection list is mutable module state (tests extend it to route
    loopback hosts to a dialect), so the cache must be keyed on it —
    detect_platform reads the live global when the trees are (re)built."""
    import pyspark.sql.functions as _F

    u = _F.col(url_col)
    fallback = _F.regexp_replace(
        _F.substring_index(_F.substring_index(u, "#", 1), "?", 1), "/+$", ""
    )
    known = (
        _F.col("platform").isNotNull()
        & _F.col("article_id").isNotNull()
        & (_F.col("article_id") != "")
    )
    return (
        detect_platform(url_col),
        article_id(url_col, _F.col("platform")),
        _F.when(known, _F.concat_ws(":", "platform", "article_id")).otherwise(fallback),
        domain_of(url_col),
    )


def with_url_identity(df, url_col: str = "url"):
    """Add platform / article_id / canonical_url / domain columns, staged.

    Staging matters at scale: inlining detect_platform (11 rlike CASE
    branches) into every consumer once produced a whole-stage-codegen
    method >64 KB (observed on local[8]; Spark falls back to interpreted
    mode — correct but slow).  Materializing `platform` as a projected
    column referenced multiple times keeps CollapseProject from inlining
    it (non-cheap exprs referenced >1x are preserved), so each chain is
    code-generated once.
    """
    platform, art_id, canonical, domain = _identity_cols(
        url_col, tuple(PLATFORM_PATTERNS)
    )
    df = df.withColumn("platform", platform)
    df = df.withColumn("article_id", art_id)
    return df.withColumns({"canonical_url": canonical, "domain": domain})


def classify_url_kind(url: Column | str):
    """Heuristic page-type features + label for frontier
    prioritization: crawlers spend their politeness budget on ARTICLE
    pages first and treat hub/category pages as link sources.

    The signals are the classic URL-shape heuristics (long numeric ids
    and dated paths mark articles; short digit-free paths mark hubs) —
    all JVM regex/length expressions in a Java∩RE2 subset so the DuckDB
    oracle reproduces them exactly.

    Returns a dict of Columns: path, depth, n_digits, has_date,
    has_query, kind ('article' | 'hub' | 'other').
    """
    u = F.col(url) if isinstance(url, str) else url
    path = F.regexp_extract(u, r"^[a-z]+://[^/]+(/[^?#]*)", 1)
    depth = (
        F.when(path == "", F.lit(0))
        .otherwise(F.size(F.split(path, "/")) - 1)
        .cast("int")
    )
    n_digits = F.length(F.regexp_replace(path, "[^0-9]", "")).cast("int")
    has_date = path.rlike("/20[0-9]{2}[/-][01]?[0-9][/-]")
    has_query = u.contains("?")
    kind = (
        F.when((n_digits >= 6) | has_date, F.lit("article"))
        .when((depth <= 1) & (n_digits == 0), F.lit("hub"))
        .otherwise(F.lit("other"))
    )
    return {
        "path": path,
        "depth": depth,
        "n_digits": n_digits,
        "has_date": has_date,
        "has_query": has_query,
        "kind": kind,
    }


def kind_prioritize(frontier: DataFrame, url_col: str = "url",
                    priority_col: str = "priority") -> DataFrame:
    """Page-type-aware frontier priority: refine each URL's existing
    ``priority`` band with its page-type tier (article 0, other 1,
    hub 2), the same monotone band refinement as the centrality tier
    (operators/webgraph.py::rank_prioritize):

        new_priority = old_priority * 3 + kind_tier

    Article pages spend the politeness budget first WITHIN a band; hubs
    sink to the band's tail but are never starved (band order is
    preserved exactly).  Pure projection — classify_url_kind is JVM
    regex/length expressions, so this costs no join and no shuffle.
    """
    df = frontier
    kind = classify_url_kind(url_col)["kind"]
    tier = (
        F.when(kind == "article", F.lit(0))
        .when(kind == "hub", F.lit(2))
        .otherwise(F.lit(1))
    )
    return df.withColumn(
        priority_col, (F.col(priority_col) * 3 + tier).cast("int")
    )
