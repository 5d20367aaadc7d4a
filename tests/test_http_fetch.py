"""Live-fetch contract test for HttpFetcher against a loopback stdlib
HTTP server — no external network.  Exercises the reference's fetch
semantics (/root/reference/news_crawler/core/base.py:26-28,73-78):

  * 200 → html returned, attempts == 1, anchors discovered as out_links;
  * deterministic 404 → status recorded, all 3 attempts consumed;
  * transient 500,500,200 → retry ladder recovers, attempts == 3;
  * timeout → status 0 (connection-level failure), attempts == 3;
  * iframe holder page → in-stage two-phase hop (S3, naver semantics),
    document keeps the ORIGINAL url identity, links resolve against the
    iframe TARGET.

Plus the live frontier-expansion loop: a multi-round crawl through
plans.scheduler.crawl with HttpFetcher over a loopback site graph,
asserted equal (fetch order, seen set, docs incl. spans, quarantine)
to the single-threaded simulator oracle — live link discovery feeds
the same frontier the spec predicts.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from newscrawler_spark.sources.fetch import HttpFetcher, extract_links_py

OK_HTML = (
    '<html><body><p>hello from loopback</p>'
    '<a href="/linked">rel</a><a href="#frag">skip</a></body></html>'
)


class _Handler(BaseHTTPRequestHandler):
    hits: dict[str, int] = {}
    lock = threading.Lock()

    def log_message(self, *a):  # silence
        pass

    def do_GET(self):
        with self.lock:
            n = self.hits.get(self.path, 0) + 1
            self.hits[self.path] = n
        if self.path == "/ok":
            body = OK_HTML.encode()
            self.send_response(200)
        elif self.path == "/notfound":
            body = b"gone"
            self.send_response(404)
        elif self.path == "/flaky":
            if n < 3:
                body = b"boom"
                self.send_response(500)
            else:
                body = b"<html><p>recovered</p></html>"
                self.send_response(200)
        elif self.path == "/slow":
            import time

            time.sleep(3.0)
            body = b"late"
            self.send_response(200)
        elif self.path == "/iframe":
            body = (
                '<html><iframe id="mainFrame" src="/ok"></iframe></html>'
            ).encode()
            self.send_response(200)
        else:
            body = b"?"
            self.send_response(404)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def server():
    _Handler.hits = {}
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_http_fetcher_contract(spark, server):
    urls = [
        f"{server}/ok",
        f"{server}/notfound",
        f"{server}/flaky",
        f"{server}/slow",
        f"{server}/iframe",
    ]
    frontier = spark.createDataFrame(
        [(u, "127.0.0.1") for u in urls], "url string, domain string"
    )
    fetcher = HttpFetcher(
        max_attempts=3, wait_s=0.05, timeout_s=1.0, n_partitions=2, salt_factor=2
    )
    rows = {r.url.rsplit("/", 1)[-1]: r for r in fetcher.fetch(frontier).collect()}

    ok = rows["ok"]
    assert (ok.status, ok.attempts) == (200, 1) and "hello from loopback" in ok.html
    # live link discovery: anchor resolved against the page URL, the
    # fragment-only href dropped
    assert list(ok.out_links) == [f"{server}/linked"]

    nf = rows["notfound"]
    assert nf.status == 404 and nf.attempts == 3 and nf.html is None

    fl = rows["flaky"]
    assert fl.status == 200 and fl.attempts == 3 and "recovered" in fl.html

    sl = rows["slow"]
    assert sl.status == 0 and sl.attempts == 3 and sl.html is None

    # S3: iframe holder resolved in-stage; row keeps the ORIGINAL url,
    # and relative links resolve against the iframe TARGET (/ok), not
    # the holder — here /linked is root-relative so both agree, but the
    # out_links must come from the hopped content
    fr = rows["iframe"]
    assert fr.status == 200 and "hello from loopback" in fr.html
    assert fr.url.endswith("/iframe")
    assert list(fr.out_links) == [f"{server}/linked"]

    # failures carry empty out_links, never NULL (frontier explode is a
    # plain explode — NULL would silently drop the row vs empty array)
    assert list(nf.out_links) == [] and list(sl.out_links) == []


def test_extract_links_resolution():
    base = "https://news.example.com/sec/page.html"
    html = """
    <html><body>
      <a href="https://news.example.com/abs">abs</a>
      <a href='/root-rel?q=1'>rootrel</a>
      <a href=bare-rel>bare</a>
      <a href="../up/one">dotdot</a>
      <a href="//cdn.example.org/proto-rel">protorel</a>
      <a href="https://news.example.com/abs#frag">dup-after-fragment-strip</a>
      <a href="mailto:x@y.com">mail</a>
      <a href="javascript:void(0)">js</a>
      <a href="TEL:123">tel</a>
      <a href="#top">frag</a>
      <a href="/a&amp;b">entity</a>
      <a name="anchor-without-href">none</a>
    </body></html>
    """
    assert extract_links_py(html, base) == [
        "https://news.example.com/abs",
        "https://news.example.com/root-rel?q=1",
        "https://news.example.com/sec/bare-rel",
        "https://news.example.com/up/one",
        "https://cdn.example.org/proto-rel",
        "https://news.example.com/a&b",
    ]
    assert extract_links_py(html, base, max_links=2) == [
        "https://news.example.com/abs",
        "https://news.example.com/root-rel?q=1",
    ]
    assert extract_links_py(None, base) == []
    assert extract_links_py("", base) == []


# ---------------------------------------------------------------------------
# Live multi-round crawl: HttpFetcher + scheduler vs the simulator oracle
# ---------------------------------------------------------------------------

def _naver_page(title: str, links: list[str]) -> str:
    """Loopback pages are naver-shaped so the extract stage produces
    real docs (title div + se-main-container walk, platforms.py
    parse_naver); anchors sit outside the content container."""
    anchors = "".join(f'<a href="{h}">l</a>' for h in links)
    return (
        "<html><body>"
        '<div class="se-module se-module-text se-title-text">'
        f"<span>{title}</span></div>"
        f'<div class="se-main-container"><p>body of {title}</p></div>'
        f"{anchors}</body></html>"
    )


class _SiteHandler(BaseHTTPRequestHandler):
    pages: dict[str, bytes] = {}
    hits: set[str] = set()
    lock = threading.Lock()

    def log_message(self, *a):
        pass

    def do_GET(self):
        with self.lock:
            _SiteHandler.hits.add(self.path)
        body = self.pages.get(self.path)
        self.send_response(200 if body is not None else 404)
        body = body if body is not None else b"gone"
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


ROBOTS_TXT = """\
User-agent: evilbot
Disallow: /

User-agent: newscrawler
Disallow: /private*
Disallow: /api
Crawl-delay: 30

User-agent: *
Disallow: /open
"""


def test_live_robots_loop_end_to_end(spark, tmp_path, monkeypatch):
    """Round-3 verdict item 5 — the robots loop CLOSED LIVE: the crawl
    fetches /robots.txt off the loopback server through HttpFetcher,
    parses groups + wildcard + crawl-delay declaratively, and the gate
    enforces them end-to-end:

      * /private/x is wildcard-disallowed (`/private*`, the fail-closed
        truncation) and /api/v1 literally — both quarantined
        `robots_denied` and NEVER requested from the server;
      * the `*` group's `Disallow: /open` is IGNORED because a specific
        newscrawler group exists (RFC 9309 §2.2.1) — /open pages fetch;
      * `Crawl-delay: 30` tightens the per-round capacity to
        floor(60/30) = 2, so the three /open pages spread over two
        rounds (one deferred) despite a capacity-10 budget.
    """
    from newscrawler_spark import canonical, schema
    from newscrawler_spark.plans.crawl_round import RoundConfig
    from newscrawler_spark.plans.scheduler import crawl, seed_frontier
    from newscrawler_spark.sources.catalog import Catalog
    from newscrawler_spark.xhash import md5_64_py

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SiteHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        site = {
            "/seed": _naver_page(
                "seed", ["/private/x", "/api/v1", "/open1", "/open2", "/open3"]
            ),
            "/private/x": _naver_page("priv", []),
            "/api/v1": _naver_page("api", []),
            "/open1": _naver_page("o1", []),
            "/open2": _naver_page("o2", []),
            "/open3": _naver_page("o3", []),
        }
        _SiteHandler.pages = {p: h.encode() for p, h in site.items()}
        _SiteHandler.pages["/robots.txt"] = ROBOTS_TXT.encode()
        _SiteHandler.hits = set()

        monkeypatch.setattr(
            canonical,
            "PLATFORM_PATTERNS",
            canonical.PLATFORM_PATTERNS
            + [("naver", r"^https?://127\.0\.0\.1(:\d+)?/")],
        )

        seed_url = f"{base}/seed"
        seeds = spark.createDataFrame(
            [(seed_url, "127.0.0.1", 0, 0, md5_64_py(seed_url), 0, 0, seed_url)],
            schema.FRONTIER,
        )
        budgets = spark.createDataFrame(
            [("127.0.0.1", 10, 60, None)], schema.BUDGETS
        )
        static_robots = spark.createDataFrame([], schema.ROBOTS)

        cat = Catalog(tmp_path / "live_robots")
        seed_frontier(cat, seeds)
        conf = RoundConfig(n_buckets=4, m_bits=1 << 12, n_partitions=2)
        fetcher = HttpFetcher(
            max_attempts=2, wait_s=0.02, timeout_s=2.0, n_partitions=2, salt_factor=2
        )
        totals = crawl(
            spark, cat, fetcher, budgets, static_robots, max_rounds=8,
            conf=conf, robots_fetcher=fetcher,
        )

        # robots denials, end-to-end
        quarantine = {
            (r.url.rsplit("/", 1)[-1] if "/private/" not in r.url else "private/x",
             r.error)
            for r in cat.read_table(spark, "quarantine").collect()
        }
        assert ("private/x", "robots_denied") in quarantine
        assert ("v1", "robots_denied") in quarantine
        # ...and the server NEVER saw the disallowed paths
        assert "/private/x" not in _SiteHandler.hits
        assert "/api/v1" not in _SiteHandler.hits
        assert "/robots.txt" in _SiteHandler.hits

        # the * group's /open block was ignored (specific group wins)
        docs = {r.doc_id for r in cat.read_table(spark, "docs").collect()}
        assert {"naver:open1", "naver:open2", "naver:open3"} <= docs

        # crawl-delay tightened the round capacity to 2: the three /open
        # pages span two rounds (2 + 1), not one
        sched = [c["scheduled"] for _, c in sorted(totals.items())]
        assert sched[0] == 1          # seed round
        assert sched[1] == 2          # delay-capped, 1 open page deferred
        assert sched[2] == 1          # the deferred one
    finally:
        srv.shutdown()


def test_live_crawl_discovers_frontier(spark, tmp_path, monkeypatch):
    """The engine's own north-star loop, live end-to-end: seeds →
    HttpFetcher (real HTTP against loopback) → anchor discovery →
    frontier_{n+1} → ... for ≥3 rounds, with a 2-per-round budget
    forcing deferral, asserted bit-equal to the simulator oracle."""
    from newscrawler_spark import canonical, schema
    from newscrawler_spark.oracle.simulator import simulate_crawl
    from newscrawler_spark.plans.crawl_round import RoundConfig
    from newscrawler_spark.plans.scheduler import crawl, seed_frontier
    from newscrawler_spark.sources.catalog import Catalog
    from newscrawler_spark.xhash import md5_64_py

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SiteHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        # site graph: /seed fans out (one href of each resolution kind +
        # noise that must be filtered), /a re-links /b (cross-page dup),
        # /missing 404s, /d /e /c are leaves
        site = {
            "/seed": _naver_page(
                "seed",
                ["/a", "b", f"{base}/c", "mailto:x@y", "#f", "javascript:void(0)"],
            ),
            "/a": _naver_page("a", ["/d", "/b"]),
            "/b": _naver_page("b", ["/e", "/missing"]),
            "/c": _naver_page("c", []),
            "/d": _naver_page("d", []),
            "/e": _naver_page("e", []),
        }
        _SiteHandler.pages = {p: h.encode() for p, h in site.items()}

        # loopback URLs dispatch to the naver dialect end-to-end
        # (detection list is consulted at plan-build time each round)
        monkeypatch.setattr(
            canonical,
            "PLATFORM_PATTERNS",
            canonical.PLATFORM_PATTERNS
            + [("naver", r"^https?://127\.0\.0\.1(:\d+)?/")],
        )

        seed_url = f"{base}/seed"
        seeds = spark.createDataFrame(
            [(seed_url, "127.0.0.1", 0, 0, md5_64_py(seed_url), 0, 0, seed_url)],
            schema.FRONTIER,
        )
        budgets = spark.createDataFrame([("127.0.0.1", 2, 60, None)], schema.BUDGETS)
        robots = spark.createDataFrame([], schema.ROBOTS)

        cat = Catalog(tmp_path / "live_crawl")
        seed_frontier(cat, seeds)
        conf = RoundConfig(n_buckets=4, m_bits=1 << 12, n_partitions=2)
        fetcher = HttpFetcher(
            max_attempts=2, wait_s=0.02, timeout_s=2.0, n_partitions=2, salt_factor=2
        )
        totals = crawl(
            spark, cat, fetcher, budgets, robots, max_rounds=8, conf=conf
        )

        sim = simulate_crawl(
            seeds=[r.asDict() for r in seeds.collect()],
            pages={
                f"{base}{p}": (200, h, extract_links_py(h, f"{base}{p}"))
                for p, h in site.items()
            }
            | {f"{base}/missing": (404, None, [])},
            budgets={"127.0.0.1": (2, 60)},
            robots=[],
            max_rounds=8,
            max_depth=conf.max_depth,
        )

        # multi-round expansion actually happened off live discovery
        assert len(totals) >= 3
        seen = {r.canonical_url for r in cat.read_table(spark, "url_seen").collect()}
        assert seen == sim["seen"]
        assert {"naver:d", "naver:e"} <= seen  # depth-2 pages, not in seeds

        order = {
            (r["round"], r["domain"], r["rank"], r["canonical_url"])
            for r in cat.read_table(spark, "fetch_order").collect()
        }
        assert order == set(sim["fetch_order"])

        docs = {r.doc_id: r for r in cat.read_table(spark, "docs").collect()}
        assert set(docs) == set(sim["docs"])
        for doc_id, sim_doc in sim["docs"].items():
            got = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in docs[doc_id]["spans"]
            ]
            want = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in sim_doc["spans"]
            ]
            assert got == want, doc_id

        quarantine = {
            (r.url, r["round"], r.error)
            for r in cat.read_table(spark, "quarantine").collect()
        }
        assert quarantine == set(sim["quarantine"])
        assert any(
            u.endswith("/missing") and e == "http_404" for (u, _, e) in quarantine
        )
    finally:
        srv.shutdown()
