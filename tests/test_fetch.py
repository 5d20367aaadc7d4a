"""FixtureFetcher's fetch contract, checked row by row against the
simulator's rule: fetch the URL; a 200 iframe holder is replaced by its
``mainFrame`` target's page (one hop, the row keeps the holder's URL);
a URL absent from the corpus reads status 0, null html and no links."""

from urllib.parse import urljoin

import pytest

from newscrawler_spark.sources.fetch import (
    FETCH_ATTEMPTS,
    FixtureFetcher,
    iframe_target_py,
)

HOST = "https://blog.naver.com"
# a plain-http holder on a non-default port (a loopback corpus)
LOCAL = "http://127.0.0.1:8080"


def _holder(src: str) -> str:
    return f'<html><iframe id="mainFrame" src="{src}"></iframe></html>'


PAGES = [
    # holder -> existing target (protocol-relative src)
    (f"{HOST}/h1", 200, _holder("//blog.naver.com/PostView?id=1"), [f"{HOST}/x"]),
    (f"{HOST}/PostView?id=1", 200, "<p>target one</p>", [f"{HOST}/a", f"{HOST}/b"]),
    # holder -> target missing from the corpus (host-relative src)
    (f"{HOST}/h2", 200, _holder("/PostView?id=404"), []),
    # holder -> a target that is itself a holder: one hop only
    (f"{HOST}/h3", 200, _holder(f"{HOST}/h4"), []),
    (f"{HOST}/h4", 200, _holder("//blog.naver.com/PostView?id=1"), [f"{HOST}/c"]),
    # holder -> a non-200 target
    (f"{HOST}/h5", 200, _holder(f"{HOST}/gone"), []),
    (f"{HOST}/gone", 410, "<p>gone</p>", []),
    # non-200 pages pass through unchanged, iframe or not
    (f"{HOST}/e404", 404, _holder("//blog.naver.com/PostView?id=1"), [f"{HOST}/d"]),
    (f"{HOST}/e500", 500, None, []),
    # a plain 200 page, and one whose mainFrame iframe has no src
    (f"{HOST}/plain", 200, "<p>plain</p>", [f"{HOST}/e"]),
    (f"{HOST}/nosrc", 200, '<iframe id="mainFrame"></iframe>', [f"{HOST}/j"]),
    # host-relative src on an http holder with a port: the target keeps
    # the holder's scheme and port
    (f"{LOCAL}/h", 200, _holder("/PostView?id=1"), []),
    (f"{LOCAL}/PostView?id=1", 200, "<p>local target</p>", [f"{LOCAL}/f"]),
    # protocol-relative src on an http holder: the target keeps http
    (f"{LOCAL}/h2", 200, _holder("//127.0.0.1:8080/PostView?id=2"), []),
    (f"{LOCAL}/PostView?id=2", 200, "<p>local target two</p>", []),
    # path-relative src: resolves against the holder's directory
    (f"{HOST}/a/h", 200, _holder("PostView?id=7"), []),
    (f"{HOST}/a/PostView?id=7", 200, "<p>relative target</p>", [f"{HOST}/g"]),
    # dot-segment src: `..` climbs out of the holder's directory
    (f"{HOST}/a/h2", 200, _holder("../PostView?id=8"), []),
    (f"{HOST}/PostView?id=8", 200, "<p>dot-segment target</p>", [f"{HOST}/i"]),
]
ABSENT = f"{HOST}/absent"


def _model(url: str) -> tuple:
    """The simulator's fetch rule (oracle/simulator.py), plus attempts."""
    pages = {u: (s, h, list(o)) for u, s, h, o in PAGES}
    status, html, out_links = pages.get(url, (0, None, []))
    if status == 200 and html:
        target = iframe_target_py(html, url)
        if target:
            status, html, out_links = pages.get(target, (0, None, []))
    attempts = 1 if status == 200 else FETCH_ATTEMPTS
    return status, html, out_links, attempts


@pytest.mark.parametrize(
    "broadcast_max_rows, size_hint_rows, corpus_partitions",
    [(None, None, 4), (0, 100, None)],
    ids=["broadcast", "no_broadcast_hint"],
)
def test_fixture_fetch_matches_simulator_rule(
    spark, monkeypatch, broadcast_max_rows, size_hint_rows, corpus_partitions
):
    if broadcast_max_rows is not None:
        monkeypatch.setattr(
            FixtureFetcher, "BROADCAST_MAX_ROWS", broadcast_max_rows
        )
    pages = spark.createDataFrame(
        PAGES, "url string, status int, html string, out_links array<string>"
    )
    urls = [u for u, *_ in PAGES] + [ABSENT]
    eligible = spark.createDataFrame(
        [(u, i) for i, u in enumerate(urls)], "url string, rank int"
    )
    with FixtureFetcher(pages, corpus_partitions=corpus_partitions) as fetcher:
        out = fetcher.fetch(eligible, size_hint_rows=size_hint_rows)
        assert sorted(out.columns) == sorted(
            ["url", "rank", "status", "html", "out_links", "attempts"]
        )
        rows = out.collect()

    assert len(rows) == len(urls)
    got = {r["url"]: r for r in rows}
    for rank, url in enumerate(urls):
        r = got[url]
        assert r["rank"] == rank, url
        assert (r["status"], r["html"], list(r["out_links"]), r["attempts"]) == (
            _model(url)
        ), url

    # the cases the rule singles out, spelled out
    assert got[f"{HOST}/h1"]["html"] == "<p>target one</p>"
    assert (got[f"{HOST}/h2"]["status"], got[f"{HOST}/h2"]["html"]) == (0, None)
    assert got[f"{HOST}/h2"]["attempts"] == FETCH_ATTEMPTS
    assert list(got[f"{HOST}/h2"]["out_links"]) == []
    assert got[f"{HOST}/h3"]["html"] == _holder("//blog.naver.com/PostView?id=1")
    assert got[f"{HOST}/h5"]["status"] == 410
    assert got[f"{HOST}/e404"]["status"] == 404
    assert got[f"{HOST}/e404"]["html"] == PAGES[7][2]
    assert list(got[f"{HOST}/nosrc"]["out_links"]) == [f"{HOST}/j"]
    assert got[ABSENT]["status"] == 0
    assert got[f"{LOCAL}/h"]["html"] == "<p>local target</p>"
    assert got[f"{LOCAL}/h2"]["html"] == "<p>local target two</p>"
    assert got[f"{HOST}/a/h"]["html"] == "<p>relative target</p>"
    assert got[f"{HOST}/a/h2"]["html"] == "<p>dot-segment target</p>"


# (holder url, iframe src): every src shape the hop rule resolves
IFRAME_CASES = [
    (f"{HOST}/h", "https://other.example/x"),
    (f"{HOST}/h", "//blog.naver.com/PostView?id=1"),
    (f"{LOCAL}/h", "//127.0.0.1:8080/PostView?id=1"),
    (f"{HOST}/a/h", "/PostView?id=1"),
    (f"{LOCAL}/a/h", "/PostView?id=1"),
    (f"{HOST}/a/h", "PostView?id=1"),
    (f"{HOST}/a/b/h?x=1#f", "PostView?id=1"),
    (f"{HOST}/a/", "PostView"),
    (f"{HOST}/h", "PostView"),
    (HOST, "PostView"),
    (f"{HOST}?q=/a/b", "PostView"),
    (f"{HOST}/a/h?x=1", "?id=3"),
    (f"{HOST}/a/b/h", "../x"),
    (f"{HOST}/a/b/h", "./x"),
    (f"{HOST}/a/h?x=1", "#f"),
]


def test_iframe_hop_matches_urljoin():
    """The hop rule resolves an iframe src against its holder as
    urllib.parse.urljoin does."""
    want = [urljoin(url, src) for url, src in IFRAME_CASES]
    assert [iframe_target_py(_holder(src), url) for url, src in IFRAME_CASES] == want
