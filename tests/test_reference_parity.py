"""Reference-parser parity harness — the machine check for the engine's
central claim (BASELINE.json input_hint: per-row span-sequence equality
on (kind, text, media_ref, order) vs the reference).

For every one of the 11 platform dialects this imports the REAL
reference crawler from /root/reference (importable here via the stdlib
shims in tests/refshim — parsel/tenacity/demjson3 wheels are absent
from the container), runs ``parse_content`` on the shared synthetic
fixture corpus (newscrawler_spark.synth — the same pages the whole
engine is tested and benchmarked on, including the edge-case variants:
wechat Vue-SSR cgiDataNew pages, sohu trailing-comma imgsList, tencent
window.DATA, BBC grey-placeholder figures, naver iframe indirection),
and asserts span-by-span equality against the engine's ``extract_one``.

Reference entry points exercised per dialect (parse_content is a pure
function of HTML — core/base.py:88):
  toutiao  toutaio_news.py:133   netease netease_news.py:153
  wechat   wechat_news.py:562    sohu    sohu_news.py:222
  tencent  tencent_news.py:176   bbc     bbc_news.py:199
  cnn      cnn_news.py:174       detik   detik_news.py:166
  lenny    lennysnewsletter.py:317  naver naver_news.py:218
  quora    quora_answer.py:158

Those tests need the reference checkout and skip without it.
``test_engine_matches_golden_digests`` always runs: it pins the engine's
outcomes on the same parity and mutation corpus to committed sha256
digests (goldens/reference_parity.json), so a dialect regression fails
even where the reference is absent.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).parent))
from refshim import reference_available  # noqa: E402

needs_reference = pytest.mark.skipif(
    not reference_available(), reason="reference crawler checkout not present"
)

from newscrawler_spark.functions.extract import extract_one  # noqa: E402
from newscrawler_spark.sources.fetch import iframe_target_py  # noqa: E402

N_PAGES = 1500          # synth corpus size (spreads over all 11 dialects)
MAX_PER_PLATFORM = 12   # parity sample per dialect

CRAWLERS = {
    "toutiao": ("news_crawler.toutiao_news.toutaio_news", "ToutiaoNewsCrawler"),
    "wechat": ("news_crawler.wechat_news.wechat_news", "WeChatNewsCrawler"),
    "netease": ("news_crawler.netease_news.netease_news", "NeteaseNewsCrawler"),
    "sohu": ("news_crawler.sohu_news.sohu_news", "SohuNewsCrawler"),
    "tencent": ("news_crawler.tencent_news.tencent_news", "TencentNewsCrawler"),
    "bbc": ("news_crawler.bbc_news.bbc_news", "BBCNewsCrawler"),
    "cnn": ("news_crawler.cnn_news.cnn_news", "CNNNewsCrawler"),
    "detik": ("news_crawler.detik_news.detik_news", "DetikNewsCrawler"),
    "lenny": ("news_crawler.lennysnewsletter.lennysnewsletter", "LennysNewsletterCrawler"),
    "naver": ("news_crawler.naver_news.naver_news", "NaverNewsCrawler"),
    "quora": ("news_crawler.quora.quora_answer", "QuoraAnswerCrawler"),
}


@pytest.fixture(scope="module")
def corpus(spark):
    return build_corpus(spark)


def build_corpus(spark):
    """{platform: [(url, html)]} from the shared synthetic web; naver
    holder pages are resolved to their iframe-target html exactly like
    the fetch stage does (both parsers receive the CONTENT page — the
    reference's fetch_content swaps the URL the same way,
    naver_news.py:179-195)."""
    from newscrawler_spark.canonical import with_url_identity
    from newscrawler_spark.synth import synth_pages

    pages = synth_pages(spark, N_PAGES).filter(F.col("status") == 200)
    ident = with_url_identity(pages.select("url"))
    rows = (
        pages.join(ident.select("url", "platform"), "url")
        .select("url", "platform", "html")
        .collect()
    )
    html_by_url = {r.url: r.html for r in rows}
    out: dict[str, list[tuple[str, str]]] = {}
    for r in rows:
        html = r.html
        if r.platform == "naver":
            target = iframe_target_py(html, r.url)
            if target is None or target not in html_by_url:
                continue
            html = html_by_url[target]
        bucket = out.setdefault(r.platform, [])
        if len(bucket) < MAX_PER_PLATFORM:
            bucket.append((r.url, html))
    return out


def _ref_spans(item) -> list[tuple[str, str | None, str | None]]:
    """NewsItem.contents -> (kind, text, media_ref) triples (the
    reference puts text payloads and media URLs both in .content —
    core/models.py:47-52)."""
    spans = []
    for c in item.contents:
        kind = c.type.value if hasattr(c.type, "value") else str(c.type)
        if kind == "text":
            spans.append((kind, c.content or None, None))
        else:
            spans.append((kind, None, c.content or None))
    return spans


def _eng_spans(result) -> list[tuple[str, str | None, str | None]]:
    # engine empty-string sentinels normalize to None (the reference
    # leaves unused payload fields unset)
    return [
        (s["kind"], s["text"] or None, s["media_ref"] or None)
        for s in result["spans"]
    ]


@needs_reference
@pytest.mark.parametrize("platform", sorted(CRAWLERS))
def test_reference_parser_parity(platform, corpus, monkeypatch):
    import importlib

    mod_name, cls_name = CRAWLERS[platform]
    crawler_cls = getattr(importlib.import_module(mod_name), cls_name)
    if platform == "naver":
        # NaverNewsCrawler.__init__ fetches the holder page to resolve
        # the iframe URL (naver_news.py:184-195) — the only network call
        # outside fetch_content.  parse_content itself is pure; the
        # corpus fixture already resolved the hop the same way.
        monkeypatch.setattr(
            crawler_cls, "get_iframe_url_path", lambda self: self.new_url
        )

    pages = corpus.get(platform, [])
    assert pages, f"no synthetic {platform} pages generated"

    for url, html in pages:
        ref_item = crawler_cls(url).parse_content(html)
        eng = extract_one(html, url, platform)
        assert eng["error"] is None, f"{url}: engine error {eng['error']}"

        ref = _ref_spans(ref_item)
        got = _eng_spans(eng)
        assert got == ref, (
            f"span sequence mismatch for {url}\n"
            f"  ref ({len(ref)}): {ref[:8]}\n"
            f"  eng ({len(got)}): {got[:8]}"
        )
        # offsets are the explicit document order (input_hint): 0..n-1
        assert [s["offset"] for s in eng["spans"]] == list(range(len(got)))
        assert (eng["title"] or None) == (ref_item.title or None), url


# ---------------------------------------------------------------------------
# Mutation corpus — round 2's four caught divergences were all on shapes
# synth happened to generate; these deterministic textual mutations hunt
# the shapes it doesn't: missing titles, deeper figure nesting, malformed
# (truncated) JS payloads, gutted article bodies, whitespace storms.
# The parity property widens to OUTCOME equivalence: when the reference
# parser raises, the engine must report an error for the same page (never
# fabricate a doc the reference would reject); when both succeed, spans
# and title must still match span-by-span.
# ---------------------------------------------------------------------------

import re as _re  # noqa: E402


def _mut_strip_titles(html: str) -> str | None:
    out = _re.sub(r"<h1\b[^>]*>.*?</h1>", "", html, flags=_re.S | _re.I)
    out = _re.sub(r"<title>.*?</title>", "", out, flags=_re.S | _re.I)
    return out if out != html else None


def _mut_nested_figures(html: str) -> str | None:
    if "<img" not in html:
        return None
    return _re.sub(r"(<img\b[^>]*>)", r"<figure><div>\1</div></figure>", html)


def _mut_truncate_js(html: str) -> str | None:
    def cut(m):
        body = m.group(2)
        return m.group(1) + body[: len(body) // 2] + m.group(3)

    out = _re.sub(r"(<script\b[^>]*>)(.+?)(</script>)", cut, html, flags=_re.S | _re.I)
    return out if out != html else None


def _mut_drop_paragraphs(html: str) -> str | None:
    out = _re.sub(r"<p\b[^>]*>.*?</p>", "", html, flags=_re.S | _re.I)
    return out if out != html else None


def _mut_whitespace_storm(html: str) -> str | None:
    out = html.replace("><", ">\n\t <")
    return out if out != html else None


MUTATIONS = {
    "strip_titles": _mut_strip_titles,
    "nested_figures": _mut_nested_figures,
    "truncate_js": _mut_truncate_js,
    "drop_paragraphs": _mut_drop_paragraphs,
    "whitespace_storm": _mut_whitespace_storm,
}

MUT_PAGES_PER_PLATFORM = 6


def _ref_parse(crawler_cls, url: str, html: str):
    """(item, error) — the reference signals bad pages by raising."""
    try:
        return crawler_cls(url).parse_content(html), None
    except Exception as exc:  # noqa: BLE001 — any raise = rejected page
        return None, f"{type(exc).__name__}: {exc}"


@needs_reference
@pytest.mark.parametrize("mutation", sorted(MUTATIONS))
@pytest.mark.parametrize("platform", sorted(CRAWLERS))
def test_reference_parity_under_mutation(platform, mutation, corpus, monkeypatch):
    import importlib

    mod_name, cls_name = CRAWLERS[platform]
    crawler_cls = getattr(importlib.import_module(mod_name), cls_name)
    if platform == "naver":
        monkeypatch.setattr(
            crawler_cls, "get_iframe_url_path", lambda self: self.new_url
        )

    mutate = MUTATIONS[mutation]
    checked = 0
    for url, html in corpus.get(platform, [])[:MUT_PAGES_PER_PLATFORM]:
        mutated = mutate(html)
        if mutated is None:  # mutation not applicable to this page shape
            continue
        checked += 1
        ref_item, ref_err = _ref_parse(crawler_cls, url, mutated)
        eng = extract_one(mutated, url, platform)
        if ref_err is not None:
            assert eng["error"] is not None, (
                f"{url} [{mutation}]: reference rejected the page "
                f"({ref_err}) but the engine extracted "
                f"{len(eng['spans'])} spans"
            )
            continue
        assert eng["error"] is None, (
            f"{url} [{mutation}]: reference parsed OK but engine "
            f"errored: {eng['error']}"
        )
        assert _eng_spans(eng) == _ref_spans(ref_item), (
            f"span sequence mismatch for {url} [{mutation}]\n"
            f"  ref: {_ref_spans(ref_item)[:8]}\n"
            f"  eng: {_eng_spans(eng)[:8]}"
        )
        assert (eng["title"] or None) == (ref_item.title or None), (
            f"{url} [{mutation}]"
        )
    if checked == 0:
        pytest.skip(f"mutation {mutation} not applicable to any {platform} page")


@needs_reference
def test_quora_reference_fixture_parity():
    """The reference's own committed live-response fixture (the one real
    captured page in its test suite — news_crawler/quora/test/)."""
    import importlib

    fixture = Path("/root/reference/news_crawler/quora/test/response.html")
    html = fixture.read_text(encoding="utf-8")
    url = "https://www.quora.com/What-is-x/answer/Someone-1"
    crawler_cls = getattr(
        importlib.import_module("news_crawler.quora.quora_answer"), "QuoraAnswerCrawler"
    )
    ref_item = crawler_cls(url).parse_content(html)
    eng = extract_one(html, url, "quora")
    assert eng["error"] is None
    assert _eng_spans(eng) == _ref_spans(ref_item)
    assert (eng["title"] or None) == (ref_item.title or None)


# ---------------------------------------------------------------------------
# Golden digests — the same corpus without the reference
# ---------------------------------------------------------------------------

GOLDENS = Path(__file__).parent / "goldens" / "reference_parity.json"


def _outcomes(pages, platform: str) -> str:
    """sha256 over the engine's (url, error is None, spans, title) for
    each page."""
    out = []
    for url, html in pages:
        eng = extract_one(html, url, platform)
        spans = [
            [s["kind"], s["text"], s["media_ref"], s["offset"]]
            for s in eng["spans"] or []
        ]
        out.append([url, eng["error"] is None, spans, eng["title"]])
    return hashlib.sha256(json.dumps(out).encode()).hexdigest()


def engine_digests(corpus) -> dict[str, str]:
    """One digest per dialect over its parity sample and one per
    (dialect, mutation) over the pages the mutation applies to."""
    out = {}
    for platform in sorted(CRAWLERS):
        pages = corpus.get(platform, [])
        out[f"parity/{platform}"] = _outcomes(pages, platform)
        for name, mutate in sorted(MUTATIONS.items()):
            mutated = [
                (url, mutate(html))
                for url, html in pages[:MUT_PAGES_PER_PLATFORM]
            ]
            out[f"mutation/{platform}/{name}"] = _outcomes(
                [(url, m) for url, m in mutated if m is not None], platform
            )
    return out


def test_engine_matches_golden_digests(corpus):
    """A changed digest is a changed dialect outcome.  Update the file
    (the failure message lists the new digests) only after the
    reference parity tests above pass with the change."""
    want = json.loads(GOLDENS.read_text())
    got = engine_digests(corpus)
    changed = {k: got.get(k) for k in sorted(want.keys() | got.keys())
               if want.get(k) != got.get(k)}
    assert not changed, f"engine outcomes changed: {changed}"
