"""Extraction dialect unit tests (pure Python — no Spark needed) against
hand-built fixtures whose expected spans are derived from the reference
parsers' semantics (cited in each dialect's docstring)."""

import pytest
from refshim import reference_available

from newscrawler_spark.functions import platforms as P
from newscrawler_spark.functions.extract import extract_one
from newscrawler_spark.functions.wechat import parse_wechat

TOUTIAO_HTML = """
<html><body><h1> Big Title </h1>
<div class="article-meta"><span>2025-01-02</span>
<span class="name"><a href="/c/user/123/">Alice</a></span></div>
<article>
<p>First paragraph.</p>
<p></p>
<div><img src="https://p3.img.cc/a.jpg"/><img src="https://p3.img.cc/b.jpg"/></div>
<p>Second <b>bold</b> paragraph.</p>
<img src="https://p3.img.cc/c.jpg"/>
<video src="https://v.cc/v.mp4"></video>
</article></body></html>
"""


def test_toutiao_spans_order():
    out = P.parse_toutiao(TOUTIAO_HTML, "https://www.toutiao.com/article/1/")
    assert out["title"] == "Big Title"
    assert out["author_name"] == "Alice"
    assert out["author_url"] == "https://www.toutiao.com/c/user/123/"
    assert out["publish_time"] == "2025-01-02"
    assert out["spans"] == [
        ("text", "First paragraph.", ""),
        ("image", "", "https://p3.img.cc/a.jpg"),
        ("image", "", "https://p3.img.cc/b.jpg"),
        ("text", "Second bold paragraph.", ""),
        ("image", "", "https://p3.img.cc/c.jpg"),
        ("video", "", "https://v.cc/v.mp4"),
    ]


def test_toutiao_missing_title_is_error():
    out = extract_one("<html><body><article><p>x</p></article></body></html>",
                      "u", "toutiao")
    assert out["error"] and "Failed to get title" in out["error"]
    assert out["spans"] is None


def test_extract_one_offsets():
    out = extract_one(TOUTIAO_HTML, "u", "toutiao")
    assert out["error"] is None
    assert [s["offset"] for s in out["spans"]] == list(range(6))
    assert out["spans"][0] == {"kind": "text", "text": "First paragraph.",
                               "media_ref": "", "offset": 0}


def test_first_wins_dedup_order_preserving():
    spans = [
        ("text", "a", ""), ("image", "", "u1"), ("text", "a", ""),
        ("text", "b", ""), ("image", "", "u1"), ("text", "a", ""),
    ]
    assert P.first_wins_dedup(spans) == [
        ("text", "a", ""), ("image", "", "u1"), ("text", "b", ""),
    ]


BBC_HTML = """
<html><body><h1>BBC Title</h1>
<time datetime="2025-10-27T12:00:00Z">27 Oct</time>
<article>
<div data-component="text-block"><p>Para one.</p><p>Para two.</p></div>
<figure>
<img src="https://x.cc/grey-placeholder.png"/>
<img src="//ichef.bbci.co.uk/real.jpg"/>
</figure>
<div data-component="text-block"><p>Para three.</p></div>
</article></body></html>
"""


def test_bbc_placeholder_filter_and_scheme():
    out = P.parse_bbc(BBC_HTML, "u")
    assert out["publish_time"] == "2025-10-27T12:00:00Z"
    # cover-first: the reference emits the first img-figure BEFORE the
    # text blocks regardless of document position (bbc_news.py:131-146;
    # machine-checked in test_reference_parity.py)
    assert out["spans"] == [
        ("image", "", "https://ichef.bbci.co.uk/real.jpg"),
        ("text", "Para one.", ""),
        ("text", "Para two.", ""),
        ("text", "Para three.", ""),
    ]


SOHU_HTML = """
<html><body><h1>Sohu Title</h1><span class="time">2025-01-05 10:00</span>
<script>
var x = { imgsList: [
  {"url": "//p1.itc.cn/one.jpg"},
  {"url": "https://p2.itc.cn/two.jpg"},
] ,};
</script>
<article id="mp-editor">
<p>Text A.</p>
<p><img src="enc1"/>ignored caption</p>
<p>Text B.</p>
<img src="enc2"/>
</article></body></html>
"""


def test_sohu_positional_image_join():
    out = P.parse_sohu(SOHU_HTML, "u")
    # i-th img-bearing element takes i-th imgsList URL; text suppressed in
    # img-bearing paragraphs; '//'-URL scheme-fixed (sohu_news.py:183-207)
    assert out["spans"] == [
        ("text", "Text A.", ""),
        ("image", "", "https://p1.itc.cn/one.jpg"),
        ("text", "Text B.", ""),
        ("image", "", "https://p2.itc.cn/two.jpg"),
    ]


# reference-shaped markup: the reference's selectors are EXACT class
# matches — figure.detail__media-image under detail__media, and the
# double-class body div (detik_news.py:97-137)
DETIK_HTML = """
<html><body><h1 class="detail__title">Detik Title</h1>
<article class="detail">
<div class="detail__media"><figure class="detail__media-image">
<img src="https://d.cc/cover.jpg"/></figure></div>
<div class="detail__body-text itp_bodycontent">
<p>Body para.</p>
<img src="https://d.cc/body.jpg"/>
</div></article></body></html>
"""


def test_detik_cover_first():
    out = P.parse_detik(DETIK_HTML, "u")
    assert out["spans"][0] == ("image", "", "https://d.cc/cover.jpg")
    assert out["spans"][1] == ("text", "Body para.", "")
    assert out["spans"][2] == ("image", "", "https://d.cc/body.jpg")


WECHAT_DOM_HTML = """
<html><body>
<h1 id="activity-name"> WeChat Title </h1>
<span id="profileBt">SomeAccount</span>
<script>var createTime = '2025-02-03 09:30';</script>
<div id="js_content">
<section>Intro text
<p>Para one.</p>
<ol><li>first</li><li>second</li></ol>
<ul><li>bullet</li></ul>
</section>
<p><img data-src="https://mmbiz.qpic.cn/i.jpg"/>caption text</p>
<p>Para one.</p>
</div></body></html>
"""


def test_wechat_dom_walk_lists_and_dedup():
    out = parse_wechat(WECHAT_DOM_HTML, "u")
    assert out["title"] == "WeChat Title"
    assert out["publish_time"] == "2025-02-03 09:30"
    assert out["author_name"] == "SomeAccount"
    kinds_texts = [(k, t or r) for k, t, r in out["spans"]]
    assert kinds_texts == [
        ("text", "Intro text"),
        ("text", "Para one."),
        ("text", "1. first"),
        ("text", "2. second"),
        ("text", "• bullet"),
        ("image", "https://mmbiz.qpic.cn/i.jpg"),
        ("text", "caption text"),
        # second "Para one." removed by first-wins dedup
    ]


WECHAT_SSR_HTML = """
<html><body>
<script>
try {
window.cgiDataNew = {
  title: JsDecode('SSR \\x22Quoted\\x22 Title'),
  nick_name: 'Account X',
  ori_send_time: '1738600000' * 1,
  desc: JsDecode('line one\\x0aline two'),
  picture_page_info_list: [
    { cdn_url: JsDecode('https://mmbiz.qpic.cn/p1.jpg?x\\x26amp;y') },
  ],
};
} catch (e) {}
</script>
</body></html>
"""


def test_wechat_ssr_cgidatanew():
    out = parse_wechat(WECHAT_SSR_HTML, "u")
    assert out["title"] == 'SSR "Quoted" Title'
    assert out["author_name"] == "Account X"
    assert out["publish_time"] == "2025-02-03 16:26"  # utc of 1738600000
    kinds = [(k, t or r) for k, t, r in out["spans"]]
    assert ("image", "https://mmbiz.qpic.cn/p1.jpg?x&y") in kinds
    assert ("text", "line one") in kinds and ("text", "line two") in kinds


def test_wechat_legacy_ssr():
    html = """<html><script>window.__QMTPL_SSR_DATA__={title: 'Legacy T', nick_name: 'Acct', desc: 'only line'};</script>
<script>window.picture_page_info_list = [
 { cdn_url: 'https://mmbiz.qpic.cn/l1.jpg' },
].slice(0, 20);</script></html>"""
    out = parse_wechat(html, "u")
    assert out["title"] == "Legacy T"
    spans = [(k, t or r) for k, t, r in out["spans"]]
    assert spans == [("image", "https://mmbiz.qpic.cn/l1.jpg"), ("text", "only line")]


QUORA_HTML = r"""
<html><script>
x.push("{\"data\":{\"answer\":{\"content\":\"{\\\"sections\\\":[{\\\"type\\\":\\\"text\\\",\\\"spans\\\":[{\\\"text\\\":\\\"Answer body \\\"},{\\\"text\\\":\\\"here.\\\"}]}]}\",\"creationTime\":1700000000000000,\"author\":{\"names\":[{\"givenName\":\"Jane\",\"familyName\":\"Doe\"}]},\"question\":{\"title\":\"{\\\"sections\\\":[{\\\"spans\\\":[{\\\"text\\\":\\\"What is X?\\\"}]}]}\"}}}}");
</script></html>
"""


def test_quora_double_encoded_json():
    out = P.parse_quora(QUORA_HTML, "u")
    assert out["title"] == "What is X?"
    assert out["author_name"] == "Jane Doe"
    assert out["publish_time"] == "2023-11-14 22:13:20"
    assert out["spans"] == [("text", "Answer body here.", "")]


@pytest.mark.skipif(
    not reference_available(), reason="reference crawler checkout not present"
)
def test_quora_reference_golden_fixture():
    """The reference's only committed fixture (an 85 KB live-captured
    page, /root/reference/news_crawler/quora/test/response.html with the
    manual scratchpad test.py) — our dialect must extract the same
    article the reference's quora_answer.py does: double-encoded answer
    JSON inside push("..."), sections[].spans[] walk, µs-epoch
    timestamp (quora_answer.py:33-39,68-84,115-156)."""
    html = open(
        "/root/reference/news_crawler/quora/test/response.html", encoding="utf-8"
    ).read()
    from newscrawler_spark.functions.platforms import parse_quora

    out = parse_quora(html, "https://www.quora.com/What-is-X/answer/Someone-1")
    assert out["title"] == "What is the best life advice you would give?"
    assert out["author_name"] == "Annalise Cameron"
    assert out["publish_time"] == "2018-12-19 11:11:10"  # µs epoch → local fmt
    kinds = [s[0] for s in out["spans"]]
    assert len(out["spans"]) == 22 and kinds.count("text") == 22
    assert out["spans"][0][1].startswith("Your personal and career growth")
    assert out["spans"][-1][1].startswith("Be obsessed.")
