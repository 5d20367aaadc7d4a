"""Per-platform HTML -> (title, meta, spans) extraction dialects.

Each dialect is a pure function ``(html: str, url: str) -> dict`` returning
  {"title": str, "author_name": str, "author_url": str,
   "publish_time": str, "spans": [(kind, text, media_ref)], "subtitle": str|None}
and raising ValueError on unparseable input (per-row isolation happens in
the dispatcher, extract.py).

Span order IS document order — the reference relies on Python list append
order (SURVEY.md W1); the explicit offset is assigned by the dispatcher.

Semantics are re-derived from the reference parsers (cited per dialect);
the implementation is new (stdlib html.parser DOM, see html_dom.py —
the reference uses parsel/lxml which this container lacks).
"""

from __future__ import annotations

import json
import re

from .html_dom import Node, parse_html

TEXT, IMAGE, VIDEO = "text", "image", "video"

ZERO_WIDTH = "​"


def _span(kind: str, content: str) -> tuple[str, str, str]:
    """text spans carry payload in `text`; media spans carry URL in
    `media_ref` (input_hint contract).  The reference stores both in
    `content` with `desc` mirroring it."""
    if kind == TEXT:
        return (TEXT, content, "")
    return (kind, "", content)


def _find_exact(root: Node, tag: str, class_attr: str) -> Node | None:
    """First descendant with tag and EXACT @class string (the reference's
    [@class='a b'] tests are string equality, not token membership)."""
    for n in root.iter():
        if n.tag == tag and n.attrs.get("class") == class_attr:
            return n
    return None


def _find_all_attr(root: Node, attr: str, value: str) -> list[Node]:
    return [n for n in root.iter() if n.attrs.get(attr) == value]


def _first_text_child(nodes: list[Node]) -> str | None:
    """XPath `//tag/text()` + .get(): the first DIRECT child text node
    across the matched elements in document order (None if none)."""
    for n in nodes:
        for c in n.children:
            if c.tag == "#text" and c.text is not None:
                return c.text
    return None


def first_wins_dedup(spans: list[tuple[str, str, str]]) -> list[tuple[str, str, str]]:
    """Order-preserving (kind, content) dedup — wechat_news.py:236-256
    (content key is text for text spans, media_ref for media spans)."""
    seen: set[tuple[str, str]] = set()
    out = []
    for kind, text, ref in spans:
        key = (kind, text if kind == TEXT else ref)
        if key not in seen:
            seen.add(key)
            out.append((kind, text, ref))
    return out


# ---------------------------------------------------------------------------
# toutiao — toutaio_news.py:70-145 (//h1 title; article-meta block;
# //article/* walk: p→text, img/div/p→images, video→video)
# ---------------------------------------------------------------------------

def parse_toutiao(html: str, url: str) -> dict:
    root = parse_html(html)
    h1 = root.find("h1")
    title = (h1.string().strip() if h1 else "") or ""
    if not title:
        raise ValueError("Failed to get title")

    publish_time = author_name = author_url = ""
    meta_div = root.find("div", cls="article-meta")
    if meta_div:
        span_children = [c for c in meta_div.element_children() if c.tag == "span"]
        if span_children:
            publish_time = span_children[0].string().strip()
        name_span = next((s for s in span_children if "name" in s.classes()), None)
        if name_span:
            a = name_span.find("a")
            if a:
                author_name = a.string().strip()
                href = a.get("href").strip()
                author_url = ("https://www.toutiao.com" + href) if href else ""

    spans: list[tuple[str, str, str]] = []
    article = root.find("article")
    if article:
        for el in article.element_children():
            if el.tag == "p":
                text = el.string().strip()
                if text:
                    spans.append(_span(TEXT, text))
            if el.tag in ("img", "div", "p"):
                if el.tag == "img":
                    src = el.get("src")
                    if src:
                        spans.append(_span(IMAGE, src))
                else:
                    for img in el.find_all("img"):
                        src = img.get("src")
                        if src:
                            spans.append(_span(IMAGE, src))
            if el.tag == "video":
                src = el.get("src")
                if src:
                    spans.append(_span(VIDEO, src))
    return {
        "title": title,
        "subtitle": None,
        "author_name": author_name,
        "author_url": author_url,
        "publish_time": publish_time,
        "spans": spans,
    }


# ---------------------------------------------------------------------------
# netease — netease_news.py:75-177 (h1.post_title; div.post_info for time/
# source; div.post_body walk: p→text+nested imgs, img, video)
# ---------------------------------------------------------------------------

def parse_netease(html: str, url: str) -> dict:
    root = parse_html(html)
    h1 = root.find("h1", cls="post_title")
    title = (h1.string().strip() if h1 else "")
    if not title:
        raise ValueError("Failed to get title")

    publish_time = author_name = ""
    info = root.find("div", cls="post_info")
    if info:
        info_text = info.string()
        m = re.search(r"(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2})", info_text)
        publish_time = m.group(1) if m else ""
        m2 = re.search(r"来源:\s*([^\s]+)", info_text)
        author_name = m2.group(1).strip() if m2 else ""

    spans: list[tuple[str, str, str]] = []
    body = root.find("div", cls="post_body")
    if body:
        for el in body.element_children():
            if el.tag == "p":
                text = el.string().strip()
                if text:
                    spans.append(_span(TEXT, text))
                for img in el.find_all("img"):
                    src = img.get("src")
                    if src:
                        spans.append(_span(IMAGE, src))
            elif el.tag == "img":
                src = el.get("src")
                if src:
                    spans.append(_span(IMAGE, src))
            elif el.tag == "video":
                src = el.get("src")
                if src:
                    spans.append(_span(VIDEO, src))
            elif el.tag == "div":
                for img in el.find_all("img"):
                    src = img.get("src")
                    if src:
                        spans.append(_span(IMAGE, src))
    return {
        "title": title,
        "subtitle": None,
        "author_name": author_name,
        "author_url": "",
        "publish_time": publish_time,
        "spans": spans,
    }


# ---------------------------------------------------------------------------
# sohu — sohu_news.py:76-246: positional image join (J1). Real image URLs
# live in a JS `imgsList: [...],` blob (strict JSON after trailing-comma
# repair, :132-161); the i-th img-bearing element of article#mp-editor
# takes the i-th list URL; text is suppressed for img-bearing paragraphs
# (:183-200); only '//'-URLs get a https: prefix.  (_is_valid_image_url
# at :81-97 is defined but never called in the reference — not applied.)
# ---------------------------------------------------------------------------

_SOHU_IMGSLIST = re.compile(r"imgsList:\s*(\[[\s\S]*?\])\s*,")


def _sohu_fix_scheme(u: str) -> str:
    if u.startswith("//"):
        return "https:" + u
    return u


def parse_sohu(html: str, url: str) -> dict:
    root = parse_html(html)
    h1 = root.find("h1")
    title = (h1.string().strip() if h1 else "")
    if not title:
        raise ValueError("Failed to get title")

    publish_time = author_name = author_url = ""
    t = root.find_by_id("news-time") or root.find("span", cls="time")
    if t:
        publish_time = t.string().strip()
    media_meta = next(
        (n for n in root.iter() if n.tag == "meta" and n.get("name") == "mediaid"), None
    )
    if media_meta:
        author_name = media_meta.get("content").strip()
    h4 = root.find("h4")
    h4a = h4.find("a") if h4 else None
    if not author_name and h4a:
        author_name = h4a.string().strip()
    if h4a:
        author_url = h4a.get("href")
        if author_url.startswith("//"):
            author_url = "https:" + author_url

    # imgsList blob: strict JSON after removing trailing commas (:146-156)
    imgs: list[str] = []
    m = _SOHU_IMGSLIST.search(html)
    if m:
        blob = re.sub(r",(\s*[}\]])", r"\1", m.group(1))
        try:
            parsed = json.loads(blob)
            imgs = [i.get("url", "") for i in parsed if isinstance(i, dict) and i.get("url")]
        except ValueError:
            pass

    spans: list[tuple[str, str, str]] = []
    body = root.find_by_id("mp-editor")
    image_index = 0
    if body:
        for el in body.element_children():
            if el.tag == "p":
                has_img = el.find("img") is not None
                if has_img and image_index < len(imgs):
                    spans.append(_span(IMAGE, _sohu_fix_scheme(imgs[image_index])))
                    image_index += 1
                text = el.string().strip()
                if text and not has_img:
                    spans.append(_span(TEXT, text))
            elif el.tag == "img":
                if image_index < len(imgs):
                    spans.append(_span(IMAGE, _sohu_fix_scheme(imgs[image_index])))
                    image_index += 1
            elif el.tag == "video":
                src = el.get("src")
                if not src:
                    source = el.find("source")
                    src = source.get("src") if source else ""
                if src:
                    spans.append(_span(VIDEO, _sohu_fix_scheme(src)))
    return {
        "title": title,
        "subtitle": None,
        "author_name": author_name,
        "author_url": author_url,
        "publish_time": publish_time,
        "spans": spans,
    }


# ---------------------------------------------------------------------------
# tencent — tencent_news.py:77-200: window.DATA = {...} JSON blob carries
# title/meta; body from div.content-article: p→text, img, video.
# ---------------------------------------------------------------------------

_TENCENT_DATA = re.compile(r"window\.DATA\s*=\s*({.*?})\s*[;\n]", re.DOTALL)


def parse_tencent(html: str, url: str) -> dict:
    """tencent_news.py:82-200 — title strictly from //h1/text() (raises
    without it; window.DATA feeds ONLY the meta fields), content from the
    direct children of div[@class="rich_media_content"]: a p with any
    descendant img becomes an image (first descendant img carrying @src),
    otherwise its string(); child img/video by @src."""
    author_name = publish_time = ""
    m = _TENCENT_DATA.search(html)
    if m:
        try:
            data = json.loads(m.group(1))
            publish_time = str(data.get("pubtime", "") or "")
            author_name = str(data.get("media", "") or "")
        except ValueError:
            pass
    root = parse_html(html)
    # //h1/text() with the reference's exact check order: raise while
    # unstripped (a whitespace-only text node passes), strip after
    title_raw = _first_text_child([n for n in root.iter() if n.tag == "h1"])
    if not title_raw:
        raise ValueError("Failed to get title")
    title = title_raw.strip()

    spans: list[tuple[str, str, str]] = []
    body = _find_exact(root, "div", "rich_media_content")
    if body:
        for el in body.element_children():
            if el.tag == "p":
                imgs = el.find_all("img")
                if imgs:
                    src = next((i.attrs["src"] for i in imgs if "src" in i.attrs), "")
                    if src:
                        spans.append(_span(IMAGE, src))
                else:
                    text = el.string().strip()
                    if text:
                        spans.append(_span(TEXT, text))
            elif el.tag == "img":
                src = el.attrs.get("src", "")
                if src:
                    spans.append(_span(IMAGE, src))
            elif el.tag == "video":
                src = el.attrs.get("src", "")
                if src:
                    spans.append(_span(VIDEO, src))
    return {
        "title": title,
        "subtitle": None,
        "author_name": author_name,
        "author_url": "",
        "publish_time": publish_time,
        "spans": spans,
    }


# ---------------------------------------------------------------------------
# bbc — bbc_news.py:76-227: h1 title; time[datetime] ISO publish time;
# article walk: div[data-component='text-block'] p→text,
# figure→first non-placeholder img (grey-placeholder.png filtered, :133-149),
# '//'-srcs fixed to https.
# ---------------------------------------------------------------------------

def _bbc_normalize(src: str, base: str = "https://www.bbc.com") -> str:
    if src.startswith("//"):
        return "https:" + src
    if src.startswith("/"):
        return base + src
    return src


def parse_bbc(html: str, url: str) -> dict:
    """bbc_news.py:112-227 — COVER-FIRST ordering regardless of document
    position: the first img-bearing figure's first non-placeholder src,
    then every text-block paragraph, then figures 2..n, then video
    blocks (video/@src, else source/@src, else any descendant
    @data-video-src); title //h1/text() with //article//h1/text()
    fallback; byline-block paragraph texts joined, else 'BBC News'."""
    root = parse_html(html)
    title_raw = _first_text_child([n for n in root.iter() if n.tag == "h1"])
    if not title_raw:
        arts = [n for n in root.iter() if n.tag == "article"]
        h1s = [h for a in arts for h in a.iter() if h is not a and h.tag == "h1"]
        title_raw = _first_text_child(h1s)
    if not title_raw:
        raise ValueError("Failed to get title")
    title = title_raw.strip()

    times = [n for n in root.iter() if n.tag == "time"]
    publish_time = ""
    for t in times:
        if "datetime" in t.attrs:
            publish_time = t.attrs["datetime"]
            break
    if not publish_time:
        publish_time = _first_text_child(times) or ""
    publish_time = publish_time.strip()
    parts = []
    for bl in _find_all_attr(root, "data-component", "byline-block"):
        for p in bl.find_all("p"):
            for c in p.children:
                if c.tag == "#text" and c.text and c.text.strip():
                    parts.append(c.text.strip())
    author_name = " ".join(parts) if parts else "BBC News"

    spans: list[tuple[str, str, str]] = []
    articles = [n for n in root.iter() if n.tag == "article"]

    def img_figures(article: Node) -> list[Node]:
        return [
            f for f in article.iter()
            if f is not article and f.tag == "figure" and f.find("img") is not None
        ]

    def first_real_src(figs: list[Node]) -> str | None:
        srcs = [
            img.attrs["src"]
            for fig in figs
            for img in fig.find_all("img")
            if "src" in img.attrs
        ]
        for s in srcs:
            if s and not s.endswith("grey-placeholder.png"):
                return s
        return None

    # cover: parsel's `.//figure[.//img][1]` over the article LIST takes
    # the first qualifying figure of EACH article; getall then flattens
    # their img srcs and the first non-placeholder wins (bbc:133-146)
    covers = [figs[0] for a in articles if (figs := img_figures(a))]
    if covers:
        src = first_real_src(covers)
        if src:
            spans.append(_span(IMAGE, _bbc_normalize(src)))

    for a in articles:
        for tb in _find_all_attr(a, "data-component", "text-block"):
            for p in tb.find_all("p"):
                text = p.string().strip()
                if text:
                    spans.append(_span(TEXT, text))

    for a in articles:
        for fig in img_figures(a)[1:]:
            src = first_real_src([fig])
            if src:
                spans.append(_span(IMAGE, _bbc_normalize(src)))

    for a in articles:
        for vb in _find_all_attr(a, "data-component", "video-block"):
            src = None
            for v in vb.find_all("video"):
                if "src" in v.attrs:
                    src = v.attrs["src"]
                    break
            if src is None:
                for s in vb.find_all("source"):
                    if "src" in s.attrs:
                        src = s.attrs["src"]
                        break
            if src is None:
                for n in vb.iter():
                    if n is not vb and "data-video-src" in n.attrs:
                        src = n.attrs["data-video-src"]
                        break
            if src:
                spans.append(_span(VIDEO, _bbc_normalize(src)))
    return {
        "title": title,
        "subtitle": None,
        "author_name": author_name,
        "author_url": "",
        "publish_time": publish_time,
        "spans": spans,
    }


# ---------------------------------------------------------------------------
# cnn — cnn_news.py:77-202: h1 title; 'By ' prefix stripped from byline
# (:105-107); main content p.paragraph→text, picture img→image,
# video→video; '/'-relative srcs fixed to https://edition.cnn.com.
# ---------------------------------------------------------------------------

def parse_cnn(html: str, url: str) -> dict:
    root = parse_html(html)
    h1 = root.find("h1")
    title = (h1.string().strip() if h1 else "")
    if not title:
        raise ValueError("Failed to get title")

    author_name = ""
    byline = root.find("div", cls="byline__names") or root.find("span", cls="byline__name")
    if byline:
        author_name = byline.string().strip()
        if author_name.startswith("By "):
            author_name = author_name[3:]
    publish_time = ""
    ts = root.find("div", cls="timestamp")
    if ts:
        publish_time = ts.string().strip()

    spans: list[tuple[str, str, str]] = []
    main = root.find("main") or root.find("article") or root
    for el in main.iter():
        if el.tag == "p" and "paragraph" in el.classes():
            text = el.string().strip()
            if text:
                spans.append(_span(TEXT, text))
        elif el.tag == "picture":
            img = el.find("img")
            if img:
                src = img.get("src")
                if src:
                    if src.startswith("//"):
                        src = "https:" + src
                    elif src.startswith("/"):
                        src = "https://edition.cnn.com" + src
                    spans.append(_span(IMAGE, src))
        elif el.tag == "video":
            src = el.get("src")
            if src:
                spans.append(_span(VIDEO, src))
    return {
        "title": title,
        "subtitle": None,
        "author_name": author_name,
        "author_url": "",
        "publish_time": publish_time,
        "spans": spans,
    }


# ---------------------------------------------------------------------------
# detik — detik_news.py:72-180: cover media emitted BEFORE body (W4,
# :96-130); //h1/text() title (strip-then-check); meta scoped under
# article[@class='detail']; body = the EXACT class
# 'detail__body-text itp_bodycontent' div's direct children with the
# reference's sequential (non-exclusive) branch structure: a p emits its
# text AND its nested images; div children emit all nested images;
# table/strong emit their string.
# ---------------------------------------------------------------------------

def parse_detik(html: str, url: str) -> dict:
    root = parse_html(html)
    title = (
        _first_text_child([n for n in root.iter() if n.tag == "h1"]) or ""
    ).strip()
    if not title:
        raise ValueError("Failed to get title")

    author_name = publish_time = ""
    art = _find_exact(root, "article", "detail")
    if art:
        date_div = _find_exact(art, "div", "detail__date")
        if date_div:
            publish_time = (_first_text_child([date_div]) or "").strip()
        author_div = _find_exact(art, "div", "detail__author")
        if author_div:
            author_name = author_div.string().strip()

    spans: list[tuple[str, str, str]] = []
    # cover first (detik_news.py:96-130): child-step path
    # div[@class='detail__media']/figure[@class='detail__media-image']/img
    cover = _find_exact(root, "div", "detail__media")
    if cover:
        poster_img = poster_video = None
        for fig in cover.element_children():
            if fig.tag == "figure" and fig.attrs.get("class") == "detail__media-image":
                for img in fig.element_children():
                    if img.tag == "img" and "src" in img.attrs:
                        poster_img = img.attrs["src"]
                        break
                if poster_img is not None:
                    break
        for ifr in cover.element_children():
            if ifr.tag == "iframe" and "src" in ifr.attrs:
                poster_video = ifr.attrs["src"]
                break
        if poster_img:
            spans.append(_span(IMAGE, poster_img))
        if poster_video:
            spans.append(_span(VIDEO, poster_video))
    body = _find_exact(root, "div", "detail__body-text itp_bodycontent")
    if body:
        for el in body.element_children():
            if el.tag == "p":
                text = el.string().strip()
                if text:
                    spans.append(_span(TEXT, text))
            if el.tag in ("img", "div", "p"):
                if el.tag == "img":
                    src = el.attrs.get("src", "")
                    if src:
                        spans.append(_span(IMAGE, src))
                else:
                    for img in el.find_all("img"):
                        if "src" in img.attrs and img.attrs["src"]:
                            spans.append(_span(IMAGE, img.attrs["src"]))
            if el.tag == "video":
                src = el.attrs.get("src", "")
                if src:
                    spans.append(_span(VIDEO, src))
            if el.tag in ("table", "strong"):
                text = el.string().strip()
                if text:
                    spans.append(_span(TEXT, text))
    return {
        "title": title,
        "subtitle": None,
        "author_name": author_name,
        "author_url": "",
        "publish_time": publish_time,
        "spans": spans,
    }


# ---------------------------------------------------------------------------
# naver — naver_news.py:42-236: title = string of the first span under
# the EXACT-class 'se-module se-module-text se-title-text' div; content
# is NaverNewsContentParser's recursive walk over the exact-class
# 'se-main-container' div's children (containers section/div/blockquote/
# figure recurse; h1-h6/ul/ol/li/p/span/strong text with '{i}. '/'• '
# list numbering; img by data-lazy-src||src, video/iframe by src; p
# emits nested media before its text); zero-width chars stripped (:91);
# empty-content filter then first-wins dedup (:58-59).
# ---------------------------------------------------------------------------

def parse_naver(html: str, url: str) -> dict:
    root = parse_html(html)
    title_div = _find_exact(root, "div", "se-module se-module-text se-title-text")
    title = ""
    if title_div:
        span = title_div.find("span")
        if span is not None:
            title = span.string().strip()
    if not title:
        raise ValueError("Failed to get title")

    author_name = author_url = publish_time = ""
    date_el = _find_exact(root, "span", "se_publishDate pcol2")
    if date_el:
        publish_time = (_first_text_child([date_el]) or "").strip()
    nick = _find_exact(root, "span", "nick")
    if nick:
        a = nick.find("a")
        if a is not None:
            author_name = (_first_text_child([a]) or "").strip()
            author_url = a.attrs.get("href", "").strip()

    spans: list[tuple[str, str, str]] = []
    container = _find_exact(root, "div", "se-main-container")
    if container:
        for comp in container.element_children():
            _naver_walk(comp, spans)
    spans = [
        s for s in spans if (s[1] if s[0] == TEXT else s[2]).strip()
    ]
    spans = first_wins_dedup(spans)
    return {
        "title": title,
        "subtitle": None,
        "author_name": author_name,
        "author_url": author_url,
        "publish_time": publish_time,
        "spans": spans,
    }


def _naver_text(node: Node) -> str | None:
    if node.tag in ("script", "style"):
        return None
    text = node.string().strip()
    if not text:
        return None
    return text.replace(ZERO_WIDTH, "")


def _naver_list_item(node: Node) -> str | None:
    text = _naver_text(node)
    if not text:
        return None
    # ancestor::ol check + preceding-sibling::li count
    p, in_ol = node.parent, False
    while p is not None:
        if p.tag == "ol":
            in_ol = True
            break
        p = p.parent
    if in_ol:
        pos = 1
        if node.parent is not None:
            for c in node.parent.children:
                if c is node:
                    break
                if c.tag == "li":
                    pos += 1
        return f"{pos}. {text}"
    return f"• {text}"


def _naver_media(node: Node) -> tuple[str, str, str] | None:
    if node.tag == "img":
        src = node.attrs.get("data-lazy-src", "") or node.attrs.get("src", "")
        if src:
            return _span(IMAGE, src)
    elif node.tag in ("video", "iframe"):
        src = node.attrs.get("src", "")
        if src:
            return _span(VIDEO, src)
    return None


def _naver_walk(node: Node, spans: list) -> None:
    tag = node.tag
    if tag in ("section", "div", "blockquote", "figure"):
        for child in node.element_children():
            _naver_walk(child, spans)
        return
    if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
        text = _naver_text(node)
        if text:
            spans.append(_span(TEXT, text))
        return
    if tag in ("ul", "ol"):
        for li in node.find_all("li"):
            item = _naver_list_item(li)
            if item:
                spans.append(_span(TEXT, item))
        return
    if tag == "li":
        item = _naver_list_item(node)
        if item:
            spans.append(_span(TEXT, item))
        return
    media = _naver_media(node)
    if media:
        spans.append(media)
        return
    if tag == "p":
        nested = [
            n for n in node.iter()
            if n is not node and n.tag in ("img", "video", "iframe")
        ]
        for m in nested:
            mm = _naver_media(m)
            if mm:
                spans.append(mm)
        text = _naver_text(node)
        if text:
            spans.append(_span(TEXT, text))
        return
    if tag in ("span", "strong"):
        text = _naver_text(node)
        if text:
            spans.append(_span(TEXT, text))


# ---------------------------------------------------------------------------
# lenny — lennysnewsletter.py:30-258: div.available-content walk;
# zero-width stripped (:128); list numbering (:130-150); first-wins dedup.
# ---------------------------------------------------------------------------

def parse_lenny(html: str, url: str) -> dict:
    root = parse_html(html)
    h1 = root.find("h1", cls="post-title") or root.find("h1")
    title = (h1.string().strip() if h1 else "")
    if not title:
        raise ValueError("Failed to get title")
    sub = root.find("h3", cls="subtitle")
    subtitle = sub.string().strip() if sub else None

    spans: list[tuple[str, str, str]] = []
    body = root.find("div", cls="available-content")
    if body:
        _lenny_walk(body, spans)
    spans = first_wins_dedup(spans)
    return {
        "title": title,
        "subtitle": subtitle,
        "author_name": "Lenny Rachitsky",
        "author_url": "https://www.lennysnewsletter.com",
        "publish_time": "",
        "spans": spans,
    }


def _lenny_walk(node: Node, spans: list) -> None:
    for el in node.element_children():
        if el.tag == "p":
            text = el.string().replace(ZERO_WIDTH, "").strip()
            if text:
                spans.append(_span(TEXT, text))
        elif el.tag in ("h2", "h3", "h4"):
            text = el.string().strip()
            if text:
                spans.append(_span(TEXT, text))
        elif el.tag == "ul":
            for li in [c for c in el.element_children() if c.tag == "li"]:
                text = li.string().replace(ZERO_WIDTH, "").strip()
                if text:
                    spans.append(_span(TEXT, f"• {text}"))
        elif el.tag == "ol":
            pos = 0
            for li in [c for c in el.element_children() if c.tag == "li"]:
                pos += 1
                text = li.string().replace(ZERO_WIDTH, "").strip()
                if text:
                    spans.append(_span(TEXT, f"{pos}. {text}"))
        elif el.tag == "img":
            src = el.get("src")
            if src:
                spans.append(_span(IMAGE, src))
        elif el.tag == "figure":
            img = el.find("img")
            if img and img.get("src"):
                spans.append(_span(IMAGE, img.get("src")))
        else:
            _lenny_walk(el, spans)


# ---------------------------------------------------------------------------
# quora — quora_answer.py:25-178: answer JSON double-encoded inside
# push("{\"data\":{\"answer\":...}}") (:68-84); sections[].spans[] walk
# (:115-156); unix-µs creationTime → '%Y-%m-%d %H:%M:%S' (:33-39).
# ---------------------------------------------------------------------------

_QUORA_PUSH = re.compile(r'push\(("{\\"data\\":{\\"answer\\":.*?}}")\);', re.DOTALL)


def _quora_ts(us: int) -> str:
    import datetime as _dt

    return _dt.datetime.fromtimestamp(us / 1_000_000, _dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def parse_quora(html: str, url: str) -> dict:
    answer = None
    for m in _QUORA_PUSH.finditer(html):
        try:
            outer = json.loads(m.group(1))      # first decode: the quoted blob
            data = json.loads(outer) if isinstance(outer, str) else outer
            cand = data.get("data", {}).get("answer")
            if cand:
                answer = cand
                break
        except (ValueError, AttributeError):
            continue
    if answer is None:
        raise ValueError("Failed to locate answer JSON")

    title = ""
    q = answer.get("question") or {}
    qtext = q.get("title")
    if qtext:
        try:
            tdoc = json.loads(qtext) if isinstance(qtext, str) else qtext
            title = _quora_plain(tdoc)
        except ValueError:
            title = str(qtext)
    author = answer.get("author") or {}
    names = author.get("names") or []
    author_name = ""
    if names:
        nm = names[0]
        author_name = " ".join(
            x for x in (nm.get("givenName", ""), nm.get("familyName", "")) if x
        )
    publish_time = ""
    ct = answer.get("creationTime")
    if ct:
        publish_time = _quora_ts(int(ct))

    spans: list[tuple[str, str, str]] = []
    content = answer.get("content")
    if content:
        cdoc = json.loads(content) if isinstance(content, str) else content
        for section in cdoc.get("sections", []):
            stype = section.get("type", "")
            texts = []
            for sp in section.get("spans", []):
                t = sp.get("text", "")
                if t:
                    texts.append(t)
                modifiers = sp.get("modifiers") or {}
                emb = modifiers.get("embed") or {}
                if "image" in stype or modifiers.get("image"):
                    img_u = (modifiers.get("image") or {}).get("url") if isinstance(
                        modifiers.get("image"), dict
                    ) else modifiers.get("image")
                    if img_u:
                        spans.append(_span(IMAGE, img_u))
                if emb.get("url"):
                    spans.append(_span(VIDEO, emb["url"]))
            joined = "".join(texts).strip()
            if joined:
                spans.append(_span(TEXT, joined))
    return {
        "title": title,
        "subtitle": None,
        "author_name": author_name,
        "author_url": "",
        "publish_time": publish_time,
        "spans": spans,
    }


def _quora_plain(doc) -> str:
    if isinstance(doc, dict):
        parts = []
        for section in doc.get("sections", []):
            for sp in section.get("spans", []):
                parts.append(sp.get("text", ""))
        return "".join(parts).strip()
    return str(doc)
