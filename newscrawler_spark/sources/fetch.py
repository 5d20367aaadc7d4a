"""U3 — the fetch stage.

Two implementations behind one seam:

  * FixtureFetcher — joins the eligible frontier against an offline
    ``pages`` table (url, status, html, out_links).  This is the test /
    bench path: deterministic, no network.  The S3 iframe hop is
    resolved once, when the corpus is cached, by iframe_target_py (the
    one hop rule, which HttpFetcher and the simulator also call): one
    cached corpus maps each URL straight to the page a fetch returns,
    and a cached URL
    list recovers misses, so a round is one lookup.  Retry semantics
    collapse (a fixture status is stable across attempts), so attempts is
    reported as 1 for 200s and FETCH_ATTEMPTS for failures — exactly
    what tenacity's stop_after_attempt(3) would have produced for a
    deterministic failure (/root/reference/news_crawler/core/base.py:73-78).

  * HttpFetcher — mapInPandas over URL batches with one requests.Session
    per Arrow batch, a real retry loop (3 attempts, 1 s fixed wait,
    15 s timeout — base.py:26-28) and per-row error isolation.  Carried
    for live use; tests never hit the network.

Both return the frontier columns + (status:int, html:string,
out_links:array<string>, attempts:int).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FETCH_ATTEMPTS = 3     # base.py:26
FETCH_WAIT_S = 1.0     # base.py:27
FETCH_TIMEOUT_S = 15.0 # base.py:28

# S3 — two-phase fetch (iframe indirection): naver serves a holder page
# whose real content sits behind //iframe[@id='mainFrame']/@src
# (/root/reference/news_crawler/naver_news/naver_news.py:179-195).  The
# hop happens INSIDE the fetch stage (like the reference — the document
# keeps the ORIGINAL url/canonical identity; re-enqueueing the iframe
# URL would key the seen-set on the wrong URL).
IFRAME_SRC_RE = r'<iframe[^>]*id="mainFrame"[^>]*src="([^"]+)"'


def iframe_target_py(html: str | None, base_url: str) -> str | None:
    """The S3 hop rule, the one implementation (HttpFetcher, the
    FixtureFetcher corpus and the simulator oracle all call it): the
    ``mainFrame`` src resolved against the holder URL as a browser
    resolves it (``urljoin``, as extract_links_py does for hrefs);
    None when the page has no such iframe."""
    import re
    from urllib.parse import urljoin

    if not html:
        return None
    m = re.search(IFRAME_SRC_RE, html)
    return urljoin(base_url, m.group(1)) if m else None


# Link discovery (the engine's frontier-expansion loop).  The reference
# expands its work queue from fetched payloads (next-page URLs,
# /root/reference/video_crawler/pixabay/videos/downloader.py:91-98); the
# general-crawl analog is anchor extraction.  href values are attribute
# text: entity-decoded, then resolved browser-style against the URL the
# HTML was actually served from (the iframe TARGET after an S3 hop —
# relative links inside iframe content resolve against the frame src,
# not the holder).  Fragments are dropped (never sent to a server; the
# canonicalizer strips them from identity anyway); only http(s) results
# survive; first-occurrence document order is kept so discovery is
# deterministic.
HREF_RE = r"""<a\s[^>]*?href\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))"""

_SKIP_SCHEMES = ("javascript:", "mailto:", "tel:", "data:", "about:")


def extract_links_py(
    html: str | None, base_url: str, max_links: int | None = None
) -> list[str]:
    """Anchor hrefs of `html`, resolved against `base_url`, in document
    order, first-occurrence-deduped, http(s)-only, fragment-stripped.

    Shared by HttpFetcher (executor-side, per fetched page) and the
    crawl-semantics oracle — one spec, two call sites.  `max_links`
    bounds pathological pages (a 10^5-anchor page would otherwise fan
    its whole anchor set into the frontier); None = unbounded, matching
    FixtureFetcher's verbatim pass-through of the pages table.
    """
    import html as html_mod
    import re
    from urllib.parse import urljoin

    if not html:
        return []
    out: list[str] = []
    seen: set[str] = set()
    for m in re.finditer(HREF_RE, html, re.IGNORECASE):
        raw = m.group(2) or m.group(3) or m.group(4) or ""
        href = html_mod.unescape(raw).strip()
        if not href or href.startswith("#"):
            continue
        if href.lower().startswith(_SKIP_SCHEMES):
            continue
        try:
            resolved = urljoin(base_url, href)
        except ValueError:
            continue
        resolved = resolved.split("#", 1)[0]
        if not resolved.startswith(("http://", "https://")) or resolved in seen:
            continue
        seen.add(resolved)
        out.append(resolved)
        if max_links is not None and len(out) >= max_links:
            break
    return out


def _miss_page() -> dict:
    """The page a fetch of a URL absent from the corpus returns."""
    return {
        "status": F.lit(0),
        "html": F.lit(None).cast("string"),
        "out_links": F.array().cast("array<string>"),
    }


class FixtureFetcher:
    # Above this many request rows the broadcast hint is withheld and the
    # join falls back to a plain shuffle join: broadcasting an unbounded
    # round's full-width frontier (the hint bypasses
    # autoBroadcastJoinThreshold) risks driver OOM.
    BROADCAST_MAX_ROWS = 4_000_000

    def __init__(self, pages: DataFrame, corpus_partitions: int | None = 64):
        from pyspark.storagelevel import StorageLevel

        # The page corpus is probed every round: persist it once so
        # rounds read the columnar cache instead of re-scanning and
        # decompressing the parquet corpus each time (event-log audit:
        # repeated pages scans were ~40% of all crawl task time).
        # MEMORY_AND_DISK: spills, never OOMs.
        #
        # HASH-repartition (url) to corpus_partitions, not coalesce: the
        # fetch-join output inherits the corpus partitioning, so the
        # cached layout decides which cores run everything downstream of
        # the join — including the extract UDF, the crawl's dominant CPU
        # stage.  A crawl round's URLs are id-contiguous in the archive
        # parquet's write order, so under coalesce a round's matched
        # pages concentrated in the few splits covering that id range
        # (measured: 94% of a 400k-row round in 8 of 64 partitions —
        # extraction serialized on 8 cores however many exist, the
        # measured cause of the flat 8->32 scaling ratio).  Hashing by
        # url spreads any round's match set uniformly for a one-time
        # init shuffle, and matches live-fetch reality: HTTP responses
        # arrive partitioned by the request side, never by archive file
        # order.  Bounding the partition count also keeps small rounds
        # from paying one near-empty task per source split per scan
        # (a 182-partition parquet source measured hundreds of no-op
        # tasks per round write).
        src = pages.select("url", "status", "html", "out_links")
        if corpus_partitions is not None:
            src = src.repartition(corpus_partitions, "url")
        # S3 two-phase hop, resolved ONCE here (the simulator's rule): a
        # 200 iframe HOLDER's row carries its target's page — status 0,
        # null html and no links when the target is not in the corpus —
        # and keeps the holder's url; every other row is as fetched.
        # The target is iframe_target_py itself, a row-at-a-time UDF
        # over only the 200 rows that contain the iframe's id; a NULL
        # target (no src) leaves the row as fetched.  Nothing filters on
        # the UDF's output: that predicate would run the UDF in a second
        # Python node, with a second Python worker per task.
        # Holders resolve against the small target sub-corpus (a
        # semi-join on the distinct targets), and the resolved rows
        # attach to the corpus by a join that streams it.  `src` is
        # cached only while the resolved corpus is built, so its three
        # readers scan the source and shuffle its HTML once.
        src = src.persist(StorageLevel.MEMORY_AND_DISK)
        iframe_target = F.udf(iframe_target_py, "string", useArrow=False)
        holders = (
            src.filter(
                (F.col("status") == 200) & F.col("html").contains('id="mainFrame"')
            )
            .select(
                F.col("url").alias("h_url"),
                iframe_target(F.col("html"), F.col("url")).alias("h_target"),
            )
        )
        targets = src.join(
            holders.select(F.col("h_target").alias("t")).distinct(),
            F.col("url") == F.col("t"),
            "left_semi",
        ).select(*[F.col(c).alias(f"t_{c}") for c in src.columns])
        hops = holders.join(targets, F.col("h_target") == F.col("t_url"), "left")
        resolved = src.join(hops, F.col("url") == F.col("h_url"), "left").select(
            F.col("url").alias("p_url"),
            *[
                F.when(F.col("h_target").isNull(), F.col(c))
                .when(F.col("t_url").isNotNull(), F.col(f"t_{c}"))
                .otherwise(miss)
                .alias(c)
                for c, miss in _miss_page().items()
            ],
        )
        self.pages = resolved.persist(StorageLevel.MEMORY_AND_DISK)
        self.pages.count()  # fill the cache before its input is released
        src.unpersist()
        # URL-only projection, cached across rounds: the miss-recovery
        # anti-join probes this instead of rescanning page HTML
        self._urls = pages.select(F.col("url").alias("p_url"))
        if corpus_partitions is not None:
            self._urls = self._urls.coalesce(corpus_partitions)
        self._urls = self._urls.cache()

    def close(self) -> None:
        """Release the cached corpus and URL list.  Callers that outlive
        a crawl (bench, long-lived sessions) must call this — otherwise
        the persisted blocks live for the JVM lifetime; context-manager
        use (``with FixtureFetcher(pages) as f:``) does it for you."""
        self.pages.unpersist()
        self._urls.unpersist()

    def __enter__(self) -> "FixtureFetcher":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _lookup(
        self, requests: DataFrame, url_col: str, hint_broadcast: bool = True
    ) -> DataFrame:
        """Left-join `requests` against the page table WITHOUT ever
        shuffling page HTML: the request side (a round's eligible rows,
        MBs) is broadcast into an inner join that streams the pages
        scan, and misses are recovered with a second broadcast anti-join.
        (The naive left join sort-merge-shuffled the full HTML corpus —
        GBs — every round.)  With hint_broadcast=False the explicit
        hints are withheld and AQE/planner statistics pick the strategy
        (the oversized-request fallback)."""
        req = F.broadcast(requests) if hint_broadcast else requests
        found = self.pages.join(
            req, self.pages["p_url"] == requests[url_col], "inner"
        ).drop("p_url")
        missing = requests.join(
            self._urls, requests[url_col] == self._urls["p_url"], "left_anti"
        ).select("*", *[v.alias(c) for c, v in _miss_page().items()])
        return found.unionByName(missing)

    def fetch(self, eligible: DataFrame, size_hint_rows: int | None = None) -> DataFrame:
        """size_hint_rows: a free upper bound on the request row count
        (the scheduler passes the previous round's committed
        frontier_next counter — no extra job); None means "unknown,
        assume broadcastable" (tests / first round over seed lists).
        Iframe holders need no second lookup: the cached corpus already
        holds their hop targets' pages (see __init__)."""
        bc = size_hint_rows is None or size_hint_rows <= self.BROADCAST_MAX_ROWS
        return self._lookup(eligible, "url", hint_broadcast=bc).withColumn(
            "attempts",
            F.when(F.col("status") == 200, F.lit(1)).otherwise(F.lit(FETCH_ATTEMPTS)),
        )


class HttpFetcher:
    """Live fetch via mapInPandas; requests imported lazily on executors.

    Before fetching, eligible rows are repartitioned by (domain, salt)
    — politeness locality (a host's requests cluster on few executors)
    with mega-host skew spread over `salt_factor` partitions
    (operators.scheduling.salt_domains)."""

    # run_round attaches the platform fetch-config columns (impersonate,
    # headers) for any fetcher that declares it consumes them (S2/S4)
    wants_fetch_config = True

    def __init__(self, max_attempts: int = FETCH_ATTEMPTS,
                 wait_s: float = FETCH_WAIT_S, timeout_s: float = FETCH_TIMEOUT_S,
                 n_partitions: int = 64, salt_factor: int = 8,
                 max_links_per_page: int | None = None):
        self.max_attempts = max_attempts
        self.wait_s = wait_s
        self.timeout_s = timeout_s
        self.n_partitions = n_partitions
        self.salt_factor = salt_factor
        self.max_links_per_page = max_links_per_page

    def fetch(self, eligible: DataFrame, size_hint_rows: int | None = None) -> DataFrame:
        from ..operators.scheduling import salt_domains

        eligible = salt_domains(eligible, self.n_partitions, self.salt_factor)
        max_attempts, wait_s, timeout_s = self.max_attempts, self.wait_s, self.timeout_s
        max_links = self.max_links_per_page
        out_schema = (
            eligible.schema.simpleString()[7:-1]
            + ",status int,html string,out_links array<string>,attempts int"
        )
        cols = [f.name for f in eligible.schema.fields]

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import time

            import requests

            session = requests.Session()
            for pdf in batches:
                statuses, htmls, links, attempts = [], [], [], []
                # per-row header maps from with_fetch_config (S4/J2); the
                # `impersonate` column targets a curl_cffi-backed fetcher
                # (S2) on deployments that ship it — requests ignores it
                hdr_col = pdf["headers"] if "headers" in pdf.columns else None
                for i, url in enumerate(pdf["url"]):
                    headers = dict(hdr_col.iloc[i]) if hdr_col is not None and hdr_col.iloc[i] is not None else None
                    status, html, n = 0, None, 0
                    base = url  # link-resolution base: the URL the html came from
                    for n in range(1, max_attempts + 1):
                        try:
                            resp = session.get(url, timeout=timeout_s, headers=headers)
                            status = resp.status_code
                            if status == 200:
                                html = resp.text
                                target = iframe_target_py(html, url)
                                if target:  # S3 hop, same attempt
                                    resp2 = session.get(
                                        target, timeout=timeout_s, headers=headers
                                    )
                                    status = resp2.status_code
                                    html = resp2.text if status == 200 else None
                                    base = target
                            if status == 200:
                                break
                        except requests.RequestException:
                            status = 0
                        if n < max_attempts:
                            time.sleep(wait_s)
                    statuses.append(status)
                    htmls.append(html)
                    links.append(
                        extract_links_py(html, base, max_links)
                        if status == 200
                        else []
                    )
                    attempts.append(n)
                out = pdf[cols].copy()
                out["status"] = statuses
                out["html"] = htmls
                out["out_links"] = links
                out["attempts"] = attempts
                yield out

        return eligible.mapInPandas(run, schema=out_schema)
