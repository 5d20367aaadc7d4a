"""Tests for the training-data pipeline operators (dedup family,
similarity search, text analysis, multimodal plumbing, event windows).

The driver's oracle harness already checks these against DuckDB on the
real sf tables; here we test the *semantics* on crafted inputs where
the right answer is known by construction (near-dups are planted, LSH
recall is measured against the exact top-k, etc.)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newscrawler_spark.functions import textops as TX
from newscrawler_spark.functions.markdown import render_markdown
from newscrawler_spark.operators import dedup as DD
from newscrawler_spark.operators import similarity as SIM
from newscrawler_spark.operators.events import sessionize
from newscrawler_spark.operators.multimodal import decode_media, decode_fake


BASE = (
    "the quick brown fox jumps over the lazy dog while a crawler "
    "collects interleaved spans of text and media for a corpus"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("lazy dog", "sleepy cat")),  # near-dup of 0
        (3, "completely different content about spark query planning and shuffles"),
        (4, "short text"),
        (5, BASE + " with a small suffix appended at the end of the document"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    out = DD.exact_dedup(docs).collect()
    by_fp = {r.fingerprint: r for r in out}
    assert len(out) == 5  # 6 docs, one exact-dup pair
    dup = [r for r in out if r.dup_count == 2]
    assert len(dup) == 1 and dup[0].doc_id == 0  # min id wins


def test_jaccard_pairs_finds_planted_neardups(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in DD.jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0      # exact dup
    assert (0, 2) in pairs and 0.5 < pairs[(0, 2)] < 1.0  # near dup
    assert not any({a, b} == {0, 3} for a, b in pairs)    # unrelated


def test_jaccard_df_cutoff_drops_hot_shingles_and_matches_oracle(spark):
    """Exercise the hot-shingle cutoff path itself (df_cutoff=2 on a
    corpus whose planted shingle has df=4): pairs whose ONLY shared
    shingle is hot disappear, surviving pairs keep EXACT jaccard over
    the full sets, and Spark == DuckDB with the same cutoff."""
    import duckdb
    import pandas as pd

    from newscrawler_spark.queries import sql_jaccard_pairs

    rows = [
        (1, "x y z a b"),   # shingles: "x y z"(hot), "y z a", "z a b"
        (2, "x y z a c"),   # shares hot + "y z a" with doc 1
        (3, "x y z d e"),   # shares ONLY the hot shingle with 1/2/4
        (4, "x y z f g"),
        (5, "p q r s t"),   # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    msgs: list[str] = []
    got = DD.jaccard_pairs(
        docs, k=3, threshold=0.2, df_cutoff=2, log_fn=msgs.append
    ).collect()
    # "x y z" has df=4 > 2 → dropped; the drop is REPORTED via log_fn
    assert msgs and "1 hot shingles" in msgs[0]
    # only (1,2) still shares a non-hot shingle ("y z a"); its jaccard is
    # exact over the FULL sets: common={"x y z","y z a"}=2, sizes 3/3
    assert {(r.doc_a, r.doc_b) for r in got} == {(1, 2)}
    assert got[0].common == 2 and got[0].size_a == 3 and got[0].size_b == 3
    assert got[0].jaccard == 2 / 4

    # DuckDB oracle with the SAME cutoff formatted in — full-row equality
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracle = con.execute(sql_jaccard_pairs(df_cutoff=2, threshold=0.2)).fetchall()
    spark_rows = sorted(
        (r.doc_a, r.doc_b, r.common, r.size_a, r.size_b, r.jaccard) for r in got
    )
    assert spark_rows == sorted(oracle)

    # with the default (never-biting) cutoff the hot-only pairs reappear
    wide = {
        (r.doc_a, r.doc_b)
        for r in DD.jaccard_pairs(docs, k=3, threshold=0.2).collect()
    }
    assert {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)} <= wide


def test_minhash_lsh_agrees_with_exact_jaccard(docs):
    exact = {(r.doc_a, r.doc_b) for r in DD.jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in DD.minhash_lsh_dedup(docs, threshold=0.5).collect()}
    # LSH candidates are a subset; at jaccard >= 0.8 they must all be found
    strong = {(r.doc_a, r.doc_b) for r in DD.jaccard_pairs(docs, threshold=0.8).collect()}
    assert lsh <= exact
    assert strong <= lsh


def test_incremental_neardup_lifecycle(spark, docs):
    """Two batches through the incremental index must see exactly the
    cross-batch matches the one-shot pipeline would find: batch 1
    bootstraps (no history, no matches), its deltas become the history,
    and batch 2's matches equal a signature-agreement recompute over
    the full corpus restricted to cross-batch pairs."""
    b1 = docs.filter(F.col("doc_id") < 3)   # 0, 1, 2: BASE family
    b2 = docs.filter(F.col("doc_id") >= 3)  # 3, 4, 5: one near-dup (5 vs 0/1)

    r1 = DD.incremental_neardup(b1, None, None, min_common=3)
    assert r1["matches"].count() == 0  # bootstrap: empty history
    assert r1["index_delta"].count() == 3 * 8  # 8 bands per doc
    hist_index, hist_sigs = r1["index_delta"], r1["sigs_delta"]

    r2 = DD.incremental_neardup(b2, hist_index, hist_sigs, min_common=3)
    got = {(r.doc_id, r.dup_of): r.n_common for r in r2["matches"].collect()}
    # doc 5 (BASE + suffix) must match both exact-BASE docs 0 and 1
    # with identical agreement; 3 and 4 match nothing
    assert (5, 0) in got and (5, 1) in got
    assert got[(5, 0)] == got[(5, 1)] >= 3
    assert all(d == 5 for d, _ in got)

    # equivalence: one-shot signatures over the whole corpus, candidate
    # = shares a band across the batch split, same agreement count
    sigs = DD.minhash_signatures(docs)
    bands = DD.signature_bands(sigs)
    new_b = bands.filter(F.col("doc_id") >= 3)
    old_b = bands.withColumnRenamed("doc_id", "dup_of").filter(F.col("dup_of") < 3)
    cands = new_b.join(old_b, ["band", "key"]).select("doc_id", "dup_of").distinct()
    sn = sigs.select("doc_id", *[F.col(f"h{j}").alias(f"na{j}") for j in range(16)])
    so = sigs.select(
        F.col("doc_id").alias("dup_of"),
        *[F.col(f"h{j}").alias(f"ob{j}") for j in range(16)],
    )
    agree = sum(
        F.when(F.col(f"na{j}") == F.col(f"ob{j}"), 1).otherwise(0)
        for j in range(16)
    )
    want = {
        (r.doc_id, r.dup_of): r.n_common
        for r in cands.join(sn, "doc_id").join(so, "dup_of")
        .select("doc_id", "dup_of", agree.alias("n_common"))
        .filter(F.col("n_common") >= 3)
        .collect()
    }
    assert got == want


def test_incremental_neardup_bucket_cap_skips_boilerplate_buckets(spark):
    """On a template-heavy corpus (every doc = shared boilerplate + a
    few doc-specific words) the minhash minima land on boilerplate
    shingles, every historical doc piles into the same band buckets,
    and the uncapped probe degenerates into an all-pairs join.  The
    hot-bucket cutoff must (a) drop those over-full buckets — capped
    matches strictly fewer than uncapped — and (b) leave the probe's
    non-hot buckets untouched: capped output == uncapped output minus
    pairs whose every shared bucket is hot."""
    boiler = (
        "shared template sentence one that every article repeats verbatim "
        "shared template sentence two that every article also repeats "
        "shared template sentence three padding the boilerplate run"
    )
    rows = [(i, f"{boiler} unique token{i} tail{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    hsig = DD.minhash_signatures(hist)
    hidx = DD.signature_bands(hsig)

    uncapped = DD.incremental_neardup(batch, hidx, hsig, min_common=3)[
        "matches"
    ]
    capped = DD.incremental_neardup(
        batch, hidx, hsig, min_common=3, bucket_cap=3
    )["matches"]
    n_uncapped, n_capped = uncapped.count(), capped.count()
    # the boilerplate corpus must actually exhibit the pathology the
    # cap targets, and the cap must bite
    assert n_uncapped > 0
    assert n_capped < n_uncapped

    # equivalence on the surviving buckets: recompute which (band, key)
    # buckets are hot and check capped == uncapped restricted to pairs
    # sharing at least one non-hot bucket
    hot = {
        (r.band, r.key)
        for r in hidx.groupBy("band", "key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 3)
        .collect()
    }
    bsig = DD.minhash_signatures(batch)
    bidx = DD.signature_bands(bsig)
    new_buckets = {}
    for r in bidx.collect():
        new_buckets.setdefault(r.doc_id, set()).add((r.band, r.key))
    old_buckets = {}
    for r in hidx.collect():
        old_buckets.setdefault(r.doc_id, set()).add((r.band, r.key))
    want = {
        (a.doc_id, a.dup_of)
        for a in uncapped.collect()
        if (new_buckets[a.doc_id] & old_buckets[a.dup_of]) - hot
    }
    got = {(r.doc_id, r.dup_of) for r in capped.collect()}
    assert got == want


def test_simhash_pairs_low_hamming_for_neardups(docs):
    t = {r.doc_id: r.simhash for r in DD.simhash_table(docs).collect()}
    assert t[0] == t[1]  # identical text -> identical simhash
    ham02 = bin(t[0] ^ t[2]).count("1")
    ham03 = bin(t[0] ^ t[3]).count("1")
    assert ham02 < ham03  # near-dup closer than unrelated
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in DD.simhash_pairs(docs, max_hamming=3).collect()}
    assert pairs.get((0, 1)) == 0


def test_lsh_ann_recall_vs_exact(spark):
    import math

    # deterministic pseudo-random 16-dim vectors
    n, dim = 400, 16
    rows = []
    for i in range(n):
        vec = [math.sin(i * 31 + d * 7) for d in range(dim)]
        rows.append((i, vec, i % 4))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = SIM.brute_force_topk(emb, queries, k=10)
    approx = SIM.lsh_topk(emb, queries, dim=dim, k=10, n_planes=6)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"
    # exact top-1 must be symmetric-rank-consistent: rank 1 has max cosine
    top = exact.filter(F.col("rank") == 1).collect()
    assert len(top) == 5


def test_ivf_ann_recall_vs_exact(spark):
    import math

    n, dim = 400, 16
    rows = []
    for i in range(n):
        vec = [math.sin(i * 31 + d * 7) for d in range(dim)]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = SIM.brute_force_topk(emb, queries, k=10)
    approx = SIM.ivf_topk(emb, queries, dim=dim, k=10, n_centroids=8, n_probe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # every emitted pair's cosine matches the exact computation
    ex = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in ex:
            assert ex[(r.query_id, r.neighbor_id)] == r.cosine


def test_dup_clusters_components(spark):
    """Hand graph: {1,2,3} chained, {4,5} paired, {6} singleton →
    cluster id = min member, sizes correct."""
    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: (r.cluster_id, r.cluster_size)
           for r in DD.dup_clusters(docs, pairs).collect()}
    assert out == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        4: (4, 2), 5: (4, 2), 6: (6, 1),
    }


def test_dup_clusters_one_job_per_iteration(spark):
    """The convergence check rides the checkpoint job as an Observation
    (round-3 verdict item 3): a chain of diameter d must cost ~d jobs,
    not 2d — guard against the old-vs-new join+count() creeping back."""
    sc = spark.sparkContext
    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    # one chain 0-1-2-3: synchronous min-label propagation moves labels
    # one hop per iteration → 3 changed iterations + 1 fixpoint confirm
    # = 4 checkpoint jobs, plus the final sizes/collect action
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(3)], "doc_a long, doc_b long"
    )
    sc.setJobGroup("dupjobs", "dup_clusters job-count guard")
    try:
        out = {r.doc_id: r.cluster_id for r in DD.dup_clusters(docs, pairs).collect()}
    finally:
        sc.setJobGroup(None, None)
    assert out == {i: 0 for i in range(4)}
    tracker = sc.statusTracker()
    n_jobs = len(tracker.getJobIdsForGroup("dupjobs"))
    # one blocking action per iteration (the eager checkpoint, whose
    # AQE stage materializations each count as a "job" here) + the
    # final sizes/collect: measured 32 under AQE.  The pre-fix shape
    # (separate old-vs-new join + count() action per iteration)
    # measured 52 on the identical graph/session — the bound sits
    # between the two to catch the second action creeping back.
    assert n_jobs <= 40, f"{n_jobs} jobs — convergence check runs extra jobs"


def test_textops_quality_and_langid(spark):
    rows = [
        (0, "the cat sat on the mat and the dog ran to the park with a ball"),
        (1, "der hund ist nicht ein kater und das haus ist nicht klein"),
        (2, "!!! ??? *** ### $$$"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in df.select(
        "doc_id",
        TX.langid("text").alias("lang"),
        TX.quality_score("text").alias("q"),
        TX.token_count_ws("text").alias("nt"),
    ).collect()}
    assert out[0].lang == "en" and out[0].q == 1.0
    assert out[1].lang == "de"
    assert out[2].lang == "und" and out[2].q < 0.5
    assert out[0].nt == 16


def test_rolling_fingerprint_shift_invariance(spark):
    # same 5-gram window set → same winnowing fingerprint even with
    # extra words appended (min over shared shingles usually survives)
    a = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame([(0, a), (1, a + " iota"), (2, "unrelated words entirely here now")],
                               "doc_id long, text string")
    fp = {r.doc_id: r.fp for r in df.select("doc_id", TX.rolling_fingerprint("text").alias("fp")).collect()}
    assert fp[0] == fp[1]  # appended word doesn't change the min shingle hash here
    assert fp[0] != fp[2]


def test_multimodal_decode_plumbing(spark):
    df = spark.createDataFrame([(str(i), f"payload-{i}".encode()) for i in range(10)] + [("e", b"")],
                               "media_id string, payload binary")
    out = {r.media_id: r for r in decode_media(df).collect()}
    assert len(out) == 11
    assert out["e"].ok is False and out["e"].n_bytes == 0
    ref = decode_fake(b"payload-3")
    got = out["3"]
    assert (got.n_bytes, got.format, got.width, got.height) == (
        ref["n_bytes"], ref["format"], ref["width"], ref["height"])
    assert all(64 <= r.width < 1920 for r in out.values() if r.ok)


def test_multimodal_feature_and_resize_plumbing(spark):
    from newscrawler_spark.operators.multimodal import (
        FEATURE_DIM,
        _feat_val,
        extract_features,
        resize_media,
    )

    df = spark.createDataFrame(
        [("a", b"img-bytes-a"), ("b", b"img-bytes-b"), ("e", b"")],
        "media_id string, payload binary",
    )
    feats = {r.media_id: r.features for r in extract_features(df).collect()}
    assert feats["e"] is None  # empty payload -> no vector
    assert len(feats["a"]) == FEATURE_DIM
    assert all(-1.0 <= v <= 1.0 for v in feats["a"])
    assert feats["a"] != feats["b"]
    assert feats["a"][3] == _feat_val(b"img-bytes-a", 3)  # deterministic

    sized = df.withColumn("target_w", F.lit(64)).withColumn("target_h", F.lit(32))
    out = {r.media_id: r for r in resize_media(sized).collect()}
    assert out["e"].n_bytes == 0 and bytes(out["e"].payload) == b""
    want_n = 32 + (64 * 32) // 64
    assert out["a"].n_bytes == want_n == len(bytes(out["a"].payload))
    assert (out["a"].width, out["a"].height) == (64, 32)
    assert bytes(out["a"].payload) != bytes(out["b"].payload)


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 10:00:00", 7, "a", 1.0, "{}"),
        (2, "2024-01-01 10:10:00", 7, "a", 1.0, "{}"),   # same session
        (3, "2024-01-01 11:30:00", 7, "a", 1.0, "{}"),   # gap > 30min -> new
        (4, "2024-01-01 10:05:00", 8, "a", 1.0, "{}"),   # other user
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts string, user_id long, event_type string, value double, props string") \
              .withColumn("ts", F.to_timestamp("ts"))
    out = {(r.user_id, r.session_id): r.n_events for r in sessionize(ev).collect()}
    assert out == {(7, 1): 2, (7, 2): 1, (8, 1): 1}


def test_markdown_render(spark):
    spans = [
        {"kind": "text", "text": "Hello world.", "media_ref": "", "offset": 0},
        {"kind": "image", "text": "", "media_ref": "https://img.cc/x.jpg", "offset": 1},
        {"kind": "video", "text": "", "media_ref": "https://v.cc/y.mp4", "offset": 2},
    ]
    df = spark.createDataFrame(
        [("d1", "T", spans)],
        "doc_id string, title string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    md = df.select(render_markdown("title", "spans").alias("md")).head().md
    assert md == "# T\n\nHello world.\n\n![图片](https://img.cc/x.jpg)\n\n[🎬 视频](https://v.cc/y.mp4)"


def test_flat_projections_and_fetch_config(spark):
    from newscrawler_spark.operators.projections import (
        platform_config_df,
        with_fetch_config,
        with_flat_projections,
    )

    spans = [
        {"kind": "text", "text": "a", "media_ref": "", "offset": 0},
        {"kind": "image", "text": "", "media_ref": "i1", "offset": 1},
        {"kind": "text", "text": "b", "media_ref": "", "offset": 2},
        {"kind": "video", "text": "", "media_ref": "v1", "offset": 3},
    ]
    docs = spark.createDataFrame(
        [("d", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    row = with_flat_projections(docs).head()
    assert row.texts == ["a", "b"] and row.images == ["i1"] and row.videos == ["v1"]

    frontier = spark.createDataFrame(
        [("https://mp.weixin.qq.com/s/SSGx", "wechat"), ("https://x.test/a", None)],
        "url string, platform string",
    )
    cfg = with_fetch_config(frontier, platform_config_df(spark)).collect()
    by_url = {r.url: r for r in cfg}
    assert by_url["https://mp.weixin.qq.com/s/SSGx"].impersonate == "chrome"
    assert by_url["https://x.test/a"].impersonate == "requests"
    assert by_url["https://x.test/a"].headers["User-Agent"] == "Mozilla/5.0"


def test_header_bootstrap_ttl_and_merge(spark):
    """S4: TTL-gated per-host refresh at round boundaries (the engine's
    twin of the reference's 600 s browser-header cache,
    playwright_driver.py:26-87) and right-biased header merge."""
    from newscrawler_spark.operators.projections import (
        HeaderBootstrap,
        platform_config_df,
        with_fetch_config,
    )

    calls: list[tuple[str, int]] = []

    def provider(host):
        calls.append(host)
        return {"Cookie": f"c-{host}", "User-Agent": f"boot-{host}"}

    hb = HeaderBootstrap(provider, ttl_rounds=10)
    hosts = ["mp.weixin.qq.com", "x.test"]
    hb.refresh(hosts, 0)
    assert sorted(calls) == sorted(hosts)          # initial bootstrap
    hb.refresh(hosts, 5)
    assert len(calls) == 2                         # within TTL: no refetch
    hb.refresh(hosts, 10)
    assert len(calls) == 4                         # TTL expiry: refetched

    frontier = spark.createDataFrame(
        [
            ("https://mp.weixin.qq.com/s/SSGx", "mp.weixin.qq.com", "wechat"),
            ("https://other.test/a", "other.test", None),
        ],
        "url string, domain string, platform string",
    )
    rows = with_fetch_config(
        frontier, platform_config_df(spark), hb.config_df(spark)
    ).collect()
    by_url = {r.url: r for r in rows}
    boot = by_url["https://mp.weixin.qq.com/s/SSGx"].headers
    assert boot["Cookie"] == "c-mp.weixin.qq.com"          # bootstrapped
    assert boot["User-Agent"] == "boot-mp.weixin.qq.com"   # override wins
    assert boot["Accept-Language"] == "en-US,en;q=0.9"     # default kept
    plain = by_url["https://other.test/a"].headers
    assert plain["User-Agent"] == "Mozilla/5.0" and "Cookie" not in plain


def test_header_bootstrap_covers_mid_crawl_hosts(spark, tmp_path):
    """S4 scope: crawl() must bootstrap hosts discovered via out-links,
    not only the budgeted seed domains (the reference bootstraps per
    VISITED host, playwright_driver.py:26-58)."""
    from newscrawler_spark.operators.projections import HeaderBootstrap
    from newscrawler_spark.plans.crawl_round import RoundConfig
    from newscrawler_spark.plans.scheduler import crawl, seed_frontier
    from newscrawler_spark.sources.catalog import Catalog
    from newscrawler_spark.sources.fetch import FixtureFetcher

    seed = "https://www.toutiao.com/article/7100000000000000001/"
    hop = "https://www.bbc.com/news/articles/c0000000001o"
    pages = spark.createDataFrame(
        [
            (seed, 200, f'<html><a href="{hop}">x</a></html>', [hop]),
            (hop, 200, "<html></html>", []),
        ],
        "url string, status int, html string, out_links array<string>",
    )
    from newscrawler_spark import schema

    frontier = spark.createDataFrame(
        [(seed, "www.toutiao.com", 0, 0, 0, 0, 0, seed)], schema.FRONTIER
    )
    budgets = spark.createDataFrame(
        [("www.toutiao.com", 10, 60, None)], schema.BUDGETS
    )
    robots = spark.createDataFrame([], schema.ROBOTS)

    seen_hosts: set[str] = set()

    def provider(host):
        seen_hosts.add(host)
        return {"Cookie": f"c-{host}"}

    cat = Catalog(str(tmp_path / "cat"))
    seed_frontier(cat, frontier)
    with FixtureFetcher(pages) as f:
        crawl(
            spark, cat, f, budgets, robots, max_rounds=2,
            conf=RoundConfig(n_partitions=2, n_buckets=4, m_bits=1 << 12),
            header_bootstrap=HeaderBootstrap(provider, ttl_rounds=10),
        )
    assert "www.toutiao.com" in seen_hosts      # budgeted seed host
    assert "www.bbc.com" in seen_hosts          # discovered mid-crawl


def test_header_bootstrap_bounds_budget_hosts(spark, tmp_path):
    """The budgeted hosts the driver collects for bootstrapping are
    bounded by max_hosts_per_round (first by domain), like the round's
    own frontier hosts."""
    from newscrawler_spark import schema
    from newscrawler_spark.operators.projections import HeaderBootstrap
    from newscrawler_spark.plans.crawl_round import RoundConfig
    from newscrawler_spark.plans.scheduler import crawl, seed_frontier
    from newscrawler_spark.sources.catalog import Catalog
    from newscrawler_spark.sources.fetch import FixtureFetcher

    seed = "https://www.toutiao.com/article/7100000000000000001/"
    pages = spark.createDataFrame(
        [(seed, 200, "<html></html>", [])],
        "url string, status int, html string, out_links array<string>",
    )
    frontier = spark.createDataFrame(
        [(seed, "www.toutiao.com", 0, 0, 0, 0, 0, seed)], schema.FRONTIER
    )
    budget_hosts = [f"b{i:02d}.example" for i in range(50)]
    budgets = spark.createDataFrame(
        [(h, 10, 60, None) for h in reversed(budget_hosts)], schema.BUDGETS
    )
    robots = spark.createDataFrame([], schema.ROBOTS)

    refreshed: list[list[str]] = []

    class Recording(HeaderBootstrap):
        def refresh(self, hosts, round_no):
            refreshed.append(list(hosts))
            super().refresh(hosts, round_no)

    cat = Catalog(str(tmp_path / "cat"))
    seed_frontier(cat, frontier)
    with FixtureFetcher(pages, corpus_partitions=2) as f:
        crawl(
            spark, cat, f, budgets, robots, max_rounds=1,
            conf=RoundConfig(n_partitions=2, n_buckets=4, m_bits=1 << 12),
            header_bootstrap=Recording(
                lambda h: {"Cookie": h}, ttl_rounds=10, max_hosts_per_round=5
            ),
        )
    assert refreshed, "crawl never refreshed the bootstrap"
    extra = set(refreshed[0]) - {"www.toutiao.com"}
    assert extra == set(budget_hosts[:5])


def test_phash_and_generic_hamming_pairs(spark):
    """Media near-dup plumbing: sign-quantized phash bits come out in
    position, and the generic pigeonhole join finds exactly the pairs
    within the hamming budget."""
    from newscrawler_spark.operators.dedup import hamming_pairs
    from newscrawler_spark.operators.multimodal import phash_from_features

    feats = spark.createDataFrame(
        [
            ("a", [1.0, -1.0, 1.0, -1.0]),   # 0b0101 = 5
            ("b", [1.0, -1.0, 1.0, 1.0]),    # 0b1101 = 13 — hamming 1 to a
            ("c", [-1.0, 1.0, -1.0, 1.0]),   # 0b1010 = 10 — hamming 4 to a
            ("d", None),                      # undecodable → dropped
        ],
        "media_id STRING, features ARRAY<DOUBLE>",
    )
    ph = {r.media_id: r.phash for r in
          phash_from_features(feats, dim=4).collect()}
    assert ph == {"a": 5, "b": 13, "c": 10}
    pairs = hamming_pairs(
        phash_from_features(feats, dim=4), "media_id", "phash",
        bits=4, max_hamming=2, n_blocks=4, out_cols=("media_a", "media_b"),
    ).collect()
    got = {(r.media_a, r.media_b): r.hamming for r in pairs}
    assert got == {("a", "b"): 1}  # c is hamming 4/3 away from a/b → excluded


def test_phash_dim64_sign_bit(spark):
    """The advertised production path dim=64 must work: bit 63 lands in
    the long's sign bit (shiftleft assembly — a 2**63 literal would
    overflow Java long; round-4 ADVICE repro)."""
    from newscrawler_spark.operators.multimodal import phash_from_features

    hi = [1.0] * 64                     # all bits set → -1 as signed 64-bit
    lo = [-1.0] * 63 + [1.0]            # only bit 63 → long min value
    feats = spark.createDataFrame(
        [("hi", hi), ("lo", lo)], "media_id STRING, features ARRAY<DOUBLE>"
    )
    ph = {r.media_id: r.phash for r in
          phash_from_features(feats, dim=64).collect()}
    assert ph == {"hi": -1, "lo": -(1 << 63)}


def test_ivf_cells_sizing_rule():
    """n_cells ~ sqrt(n * n_probe), power-of-two, clamped: per-query
    candidate work stays O(sqrt(n)) instead of O(n) at a fixed cell
    count (round-5 scale-parameter family, with clustering.derive_k)."""
    from newscrawler_spark.operators import similarity as SIM

    assert SIM.ivf_cells_for(0) == 4
    assert SIM.ivf_cells_for(100, n_probe=1) == 16       # sqrt(100)=10 -> 16
    assert SIM.ivf_cells_for(10**6, n_probe=4) == 2048   # sqrt(4e6)=2000
    assert SIM.ivf_cells_for(10**9, n_probe=4) == 65536
    assert SIM.ivf_cells_for(10**12, n_probe=4) == 1 << 20  # c_max clamp
    # candidate-work bound: n / cells <= sqrt(n*probe) for the chosen cells
    for n in (10**4, 10**6, 10**9):
        cells = SIM.ivf_cells_for(n)
        assert n / cells <= (n * 4) ** 0.5
