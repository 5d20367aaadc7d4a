"""Table schemas for the engine (see SURVEY.md §1, FIXTURES.md).

The docs/spans shape is the authoritative input contract from
BASELINE.json `input_hint`:
  (doc_id:string, spans:array<struct<kind:string,text:string,
                                     media_ref:string,offset:int32>>)

Reference provenance (data model studied, not ported):
  ContentItem  -> span struct        /root/reference/news_crawler/core/models.py:47-52
  NewsMetaInfo -> meta struct        /root/reference/news_crawler/core/models.py:55-61
  NewsItem     -> docs row           /root/reference/news_crawler/core/models.py:64-98
  FetchRequest -> frontier row       /root/reference/news_crawler/core/fetchers.py:11-24
  APIKeyPool   -> budgets table      /root/reference/video_crawler/pixabay/common/base.py:13-79
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Span / document — the canonical output contract
# ---------------------------------------------------------------------------

SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),       # text | image | video
        T.StructField("text", T.StringType(), True),        # payload for text spans
        T.StructField("media_ref", T.StringType(), True),   # URL for image/video spans
        T.StructField("offset", T.IntegerType(), False),    # 0-based document order
    ]
)

META = T.StructType(
    [
        T.StructField("author_name", T.StringType(), True),
        T.StructField("author_url", T.StringType(), True),
        # publish_time stays a string: the reference never parses it to a
        # uniform timestamp (ISO at bbc_news.py:96-97 vs '%Y-%m-%d %H:%M'
        # at wechat_news.py:530-533)
        T.StructField("publish_time", T.StringType(), True),
    ]
)

DOCS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("subtitle", T.StringType(), True),
        T.StructField("news_url", T.StringType(), True),
        T.StructField("platform", T.StringType(), True),
        T.StructField("meta", META, True),
        # lineage (engine-added): which crawl round / partition produced this row
        T.StructField("round", T.IntegerType(), True),
        T.StructField("domain_bucket", T.IntegerType(), True),
        T.StructField("source_seed", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Frontier — the scheduler input/output (one row per candidate fetch)
# ---------------------------------------------------------------------------

# Every column is nullable, as every frontier delta's file declares it:
# a round's next frontier unions the deferred rows (read back from a
# file, so nullable) with out-links (an exploded array, so `url` too).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("domain", T.StringType(), True),
        T.StructField("priority", T.IntegerType(), True),  # lower = sooner
        T.StructField("depth", T.IntegerType(), True),     # 0 for seeds
        T.StructField("seq", T.LongType(), True),          # deterministic tie-break
        T.StructField("round_added", T.IntegerType(), True),
        T.StructField("attempt", T.IntegerType(), True),   # retry counter (<=3)
        T.StructField("source_seed", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Synthetic web (offline fetch oracle) — FIXTURES.md §3
# ---------------------------------------------------------------------------

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("html", T.StringType(), True),
        T.StructField("out_links", T.ArrayType(T.StringType()), True),
    ]
)

# ---------------------------------------------------------------------------
# Round log + bloom sidecar
# ---------------------------------------------------------------------------

# The crawl's per-round log: seen, order and quarantine rows in one delta,
# partitioned by `kind` (catalog.ROUND_LOG_VIEWS names the three views).
# A row of one kind leaves the other kinds' columns NULL.  `kind` is last:
# it is the partition column, so its values come from the directory names.
ROUND_LOG = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("canonical_url", T.StringType(), True),
        T.StructField("url_hash", T.LongType(), True),      # xxhash64(canonical)
        T.StructField("bucket", T.IntegerType(), True),     # pmod(hash, n_buckets)
        T.StructField("domain", T.StringType(), True),
        T.StructField("rank", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("attempt", T.IntegerType(), True),
        T.StructField("kind", T.StringType(), True),        # seen | order | quarantine
    ]
)

BLOOM = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("bitset", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
    ]
)

# cuckoo-filter sidecar (operators/cuckoo.py — the north star's other
# URL-seen filter kind; same per-bucket layout as BLOOM)
CUCKOO = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("table", T.BinaryType(), False),
        T.StructField("n_rows", T.IntegerType(), False),
        T.StructField("stash", T.ArrayType(T.LongType()), True),
        T.StructField("n_items", T.LongType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Politeness state — budgets & robots (FIXTURES.md §5)
# ---------------------------------------------------------------------------

BUDGETS = T.StructType(
    [
        T.StructField("domain", T.StringType(), False),
        T.StructField("capacity", T.IntegerType(), False),   # fetches per round
        T.StructField("window_s", T.IntegerType(), True),
        T.StructField("reset_ts", T.DoubleType(), True),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("domain", T.StringType(), False),
        T.StructField("path_prefix", T.StringType(), False),
        T.StructField("allow", T.BooleanType(), False),
        T.StructField("crawl_delay_s", T.DoubleType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Per-round counters and budget accounting (§3.3, A3-A4)
# ---------------------------------------------------------------------------

# The driver writes these two deltas with pyarrow (budget_state falls back
# to a Spark write in big rounds), and their files declare every column
# optional: budget_state's capacity and remaining are NULL for an
# unbounded domain.
METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), True),
        T.StructField("scheduled", T.LongType(), True),
        T.StructField("docs", T.LongType(), True),
        T.StructField("quarantined", T.LongType(), True),
        T.StructField("new_seen", T.LongType(), True),
        T.StructField("frontier_next", T.LongType(), True),
    ]
)

BUDGET_STATE = T.StructType(
    [
        T.StructField("domain", T.StringType(), True),
        T.StructField("capacity", T.IntegerType(), True),   # NULL = unbounded
        T.StructField("window_s", T.IntegerType(), True),
        T.StructField("used", T.LongType(), True),
        T.StructField("remaining", T.LongType(), True),     # NULL when capacity is
        T.StructField("reset_ts", T.DoubleType(), True),
    ]
)

# the crawl tables above by name: Catalog.read_delta reads a delta with these
TABLES: dict[str, T.StructType] = {
    "frontier": FRONTIER,
    "round_log": ROUND_LOG,
    "docs": DOCS,
    "bloom": BLOOM,
    "metrics": METRICS,
    "budget_state": BUDGET_STATE,
    "budgets": BUDGETS,
}
