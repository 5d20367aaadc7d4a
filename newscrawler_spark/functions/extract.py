"""U1/U2 — HTML -> (title, meta, interleaved spans) as ONE vectorized
pandas UDF dispatching to per-platform dialect functions.

Design notes (SURVEY.md §2.10):
  * the reference parses the same HTML 2-3x per document (title, meta,
    contents separately); we parse once and return one struct;
  * per-row failure isolation: a dialect raising ValueError becomes an
    `error` field on that row, never a task failure — mirrors the MCP
    batch contract (/root/reference/news_extractor_mcp/server.py:130-182);
  * Arrow-batched: Python runs per Arrow batch, not per row — the batch
    boundary is what input_hint's "no per-row Python" forbids;
  * span `offset` is assigned here (enumerate) — the reference relies on
    Python list order (W1); Spark arrays need the explicit offset to
    survive shuffles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import platforms as P
from .wechat import parse_wechat

DIALECTS = {
    "toutiao": P.parse_toutiao,
    "netease": P.parse_netease,
    "sohu": P.parse_sohu,
    "tencent": P.parse_tencent,
    "bbc": P.parse_bbc,
    "cnn": P.parse_cnn,
    "detik": P.parse_detik,
    "naver": P.parse_naver,
    "lenny": P.parse_lenny,
    "quora": P.parse_quora,
    "wechat": parse_wechat,
}

EXTRACT_RESULT = T.StructType(
    [
        T.StructField("title", T.StringType(), True),
        T.StructField("subtitle", T.StringType(), True),
        T.StructField("author_name", T.StringType(), True),
        T.StructField("author_url", T.StringType(), True),
        T.StructField("publish_time", T.StringType(), True),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType(), False),
                        T.StructField("text", T.StringType(), True),
                        T.StructField("media_ref", T.StringType(), True),
                        T.StructField("offset", T.IntegerType(), False),
                    ]
                )
            ),
            True,
        ),
        T.StructField("error", T.StringType(), True),
    ]
)


def extract_one(html: str | None, url: str | None, platform: str | None) -> dict:
    """Pure-Python single-document extraction (shared with the simulator)."""
    if not html:
        return {"title": None, "subtitle": None, "author_name": None,
                "author_url": None, "publish_time": None, "spans": None,
                "error": "empty html"}
    fn = DIALECTS.get(platform or "")
    if fn is None:
        return {"title": None, "subtitle": None, "author_name": None,
                "author_url": None, "publish_time": None, "spans": None,
                "error": f"unsupported platform: {platform}"}
    try:
        out = fn(html, url or "")
        spans = [
            {"kind": k, "text": t, "media_ref": r, "offset": i}
            for i, (k, t, r) in enumerate(out["spans"])
        ]
        return {
            "title": out["title"],
            "subtitle": out.get("subtitle"),
            "author_name": out.get("author_name", ""),
            "author_url": out.get("author_url", ""),
            "publish_time": out.get("publish_time", ""),
            "spans": spans,
            "error": None,
        }
    except Exception as exc:  # per-row isolation — never abort the batch
        return {"title": None, "subtitle": None, "author_name": None,
                "author_url": None, "publish_time": None, "spans": None,
                "error": f"{type(exc).__name__}: {exc}"}


@F.pandas_udf(EXTRACT_RESULT)
def extract_udf(html: pd.Series, url: pd.Series, platform: pd.Series) -> pd.DataFrame:
    rows = [extract_one(h, u, p) for h, u, p in zip(html, url, platform)]
    return pd.DataFrame(rows)

