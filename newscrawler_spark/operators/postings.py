"""Inverted-index build over the crawled corpus: per-token document
postings with exact top-K-by-tf heads.

A training-data pipeline keeps a token→documents index for corpus
search, contamination audits ("which documents contain this benchmark
n-gram?") and frequency diagnostics.  Building one at 100 TB is a
groupBy-shaped problem with one famous skew hazard: ranking a
stopword's posting list ("the" appears in ~every document) through a
single window partition funnels 10^9+ rows into one task.

The build here:
  * token frequencies: ``explode → groupBy(token, doc_id)`` — map-side
    combine collapses within-document repetition before the shuffle;
  * per-token totals (df, tf_total): second map-side-combined
    aggregate, |vocab| output rows;
  * exact top-K documents per token by (tf DESC, doc_id ASC): the same
    two-stage salted pre-cap as the politeness scheduler
    (operators/scheduling.py) — stage 1 ranks within (token, salt)
    shards and keeps only shard-rank ≤ K (a row below any shard's
    top-K cannot be in the global top-K), stage 2 ranks the bounded
    survivor set (≤ salt×K rows per token) exactly.  No token ever
    sorts more than |token|/salt rows in one task.

Output one row per (token, retained doc): (token, df, tf_total, rank,
doc_id, tf) — flat rows rather than list cells so the DuckDB oracle
hash-compares directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textops import words

TOP_K = 5        # posting-list head kept per token
PRE_CAP_SALT = 8  # stage-1 shards per token


def inverted_index(
    docs: DataFrame,
    top_k: int = TOP_K,
    pre_cap_salt: int = PRE_CAP_SALT,
    text_col: str = "text",
) -> DataFrame:
    w = docs.select(
        "doc_id",
        F.explode(words(text_col)).alias("token"),
    ).filter(F.col("token") != "")
    tf = w.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    totals = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
    )

    order = [F.desc("tf"), F.asc("doc_id")]
    pre_w = Window.partitionBy("token", "__salt").orderBy(*order)
    survivors = (
        tf.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(F.col("doc_id").cast("string")), F.lit(pre_cap_salt)
            ).cast("int"),
        )
        .withColumn("__pre_rank", F.row_number().over(pre_w))
        .filter(F.col("__pre_rank") <= top_k)
        .drop("__salt", "__pre_rank")
    )
    final_w = Window.partitionBy("token").orderBy(*order)
    ranked = survivors.withColumn("rank", F.row_number().over(final_w)).filter(
        F.col("rank") <= top_k
    )
    return ranked.join(totals, "token").select(
        "token",
        "df",
        "tf_total",
        F.col("rank").cast("int").alias("rank"),
        "doc_id",
        F.col("tf").cast("long").alias("tf"),
    )
