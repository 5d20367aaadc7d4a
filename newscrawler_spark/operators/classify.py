"""Hashed-feature linear classifier inference (fastText-style quality
scoring).

The workhorse quality gate in web-corpus pipelines (CCNet, FineWeb-Edu,
Llama/GPT data work) is a linear classifier over hashed bag-of-words
features, trained offline and applied to every document at ingest.
Training happens elsewhere; what the 100 TB engine must do WELL is
inference: score 10^10 documents without leaving the JVM.

This operator scores documents against a weight table keyed by hashed
token id:

    score = ( sum_i w(token_i) ) / n_tokens          w in milli-units
    label = score > threshold

100 TB shape: the model is |vocab|-bounded (hashing caps it at
``n_buckets``) → KB-to-MB scale → BROADCAST; scoring is explode →
broadcast-join → map-side-combined groupBy(doc).  No Python, no
per-row UDF, one shuffle (the per-doc sum).

Determinism: weights are integer milli-units, so the per-document sum
is an exact BIGINT — engine-independent.  The demo weight table derives
each bucket's weight from md5_64 (a fixed pseudo-model); production
swaps in a real trained table with the same (bucket, w_milli) schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textops import words
from ..xhash import md5_64

N_BUCKETS = 4096      # hashed feature space (fastText default 2M; demo small)
W_SPAN = 2001         # weights in [-1000, 1000] milli-units
THRESHOLD_MILLI = 0   # score > 0 → keep


def hashed_weights(spark_range_df: DataFrame) -> DataFrame:
    """Deterministic pseudo-model: one row per feature bucket with
    w_milli = (md5_64("w:" || bucket) mod 2001) - 1000.

    ``spark_range_df`` is ``spark.range(N_BUCKETS)`` — passed in so the
    operator stays session-free.  A real model replaces this table.
    """
    return spark_range_df.select(
        F.col("id").cast("int").alias("bucket"),
        (
            F.pmod(md5_64(F.concat(F.lit("w:"), F.col("id").cast("string"))),
                   F.lit(W_SPAN))
            - F.lit((W_SPAN - 1) // 2)
        ).cast("long").alias("w_milli"),
    )


def classify_docs(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = N_BUCKETS,
    threshold_milli: int = THRESHOLD_MILLI,
    text_col: str = "text",
) -> DataFrame:
    """Score every document: (doc_id, n_tokens, score_milli_sum, score,
    label).  ``score`` = mean token weight in units (one IEEE division
    of exact BIGINTs — bit-identical cross-engine), ``label`` = score_milli_sum >
    threshold_milli * n_tokens (exact integer compare — no float in the
    decision).
    """
    toks = docs.select(
        "doc_id",
        F.explode(words(text_col)).alias("token"),
    ).filter(F.col("token") != "")
    bucket = F.pmod(
        md5_64(F.concat(F.lit("f:"), F.col("token"))), F.lit(n_buckets)
    ).cast("int")
    scored = toks.withColumn("bucket", bucket).join(F.broadcast(weights), "bucket")
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("w_milli").alias("score_milli_sum"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "score_milli_sum",
        # one IEEE division of exact integers — bit-identical cross-engine,
        # no rounding (rounding would sit ON half-ulp boundaries here)
        (F.col("score_milli_sum") / (F.col("n_tokens") * F.lit(1000.0))).alias(
            "score"
        ),
        (
            F.col("score_milli_sum") > F.lit(threshold_milli) * F.col("n_tokens")
        ).alias("label"),
    )


def hashed_doc_embedding(
    docs: DataFrame,
    dim: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Deterministic hashed bag-of-words document embeddings — the
    feature-hashing trick (Weinberger et al. 2009) as a dense
    projection: component d of a document is the mean over its tokens
    of w(token, d) = (md5_64("e:d:token") mod 2001 - 1000) / 1000.

    This is the bridge from the text corpus to every vector operator
    (ANN, k-means, SemDeDup, embedding decontamination) when no model
    embeddings exist yet: per-component sums are exact BIGINTs
    (engine- and partitioning-independent), and each component is one
    IEEE division at the end.  Scale: explode → ONE map-side-combined
    groupBy with dim+1 aggregates — a single shuffle of |docs| x
    (dim+1) integers, no Python, no joins.

    Returns (doc_id, n_tokens, embedding: array<double>).
    """
    toks = docs.select(
        "doc_id",
        F.explode(words(text_col)).alias("token"),
    ).filter(F.col("token") != "")
    w_cols = [
        (
            F.pmod(
                md5_64(F.concat(F.lit(f"e:{d}:"), F.col("token"))), F.lit(W_SPAN)
            )
            - F.lit((W_SPAN - 1) // 2)
        ).alias(f"w{d}")
        for d in range(dim)
    ]
    per_tok = toks.select("doc_id", *w_cols)
    agg = per_tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        *[F.sum(f"w{d}").cast("long").alias(f"s{d}") for d in range(dim)],
    )
    emb = F.array(
        *[
            F.col(f"s{d}") / (F.col("n_tokens") * F.lit(1000.0))
            for d in range(dim)
        ]
    )
    return agg.select("doc_id", "n_tokens", emb.alias("embedding"))
