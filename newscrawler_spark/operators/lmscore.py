"""Count-based n-gram language-model scoring (CCNet-style perplexity
filtering).

Web-scale curation pipelines (CCNet, RefinedWeb, FineWeb) score every
document with a small n-gram LM and drop the high-perplexity tail.
This module trains a bigram LM with stupid backoff over the corpus and
scores each document — entirely as DataFrame aggregations and joins, no
Python in the hot path.

Model (stupid backoff, Brants et al. 2007 — the standard web-scale
choice because it needs no discount normalization pass):

    p(w_i | w_{i-1}) = c(w_{i-1}, w_i) / c(w_{i-1})        if bigram seen
                     = ALPHA * c(w_i) / T                   otherwise
    p(w_0)           = c(w_0) / T

100 TB shape: training is two map-side-combined groupBys (unigrams:
|vocab| rows; bigrams: |bigram vocab| rows — large but it IS the model,
and the groupBy partial-aggregates before the shuffle).  Scoring joins
the token stream to the model on token keys — shuffle-partitioned hash
joins on 64-bit-hashable strings; with a pre-trained small LM the two
model tables would be broadcast instead (the join code is identical).

Cross-engine determinism: each per-token log-probability is a double
from ln over ratios of exact BIGINT counts; it is rounded at 6-dp fixed
point to an integer (micro-nats) BEFORE the per-document sum, so the
aggregation is an exact BIGINT sum — order-independent on both engines.
Perplexity is derived from that integer on both sides and rounded to
4 dp.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textops import words

ALPHA = 0.4          # stupid-backoff weight
LOGP_SCALE = 1_000_000  # micro-nats fixed point


def _positioned_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pos, token) with document-order positions."""
    return docs.select(
        "doc_id",
        F.posexplode(words(text_col)).alias("pos", "token"),
    ).filter(F.col("token") != "")


def train_bigram_lm(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(unigrams, bigrams): c(w) with total T attached, and c(w1, w2).

    Bigrams pair ADJACENT tokens within one document only (no
    cross-document pairs) — built with one self-join on
    (doc_id, pos+1), which co-partitions on doc_id.
    """
    toks = _positioned_tokens(docs, text_col)
    unigrams = toks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    nxt = toks.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("token").alias("token2")
    )
    bigrams = (
        toks.join(nxt, ["doc_id", "pos"])
        .groupBy(F.col("token").alias("w1"), F.col("token2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    return unigrams, bigrams


def lm_bigram_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The trained LM as one flat table: (w1, w2, c2, c1_w1) — bigram
    count plus the conditioning unigram count (the two numbers the
    scorer divides)."""
    unigrams, bigrams = train_bigram_lm(docs, text_col)
    return bigrams.join(
        unigrams.select(F.col("token").alias("w1"), F.col("c1").alias("c1_w1")), "w1"
    ).select("w1", "w2", "c2", "c1_w1")


def lm_perplexity(
    docs: DataFrame, alpha: float = ALPHA, text_col: str = "text"
) -> DataFrame:
    """Per-document LM score: (doc_id, n_tokens, n_backoff,
    logprob_scaled, ppl).

    ``logprob_scaled`` is the exact integer sum of 6-dp-rounded
    per-token ln-probabilities (micro-nats); ``ppl`` =
    round(exp(-logprob_scaled / 1e6 / n_tokens), 4).
    ``n_backoff`` counts tokens scored through the unigram backoff —
    a useful curation signal on its own (out-of-distribution text
    backs off constantly).
    """
    toks = _positioned_tokens(docs, text_col)
    unigrams, bigrams = train_bigram_lm(docs, text_col)
    total = unigrams.agg(F.sum("c1").cast("long").alias("t_total"))

    prev = toks.select(
        "doc_id", (F.col("pos") + 1).alias("pos"), F.col("token").alias("prev_token")
    )
    seq = toks.join(prev, ["doc_id", "pos"], "left")
    cur_uni = unigrams.select(F.col("token"), F.col("c1").alias("c1_cur"))
    prev_uni = unigrams.select(
        F.col("token").alias("prev_token"), F.col("c1").alias("c1_prev")
    )
    big = bigrams.select(
        F.col("w1").alias("prev_token"), F.col("w2").alias("token"),
        F.col("c2").alias("c2_pair"),
    )
    joined = (
        seq.join(cur_uni, "token")
        .join(prev_uni, "prev_token", "left")
        .join(big, ["prev_token", "token"], "left")
        .crossJoin(F.broadcast(total))
    )
    uni_logp = F.log(F.col("c1_cur") / F.col("t_total"))
    logp = (
        F.when(F.col("prev_token").isNull(), uni_logp)  # document start
        .when(
            F.col("c2_pair").isNotNull(),
            F.log(F.col("c2_pair") / F.col("c1_prev")),
        )
        .otherwise(F.lit(math.log(alpha)) + uni_logp)
    )
    backoff = (
        F.col("prev_token").isNotNull() & F.col("c2_pair").isNull()
    ).cast("long")
    scaled = F.round(logp * F.lit(LOGP_SCALE), 0).cast("long")
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(backoff).alias("n_backoff"),
        F.sum(scaled).alias("logprob_scaled"),
    )
    ppl = F.round(
        F.exp(-F.col("logprob_scaled") / F.lit(float(LOGP_SCALE)) / F.col("n_tokens")),
        4,
    )
    return per_doc.select(
        "doc_id", "n_tokens", "n_backoff", "logprob_scaled", ppl.alias("ppl")
    )
