"""Ranked retrieval over the crawled corpus: BM25 top-K and per-document
TF-IDF term profiles.

A training-data pipeline keeps a searchable view of its corpus for
contamination audits, curation spot-checks and eval-set mining ("which
documents score highest for this benchmark prompt?").  Both operators
here are pure DataFrame compositions — no Python in the hot path — and
both are sized for the 100 TB regime:

  * the query set is tiny (human-issued queries / benchmark probes), so
    it is BROADCAST and the corpus postings are pruned to query terms
    with a broadcast semi-join BEFORE any shuffle: only the matched
    postings (|terms| * df rows, not |corpus| rows) ever move;
  * per-query top-K uses the same two-stage salted pre-cap as the
    politeness scheduler (operators/scheduling.py) and the inverted
    index (operators/postings.py), so a query matching 10^9 documents
    never funnels them through one window task;
  * document lengths and the global avgdl are one map-side-combined
    aggregate each; avgdl is the division of two exact BIGINTs, so the
    double is bit-identical in Spark and DuckDB.

Cross-engine determinism (the oracle-hash contract): each per-(term,doc)
partial score is rounded to 6 dp and scaled to an integer BEFORE the
per-document sum, so the aggregation is an exact BIGINT sum — immune to
float summation order on either engine.  Ranking orders by the scaled
integer with doc_id tiebreak, never by a raw double.

BM25 constants are the Lucene/Robertson defaults (k1=1.2, b=0.75,
idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — always positive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textops import words
from ..xhash import md5_64

K1 = 1.2
B = 0.75
TOP_K = 10
PRE_CAP_SALT = 8
SCORE_SCALE = 1_000_000  # 6-dp fixed point for the exact integer sum


def _tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.select(
        "doc_id",
        F.explode(words(text_col)).alias("token"),
    ).filter(F.col("token") != "")


def corpus_stats(docs: DataFrame, text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """(tf, doclen): per-(token, doc) term frequency and per-doc length.

    Both are single map-side-combined aggregates over the exploded
    token stream — the only full-corpus passes in this module.
    """
    w = _tokens(docs, text_col)
    tf = w.groupBy("token", "doc_id").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    doclen = w.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    return tf, doclen


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    k1: float = K1,
    b: float = B,
    top_k: int = TOP_K,
    pre_cap_salt: int = PRE_CAP_SALT,
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-K documents per query.

    ``query_terms`` is (query_id:int, token:string) — KB-scale, always
    broadcast.  Returns (query_id, doc_id, rank, n_terms, score) with
    ``score`` the BM25 sum at 6-dp fixed point and ``rank`` dense 1..K
    ordered by (score DESC, doc_id ASC).
    """
    tf, doclen = corpus_stats(docs, text_col)
    n_docs = docs.select(F.count(F.lit(1)).cast("long").alias("n")).crossJoin(
        doclen.agg(F.sum("dl").cast("long").alias("sum_dl"))
    )
    # Prune the corpus postings to query terms FIRST: broadcast semi-join,
    # so everything downstream is |terms|*df rows.
    terms = query_terms.select("query_id", "token")
    matched = tf.join(
        F.broadcast(terms.select("token").distinct()), "token", "left_semi"
    )
    df_tbl = matched.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))

    scored = (
        matched.join(F.broadcast(df_tbl), "token")
        .join(doclen, "doc_id")
        .join(F.broadcast(terms), "token")
        .crossJoin(F.broadcast(n_docs))
    )
    # avgdl = sum_dl / n : division of two exact BIGINTs → identical double.
    avgdl = F.col("sum_dl") / F.col("n")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    partial = F.round(idf * tf_norm * F.lit(SCORE_SCALE), 0).cast("long")
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.sum(partial).alias("score_scaled"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )

    order = [F.desc("score_scaled"), F.asc("doc_id")]
    pre_w = Window.partitionBy("query_id", "__salt").orderBy(*order)
    survivors = (
        per_doc.withColumn(
            "__salt",
            F.pmod(md5_64(F.col("doc_id").cast("string")), F.lit(pre_cap_salt)).cast(
                "int"
            ),
        )
        .withColumn("__r", F.row_number().over(pre_w))
        .filter(F.col("__r") <= top_k)
        .drop("__salt", "__r")
    )
    final_w = Window.partitionBy("query_id").orderBy(*order)
    return (
        survivors.withColumn("rank", F.row_number().over(final_w))
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id",
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "n_terms",
            (F.col("score_scaled") / F.lit(float(SCORE_SCALE))).alias("score"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    top_k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-K terms by TF-IDF — the corpus's term-profile
    view (used for topic audits and mixture diagnostics).

    idf is rounded to 6 dp and scaled to an integer once per token;
    the ranking key tf * idf_scaled is then an exact BIGINT product, so
    ordering is engine-independent.  Per-doc K is tiny and documents
    are numerous-but-bounded in tokens, so a plain per-doc window is
    fine (the partition is one document's vocabulary, not the corpus).
    """
    tf, _ = corpus_stats(docs, text_col)
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf_scaled = F.round(
        F.log(F.col("n") / F.col("df")) * F.lit(SCORE_SCALE), 0
    ).cast("long")
    scored = (
        tf.join(df_tbl, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("w_scaled", F.col("tf") * idf_scaled)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("w_scaled"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "token",
            "tf",
            "df",
            (F.col("w_scaled") / F.lit(float(SCORE_SCALE))).alias("tfidf"),
        )
    )
