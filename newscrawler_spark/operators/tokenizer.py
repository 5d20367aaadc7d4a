"""Distributed BPE tokenizer training over the crawled corpus.

A pretraining pipeline trains its tokenizer on the same corpus the
crawler produced (reference parallel: NewsCrawler stops at clean
markdown — ``news_extractor_core``'s ``to_markdown`` outputs — and a
training-data consumer's first downstream step is fitting a subword
vocabulary on it).  This module implements classic byte-pair-encoding
merge learning (Sennrich et al. 2016, learned over word-frequency
counts) as Spark-native stages:

  1. **Word-frequency collapse** — the ONLY pass over the corpus.
     ``explode(split(text)) → groupBy(word).count()`` with map-side
     partial aggregation; 100 TB of text reduces to a word-frequency
     table bounded by Heaps' law (~10^7-10^8 rows), which every later
     iteration operates on.  This is what makes distributed BPE
     tractable: merge learning never re-reads the corpus.
  2. **Iterative pair merge** — each round counts adjacent symbol
     pairs weighted by word frequency (one small shuffle over the word
     table), picks the argmax pair deterministically (count DESC,
     lhs ASC, rhs ASC — binary string order on both engines), and
     merges it everywhere with a single JVM literal ``replace``.  The
     driver round-trip per merge is ONE row (the argmax), same
     discipline as ``dedup.dup_clusters``; lineage is cut with
     ``localCheckpoint`` every few merges.
  3. **Encoding** — applying the trained tokenizer to documents is an
     equi-join from exploded words to the final word→symbols table
     (the per-word merge result IS the encoding), i.e. the natural
     shuffle-on-word join a 100 TB encode pass wants; AQE may broadcast
     the vocab side when it is small.

Symbol-sequence representation (cross-engine, pure strings): a word's
symbols are kept as a sentinel string ``|s1||s2||...||sk|`` — every
symbol flanked by its own ``|`` on both sides.  Merging pair (a, b) is
then the literal replace ``|a||b| → |ab|``, which is non-overlapping
left-to-right in Spark, DuckDB and Python alike, reproduces classic
BPE's greedy left-to-right merge within repeated runs (``a a a`` →
``aa a``), and cannot match across symbol boundaries (``xa b`` does
not contain ``|a||b|``).  Words are restricted to printable ASCII
without ``|`` on both engines so char segmentation and ordering are
engine-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from ..functions.textops import words

# Words eligible for tokenizer training: printable ASCII, no '|'
# (the sentinel).  Same predicate in the DuckDB oracles.
WORD_RE = "^[!-~]+$"
N_MERGES = 8          # merge count used by the registry queries
CHECKPOINT_EVERY = 4  # cut iterative lineage after this many merges


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Global word-frequency table — the single corpus-wide pass.

    Map-side combine makes the hot head (stopwords repeated 10^9+
    times at 100 TB) collapse per task before the shuffle, so the
    aggregation is skew-immune.
    """
    w = docs.select(
        F.explode(words(text_col)).alias("word")
    )
    return (
        w.filter((F.col("word") != "") & F.col("word").rlike(WORD_RE)
                 & ~F.col("word").contains("|"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_sentinel() -> F.Column:
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    return F.concat(F.lit("|"), F.array_join(chars, "||"), F.lit("|"))


def _symbols(col: str = "s") -> F.Column:
    return F.split(F.btrim(F.col(col), F.lit("|")), r"\|\|")


def _adjacent_pairs(col: str = "s") -> F.Column:
    syms = _symbols(col)
    sz = F.size(syms)
    empty = F.array().cast("array<struct<lhs:string,rhs:string>>")
    return F.when(
        sz >= 2,
        F.zip_with(
            F.slice(syms, 1, sz - 1),
            F.slice(syms, 2, sz - 1),
            lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
        ),
    ).otherwise(empty)


def _select_batch(
    ranked: list[Row], remaining: int, batch_size: int
) -> list[tuple[str, str, int]]:
    """Greedy non-conflicting prefix of the ranked pair list: a pair is
    taken only if neither symbol was touched by an earlier selection
    this round (as operand OR as a merge output), so the selected
    replaces commute — applying them in one pass is order-independent
    and each behaves exactly as if it were the round's single merge."""
    out: list[tuple[str, str, int]] = []
    used: set[str] = set()
    for r in ranked:
        if len(out) >= min(batch_size, remaining):
            break
        lhs, rhs = r["lhs"], r["rhs"]
        if lhs in used or rhs in used or lhs + rhs in used:
            continue
        out.append((lhs, rhs, r["pair_count"]))
        used.update((lhs, rhs, lhs + rhs))
    return out


def train_bpe(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    text_col: str = "text",
    batch_size: int = 1,
    stats: dict | None = None,
) -> tuple[list[Row], DataFrame]:
    """Learn ``n_merges`` BPE merges; return (merge list, final word
    state).

    Returns:
      * ``merges`` — list of Rows (merge_rank, lhs, rhs, merged,
        pair_count), rank starting at 1, in learned order.  Stops
        early if no adjacent pair remains (every word fully merged).
      * ``word_state`` — DataFrame (word, freq, s) with ``s`` the
        sentinel symbol string AFTER all merges; splitting it yields
        the word's BPE encoding.

    ``batch_size=1`` (default) is classic sequential BPE: one small
    shuffle over the word table plus a 1-row driver fetch per merge —
    merge k+1 depends on merge k by definition, and this path is the
    oracle target (the DuckDB CTE unrolls it).

    ``batch_size=M > 1`` is the standard batched approximation
    (round-4 verdict task 5): each ROUND counts pairs once, collects
    the top ~4M candidates, greedily keeps the best non-conflicting
    subset (no shared symbols — see _select_batch; the kept replaces
    commute, so one combined pass equals applying them sequentially),
    and applies them all in a single projection.  Driver round-trips
    drop from n_merges to ~n_merges/M — the difference between ~30k
    sequential Spark jobs and a few hundred for a production vocab.
    Ranks are assigned in selection order; ``pair_count`` is the
    pre-round count (for conflict-skipped orderings batched merge
    choice may diverge from classic — that is the documented trade).

    ``stats`` (optional dict) receives {"rounds": r}, the number of
    candidate-ranking rounds (one collect each), for job-count
    accounting in tests/benchmarks.
    """
    spark = docs.sparkSession
    wc = word_counts(docs, text_col).withColumn("s", _initial_sentinel())
    # The word table is the iteration state: small (Heaps' law), reused
    # n_merges times — materialize once up front.
    wc = wc.localCheckpoint()

    merges: list[Row] = []
    rounds = since_checkpoint = 0
    while len(merges) < n_merges:
        # batch_size=1 keeps the exact classic limit(1) plan; batched
        # rounds over-fetch 4M candidates so conflict skips still leave
        # a full batch in the common case
        top_n = 1 if batch_size == 1 else 4 * batch_size
        ranked = (
            wc.select(F.explode(_adjacent_pairs()).alias("p"), "freq")
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(top_n)
            .collect()
        )
        rounds += 1
        batch = _select_batch(ranked, n_merges - len(merges), batch_size)
        if not batch:
            break  # corpus fully merged — nothing left to learn
        s = F.col("s")
        for lhs, rhs, cnt in batch:
            merges.append(
                Row(merge_rank=len(merges) + 1, lhs=lhs, rhs=rhs,
                    merged=lhs + rhs, pair_count=cnt)
            )
            s = F.replace(
                s, F.lit(f"|{lhs}||{rhs}|"), F.lit(f"|{lhs}{rhs}|")
            )
        wc = wc.withColumn("s", s)
        # one nested replace per merge: count merges, not rounds, so a
        # batched round cannot stack batch_size x CHECKPOINT_EVERY of them
        since_checkpoint += len(batch)
        if since_checkpoint >= CHECKPOINT_EVERY:
            wc = wc.localCheckpoint()
            since_checkpoint = 0
    if stats is not None:
        stats["rounds"] = rounds
    return merges, wc


def merges_df(spark, merges: list[Row]) -> DataFrame:
    """The learned merge table as a DataFrame (K rows — driver-side by
    nature, the merge list IS the tokenizer artifact)."""
    schema = ("merge_rank INT, lhs STRING, rhs STRING, merged STRING, "
              "pair_count BIGINT")
    return spark.createDataFrame(merges, schema=schema)


def bpe_vocab(word_state: DataFrame) -> DataFrame:
    """Final symbol inventory with corpus frequencies: the vocabulary
    the trained tokenizer would emit (token, token_count, n_words)."""
    syms = _symbols()
    return (
        word_state.select(F.explode(syms).alias("token"), "freq", "word")
        .groupBy("token")
        .agg(
            F.sum("freq").alias("token_count"),
            F.countDistinct("word").alias("n_words"),
        )
    )


def encode_docs(
    docs: DataFrame, word_state: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-document BPE token counts: explode words (same eligibility
    predicate as training) and join the word→encoding table.

    The join shuffles on ``word`` — at 100 TB this is the standard
    encode pass; the vocab side is |distinct words| rows, AQE
    broadcast-joins it when small.  Output: (doc_id, n_words,
    n_bpe_tokens).
    """
    doc_words = docs.select(
        "doc_id",
        F.explode(words(text_col)).alias("word"),
    ).filter(
        (F.col("word") != "") & F.col("word").rlike(WORD_RE)
        & ~F.col("word").contains("|")
    )
    enc = word_state.select("word", F.size(_symbols()).alias("n_syms"))
    return (
        doc_words.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
    )
