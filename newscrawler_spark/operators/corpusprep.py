"""Training-corpus preparation operators: the stages a 100 TB
pretraining pipeline runs AFTER crawl/extract and dedup — corpus-level
segment dedup (C4-style), source mixing/reweighting, sequence packing
into fixed-token shards, intra-document repetition signals (Gopher),
and a deterministic train/val/test split.

These complement the curation stage (operators/curation.py — quality /
decontamination / PII) and the inter-document dedup family
(operators/dedup.py).  Reference parallel: NewsCrawler stops at clean
per-article markdown (news_extractor_core's to_markdown outputs); these
operators are the downstream consumers a training-data user of that
corpus needs, re-expressed as Spark-native distributed stages.

Cross-engine rules (see queries.py module docstring): md5_64 hashes,
integer arithmetic end-to-end for positions/counts, ratios rounded to
6 places, identical aliases both sides.

Scale notes per operator are in each docstring; the common theme is
that nothing here ever collects row-scale data to the driver — the two
driver round-trips that exist (pack_sequences) are P-row metadata.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textops import words
from ..xhash import md5_64

SEG_TOKENS = 8          # segment width for corpus-level segment dedup
SEQ_LEN = 2048          # tokens per training shard for pack_sequences
PACK_PARTS = 16         # prefix-sum partition count (raise with corpus size)
MIX_SCALE = 1_000_000   # keep-probability resolution for domain_mix
REP_DISTINCT_MIN = 0.25  # Gopher-style repetition thresholds
REP_TOP_TOKEN_MAX = 0.20
REP_TOP_BIGRAM_MAX = 0.18


# ---------------------------------------------------------------------------
# 1. Corpus-level segment dedup (C4 §2.2 "deduplicate three-sentence spans")
# ---------------------------------------------------------------------------

def segment_dedup(docs: DataFrame, seg_tokens: int = SEG_TOKENS) -> DataFrame:
    """Drop every repeated text segment corpus-wide, keeping only its
    FIRST occurrence (order = (doc_id, segment index)); return per-doc
    survival stats and the reassembled surviving text.

    Segmentation: non-overlapping ``seg_tokens``-word windows (real
    corpora would segment on newline/sentence boundaries; the fixture
    text is a single line, so a fixed window is the deterministic
    stand-in — the operator is agnostic to the segmenter).

    Scale shape (the C4 dedup at 100 TB):
      * segments shuffle once on their 60-bit hash for the owner
        aggregate — ``min(struct(doc_id, seg_idx))`` does MAP-SIDE
        partial mins, so a boilerplate segment repeated 10^9 times
        (cookie banners, nav bars) reduces to one row per map task
        before the shuffle.  A window row_number() would sort that hot
        key on a single reducer; the aggregate is skew-immune, which
        is why it is used despite costing a second shuffle (the
        owner⋈segments equi-join).
      * reassembly groups by doc_id — the natural partitioning of every
        downstream per-doc stage, so AQE coalesces it with the join.
      * output text never exceeds input text; no driver collects.
    """
    ws = words("text")
    n_seg = F.ceil(F.size(ws) / F.lit(seg_tokens)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice(ws, i * seg_tokens + 1, seg_tokens), " "),
    )
    ex = docs.select(
        "doc_id", F.posexplode(segs).alias("seg_idx", "seg")
    ).withColumn("sh", md5_64("seg"))
    owners = ex.groupBy("sh").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("own")
    )
    kept = ex.join(owners, "sh").withColumn(
        "kept",
        (F.col("doc_id") == F.col("own.doc_id"))
        & (F.col("seg_idx") == F.col("own.seg_idx")),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("seg_idx", "seg"))
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("text_kept"),
        )
    )


# ---------------------------------------------------------------------------
# 2. Source mixing / reweighting (static data-mixture sampling)
# ---------------------------------------------------------------------------

def domain_mix(docs: DataFrame) -> DataFrame:
    """Deterministic per-source subsampling to a target mixture weight
    — the static "data mixing" stage of a pretraining pipeline (domain
    reweighting à la The Pile / DoReMi's fixed mixtures).

    Each source's keep-probability here derives from its name
    (w = (1 + md5_64(source) % 4) / 4 ∈ {.25,.5,.75,1}); production
    callers pass real weights the same way.  A document is kept iff
    md5_64(source:doc_id) lands under w — a pure per-row predicate, so
    the sample is reproducible on any cluster size and re-runs are
    consistent (the property random() sampling lacks).

    Scale: map + map-side-partial aggregate; the only shuffle is the
    per-source summary (|sources| rows).
    """
    thr = (F.lit(1) + F.pmod(md5_64("source"), F.lit(4))) * F.lit(MIX_SCALE // 4)
    pick = F.pmod(
        md5_64(F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))),
        F.lit(MIX_SCALE),
    )
    rows = docs.select(
        "source",
        (thr.cast("double") / F.lit(float(MIX_SCALE))).alias("weight"),
        (pick < thr).cast("long").alias("keep"),
    )
    return rows.groupBy("source", "weight").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# 3. Sequence packing into fixed-token training shards
# ---------------------------------------------------------------------------

def pack_sequences(
    docs: DataFrame, seq_len: int = SEQ_LEN, n_parts: int = PACK_PARTS
) -> DataFrame:
    """Concatenate-and-chunk packing: documents are laid out in doc_id
    order into one global token stream and cut into ``seq_len``-token
    shards (the GPT-style pretraining layout); each doc gets its token
    interval and the shard range it lands in.

    The global running offset is a DISTRIBUTED two-phase prefix sum,
    not a window — ``sum() over (order by doc_id)`` without a partition
    key funnels the whole corpus through one reducer, which is exactly
    what dies at 10^10 docs:

      phase 1: per-range token totals (one aggregate, ``n_parts`` rows
               to the driver — metadata, not data);
      phase 2: exclusive offsets for each range are closed over and
               each range cumsums independently (Arrow-batched
               ``applyInPandas``, integer arithmetic throughout).

    Ranges come from the dense doc_id space (floor(doc_id·P/N)), so the
    layout is reproducible at any parallelism.  Raise ``n_parts`` with
    corpus size — each range only ever holds (doc_id, n_tokens) pairs,
    16 bytes/doc.  Driver traffic: two P-row jobs.
    """
    t = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(words("text")).cast("long").alias("n_tokens"),
    )
    hi = t.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    n = int(hi) + 1
    t = t.withColumn(
        "part", F.expr(f"CAST(doc_id * {n_parts} DIV {n} AS INT)")
    )
    totals = {
        r["part"]: r["tot"]
        for r in t.groupBy("part").agg(F.sum("n_tokens").alias("tot")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for p in range(n_parts):
        offsets[p] = acc
        acc += int(totals.get(p, 0))

    def cumsum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        base = offsets[int(pdf["part"].iloc[0])]
        ends = pdf["n_tokens"].cumsum()
        pdf["token_start"] = base + ends - pdf["n_tokens"]
        return pdf[["doc_id", "n_tokens", "token_start"]]

    packed = t.groupBy("part").applyInPandas(
        cumsum, "doc_id long, n_tokens long, token_start long"
    )
    token_end = F.col("token_start") + F.col("n_tokens")
    shard_of_last = F.when(
        F.col("n_tokens") > 0, F.expr(f"(token_start + n_tokens - 1) DIV {seq_len}")
    ).otherwise(F.expr(f"token_start DIV {seq_len}"))
    return packed.select(
        "doc_id",
        "n_tokens",
        "token_start",
        token_end.cast("long").alias("token_end"),
        F.expr(f"token_start DIV {seq_len}").cast("long").alias("shard_start"),
        shard_of_last.cast("long").alias("shard_end"),
    )


# ---------------------------------------------------------------------------
# 4. Intra-document repetition signals (Gopher §A1.1 repetition filters)
# ---------------------------------------------------------------------------

def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition quality signals: distinct-token ratio,
    top-token fraction and top-bigram fraction, plus a Gopher-style
    repetition flag.  Catches the "same sentence looped 500 times"
    pages that inter-document dedup cannot see.

    Scale: unigrams and bigrams explode into ONE union and aggregate by
    (doc_id, kind, gram) with map-side partial counts — a looping doc's
    hot gram collapses inside its map task.  The per-doc rollup and the
    unigram⋈bigram join both key on doc_id (co-partitioned; AQE merges
    the exchanges).  No Python in the hot path — the bigram zip is a
    codegen'd SQL transform.
    """
    base = docs.select("doc_id", words("text").alias("ws"))
    uni = base.select(
        "doc_id", F.lit("u").alias("k"), F.explode("ws").alias("g")
    )
    bi = base.select(
        "doc_id",
        F.lit("b").alias("k"),
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN "
                "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1])) "
                "ELSE CAST(array() AS array<string>) END"
            )
        ).alias("g"),
    )
    cnt = (
        uni.unionByName(bi)
        .groupBy("doc_id", "k", "g")
        .agg(F.count("*").alias("c"))
    )
    agg = cnt.groupBy("doc_id", "k").agg(
        F.max("c").alias("mx"),
        F.count("*").cast("long").alias("nd"),
        F.sum("c").cast("long").alias("tot"),
    )
    u = agg.filter(F.col("k") == "u").select(
        "doc_id",
        F.col("tot").alias("n_tokens"),
        F.col("nd").alias("nd_u"),
        F.col("mx").alias("mx_u"),
    )
    b = agg.filter(F.col("k") == "b").select(
        "doc_id", F.col("tot").alias("n_bi"), F.col("mx").alias("mx_b")
    )
    j = u.join(b, "doc_id", "left").na.fill({"n_bi": 0, "mx_b": 0})
    distinct_ratio = F.round(F.col("nd_u") / F.col("n_tokens"), 6)
    top_token = F.round(F.col("mx_u") / F.col("n_tokens"), 6)
    top_bigram = F.when(
        F.col("n_bi") > 0, F.round(F.col("mx_b") / F.col("n_bi"), 6)
    ).otherwise(F.lit(0.0))
    return j.select(
        "doc_id",
        "n_tokens",
        distinct_ratio.alias("distinct_ratio"),
        top_token.alias("top_token_frac"),
        top_bigram.alias("top_bigram_frac"),
        (
            (distinct_ratio < REP_DISTINCT_MIN)
            | (top_token > REP_TOP_TOKEN_MAX)
            | (top_bigram > REP_TOP_BIGRAM_MAX)
        ).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# 5. Deterministic train/val/test split
# ---------------------------------------------------------------------------

def train_split(docs: DataFrame) -> DataFrame:
    """Hash-bucket split (98/1/1): split membership is a pure function
    of doc_id, so it is stable across reruns, cluster sizes, and
    incremental corpus growth — appending documents never moves an
    existing document between splits (the property that keeps eval
    sets uncontaminated as the corpus is re-built).  Zero shuffle.
    """
    bucket = F.pmod(
        md5_64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    return docs.select(
        "doc_id",
        bucket.cast("long").alias("bucket"),
        F.when(bucket < 98, "train")
        .when(bucket < 99, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# 6. Domain-level boilerplate removal
# ---------------------------------------------------------------------------

BOILER_MIN_DOCS = 2    # a template must recur in at least this many docs
BOILER_FRAC_NUM = 1    # ... and in >= NUM/DEN of the domain's documents
BOILER_FRAC_DEN = 25   # (integer-rational threshold: exact on both engines)


def strip_boilerplate(
    docs: DataFrame,
    seg_tokens: int = SEG_TOKENS,
    min_docs: int = BOILER_MIN_DOCS,
    frac_num: int = BOILER_FRAC_NUM,
    frac_den: int = BOILER_FRAC_DEN,
) -> DataFrame:
    """Strip per-domain template segments — cookie banners, nav menus,
    footer blurbs — that extraction let through: any segment recurring
    in >= max(min_docs, frac of the domain's docs) DISTINCT documents
    of the same ``source`` is dropped from ALL of them (unlike
    segment_dedup's first-occurrence-wins, boilerplate keeps zero
    copies).  The C4/Gopher pipelines apply exactly this class of
    domain-scoped line/paragraph removal before training.

    Scale shape at 100 TB:
      * segments travel the shuffle as md5_64 hashes, never raw text;
      * the df count is distinct-(doc)-per-(source, seg-hash) — two
        map-side-combined aggregates, skew-immune (a banner repeated
        10^9 times collapses per map task);
      * per-source doc totals (|sources| rows) broadcast to the
        threshold filter; the boilerplate set joins back on
        (source, hash) — equi-join, AQE broadcasts it when small;
      * the threshold is integer arithmetic (seg_df * den >= num *
        n_docs), never a float multiply, so any cluster size and the
        DuckDB oracle agree exactly.

    Output: (doc_id, source, n_segments, n_boiler, text_clean) with
    surviving segments rejoined in document order.
    """
    ws = words("text")
    n_seg = F.ceil(F.size(ws) / F.lit(seg_tokens)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice(ws, i * seg_tokens + 1, seg_tokens), " "),
    )
    ex = docs.select(
        "doc_id", "source", F.posexplode(segs).alias("seg_idx", "seg")
    ).withColumn("sh", md5_64("seg"))

    seg_df = (
        ex.select("source", "sh", "doc_id")
        .distinct()
        .groupBy("source", "sh")
        .agg(F.count(F.lit(1)).alias("seg_df"))
    )
    n_docs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    boiler = (
        seg_df.join(F.broadcast(n_docs), "source")
        .filter(
            (F.col("seg_df") >= min_docs)
            & (F.col("seg_df") * F.lit(frac_den) >= F.lit(frac_num) * F.col("n_docs"))
        )
        .select("source", "sh", F.lit(True).alias("boiler"))
    )
    marked = ex.join(boiler, ["source", "sh"], "left").withColumn(
        "boiler", F.coalesce(F.col("boiler"), F.lit(False))
    )
    return marked.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.col("boiler").cast("long")).cast("long").alias("n_boiler"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("boiler"), F.struct("seg_idx", "seg"))
                    )
                ),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("text_clean"),
    )
