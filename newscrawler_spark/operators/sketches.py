"""Frequency and cardinality sketches as Spark aggregates: count-min
(token frequencies in constant space) and HyperLogLog (distinct counts
per group), both exactly reproducible in the DuckDB oracle.

Why sketches in a 100 TB pipeline: the exact word-frequency /
distinct-URL tables the other operators build are Heaps'-law bounded
but still shuffle |vocab|-scale rows; a monitoring pass (per-ingest
frequency spikes, per-host distinct-URL growth for trap heuristics)
wants CONSTANT-size state per group.  Both sketches here are pure
``groupBy`` aggregates with map-side combine — the sketch merges
associatively, so 1000 executors each fold their partition and the
reduce merges d×w (CMS) or m (HLL) cells, independent of data volume.

Cross-engine determinism: every hash is ``md5_64`` (60-bit,
non-negative); CMS is integer-only end-to-end; HLL's harmonic sum is
computed as an EXACT integer in units of 2^-62 (each register
contributes 2^(62-M_j) as a 128-bit-summed integer), converted to
double only for the final single division — so partition order, AQE,
and the oracle all produce bit-identical estimates.  No ln()-based
small/large-range corrections (libm differs across engines); the raw
estimator is the contract and its ±1.04/sqrt(m) error is documented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textops import words
from ..xhash import md5_64

# Count-min sketch geometry
CMS_D = 4       # hash rows
CMS_W = 1024    # cells per row
# every-Nth-token deterministic probe set for the registry query
CMS_PROBE_MOD = 3

# HyperLogLog geometry
HLL_M = 64            # registers (6 index bits)
HLL_RANK_CAP = 55     # md5_64 leaves 54 scan bits after the index
# alpha_m for m=64 (Flajolet et al. 2007): 0.7213 / (1 + 1.079/m)
HLL_ALPHA = 0.709


def _tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.select(
        "doc_id",
        "source",
        F.explode(words(text_col)).alias("token"),
    ).filter(F.col("token") != "")


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

def _cms_cell(row: int, token_col: str = "token") -> F.Column:
    return F.pmod(
        md5_64(F.concat(F.lit(f"cms{row}:"), F.col(token_col))), F.lit(CMS_W)
    ).cast("int")


def cms_build(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The d×w sketch table (row, cell, cell_count) — at most
    CMS_D × CMS_W rows regardless of corpus size.  One explode to d
    rows per token occurrence, then a map-side-combined groupBy; the
    sketch is the associative merge of per-partition sketches."""
    t = _tokens(docs, text_col)
    cells = t.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("row"), _cms_cell(r).alias("cell")
                )
                for r in range(CMS_D)
            ])
        ).alias("rc")
    )
    return cells.groupBy("rc.row", "rc.cell").agg(
        F.count(F.lit(1)).cast("long").alias("cell_count")
    )


def cms_estimate(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Point-query the sketch for a deterministic probe set (every
    token whose hash ≡ 0 mod CMS_PROBE_MOD) and report the estimate
    next to the exact count: (token, true_count, cms_est).  The CMS
    guarantee est >= true always holds; the overestimate is the price
    of constant space.  The probe join broadcasts the ≤ d×w-row
    sketch."""
    t = _tokens(docs, text_col)
    sketch = cms_build(docs, text_col)

    truth = (
        t.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
        .filter(F.pmod(md5_64("token"), F.lit(CMS_PROBE_MOD)) == 0)
    )
    probes = truth.select(
        "token",
        "true_count",
        F.explode(
            F.array(*[
                F.struct(F.lit(r).alias("row"), _cms_cell(r).alias("cell"))
                for r in range(CMS_D)
            ])
        ).alias("rc"),
    ).select("token", "true_count", "rc.row", "rc.cell")
    return (
        probes.join(F.broadcast(sketch), ["row", "cell"])
        .groupBy("token", "true_count")
        .agg(F.min("cell_count").cast("long").alias("cms_est"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

def hll_distinct(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source distinct-token estimate vs exact:
    (source, registers_hit, exact_distinct, hll_estimate).

    Register index = low 6 hash bits; rank = position of the lowest
    set bit of the remaining 54 (``bit_count((v & -v) - 1) + 1`` —
    no log2/float), capped at HLL_RANK_CAP for v = 0.  The register
    table is ``groupBy(source, reg).max(rank)`` — constant m rows per
    source.  The harmonic sum Σ 2^-M_j runs over all m registers
    (missing registers contribute 2^0) as the exact integer
    Σ 2^(62-M_j) summed in decimal(38,0) — order-independent — and
    the one double division happens at the end.
    """
    t = _tokens(docs, text_col).select("source", "token").distinct()
    h = t.withColumn("h", md5_64("token"))
    v = F.shiftright(F.col("h"), 6)
    rank = F.when(v == 0, F.lit(HLL_RANK_CAP)).otherwise(
        (F.bit_count(v.bitwiseAND(-v) - 1) + 1).cast("int")
    )
    regs = (
        h.select(
            "source",
            F.pmod(F.col("h"), F.lit(HLL_M)).cast("int").alias("reg"),
            rank.alias("rank"),
        )
        .groupBy("source", "reg")
        .agg(F.max("rank").alias("m_j"))
    )
    # all m registers per source (missing → M_j = 0)
    full = (
        docs.select("source")
        .distinct()
        .select("source", F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("reg"))
        .join(regs, ["source", "reg"], "left")
        .withColumn("m_j", F.coalesce(F.col("m_j"), F.lit(0)))
    )
    num = float(HLL_ALPHA * HLL_M * HLL_M * float(2**62))
    est = (
        full.withColumn(
            "term", F.expr("shiftleft(CAST(1 AS BIGINT), 62 - m_j)")
        )
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("m_j") > 0, 1).otherwise(0))
            .cast("long")
            .alias("registers_hit"),
            F.round(
                F.lit(num) / F.sum(F.col("term").cast("decimal(38,0)")).cast("double"),
                4,
            ).alias("hll_estimate"),
        )
    )
    exact = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    return est.join(exact, "source").select(
        "source", "registers_hit", "exact_distinct", "hll_estimate"
    )
