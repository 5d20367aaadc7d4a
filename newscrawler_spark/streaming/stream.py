"""Structured Streaming surface (SURVEY.md §2.9).

The reference is pure batch — one URL (or keyword sweep) per invocation
(/root/reference/news_extractor_mcp/server.py:130-182 loops
sequentially) — so batch crawl rounds are the semantic ground truth.
This module provides the optional streaming execution modes around the
same logic:

  * ``stream_docs`` / ``windowed_doc_metrics`` — readStream over the
    catalog's docs deltas with an event-time-style windowed aggregation
    (watermark on an ingest timestamp derived from lineage round) for
    live monitoring of a long crawl;
  * ``crawl_from_seed_stream`` — ``foreachBatch`` + AvailableNow:
    each incoming micro-batch of seed URLs becomes frontier rows and is
    crawled with the ordinary round loop, checkpointed via the same
    Catalog — streaming is a *driver* of the batch semantics, never a
    different semantics.

Stateful pieces (seen-set, budgets) stay explicit Iceberg-shaped tables
rather than Spark operator state — that is what makes a killed run
resumable bit-identically (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema
from ..sources.catalog import Catalog


def stream_docs(spark: SparkSession, catalog: Catalog) -> DataFrame:
    """readStream over the docs table's append-only round deltas."""
    return (
        spark.readStream.schema(schema.DOCS)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(catalog.root / "docs" / "round=*"))
    )


def windowed_doc_metrics(docs_stream: DataFrame, window_rounds: int = 1) -> DataFrame:
    """Windowed metric aggregation over the doc stream: docs and span
    counts per (round window, platform).  Round number is the event
    time axis (deterministic — no wall clock in outputs); the watermark
    bounds state for long runs."""
    # watermark delay 0: a round's window closes (and its metrics become
    # final, emitted in append mode) as soon as any doc of a LATER round
    # arrives — monitoring lags the crawl by exactly one round, which is
    # the tightest bound append-mode watermarking allows
    with_ts = docs_stream.withColumn(
        "round_ts", F.timestamp_seconds(F.col("round").cast("long") * 60)
    ).withWatermark("round_ts", "0 seconds")
    return (
        with_ts.groupBy(
            F.window("round_ts", f"{window_rounds} minutes").alias("w"),
            "platform",
        )
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.size("spans")).alias("spans"),
        )
        .select(
            (F.unix_timestamp("w.start") / 60).cast("int").alias("round_window"),
            "platform",
            "docs",
            "spans",
        )
    )


def run_doc_metrics_available_now(
    spark: SparkSession, catalog: Catalog, out_path: str, checkpoint: str
) -> None:
    """Drain current docs deltas through the windowed agg once
    (Trigger.AvailableNow) and append results to parquet."""
    q = (
        windowed_doc_metrics(stream_docs(spark, catalog))
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .start()
    )
    q.awaitTermination()


def crawl_from_seed_stream(
    spark: SparkSession,
    seeds_stream: DataFrame,
    catalog: Catalog,
    fetcher,
    budgets: DataFrame,
    robots: DataFrame,
    checkpoint: str,
    max_rounds_per_batch: int = 3,
    conf=None,
):
    """foreachBatch bridge: each micro-batch of seed rows (frontier
    schema) is appended to the frontier and crawled with the ordinary
    batch round loop.  With Trigger.AvailableNow this is exactly the
    batch crawl; with a live source it becomes continuous crawling with
    identical per-round semantics."""
    from ..plans.crawl_round import FRONTIER_COLS, release
    from ..plans.scheduler import crawl, seed_frontier

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        seeds = batch_df.select(*FRONTIER_COLS)
        if catalog.last_round < 0:
            seed_frontier(catalog, seeds)
        else:
            # merge new seeds into the pending frontier delta.  The merge
            # reads the delta path it is about to overwrite — Spark
            # rejects a self-overwrite ("Cannot overwrite a path that is
            # also being read from") — so the merged frame is
            # materialized (localCheckpoint severs the lineage back to
            # the input files) before the overwrite.  On a cluster the
            # catalog would stage the new delta and swap atomically.
            nxt = catalog.last_round + 1
            existing = catalog.read_delta(batch_df.sparkSession, "frontier", nxt)
            merged = existing.unionByName(seeds).localCheckpoint(eager=True)
            catalog.write_delta(merged, "frontier", nxt)
            release([merged])
        crawl(
            batch_df.sparkSession,
            catalog,
            fetcher,
            budgets,
            robots,
            max_rounds=catalog.last_round + 1 + max_rounds_per_batch,
            conf=conf,
        )

    return (
        seeds_stream.writeStream.foreachBatch(handle_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )
