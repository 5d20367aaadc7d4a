"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship crawl round end-to-end (canonicalize →
dedup → robots/budget schedule → fixture fetch → pandas-UDF span
extraction) on a synthetic web sized from sf0.001 and returns the
extracted interleaved-span docs table.

``queries``/``oracle_sql`` expose the operator registry from
``newscrawler_spark.queries`` — each PySpark implementation paired with
a DuckDB-runnable SQL oracle (see that module for the cross-engine
determinism rules).  Every entry has an oracle, including
``ann_lsh_topk``: its sign-sketch buckets reproduce exactly in DuckDB
because the hyperplanes are shared md5-derived literals and
list_dot_product matches Spark's sequential F.aggregate fold.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one full crawl round on a deterministic synthetic web
    sized from /root/testdata/sf0.001; returns the docs delta."""
    from newscrawler_spark import synth
    from newscrawler_spark.plans.crawl_round import RoundConfig, run_round
    from newscrawler_spark.session import tune
    from newscrawler_spark.sources.fetch import FixtureFetcher

    tune(spark)

    sf_dir = os.environ.get("SPARK_GRAFT_ENTRY_SF_DIR", "/root/testdata/sf0.001")
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    frontier = synth.synth_frontier(spark, n)
    pages = synth.synth_pages(spark, n)
    budgets = synth.synth_budgets(spark, capacity_default=50)
    robots = synth.synth_robots(spark)
    result = run_round(
        frontier,
        url_seen=None,
        sidecar=None,
        budgets=budgets,
        robots=robots,
        fetcher=FixtureFetcher(pages),
        round_no=0,
        conf=RoundConfig(n_partitions=8),
    )
    return result.docs


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry callables; each already applies session.tune() to the
    caller's session before it builds its plan (queries._tuned)."""
    from newscrawler_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from newscrawler_spark.queries import ORACLES

    return dict(ORACLES)
