"""Keyword → paginated search → bounded fan-out sweep (the reference's
video side, entry point §3.4).

Reference semantics encoded (studied, not ported):
  * paginated generator loop `search_all_videos(query, max_videos,
    per_page)` — keeps requesting pages while `has_next_page`, caps the
    total yield (/root/reference/video_crawler/pixabay/videos/
    downloader.py:61-99; pexel :58-100; coverr cover_video/
    downloader.py:89-127);
  * `current_per_page = min(remaining, per_page)` limit pushdown
    (pixabay/videos/downloader.py:80-87) and early stop when
    `total_yielded >= max_videos` (:91-98) — here: the next-round page
    frontier only carries (keyword, page+1) rows whose keyword is still
    under its cap (L1/L2 as loop-termination predicates on row counts);
  * per-keyword cap MAX_RESOURCES_PER_KEYWORD=10 (pixabay/common/
    schemas.py:6) — A5 rank window;
  * one download per media id across quality variants — A7
    dropDuplicates (pixabay/videos/downloader.py:117-167).

Spark shape: each round is a batch job — page-request frontier joined
against the (fixture or live) API source, `explode(hits)` into item
rows, `unionByName` of the next-page frontier (S5 frontier expansion,
never a driver-side generator).  Item accumulation is append-only;
the final manifest applies the A5 rank and A7 dedup once.

Scale notes: pages-per-keyword is small (cap/per_page rounds), so the
loop depth is bounded and each round is one narrow join + explode; the
final rank window shuffles once on keyword (cap bounds each group).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def search_sweep(
    keywords: DataFrame,
    api_pages: DataFrame,
    max_per_keyword: int = 10,
    per_page: int = 4,
    max_rounds: int = 16,
) -> DataFrame:
    """Run the sweep; returns the media manifest
    (keyword, media_id, rank, media_url, views).

    keywords:  (keyword:string)
    api_pages: (keyword, page, hits:array<struct<media_id:string,
               media_url:string, views:int>>, total_hits:int) — the
    offline API fixture (a live fetcher would replace the join with a
    mapInPandas stage, same seam as sources/fetch.py).
    """
    spark = keywords.sparkSession
    frontier = keywords.select("keyword", F.lit(1).alias("page"))
    collected: DataFrame | None = None

    for _ in range(max_rounds):
        if frontier.isEmpty():
            break
        fetched = frontier.join(api_pages, ["keyword", "page"], "left")
        items = fetched.select(
            "keyword",
            "page",
            F.col("total_hits"),
            F.posexplode_outer("hits").alias("pos_in_page", "hit"),
        ).filter(F.col("hit").isNotNull())
        collected = items if collected is None else collected.unionByName(items)
        collected = collected.localCheckpoint(eager=True)  # bound lineage per round

        # next frontier: keywords still under cap with more pages available
        progress = collected.groupBy("keyword").agg(
            F.count("*").alias("yielded"), F.max("page").alias("max_page")
        )
        seen_pages = fetched.select("keyword", "page", "total_hits")
        frontier = (
            progress.join(
                seen_pages,
                (progress["keyword"] == seen_pages["keyword"])
                & (progress["max_page"] == seen_pages["page"]),
            )
            .filter(
                (F.col("yielded") < max_per_keyword)
                & (F.col("max_page") * per_page < F.col("total_hits"))
            )
            .select(progress["keyword"], (F.col("max_page") + 1).alias("page"))
        )

    if collected is None:
        return spark.createDataFrame(
            [], "keyword string, media_id string, rank int, media_url string, views int"
        )

    w = Window.partitionBy("keyword").orderBy(
        F.col("page").asc(), F.col("pos_in_page").asc()
    )
    ranked = (
        collected.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= max_per_keyword)
        .select(
            "keyword",
            F.col("hit.media_id").alias("media_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("hit.media_url").alias("media_url"),
            F.col("hit.views").alias("views"),
        )
    )
    # A7: one download per media id even when several keywords surface it
    # (first-wins by deterministic (keyword, rank) order)
    w2 = Window.partitionBy("media_id").orderBy(F.col("keyword").asc(), F.col("rank").asc())
    return (
        ranked.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
