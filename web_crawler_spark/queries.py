"""The reference's query surface (CLI + Database methods) as DataFrame fns.

Reference: app/cli.py + app/models/database.py query methods. Each function
takes DataFrames (articles fact + sources dim) and returns a DataFrame; the
sources side is always broadcast (it is a tiny registry — J1/J2 mapping,
SURVEY.md §2.4). Top-k queries rely on Spark's TakeOrderedAndProject (no
full sort). Deterministic total order: every ORDER BY ends with a unique
key so LIMIT is reproducible under parallelism (the reference's SQLite gets
this from its rowid implicitly).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def active_sources(sources: DataFrame) -> DataFrame:
    """S1 — SELECT * FROM sources WHERE is_active=1 (database.py:127-132)."""
    return sources.filter(F.col("is_active") == 1)


def with_last_crawled(sources: DataFrame, metrics: DataFrame) -> DataFrame:
    """S13 — sources plus ``last_crawled`` (database.py:134-146): the
    zero-padded stamp of the last epoch whose metrics rows show the source
    fetching a page, null for a source that never fetched."""
    from .plans.epoch import SCRAPED_TS
    last = (metrics.filter(F.col("fetched") > 0)
            .groupBy(F.col("source_id").alias("id"))
            .agg(F.format_string(f"{SCRAPED_TS}#epoch=%06d", F.max("epoch"))
                 .alias("last_crawled")))
    return sources.join(broadcast(last), "id", "left")


def latest_with_source(articles: DataFrame, sources: DataFrame,
                       limit: int = 10) -> DataFrame:
    """J1 — articles ⋈ sources broadcast join + top-k (database.py:257-268)."""
    return (articles.join(broadcast(sources.select(
                F.col("id").alias("source_id"),
                F.col("name").alias("source_name"))), "source_id")
            .orderBy(F.col("published_date").desc_nulls_last(),
                     F.col("url").desc())
            .limit(limit))


def search(articles: DataFrame, sources: DataFrame, keyword: str,
           start_date: Optional[str] = None, end_date: Optional[str] = None,
           limit: int = 50) -> DataFrame:
    """J2 — keyword LIKE over title/content + optional date range + top-k
    (database.py:270-299). LIKE pattern is %kw% on both columns."""
    kw = f"%{keyword}%"
    df = articles.filter(F.col("title").like(kw) | F.col("content").like(kw))
    if start_date:
        df = df.filter(F.col("published_date") >= start_date)
    if end_date:
        df = df.filter(F.col("published_date") <= end_date)
    return (df.join(broadcast(sources.select(
                F.col("id").alias("source_id"),
                F.col("name").alias("source_name"))), "source_id")
            .orderBy(F.col("published_date").desc_nulls_last(),
                     F.col("url").desc())
            .limit(limit))


def count_by_source(articles: DataFrame) -> DataFrame:
    """A1 — COUNT(*) GROUP BY source_id (database.py:250-255); partial agg
    map-side, single shuffle on source_id."""
    return articles.groupBy("source_id").agg(F.count("*").alias("n_articles"))


def count_by_source_name(articles: DataFrame, sources: DataFrame) -> DataFrame:
    """A5 — join + GROUP BY s.name (README.md:114-117) — ONE shuffle: the
    broadcast join keeps articles un-shuffled; only the group-by aggregates."""
    return (articles.join(broadcast(sources.select(
                F.col("id").alias("source_id"),
                F.col("name").alias("source_name"))), "source_id")
            .groupBy("source_name").agg(F.count("*").alias("n_articles")))
