"""REST-API source adapter (S7/S8/P14): paginated JSON → article rows.

Reference: the NewsAPI fetcher (/root/reference/app/api/newsapi_fetcher.py)
pulls `/everything?page=N` pages 1..max (181-249, 251-302), transforms each
JSON article dict to the internal schema (136-179: source_name from
article.source.name, ISO date → YYYY-MM-DD at 90-100, content fallback
description at 158-166), and drops rows without url/title (236-238).

Spark-first mapping: pagination is a `spark.range(1, pages+1)` fan-out; each
page's JSON body is a row; `from_json` with an explicit schema +
`posexplode` turns pages into articles entirely JVM-side (no Python in the
hot path — the only UDF anywhere near this source is nothing at all). In the
sandbox the HTTP GET is replaced by a supplied (page → json body) DataFrame;
on a live cluster the fetch happens in a mapInArrow batch per partition with
the same politeness budget as the crawl path (api/base_fetcher.py:74-81).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, LongType, StringType, StructField,
                               StructType)

# NewsAPI /everything response schema (newsapi_fetcher.py:172-179 fields)
ARTICLE_JSON_SCHEMA = ArrayType(StructType([
    StructField("source", StructType([StructField("name", StringType())])),
    StructField("author", StringType()),
    StructField("title", StringType()),
    StructField("description", StringType()),
    StructField("url", StringType()),
    StructField("publishedAt", StringType()),
    StructField("content", StringType()),
]))

RESPONSE_SCHEMA = StructType([
    StructField("status", StringType()),
    StructField("totalResults", LongType()),
    StructField("articles", ARTICLE_JSON_SCHEMA),
])


def articles_from_json_pages(pages: DataFrame, body_col: str = "body",
                             page_col: str = "page") -> DataFrame:
    """(page, body:json-string) → one row per article in page order.

    Column mapping replicates _transform_article
    (newsapi_fetcher.py:136-179):
      * source_name  ← source.name
      * published_date ← publishedAt ISO8601 → 'yyyy-MM-dd' (null on bad)
      * content ← content, falling back to description (:158-166)
      * summary ← description
      * rows without url or title dropped (:236-238)
    discovered_seq = page*10^6 + position keeps the reference's strict
    page-then-listing order (fetch_all_articles loop, :251-302).
    """
    parsed = pages.select(
        F.col(page_col).cast("bigint").alias("page"),
        F.from_json(F.col(body_col), RESPONSE_SCHEMA).alias("r"))
    parsed = parsed.filter(F.col("r.status") == "ok")
    arts = parsed.select(
        "page", F.posexplode_outer("r.articles").alias("pos", "a"))
    iso = F.to_timestamp(F.regexp_replace(F.col("a.publishedAt"),
                                          "Z$", "+00:00"))
    # falsy-fallback, not null-fallback: raw.get("content") or
    # raw.get("description") also falls back on empty string (:163)
    content = F.when(F.col("a.content").isNull() | (F.col("a.content") == ""),
                     F.col("a.description")).otherwise(F.col("a.content"))
    out = arts.select(
        F.col("a.url").alias("url"),
        F.col("a.title").alias("title"),
        content.alias("content"),
        F.col("a.author").alias("author"),
        F.col("a.source.name").alias("source_name"),
        F.date_format(iso, "yyyy-MM-dd").alias("published_date"),
        F.col("a.description").alias("summary"),
        (F.col("page") * 1_000_000 + F.col("pos")).alias("discovered_seq"))
    # article.get("title") and article.get("url") — falsy drops, so empty
    # strings fail too (fetch_articles:236-238)
    return out.filter(F.col("url").isNotNull() & (F.col("url") != "") &
                      F.col("title").isNotNull() & (F.col("title") != ""))


def paginate_early_stop(pages: DataFrame, page_size: int = 10,
                        body_col: str = "body", page_col: str = "page"
                        ) -> DataFrame:
    """S7 early-stop — fetch_all_articles (newsapi_fetcher.py:274-297):
    consume pages in ascending order and STOP after the first page that
    (a) errors, (b) yields zero post-filter articles, or (c) satisfies
    page*page_size >= totalResults. Pages after the stopping page are never
    consumed (their rows are dropped from the plan before parsing).

    The window is a global order over the page axis — pagination is
    inherently sequential and max_pages is tiny (default 10), so the single
    ordered pass is the scale-correct shape."""
    parsed = pages.select(
        F.col(page_col).cast("bigint").alias("page"), F.col(body_col),
        F.from_json(F.col(body_col), RESPONSE_SCHEMA).alias("r"))
    kept = F.filter(
        F.col("r.articles"),
        lambda a: a["url"].isNotNull() & (a["url"] != "") &
                  a["title"].isNotNull() & (a["title"] != ""))
    stop = (F.col("r.status").isNull() | (F.col("r.status") != "ok") |
            (F.size(kept) <= 0) |
            (F.col("r.totalResults").isNotNull() &
             (F.col("page") * page_size >= F.col("r.totalResults"))))
    w = (Window.orderBy("page")
         .rowsBetween(Window.unboundedPreceding, -1))
    stopped_before = F.max(F.when(stop, 1).otherwise(0)).over(w)
    return (parsed
            .withColumn("__stopped", F.coalesce(stopped_before, F.lit(0)))
            .filter(F.col("__stopped") == 0)
            .select("page", body_col))


def refetch_full_content(articles: DataFrame, pages: DataFrame,
                         min_chars: int = 100) -> DataFrame:
    """S8 — full-content refetch (newsapi_fetcher.py:102-134,162-170): when
    fetch_full_content is enabled every article row with a url is flagged
    ``fetch_content`` and re-joined against the pages table; the refetched
    text replaces the API content only when longer than ``min_chars``
    (:122), else the API content stands. The reference's newspaper3k
    generic extraction maps to the 'generic' parser config."""
    from ..functions import extract as ex
    flagged = articles.withColumn(
        "fetch_content", F.col("url").isNotNull() & (F.col("url") != ""))
    joined = flagged.join(pages.select("url", "html"), "url", "left")
    null = F.lit(None).cast("string")
    art = ex.extract_any_udf()(F.lit("article"), F.col("html"), null,
                               F.lit("generic"), null, null)
    joined = joined.withColumn("__full", art.getField("content")).drop("html")
    full_ok = (F.col("fetch_content") & F.col("__full").isNotNull() &
               (F.length("__full") > min_chars))
    return (joined.withColumn(
        "content", F.when(full_ok, F.col("__full")).otherwise(F.col("content")))
        .drop("__full"))
