"""Article / link extraction as Arrow-batched pandas UDFs (U1/U2/U3).

The per-document extraction logic is ``refspec`` (the same pure functions
used to generate golden outputs), guaranteeing byte-identity by
construction. HTML parsing is inherently per-document work; the Spark-side
contract is that it runs over Arrow record batches (pandas UDF), never as a
row-at-a-time Python UDF, and the parse stage sits AFTER the seen-filter and
politeness gates so at 100 TB we only parse URLs that will actually be kept.

Reference parity: parse dispatch by parser_class column replicates the
parser registry (/root/reference/app/utils/crawler_manager.py:24-35);
selector configs are broadcast (closure-captured constants — tiny).
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import refspec

EXTRACT_SCHEMA = (
    "struct<title:string, content:string, summary:string,"
    " published_date:string,"
    " links:array<struct<url:string, date_str:string, title:string,"
    " summary:string>>>")


@lru_cache(maxsize=1)
def extract_any_udf():
    """(kind, html, base_url, parser_class, list_title, list_summary) →
    struct(title, content, summary, published_date, links).

    The one extraction UDF: one Arrow pass per row, branching on kind.
    'list' → ``links``, the ordered array of (url, date_str, title,
    summary) — the UDTF-shaped 1-page→N-links step (base_crawler.py:
    144-150); callers explode it with posexplode so discovery order is
    preserved as ``discovered_seq``. Any other kind → the article fields,
    all null for unparseable/missing-title pages (callers drop null-title
    rows, rbc_ukraine_parser.py:163-165). list_title/list_summary are the
    frontier-carried list-page metadata (the investing parser's articles
    cache, investing_parser.py:29,191-197), null for every other parser
    class. Null html (unfetched / non-ok rows) yields an all-null struct.

    The epoch pipeline calls it on mixed list+article rows, which lets it
    drop the html column BEFORE its post-fetch checkpoint — at 100 TB the
    html payload then lives only inside the scan+join stage and is never
    materialized to block storage. Driver queries pass a literal kind."""
    @pandas_udf(EXTRACT_SCHEMA)
    def _any(kind: pd.Series, html: pd.Series, base_url: pd.Series,
             parser_class: pd.Series, list_title: pd.Series,
             list_summary: pd.Series) -> pd.DataFrame:
        titles, contents, summaries, dates, links_out = [], [], [], [], []
        for k, h, b, pc, lt, ls in zip(kind, html, base_url, parser_class,
                                       list_title, list_summary):
            art, links = None, None
            if h is not None:
                if k == "list":
                    try:
                        links = refspec.extract_links(h, b or "", pc or "rbc")
                    except Exception:
                        links = []
                else:
                    meta = ({"title": lt, "summary": ls}
                            if lt is not None or ls is not None else None)
                    try:
                        art = refspec.extract_article(h, pc or "rbc",
                                                      list_meta=meta)
                    except Exception:
                        art = None
            titles.append(art["title"] if art else None)
            contents.append(art["content"] if art else None)
            summaries.append(art.get("summary") if art else None)
            dates.append(art.get("published_date") if art else None)
            links_out.append(links)
        return pd.DataFrame({"title": titles, "content": contents,
                             "summary": summaries, "published_date": dates,
                             "links": links_out})
    # Pure, but flagged nondeterministic so Catalyst materializes the struct
    # ONCE instead of inlining the UDF into every downstream field reference
    # (observed: 6 evaluations per row in the epoch plan without this — the
    # parse stage was ~6x slower than the raw extractor).
    return _any.asNondeterministic()


def normalize_content_col(col):
    """Sink normalization P8 as a JVM-side expression (byte-identical to
    models/database.py:169-177): \\n\\s*\\n+ → \\n, then trim."""
    return F.trim(F.regexp_replace(col, r"\n\s*\n+", "\n"))


def csv_flatten_col(col):
    """CSV-sink whitespace flatten P9 (csv_storage.py:102-108)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def summary_col(content):
    """P7 — base_crawler.py:325."""
    return F.when(F.length(content) > 200,
                  F.concat(F.substring(content, 1, 200), F.lit("..."))
                  ).otherwise(content)


def strip_time_col(col):
    """P11 — rbc_ukraine_parser.py:184-186 (split(' ')[0], null-safe)."""
    return F.when(col.isNull(), None).otherwise(F.split(col, " ").getItem(0))


def date_in_range_col(pub, start: str | None, end: str | None):
    """P4 permissive predicate (base_crawler.py:103-125): null date or no
    filter ⇒ include; else lexicographic string compare."""
    if not start and not end:
        return F.lit(True)
    cond = F.lit(True)
    if start and end:
        cond = pub.between(start, end)
    elif start:
        cond = pub >= start
    elif end:
        cond = pub <= end
    return pub.isNull() | cond


def finish_articles(df: DataFrame, start_date: str | None = None,
                    end_date: str | None = None) -> DataFrame:
    """Post-extraction article finishing: drop null-title rows
    (rbc_ukraine_parser.py:163-165), date coalesce + permissive range
    filter (P4), sink normalization (P8). Input needs an ``art`` struct
    column (title, content, summary, published_date) + url_canon/host."""
    cols = df.columns
    df = df.filter(F.col("art.title").isNotNull())
    pub = (F.coalesce(strip_time_col(F.col("date_str")),
                      strip_time_col(F.col("art.published_date")))
           if "date_str" in cols else strip_time_col(F.col("art.published_date")))
    df = df.withColumn("published_date", pub)
    df = df.filter(date_in_range_col(F.col("published_date"), start_date, end_date))
    return df.select(
        *[c for c in ("source_id", "priority") if c in cols],
        F.col("url_canon").alias("url"),
        F.col("host"),
        F.col("art.title").alias("title"),
        normalize_content_col(F.col("art.content")).alias("content"),
        F.col("published_date"),
        *( [F.col("discovered_seq")] if "discovered_seq" in cols else [] ),
    )


def parse_articles(fetched: DataFrame, start_date: str | None = None,
                   end_date: str | None = None) -> DataFrame:
    """Fetched pages (url_canon, html, parser_class, source_id, date_str?) →
    parsed article rows, date-filtered, content-normalized.

    Plan shape (checked in tests via .explain): single projection with the
    Arrow eval, then JVM-side filter/normalize — no extra shuffle."""
    cols = fetched.columns
    null = F.lit(None).cast("string")
    lt = F.col("list_title") if "list_title" in cols else null
    ls = F.col("list_summary") if "list_summary" in cols else null
    df = fetched.withColumn(
        "art", extract_any_udf()(F.lit("article"), F.col("html"), null,
                                 F.col("parser_class"), lt, ls))
    return finish_articles(df, start_date, end_date)
