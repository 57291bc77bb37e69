"""Deterministic synthesis of the Common-Crawl-style ``pages`` table.

Authoritative input shape (BASELINE.json input_hint):
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Two generators:

* :func:`synth_web` — standalone seeded mini-web (archive/list pages +
  article pages across Zipf-skewed hosts) used by pytest golden tests and
  the crawl benchmark. Shapes mirror the reference parser targets
  (FIXTURES.md §1; /root/reference/app/parsers/rbc_ukraine_parser.py:117-179).

* :func:`pages_from_documents` — distributed construction of a pages table
  from the driver-provided ``documents`` parquet, built entirely with
  JVM-side column expressions (no UDF, no collect) so the DuckDB oracle can
  state the expected extraction output in pure SQL. This scales: at 100 TB
  the same expressions run as whole-stage-codegen over the source scan.
"""

from __future__ import annotations

import datetime as _dt
import random
from typing import Dict, List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import refspec
from .util import read_fixture

EPOCH_TS = _dt.datetime(2024, 1, 1)


# ---------------------------------------------------------------------------
# Standalone seeded mini-web (pure Python; used for goldens + bench input)
# ---------------------------------------------------------------------------

_WORDS = ("spark shuffle frontier crawl parse fetch host page article title "
          "news data table row batch epoch queue filter bloom hash salt skew "
          "text index token quality dedup scale cluster executor partition").split()


def _zipf_host(rng: random.Random, n_hosts: int, hot_frac: float = 0.30) -> int:
    """One hot host takes ~hot_frac of URLs (FIXTURES.md scale knob);
    hot_frac=0 gives a uniform host distribution."""
    if hot_frac > 0 and rng.random() < hot_frac:
        return 0
    return rng.randrange(n_hosts) if hot_frac <= 0 \
        else 1 + rng.randrange(n_hosts - 1)


def synth_web(n_articles: int = 200, n_hosts: int = 8, seed: int = 42,
              days: int = 5, dup_frac: float = 0.15,
              broken_frac: float = 0.05,
              hot_frac: float = 0.30) -> Dict[str, object]:
    """Build {url: html_bytes} plus seed list and metadata.

    Every host gets one archive page per day listing its article links
    (relative hrefs, duplicates, uppercase/query/fragment noise for the
    canonicalizer), and one page per article. ~broken_frac articles have no
    title (parser must drop them, rbc_ukraine_parser.py:163-165).
    """
    rng = random.Random(seed)
    pages: Dict[str, bytes] = {}
    # every host carries 'rbc.ua' — the exact reference link predicate
    # ('rbc.ua' in absolute AND '/news/' in absolute,
    # rbc_ukraine_parser.py:130) drops any other domain
    hosts = [f"www.h{i}.rbc.ua" for i in range(n_hosts)]
    per_day_links: Dict[Tuple[int, str], List[Tuple[str, str]]] = {}
    articles_meta = []

    for aid in range(n_articles):
        h = _zipf_host(rng, n_hosts, hot_frac)
        day = rng.randrange(days)
        date = (EPOCH_TS + _dt.timedelta(days=day)).strftime("%Y/%m/%d")
        url = f"https://{hosts[h]}/news/a{aid}"
        n_paras = rng.randrange(1, 5)
        paras = []
        for _ in range(n_paras):
            toks = [rng.choice(_WORDS) for _ in range(rng.randrange(5, 30))]
            # nested inline tags + entities (FIXTURES.md §1): exercises
            # get_text over descendants and charref decoding
            r = rng.random()
            if r < 0.25 and len(toks) > 2:
                toks[1] = f"<strong>{toks[1]}</strong>"
            elif r < 0.4 and len(toks) > 3:
                toks[2] = f'<a href="/news/x{aid}"><em>{toks[2]}</em></a>'
            if rng.random() < 0.2:
                toks.append("A&amp;B &lt;tag&gt;")
            paras.append(f"<p>{' '.join(toks)}</p>")
        if rng.random() < 0.25:
            paras.insert(rng.randrange(len(paras) + 1), "<p>   </p>")  # empty para
        title = "" if rng.random() < broken_frac else \
            f"Article {aid} about {rng.choice(_WORDS)}"
        body = (f'<html><body><h1 class="article__title">{title}</h1>'
                f'<div class="article__text">{"".join(paras)}</div></body></html>')
        pages[url] = body.encode("utf-8")
        hhmm = f"{rng.randrange(24):02d}:{rng.randrange(60):02d}"
        per_day_links.setdefault((h, date), []).append((f"/news/a{aid}", hhmm))
        articles_meta.append({"url": url, "host": hosts[h],
                              "date": date.replace("/", "-"), "aid": aid})

    seeds: List[Tuple[str, int, str]] = []
    sid = 0
    for h in range(n_hosts):
        for day in range(days):
            date = (EPOCH_TS + _dt.timedelta(days=day)).strftime("%Y/%m/%d")
            links = per_day_links.get((h, date))
            if not links:
                continue
            items = []
            for href, hhmm in links:
                items.append(f'<div><a href="{href}">'
                             f'<span class="time">{hhmm}</span> item</a></div>')
                if rng.random() < dup_frac:     # duplicate link on page
                    items.append(f'<div><a href="{href}">'
                                 f'<span class="time">{hhmm}</span> dup</a></div>')
            # a link that fails the '/news/' predicate + a fragment/query-noise link
            items.append('<div><a href="/pro/skip-me">promo</a></div>')
            if links:
                href0 = links[0][0]
                items.append(f'<div><a href="HTTPS://{hosts[h].upper()}{href0}'
                             f'?z=1&a=2#frag"><span class="time">00:00</span> noisy</a></div>')
            archive_url = f"https://{hosts[h]}/rus/archive/{date}"
            pages[archive_url] = (f'<html><body><div class="newsline">'
                                  f'{"".join(items)}</div></body></html>').encode()
            seeds.append((archive_url, sid, "rbc"))
            sid += 1
    sid = _synth_bbc_site(random.Random(seed + 1), pages, seeds, sid)
    sid = _synth_guardian_site(random.Random(seed + 2), pages, seeds, sid)
    sid = _synth_investing_site(random.Random(seed + 3), pages, seeds, sid)
    return {"pages": pages, "seeds": seeds, "hosts": hosts,
            "articles_meta": articles_meta}


def _para_words(rng: random.Random, lo: int = 8, hi: int = 30) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(lo, hi)))


def _synth_bbc_site(rng, pages, seeds, sid) -> int:
    """BBC-shaped fixture: a[data-testid="internal-link"] list links with the
    raw-href '/news/articles/' predicate, 20-cap, descendant-combinator
    content blocks, <time datetime> dates, empty-content fallback
    (bbc_parser.py:27-88)."""
    host = "www.bbc.com"
    n = 26                                  # > 20 exercises the frontier cap
    items = []
    for j in range(n):
        href = f"/news/articles/b{j}"
        url = f"https://{host}{href}"
        date = (EPOCH_TS + _dt.timedelta(days=j % 5)).strftime("%Y-%m-%d")
        title = "" if j % 9 == 8 else f"BBC story {j} on {rng.choice(_WORDS)}"
        if j % 7 == 6:
            # empty text-blocks → content falls back to <article> p's
            # (fallback on EMPTY CONTENT, bbc_parser.py:65-70)
            body = (f'<div data-component="text-block"><p>   </p></div>'
                    f'<article><p>{_para_words(rng)}</p>'
                    f'<p>{_para_words(rng)}</p></article>')
        else:
            # p's nested under an inner div — requires the DESCENDANT
            # combinator of 'div[data-component="text-block"] p'
            blocks = "".join(
                f'<div data-component="text-block"><div class="inner">'
                f'<p>{_para_words(rng)}</p></div></div>'
                for _ in range(rng.randrange(1, 4)))
            body = blocks
        pages[url] = (f'<html><body><h1 id="main-heading">{title}</h1>'
                      f'<time datetime="{date}">today</time>{body}'
                      f'</body></html>').encode()
        items.append(f'<a data-testid="internal-link" href="{href}">s{j}</a>')
        if rng.random() < 0.3:              # duplicate link (order-dedup)
            items.append(f'<a data-testid="internal-link" href="{href}">dup</a>')
    # raw-href predicate fodder: no '/news/articles/' → dropped even though
    # the *absolute* URL would contain it after urljoin against this base
    items.append('<a data-testid="internal-link" href="sport0">rel</a>')
    # matching a without the data-testid → never selected
    items.append('<a href="/news/articles/unmarked">plain</a>')
    pages[f"https://{host}/news"] = (
        '<html><body>' + "".join(items) + '</body></html>').encode()
    seeds.append((f"https://{host}/news", sid, "bbc"))
    return sid + 1


def _synth_guardian_site(rng, pages, seeds, sid) -> int:
    """Guardian-shaped fixture: absolute-href list links where ONLY
    'https://www.theguardian.com/' prefixes survive (guardian_parser.py:32 —
    off-site https and relative hrefs must be dropped), nested body p's,
    attr-only time dates, article-body fallback (guardian_parser.py:27-86)."""
    host = "www.theguardian.com"
    n = 25
    items = []
    for j in range(n):
        url = f"https://{host}/world/g{j}"
        date = (EPOCH_TS + _dt.timedelta(days=j % 5)).strftime("%Y-%m-%dT10:00:00Z")
        title = "" if j % 11 == 10 else f"Guardian piece {j} {rng.choice(_WORDS)}"
        if j % 6 == 5:
            # no data-gu-name body → falls back to
            # 'article div.article-body-viewer-selector' (guardian:63-68)
            body = (f'<article><div class="article-body-viewer-selector">'
                    f'<p>{_para_words(rng)}</p><p>{_para_words(rng)}</p>'
                    f'</div></article>')
        else:
            body = (f'<div data-gu-name="body"><figure>cap</figure>'
                    + "".join(f'<div class="block"><p>{_para_words(rng)}</p></div>'
                              for _ in range(rng.randrange(1, 4)))
                    + '</div>')
        pages[url] = (f'<html><body><h1 itemprop="headline">{title}</h1>'
                      f'<time datetime="{date}">x</time>{body}'
                      f'</body></html>').encode()
        items.append(f'<a data-link-name="article" href="{url}">g{j}</a>')
        if rng.random() < 0.25:
            items.append(f'<a data-link-name="article" href="{url}">dup</a>')
    # the round-1 regression case: off-site ABSOLUTE https link with the
    # article marker — reference provably drops it (href prefix test)
    items.append('<a data-link-name="article" '
                 'href="https://www.example-news.com/offsite">off</a>')
    # relative href: fails the prefix test on the RAW href
    items.append('<a data-link-name="article" href="/world/rel">rel</a>')
    pages[f"https://{host}/international"] = (
        '<html><body>' + "".join(items) + '</body></html>').encode()
    seeds.append((f"https://{host}/international", sid, "guardian"))
    return sid + 1


def _synth_investing_site(rng, pages, seeds, sid) -> int:
    """Investing-shaped fixture: page-range list pages (S3), list-page
    metadata cache (title/description/date extracted on the list page),
    '/pro/' skip, datetime-attr date, >100-char content gate with
    description fallback (investing_parser.py:43-48,127-298)."""
    host = "www.investing.com"
    base = f"https://{host}/commodities/gold-news"
    aid = 0
    for page in range(1, 4):                # page range 1..3 (S3 seed gen)
        lis = []
        for _ in range(6):
            url = f"https://{host}/news/commodities/i{aid}"
            title = f"Gold update {aid} ({rng.choice(_WORDS)})"
            desc = f"Summary of gold story {aid}: {_para_words(rng, 4, 9)}"
            d = (EPOCH_TS + _dt.timedelta(days=aid % 5))
            dt_attr = d.strftime("%Y-%m-%d") + f" {rng.randrange(24):02d}:30:00"
            if aid % 5 == 4:
                # short article (<100 chars) → description fallback (:273-281)
                art_body = ('<div id="article"><div class="article_WYSIWYG__O0uhw">'
                            '<p>Too short.</p></div></div>')
            elif aid % 5 == 3:
                # no WYSIWYG class → cascade falls through to div#article
                art_body = ('<div id="article"><p>' +
                            " ".join(_para_words(rng, 10, 20)
                                     for _ in range(3)) + '</p></div>')
            else:
                art_body = ('<div id="article"><div class="article_WYSIWYG__O0uhw">'
                            + "".join(f'<p>{_para_words(rng, 10, 20)} '
                                      f'{_para_words(rng, 10, 20)}</p>'
                                      for _ in range(2)) + '</div></div>')
            pages[url] = (f'<html><body><h1>ignored {aid}</h1>{art_body}'
                          f'</body></html>').encode()
            lis.append(
                f'<li><a data-test="article-title-link" href="{url}">{title}</a>'
                f'<p data-test="article-description">{desc}</p>'
                f'<time data-test="article-publish-date" datetime="{dt_attr}">'
                f'now</time></li>')
            aid += 1
        # '/pro/' premium link → skipped (:187-189)
        lis.append(f'<li><a data-test="article-title-link" '
                   f'href="https://{host}/pro/premium{page}">Pro story</a></li>')
        # empty-title item → skipped (:164)
        lis.append(f'<li><a data-test="article-title-link" '
                   f'href="https://{host}/news/commodities/untitled{page}">'
                   f'</a></li>')
        # li without the title link at all → skipped
        lis.append('<li><span>ad</span></li>')
        pages[f"{base}/{page}"] = (
            f'<html><body><ul data-test="news-list">{"".join(lis)}</ul>'
            f'</body></html>').encode()
        # one source spanning the page range: same source_id per page seed,
        # like the reference's single crawler over pages 1..N
        seeds.append((f"{base}/{page}", sid, "investing"))
    return sid + 1


def web_to_pages_rows(web: Dict[str, object]) -> List[Tuple]:
    """pages dict → rows of the input_hint schema (url, warc_ts, html, text, lang)."""
    rows = []
    for i, (url, html) in enumerate(sorted(web["pages"].items())):
        art = refspec.extract_article(html, "rbc")
        text = refspec.normalize_content(art["content"]) if art else None
        ts = EPOCH_TS + _dt.timedelta(seconds=i)
        rows.append((url, ts, bytearray(html), text, "en"))
    return rows


def pages_df(spark: SparkSession, web: Dict[str, object],
             n_partitions: int = 8) -> DataFrame:
    return spark.createDataFrame(
        web_to_pages_rows(web),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    ).repartition(n_partitions, "url")


def seeds_df(spark: SparkSession, web: Dict[str, object]) -> DataFrame:
    rows = [(u, s, p, i) for i, (u, s, p) in enumerate(web["seeds"])]
    return spark.createDataFrame(
        rows, schema="url string, source_id bigint, parser_class string, priority int")


# ---------------------------------------------------------------------------
# Distributed pages construction from the driver's `documents` table
# ---------------------------------------------------------------------------

N_HOSTS_DOCS = 20

def _escape(col):
    # mirror html escaping; oracle SQL performs the inverse-by-construction
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(col, "&", "&amp;"), "<", "&lt;"),
        ">", "&gt;")


def _host_id(doc_id):
    """Zipf-ish skew: ~30% of docs land on host 0 (hot host)."""
    return F.when(F.pmod(doc_id, F.lit(10)) < 3, F.lit(0)) \
            .otherwise(F.lit(1) + F.pmod(doc_id, F.lit(N_HOSTS_DOCS - 1)))


def doc_urls(docs: DataFrame) -> DataFrame:
    """Derive (doc_id, host, url_canon, url_raw, pub_date) — pure expressions."""
    d = docs.select("doc_id", "text", "lang")
    # hosts carry 'rbc.ua' so the exact rbc link predicate
    # (rbc_ukraine_parser.py:130) keeps the discovered links
    host = F.concat(F.lit("www.h"), _host_id(F.col("doc_id")).cast("string"),
                    F.lit(".rbc.ua"))
    url_canon = F.concat(F.lit("https://"), host, F.lit("/news/d"),
                         F.col("doc_id").cast("string"), F.lit("?a=1&b=2"))
    # raw form carries canonicalizer fodder: uppercase scheme+host, unsorted
    # query, fragment
    url_raw = F.concat(F.lit("HTTPS://"), F.upper(host), F.lit("/news/d"),
                       F.col("doc_id").cast("string"), F.lit("?b=2&a=1#ref"))
    pub_date = F.date_format(
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.pmod(F.col("doc_id"), F.lit(60)).cast("int")),
        "yyyy-MM-dd")
    return d.select("doc_id", "text", "lang", host.alias("host"),
                    url_canon.alias("url_canon"), url_raw.alias("url_raw"),
                    pub_date.alias("pub_date"))


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages table of input_hint shape derived from documents.parquet.

    html embeds the document text as paragraph 1 (plus an empty paragraph and
    a deterministic trailer paragraph), so the expected post-extraction,
    post-normalization content is SQL-expressible:
        trim(text) || chr(10) || 'End of document ' || doc_id || '.'
    """
    docs = read_fixture(spark, sf_dir, "documents")
    u = doc_urls(docs)
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    html = F.concat(
        F.lit('<html><body><h1 class="article__title">'), title,
        F.lit('</h1><div class="article__text"><p>'), _escape(F.col("text")),
        F.lit('</p><p>   </p><p>End of document '),
        F.col("doc_id").cast("string"), F.lit('.</p></div></body></html>'))
    expected_text = F.concat(
        F.trim(F.col("text")), F.lit("\nEnd of document "),
        F.col("doc_id").cast("string"), F.lit("."))
    return u.select(
        F.col("url_canon").alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        expected_text.alias("text"),
        F.col("lang"),
    )


def synth_pages_range(spark: SparkSession, n_docs: int, n_hosts: int = 256,
                      n_partitions: int = 64, para_repeat: int = 6
                      ) -> DataFrame:
    """Deterministic pages table from spark.range — no driver data, no UDF,
    whole-stage-codegen all the way to the parquet write. Used by the
    scaling benchmark, where both parallelism levels must see byte-identical
    input. ~30% of docs land on host 0 (Zipf-ish hot-host skew, same knob as
    _host_id) so the bench exercises the skew path too."""
    d = spark.range(0, n_docs, 1, n_partitions).withColumnRenamed("id", "doc_id")
    host = F.concat(
        F.lit("www.s"),
        F.when(F.pmod(F.col("doc_id"), F.lit(10)) < 3, F.lit(0))
         .otherwise(F.lit(1) + F.pmod(F.col("doc_id"), F.lit(n_hosts - 1)))
         .cast("string"),
        F.lit(".example.com"))
    # deterministic pseudo-text: repeated word salad keyed by doc_id
    words = F.concat_ws(
        " ", *[F.concat(F.lit(w + "-"),
                        F.pmod(F.col("doc_id") + i, F.lit(997)).cast("string"))
               for i, w in enumerate(_WORDS[:12])])
    para = F.concat(F.lit("<p>"), words, F.lit("</p>"))
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    html = F.concat(
        F.lit('<html><body><h1 class="article__title">'), title,
        F.lit('</h1><div class="article__text">'),
        F.concat_ws("", F.array_repeat(para, para_repeat)),
        F.lit('<p>   </p><p>End of document '),
        F.col("doc_id").cast("string"), F.lit('.</p></div></body></html>'))
    url = F.concat(F.lit("https://"), host, F.lit("/news/d"),
                   F.col("doc_id").cast("string"), F.lit("?a=1&b=2"))
    url_raw = F.concat(F.lit("HTTPS://"), F.upper(host), F.lit("/news/d"),
                       F.col("doc_id").cast("string"), F.lit("?b=2&a=1#x"))
    return d.select(
        F.col("doc_id"), url.alias("url"), url_raw.alias("url_raw"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"))


def archive_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One archive/list page per (host, pub_date) listing that day's article
    links in doc_id order — exercises link extraction + explode (U1) with a
    SQL-stateable expected output. Built with groupBy + concat_ws (JVM-side)."""
    docs = read_fixture(spark, sf_dir, "documents")
    u = doc_urls(docs)
    item = F.concat(F.lit('<div><a href="/news/d'), F.col("doc_id").cast("string"),
                    F.lit('?a=1&b=2"><span class="time">09:00</span> item</a></div>'))
    per_day = (u.select("host", "pub_date", "doc_id", item.alias("item"))
               .groupBy("host", "pub_date")
               .agg(F.concat_ws("", F.array_sort(
                   F.collect_list(F.struct("doc_id", "item"))).getField("item"))
                   .alias("items")))
    archive_url = F.concat(F.lit("https://"), F.col("host"), F.lit("/rus/archive/"),
                           F.regexp_replace("pub_date", "-", "/"))
    html = F.concat(F.lit('<html><body><div class="newsline">'), F.col("items"),
                    F.lit('</div></body></html>'))
    return per_day.select(
        archive_url.alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
