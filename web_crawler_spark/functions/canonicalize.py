"""URL canonicalization / absolutization as Arrow-batched pandas UDFs.

North-rule canonicalizer: scheme/host lowercase, query sort, fragment strip —
a superset of the reference's urljoin + validity check
(/root/reference/app/scrapers/base_crawler.py:91-101). Per-row logic lives in
``refspec`` (shared with the golden oracle); here it is vectorized over
pandas Series inside Arrow batches, so the executor-side cost is one Python
call per ~10k rows, not per row.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import refspec

# UDFs are created lazily (DDL return-type parsing needs an active session)
# and cached so Catalyst sees one function identity per process.

#: URLs this regex matches are canonicalizable WITHOUT urllib: no userinfo,
#: plain host charset (no IPv6/IDN/percent-escapes), query restricted to
#: characters urlencode leaves untouched. Everything else falls back to
#: refspec.canonicalize_url row-by-row, so the fast path can never change
#: semantics — only skip urllib's object machinery (measured ~8 s of a 46 s
#: 960k-URL epoch at 8 cores).
_SIMPLE_RE = re.compile(
    r"^([A-Za-z][A-Za-z0-9+.\-]*)://"       # scheme
    r"([A-Za-z0-9.\-]+)(?::(\d+))?"          # host [:port], no userinfo
    r"(/[^?#]*)?"                             # path (may be empty)
    r"(?:\?([A-Za-z0-9_.~\-=&]*))?"           # query, urlencode-neutral chars
    r"(?:#.*)?$")                             # fragment (stripped)


#: sentinel distinguishing "unparseable query → urllib fallback" from
#: "empty query"
_FALLBACK = object()


@lru_cache(maxsize=65536)
def _sort_query(q) -> object:
    """Sorted-query rejoin for fast-path rows; returns _FALLBACK to force
    the urllib fallback when the segment shape could re-encode differently
    (parse_qsl+urlencode semantics: one '=' per pair, non-empty key,
    empties dropped). Tuple sort, NOT string sort — 'a-=x' vs 'a=y' order
    differs between the two. Pure + cached: query-string patterns repeat
    heavily across a crawl (tracking params, pagination)."""
    if q is None or (isinstance(q, float) and q != q) or q == "":
        return ""
    kv = []
    for p in q.split("&"):
        if not p:
            continue
        if p.count("=") != 1:
            return _FALLBACK
        k, _, v = p.partition("=")
        if not k:
            return _FALLBACK
        kv.append((k, v))
    kv.sort()
    return "?" + "&".join(f"{k}={v}" for k, v in kv) if kv else ""


def canonicalize_batch(urls: pd.Series) -> pd.Series:
    """Vectorized north-rule canonicalizer over one Arrow batch: one regex
    group-extract + vectorized string assembly for the common shape
    (byte-identical to refspec.canonicalize_url — property-tested), per-row
    Python only for query sorting and the urllib fallback."""
    s = urls.astype("object")
    g = s.str.extract(_SIMPLE_RE)
    scheme = g[0].str.lower()
    host = g[1].str.lower()
    port = g[2]
    keep_port = port.notna() & ~(
        (scheme.eq("http") & port.eq("80")) |
        (scheme.eq("https") & port.eq("443")))
    port_sfx = (":" + port).where(keep_port, "")
    path = g[3].where(g[3].notna() & g[3].ne(""), "/")
    q_raw = g[4].map(_sort_query, na_action=None)
    bad_q = q_raw.map(lambda x: x is _FALLBACK)
    q_sfx = q_raw.where(~bad_q, "")
    canon = scheme + "://" + host + port_sfx + path + q_sfx.astype("object")
    # fallback rows: didn't match the simple grammar, or query unprovable
    bad = scheme.isna() | bad_q
    if bad.any():
        canon[bad] = [refspec.canonicalize_url(u) if u else None
                      for u in s[bad]]
    empty = s.isna() | s.eq("")
    if empty.any():
        canon[empty] = None
    return canon.rename(None)


@lru_cache(maxsize=1)
def canonicalize_udf():
    @pandas_udf("string")
    def _canon(urls: pd.Series) -> pd.Series:
        return canonicalize_batch(urls)
    return _canon


@lru_cache(maxsize=1)
def canon_host_udf():
    """url → struct(url_canon, host) in ONE Arrow pass (vectorized batch
    canonicalizer; host extracted from the canonical form, which always has
    a lowercase netloc followed by a '/'-rooted path).

    Marked nondeterministic on purpose: it is pure, but the flag stops
    Catalyst from duplicating the evaluation when a downstream null-filter is
    pushed through the projection (observed: 3× UDF evaluation of the
    canonicalizer in the epoch plan without it)."""
    @pandas_udf("struct<url_canon:string, host:string>")
    def _ch(urls: pd.Series) -> pd.DataFrame:
        canon_urls = canonicalize_batch(urls)
        hosts = canon_urls.str.extract(r"^[^:]+://([^/]+)", expand=False)
        return pd.DataFrame({"url_canon": canon_urls, "host": hosts})
    return _ch.asNondeterministic()


def with_canonical(df, url_col: str = "url") -> "DataFrame":
    """Add url_canon + host columns; drop rows that fail validity (P2).
    One Arrow evaluation per row total (see canon_host_udf)."""
    return (df
            .withColumn("__ch", canon_host_udf()(F.col(url_col)))
            .withColumn("url_canon", F.col("__ch.url_canon"))
            .withColumn("host", F.col("__ch.host"))
            .drop("__ch")
            .filter(F.col("url_canon").isNotNull()))

