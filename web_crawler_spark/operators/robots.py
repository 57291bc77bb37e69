"""robots.txt cache as a broadcast map (north_rule politeness component).

The reference only gestures at robots.txt (PROJECT_SUMMARY.md:188 lists it
as future work; its politeness is the fixed REQUEST_DELAY at
/root/reference/app/scrapers/base_crawler.py:65-70). Here robots rules are
first-class:

* :func:`parse_robots` — minimal robots.txt parser (User-agent sections,
  Disallow prefixes, Crawl-delay) for the wildcard agent; pure function,
  reused inside the Arrow UDF and in tests.
* :func:`robots_rules_df` — robots bodies (host, body) → rules rows
  (host, crawl_delay, disallow array) via a pandas UDF.
* :func:`collect_rules` — rules → driver-side dict for broadcast: the rules
  table is host-cardinality (millions of rows at web scale, a few MB as
  prefix arrays), the classic broadcast-dimension shape.
* :func:`filter_allowed` — drop frontier rows whose path matches a
  disallowed prefix for their host: a broadcast LEFT ANTI join against the
  exploded (host, prefix) pairs, JVM-side, no per-row Python.
* :func:`host_delays` — the Crawl-delays that exceed the default, as the
  {host: seconds} map politeness.schedule_epoch joins.

Integration: CrawlEngine derives host_delays once at init, passes it to
every politeness.schedule_epoch call, and filters the frontier with
filter_allowed before scheduling (tombstoning the inverted, dropped rows).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Dict, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

RULES_SCHEMA = "struct<crawl_delay:double, disallow:array<string>>"


def parse_robots(body: str, agent: str = "*") -> Tuple[float, List[str]]:
    """(crawl_delay, disallow_prefixes) for the given agent, falling back to
    the '*' section. Unknown directives ignored; empty Disallow means
    allow-all (per the de-facto standard)."""
    sections: Dict[str, Dict[str, object]] = {}
    current: List[str] = []
    prev_was_agent = False
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            # blank line terminates the group: directives in a group-less
            # record that follows are invalid per RFC 9309 and must be
            # ignored, not attached to the previous group
            prev_was_agent = False
            current = []
            continue
        if ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            sections.setdefault(val.lower(), {"delay": None, "dis": []})
            # consecutive User-agent lines form ONE group sharing the rules
            # that follow (robots de-facto standard)
            if prev_was_agent:
                current.append(val.lower())
            else:
                current = [val.lower()]
            prev_was_agent = True
            continue
        prev_was_agent = False
        if key == "disallow" and current:
            if val:
                for a in current:
                    sections[a]["dis"].append(val)
        elif key == "crawl-delay" and current:
            try:
                for a in current:
                    sections[a]["delay"] = float(val)
            except ValueError:
                pass
    sec = sections.get(agent.lower()) or sections.get("*") or \
        {"delay": None, "dis": []}
    return (sec["delay"] if sec["delay"] is not None else 0.0,
            list(sec["dis"]))


@lru_cache(maxsize=1)
def _rules_udf():
    @pandas_udf(RULES_SCHEMA)
    def _rules(bodies: pd.Series) -> pd.DataFrame:
        delays, dis = [], []
        for b in bodies:
            d, p = parse_robots(b if b is not None else "")
            delays.append(d)
            dis.append(p)
        return pd.DataFrame({"crawl_delay": delays, "disallow": dis})
    return _rules.asNondeterministic()


def robots_rules_df(robots_pages: DataFrame, host_col: str = "host",
                    body_col: str = "body") -> DataFrame:
    """(host, body) → (host, crawl_delay, disallow)."""
    r = robots_pages.withColumn("__r", _rules_udf()(F.col(body_col)))
    return r.select(F.col(host_col).alias("host"),
                    F.col("__r.crawl_delay").alias("crawl_delay"),
                    F.col("__r.disallow").alias("disallow"))


def collect_rules(rules: DataFrame) -> Dict[str, Tuple[float, List[str]]]:
    """Driver-side map for broadcast. At web scale, restrict to hosts
    present in the current epoch's frontier before collecting."""
    return {r["host"]: (r["crawl_delay"], list(r["disallow"] or []))
            for r in rules.collect()}


def filter_allowed(frontier: DataFrame,
                   rules: Dict[str, Tuple[float, List[str]]],
                   url_col: str = "url", host_col: str = "host",
                   invert: bool = False) -> DataFrame:
    """Drop rows whose URL path starts with a disallowed prefix for its
    host; hosts without rules are allow-all. ``invert=True`` returns the
    DISALLOWED rows instead (the epoch tombstones them so a blocked row is
    consumed once, not re-dropped every epoch forever).

    One plan at any map size: a broadcast LEFT ANTI (or LEFT SEMI when
    inverted) join against the exploded (host, prefix) rules. A null host
    equals no rule host, so null-host rows are allow-all. An empty map adds
    no join."""
    pairs = [(h, p) for h, (_d, ps) in rules.items() for p in ps]
    if not pairs:
        return frontier.limit(0) if invert else frontier
    path = F.regexp_replace(F.col(url_col), r"^[a-z]+://[^/]+", "")
    rules_df = frontier.sparkSession.createDataFrame(
        pairs, schema="__r_host string, __r_prefix string")
    return (frontier.withColumn("__path", path)
            .join(F.broadcast(rules_df),
                  (F.col(host_col) == F.col("__r_host")) &
                  F.col("__path").startswith(F.col("__r_prefix")),
                  "left_semi" if invert else "left_anti")
            .drop("__path"))


def host_delays(rules: Dict[str, Tuple[float, List[str]]],
                default_delay: float = 1.0) -> Dict[str, float]:
    """Per-host crawl delays for politeness.schedule_epoch: robots
    Crawl-delay wins over the default when larger."""
    return {h: max(d, default_delay) for h, (d, _p) in rules.items()
            if d and d > default_delay}
