"""robots.txt broadcast map + LakeTable MERGE upsert."""

from pyspark.sql import functions as F

from web_crawler_spark.operators import robots
from web_crawler_spark.sources.tables import LakeTable

ROBOTS = """
# comment
User-agent: *
Disallow: /private/
Disallow: /tmp
Crawl-delay: 2.5

User-agent: evilbot
Disallow: /
"""


def test_parse_robots_sections():
    delay, dis = robots.parse_robots(ROBOTS)
    assert delay == 2.5
    assert dis == ["/private/", "/tmp"]
    delay_e, dis_e = robots.parse_robots(ROBOTS, agent="EvilBot")
    assert dis_e == ["/"]
    assert robots.parse_robots("") == (0.0, [])


def test_robots_rules_df_and_filter(spark):
    pages = spark.createDataFrame(
        [("h1.com", ROBOTS), ("h2.com", None)],
        schema="host string, body string")
    rules = robots.collect_rules(robots.robots_rules_df(pages))
    assert rules["h1.com"] == (2.5, ["/private/", "/tmp"])
    assert rules["h2.com"] == (0.0, [])
    frontier = spark.createDataFrame(
        [("https://h1.com/private/x", "h1.com"),
         ("https://h1.com/tmpfile", "h1.com"),      # prefix match, no slash
         ("https://h1.com/news/a", "h1.com"),
         ("https://h2.com/private/x", "h2.com")],   # h2 has no rules
        schema="url string, host string")
    kept = {r.url for r in robots.filter_allowed(frontier, rules).collect()}
    assert kept == {"https://h1.com/news/a", "https://h2.com/private/x"}
    assert robots.host_delays(rules, default_delay=1.0) == {"h1.com": 2.5}


def test_engine_respects_robots(spark, tmp_path):
    """Disallowed article URLs are never fetched and robots Crawl-delay
    stretches the host's politeness schedule."""
    from web_crawler_spark import html_synth
    from web_crawler_spark.plans.epoch import CrawlConfig, CrawlEngine
    web = html_synth.synth_web(n_articles=40, n_hosts=3, seed=7)
    pages = html_synth.pages_df(spark, web, n_partitions=4)
    seeds = html_synth.seeds_df(spark, web)
    hot = web["hosts"][0]
    rules = {hot: (0.0, ["/news/"])}     # ban all articles on the hot host
    eng = CrawlEngine(spark, str(tmp_path / "lake"), pages,
                      CrawlConfig(robots_rules=rules))
    eng.run(seeds, max_epochs=3)
    arts = eng.articles.read(spark)
    assert arts.count() > 0
    banned = arts.filter(F.col("url").contains(hot)).count()
    assert banned == 0


def test_parse_robots_grouped_agents():
    """Consecutive User-agent lines form one group sharing the rules; a
    blank line terminates the group."""
    body = "User-agent: googlebot\nUser-agent: mybot\nDisallow: /private/\n"
    assert robots.parse_robots(body, "googlebot") == (0.0, ["/private/"])
    assert robots.parse_robots(body, "mybot") == (0.0, ["/private/"])
    split = "User-agent: a\n\nUser-agent: b\nDisallow: /y\n"
    assert robots.parse_robots(split, "a") == (0.0, [])
    assert robots.parse_robots(split, "b") == (0.0, ["/y"])


def test_filter_allowed_join_path_matches_inline(spark):
    """The broadcast anti-join filters by (host, prefix) PAIRS at any map
    size: a prefix disallowed on one host leaves the same path on another
    host allowed, hosts without rules are allow-all, and invert=True
    returns exactly the complement."""
    rules = {f"h{i}.com": (0.0, [f"/p{i}/", "/z/"]) for i in range(40)}
    rows = [(f"https://h{i}.com{path}", f"h{i}.com")
            for i in range(40)
            for path in (f"/p{i}/x", "/z/q", "/ok/a",
                         f"/p{(i + 1) % 40}/y")]     # another host's prefix
    rows += [("https://free.com/p0/x", "free.com"),
             ("https://free.com/z/q", "free.com")]   # no rules: allow-all
    frontier = spark.createDataFrame(rows, schema="url string, host string")
    every = {u for u, _h in rows}

    def urls(rs, invert=False):
        return {r.url for r in robots.filter_allowed(
            frontier, rs, invert=invert).collect()}

    dropped = ({f"https://h{i}.com/p{i}/x" for i in range(40)} |
               {f"https://h{i}.com/z/q" for i in range(40)})
    assert urls(rules) == every - dropped
    assert urls(rules, invert=True) == dropped
    small = {"h1.com": rules["h1.com"]}
    small_dropped = {"https://h1.com/p1/x", "https://h1.com/z/q"}
    assert urls(small) == every - small_dropped
    assert urls(small, invert=True) == small_dropped


def test_laketable_merge_dedups_update_batch(spark, tmp_path):
    t = LakeTable(str(tmp_path / "m"), "k string, v string")
    dup_batch = spark.createDataFrame(
        [("a", "2"), ("a", "1"), ("b", "9")], schema="k string, v string")
    t.merge(spark, dup_batch, "k", 0)
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {"a": "1", "b": "9"}   # deterministic first-by-sort
    t.merge(spark, spark.createDataFrame(
        [("b", "2"), ("c", "2")], schema="k string, v string"), "k", 1)
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {"a": "1", "b": "9", "c": "2"}   # existing row wins


def test_stream_sessionize_empty_input(spark):
    from web_crawler_spark.streaming import sessions
    empty = spark.createDataFrame(
        [], schema="user_id bigint, event_id bigint, ts timestamp")
    out = sessions.stream_sessionize(spark, empty)
    assert out.count() == 0
    assert out.columns == ["user_id", "n_sessions"]


def test_parse_robots_groupless_directives_ignored():
    """RFC 9309: directives after a blank line with no User-agent of their
    own belong to NO group — they must not attach to the previous group."""
    body = ("User-agent: *\nDisallow: /a\n"
            "\n"
            "Disallow: /orphan\nCrawl-delay: 9\n")
    delay, dis = robots.parse_robots(body)
    assert dis == ["/a"]
    assert delay == 0.0


def test_filter_allowed_null_host_consistent(spark):
    """Null-host rows are allow-all at any map size: a null host equals no
    rule host, so the row is kept and never lands in the inverted set."""
    frontier = spark.createDataFrame(
        [("https://h1.com/private/x", "h1.com"), ("relative/only", None),
         ("/private/y", None)],
        schema="url string, host string")
    small = {"h1.com": (0.0, ["/private/"])}
    big = dict(small, **{f"x{i}.com": (0.0, [f"/p{i}/"]) for i in range(80)})
    for rules in (small, big):
        kept = {r.url for r in robots.filter_allowed(frontier, rules)
                .collect()}
        gone = {r.url for r in robots.filter_allowed(frontier, rules,
                                                     invert=True).collect()}
        assert kept == {"relative/only", "/private/y"}
        assert gone == {"https://h1.com/private/x"}


def test_stream_sessionize_single_file_per_trigger(spark):
    """Regression (round-1 ADVICE): with maxFilesPerTrigger=1 the watermark
    used to finalize sessions before all micro-batches arrived, silently
    corrupting counts. The span-covering watermark must make the trigger
    granularity irrelevant."""
    import datetime as dt
    from web_crawler_spark.streaming import sessions
    base = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(20):
        for k in range(4):           # 2 sessions per user (gap at k==2)
            off = dt.timedelta(minutes=10 * k) if k < 2 else \
                dt.timedelta(days=1, minutes=10 * k)
            rows.append((u, u * 10 + k, base + off))
    ev = spark.createDataFrame(
        rows, schema="user_id bigint, event_id bigint, ts timestamp")
    got = {r.user_id: r.n_sessions for r in
           sessions.stream_sessionize(spark, ev, files_per_trigger=1)
           .collect()}
    assert got == {u: 2 for u in range(20)}
