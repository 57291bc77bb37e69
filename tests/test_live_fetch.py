"""S4-live: batched mapInArrow fetch behind a capability flag
(sources/live_fetch.py).

The engine's default fetch stays the pages-table join (the driver's
input_hint contract); these tests prove the live path is value-identical
when its transport serves the same bytes, that real status codes feed the
backoff machinery, that politeness cadence is honored in wall-clock when
asked, and that the network-touching default transport is hard-gated off.
"""

import time

import pytest
from pyspark.sql import functions as F

from web_crawler_spark import html_synth, refspec
from web_crawler_spark.plans.epoch import CrawlConfig, CrawlEngine
from web_crawler_spark.sources import live_fetch


@pytest.fixture(scope="module")
def web():
    return html_synth.synth_web(n_articles=60, n_hosts=3, seed=11)


def _page_bytes(web):
    return {u: (h.encode("utf-8") if isinstance(h, str) else bytes(h))
            for u, h in web["pages"].items()}


def test_fetch_batched_appends_status_and_body(spark):
    pages = {"https://h.com/a": b"<html>A</html>",
             "https://h.com/b": b"<html>B</html>"}
    df = spark.createDataFrame(
        [("https://h.com/a", 1), ("https://h.com/b", 2),
         ("https://h.com/missing", 3)],
        schema="url string, seq int")
    out = live_fetch.fetch_batched(df, live_fetch.table_transport(pages))
    assert out.columns == ["url", "seq", "html", "fetch_status"]
    rows = {r.url: r for r in out.collect()}
    assert bytes(rows["https://h.com/a"].html) == b"<html>A</html>"
    assert rows["https://h.com/a"].fetch_status == "ok"
    assert rows["https://h.com/missing"].html is None
    assert rows["https://h.com/missing"].fetch_status == "404"
    # input columns ride through untouched
    assert rows["https://h.com/b"].seq == 2


def test_default_transport_is_capability_gated(monkeypatch):
    monkeypatch.delenv("WCS_LIVE_FETCH", raising=False)
    tr = live_fetch.default_transport()
    with pytest.raises(RuntimeError, match="WCS_LIVE_FETCH"):
        tr(["https://example.com/"])


def test_engine_live_fetch_matches_join_path(spark, tmp_path, web):
    """The flagship equivalence gate: a CrawlEngine whose fetch_via is a
    transport serving the SAME bytes as the pages table stores the exact
    same article set as the join-path engine — and the join path is
    provably not involved (the live engine gets an EMPTY pages table)."""
    golden = refspec.simulate_crawl(web["pages"], web["seeds"])
    seeds = html_synth.seeds_df(spark, web)

    eng_join = CrawlEngine(spark, str(tmp_path / "join"),
                           html_synth.pages_df(spark, web), CrawlConfig())
    eng_join.run(seeds, max_epochs=8)

    empty_pages = spark.createDataFrame(
        [], schema="url string, warc_ts timestamp, html binary, "
                   "text string, lang string")
    fetcher = live_fetch.make_live_fetcher(
        live_fetch.table_transport(_page_bytes(web)))
    eng_live = CrawlEngine(spark, str(tmp_path / "live"), empty_pages,
                           CrawlConfig(fetch_via=fetcher))
    eng_live.run(seeds, max_epochs=8)

    cols = ["url", "title", "content", "published_date"]
    a = sorted(map(tuple, eng_join.articles.read(spark)
                   .select(*cols).collect()))
    b = sorted(map(tuple, eng_live.articles.read(spark)
                   .select(*cols).collect()))
    assert a == b
    assert {r[0] for r in a} == {x["url"] for x in golden["articles"]}


def test_live_fetch_429_feeds_backoff(spark, tmp_path, web):
    """Real transport status codes drive the S5 requeue: a url whose
    transport 429s once is re-enqueued with the rate-limit penalty and
    stored on a later epoch — same machinery as the inject_429 test fake."""
    golden = refspec.simulate_crawl(web["pages"], web["seeds"])
    victim = golden["articles"][0]["url"]
    pages = _page_bytes(web)
    # a mutable closure would NOT work here: every task unpickles its own
    # copy, so the victim would 429 on every epoch. The one-shot state
    # must live outside the closure — a marker file works in local mode
    # (the victim is scheduled in exactly one task per epoch, no race).
    flag = str(tmp_path / "fired-429")

    def flaky(urls):
        import os as _os
        out = []
        for u in urls:
            if u == victim and not _os.path.exists(flag):
                open(flag, "w").close()
                out.append(("429", None))
            else:
                body = pages.get(u)
                out.append(("ok", body) if body is not None
                           else ("404", None))
        return out
    empty_pages = spark.createDataFrame(
        [], schema="url string, warc_ts timestamp, html binary, "
                   "text string, lang string")
    eng = CrawlEngine(spark, str(tmp_path / "w"), empty_pages,
                      CrawlConfig(fetch_via=live_fetch.make_live_fetcher(flaky)))
    eng.bootstrap(html_synth.seeds_df(spark, web))
    eng.run_epoch(0)
    eng.run_epoch(1)                      # articles epoch: victim 429s
    fr = eng.frontier.read(spark).filter(F.col("url") == victim).collect()
    assert len(fr) == 1 and fr[0]["retries"] == 1
    assert fr[0]["next_fetch_ts"] >= 60.0
    eng.run(seeds=None, max_epochs=6)
    stored = {r["url"] for r in eng.articles.read(spark).collect()}
    assert stored == {x["url"] for x in golden["articles"]}


def test_respect_sched_waits_out_the_token_bucket(spark):
    """respect_sched=True: wall-clock spacing >= the sched_ts deltas. The
    5-row schedule spans 1.2 virtual seconds, so the single-host fetch
    cannot complete faster than that."""
    pages = {f"https://h.com/{i}": b"x" for i in range(5)}
    df = spark.createDataFrame(
        [(f"https://h.com/{i}", "h.com", 0.3 * i) for i in range(5)],
        schema="url string, host string, sched_ts double").coalesce(1)
    out = live_fetch.fetch_batched(df, live_fetch.table_transport(pages),
                                   respect_sched=True)
    t0 = time.monotonic()
    rows = out.collect()
    elapsed = time.monotonic() - t0
    assert len(rows) == 5 and all(r.fetch_status == "ok" for r in rows)
    assert elapsed >= 1.1, elapsed
    # and respect_sched demands the schedule and host columns
    for col in ("sched_ts", "host"):
        with pytest.raises(ValueError, match=col):
            live_fetch.fetch_batched(df.drop(col),
                                     live_fetch.table_transport(pages),
                                     respect_sched=True)


def test_respect_sched_paces_a_host_spread_over_partitions(spark, tmp_path):
    """The engine hands the fetcher url-hashed rows, so one host spans
    several partitions. Each host's consecutive fetches must still be at
    least their sched_ts delta apart: one partition clock per host, not
    one per partition (which fetched the first row of every partition at
    once)."""
    log = str(tmp_path / "fetch-times")

    def timed(urls):
        import time as _time
        with open(log, "a") as f:
            for u in urls:
                f.write(f"{u} {_time.time()!r}\n")
        return [("ok", b"x") for _ in urls]

    rows = [(f"https://{h}/{i}", h, 0.25 * i)
            for h in ("h.com", "g.com") for i in range(4)]
    df = spark.createDataFrame(
        rows, schema="url string, host string, sched_ts double"
    ).repartition(3, "url")
    spans = (df.select("host", F.spark_partition_id().alias("p"))
             .distinct().groupBy("host").count().collect())
    assert all(r["count"] >= 2 for r in spans), spans
    out = live_fetch.fetch_batched(df, timed, respect_sched=True).collect()
    assert len(out) == len(rows)
    sched = {u: s for u, _, s in rows}
    fetched_at = {}
    for line in open(log).read().splitlines():
        u, t = line.split()
        fetched_at[u] = float(t)
    assert set(fetched_at) == set(sched)
    for h in ("h.com", "g.com"):
        order = sorted((u for u in sched if f"//{h}/" in u), key=sched.get)
        for prev, cur in zip(order, order[1:]):
            gap = fetched_at[cur] - fetched_at[prev]
            assert gap >= sched[cur] - sched[prev] - 0.05, (h, prev, cur, gap)
