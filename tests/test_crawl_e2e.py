"""End-to-end: Spark crawl engine vs the reference-semantics simulator.

North-rule gates (BASELINE.json):
  * byte-identical extracted text per url
  * URL-seen set equality under same seeds + politeness budget
  * crawl ordering equality (total order = (priority, discovered_seq),
    the distributed encoding of the reference's sequential loop)
  * resumable from checkpoint
"""

import pytest

from web_crawler_spark import html_synth, refspec
from web_crawler_spark.plans.epoch import CrawlConfig, CrawlEngine


@pytest.fixture(scope="module")
def web():
    return html_synth.synth_web(n_articles=120, n_hosts=6, seed=42)


@pytest.fixture(scope="module")
def golden(web):
    return refspec.simulate_crawl(web["pages"], web["seeds"])


def run_engine(spark, workdir, web, max_epochs=5, **cfg_kw):
    pages = html_synth.pages_df(spark, web)
    seeds = html_synth.seeds_df(spark, web)
    eng = CrawlEngine(spark, workdir, pages, CrawlConfig(**cfg_kw))
    eng.run(seeds, max_epochs=max_epochs)
    return eng


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory, web):
    wd = str(tmp_path_factory.mktemp("lake-e2e"))
    return run_engine(spark, wd, web)


def test_byte_identity_and_seen_set(spark, engine, golden):
    got = {r["url"]: r for r in engine.articles.read(spark).collect()}
    exp = {a["url"]: a for a in golden["articles"]}
    assert set(got) == set(exp), (
        f"seen-set: extra={set(got)-set(exp)} missing={set(exp)-set(got)}")
    for url, e in exp.items():
        g = got[url]
        assert g["title"] == e["title"], url
        assert g["content"] == e["content"], url          # byte-identical
        assert g["published_date"] == e["published_date"], url
        assert g["source_id"] == e["source_id"], url


def test_all_four_parser_classes_produce_articles(spark, engine, golden):
    """The fixture web carries rbc + bbc + guardian + investing sites; the
    engine must store articles from every parser class (guards against a
    predicate regression silently dropping one site)."""
    urls = [r["url"] for r in
            engine.articles.read(spark).select("url").collect()]
    for marker in ("rbc.ua", "www.bbc.com", "www.theguardian.com",
                   "www.investing.com"):
        assert any(marker in u for u in urls), f"no articles from {marker}"
    # and the golden simulator agrees it is non-degenerate
    gurls = [a["url"] for a in golden["articles"]]
    assert any("www.investing.com" in u for u in gurls)


def test_crawl_order_matches_reference(spark, engine, golden):
    ref_order = [u for (_, u, _, action, _) in golden["trace"]
                 if action == "fetched"]
    got_order = [r["url"] for r in engine.articles.read(spark)
                 .orderBy("priority", "discovered_seq").collect()]
    assert got_order == ref_order


def test_politeness_schedule_respects_delay(spark, workdir, web):
    """Within every host the scheduler's assigned fetch times must be at
    least request_delay apart (token bucket, base_crawler.py:65-70)."""
    from web_crawler_spark.operators.politeness import schedule_epoch
    pages = html_synth.pages_df(spark, web)
    seeds = html_synth.seeds_df(spark, web)
    eng = CrawlEngine(spark, workdir, pages, CrawlConfig(request_delay=2.0))
    eng.bootstrap(seeds)
    sched = schedule_epoch(eng.frontier.read(spark), default_delay=2.0)
    rows = sched.select("host", "sched_ts").collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r["sched_ts"])
    assert by_host
    for host, ts in by_host.items():
        ts = sorted(ts)
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        assert all(g >= 2.0 - 1e-9 for g in gaps), (host, gaps[:5])


HA, HB, HC = ("www.ha.rbc.ua", "www.hb.rbc.ua", "www.hc.rbc.ua")


def _hub_web():
    """Three rbc-shaped hosts; archives on HB and HC also cite HA's
    articles (absolute links), so HA's articles are discovered on three
    hosts' list pages."""
    pages = {}

    def art(host, name, aid):
        url = f"https://{host}/news/{name}{aid}"
        pages[url] = (
            f'<html><body><h1 class="article__title">T {name}{aid}</h1>'
            f'<div class="article__text"><p>body {name}{aid}</p></div>'
            f"</body></html>").encode()
        return url

    a_urls = [art(HA, "a", i) for i in range(6)]
    b_urls = [art(HB, "b", i) for i in range(6)]
    c_urls = [art(HC, "c", i) for i in range(6)]

    def item(href):
        return (f'<div><a href="{href}">'
                f'<span class="time">09:00</span> item</a></div>')

    def archive(host, own, cite=()):
        url = f"https://{host}/rus/archive/2024/01/01"
        items = [item(u.replace(f"https://{host}", "")) for u in own]
        items += [item(u) for u in cite]          # absolute cross-host links
        pages[url] = (f'<html><body><div class="newsline">'
                      f'{"".join(items)}</div></body></html>').encode()
        return url

    seeds = [(archive(HA, a_urls), 0, "rbc"),
             (archive(HB, b_urls, cite=a_urls), 1, "rbc"),
             (archive(HC, c_urls, cite=a_urls), 2, "rbc")]
    return {"pages": pages, "seeds": seeds}


def test_cross_host_links_are_budgeted_under_their_host(spark, tmp_path):
    """A list page's absolute link to another host becomes a frontier row
    of THAT host: HA's articles, also cited from HB and HC, are one
    6-row backlog under HA, and epoch 1 serves every host the same
    per_host_budget."""
    from pyspark.sql import functions as F
    web = _hub_web()
    pages = html_synth.pages_df(spark, web)
    seeds = html_synth.seeds_df(spark, web)
    eng = CrawlEngine(spark, str(tmp_path / "w"), pages,
                      CrawlConfig(request_delay=0.0, per_host_budget=3))
    eng.bootstrap(seeds)
    eng.run_epoch(0)
    eng.run_epoch(1)
    m = {r["host"]: r["fetched"] for r in
         eng.metrics.read(spark).filter(F.col("epoch") == 1).collect()}
    assert m == {HA: 3, HB: 3, HC: 3}
    left = {r["host"]: r["count"] for r in
            eng.frontier.read(spark).groupBy("host").count().collect()}
    assert left == {HA: 3, HB: 3, HC: 3}


def test_resume_from_checkpoint(spark, tmp_path, web, golden):
    """Run 1 epoch, 'crash', construct a fresh engine over the same workdir,
    finish — final state identical to an uninterrupted run."""
    wd = str(tmp_path / "lake-resume")
    pages = html_synth.pages_df(spark, web)
    seeds = html_synth.seeds_df(spark, web)
    eng1 = CrawlEngine(spark, wd, pages, CrawlConfig())
    eng1.bootstrap(seeds)
    eng1.run_epoch(0)                      # lists fetched, articles discovered
    # simulate crash + resume with a brand-new engine object
    eng2 = CrawlEngine(spark, wd, pages, CrawlConfig())
    eng2.run(seeds=None, max_epochs=5)
    got = {r["url"] for r in eng2.articles.read(spark).collect()}
    exp = {a["url"] for a in golden["articles"]}
    assert got == exp
    # idempotency: a third run does nothing
    n_before = eng2.articles.read(spark).count()
    eng3 = CrawlEngine(spark, wd, pages, CrawlConfig())
    eng3.run(seeds=None, max_epochs=2)
    assert eng3.articles.read(spark).count() == n_before


def test_date_filter_window(spark, tmp_path, web):
    """A date-windowed crawl stores exactly the reference's windowed article
    set, and every stored published_date lies inside the window."""
    wd = str(tmp_path / "lake-dates")
    pages = html_synth.pages_df(spark, web)
    seeds = html_synth.seeds_df(spark, web)
    cfg = CrawlConfig(start_date="2024-01-01", end_date="2024-01-02")
    eng = CrawlEngine(spark, wd, pages, cfg)
    eng.run(seeds, max_epochs=5)
    golden_windowed = refspec.simulate_crawl(
        web["pages"], web["seeds"], "2024-01-01", "2024-01-02")
    got = {r["url"] for r in eng.articles.read(spark).collect()}
    assert got == {a["url"] for a in golden_windowed["articles"]}
    dates = [r["published_date"] for r in eng.articles.read(spark).collect()]
    assert all(d is None or "2024-01-01" <= d <= "2024-01-02" for d in dates)


def test_metrics_and_checkpoints_written(spark, engine):
    m = engine.metrics.read(spark)
    assert m.count() > 0
    assert set(m.columns) == {"epoch", "host", "source_id", "fetched",
                              "parsed", "discovered", "errors"}
    cp = engine.checkpoints.read(spark).orderBy("epoch").collect()
    assert {"skipped_dup", "skipped_date", "skipped_robots"} <= \
        set(cp[0].asDict())
    assert [r["epoch"] for r in cp] == list(range(len(cp)))
    assert cp[-1]["frontier_out"] == 0     # drained
    # per-partition watermarked lineage (north_rule): every epoch has >=1
    # partition row; watermarks carry the politeness clock (monotone >= 0)
    pck = engine.partition_checkpoints.read(spark).collect()
    by_epoch = {}
    for r in pck:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert set(by_epoch) == set(range(len(cp)))
    assert all(r["watermark_ts"] >= 0 and r["rows_in"] >= r["rows_out"] >= 0
               for r in pck)
