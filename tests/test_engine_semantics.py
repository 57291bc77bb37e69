"""Engine-semantics gates added in round 2: the 429/backoff retry path
(S5/T3), sources registry with last_crawled (S1/S13), API early-stop
pagination + full-content refetch (S7/S8), and the LakeTable.merge
dim-table guard."""

import json

import pytest
from pyspark.sql import functions as F

from web_crawler_spark import html_synth, queries, refspec
from web_crawler_spark.plans.epoch import (CrawlConfig, CrawlEngine,
                                           pages_fetcher)


@pytest.fixture(scope="module")
def web():
    return html_synth.synth_web(n_articles=60, n_hosts=3, seed=7)


def _engine(spark, wd, web, wrap_fetch=None, **cfg):
    pages = html_synth.pages_df(spark, web)
    seeds = html_synth.seeds_df(spark, web)
    if wrap_fetch is not None:
        cfg["fetch_via"] = wrap_fetch(pages_fetcher(pages))
    eng = CrawlEngine(spark, wd, pages, CrawlConfig(**cfg))
    return eng, seeds


# ---------------------------------------------------------------- S5/T3 429
def test_backoff_requeue_retries_then_succeeds(spark, tmp_path, web,
                                               inject_429):
    """A url 429-ing once is re-enqueued with the 60 s penalty and fetched
    on a later epoch; the final article set equals the fault-free golden."""
    golden = refspec.simulate_crawl(web["pages"], web["seeds"])
    victims = [a["url"] for a in golden["articles"]][:3]
    eng, seeds = _engine(
        spark, str(tmp_path / "w"), web,
        wrap_fetch=lambda f: inject_429(f, {u: 1 for u in victims}))
    eng.bootstrap(seeds)
    eng.run_epoch(0)
    # epoch 0 list pages fetched; epoch 1 articles fetched, victims 429
    eng.run_epoch(1)
    stored = {r["url"] for r in eng.articles.read(spark).collect()}
    assert not (set(victims) & stored), "429'd urls must not store in epoch 1"
    fr = eng.frontier.read(spark).filter(F.col("url").isin(victims)).collect()
    assert len(fr) == len(victims), "victims must be re-enqueued"
    assert all(r["retries"] == 1 for r in fr)
    assert all(r["next_fetch_ts"] >= 60.0 for r in fr), \
        "60 s rate-limit penalty (base_fetcher.py:123-126)"
    eng.run(seeds=None, max_epochs=6)
    got = {r["url"] for r in eng.articles.read(spark).collect()}
    assert got == {a["url"] for a in golden["articles"]}
    # the retried rows' schedule stayed monotone past the penalty
    arts = eng.articles.read(spark).filter(F.col("url").isin(victims))
    assert arts.count() == len(victims)


def test_backoff_gives_up_after_max_retries(spark, tmp_path, web,
                                            inject_429):
    """A url that 429s more than MAX_RETRIES times is dropped for good
    (Retry(total=3) semantics, base_crawler.py:43-48) and the frontier
    still drains."""
    golden = refspec.simulate_crawl(web["pages"], web["seeds"])
    victim = golden["articles"][0]["url"]
    eng, seeds = _engine(spark, str(tmp_path / "w"), web,
                         wrap_fetch=lambda f: inject_429(f, {victim: 99}))
    eng.run(seeds, max_epochs=10)
    stored = {r["url"] for r in eng.articles.read(spark).collect()}
    assert victim not in stored
    assert stored == {a["url"] for a in golden["articles"]} - {victim}
    assert eng.frontier.read(spark).count() == 0, "frontier must drain"
    # 429 attempts surfaced in the error metrics
    m = eng.metrics.read(spark).agg(F.sum("errors")).first()[0]
    assert m and m >= 3


# ---------------------------------------------------------------- S1 + S13
def test_sources_registry_and_last_crawled(spark, tmp_path, web):
    """bootstrap registers the sources dim; inactive sources are never
    crawled (S1); a source that fetched reads a last_crawled stamp from
    the metrics rows (S13, database.py:134-146)."""
    pages = html_synth.pages_df(spark, web)
    seeds = html_synth.seeds_df(spark, web).withColumn(
        "is_active",
        F.when(F.col("source_id") == 0, F.lit(0)).otherwise(F.lit(1)))
    eng = CrawlEngine(spark, str(tmp_path / "w"), pages, CrawlConfig())
    eng.run(seeds, max_epochs=6)
    assert eng.sources.committed_epochs() == [0]
    src = {r["id"]: r for r in queries.with_last_crawled(
        eng.sources.read(spark), eng.metrics.read(spark)).collect()}
    assert set(src) == {s for (_, s, _) in web["seeds"]}
    assert src[0]["is_active"] == 0 and src[0]["last_crawled"] is None
    crawled_ids = {r["source_id"] for r in
                   eng.articles.read(spark).select("source_id").collect()}
    assert 0 not in crawled_ids, "inactive source must never crawl"
    for sid in crawled_ids:
        assert src[sid]["last_crawled"] is not None, sid
        assert "#epoch=" in src[sid]["last_crawled"]


def test_last_crawled_survives_crash_after_checkpoint(spark, tmp_path, web,
                                                      monkeypatch):
    """A crash between epoch N's checkpoint row and its frontier swap must
    not lose N's S13 stamp: the frontier still feeds N, so run() redoes N
    and writes its metrics rows again. Every source that stored articles
    in N reads a stamp of epoch >= N after the resume."""
    from web_crawler_spark.sources.tables import DeltaFrontier
    wd = str(tmp_path / "w")
    eng, seeds = _engine(spark, wd, web)
    eng.bootstrap(seeds)
    eng.run_epoch(0)

    def crash(*_a, **_k):
        raise RuntimeError("crash before the frontier swap")
    with monkeypatch.context() as m:
        m.setattr(DeltaFrontier, "commit_delta", crash)
        m.setattr(DeltaFrontier, "commit_replace", crash)
        with pytest.raises(RuntimeError, match="frontier swap"):
            eng.run_epoch(1)
    assert 1 in eng.checkpoints.committed_epochs()
    eng2, _ = _engine(spark, wd, web)
    eng2.run(max_epochs=6)
    stored_1 = {r["source_id"] for r in eng2.articles.read(spark)
                .filter(F.col("epoch") == 1).select("source_id").collect()}
    assert stored_1, "fixture must store articles in epoch 1"
    stamps = {r["id"]: r["last_crawled"]
              for r in queries.with_last_crawled(
                  eng2.sources.read(spark),
                  eng2.metrics.read(spark)).collect()}
    lost = {sid: stamps[sid] for sid in stored_1
            if int(stamps[sid].rsplit("#epoch=", 1)[1]) < 1}
    assert not lost, lost


def test_engine_reused_after_crash_redoes_the_epoch(spark, tmp_path, web,
                                                    monkeypatch):
    """run() on the same engine object after run_epoch(N) raised before its
    checkpoint must redo epoch N: the engine carries no state across
    epochs, so the retry takes N's input from the frontier manifest, which
    the crashed attempt never swapped."""
    golden = refspec.simulate_crawl(web["pages"], web["seeds"])
    eng, seeds = _engine(spark, str(tmp_path / "w"), web)
    eng.bootstrap(seeds)
    eng.run_epoch(0)

    def crash(*_a, **_k):
        raise RuntimeError("crash before the checkpoint")
    with monkeypatch.context() as m:
        m.setattr(eng.checkpoints, "append", crash)
        with pytest.raises(RuntimeError, match="before the checkpoint"):
            eng.run_epoch(1)
    eng.run(max_epochs=6)
    assert 1 in eng.checkpoints.committed_epochs()
    assert eng.frontier.read(spark).count() == 0
    assert {r["url"] for r in eng.articles.read(spark).collect()} == \
        {a["url"] for a in golden["articles"]}


# ------------------------------------------------------------------- S7/S8
def _page_body(n_arts, total, page, status="ok"):
    arts = [{"source": {"name": "s"}, "author": "a",
             "title": f"t{page}-{i}", "description": f"d{page}-{i}",
             "url": f"https://api.example/p{page}a{i}",
             "publishedAt": "2024-01-02T00:00:00Z",
             "content": f"c{page}-{i}"} for i in range(n_arts)]
    return json.dumps({"status": status, "totalResults": total,
                       "articles": arts})


def test_api_early_stop_total_results(spark):
    """fetch_all_articles:292-297 — stop once page*page_size >= totalResults;
    later pages are never consumed."""
    from web_crawler_spark.sources import api_adapter
    rows = [(p, _page_body(10, 24, p)) for p in range(1, 6)]
    pages = spark.createDataFrame(rows, schema="page bigint, body string")
    kept = api_adapter.paginate_early_stop(pages, page_size=10)
    assert sorted(r["page"] for r in kept.collect()) == [1, 2, 3]
    arts = api_adapter.articles_from_json_pages(kept)
    assert arts.count() == 30
    assert arts.filter(F.col("discovered_seq") >= 4_000_000).count() == 0


def test_api_early_stop_empty_and_error_pages(spark):
    """:277-285 — an error page or an empty page breaks the loop."""
    from web_crawler_spark.sources import api_adapter
    rows = [(1, _page_body(10, 1000, 1)),
            (2, _page_body(0, 1000, 2)),          # empty → break after p2
            (3, _page_body(10, 1000, 3))]
    pages = spark.createDataFrame(rows, schema="page bigint, body string")
    kept = api_adapter.paginate_early_stop(pages, page_size=10)
    assert sorted(r["page"] for r in kept.collect()) == [1, 2]
    rows = [(1, _page_body(10, 1000, 1)),
            (2, _page_body(10, 1000, 2, status="error")),
            (3, _page_body(10, 1000, 3))]
    pages = spark.createDataFrame(rows, schema="page bigint, body string")
    kept = api_adapter.paginate_early_stop(pages, page_size=10)
    assert sorted(r["page"] for r in kept.collect()) == [1, 2]
    # the error page itself contributes no articles
    assert api_adapter.articles_from_json_pages(kept).count() == 10


def test_api_refetch_full_content(spark):
    """S8 — flagged rows re-join the pages table; refetched text wins only
    when > 100 chars (newsapi_fetcher.py:102-134)."""
    from web_crawler_spark.sources import api_adapter
    long_body = ("<article><p>" + "full text word " * 20 + "</p></article>")
    short_body = "<article><p>tiny</p></article>"
    pages = spark.createDataFrame(
        [("https://a/1", bytearray(f"<h1>T</h1>{long_body}".encode())),
         ("https://a/2", bytearray(f"<h1>T</h1>{short_body}".encode()))],
        schema="url string, html binary")
    arts = spark.createDataFrame(
        [("https://a/1", "t1", "api-content-1"),
         ("https://a/2", "t2", "api-content-2"),
         ("https://a/3", "t3", "api-content-3")],   # no page → keep API text
        schema="url string, title string, content string")
    out = {r["url"]: r for r in
           api_adapter.refetch_full_content(arts, pages).collect()}
    assert out["https://a/1"]["content"].startswith("full text word")
    assert out["https://a/2"]["content"] == "api-content-2"   # <=100 chars
    assert out["https://a/3"]["content"] == "api-content-3"   # 404
    assert all(r["fetch_content"] for r in out.values())


# ------------------------------------------------------------- merge guard
def test_merge_is_dim_table_only(spark, tmp_path, monkeypatch):
    from web_crawler_spark.sources.tables import LakeTable
    t = LakeTable(str(tmp_path / "dim"), "k string, v bigint")
    df = spark.range(50).select(F.col("id").cast("string").alias("k"),
                                F.col("id").alias("v"))
    monkeypatch.setattr(LakeTable, "MERGE_MAX_ROWS", 100)
    t.merge(spark, df, "k", 0)                        # fine: under the cap
    monkeypatch.setattr(LakeTable, "MERGE_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="dim-table-only"):
        t.merge(spark, df, "k", 1)                    # fact-sized → refuse


def test_metrics_include_skipped_robots(spark, tmp_path, web):
    """Robots-disallowed frontier rows are counted per epoch, not silently
    dropped (ADVICE round 1)."""
    pages = html_synth.pages_df(spark, web)
    seeds = html_synth.seeds_df(spark, web)
    host = web["hosts"][0]
    eng = CrawlEngine(
        spark, str(tmp_path / "w"), pages,
        CrawlConfig(robots_rules={host: (0.0, ["/news/"])}))
    eng.run(seeds, max_epochs=4)
    total = eng.checkpoints.read(spark).select(
        F.sum("skipped_robots")).first()[0]
    assert total and total > 0
    # and the blocked host stored no articles
    blocked = (eng.articles.read(spark)
               .filter(F.col("url").contains(host))
               .filter(F.col("url").contains("/news/")).count())
    assert blocked == 0


# ------------------------------------------------------------- scheduling
def test_two_phase_truncation_equals_single_window(spark):
    """truncate_per_host with prebucketing returns exactly the same rows as
    the single-window plan (exact distributed top-k), while its plan sorts
    per (host, bucket) first — no single-task full-backlog sort."""
    import contextlib
    import io
    from web_crawler_spark.operators import politeness
    n = 20_000
    df = spark.range(n).select(
        F.concat(F.lit("https://hot/u"), F.col("id").cast("string"))
        .alias("url"),
        F.when(F.col("id") % 4 == 0, "hot.com")
        .otherwise(F.concat(F.lit("h"), (F.col("id") % 7).cast("string")))
        .alias("host"),
        (F.col("id") % 3).cast("int").alias("priority"),
        (F.col("id") % 11).cast("double").alias("next_fetch_ts"),
        F.col("id").alias("discovered_seq"))
    a = politeness.truncate_per_host(df, 100, prebucket=True)
    b = politeness.truncate_per_host(df, 100, prebucket=False)
    ka = {(r.host, r.discovered_seq) for r in a.collect()}
    kb = {(r.host, r.discovered_seq) for r in b.collect()}
    assert ka == kb
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        a.explain()
    plan = buf.getvalue()
    assert plan.count("Window") >= 2          # two-phase
    assert "__bkt" in plan                    # phase 1 partitions by bucket


def test_engine_with_bucketed_pages_matches_plain(spark, tmp_path, web):
    """The co-located fetch-join layout: CrawlEngine over a url-bucketed
    pages table produces the identical article set, and the join fragment
    has NO exchange on the (html-carrying) pages side."""
    import contextlib
    import io
    import re
    from web_crawler_spark.sources import tables as tb
    pages_plain = html_synth.pages_df(spark, web)
    path = str(tmp_path / "pages_bucketed")
    tb.write_bucketed_pages(pages_plain, path, table="pages_bkt_test",
                            n_buckets=8)
    pages_b = tb.read_bucketed_pages(spark, path, table="pages_bkt_test",
                                     n_buckets=8)
    seeds = html_synth.seeds_df(spark, web)
    eng = CrawlEngine(spark, str(tmp_path / "w"), pages_b, CrawlConfig())
    eng.run(seeds, max_epochs=6)
    golden = refspec.simulate_crawl(web["pages"], web["seeds"])
    got = {r["url"] for r in eng.articles.read(spark).collect()}
    assert got == {a["url"] for a in golden["articles"]}
    frontier = spark.createDataFrame(
        [(f"https://x/{i}",) for i in range(100)], "url string")
    j = frontier.hint("shuffle_hash").join(
        pages_b.select("url", "html"), "url", "left")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_multi_backend_sink_fanout(spark, tmp_path, web):
    """S11 — one cached article batch written to BOTH backends (lake table
    and CSV), read back equal (models/storage.py:37-85: db and/or csv per
    DATA_STORAGE)."""
    from web_crawler_spark.functions import extract as ex
    from web_crawler_spark.sources.tables import LakeTable
    golden = refspec.simulate_crawl(web["pages"], web["seeds"])
    arts = spark.createDataFrame(
        [(a["url"], a["title"], a["content"]) for a in golden["articles"]],
        schema="url string, title string, content string").cache()
    lake = LakeTable(str(tmp_path / "articles"),
                     "url string, title string, content string")
    lake.append(arts, epoch=0)
    csv_dir = str(tmp_path / "csv")
    (arts.select("url", "title",
                 ex.csv_flatten_col(F.col("content")).alias("content"))
     .write.option("header", True).csv(csv_dir))
    from_lake = {(r["url"], r["title"]) for r in lake.read(spark).collect()}
    from_csv = {(r["url"], r["title"]) for r in
                spark.read.option("header", True).csv(csv_dir).collect()}
    want = {(a["url"], a["title"]) for a in golden["articles"]}
    assert from_lake == want and from_csv == want
    arts.unpersist()


def test_schedule_invariants_with_retry_bumps(spark):
    """JVM window token bucket invariants on a frontier with random retry
    backoffs: per host, sched_ts is non-decreasing in crawl order, at least
    delay apart unless a next_fetch_ts bump collapsed the gap, and never
    before the row's own next_fetch_ts."""
    import random
    from web_crawler_spark.operators import politeness
    rng = random.Random(11)
    rows = []
    for i in range(3000):
        rows.append((f"https://h{i % 5}/u{i}", f"h{i % 5}",
                     rng.randrange(3), float(rng.choice([0.0, 0.0, 0.0, 37.5,
                                                         120.0, 61.0])), i))
    df = spark.createDataFrame(
        rows, schema="url string, host string, priority int, "
                     "next_fetch_ts double, discovered_seq bigint")
    out = politeness.schedule_epoch(df, default_delay=2.0,
                                    per_host_budget=10_000)
    got = {}
    for r in out.collect():
        got.setdefault(r["host"], []).append(
            (r["priority"], r["next_fetch_ts"], r["discovered_seq"],
             r["sched_ts"]))
    assert len(got) == 5
    for host, rs in got.items():
        rs.sort(key=lambda t: (t[0], t[1], t[2]))
        prev = None
        for k, (_p, nft, _seq, sched) in enumerate(rs):
            assert sched >= nft - 1e-9
            assert sched >= 2.0 * (k + 1) - 1e-9      # base pacing floor
            if prev is not None:
                assert sched >= prev - 1e-9           # monotone
            prev = sched


def test_schedule_epoch_keeps_first_k_per_host(spark):
    """Every host gets the same per_host_budget, filled by its first rows
    in (priority, next_fetch_ts, discovered_seq) order; the rest stay
    enqueued for a later epoch."""
    from web_crawler_spark.operators import politeness
    rows = [(f"u{h}{i}", h, "article", "rbc", 0, 0, i, 0.0, 0, None, None,
             None, 0)
            for h in ("a", "b") for i in range(10)]
    frontier = spark.createDataFrame(
        rows, schema=("url string, host string, kind string, "
                      "parser_class string, source_id bigint, priority int, "
                      "discovered_seq bigint, next_fetch_ts double, "
                      "retries int, date_str string, list_title string, "
                      "list_summary string, epoch_added int"))
    sched = politeness.schedule_epoch(frontier, per_host_budget=3,
                                      approx_rows=20)
    got = {}
    for r in sched.collect():
        got.setdefault(r["host"], []).append(r["discovered_seq"])
    assert {h: sorted(s) for h, s in got.items()} == \
        {"a": [0, 1, 2], "b": [0, 1, 2]}
    assert sched.columns == frontier.columns + ["sched_ts"]


def test_host_delay_broadcast_join_path_matches_inline(spark):
    """schedule_epoch joins the per-host delay map as a broadcast dim:
    with no backoff bumps every row's sched_ts is the closed form
    delay(host) x per-host rank, hosts outside the map (and a null host)
    pacing at the default delay."""
    from web_crawler_spark.operators import politeness
    rows = [(f"https://h{i % 100}/u{i}", f"h{i % 100}", 0, 0.0, i)
            for i in range(2000)]
    rows.append(("relative/only", None, 0, 0.0, 5000))
    df = spark.createDataFrame(
        rows, schema="url string, host string, priority int, "
                     "next_fetch_ts double, discovered_seq bigint")
    delays = {f"h{i}": 2.0 + i for i in range(90)}   # h90..h99: default
    got = {r["url"]: r["sched_ts"] for r in
           politeness.schedule_epoch(df, 1.0, host_delays=delays).collect()}
    want = {"relative/only": 1.0}
    for i in range(2000):
        rank = i // 100 + 1          # host h(i%100)'s rows in seq order
        want[f"https://h{i % 100}/u{i}"] = \
            delays.get(f"h{i % 100}", 1.0) * rank
    assert got == want


def test_engine_deterministic_across_shuffle_partitions(spark, tmp_path, web):
    """Identical article output under a different shuffle-partition count
    (complements the pinned local[4]/local[16] whole-engine determinism
    datapoint in BASELINE.md)."""
    golden = refspec.simulate_crawl(web["pages"], web["seeds"])
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        eng, seeds = _engine(spark, str(tmp_path / "w"), web)
        eng.run(seeds, max_epochs=6)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    got = {(r["url"], r["content"]) for r in
           eng.articles.read(spark).select("url", "content").collect()}
    assert got == {(a["url"], a["content"]) for a in golden["articles"]}
