"""DeltaFrontier (merge-on-read frontier) — incremental-maintenance gates.

Round-3 verdict Next #3: the frontier must not be fully rewritten every
epoch. These tests pin (a) the delta-table semantics (equality deletes with
the Iceberg sequence-number rule, atomic adds+dels commit, compaction) and
(b) the engine-level efficiency criterion: an epoch that touches <1% of the
frontier's rows writes <~5% of the frontier's bytes.
"""

import os

from pyspark.sql import functions as F

from web_crawler_spark.plans.epoch import CrawlConfig, CrawlEngine
from web_crawler_spark.sources.tables import DeltaFrontier, _dir_bytes

DDL = ("url string, host string, kind string, parser_class string, "
       "source_id bigint, priority int, discovered_seq bigint, "
       "next_fetch_ts double, retries int, date_str string, "
       "list_title string, list_summary string, epoch_added int")


def _rows(spark, n, epoch_added=0, retries=0, host="h.com", start=0):
    return spark.range(start, start + n).select(
        F.concat(F.lit(f"https://{host}/a/"), F.col("id").cast("string"))
        .alias("url"),
        F.lit(host).alias("host"), F.lit("article").alias("kind"),
        F.lit("rbc").alias("parser_class"), F.lit(1).alias("source_id"),
        F.lit(1).alias("priority"), F.col("id").alias("discovered_seq"),
        F.lit(0.0).alias("next_fetch_ts"),
        F.lit(retries).alias("retries"),
        F.lit(None).cast("string").alias("date_str"),
        F.lit(None).cast("string").alias("list_title"),
        F.lit(None).cast("string").alias("list_summary"),
        F.lit(epoch_added).alias("epoch_added"))


def test_delta_read_applies_equality_deletes(spark, tmp_path):
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 10), epoch=0)
    adds = _rows(spark, 3, epoch_added=1, start=100)
    dels = _rows(spark, 4).select("url", "discovered_seq", "retries", "epoch_added")
    staged = t.stage_delta(adds, dels, epoch=1)
    # staged but uncommitted: old snapshot still visible (crash window)
    assert t.read(spark).count() == 10
    t.commit_delta(1, staged)
    live = t.read(spark)
    assert live.count() == 10 - 4 + 3
    gone = {r.url for r in dels.collect()}
    assert not {r.url for r in live.collect()} & gone


def test_delta_sequence_rule_same_epoch_add_not_shadowed(spark, tmp_path):
    """Iceberg v2 sequence numbers: a delete written by snapshot E kills
    only rows with epoch_added <= E-1 — a row RE-ADDED in the same commit
    (same equality key, newer epoch_added) survives its own tombstone."""
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 5), epoch=0)                 # epoch_added=0
    readd = _rows(spark, 2, epoch_added=1)                # SAME url+seq+retries
    dels = _rows(spark, 5).select("url", "discovered_seq", "retries", "epoch_added")
    t.commit_delta(1, t.stage_delta(readd, dels, epoch=1))
    live = t.read(spark).collect()
    assert len(live) == 2
    assert all(r.epoch_added == 1 for r in live)


def test_delta_tombstone_kills_exactly_one_duplicate(spark, tmp_path):
    """ADVICE r4: when the same (url, discovered_seq, retries) coexists in
    the frontier under two epoch_added values (url rediscovered across
    epochs) and only ONE copy is consumed, the tombstone must kill exactly
    that copy — epoch_added is part of the equality key, so the unscheduled
    twin survives and the live-row arithmetic stays exact."""
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 5, epoch_added=0), epoch=0)
    t.commit_delta(1, t.stage_delta(
        _rows(spark, 5, epoch_added=1),        # same url+seq+retries twins
        _rows(spark, 0).select("url", "discovered_seq", "retries",
                               "epoch_added"), 1))
    assert t.read(spark).count() == 10
    # consume ONLY the epoch_added=0 copies of the first 3 urls
    dels = _rows(spark, 3, epoch_added=0).select(
        "url", "discovered_seq", "retries", "epoch_added")
    t.commit_delta(2, t.stage_delta(_rows(spark, 0, start=900), dels, 2))
    live = t.read(spark).collect()
    assert len(live) == 7
    survivors = {(r.url, r.epoch_added) for r in live}
    for r in _rows(spark, 3, epoch_added=1).collect():
        assert (r.url, 1) in survivors         # twins untouched
    for r in _rows(spark, 3, epoch_added=0).collect():
        assert (r.url, 0) not in survivors     # consumed copies gone


def test_delta_compaction_folds_tombstones(spark, tmp_path):
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 100), epoch=0)
    dels = _rows(spark, 60).select("url", "discovered_seq", "retries", "epoch_added")
    t.commit_delta(1, t.stage_delta(_rows(spark, 0, start=500), dels, 1))
    before = t.read(spark).count()
    assert t.maybe_compact(spark, 2)
    s = t.stats()
    assert s["del_rows"] == 0 and s["snapshots"] == 1
    assert t.read(spark).count() == before == 40
    # and a small delete set does NOT trigger compaction
    dels2 = _rows(spark, 2, start=60).select("url", "discovered_seq",
                                             "retries", "epoch_added")
    t.commit_delta(3, t.stage_delta(_rows(spark, 0, start=900), dels2, 3))
    assert not t.maybe_compact(spark, 4)
    assert t.read(spark).count() == 38


def test_epoch_writes_delta_not_frontier(spark, tmp_path):
    """The verdict's done-criterion: an epoch that consumes <1% of frontier
    rows writes <5% of the frontier's bytes (old design: 100% every epoch).
    Budget 2 hosts x 100 = 200 of 40,000 rows = 0.5% touched."""
    wd = str(tmp_path / "lake")
    pages = spark.createDataFrame(
        [], schema="url string, warc_ts timestamp, html binary, "
                   "text string, lang string")
    eng = CrawlEngine(spark, wd, pages,
                      CrawlConfig(per_host_budget=100, request_delay=0.0))
    big = _rows(spark, 20000, host="h1.com").unionByName(
        _rows(spark, 20000, host="h2.com", start=20000))
    eng.frontier.overwrite(big.repartition(8), epoch=0)
    base_bytes = eng.frontier.stats()["add_bytes"]
    stats = eng.run_epoch(0)
    assert stats["frontier_in"] == 40000
    assert stats["frontier_out"] == 39800          # 200 consumed, 0 added
    s = eng.frontier.stats()
    delta_bytes = (s["add_bytes"] + s["del_bytes"]) - base_bytes
    assert s["add_bytes"] >= base_bytes            # base files untouched
    assert delta_bytes < 0.05 * base_bytes, (delta_bytes, base_bytes)
    # the delta is REAL: the consumed rows are gone from the live view
    assert eng.frontier.read(spark).count() == 39800
    # no add/del dir beyond the expected snapshots, no rewrite of epoch 0
    dirs = sorted(d for d in os.listdir(eng.frontier.path)
                  if not d.startswith("_"))
    assert dirs == ["add=0", "del=1"]
    assert _dir_bytes(os.path.join(eng.frontier.path, "add=0")) == base_bytes


def test_fresh_dir_allocation_never_reuses_committed_names(spark, tmp_path):
    """Crash-safety invariant behind compaction-after-commit (code-review
    round 4): a new snapshot must never target a directory the manifest
    already references — otherwise the rewrite would rmtree committed data
    BEFORE the manifest swap and a crash in between loses the epoch."""
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 10), epoch=0)
    staged = t.stage_delta(_rows(spark, 3, epoch_added=1, start=50),
                           _rows(spark, 2).select("url", "discovered_seq",
                                                  "retries", "epoch_added"),
                           epoch=1)
    t.commit_delta(1, staged)
    assert t._alloc_dir("add", 1) != "add=1"       # committed name skipped
    before = {(r.url, r.epoch_added) for r in t.read(spark).collect()}
    # compaction with the SAME tag as the just-committed delta (the engine's
    # exact call pattern) must land in a fresh dir and preserve the view
    t.overwrite(t.read(spark), epoch=1)
    after = {(r.url, r.epoch_added) for r in t.read(spark).collect()}
    assert after == before and len(after) == 11
    s = t.stats()
    assert s["snapshots"] == 1 and s["del_rows"] == 0


def test_read_fails_loud_on_missing_committed_dir(spark, tmp_path):
    import pytest as _pytest
    import shutil as _shutil
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 5), epoch=0)
    name = list(t._manifest()["adds"])[0]
    _shutil.rmtree(os.path.join(t.path, name))
    with _pytest.raises(FileNotFoundError, match="corrupt"):
        t.read(spark)


def test_compaction_skipped_when_drained(spark, tmp_path):
    """A delta that kills every live row records 0 live rows, and the
    no-win compaction (full read, nothing out) is skipped."""
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 50), epoch=0)
    dels = _rows(spark, 50).select("url", "discovered_seq", "retries", "epoch_added")
    t.commit_delta(1, t.stage_delta(_rows(spark, 0, start=500), dels, 1))
    assert t.stats()["live_rows"] == 0
    assert not t.maybe_compact(spark, 2)
    assert t.stats()["del_rows"] == 50          # tombstones kept, no read
    assert t.read(spark).count() == 0


def test_manifest_records_epoch_and_live_rows(spark, tmp_path):
    """Every swap records the epoch the snapshot feeds and its live row
    count; the engine runs only that epoch and resumes there; a manifest
    from before the fields existed is refused, naming the workdir."""
    import json
    import re

    import pytest
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    assert (t.stats()["epoch"], t.stats()["live_rows"]) == (0, 0)
    t.overwrite(_rows(spark, 10), epoch=0)
    assert (t.stats()["epoch"], t.stats()["live_rows"]) == (0, 10)
    t.commit_delta(1, t.stage_delta(
        _rows(spark, 3, epoch_added=1, start=100),
        _rows(spark, 4).select(*DeltaFrontier.KEY), 1))
    assert (t.stats()["epoch"], t.stats()["live_rows"]) == (1, 9)
    assert t.read(spark).count() == 9
    t.commit_replace(t.stage_adds(_rows(spark, 2, start=200), 2))
    assert (t.stats()["epoch"], t.stats()["live_rows"]) == (2, 2)

    pages = spark.createDataFrame(
        [], schema="url string, warc_ts timestamp, html binary, "
                   "text string, lang string")
    wd = tmp_path / "lake"
    eng = CrawlEngine(spark, str(wd), pages, CrawlConfig())
    eng.frontier.overwrite(_rows(spark, 5), epoch=3)
    with pytest.raises(ValueError, match="feeds epoch 3"):
        eng.run_epoch(0)
    assert CrawlEngine(spark, str(wd), pages).run()["epochs"] == 1
    assert eng.frontier.stats()["epoch"] == 4

    with open(eng.frontier._manifest_path) as f:
        man = json.load(f)
    del man["epoch"], man["rows"]
    eng.frontier._write_manifest(man)
    with pytest.raises(ValueError, match=f"workdir {re.escape(str(wd))} .*older"):
        CrawlEngine(spark, str(wd), pages).run()


def test_commit_replace_drain_fast_path(spark, tmp_path):
    """Full-consume epochs commit replace-with-adds: no tombstones ever,
    old dirs GC'd, and a DRAINED (0-row) frontier stays distinguishable
    from a never-bootstrapped one (is_empty gates bootstrap on resume)."""
    t = DeltaFrontier(str(tmp_path / "f"), DDL)
    t.overwrite(_rows(spark, 10), epoch=0)
    staged = t.stage_adds(_rows(spark, 4, epoch_added=1, start=100), 1)
    assert t.read(spark).count() == 10           # staged, not yet visible
    t.commit_replace(staged)
    assert t.read(spark).count() == 4
    s = t.stats()
    assert s["del_rows"] == 0 and s["snapshots"] == 1
    # drain to zero: 0-row snapshot committed, table NOT "empty"
    t.commit_replace(t.stage_adds(_rows(spark, 0, start=900), 2))
    assert t.read(spark).count() == 0
    assert not t.is_empty()


def test_engine_drain_epoch_uses_replace(spark, tmp_path):
    """An epoch whose budget covers the whole frontier must leave NO
    tombstones (the drain fast path) while a budget-bounded epoch on the
    same engine still writes deltas."""
    pages = spark.createDataFrame(
        [], schema="url string, warc_ts timestamp, html binary, "
                   "text string, lang string")
    eng = CrawlEngine(spark, str(tmp_path / "lake"), pages,
                      CrawlConfig(per_host_budget=10_000,
                                  request_delay=0.0))
    eng.frontier.overwrite(_rows(spark, 500), epoch=0)
    stats = eng.run_epoch(0)                    # 500 <= budget: full consume
    assert stats["frontier_out"] == 0
    assert eng.frontier.stats()["del_rows"] == 0
    assert not eng.frontier.is_empty()          # drained, not uninitialized


def test_backoff_converges_with_frozen_clock(spark, tmp_path, inject_429):
    """With request_delay=0 the virtual clock is FROZEN, so a 429'd url's
    60 s backoff penalty lies beyond every later epoch's start. The read
    still schedules every live row whatever its next_fetch_ts, so the
    victim is fetched on the next epoch and the frontier drains."""
    from web_crawler_spark import html_synth, refspec
    from web_crawler_spark.plans.epoch import pages_fetcher
    web = html_synth.synth_web(n_articles=40, n_hosts=2, seed=13)
    golden = refspec.simulate_crawl(web["pages"], web["seeds"])
    victim = golden["articles"][0]["url"]
    pages = html_synth.pages_df(spark, web)
    eng = CrawlEngine(spark, str(tmp_path / "w"), pages,
                      CrawlConfig(request_delay=0.0,
                                  fetch_via=inject_429(pages_fetcher(pages),
                                                       {victim: 1})))
    eng.run(html_synth.seeds_df(spark, web), max_epochs=8)
    stored = {r["url"] for r in eng.articles.read(spark).collect()}
    assert victim in stored, "429'd url starved behind the frozen clock"
    assert stored == {a["url"] for a in golden["articles"]}
    assert eng.frontier.read(spark).count() == 0
