"""Epoch bookkeeping: the Spark job budget of each epoch kind, the committed
rows and Spark-read schemas of the small tables (partition_checkpoints,
metrics, checkpoints, and the sources registry with the last_crawled read
from metrics) and of the frontier's tombstones, staged row counts from
parquet footers, and the LakeTable overwrite/read/rollback contract those
tables rely on."""

import json
import os
import shutil
from collections import Counter

import pyarrow as pa
import pytest
from pyspark.sql.types import StructType

from web_crawler_spark import html_synth, queries, refspec
from web_crawler_spark.plans import epoch as ep
from web_crawler_spark.plans.epoch import CrawlConfig, CrawlEngine
from web_crawler_spark.sources.tables import DeltaFrontier, LakeTable

#: Spark jobs one epoch of this crawl may submit, by kind. It runs 13 / 17 /
#: 12; with the bookkeeping as Spark jobs it ran 33-34 / 43 / 31. A delta
#: epoch's ceiling leaves room for a compaction.
JOB_CEILING = {"list": 16, "delta": 24, "drain": 16}


@pytest.fixture(scope="module")
def web():
    # the tests/test_crawl_e2e.py web
    return html_synth.synth_web(n_articles=120, n_hosts=6, seed=42)


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory, web):
    """The fixture web crawled at a per-host budget of 8, so it runs a list
    epoch, budget-bound delta epochs and a drain epoch, each under its own
    job group named after the epoch."""
    eng = CrawlEngine(spark, str(tmp_path_factory.mktemp("bookkeeping")),
                      html_synth.pages_df(spark, web),
                      CrawlConfig(per_host_budget=8))
    eng.bootstrap(html_synth.seeds_df(spark, web))
    sc = spark.sparkContext
    stats, jobs = [], []
    try:
        for epoch in range(10):
            group = f"bookkeeping.epoch{epoch}"
            sc.setJobGroup(group, f"run_epoch({epoch})")
            stats.append(eng.run_epoch(epoch))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            if stats[-1]["frontier_out"] == 0:
                break
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return eng, stats, jobs


def test_epoch_job_budget(crawl):
    _eng, _stats, jobs = crawl
    kinds = ["list"] + ["delta"] * (len(jobs) - 2) + ["drain"]
    assert "delta" in kinds, jobs
    over = [(e, k, n) for e, (k, n) in enumerate(zip(kinds, jobs))
            if n > JOB_CEILING[k]]
    assert not over, (over, jobs)


def test_bookkeeping_rows(spark, crawl, web):
    eng, stats, _ = crawl
    golden = refspec.simulate_crawl(web["pages"], web["seeds"])
    # per epoch: frontier_in, articles_out, frontier_out
    assert [(s["frontier_in"], s["articles_out"], s["frontier_out"])
            for s in stats] == [(34, 0, 178), (178, 67, 106), (106, 67, 34),
                                (34, 31, 2), (2, 2, 0)]
    # checkpoints: one row per epoch, exactly run_epoch's returned stats,
    # plus the epoch's (skipped_dup, skipped_date, skipped_robots)
    skipped = [(0, 0, 0), (0, 5, 0), (0, 5, 0), (0, 1, 0), (0, 0, 0)]
    ck = sorted(tuple(r) for r in eng.checkpoints.read(spark).collect())
    assert ck == [(e, float(e), s["frontier_in"], s["frontier_out"],
                   s["articles_out"], *skipped[e])
                  for e, s in enumerate(stats)]

    # metrics: per epoch Σfetched, Σparsed, Σerrors, hosts, discovered
    m = eng.metrics.read(spark).collect()
    per = {}
    for r in m:
        a = per.setdefault(r["epoch"], [0, 0, 0, set(), set()])
        a[0] += r["fetched"]
        a[1] += r["parsed"]
        a[2] += r["errors"]
        a[3].add(r["host"])
        a[4].add(r["discovered"])
    assert {e: [*a[:3], len(a[3]), a[4]] for e, a in per.items()} == \
        {0: [34, 0, 0, 9, {0}],
         1: [72, 67, 0, 9, {0}],
         2: [72, 67, 0, 9, {0}],
         3: [32, 31, 0, 8, {0}],
         4: [2, 2, 0, 1, {0}]}
    # one row per (epoch, host, source), each with a source
    assert len({(r["epoch"], r["host"], r["source_id"]) for r in m}) == \
        len(m)
    assert all(r["source_id"] is not None for r in m)
    # Σfetched = every fetched url: the seeds' list pages plus each
    # article the reference fetched (stored or title-less)
    assert sum(r["fetched"] for r in m) == \
        len(web["seeds"]) + len(golden["trace"])
    assert sum(r["parsed"] for r in m) == len(golden["articles"])

    # partition_checkpoints: which physical partition a row lands in is
    # AQE's run-time choice, so the pinned values are per-epoch totals
    pck = eng.partition_checkpoints.read(spark).collect()
    tot = {}
    for r in pck:
        a = tot.setdefault(r["epoch"], [0, 0, 0.0])
        a[0] += r["rows_in"]
        a[1] += r["rows_out"]
        a[2] = max(a[2], r["watermark_ts"])
    assert tot == {0: [34, 34, 5.0], 1: [72, 72, 16.0], 2: [72, 72, 24.0],
                   3: [32, 32, 32.0], 4: [2, 2, 34.0]}
    assert len({(r["epoch"], r["partition_id"]) for r in pck}) == len(pck)

    # sources: written once, at bootstrap. Read with its metrics, every
    # source fetched in the crawl carries the stamp of the last epoch it
    # fetched in, never earlier than its last stored article (one registry
    # row per seed url; three seed urls share source 31)
    assert eng.sources.committed_epochs() == [0]
    src = queries.with_last_crawled(eng.sources.read(spark),
                                    eng.metrics.read(spark)).collect()
    assert sorted(r["url"] for r in src) == sorted(u for (u, _, _) in
                                                   web["seeds"])
    assert all(r["last_crawled"].startswith(ep.SCRAPED_TS + "#epoch=")
               for r in src)
    stamped = {(r["id"], int(r["last_crawled"].rsplit("#epoch=", 1)[1]))
               for r in src}
    assert len(stamped) == len({r["id"] for r in src})   # one stamp per id
    assert Counter(e for (_, e) in stamped) == {1: 9, 2: 13, 3: 9, 4: 1}
    last_art = {}
    for r in eng.articles.read(spark).select("source_id", "epoch").collect():
        last_art[r[0]] = max(last_art.get(r[0], 0), r[1])
    assert all(e >= last_art.get(i, 0) for (i, e) in stamped)


def test_bookkeeping_tables_read_with_ddl_schema(spark, crawl):
    eng, _, _ = crawl
    for table, ddl in ((eng.partition_checkpoints, ep.PARTITION_CK_DDL),
                       (eng.metrics, ep.METRICS_DDL),
                       (eng.checkpoints, ep.CHECKPOINT_DDL),
                       (eng.sources, ep.SOURCES_DDL)):
        assert table.read(spark).schema.simpleString() == \
            StructType.fromDDL(ddl).simpleString(), table.path


def test_frontier_tombstones_read_with_ddl_schema(spark, tmp_path):
    """A frontier read with tombstones runs no Spark job before an action:
    the delete dirs are read with their fixed schema, not by merging the
    files' footers."""
    ddl = "url string, discovered_seq bigint, retries int, epoch_added int"
    t = DeltaFrontier(str(tmp_path / "f"), ddl)
    rows = spark.createDataFrame(
        [(f"https://h.com/{i}", i, 0, 0) for i in range(10)], ddl)
    t.overwrite(rows, 0)
    for epoch in (1, 2):                   # two tombstone dirs
        dels = rows.filter(rows.discovered_seq == epoch)
        t.commit_delta(epoch, t.stage_delta(rows.limit(0), dels, epoch))
    assert t.stats()["del_rows"] == 2
    sc = spark.sparkContext
    group = "tombstone-schema"
    sc.setJobGroup(group, "frontier read plan")
    try:
        live = t.read(spark)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert live.count() == 8


def test_staged_footer_count_matches_spark_count(spark, tmp_path):
    ddl = "url string, discovered_seq bigint, retries int, epoch_added int"
    t = DeltaFrontier(str(tmp_path / "f"), ddl)
    rows = spark.createDataFrame(
        [(f"https://h.com/{i}", i, 0, 0) for i in range(37)], ddl)
    for df in (rows.repartition(5), rows.limit(0)):
        staged = t.stage_adds(df, 1)
        assert staged["rows"] == \
            spark.read.parquet(staged["staging"]).count() == df.count()


def test_lake_table_overwrite_replay_and_missing_dir(spark, tmp_path):
    """An overwrite publishes ``epoch=N`` and removes the old snapshots
    after the manifest swap; replaying it onto the listed epoch raises,
    like an append does, so committed data is never rewritten in place;
    a dir the manifest lists but that is gone fails the read."""
    t = LakeTable(str(tmp_path / "t"), "k string, v int")

    def row(v):
        return pa.table({"k": ["a"], "v": [v]})
    t.overwrite(row(1), 2)
    t.overwrite(row(2), 3)
    assert [tuple(r) for r in t.read(spark).collect()] == [("a", 2)]
    assert sorted(d for d in os.listdir(t.path) if d.startswith("epoch=")) \
        == ["epoch=3"]
    with pytest.raises(ValueError, match="already committed"):
        t.overwrite(row(3), 3)
    with open(t._manifest_path) as f:
        assert json.load(f) == {"epochs": [3]}
    assert [tuple(r) for r in t.read(spark).collect()] == [("a", 2)]
    t.append(spark.createDataFrame([("b", 4)], "k string, v int"), 4)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == \
        [("a", 2), ("b", 4)]
    shutil.rmtree(t._epoch_dir(4))
    with pytest.raises(FileNotFoundError, match="corrupt"):
        t.read(spark)
    t.rollback_to(4)                           # unlists epoch 4 and later
    assert t.committed_epochs() == [3]
    assert t.read(spark).count() == 1
