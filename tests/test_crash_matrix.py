"""Crash matrix: a crash at any write of ``bootstrap`` or ``run_epoch``,
then a resume with a fresh engine, ends in the same lake as an uncrashed
crawl.

The crawl is the 120-article test web at ``per_host_budget=4`` (8 epochs).
Epoch 5 commits a frontier delta and then compacts; epoch 7 drains the
frontier through the replace commit. Each epoch case copies the lake as it
stood before the epoch, crashes a fresh engine at one write of that epoch,
resumes with another fresh engine and compares every table with the
uncrashed run. The bootstrap case crashes between the sources registry
merge and the frontier write, then crawls from an empty workdir.
The module also pins the on-disk layout the benchmark reads
(``perfbench.run.read_table_dir``).
"""

import json
import os
import shutil

import pytest

from perfbench.run import read_table_dir
from web_crawler_spark import html_synth
from web_crawler_spark.plans.epoch import CrawlConfig, CrawlEngine
from web_crawler_spark.sources.tables import DeltaFrontier

DELTA_EPOCH, DRAIN_EPOCH = 5, 7

#: fault point -> the methods that raise when called, as (table, method);
#: table None patches the DeltaFrontier class. "compaction" raises at the
#: compaction's own swap, after the epoch's delta swap went through.
#: "bootstrap" raises at bootstrap's frontier write, after its sources merge.
FAULTS = {
    "bootstrap": [(None, "overwrite")],
    "partition_checkpoints": [("partition_checkpoints", "append")],
    "articles": [("articles", "append")],
    "staging": [(None, "stage_delta"), (None, "stage_adds")],
    "metrics": [("metrics", "append")],
    "checkpoints": [("checkpoints", "append")],
    "swap": [(None, "commit_delta"), (None, "commit_replace")],
    "compaction": [(None, "commit_replace")],
}
EPOCH_FAULTS = [f for f in FAULTS if f != "bootstrap"]
CASES = ([(None, "bootstrap")] +
         [(DELTA_EPOCH, f) for f in EPOCH_FAULTS] +
         [(DRAIN_EPOCH, f) for f in EPOCH_FAULTS if f != "compaction"])


class Crash(RuntimeError):
    pass


@pytest.fixture(scope="module")
def web():
    return html_synth.synth_web(n_articles=120, n_hosts=6, seed=42)


def _engine(spark, wd, web):
    return CrawlEngine(spark, wd, html_synth.pages_df(spark, web),
                       CrawlConfig(per_host_budget=4))


def _rows(df):
    return sorted(json.dumps(r.asDict(), sort_keys=True)
                  for r in df.collect())


def _lake(spark, eng):
    """Every committed table of the lake, comparable across runs.
    partition_checkpoints are per-epoch sums: which physical partition
    fetched a row is AQE's run-time choice."""
    part = {}
    for r in eng.partition_checkpoints.read(spark).collect():
        a = part.setdefault(r["epoch"], [0, 0, 0.0])
        a[0] += r["rows_in"]
        a[1] += r["rows_out"]
        a[2] = max(a[2], r["watermark_ts"])
    out = {t: _rows(getattr(eng, t).read(spark))
           for t in ("articles", "frontier", "metrics", "checkpoints",
                     "sources")}
    out["partition_checkpoints"] = part
    return out


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory, web):
    """The uncrashed crawl: its engine, its final lake and copies of the
    lake before the two matrix epochs, whose frontier commits it checks."""
    root = tmp_path_factory.mktemp("crash-matrix")
    wd = str(root / "reference")
    eng = _engine(spark, wd, web)
    eng.bootstrap(html_synth.seeds_df(spark, web))
    before, commits = {}, {}
    with pytest.MonkeyPatch.context() as m:
        for name in ("commit_delta", "commit_replace", "maybe_compact"):
            real = getattr(DeltaFrontier, name)

            def spy(self, *a, _real=real, _name=name, **k):
                out = _real(self, *a, **k)
                commits[epoch].append((_name, out))
                return out
            m.setattr(DeltaFrontier, name, spy)
        for epoch in range(10):
            if epoch in (DELTA_EPOCH, DRAIN_EPOCH):
                before[epoch] = str(root / f"before-{epoch}")
                shutil.copytree(wd, before[epoch])
            commits[epoch] = []
            if eng.run_epoch(epoch)["frontier_out"] == 0:
                break
    assert epoch == DRAIN_EPOCH, "the drain must be the last epoch"
    assert commits[DELTA_EPOCH] == [("commit_delta", None),
                                    ("commit_replace", None),
                                    ("maybe_compact", True)]
    assert commits[DRAIN_EPOCH] == [("commit_replace", None)]
    assert eng.sources.committed_epochs() == [0], "only bootstrap writes it"
    return eng, _lake(spark, eng), before


@pytest.mark.parametrize("epoch,fault", CASES,
                         ids=[f if e is None else f"{e}-{f}"
                              for e, f in CASES])
def test_crash_then_resume_matches_uncrashed(spark, tmp_path, web, reference,
                                             epoch, fault):
    _, want, before = reference
    wd = str(tmp_path / "lake")
    seeds = None
    if epoch is None:                  # bootstrap: crawl from an empty lake
        seeds = html_synth.seeds_df(spark, web)
    else:
        shutil.copytree(before[epoch], wd)
    crashing = _engine(spark, wd, web)

    def crash(*_a, **_k):
        raise Crash(fault)
    with pytest.MonkeyPatch.context() as m:
        for table, method in FAULTS[fault]:
            m.setattr(DeltaFrontier if table is None
                      else getattr(crashing, table), method, crash)
        with pytest.raises(Crash):
            crashing.run(seeds, max_epochs=1)
    if epoch is None:                  # the registry merge went through
        assert crashing.sources.committed_epochs() == [0]
        assert crashing.frontier.is_empty()
    resumed = _engine(spark, wd, web)
    resumed.run(seeds, max_epochs=10)
    got = _lake(spark, resumed)
    assert got.keys() == want.keys()
    for table in want:
        assert got[table] == want[table], table
    # the drain's replace commit removed every dir the crash left unlisted
    assert sorted(os.listdir(resumed.frontier.path)) == \
        ["_manifest.json", *resumed.frontier._manifest()["adds"]]


def test_benchmark_reads_the_committed_tables(spark, reference):
    """perfbench reads articles and partition_checkpoints straight from
    the table dirs (manifest ``epochs`` -> ``epoch=N``): it must see exactly
    the rows the engine committed."""
    eng = reference[0]
    for table in (eng.articles, eng.partition_checkpoints):
        on_disk = read_table_dir(table.path).to_pylist()
        assert sorted(json.dumps(r, sort_keys=True) for r in on_disk) == \
            _rows(table.read(spark)), table.path
