"""The benchmark tracer's contract with the program: ``perfbench.trace``
wraps lake-table and frontier methods by name and reads a table's epoch dir
through ``LakeTable._epoch_dir(epoch)``. A traced crawl must still record
the spans the per-layer metrics are built from."""

from perfbench.trace import Tracer
from web_crawler_spark import html_synth
from web_crawler_spark.plans.epoch import CrawlEngine
from web_crawler_spark.sources.tables import LakeTable


def test_traced_crawl_records_table_spans(spark, tmp_path):
    web = html_synth.synth_web(n_articles=20, n_hosts=2, seed=3)
    real_append = LakeTable.append
    tracer = Tracer(str(tmp_path / "eventlog"))
    tracer.install()
    try:
        eng = CrawlEngine(spark, str(tmp_path / "lake"),
                          html_synth.pages_df(spark, web))
        eng.run(html_synth.seeds_df(spark, web), max_epochs=10)
    finally:
        tracer.uninstall()
    assert LakeTable.append is real_append
    spans = {}
    for s in tracer.spans:
        spans.setdefault(s["name"], []).append(s)
    assert len(spans["tables.sources.merge"]) == 1
    epochs = len(eng.metrics.committed_epochs())
    assert epochs >= 2
    assert len(spans["epoch.run"]) == epochs
    for name in ("tables.metrics.append", "tables.sources.overwrite"):
        assert spans[name], name
        # the after-hook found the written epoch dir
        assert all(s["files"] >= 1 and s["bytes"] > 0 for s in spans[name])
    assert len(spans["tables.metrics.append"]) == epochs
