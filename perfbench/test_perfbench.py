"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, layers, run  # noqa: E402
from tools.check_oracles import table_hash  # noqa: E402
from web_crawler_spark import refspec  # noqa: E402


def _bytes(d):
    return {os.path.relpath(p, d): open(p, "rb").read()
            for p in inputs.files_under(d)}


# -- inputs -----------------------------------------------------------------

def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = inputs.prepare(str(tmp_path / "a"), "trickle", 5)
    b = inputs.prepare(str(tmp_path / "b"), "trickle", 5)
    c = inputs.prepare(str(tmp_path / "c"), "trickle", 6)
    for kind in ("web", "docs"):
        assert _bytes(a[kind]) == _bytes(b[kind])
        ca = _bytes(a[kind])
        cc = _bytes(c[kind])
        assert ca.keys() == cc.keys()
        for name in ca:
            if name.endswith(".parquet"):
                assert ca[name] != cc[name], name


def test_chrome_is_invisible_to_the_reference_parsers():
    web = inputs.make_web("heavy_pages", 3)
    lists = {u for u, _, _ in web["seeds"]}
    assert all(len(web["pages"][u]) > 20_000
               for u in web["pages"] if u not in lists)
    assert inputs.check_chrome_invisible(web, sample=40, seed=3) == []


def test_python_clusters_equal_the_duckdb_oracle(tmp_path):
    """near_dup_clusters stands in for the dedup_clusters ORACLES SQL in
    the goldens; on a table small enough for the recursive CTE they must
    agree, transitive clusters included."""
    import duckdb
    from web_crawler_spark import driver_queries as dq
    p = str(tmp_path / "documents.parquet")
    pq.write_table(inputs.synth_documents(3, n_docs=60), p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
    cur = con.execute(dq.ORACLES["dedup_clusters"])
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    pcols, prows = inputs.near_dup_clusters(pq.read_table(p))
    assert table_hash(rows, cols) == table_hash(prows, pcols)

    # the transitive case: a component of at least 6 (three documents and
    # their mirrors) holding two documents that are not near duplicates of
    # each other, joined only through a third
    texts = dict(zip(*(pq.read_table(p).column(c).to_pylist()
                       for c in ("doc_id", "text"))))

    def jaccard(a, b):
        def grams(t):
            w = t.split()
            return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}
        ga, gb = grams(texts[a]), grams(texts[b])
        return len(ga & gb) / len(ga | gb)
    members = {}
    for doc_id, cluster_id, _ in rows:
        members.setdefault(cluster_id, []).append(doc_id)
    assert any(len(m) >= 6 and any(jaccard(a, b) < 0.8
                                   for a in m for b in m
                                   if a < b < 100000)
               for m in members.values())


# -- output checks ------------------------------------------------------------

@pytest.fixture(scope="module")
def small_web():
    from web_crawler_spark import html_synth
    web = html_synth.synth_web(n_articles=60, n_hosts=4, seed=9)
    web["plain_pages"] = web["pages"]
    return web


def _write_lake(lake, articles):
    """An articles table in the LakeTable layout, written without Spark."""
    d = os.path.join(lake, "articles")
    os.makedirs(os.path.join(d, "epoch=1"))
    pq.write_table(pa.Table.from_pylist(articles),
                   os.path.join(d, "epoch=1", "part-0.parquet"))
    with open(os.path.join(d, "_manifest.json"), "w") as f:
        json.dump({"epochs": [1]}, f)


def _reference_articles(web):
    g = refspec.simulate_crawl(web["pages"], web["seeds"])
    return [dict(a, priority=0, discovered_seq=i)
            for i, a in enumerate(g["articles"])]


def test_lake_check_accepts_the_reference_and_rejects_tampering(
        tmp_path, small_web):
    golden = inputs.crawl_golden(small_web)
    arts = _reference_articles(small_web)
    _write_lake(str(tmp_path / "good"), arts)
    assert run.check_lake(str(tmp_path / "good"), golden) == []

    tampered = [dict(a) for a in arts]
    tampered[7]["content"] = tampered[7]["content"] + " "
    _write_lake(str(tmp_path / "bad"), tampered)
    problems = run.check_lake(str(tmp_path / "bad"), golden)
    assert problems and "differ from the reference" in problems[0]

    swapped = [dict(a) for a in arts]
    swapped[0]["discovered_seq"], swapped[1]["discovered_seq"] = 1, 0
    _write_lake(str(tmp_path / "order"), swapped)
    assert run.check_lake(str(tmp_path / "order"), golden) == [
        "crawl order differs from the reference"]

    _write_lake(str(tmp_path / "short"), arts[:-1])
    assert "seen set differs" in run.check_lake(str(tmp_path / "short"),
                                                golden)[0]


def test_stats_check(small_web):
    golden = inputs.crawl_golden(small_web)
    n = len(golden["articles"])
    text = "\n".join([f"Total sources: {golden['n_sources']}",
                      f"Total articles: {n}",
                      f"Articles scraped today: {n}"] +
                     [f"  src-{s}: {c}"
                      for s, c in golden["per_source"].items()])
    assert run.check_stats(text, golden) == []
    assert run.check_stats(text.replace(f"articles: {n}",
                                        f"articles: {n - 1}"), golden)


# -- metric names ---------------------------------------------------------------

def _fake_run():
    """A child result shaped like a traced run, every span kind present."""
    spans, t = [], [0.0]

    def add(name, parent=None, **kw):
        rec = {"id": f"pb{len(spans)}", "name": name, "parent": parent,
               "start": t[0], "end": t[0] + 1.0, **kw}
        t[0] += 1.0
        spans.append(rec)
        return rec["id"]
    add("session.start")
    add("epoch.bootstrap")
    for e in range(2):
        run_id = add("epoch.run", result={"frontier_in": 10})
        add("plan.schedule", run_id)
        add("plan.schedule_count", run_id, row={"n": 5, "na": 3})
        add("plan.fetch_extract", run_id)
        for tbl in layers.TABLES:
            add(f"tables.{tbl}.append", run_id, files=2, bytes=100)
        add("frontier.stage_delta", run_id, files=2, bytes=50,
            tombstones=5)
        add("frontier.commit_delta", run_id)
        add("frontier.maybe_compact", run_id, compacted=e == 1,
            rows_rewritten=4 * e)
    queries = []
    for _ in range(2):
        for cmd in layers.QUERY_CMDS:
            add(f"query.{cmd}")
            queries.append({"cmd": cmd, "s": 0.5, "cpu_s": 1.0, "ok": True,
                            "text": ""})
    curate = []
    for q in inputs.CURATE_QUERIES:
        add(f"curate.{q}")
        curate.append({"query": q, "s": 1.0, "cpu_s": 2.0, "ok": True})
    groups = {s["id"]: {"jobs": 3, "stages": 3, "failed_tasks": 0,
                        "cpu_s": 0.2, "gc_s": 0.01, "shuffle_bytes": 10,
                        "spill_bytes": 0} for s in spans}
    return {"t0": 0.0, "session_ready": 1.0, "setup_s": 2.0,
            "setup_cpu_s": 4.0, "setup_done": 2.0, "crawl_done": 4.0,
            "queries_done": 5.0, "curate_done": 6.0, "stopped": 6.5,
            "epochs": [{"s": 1.0, "cpu_s": 2.0, "ok": True},
                       {"s": 2.0, "cpu_s": 3.0, "ok": True}],
            "queries": queries, "curate": curate, "errors": [],
            "spans": spans, "groups": groups, "bookkeeping_s": 0.01,
            "udf_python_s": {"extract": 1.0, "canonicalize": 0.5}}


def test_every_emitted_metric_is_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    res = _fake_run()
    golden = {"articles": {"u": "d"}, "n_fetch": 12,
              "fetched_html_bytes": 1000}
    sizes = {"files": 10, "bytes": 500, "content_bytes": 1000,
             "rows_fetched": 12}
    e2e = layers.end_to_end(res, golden, {"n_docs": 100}, sizes)
    assert e2e["crawl_cpu_ms_per_url"]["value"] == 1e3 * 5.0 / 12
    assert e2e["query_cpu_s"]["value"] == 1.0
    assert e2e["setup_s"]["value"] == 4.0
    assert layers.wall_metrics(res, golden, {"n_docs": 100})[
        "query_p50_s"] == 0.5
    assert set(layers.phases(res)) >= {"setup_cpu_s", "epoch_cpu_s"}
    peaks = layers.phase_peaks(res, [(1.0, 8e8), (3.0, 9e8), (6.0, 1e9)])
    assert peaks == {"setup": 800.0, "crawl": 900.0, "queries": 0.0,
                     "curate": 1000.0}
    per = layers.per_layer(res, golden, sizes, peaks)
    for got, declared in ((e2e, bench["end_to_end"]),
                          (per, bench["per_layer"])):
        units = {m["name"]: m["unit"] for m in declared}
        assert set(got) == set(units)
        assert all(got[k]["unit"] == units[k] for k in got)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
