"""Turn one child run's measurements into the benchmark's metrics.

``end_to_end`` gives what a user of the crawler sees (untraced runs);
``per_layer`` attributes a traced run's spans, Spark jobs, event-log task
metrics and UDF profiler time to the program's layers. README.md maps each
per-layer metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import statistics
from typing import Dict, List, Optional

#: lake tables a crawl writes at this scale (seen_shards only appears once
#: the seen set passes CrawlConfig.bloom_min_articles)
TABLES = ("articles", "metrics", "checkpoints", "partition_checkpoints",
          "sources")
QUERY_CMDS = ("stats", "sources", "search", "articles")


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _r(x, nd=3):
    return round(x, nd)


def phases(res: dict) -> dict:
    """Context for a run's reader: wall and process-tree CPU seconds of
    each phase."""
    return {"session_s": _r(res["session_ready"] - res["t0"]),
            "setup_s": _r(res["setup_s"]),
            "setup_cpu_s": _r(res["setup_cpu_s"]),
            "epoch_s": [_r(e["s"]) for e in res["epochs"]],
            "epoch_cpu_s": [_r(e["cpu_s"]) for e in res["epochs"]],
            "epoch_rows": [[e.get(k) for k in ("frontier_in", "articles_out",
                                               "frontier_out")]
                           for e in res["epochs"]],
            "query": [(q["cmd"], _r(q["s"]), _r(q["cpu_s"]))
                      for q in res["queries"]],
            "curate": {c["query"]: (_r(c["s"]), _r(c["cpu_s"]))
                       for c in res["curate"]},
            "stop_s": _r(res["stopped"] - res["curate_done"])}


def wall_metrics(res: dict, golden: dict, docs_golden: dict) -> dict:
    """What a user waits for, in wall time. Context only: on a shared
    machine these move with other tenants' load (README.md)."""
    epochs = [e["s"] for e in res["epochs"]]
    timed = [q["s"] for q in res["queries"]]
    p80 = statistics.quantiles(timed, n=5)[3] if len(timed) > 1 else None
    return {"urls_per_s": _r(golden["n_fetch"] / sum(epochs), 2),
            "epoch_p50_s": _r(statistics.median(epochs)),
            "query_p50_s": _r(statistics.median(timed)),
            "query_p80_s": p80 and _r(p80),
            "docs_per_s": _r(docs_golden["n_docs"] /
                             sum(c["s"] for c in res["curate"]), 2),
            "setup_s": _r(res["setup_s"])}


def phase_peaks(res: dict, samples) -> dict:
    """Peak tree RSS (MB) within each phase of the child's run."""
    marks = [("setup", res["setup_done"]), ("crawl", res["crawl_done"]),
             ("queries", res["queries_done"]), ("curate", float("inf"))]
    out = {name: 0.0 for name, _ in marks}
    for t, rss in samples:
        name = next(n for n, end in marks if t <= end)
        out[name] = max(out[name], rss / 1e6)
    return out


def end_to_end(res: dict, golden: dict, docs_golden: dict,
               sizes: Optional[dict]) -> Dict[str, dict]:
    """CPU seconds of the run's process tree (driver, JVM, Python workers)
    per unit of work, and the lake's size. CPU time moves less than wall
    time with other tenants' load (README.md)."""
    out = {
        "crawl_cpu_ms_per_url": _m(
            1e3 * sum(e["cpu_s"] for e in res["epochs"]) / golden["n_fetch"],
            "ms"),
        # whole rotations only, so this is the mean over the fixed mix
        "query_cpu_s": _m(sum(q["cpu_s"] for q in res["queries"]) /
                          len(res["queries"]), "s"),
        "curate_cpu_ms_per_doc": _m(
            1e3 * sum(c["cpu_s"] for c in res["curate"]) /
            docs_golden["n_docs"], "ms"),
        "setup_s": _m(res["setup_cpu_s"], "s"),
    }
    if sizes is not None:
        out["lake_bytes_per_content_byte"] = _m(
            sizes["bytes"] / sizes["content_bytes"], "ratio")
    return out


class Spans:
    """Index over a traced run's spans and per-job-group counters."""

    def __init__(self, spans: List[dict], groups: Dict[str, dict]):
        self.spans = spans
        self.groups = groups
        self.kids: Dict[str, List[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.kids.setdefault(s["parent"], []).append(s)

    def named(self, name: str) -> List[dict]:
        return sorted((s for s in self.spans if s["name"] == name),
                      key=lambda s: s["start"])

    def prefixed(self, prefix: str) -> List[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    @staticmethod
    def dur(spans) -> float:
        return sum(s["end"] - s["start"] for s in spans)

    def subtree(self, s: dict) -> List[dict]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.kids.get(x["id"], ()))
        return out

    def counter(self, spans, key: str):
        """Sum of one event-log counter over the spans' subtrees."""
        seen = set()
        total = 0
        for s in spans:
            for x in self.subtree(s):
                if x["id"] not in seen:
                    seen.add(x["id"])
                    total += self.groups.get(x["id"], {}).get(key, 0)
        return total

    def self_time(self, spans) -> float:
        return sum((s["end"] - s["start"]) -
                   self.dur(self.kids.get(s["id"], ())) for s in spans)

    def top(self, spans) -> List[dict]:
        """Spans whose parent is not of the same name family (merge ->
        overwrite nests; count only the outer call)."""
        ids = {s["id"] for s in spans}
        return [s for s in spans if s["parent"] not in ids]


def per_layer(res: dict, golden: dict, sizes: Optional[dict],
              rss_peaks: Dict[str, float]) -> Dict[str, dict]:
    sp = Spans(res["spans"], res["groups"])
    m: Dict[str, dict] = {}

    def family(name, spans):
        """GC and spill of a span family, from the event log."""
        m[f"{name}.gc_s"] = _m(sp.counter(spans, "gc_s"), "s")
        m[f"{name}.spill_mb"] = _m(sp.counter(spans, "spill_bytes") / 1e6,
                                   "MB")

    # session ---------------------------------------------------------------
    m["session.start_s"] = _m(sp.dur(sp.named("session.start")), "s")

    # memory: summed resident set of the process tree -----------------------
    m["memory.peak_mb"] = _m(max(rss_peaks.values()), "MB")
    m["memory.crawl_peak_mb"] = _m(max(rss_peaks["setup"],
                                       rss_peaks["crawl"]), "MB")

    # plans.epoch -----------------------------------------------------------
    boot = sp.named("epoch.bootstrap")
    m["epoch.bootstrap_s"] = _m(sp.dur(boot), "s")
    m["epoch.bootstrap_jobs"] = _m(sp.counter(boot, "jobs"), "count")
    runs = sp.named("epoch.run")
    jobs = [sp.counter([r], "jobs") for r in runs]
    wall = sp.dur(runs)
    m["epoch.count"] = _m(len(runs), "count")
    m["epoch.jobs_total"] = _m(sum(jobs), "count")
    m["epoch.jobs_p50"] = _m(statistics.median(jobs), "count")
    m["epoch.stages_total"] = _m(sp.counter(runs, "stages"), "count")
    m["epoch.failed_tasks"] = _m(sp.counter(runs, "failed_tasks"), "count")
    m["epoch.first_s"] = _m(sp.dur(runs[:1]), "s")
    m["epoch.self_s"] = _m(sp.self_time(runs), "s")
    m["epoch.self_frac"] = _m(sp.self_time(runs) / wall, "ratio")
    family("epoch", runs)
    n_articles = len(golden["articles"])
    if sizes is not None:
        m["epoch.useful_frac"] = _m(n_articles / sizes["rows_fetched"],
                                    "ratio")

    # operators.politeness --------------------------------------------------
    sched = sp.named("plan.schedule")
    n_sched = sum(s.get("row", {}).get("n", 0)
                  for s in sp.named("plan.schedule_count"))
    live = sum(r.get("result", {}).get("frontier_in", 0) for r in runs)
    m["politeness.schedule_s"] = _m(sp.dur(sched), "s")
    m["politeness.scheduled_rows"] = _m(n_sched, "count")
    m["politeness.scheduled_frac"] = _m(n_sched / live, "ratio")

    # seen filter + fetch join + extract -------------------------------------
    fx = sp.named("plan.fetch_extract")
    py = res.get("udf_python_s", {})
    m["fetch_extract.s"] = _m(sp.dur(fx), "s")
    m["fetch_extract.task_cpu_s"] = _m(sp.counter(fx, "cpu_s"), "s")
    m["fetch_extract.shuffle_mb"] = _m(sp.counter(fx, "shuffle_bytes") / 1e6,
                                       "MB")
    family("fetch_extract", fx)
    m["extract.py_s"] = _m(py.get("extract", 0.0), "s")
    if sizes is not None:
        m["extract.rows"] = _m(sizes["rows_fetched"], "count")
    m["extract.html_mb"] = _m(golden["fetched_html_bytes"] / 1e6, "MB")
    m["canonicalize.py_s"] = _m(py.get("canonicalize", 0.0), "s")

    # sources.tables -------------------------------------------------------
    writes = sp.top(sp.prefixed("tables."))
    for t in TABLES:
        m[f"tables.{t}.write_s"] = _m(
            sp.dur(s for s in writes if s["name"].startswith(f"tables.{t}.")),
            "s")
    stage = sp.named("frontier.stage_delta") + sp.named("frontier.stage_adds")
    commit = sp.named("frontier.commit_delta") + \
        sp.named("frontier.commit_replace")
    compact = sp.named("frontier.maybe_compact")
    n_compact = sum(bool(s.get("compacted")) for s in compact)
    m["tables.commits"] = _m(len(writes) + len(commit) + n_compact, "count")
    written = [s for s in sp.spans if "files" in s]
    m["tables.files_written"] = _m(sum(s["files"] for s in written), "count")
    m["tables.bytes_written_mb"] = _m(
        sum(s["bytes"] for s in written) / 1e6, "MB")
    m["frontier.stage_s"] = _m(sp.dur(stage), "s")
    # commit + the compaction decision/rewrite that follows each commit
    m["frontier.commit_s"] = _m(sp.dur(commit) + sp.dur(compact), "s")
    m["frontier.compactions"] = _m(n_compact, "count")
    m["frontier.tombstones"] = _m(sum(s.get("tombstones", 0) for s in stage),
                                  "count")
    m["frontier.rows_rewritten"] = _m(
        sum(s.get("rows_rewritten", 0) for s in compact), "count")
    if sizes is not None:
        m["lake.files"] = _m(sizes["files"], "count")

    # queries / cli ----------------------------------------------------------
    for cmd in QUERY_CMDS:                        # mean per call
        calls = sp.named(f"query.{cmd}")
        m[f"query.{cmd}.s"] = _m(sp.dur(calls) / len(calls), "s")
        m[f"query.{cmd}.jobs"] = _m(sp.counter(calls, "jobs") / len(calls),
                                    "count")

    # curation layers --------------------------------------------------------
    for c in sp.prefixed("curate."):
        m[f"{c['name']}.s"] = _m(c["end"] - c["start"], "s")
        m[f"{c['name']}.jobs"] = _m(sp.counter([c], "jobs"), "count")
        m[f"{c['name']}.shuffle_mb"] = _m(
            sp.counter([c], "shuffle_bytes") / 1e6, "MB")
    family("curate", sp.prefixed("curate."))

    # the tracer itself -------------------------------------------------------
    m["trace.bookkeeping_s"] = _m(res["bookkeeping_s"], "s")
    m["trace.crawl_s"] = _m(wall, "s")
    return m
