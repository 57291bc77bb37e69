"""Spans around the program's layers, recorded from outside the program.

``Tracer.install`` wraps public functions of each layer (crawl engine,
lake tables, merge-on-read frontier, CLI commands) and the materialisations
``run_epoch`` issues, so the program itself is unchanged. Every span sets a
Spark job group; after the session stops, ``attribute`` reads the event log
and adds jobs, stages, failed tasks, task CPU, GC, shuffle and spill to the
span that submitted them. Python time inside UDFs comes from the PySpark
UDF profiler (``spark.sql.pyspark.udf.profiler=perf``).

Spans are kept in memory and summarised when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from typing import Callable, Dict, List, Optional

from perfbench.inputs import files_under

#: Spans whose direct materialisations (localCheckpoint / first / count)
#: get their own child span; elsewhere those calls stay inside the caller.
_PLAN_PARENTS = ("epoch.run", "epoch.bootstrap")


def materialisation_name(kind: str, columns: List[str]) -> str:
    """Name a materialisation by the schema it produces, not by where it is
    called: ``ext`` is fetch+extract, ``sched_ts`` without ``ext`` is the
    politeness schedule, the per-(partition, host) cube carries
    ``rows_in``."""
    cols = set(columns)
    if kind == "localCheckpoint":
        if "ext" in cols:
            return "fetch_extract"
        if "sched_ts" in cols:
            return "schedule"
        if {"partition_id", "rows_in"} <= cols:
            return "cube"
        return "checkpoint"
    if kind == "first":
        if cols == {"n", "na"}:
            return "schedule_count"
        if "arts_total" in cols:
            return "epoch_counts"
        return "first"
    if "content" in cols:
        return "seen_count"
    if "next_fetch_ts" in cols:
        return "frontier_count"
    return "count"


class Tracer:
    """In-memory span recorder with Spark job-group attribution."""

    def __init__(self, eventlog_dir: str):
        self.eventlog_dir = eventlog_dir
        self.spans: List[dict] = []
        self._stack: List[dict] = []
        self._n = 0
        self._sc = None
        self._undo: List[tuple] = []
        #: driver time spent inside the tracer's own bookkeeping
        self.bookkeeping_s = 0.0

    # -- session ------------------------------------------------------------
    def spark_conf(self) -> Dict[str, str]:
        os.makedirs(self.eventlog_dir, exist_ok=True)
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(
                    self.eventlog_dir),
                "spark.eventLog.compress": "false",
                "spark.sql.pyspark.udf.profiler": "perf"}

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self, rec: Optional[dict]) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(rec["id"], rec["name"])

    # -- spans --------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"pb{self._n}", "name": name,
               "parent": parent["id"] if parent else None}
        self._n += 1
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def current(self) -> Optional[str]:
        return self._stack[-1]["name"] if self._stack else None

    # -- wrapping -----------------------------------------------------------
    def wrap(self, owner, attr: str, name: Callable,
             after: Optional[Callable] = None) -> None:
        """Replace ``owner.attr`` with a spanned version.

        ``name(args, kwargs)`` names the span (None: call unspanned);
        ``after(rec, args, kwargs, result)`` records counts on it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            label = name(args, kwargs)
            if label is None:
                return orig(*args, **kwargs)
            with tracer.span(label) as rec:
                result = orig(*args, **kwargs)
                if after is not None:
                    t = time.perf_counter()
                    after(rec, args, kwargs, result)
                    tracer.bookkeeping_s += time.perf_counter() - t
                return result
        setattr(owner, attr, spanned)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def install(self) -> None:
        """Wrap the public layer functions the benchmark attributes time
        to. Must run before the caller looks those functions up."""
        from pyspark.sql.classic.dataframe import DataFrame

        from web_crawler_spark import cli
        from web_crawler_spark.plans.epoch import CrawlEngine
        from web_crawler_spark.sources.tables import DeltaFrontier, LakeTable

        def table(args, _kw):
            return os.path.basename(os.path.normpath(args[0].path))

        def wrote(path_of):
            def after(rec, args, kwargs, _result):
                files = files_under(path_of(args, kwargs))
                rec["files"] = len(files)
                rec["bytes"] = sum(os.path.getsize(f) for f in files)
            return after

        def epoch_arg(args, kwargs):
            return kwargs.get("epoch", args[2] if len(args) > 2 else None)

        self.wrap(CrawlEngine, "bootstrap", lambda a, k: "epoch.bootstrap")

        def epoch_done(rec, _args, _kw, result):
            rec["result"] = dict(result)
        self.wrap(CrawlEngine, "run_epoch", lambda a, k: "epoch.run",
                  epoch_done)

        lake_dir = lambda a, k: a[0]._epoch_dir(epoch_arg(a, k))  # noqa: E731
        self.wrap(LakeTable, "append",
                  lambda a, k: f"tables.{table(a, k)}.append", wrote(lake_dir))
        self.wrap(LakeTable, "overwrite",
                  lambda a, k: f"tables.{table(a, k)}.overwrite",
                  wrote(lake_dir))
        self.wrap(LakeTable, "merge",
                  lambda a, k: f"tables.{table(a, k)}.merge")

        def staged(rec, _args, _kw, result):
            parts = [result] if "staging" in result else list(result.values())
            files = [f for p in parts for f in files_under(p["staging"])]
            rec["files"] = len(files)
            rec["bytes"] = sum(p["bytes"] for p in parts)
            rec["tombstones"] = result.get("del", {}).get("rows", 0)

        def compacted(rec, args, _kw, result):
            rec["compacted"] = bool(result)
            rec["rows_rewritten"] = (args[0].stats()["add_rows"]
                                     if result else 0)
        self.wrap(DeltaFrontier, "read", lambda a, k: "frontier.read")
        self.wrap(DeltaFrontier, "stage_delta",
                  lambda a, k: "frontier.stage_delta", staged)
        self.wrap(DeltaFrontier, "stage_adds",
                  lambda a, k: "frontier.stage_adds", staged)
        self.wrap(DeltaFrontier, "commit_delta",
                  lambda a, k: "frontier.commit_delta")
        self.wrap(DeltaFrontier, "commit_replace",
                  lambda a, k: "frontier.commit_replace")
        self.wrap(DeltaFrontier, "maybe_compact",
                  lambda a, k: "frontier.maybe_compact", compacted)

        for cmd in ("stats", "sources", "search", "articles"):
            self.wrap(cli, f"cmd_{cmd}",
                      lambda a, k, cmd=cmd: f"query.{cmd}")

        def plan_name(kind):
            def name(args, _kw):
                if self.current() not in _PLAN_PARENTS:
                    return None
                return "plan." + materialisation_name(kind, args[0].columns)
            return name

        def first_row(rec, _args, _kw, result):
            if result is not None:
                rec["row"] = result.asDict()
        self.wrap(DataFrame, "localCheckpoint", plan_name("localCheckpoint"))
        self.wrap(DataFrame, "first", plan_name("first"), first_row)
        self.wrap(DataFrame, "count", plan_name("count"))

    # -- profiler -----------------------------------------------------------
    @staticmethod
    def udf_python_seconds(spark) -> Dict[str, float]:
        """Python seconds per UDF module, from the perf UDF profiler:
        each profile is attributed to the package module whose functions
        it ran (functions/extract.py -> ``extract``). The profiler records
        file basenames only."""
        out: Dict[str, float] = {}
        results = spark.profile.profiler_collector._perf_profile_results
        for stats in results.values():
            mods = {os.path.splitext(fn)[0] for (fn, _ln, _fun) in stats.stats}
            for mod in ("extract", "canonicalize", "bpe"):
                if mod in mods:
                    break
            else:
                mod = "other"
            out[mod] = out.get(mod, 0.0) + stats.total_tt
        return out

    # -- event log ----------------------------------------------------------
    def attribute(self) -> Dict[str, dict]:
        """Per job group: jobs, stages, failed tasks, task CPU, GC, shuffle
        written and bytes spilled, from the event log."""
        from tools.eventlog_stages import _lines
        logs = [p for p in glob.glob(os.path.join(self.eventlog_dir, "*"))
                if not p.endswith(".inprogress")]
        job_group: Dict[int, str] = {}
        stage_group: Dict[int, str] = {}
        per: Dict[str, dict] = {}

        def acc(g):
            return per.setdefault(g, {"jobs": 0, "stages": 0,
                                      "failed_tasks": 0, "cpu_s": 0.0,
                                      "gc_s": 0.0, "shuffle_bytes": 0,
                                      "spill_bytes": 0})
        for path in logs:
            for ln in _lines(path):
                try:
                    e = json.loads(ln)
                except ValueError:
                    continue
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    job_group[e["Job ID"]] = g
                    acc(g)["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif ev == "SparkListenerStageCompleted":
                    g = stage_group.get(e["Stage Info"]["Stage ID"])
                    if g is not None:
                        acc(g)["stages"] += 1
                elif ev == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    if g is None:
                        continue
                    a = acc(g)
                    if (e.get("Task End Reason") or {}).get(
                            "Reason") != "Success":
                        a["failed_tasks"] += 1
                    tm = e.get("Task Metrics") or {}
                    a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    a["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    a["shuffle_bytes"] += (tm.get("Shuffle Write Metrics")
                                           or {}).get("Shuffle Bytes Written",
                                                      0)
        return per
