"""One measured run in a fresh process: set up, crawl, query, curate.

Started by ``run.py`` with the environment the run is measured under
(``SPARK_GRAFT_CPUS``, a private ``SPARK_LOCAL_DIRS`` and ``TMPDIR``).
Writes everything it measured to ``--out`` as JSON; it checks nothing
against the goldens itself, except hashing curation results, which needs
the rows in this process.

    python3 perfbench/child.py --workload trickle --input WEB_DIR \
        --docs DOCS_DIR --workdir DIR --t0 EPOCH_SECONDS --seconds 2 \
        --trace 0 --out result.json
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.proc import tree_cpu_s  # noqa: E402

#: Upper bound on epochs; every workload drains well before it.
MAX_EPOCHS = 40


def lake_queries(workdir: str):
    """The closed-loop client's rotation: (name, cli function, args)."""
    from web_crawler_spark import cli
    ns = argparse.Namespace
    return [
        ("stats", cli.cmd_stats, ns(workdir=workdir, today="2024-01-01",
                                    week_ago="2023-12-25")),
        ("sources", cli.cmd_sources, ns(workdir=workdir)),
        ("search", cli.cmd_search, ns(workdir=workdir, keyword="bloom",
                                      start_date=None, end_date=None,
                                      limit=20)),
        ("articles", cli.cmd_articles, ns(workdir=workdir, limit=20,
                                          source=None)),
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--docs", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    out: dict = {"t0": a.t0, "epochs": [], "queries": [], "curate": [],
                 "errors": []}
    tracer = None
    if a.trace:
        from perfbench.trace import Tracer
        tracer = Tracer(os.path.join(a.workdir, "eventlog"))
        tracer.install()

    def span(name):
        return tracer.span(name) if tracer else contextlib.nullcontext()

    from web_crawler_spark.plans.epoch import CrawlConfig, CrawlEngine
    from web_crawler_spark.session import get_spark
    shape = inputs.CRAWLS[a.workload]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    # ---- set-up: session up, bootstrap committed --------------------------
    with span("session.start"):
        spark = get_spark("perfbench",  cores=cores,
                          extra_conf=tracer.spark_conf() if tracer else None)
    out["session_ready"] = time.time()
    if tracer:
        tracer.bind(spark)
    pages = spark.read.parquet(os.path.join(a.input, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(a.input, "seeds.parquet"))
    lake = os.path.join(a.workdir, "lake")
    eng = CrawlEngine(spark, lake, pages,
                      CrawlConfig(per_host_budget=shape["per_host_budget"]))
    eng.bootstrap(seeds)
    out["setup_done"] = time.time()
    out["setup_s"] = out["setup_done"] - a.t0
    out["setup_cpu_s"] = tree_cpu_s()

    # ---- crawl ------------------------------------------------------------
    for e in range(MAX_EPOCHS):
        t, c = time.perf_counter(), tree_cpu_s()
        try:
            st = eng.run_epoch(e)
        except Exception:                           # noqa: BLE001
            out["errors"].append(f"epoch {e}: {traceback.format_exc()}")
            out["epochs"].append({"epoch": e, "s": time.perf_counter() - t,
                                  "cpu_s": tree_cpu_s() - c, "ok": False})
            break
        out["epochs"].append({"epoch": e, "s": time.perf_counter() - t,
                              "cpu_s": tree_cpu_s() - c, "ok": True, **st})
        if st["frontier_out"] == 0:
            break

    out["crawl_done"] = time.time()

    # ---- lake queries: a closed loop of whole rotations (a partial
    # rotation would change the mix), at least two and for at least
    # --seconds. The first rotation, each query's first run on this lake,
    # is measured too. Queries get cheaper over the first rotations, so
    # the count must not depend on speed: two rotations take longer than
    # --seconds 2 on any machine this runs on -------------------------------
    rotation = lake_queries(lake)

    def run_query(name, fn, args):
        buf = io.StringIO()
        t, c = time.perf_counter(), tree_cpu_s()
        try:
            fn(spark, args, out=buf)
            ok = True
        except Exception:                           # noqa: BLE001
            out["errors"].append(f"query {name}: {traceback.format_exc()}")
            ok = False
        return {"cmd": name, "s": time.perf_counter() - t,
                "cpu_s": tree_cpu_s() - c, "ok": ok,
                "text": buf.getvalue() if name == "stats" else None}

    end = time.perf_counter() + a.seconds
    i = 0
    while time.perf_counter() < end or i % len(rotation) or \
            i < 2 * len(rotation):
        out["queries"].append(run_query(*rotation[i % len(rotation)]))
        i += 1

    out["queries_done"] = time.time()

    # ---- curation mix: one pass, each query timed through its collect -----
    from tools.check_oracles import table_hash
    from web_crawler_spark import driver_queries as dq
    docs = a.docs
    for q in inputs.CURATE_QUERIES:
        t, c = time.perf_counter(), tree_cpu_s()
        try:
            with span(f"curate.{q}"):
                df = dq.QUERIES[q](spark, docs)
                rows = df.collect()
            s, cpu = time.perf_counter() - t, tree_cpu_s() - c
            cols = df.columns
            out["curate"].append({"query": q, "s": s, "cpu_s": cpu,
                                  "ok": True,
                                  "rows": len(rows), "cols": sorted(cols),
                                  "hash": table_hash(rows, cols)})
        except Exception:                           # noqa: BLE001
            out["errors"].append(f"curate {q}: {traceback.format_exc()}")
            out["curate"].append({"query": q, "s": time.perf_counter() - t,
                                  "cpu_s": tree_cpu_s() - c, "ok": False})

    out["curate_done"] = time.time()
    if tracer:
        out["udf_python_s"] = tracer.udf_python_seconds(spark)
    spark.stop()
    out["stopped"] = time.time()
    if tracer:
        tracer.uninstall()
        out["spans"] = tracer.spans
        out["groups"] = tracer.attribute()
        out["bookkeeping_s"] = tracer.bookkeeping_s
    with open(a.out + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(a.out + ".tmp", a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
