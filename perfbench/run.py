"""spark-frontier benchmark: one measured run of one workload.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 2 --trace 0

Run from the root of a checkout of the repository. The run

1. generates the workload's inputs from ``--seed`` (once per workload and
   seed, cached under ``.perfbench/inputs``) with their goldens;
2. reads the inputs into the page cache and records a machine control;
3. starts a fresh child process (``child.py``) with its own work directory
   and ``SPARK_LOCAL_DIRS`` that sets up, crawls, queries and curates; in
   traced runs it also samples the summed resident set of the child's
   process tree;
4. checks every output against the golden, outside the timed windows;
5. removes the work directory and prints, as the last line of stdout, one
   JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
   (end-to-end metrics with ``--trace 0``, per-layer metrics with
   ``--trace 1``).

See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from typing import NoReturn

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("trickle", "heavy_pages")
#: the whole run must end inside this many seconds
RUN_DEADLINE_S = 170


def fail(msg: str, code: int = 2) -> NoReturn:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


class RssSampler(threading.Thread):
    """Samples the summed resident set of a process tree every
    ``interval`` seconds (traced runs only)."""

    def __init__(self, pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.samples = []                 # (wall clock, bytes)
        self._stop_evt = threading.Event()

    def run(self) -> None:
        from perfbench.proc import tree_rss_bytes
        while not self._stop_evt.is_set():
            self.samples.append((time.time(), tree_rss_bytes(self.pid)))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


# --------------------------------------------------------------------------
# output checks
# --------------------------------------------------------------------------

def read_table_dir(table_dir: str, columns=None):
    """A LakeTable's committed epochs as one pyarrow table, or None when
    nothing is committed (no Spark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    try:
        with open(os.path.join(table_dir, "_manifest.json")) as f:
            epochs = json.load(f)["epochs"]
    except FileNotFoundError:
        return None
    parts = [pq.read_table(os.path.join(table_dir, f"epoch={e}"),
                           columns=columns) for e in sorted(epochs)]
    return pa.concat_tables(parts) if parts else None


def check_lake(lake: str, golden: dict) -> list:
    """Problems with the crawl's articles table against the reference
    crawl: seen set, byte-identical fields, order by
    (priority, discovered_seq). Empty list = correct."""
    from perfbench.inputs import article_digest
    t = read_table_dir(os.path.join(lake, "articles"))
    if t is None:
        return ["articles table is empty"]
    rows = t.to_pylist()
    problems = []
    got = {}
    for r in rows:
        if r["url"] in got:
            problems.append(f"duplicate article {r['url']}")
        got[r["url"]] = article_digest(r["title"], r["content"],
                                       r["published_date"], r["source_id"])
    exp = golden["articles"]
    missing, extra = set(exp) - set(got), set(got) - set(exp)
    if missing or extra:
        problems.append(f"seen set differs: {len(missing)} missing, "
                        f"{len(extra)} extra")
    bad = [u for u in exp if u in got and got[u] != exp[u]]
    if bad:
        problems.append(f"{len(bad)} articles differ from the reference, "
                        f"e.g. {bad[0]}")
    order = [r["url"] for r in sorted(
        rows, key=lambda r: (r["priority"], r["discovered_seq"]))]
    if order != golden["order"]:
        problems.append("crawl order differs from the reference")
    return problems


def check_stats(text: str, golden: dict) -> list:
    """Problems with one ``cli stats`` output against the golden counts."""
    n = len(golden["articles"])
    want = [f"Total sources: {golden['n_sources']}",
            f"Total articles: {n}",
            f"Articles scraped today: {n}"]
    want += [f"  src-{sid}: {c}" for sid, c in golden["per_source"].items()]
    lines = set(text.splitlines())
    return [f"stats lacks '{w.strip()}'" for w in want if w not in lines]


def lake_sizes(lake: str) -> dict:
    from perfbench.inputs import files_under
    files = files_under(lake)
    t = read_table_dir(os.path.join(lake, "articles"), ["content"])
    content = sum(len(c.encode()) for c in t.column("content").to_pylist()
                  if c is not None)
    rows_in = read_table_dir(os.path.join(lake, "partition_checkpoints"),
                             ["rows_in"]).column("rows_in").to_pylist()
    return {"files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "content_bytes": content,
            "rows_fetched": sum(rows_in)}


# --------------------------------------------------------------------------
# one run
# --------------------------------------------------------------------------

def machine_control() -> dict:
    """Docs/s of the reference extractor under a plain process pool at 2
    and nproc processes (tools.bench_scaling): what the machine gives this
    window, independent of Spark. Context only, not a compared metric."""
    from tools.bench_scaling import _mp_control
    n = os.cpu_count() or 1
    return {str(p): round(_mp_control(p, per=2000)) for p in sorted({2, n})}


def warm_page_cache(paths) -> None:
    for p in paths:
        with open(p, "rb") as f:
            while f.read(1 << 20):
                pass


def run_child(root: str, workload: str, input_dirs: dict, seconds: float,
              trace: int, deadline: float) -> tuple:
    """Start the measured child in a fresh work directory; return (result
    dict or None, RSS samples of its process tree (traced runs only), work
    directory)."""
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    nproc = str(os.cpu_count() or 1)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=nproc,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               TMPDIR=os.path.join(work, "tmp"),
               JAVA_TOOL_OPTIONS="-Djava.io.tmpdir=" + os.path.join(work,
                                                                    "tmp"),
               PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH",
                                                             ""))
    out_path = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", workload, "--input", input_dirs["web"],
           "--docs", input_dirs["docs"], "--workdir", work,
           "--seconds", str(seconds), "--trace", str(trace),
           "--out", out_path, "--t0", repr(time.time())]
    log = open(os.path.join(work, "child.log"), "w")
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log,
                            stderr=subprocess.STDOUT, start_new_session=True)
    sampler = RssSampler(proc.pid) if trace else None
    if sampler:
        sampler.start()
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        print("perfbench: child exceeded the run deadline", file=sys.stderr)
    finally:
        if sampler:
            sampler.stop()
        try:
            os.killpg(proc.pid, signal.SIGKILL)   # JVM, python workers
        except ProcessLookupError:
            pass
        proc.wait()
        log.close()
    result = None
    if os.path.exists(out_path):
        with open(out_path) as f:
            result = json.load(f)
    if result is None or proc.returncode != 0:
        with open(os.path.join(work, "child.log")) as f:
            sys.stderr.write(f.read()[-6000:])
    return result, sampler.samples if sampler else [], work


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its child process tree (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    deadline = start + RUN_DEADLINE_S

    root = os.getcwd()
    for need in ("web_crawler_spark/__init__.py", "tools/bench_scaling.py",
                 "tools/check_oracles.py", "tools/eventlog_stages.py"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"run from the repository root: {need} not found")
    sys.path.insert(0, root)
    from perfbench import inputs, layers

    dirs = inputs.prepare(os.path.join(root, ".perfbench", "inputs"),
                          a.workload, a.seed)
    golden = inputs.load_golden(dirs["web"])
    docs_golden = inputs.load_golden(dirs["docs"])
    warm_page_cache(inputs.files_under(dirs["web"]) +
                    inputs.files_under(dirs["docs"]))
    context = {"workload": a.workload, "seed": a.seed,
               "machine_control_docs_per_s": machine_control()}

    res, rss, work = run_child(root, a.workload, dirs, a.seconds,
                                    a.trace, deadline)
    try:
        if res is None:
            fail("the measured run produced no result", 1)
        lake = os.path.join(work, "lake")
        problems = list(res["errors"])
        if golden["chrome_visible"]:
            problems.append("chrome changes the reference extraction of "
                            f"{golden['chrome_visible']}")
        lake_problems = check_lake(lake, golden)
        problems += lake_problems
        epochs = res["epochs"]
        if epochs and "frontier_out" in epochs[-1] and \
                epochs[-1]["frontier_out"] != 0:
            problems.append("crawl did not drain the frontier")
        failed_ops = sum(not e["ok"] for e in epochs)
        if lake_problems:                  # the crawl's output is wrong
            failed_ops = len(epochs)
        for q in res["queries"]:
            bad = [] if not q["ok"] else (
                check_stats(q["text"], golden) if q["cmd"] == "stats" else [])
            problems += bad
            failed_ops += (not q["ok"]) or bool(bad)
        for c in res["curate"]:
            exp = docs_golden["queries"][c["query"]]
            ok = c["ok"] and all(c[k] == exp[k] for k in ("rows", "cols",
                                                          "hash"))
            if c["ok"] and not ok:
                problems.append(f"curate {c['query']}: result differs from "
                                "its oracle")
            failed_ops += not ok
        attempted = len(epochs) + len(res["queries"]) + len(res["curate"])
        sizes = lake_sizes(lake) if not lake_problems else None
        if a.trace:
            rss_peaks = layers.phase_peaks(res, rss)
            metrics = layers.per_layer(res, golden, sizes, rss_peaks)
            context["rss_peak_mb"] = {k: round(v, 1)
                                      for k, v in rss_peaks.items()}
        else:
            metrics = layers.end_to_end(res, golden, docs_golden, sizes)
        context["wall"] = layers.wall_metrics(res, golden, docs_golden)
        context["phases"] = layers.phases(res)
        context["problems"] = problems[:20]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    context["run_s"] = round(time.time() - start, 2)
    context["checks_s"] = round(time.time() - res["stopped"], 2)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": not problems and failed_ops == 0,
                      "attempted": attempted, "failed": failed_ops,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
