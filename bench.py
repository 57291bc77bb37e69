"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] (unset: every CPU of the machine) and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is the total wall time of the headline set. A crawl-throughput
floor (articles stored per second across the full multi-epoch engine run)
is reported under "crawl_articles_per_sec"; the authoritative
URLs-fetched+parsed/sec scaling numbers come from tools/bench_scaling.py.

Usage: python bench.py [--sf-dir DIR] [--queries q1,q2] [--repeat N]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the crawl pipeline (the engine's raison d'etre) + the widest
# relational / training-data operators. Everything else in queries() still
# runs under the driver's correctness gate.
HEADLINE = [
    "crawl_extract",        # canonicalize -> fetch-join -> Arrow parse UDF
    "crawl_discover",       # link-extraction UDTF + explode + canonicalize
    "crawl_full",           # full multi-epoch engine w/ politeness + dedup
    "pricing_summary",      # scan-heavy aggregation (TPC-H Q1 shape)
    "top_revenue_orders",   # shuffle join + agg + top-k
    "first_event_per_user", # window dedup (D1 at scale)
    "events_sessionize",    # sessionization window
    "dedup_exact",          # content-hash dedup
    "minhash_near_dup",     # MinHash+LSH near-dup
    "token_stats",          # tokenization rollup
    "quality_scores",       # quality features, pure built-ins
    "ann_cosine_topk",      # brute-force cosine top-k
    "ivf_cosine_topk",      # IVF-flat ANN (probe n of k inverted lists)
    "multimodal_features",  # mapInPandas binary-payload feature plumbing
]

# Second headline tier (round-4 verdict Next #7): operators that landed
# after the original HEADLINE froze for cross-round comparability. Timed in
# the same session and emitted under separate keys ("value_v2",
# "queries_v2") so the original total stays a like-for-like series while
# these gain a perf history of their own.
HEADLINE_V2 = [
    "langid_ngram",         # trigram NB langid vs committed model table
    "simhash_near_dup",     # 64-bit simhash, 4x16-bit band blocking
    "lsh_cosine_buckets",   # hyperplane-LSH bucketing (committed planes)
    "stream_politeness",    # applyInPandasWithState token-bucket stream
    "corpus_assembly",      # decontaminate -> mixture-sample -> pack, fused
]

# Third tier: the late-round-5 curation/selection/retrieval family — same
# rationale as V2 (new operators need a perf series without perturbing the
# frozen comparable totals). Emitted under "value_v3"/"queries_v3".
HEADLINE_V3 = [
    "dedup_clusters",       # LSH pairs -> connected components -> canonical
    "gopher_repetition",    # exact-integer top-2gram / dup-3gram shares
    "pii_redact",           # regexp_count/replace scrub, pure JVM
    "substring_dup_spans",  # k-gram islands -> maximal duplicated spans
    "decontam_flags",       # 13-gram benchmark-overlap decontamination
    "boilerplate_strip",    # per-host line doc-frequency template removal
    "pack_sequences",       # concat-and-chunk token bin packing
    "mixture_sample",       # salted-hash deterministic mixture weights
    "host_pagerank",        # integer-exact link-graph power iterations
    "dsir_weights",         # DSIR hashed-ngram importance scores
    "quality_classifier",   # fasttext-style model-based quality gate
    "bm25_topk",            # integer-rational BM25 ranked retrieval
    "chunk_documents",      # sliding-window RAG chunking, map-side only
]


def main() -> None:
    from web_crawler_spark.session import default_cores, get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset of headline queries")
    ap.add_argument("--cores", type=int, default=default_cores(),
                    help="local task slots (default: SPARK_GRAFT_CPUS, "
                         "else the machine's CPU count)")
    ap.add_argument("--repeat", type=int, default=1,
                    help="best-of-N timing per query")
    ap.add_argument("--no-control", action="store_true",
                    help="skip the machine-control calibration")
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    # Machine-control calibration (run BEFORE the Spark JVM spins up so the
    # control sees the same idle/steal conditions the suite is about to):
    # pure-CPU mp.Pool article extraction at 2 procs and at --cores procs,
    # pinned with taskset — what the MACHINE gives those cores right now,
    # independent of Spark. This is a shared hypervisor VM with measured
    # steal windows (round-3 record: 23% steal / 0.40-of-linear at 32 busy
    # procs made an unchanged-plan suite read 2.3x slower), so every bench
    # json carries its own window health. Read it against BASELINE.md's
    # clean-window reference: ~13-17k docs/s/proc at 2 procs and
    # machine_scaling_efficiency_2_to_cores >= ~0.65 at 32 means a clean
    # window (SMT caps the upper bound well below 1.0 at 32 busy procs);
    # an efficiency near 0.4 reproduces the round-3 contaminated record —
    # there, the suite time is window noise, not a plan regression.
    control: dict = {}
    if not args.no_control:
        from tools.bench_scaling import _mp_control
        try:
            lo = _mp_control(2, per=20000)
            hi = _mp_control(args.cores, per=20000)
            control = {
                "machine_control_docs_per_sec": {
                    "2": round(lo, 0), str(args.cores): round(hi, 0)},
                "machine_scaling_efficiency_2_to_cores": round(
                    (hi / args.cores) / (lo / 2), 3),
            }
            print(f"# machine control: {lo:.0f} docs/s @2p, "
                  f"{hi:.0f} docs/s @{args.cores}p, "
                  f"eff={control['machine_scaling_efficiency_2_to_cores']}",
                  file=sys.stderr)
        except Exception as exc:  # control is diagnostic, never fatal
            control = {"machine_control_error": str(exc)[:200]}

    spark = get_spark("bench", cores=args.cores)
    qs = entrymod.queries()
    names = (args.queries.split(",") if args.queries else HEADLINE)
    # validate BOTH tiers up front: a lost @_q registration must fail fast
    # with exit 2, not KeyError after the frozen suite already ran
    v2 = HEADLINE_V2 if args.queries is None else []
    v3 = HEADLINE_V3 if args.queries is None else []
    unknown = [n for n in list(names) + v2 + v3 if n not in qs]
    if unknown:
        print(f"error: unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    m = re.search(r"sf([\d.]+)", args.sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else 0.0

    # Warm the JVM + parquet footers once so per-query times measure the
    # plan, not session startup.
    spark.read.parquet(f"{args.sf_dir}/documents.parquet").count()

    crawl_rows = 0
    crawl_sec = 0.0

    def run_set(set_names: list) -> dict:
        nonlocal crawl_rows, crawl_sec
        timings: dict[str, float] = {}
        for name in set_names:
            best = None
            rows = 0
            for _ in range(args.repeat):
                t0 = time.time()
                df = qs[name](spark, args.sf_dir)
                rows = df.count()  # full execution; driver collects separately
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
            if name == "crawl_full":
                crawl_rows, crawl_sec = rows, best
            print(f"# {name}: {best:.3f}s ({rows} rows)", file=sys.stderr)
        return timings

    timings = run_set(names)
    # V2 tier runs AFTER the frozen set so it can never perturb the
    # comparable series; skipped when --queries selects an explicit subset.
    timings_v2 = run_set(v2) if v2 else {}
    timings_v3 = run_set(v3) if v3 else {}

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": args.cores,
    }
    if timings_v2:
        out["value_v2"] = round(sum(timings_v2.values()), 3)
        out["queries_v2"] = timings_v2
    if timings_v3:
        out["value_v3"] = round(sum(timings_v3.values()), 3)
        out["queries_v3"] = timings_v3
    out.update(control)
    if crawl_sec > 0:
        # articles stored / wall time of the full multi-epoch engine run —
        # a lower bound on fetch+parse throughput (dup-skips, date-drops and
        # list fetches also consumed frontier URLs). The north-rule
        # urls/sec numbers come from tools/bench_scaling.py.
        aps = crawl_rows / crawl_sec
        out["crawl_articles_per_sec"] = round(aps, 1)
        out["crawl_articles_per_sec_per_core"] = round(aps / args.cores, 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
