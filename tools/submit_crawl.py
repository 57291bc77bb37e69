"""spark-submit entrypoint for the crawl engine (north_rule: `spark-submit
--py-files`).

Package and run:

    cd /root/repo && zip -qr /tmp/wcs.zip web_crawler_spark
    /opt/spark/bin/spark-submit --master 'local[8]' \
        --py-files /tmp/wcs.zip tools/submit_crawl.py \
        --n-docs 20000 --epochs 1 --workdir /tmp/wcs-submit

For large synthesized webs pass --driver-memory (the DEMO materializes the
fixture web driver-side before createDataFrame; a real deployment reads
pages from an Iceberg/parquet table and needs no driver headroom —
measured: 1M docs / 100k articles wants ~24g only for the fixture build).

On a real cluster, swap --master for the cluster manager and point
--workdir at an Iceberg/DFS path; everything else is identical.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=20000)
    ap.add_argument("--n-hosts", type=int, default=64)
    ap.add_argument("--epochs", type=int, default=1)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--hot-frac", type=float, default=0.30,
                    help="fixture skew: share of URLs on host 0 (0=uniform)")
    ap.add_argument("--fixture-dir", default=None,
                    help="shared fixture cache (pages+seeds parquet); "
                         "reused across runs/parallelism levels so the "
                         "python fixture build happens once")
    ap.add_argument("--per-host-budget", type=int, default=10_000,
                    help="max frontier rows a host may consume per epoch "
                         "(CrawlConfig.per_host_budget)")
    args = ap.parse_args()

    # spark-submit provides the session config (master, memory, py-files);
    # runtime-settable engine defaults applied here (the static ones —
    # driver memory etc. — belong on the spark-submit command line)
    spark = SparkSession.builder.appName("wcs-crawl").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(2 * spark.sparkContext.defaultParallelism))

    from web_crawler_spark import html_synth
    from web_crawler_spark.plans.epoch import CrawlConfig, CrawlEngine

    # Stage the fixture web to parquet ONCE and read it back: a
    # createDataFrame local collection would re-serialize from the driver
    # on every scan (fixture overhead, not engine time); a real deployment
    # reads pages from an Iceberg/parquet table exactly like this. With
    # --fixture-dir the staged fixture is shared across runs (e.g. both
    # parallelism levels of a scaling comparison).
    import os
    fdir = args.fixture_dir or args.workdir
    # the fixture parameters are encoded in the staged path, so re-running
    # with different --n-docs/--n-hosts/--hot-frac can never silently reuse
    # a stale fixture built for other parameters (round-2 advice)
    tag = f"n{args.n_docs}_h{args.n_hosts}_hot{args.hot_frac:.2f}"
    pages_path = os.path.join(fdir, f"_pages_fixture_{tag}")
    seeds_path = os.path.join(fdir, f"_seeds_fixture_{tag}")
    if not (os.path.exists(pages_path) and os.path.exists(seeds_path)):
        web = html_synth.synth_web(n_articles=args.n_docs // 10 or 10,
                                   n_hosts=args.n_hosts, seed=42,
                                   hot_frac=args.hot_frac)
        html_synth.pages_df(spark, web, n_partitions=16) \
            .write.mode("overwrite").parquet(pages_path)
        html_synth.seeds_df(spark, web) \
            .write.mode("overwrite").parquet(seeds_path)
    pages = spark.read.parquet(pages_path)
    seeds = spark.read.parquet(seeds_path)

    eng = CrawlEngine(spark, args.workdir, pages,
                      CrawlConfig(per_host_budget=args.per_host_budget))
    t0 = time.time()
    totals = eng.run(seeds, max_epochs=args.epochs)
    dt = time.time() - t0
    arts = eng.articles.read(spark).count()
    print(json.dumps({"epochs": totals["epochs"], "articles": arts,
                      "seconds": round(dt, 2),
                      "articles_per_sec": round(arts / dt, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
