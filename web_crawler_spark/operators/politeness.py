"""Per-host politeness scheduling (T2/T3).

Reference semantics: one crawler instance per source enforces
``request_delay`` seconds between consecutive fetches
(/root/reference/app/scrapers/base_crawler.py:65-70); 429/5xx retried with
backoff_factor=1 (base_crawler.py:43-48) and the API path sleeps 60 s on 429
(api/base_fetcher.py:123-126).

Spark realization: a two-phase per-host budget truncation (no single task
ever sorts a hot host's whole backlog) followed by a pure window-function
token bucket — sched_ts = runningmax(greatest(epoch_start + delay·rank,
next_fetch_ts)) over the per-host (priority, next_fetch_ts, discovered_seq)
order, the total order the reference's sequential loop induces. No Python
anywhere in the schedule; per-host group size is bounded by
``per_host_budget`` (a host can only absorb epoch_seconds/delay URLs per
epoch anyway).

Skew: the schedule is the only per-host-sequential step, and its hot-host
skew is handled there, by the ``xxhash64(url) % N_PREBUCKETS`` phase of
``truncate_per_host``. Downstream, the article rows reach the fetch join
hash-partitioned by url (the in-epoch dedup window keys on it), so a hot
host is already spread over every partition; politeness order stays
encoded in sched_ts.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: fan-in for the two-phase per-host truncation: a hot host's backlog is
#: first cut to `budget` rows inside each of N_PREBUCKETS hash buckets
#: (parallel sorts over backlog/N rows each), then the survivors (≤ N·budget
#: rows) take the final per-host top-budget. Exact distributed top-k: every
#: global-top-budget row is within the top budget of its own bucket.
N_PREBUCKETS = 32

#: Retry(total=3) (base_crawler.py:43-48): a row that has failed this many
#: fetches is dropped instead of requeued
MAX_RETRIES = 3
#: backoff on HTTP 429 — the API path's 60 s sleep (base_fetcher.py:123-126)
RATE_LIMIT_PENALTY = 60.0


def truncate_per_host(frontier: DataFrame, per_host_budget: int,
                      prebucket: bool = True) -> DataFrame:
    """Keep the first ``per_host_budget`` rows per host in
    (priority, next_fetch_ts, discovered_seq) order.

    With ``prebucket`` the hot host never sorts its full backlog in one
    task: phase 1 windows over (host, xxhash64(url)%N) partitions — the
    skew-killer the single-window plan lacked (a 30%%-hot host at 10^8
    frontier rows put ~3·10^7 rows into ONE sort task). Phase 2's window
    input is bounded by N_PREBUCKETS·budget regardless of backlog."""
    from pyspark.sql import Window
    order = [F.col("priority").asc(), F.col("next_fetch_ts").asc(),
             F.col("discovered_seq").asc()]
    if prebucket:
        w1 = Window.partitionBy("host", "__bkt").orderBy(*order)
        frontier = (frontier
                    .withColumn("__bkt",
                                F.pmod(F.xxhash64(F.col("url")),
                                       F.lit(N_PREBUCKETS)))
                    .withColumn("__rk", F.row_number().over(w1))
                    .filter(F.col("__rk") <= per_host_budget)
                    .drop("__rk", "__bkt"))
    w2 = Window.partitionBy("host").orderBy(*order)
    return (frontier.withColumn("__rk", F.row_number().over(w2))
            .filter(F.col("__rk") <= per_host_budget).drop("__rk"))


def schedule_epoch(frontier: DataFrame,
                   default_delay: float = 1.0,
                   per_host_budget: int = 10_000,
                   epoch_start_ts: float = 0.0,
                   host_delays: Optional[Dict[str, float]] = None,
                   approx_rows: Optional[int] = None) -> DataFrame:
    """Assign sched_ts per row, per-host token bucket.

    Input frontier columns: host, priority, next_fetch_ts, discovered_seq
    (+payload). Output adds sched_ts double and keeps only the first
    ``per_host_budget`` rows per host for this epoch (the rest stay enqueued
    for the next epoch).

    Entirely JVM-side: two-phase budget truncation, then the token bucket as
    window expressions — sched_ts = runningmax(greatest(epoch_start +
    delay·row_number, next_fetch_ts)) over the per-host crawl order. The
    running max keeps the bucket monotone when a retry's next_fetch_ts
    (backoff penalty) pushes a row later. Round 1 ran this as an
    applyInPandas token bucket; the window form is value-identical and takes
    Python (and the hot host's serial pandas group) out of the schedule.

    ``host_delays`` ({host: seconds}, the robots Crawl-delay map) is joined
    as a broadcast dimension; hosts not in it, and null hosts, pace at
    ``default_delay``.
    """
    # ``approx_rows`` (the caller's known frontier count) prunes no-op work:
    # a frontier that fits the budget outright needs no truncation at all,
    # and the prebucket phase only pays off when a single host could exceed
    # the budget — both windows are exact either way, this is plan pruning.
    prebucket = approx_rows is None or approx_rows > 4 * per_host_budget
    if approx_rows is None or approx_rows > per_host_budget:
        frontier = truncate_per_host(frontier, per_host_budget, prebucket)

    if host_delays:
        ddf = frontier.sparkSession.createDataFrame(
            [(h, float(d)) for h, d in host_delays.items()],
            schema="host string, __hd double")
        frontier = (frontier.join(F.broadcast(ddf), "host", "left")
                    .withColumn("__delay",
                                F.coalesce("__hd",
                                           F.lit(float(default_delay))))
                    .drop("__hd"))
    else:
        frontier = frontier.withColumn("__delay", F.lit(float(default_delay)))

    from pyspark.sql import Window
    order = [F.col("priority").asc(), F.col("next_fetch_ts").asc(),
             F.col("discovered_seq").asc()]
    w = Window.partitionBy("host").orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = (F.lit(float(epoch_start_ts)) +
            F.col("__delay") * F.row_number().over(w))
    sched = F.max(F.greatest(base, F.col("next_fetch_ts"))).over(run)
    return (frontier.withColumn("sched_ts", sched.cast("double"))
            .drop("__delay"))


def backoff_requeue(failed: DataFrame, base_penalty: float = 1.0
                    ) -> DataFrame:
    """Failed fetches → frontier re-entries with exponential-ish backoff:
    next_fetch_ts += penalty * retries (backoff_factor=1 semantics,
    base_crawler.py:43-48); 429 rows get RATE_LIMIT_PENALTY. Rows that
    already failed MAX_RETRIES times are dropped (the reference's
    Retry(total=3) gives up the same way)."""
    penalty = F.when(F.col("fetch_status") == "429",
                     F.lit(RATE_LIMIT_PENALTY)) \
               .otherwise(F.lit(base_penalty) * (F.col("retries") + 1))
    return (failed.filter(F.col("retries") < MAX_RETRIES)
            .withColumn("retries", F.col("retries") + 1)
            .withColumn("next_fetch_ts", F.col("sched_ts") + penalty)
            .drop("fetch_status", "sched_ts"))
