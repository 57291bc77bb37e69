"""Link-graph PageRank over a host citation graph (the ``host_pagerank``
query).

The engine does not consume it: the reference crawls a fixed site list, so
its crawl order is the static (priority, discovered_seq) order and no
authority rank feeds the schedule. Implemented as fixed-iteration power
method with ALL arithmetic in scaled integers (rank mass = 10^12
micro-units, truncating division), so the result is bit-identical
regardless of partition count, summation order, or engine — which is what
lets a DuckDB oracle restate the unrolled iterations value-for-value, the
same discipline as the k-means quantizer oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_ranks(edges: DataFrame, n_iters: int = 3,
                   src: str = "src", dst: str = "dst",
                   scale: int = 10 ** 12,
                   damping_pct: int = 85) -> DataFrame:
    """Integer-exact PageRank over a directed edge list.

    Semantics (deterministic, engine-portable):
      - the graph is simplified to distinct (src, dst) edges;
      - every node starts with scale//N micro-units of rank;
      - each iteration sends rank DIV out_degree along every out-edge
        (truncating integer division — positive everywhere, so Spark's
        DIV and DuckDB's // agree), then
        new = base + (damping_pct * inbound_sum) DIV 100 with
        base = (scale * (100 - damping_pct)) DIV (100 * N);
      - dangling-node mass is dropped (not redistributed) — the standard
        simplification, stated so the oracle matches by construction.

    Returns (node bigint, rank_micro bigint), the oracle-gated
    host_pagerank shape.

    100-TB story: the edge list is materialized once (localCheckpoint) and
    re-joined each iteration — at cluster scale it would be bucketed by
    src so the rank⋈edges join is co-located and only the (node, rank)
    table (16 B/row) moves per iteration; the inbound rollup is map-side
    partial-summed, so a hot host with 10^8 in-links arrives at its
    reducer as per-partition partials (AQE skew-split covers the rest).
    Lineage is truncated every iteration, so plans stay O(1) deep no
    matter how many power steps run.
    """
    e = (edges.select(F.col(src).cast("bigint").alias("src"),
                      F.col(dst).cast("bigint").alias("dst"))
         .distinct().localCheckpoint(eager=True))
    nodes = (e.select(F.col("src").alias("v"))
             .union(e.select(F.col("dst").alias("v")))
             .distinct().localCheckpoint(eager=True))
    n = nodes.count()
    if n == 0:
        return nodes.select(F.col("v").alias("node"),
                            F.lit(0).cast("bigint").alias("rank_micro"))
    outd = e.groupBy("src").agg(F.count("*").alias("od"))
    base = (scale * (100 - damping_pct)) // (100 * n)
    ranks = nodes.withColumn("r", F.lit(scale // n).cast("bigint"))
    for _ in range(n_iters):
        contrib = (e.join(ranks.withColumnRenamed("v", "src"), "src")
                   .join(outd, "src")
                   .select(F.col("dst").alias("v"),
                           F.expr("r DIV od").alias("c")))
        sums = contrib.groupBy("v").agg(F.sum("c").alias("t"))
        ranks = (nodes.join(sums, "v", "left")
                 .select("v",
                         (F.lit(base) + F.expr(
                             f"({damping_pct} * coalesce(t, 0)) DIV 100"))
                         .cast("bigint").alias("r"))
                 .localCheckpoint(eager=True))
    return ranks.select(F.col("v").alias("node"),
                        F.col("r").alias("rank_micro"))
