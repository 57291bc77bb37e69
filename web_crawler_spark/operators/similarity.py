"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk` — exact brute-force top-k: broadcast the (small) query
  side, JVM-side dot product via zip_with/aggregate (whole-stage codegen —
  no Python in the O(n·q) loop), per-query top-k via window. The correct
  baseline, and the oracle-checkable one.

* :func:`lsh_cosine_topk` — the scale path: random-hyperplane LSH (SimHash
  for vectors, Charikar STOC'02). A seeded hyperplane matrix is closure-
  broadcast; signatures computed in one vectorized numpy pass; candidates
  restricted to same-bucket pairs (multi-probe over b bands), exact rerank
  inside buckets only. The band self-join exchanges ONLY (id, band, bucket)
  — 8-byte signatures, never the vectors (plan-asserted in
  tests/test_plans.py::test_lsh_band_join_never_shuffles_vectors); vectors
  are fetched afterwards for the distinct candidate id pairs alone, the
  same semi-restricted pattern as dedup.minhash_lsh_pairs.
"""

from __future__ import annotations

import os as _os
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def with_cosine(df, a_col: str, b_col: str, out: str = "cosine"):
    """cosine(a, b) in double precision, pure built-ins."""
    a = F.transform(F.col(a_col), lambda x: x.cast("double"))
    b = F.transform(F.col(b_col), lambda x: x.cast("double"))
    return df.withColumn(
        out, _dot(a, b) / (_norm(a) * _norm(b)))


def with_norm(df, vec_col: str, out_vec: str = "v", out_norm: str = "norm"):
    """Precompute the double-cast vector and its norm ONCE per row, before
    any pairwise join — an all-pairs cosine then does one dot per pair
    instead of dot+2 norms (same arithmetic, same doubles, ~3x fewer
    aggregate evaluations inside the O(n^2) stage)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn(out_vec, v).withColumn(out_norm, _norm(F.col(out_vec)))


def pair_cosine(va, vb, na, nb):
    """cosine from precomputed vectors+norms (see with_norm) — value-equal
    to with_cosine (the norm is the same double either way)."""
    return _dot(va, vb) / (na * nb)


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "query_id") -> DataFrame:
    """Exact ANN baseline: for each query row, top-k corpus neighbors by
    cosine (self-matches excluded by id). queries must be small (broadcast)."""
    q = broadcast(queries.select(F.col(qid_col),
                                 F.col(vec_col).alias("__qvec")))
    joined = embeddings.select(F.col(id_col), F.col(vec_col)).crossJoin(q)
    joined = joined.filter(F.col(id_col) != F.col(qid_col))
    scored = with_cosine(joined, vec_col, "__qvec", "cosine")
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(qid_col, id_col, F.round("cosine", 4).alias("cosine"),
                    "rank"))


def _assign_clusters(df: DataFrame, centroids: DataFrame, vec_col: str,
                     key_col: str, n_keep: int, out: str) -> DataFrame:
    """Nearest-centroid assignment (n_keep=1) / probe-list expansion
    (n_keep=n_probe) via a broadcast cross join — all JVM expressions,
    deterministic tie-break (cosine desc, cid asc).

    n_keep=1 compiles to a max_by aggregation: the argmax is reduced
    map-side (partial agg) so the exchange carries one row per key, not
    the n_clusters× replicated cross join a per-key window would shuffle —
    the shape that matters when assigning 10^9 corpus vectors. n_keep>1 is
    the probe expansion for the (small, broadcastable) query side, where
    the window is fine."""
    x = with_cosine(df.crossJoin(broadcast(centroids)), vec_col, "__cv",
                    "__ccos")
    if n_keep == 1:
        # max of struct(cos, -cid) == (max cos, then min cid) — the same
        # tie-break as the window path and the DuckDB oracle's row_number
        others = [c for c in df.columns if c != key_col]
        return (x.groupBy(key_col)
                .agg(*[F.first(c).alias(c) for c in others],
                     F.max_by("__cid", F.struct(F.col("__ccos"),
                                                (-F.col("__cid"))
                                                .alias("__negcid")))
                     .alias(out))
                .select(*df.columns, out))
    w = Window.partitionBy(key_col).orderBy(F.col("__ccos").desc(),
                                            F.col("__cid").asc())
    return (x.withColumn("__crn", F.row_number().over(w))
            .filter(F.col("__crn") <= n_keep)
            .select(*df.columns, F.col("__cid").alias(out)))


def kmeans_centroids(embeddings: DataFrame, n_clusters: int = 16,
                     n_iters: int = 2, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Deterministic distributed Lloyd k-means (fixed iteration count,
    first-n init): assignment is a broadcast cross-join reduced by a
    map-side max_by argmax, the per-dimension means are dim flat decimal
    aggregates in the same job (one exchange of n_clusters rows/partition)
    — standard one-job-per-iteration distributed k-means that works
    unchanged at 10^9 vectors (the only driver-side materialization is the
    n_clusters×dim centroid table itself, a bounded broadcast build).
    Means are decimal-summed then divided in double, so
    centroid values are identical regardless of partition order — which is
    what lets the DuckDB oracle restate the whole quantizer value-for-value
    (and the engine stay bit-identical across parallelism levels).

    Cluster ids are the seed vector ids (stable across iterations); a
    cluster that goes empty keeps its previous centroid. Returns a tiny
    DataFrame (__cid bigint, __cv array<double>) built from collected
    literals — downstream assignment plans broadcast it without dragging
    the Lloyd lineage along."""
    spark = embeddings.sparkSession
    init = (embeddings.orderBy(id_col).limit(n_clusters)
            .select(F.col(id_col).cast("bigint").alias("__cid"),
                    F.transform(F.col(vec_col),
                                lambda x: x.cast("double")).alias("__cv")))
    # one bounded collect per Lloyd pass (the n_clusters×dim table only);
    # after the init collect, `prev` is already a local literal list
    prev = {r["__cid"]: list(r["__cv"]) for r in init.collect()}
    corpus = embeddings.select(id_col, vec_col)
    for _ in range(n_iters):
        dim = len(next(iter(prev.values())))
        cent = spark.createDataFrame(
            sorted(prev.items()), schema="__cid bigint, __cv array<double>")
        assigned = _assign_clusters(corpus, cent, vec_col, id_col, 1, "__k")
        # per-dimension decimal sums as dim flat aggregates (one partial-
        # aggregated exchange of n_clusters rows — no explode, no window)
        sums = (assigned
                .groupBy("__k")
                .agg(F.count("*").alias("__n"),
                     *[F.sum(F.element_at(F.col(vec_col), d + 1)
                             .cast("double").cast("decimal(30,15)"))
                       .alias(f"__s{d}") for d in range(dim)]))
        collected = sums.collect()
        for r in collected:
            for d in range(dim):
                if r[f"__s{d}"] is None:
                    # Spark yields NULL (not an error) on decimal overflow;
                    # silently treating it as 0 would corrupt the centroid
                    raise ValueError(
                        f"k-means dimension sum overflowed decimal(30,15) "
                        f"for cluster {r['__k']} dim {d} (n={r['__n']}) — "
                        f"normalize the vectors or widen the decimal")
        new = {r["__k"]: [float(r[f"__s{d}"]) / r["__n"]
                          for d in range(dim)]
               for r in collected}
        prev = {cid: new.get(cid, cv) for cid, cv in prev.items()}
    return spark.createDataFrame(
        sorted(prev.items()), schema="__cid bigint, __cv array<double>")


def kmeans_assign(embeddings: DataFrame, n_clusters: int = 16,
                  n_iters: int = 2, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  centroids: DataFrame | None = None) -> DataFrame:
    """Corpus clustering: train seeded k-means (or take pre-trained
    `centroids`), label every vector with its nearest final centroid —
    (id, cluster). The data-curation op (diversity sampling, per-cluster
    quotas) and the IVF index build, as one call."""
    cents = centroids if centroids is not None else kmeans_centroids(
        embeddings, n_clusters, n_iters, id_col, vec_col)
    return _assign_clusters(embeddings.select(id_col, vec_col), cents,
                            vec_col, id_col, 1, "cluster") \
        .select(id_col, "cluster")


def ivf_cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                    n_clusters: int = 16, n_probe: int = 4,
                    n_iters: int = 2,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    qid_col: str = "query_id",
                    centroids: DataFrame | None = None) -> DataFrame:
    """IVF-flat ANN: coarse-quantize the corpus into n_clusters inverted
    lists, probe only the n_probe nearest lists per query, exact cosine
    rerank inside the probed lists.

    The quantizer is a seeded k-means (:func:`kmeans_centroids` — fixed
    Lloyd iterations, first-n init; n_iters=0 degrades to the raw first-n
    quantizer). The IVF *plumbing* is what this operator owns: assignment
    is a broadcast cross-join (codegen dot products), the index is the
    `cluster` column (at 10^9 vectors: write the corpus bucketed by
    cluster so a probe scans only n_probe/n_clusters of the data — same
    shape as the bucketed fetch join), and the only wide exchange is the
    candidate join keyed on cluster. Every expression — including the
    unrolled Lloyd iterations — is DuckDB-restatable, so this ANN path is
    value-checked end-to-end by the driver's oracle; recall vs the exact
    brute force is gated by tests/test_training_ops.py."""
    if centroids is None:
        centroids = kmeans_centroids(embeddings, n_clusters, n_iters,
                                     id_col, vec_col)
    corpus = _assign_clusters(embeddings.select(id_col, vec_col), centroids,
                              vec_col, id_col, 1, "cluster")
    qs = _assign_clusters(
        queries.select(qid_col, F.col(vec_col).alias("__qvec")), centroids,
        "__qvec", qid_col, n_probe, "cluster")
    cand = (qs.join(corpus, "cluster")
            .filter(F.col(id_col) != F.col(qid_col)))
    scored = with_cosine(cand, vec_col, "__qvec", "cosine")
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(qid_col, id_col, F.round("cosine", 4).alias("cosine"),
                    "rank"))


def _load_planes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    """Load the committed hyperplane matrix (single source of truth — the
    SAME parquet the DuckDB oracle reads, web_crawler_spark/data/). The
    in-process RandomState regeneration was removed: it agreed with the
    committed file only as long as numpy's normal() stream never changed,
    a silent split waiting to happen. Missing (dim, bits, seed) combos are
    a hard error pointing at tools/gen_hyperplanes.py."""
    path = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "data", f"hyperplanes_d{dim}_b{n_bits}_s{seed}.parquet")
    if not _os.path.exists(path):
        raise FileNotFoundError(
            f"no committed hyperplane table for dim={dim}, n_bits={n_bits}, "
            f"seed={seed}; generate it with tools/gen_hyperplanes.py "
            f"(expected {path})")
    import pyarrow.parquet as pq
    t = pq.read_table(path).sort_by("bit")
    planes = np.stack([np.asarray(p, dtype=np.float64)
                       for p in t.column("plane").to_pylist()], axis=1)
    assert planes.shape == (dim, n_bits), planes.shape
    return planes


@lru_cache(maxsize=4)
def _hyperplane_sig_udf(dim: int, n_bits: int, seed: int):
    planes = _load_planes(dim, n_bits, seed)
    weights = (np.uint64(1) << np.arange(n_bits, dtype=np.uint64))

    @pandas_udf("bigint")
    def sig(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int64")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        # sign-of-dot computed by an explicit index-order accumulation (one
        # mul + one add per dimension, in dimension order) instead of BLAS
        # matmul: a blocked/pairwise BLAS sum can differ in the last ULP,
        # and at the sign boundary of a near-zero dot that flips a bucket
        # bit — this order matches DuckDB list_dot_product's sequential
        # loop, so the oracle comparison is platform-stable.
        acc = np.zeros((m.shape[0], n_bits), dtype=np.float64)
        for d in range(dim):
            acc += m[:, d:d + 1] * planes[d]
        bits = acc > 0
        return pd.Series((bits.astype(np.uint64) @ weights).astype(np.int64))

    return sig


def lsh_cosine_topk(embeddings: DataFrame, k: int = 5, n_bits: int = 16,
                    bands: int = 4, seed: int = 42, dim: int = 64,
                    id_col: str = "vec_id", vec_col: str = "embedding"
                    ) -> DataFrame:
    """All-pairs near-neighbor top-k via random-hyperplane banding: two
    vectors collide in a band with prob (1 - θ/π)^(bits/band). Exact cosine
    rerank runs only within buckets. Returns (vec_id, neighbor_id, cosine,
    rank≤k) for vectors that had any same-bucket candidate."""
    bits_per_band = n_bits // bands
    sigged = embeddings.select(
        F.col(id_col),
        _hyperplane_sig_udf(dim, n_bits, seed)(F.col(vec_col)).alias("__sig"))
    # Band explode carries (id, band, bucket) ONLY — at 10^9 × 64-float
    # vectors the bands× replication and the bucket self-join exchange
    # 12 bytes/row, not ~2 KB payloads. Vectors rejoin below, restricted to
    # the distinct candidate id pairs (mirrors dedup.minhash_lsh_pairs).
    banded = sigged.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright(F.col("__sig"), b * bits_per_band)
                     .bitwiseAND(F.lit((1 << bits_per_band) - 1))
                     .alias("bucket"))
            for b in range(bands)])).alias("bb"))
    banded = banded.select(id_col, "bb.band", "bb.bucket")
    l = banded.alias("l")
    r = banded.alias("r")
    cand = (l.join(r, (F.col("l.band") == F.col("r.band")) &
                      (F.col("l.bucket") == F.col("r.bucket")) &
                      (F.col(f"l.{id_col}") != F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("vec_id_q"),
                    F.col(f"r.{id_col}").alias("neighbor_id"))
            .distinct())
    vecs = embeddings.select(F.col(id_col), F.col(vec_col))
    cand = (cand
            .join(vecs.select(F.col(id_col).alias("vec_id_q"),
                              F.col(vec_col).alias("va")), "vec_id_q")
            .join(vecs.select(F.col(id_col).alias("neighbor_id"),
                              F.col(vec_col).alias("vb")), "neighbor_id"))
    scored = with_cosine(cand, "va", "vb", "cosine")
    w = Window.partitionBy("vec_id_q").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("vec_id_q").alias(id_col), "neighbor_id",
                    F.round("cosine", 4).alias("cosine"), "rank"))
