"""Deduplication operators (SURVEY.md §2.3).

D1 — order-preserving in-batch dedup (reference: list(dict.fromkeys(...)),
     base_crawler.py:278) as a deterministic window, NOT dropDuplicates
     (which is tie-nondeterministic under parallelism).

D2 — global URL-seen set (reference: articles.url UNIQUE constraint,
     database.py:57) is not an operator here: the epoch plan filters its
     scheduled article rows with one exact left_anti join against the
     committed `articles.url` column (plans/epoch.py, step 2).
"""

from __future__ import annotations

import hashlib
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


# ---------------------------------------------------------------------------
# D1 — order-preserving first-occurrence dedup
# ---------------------------------------------------------------------------

def first_occurrence(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """Keep the first row per key by ``order_col`` (deterministic replacement
    for list(dict.fromkeys(...)))."""
    w = Window.partitionBy(key).orderBy(F.col(order_col).asc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


# ---------------------------------------------------------------------------
# Training-data dedup family (first-class ops, over `documents`-like tables)
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
                ) -> DataFrame:
    """Exact dedup by content hash: keep min-id row per md5(text).
    Map-side partial agg → single shuffle on the 128-bit digest (never on the
    full text bytes — at 100 TB the shuffle carries 16B+8B per row)."""
    h = F.md5(F.col(text_col))
    keep = (df.select(F.col(id_col), h.alias("content_md5"))
            .groupBy("content_md5").agg(F.min(id_col).alias(id_col)))
    return keep.select(id_col, "content_md5")


def _shingle_hashes(texts: pd.Series, n: int) -> list[np.ndarray]:
    """Word n-gram shingles → uint64 hash arrays (vectorized per batch)."""
    out = []
    for t in texts:
        toks = (t or "").split()
        if len(toks) < n:
            shingles = [" ".join(toks)] if toks else []
        else:
            shingles = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        hs = np.fromiter(
            (int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(),
                            "little") for s in set(shingles)),
            dtype=np.uint64, count=len(set(shingles)))
        out.append(hs)
    return out


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       shingle_n: int = 3, seed: int = 42) -> DataFrame:
    """MinHash signatures via affine permutations h_i(x) = a_i*x + b_i mod p
    over 64-bit shingle hashes — one Arrow batch pass, numpy inner loop."""
    rng = np.random.RandomState(seed)
    MERSENNE = np.uint64((1 << 61) - 1)
    a = rng.randint(1, 1 << 60, size=num_hashes).astype(np.uint64) | np.uint64(1)
    b = rng.randint(0, 1 << 60, size=num_hashes).astype(np.uint64)

    @pandas_udf("array<bigint>")
    def sig(texts: pd.Series) -> pd.Series:
        res = []
        for hs in _shingle_hashes(texts, shingle_n):
            if len(hs) == 0:
                res.append([0] * num_hashes)
                continue
            # (num_hashes, n_shingles) affine transform, min over shingles
            vals = (np.outer(a, hs) + b[:, None]) % MERSENNE
            res.append([int(x) for x in vals.min(axis=1).astype(np.int64)])
        return pd.Series(res)

    return df.select(F.col(id_col), sig(F.col(text_col)).alias("minhash"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 64,
                      bands: int = 16, shingle_n: int = 3,
                      jaccard_threshold: float = 0.8, seed: int = 42
                      ) -> DataFrame:
    """MinHash + LSH banding: shingle → minhash → band-bucket join →
    candidate pairs → exact n-gram Jaccard verify. The band groupBy is the
    only shuffle over full signatures; the verify join carries text only for
    candidate ids (semi-joined), so at scale the O(n²) blowup is confined to
    same-bucket collisions."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, seed)
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.slice(F.col("minhash"),
                                  i * rows_per_band + 1, rows_per_band)
            )).alias("band", "band_sig"))
    buck = banded.select(id_col, "band",
                         F.xxhash64(F.col("band").cast("string"),
                                    F.col("band_sig").cast("string")).alias("bucket"))
    l, r = buck.alias("l"), buck.alias("r")
    cand = (l.join(r, (F.col("l.bucket") == F.col("r.bucket")) &
                   (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"))
            .distinct())
    texts = df.select(F.col(id_col), F.col(text_col))
    cand = (cand
            .join(texts.withColumnRenamed(id_col, "id_a")
                        .withColumnRenamed(text_col, "text_a"), "id_a")
            .join(texts.withColumnRenamed(id_col, "id_b")
                        .withColumnRenamed(text_col, "text_b"), "id_b"))
    jac = ngram_jaccard_col(F.col("text_a"), F.col("text_b"), shingle_n)
    return (cand.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def ngram_jaccard_col(a, b, n: int = 3):
    """Exact word-n-gram Jaccard as JVM-side array expressions (no UDF)."""
    def grams(c):
        toks = F.split(F.trim(c), r"\s+")
        k = F.greatest(F.size(toks) - (n - 1), F.lit(1))
        return F.array_distinct(F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))
    ga, gb = grams(a), grams(b)
    inter = F.size(F.array_intersect(ga, gb)).cast("double")
    union = F.size(F.array_union(ga, gb)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def md5_lower64(data: bytes) -> int:
    """Little-endian uint64 of md5 digest bytes [8:16] — the exact value
    DuckDB's md5_number_lower computes, so every operator hashing tokens
    through this helper is SQL-restatable for the driver's value oracle."""
    return int.from_bytes(hashlib.md5(data).digest()[8:16], "little")


def simhash_udf():
    """64-bit SimHash over distinct word tokens (Charikar '02): per token a
    64-bit hash (md5-fold, md5_number_lower-compatible — see md5_lower64);
    signature bit b is 1 iff the majority of token hashes have bit b set.
    Arrow-batched, numpy-vectorized bit unpack — the per-row work is
    O(tokens·64) bit math, a poor fit for expression trees, so this is a
    deliberate pandas UDF (like minhash)."""
    @pandas_udf("bigint")
    def _simhash(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        # token→hash memo shared across the Arrow batch: token frequency is
        # Zipfian, so most md5 calls are repeats of a small head vocabulary
        memo: dict = {}
        for j, t in enumerate(texts):
            toks = sorted(set((t or "").split()))
            if not toks:
                continue
            for tok in toks:
                if tok not in memo:
                    memo[tok] = md5_lower64(tok.encode())
            hs = np.fromiter(
                (memo[tok] for tok in toks),
                dtype=np.uint64, count=len(toks))
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) &
                    np.uint64(1)).astype(np.int32)
            votes = (2 * bits - 1).sum(axis=0)
            sig = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                sig |= np.uint64(1) << np.uint64(b)
            out[j] = np.int64(sig.astype(np.int64))
        return pd.Series(out)
    return _simhash


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3
                      ) -> DataFrame:
    """SimHash near-dup candidates via 4×16-bit band blocking (any pair
    within hamming≤3 of a 64-bit hash shares at least one of 4 bands), then
    exact hamming verify with bit_count."""
    sh = df.select(F.col(id_col),
                   simhash_udf()(F.col(text_col)).alias("simhash"))
    bands = sh.select(
        id_col, "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), k * 16).bitwiseAND(F.lit(0xFFFF))
            for k in range(4)])).alias("band", "band_val"))
    l, r = bands.alias("l"), bands.alias("r")
    cand = (l.join(r, (F.col("l.band") == F.col("r.band")) &
                   (F.col("l.band_val") == F.col("r.band_val")) &
                   (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"),
                    F.col("l.simhash").alias("sh_a"),
                    F.col("r.simhash").alias("sh_b"))
            .distinct())
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", nodes: Optional[DataFrame] = None,
                         max_iters: int = 50) -> DataFrame:
    """Connected components over an undirected edge list → (id, cluster_id)
    where cluster_id is the component's min node id.

    Min-label propagation: every round each node takes the min label among
    itself and its neighbors and converges in O(component diameter)
    rounds. Every node is its own neighbor (a self-loop edge), so a round
    is one join of the edges to the labels and one min per node — two
    id-keyed shuffles. Near-dup clusters are near-cliques (diameter ≲ 3
    regardless of corpus size), so the round count is constant at 100 TB
    while each round stays a plain partial-agg shuffle; the O(log n)
    large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC '14) is the published
    fallback if adversarial chain graphs ever matter. Each round
    localCheckpoint()s the label table (iterative lineage otherwise grows
    without bound), and the count of labels that moved rides that
    checkpoint as an Observation — no extra job.

    `nodes` (optional, one `src`-named id column) adds isolated nodes that
    appear in no edge; they come back as their own singleton cluster.
    Raises RuntimeError when labels still change after `max_iters` rounds
    — partial labels would be a silently wrong clustering.
    """
    def arc(a, b):
        return F.struct(F.col(a).alias("u"), F.col(b).alias("v"))
    # both directions of each edge plus a self-loop at each end, from ONE
    # pass over `edges`: the upstream plan may be expensive
    # (duplicate_clusters feeds the whole minhash+LSH+verify pipeline in
    # here), and a union of projections would run it once per branch
    sym = edges.select(F.explode(F.array(
        arc(src, dst), arc(dst, src), arc(src, src), arc(dst, dst)))
        .alias("e")).select("e.*")
    if nodes is not None:
        sym = sym.unionByName(nodes.select(F.col(src).alias("u"),
                                           F.col(src).alias("v")))
    # materialize the edge list ONCE: it is re-joined every round
    sym = sym.distinct().localCheckpoint(eager=True)
    # round 1 needs no join: every label is still the node's own id
    nbr = sym.select("u", "v", F.col("v").alias("cluster_id"))
    for _ in range(max_iters):
        obs = Observation()
        labels = (nbr.groupBy("u")
                  .agg(F.min("cluster_id").alias("cluster_id"),
                       F.min(F.when(F.col("u") == F.col("v"),
                                    F.col("cluster_id"))).alias("__own"))
                  .observe(obs, F.sum((F.col("cluster_id") < F.col("__own"))
                                      .cast("long")).alias("moved"))
                  .select(F.col("u").alias("id"), "cluster_id")
                  .localCheckpoint(eager=True))
        if not obs.get["moved"]:
            return labels
        nbr = sym.join(labels, sym["v"] == labels["id"]).drop("id")
    # labels still moving: returning them would split components silently
    raise RuntimeError(f"connected_components did not converge in "
                       f"{max_iters} rounds (a component's diameter exceeds "
                       f"max_iters)")


def duplicate_clusters(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       bands: int = 32, shingle_n: int = 3,
                       jaccard_threshold: float = 0.8) -> DataFrame:
    """Duplicate-cluster assignment: MinHash+LSH near-dup pairs →
    connected components → one canonical doc per cluster (the min id —
    the order-preserving choice D1 also makes). Returns every input doc as
    (doc_id, cluster_id, cluster_size); docs with no near-dup are their own
    singleton cluster. This is the curation step after pairwise near-dup:
    transitive closure turns A~B, B~C into ONE kept doc, where pair-level
    dedup would keep two. Pairs and components shuffle only ids (8 B) —
    text stays confined to the LSH verify kernel."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, num_hashes=num_hashes,
                              bands=bands, shingle_n=shingle_n,
                              jaccard_threshold=jaccard_threshold)
    all_ids = df.select(F.col(id_col).alias("id_a"))
    cc = connected_components(pairs, nodes=all_ids)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (cc.join(sizes, "cluster_id")
            .select(F.col("id").alias(id_col), "cluster_id", "cluster_size"))


def exact_substring_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Exact substring-level duplicate spans — the suffix-array dedup family
    (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better") re-expressed Spark-first as k-token rolling grams instead of a
    global suffix array (which needs one sorted view of the whole corpus and
    does not shard).

    Pipeline (all JVM, whole-stage codegen end to end — no Python):
      1. whitespace-normalize + tokenize; keep docs with >= k tokens;
      2. emit every k-token gram as (id, pos, md5(gram)) via
         transform(sequence(...)) + explode — a generator, never a
         materialized per-doc array of arrays;
      3. a gram digest seen >= 2 times anywhere in the corpus (cross- or
         intra-document) marks both occurrences as duplicated text;
      4. per document, merge overlapping/adjacent duplicated gram positions
         (pos2 <= pos1 + k) into maximal spans with a gaps-and-islands
         window, returning (id, span_start, span_end, span_len) in token
         coordinates, end-exclusive.

    100-TB story: after step 2 only (16 B digest, 8 B id, 4 B pos) rows are
    exchanged — text never shuffles. The count>=2 group-by is map-side
    partial-aggregated, so boilerplate grams that occur millions of times
    arrive at the reducer as per-partition partial counts; the semi-join back
    is digest-keyed and AQE skew-split. The islands window repartitions by
    document id, which is near-uniform. A true suffix array would need a
    global sort of the corpus; rolling grams give the same duplicated-span
    answer for runs >= k tokens at O(tokens) rows and shard trivially.
    """
    toks = F.split(
        F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "), " ")
    base = (df.select(F.col(id_col), toks.alias("_toks"))
            .withColumn("_n", F.size("_toks"))
            .filter(F.col("_n") >= k))
    grams = (base.select(
        id_col,
        F.explode(F.expr(
            f"transform(sequence(0, _n - {k}), i -> struct(i AS pos, "
            f"md5(array_join(slice(_toks, i + 1, {k}), ' ')) AS g))"
        )).alias("s"))
        .select(id_col, F.col("s.pos").alias("pos"), F.col("s.g").alias("g")))
    dup = (grams.groupBy("g").agg(F.count("*").alias("_c"))
           .filter(F.col("_c") >= 2).select("g"))
    hits = grams.join(dup, "g", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = (hits
           .withColumn("_prev", F.lag("pos").over(w))
           .withColumn("_new", F.when(
               F.col("_prev").isNull() |
               (F.col("pos") > F.col("_prev") + k), 1).otherwise(0))
           .withColumn("_isl", F.sum("_new").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    spans = (isl.groupBy(id_col, "_isl")
             .agg(F.min("pos").alias("_start"),
                  (F.max("pos") + k).alias("_end")))
    return spans.select(
        F.col(id_col),
        F.col("_start").cast("int").alias("span_start"),
        F.col("_end").cast("int").alias("span_end"),
        (F.col("_end") - F.col("_start")).cast("int").alias("span_len"))


def _kgram_digests(df: DataFrame, text_col: str, id_col: str,
                   k: int) -> DataFrame:
    """(id, g) rows: md5 digest of every k-token rolling gram of text_col.
    Same generator shape as exact_substring_spans step 2 (map-side
    transform+explode; no per-doc gram array is ever materialized)."""
    toks = F.split(
        F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "), " ")
    return (df.select(F.col(id_col), toks.alias("_toks"))
            .withColumn("_n", F.size("_toks"))
            .filter(F.col("_n") >= k)
            .select(id_col, F.explode(F.expr(
                f"transform(sequence(0, _n - {k}), i -> "
                f"md5(array_join(slice(_toks, i + 1, {k}), ' ')))"
            )).alias("g")))


def contamination_flags(df: DataFrame, bench: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_text_col: str = "text",
                        k: int = 13) -> DataFrame:
    """Benchmark decontamination: flag every training document that shares
    any k-token gram with an evaluation/benchmark corpus (the GPT-3
    appendix-C / PaLM 13-gram-overlap rule), so flagged docs can be dropped
    before training.

    Output: (id_col, contaminated bool, n_contaminated_grams bigint) — one
    row per input doc; n counts DISTINCT overlapping gram digests.

    100-TB story: the benchmark side is small by construction (eval suites
    are MBs), so its distinct gram-digest set BROADCASTS; the corpus side
    emits (8 B id, 16 B digest) rows map-side and the broadcast left-semi
    join filters them without any shuffle of text. The only exchanges are
    (a) the distinct on surviving (id, g) pairs — contamination hits, which
    are rare — and (b) the broadcast of the per-doc hit counts back onto
    the corpus (hits << corpus; if a pathological benchmark contaminated
    most of the corpus, Spark's AQE would still execute this as a valid,
    if larger, join). The corpus text column itself never shuffles.
    """
    bench_grams = (_kgram_digests(bench, bench_text_col, id_col, k)
                   .select("g").distinct())
    doc_grams = _kgram_digests(df, text_col, id_col, k)
    hits = (doc_grams.join(F.broadcast(bench_grams), "g", "left_semi")
            .groupBy(id_col)
            .agg(F.count_distinct("g").alias("n_contaminated_grams")))
    return (df.select(id_col)
            .join(F.broadcast(hits), id_col, "left")
            .select(
                F.col(id_col),
                F.col("n_contaminated_grams").isNotNull()
                .alias("contaminated"),
                F.coalesce(F.col("n_contaminated_grams"), F.lit(0))
                .cast("bigint").alias("n_contaminated_grams")))
