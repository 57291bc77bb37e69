"""Model-based data-selection operators for training-corpus curation.

Two classic pipeline stages the heuristic quality filters don't cover:

* **DSIR importance weights** (Xie et al., "Data Selection for Language
  Models via Importance Resampling", NeurIPS 2023): score each document by
  the log-likelihood ratio of its hashed n-gram features under a TARGET
  (formal text) vs a RAW (generic web) bucket-unigram model. Documents more
  target-like than web-like get positive scores and are selected.
* **fasttext-style linear quality classifier** (the GPT-3 / WebText-style
  model-based quality gate): a logistic regression over hashed
  bag-of-words features; keep iff sigmoid(bias + mean(w[bucket(tok)]))
  >= 1/2, evaluated in exact integer arithmetic as
  `sum_w + bias * n_tokens >= 0`.

Shared feature contract (MUST match tools/gen_dsir_weights.py /
tools/gen_quality_clf.py and the DuckDB oracles):

  normalize  = trim spaces (U+0020 only, as the JVM trim does) -> collapse
               whitespace (explicit LANGID_WS_CLASS — the three regex
               dialects disagree on \\s) -> lowercase
  tokens     = split on single space ('' -> [])
  features   = unigrams (+ adjacent bigrams joined by one space for DSIR)
  bucket     = first 3 hex chars of md5(feature)  -> B = 4096 buckets

100-TB shape: explode(features) feeds a map-side partial aggregation in the
same stage (the exchange carries one row per (doc, bucket-join-hit), never
the text); the weight table is 4096 rows and always BROADCAST; scores are
exact BIGINT sums of micro-units — partition-order-independent, so the
select/keep decision is deterministic on any cluster and bit-equal in the
DuckDB oracle. No Python touches the row loop.
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import LANGID_WS_CLASS

#: 3 hex chars of md5 -> 16^3 buckets
N_BUCKETS = 4096

MICRO = 1_000_000


def dsir_weights_path() -> str:
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data", "dsir_weights_v1.parquet")


def quality_clf_path() -> str:
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data", "quality_clf_v1.parquet")


# --- Python twins of the feature contract (training tools + tests) ---------

def py_normalize(text: str) -> str:
    return re.sub(LANGID_WS_CLASS, " ", (text or "").strip(" ")).lower()


def py_tokens(text: str) -> list:
    t = py_normalize(text)
    return t.split(" ") if t else []


def py_features(text: str, bigrams: bool = True) -> list:
    toks = py_tokens(text)
    feats = list(toks)
    if bigrams:
        feats += [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]
    return feats


def py_bucket(feature: str) -> str:
    return hashlib.md5(feature.encode()).hexdigest()[:3]


# --- Spark-side feature expressions ----------------------------------------

def _norm_col(text):
    return F.lower(F.regexp_replace(F.trim(text), LANGID_WS_CLASS, " "))


def tokens_norm_col(text):
    """Normalized whitespace tokens; '' -> [] (split would give [''])."""
    norm = _norm_col(text)
    return F.when(F.length(norm) == 0,
                  F.array().cast("array<string>")
                  ).otherwise(F.split(norm, " "))


def hashed_features_col(text, bigrams: bool = True):
    """Unigram (+ bigram) features of the normalized text, all JVM-side."""
    toks = tokens_norm_col(text)
    if not bigrams:
        return toks
    n_bi = F.size(toks) - 1
    bi = F.when(n_bi >= 1,
                F.transform(F.sequence(F.lit(1), n_bi),
                            lambda i: F.concat_ws(
                                " ", F.element_at(toks, i),
                                F.element_at(toks, i + 1)))
                ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bi)


def bucket_col(feature):
    """Feature -> 3-hex-char bucket key; spelled identically in DuckDB as
    substr(md5(f), 1, 3), so the oracle join can never diverge."""
    return F.substring(F.md5(feature), 1, 3)


# --- operators --------------------------------------------------------------

def dsir_score_df(df: DataFrame, weights: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", tau_micro: int = 0) -> DataFrame:
    """DSIR importance score per document: exact BIGINT sum of the committed
    micro-log-ratio weights of the doc's hashed unigram+bigram features.

    Returns (id_col, n_feats bigint, dsir_score bigint, selected boolean)
    where selected <=> dsir_score > tau_micro * n_feats (i.e. the mean
    per-feature log-ratio exceeds tau; tau=0 selects documents more
    target-like than raw-web-like). Docs with no features report 0/0/false.

    The weight table covers all 4096 buckets (add-one smoothing in the
    trainer), so the model join is a plain inner broadcast join.
    """
    feats = df.select(id_col,
                      F.explode(hashed_features_col(F.col(text_col)))
                      .alias("_f"))
    scored = (feats.select(id_col, bucket_col(F.col("_f")).alias("bucket"))
              .join(F.broadcast(weights), "bucket")
              .groupBy(id_col)
              .agg(F.sum("w").alias("_s"), F.count("*").alias("_n")))
    zero = F.lit(0).cast("bigint")
    out = df.select(id_col).join(scored, id_col, "left")
    return out.select(
        F.col(id_col),
        F.coalesce("_n", zero).alias("n_feats"),
        F.coalesce("_s", zero).alias("dsir_score"),
        (F.coalesce("_s", zero) >
         F.lit(int(tau_micro)) * F.coalesce("_n", zero)).alias("selected"))


def quality_clf_df(df: DataFrame, weights: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """fasttext-style linear quality classifier over hashed bag-of-words.

    `weights` is the committed table (bucket, w) with the bias stored under
    the impossible key bucket='' (a real bucket is 3 hex chars — the langid
    tri='' convention). Decision, in exact integers:

        keep <=> sum_tok w[bucket(tok)] + bias * n_tokens >= 0
             <=> bias + mean(w) >= 0  <=>  sigmoid(bias + mean(w)) >= 1/2

    Returns (id_col, n_tokens bigint, clf_score bigint, keep boolean);
    empty docs report 0/0/false (no evidence -> drop). A weights table
    without exactly one bias row fails the query (raise_error) instead of
    returning no rows (no bias) or every doc once per bias row.
    """
    # coalesce(1): the count needs no shuffle, so no job of its own
    bias = (weights.filter(F.col("bucket") == "").coalesce(1)
            .agg(F.count("*").alias("_nb"), F.max("w").alias("_w"))
            .select(F.when(F.col("_nb") == 1, F.col("_w")).otherwise(
                F.raise_error(F.concat(
                    F.lit("quality_clf_df: weights need exactly one bias "
                          "row (bucket=''), got "),
                    F.col("_nb").cast("string")))).alias("_bias")))
    m = weights.filter(F.col("bucket") != "")
    toks = df.select(id_col,
                     F.explode(hashed_features_col(F.col(text_col),
                                                   bigrams=False))
                     .alias("_t"))
    scored = (toks.select(id_col, bucket_col(F.col("_t")).alias("bucket"))
              .join(F.broadcast(m), "bucket")
              .groupBy(id_col)
              .agg(F.sum("w").alias("_s"), F.count("*").alias("_n")))
    zero = F.lit(0).cast("bigint")
    out = (df.select(id_col).crossJoin(F.broadcast(bias))
           .join(scored, id_col, "left"))
    return out.select(
        F.col(id_col),
        F.coalesce("_n", zero).alias("n_tokens"),
        F.coalesce("_s", zero).alias("clf_score"),
        ((F.coalesce("_n", zero) > 0) &
         (F.coalesce("_s", zero) + F.col("_bias") * F.coalesce("_n", zero)
          >= 0)).alias("keep"))
