"""Model-based data selection (DSIR, quality classifier) + BM25 retrieval.

Gates: feature-contract equivalence between the Spark expressions and the
Python twins the training tools use; planted-document behavior for both
committed models; committed-table retrain reproducibility (the langid/BPE/
IVF gate); a hand-computed BM25 golden; and plan guards (pure JVM, top-k is
TakeOrderedAndProject)."""

import contextlib
import importlib
import io

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from web_crawler_spark.operators import retrieval, selection as sel

TRICKY = [
    "",
    "   ",
    "one",
    "Two  words",
    "tab\tand\x0bvertical\x0cfeeds\r\nnewline",
    "  MiXeD Case   runs  of   spaces ",
    "a b c d e",
    "\tHello world",          # JVM trim strips spaces only
    "\nfoo bar\n",
    "\xa0x y",
]


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_feature_contract_matches_python_twins(spark):
    """hashed_features_col/bucket_col must produce exactly the multiset of
    buckets the training tools counted (py_features/py_bucket), including
    the whitespace-class and empty-text edge cases."""
    df = _docs(spark, TRICKY)
    got = {r["doc_id"]: sorted(r["bs"]) for r in df.select(
        "doc_id",
        F.transform(sel.hashed_features_col(F.col("text")),
                    lambda f: sel.bucket_col(f)).alias("bs")).collect()}
    for i, t in enumerate(TRICKY):
        want = sorted(sel.py_bucket(f) for f in sel.py_features(t))
        assert got[i] == want, (i, t)


def test_dsir_separates_target_from_raw(spark):
    """Held-out sentences (not in the trainer's corpora) phrased like the
    target vs like web chrome must land on opposite sides of tau=0, and the
    empty doc reports 0/0/unselected."""
    texts = [
        "the archive holds a documented history of the region and its "
        "rivers over geological time",              # target-like
        "subscribe now free offer click here to win your prize today",
        "",                                          # no features
    ]
    w = spark.read.parquet(sel.dsir_weights_path())
    rows = {r["doc_id"]: r for r in
            sel.dsir_score_df(_docs(spark, texts), w).collect()}
    assert rows[0]["selected"] and rows[0]["dsir_score"] > 0
    assert not rows[1]["selected"] and rows[1]["dsir_score"] < 0
    assert (rows[2]["n_feats"], rows[2]["dsir_score"],
            rows[2]["selected"]) == (0, 0, False)
    # n_feats = unigrams + bigrams = 2*len(toks) - 1
    assert rows[0]["n_feats"] == 2 * len(texts[0].split()) - 1


def test_quality_classifier_on_held_out_sentences(spark):
    """The committed logistic model must classify held-out formal vs junk
    sentences (vocabulary overlapping, wording new) correctly; empty docs
    are dropped (no evidence)."""
    pos = [
        "the court published its findings after public debate",
        "rivers and glaciers respond to long term climate cycles",
    ]
    neg = [
        "click here to claim your free prize now",
        "subscribe now buy cheap pills limited offer",
    ]
    w = spark.read.parquet(sel.quality_clf_path())
    rows = {r["doc_id"]: r for r in
            sel.quality_clf_df(_docs(spark, pos + neg + [""]), w).collect()}
    for i in range(len(pos)):
        assert rows[i]["keep"], rows[i]
    for i in range(len(pos), len(pos) + len(neg)):
        assert not rows[i]["keep"], rows[i]
    empty = rows[len(pos) + len(neg)]
    assert (empty["n_tokens"], empty["clf_score"], empty["keep"]) == \
        (0, 0, False)


def test_quality_classifier_needs_exactly_one_bias_row(spark):
    """Weights with no bias row (bucket='') or with two must fail the
    query, not return no rows or every doc twice."""
    w = spark.read.parquet(sel.quality_clf_path())
    docs = _docs(spark, ["the court published its findings", "buy now"])
    no_bias = w.filter(F.col("bucket") != "")
    two_bias = w.unionByName(w.filter(F.col("bucket") == ""))
    for bad, n in ((no_bias, 0), (two_bias, 2)):
        with pytest.raises(Exception, match=f"exactly one bias row.*got {n}"):
            sel.quality_clf_df(docs, bad).collect()


def test_committed_dsir_weights_reproducible():
    gen = importlib.import_module("tools.gen_dsir_weights")
    t = pq.read_table(sel.dsir_weights_path())
    committed = dict(zip(t.column("bucket").to_pylist(),
                         t.column("w").to_pylist()))
    assert committed == gen.compute_weights()


def test_committed_quality_clf_reproducible():
    gen = importlib.import_module("tools.gen_quality_clf")
    w, b, acc = gen.train()
    assert acc == 1.0
    t = pq.read_table(sel.quality_clf_path())
    committed = dict(zip(t.column("bucket").to_pylist(),
                         t.column("w").to_pylist()))
    fresh = {format(i, "03x"): int(round(v * gen.MICRO))
             for i, v in enumerate(w)}
    fresh[""] = int(round(b * gen.MICRO))
    assert committed == fresh


# ------------------------------------------------------------------ BM25

def _bm25_expected(texts, terms, k=20):
    """Independent integer-rational BM25 reference (same formula, plain
    Python ints)."""
    toks = [sel.py_tokens(t) for t in texts]
    n = len(toks)
    dl = [len(t) for t in toks]
    dl_sum = sum(dl)
    scores = {}
    for term in terms:
        hits = [(i, t.count(term)) for i, t in enumerate(toks)
                if term in t]
        df_t = len(hits)
        idf = ((2 * n - 2 * df_t + 1) * retrieval.IDF_SCALE) // \
            (2 * df_t + 1)
        for i, tf in hits:
            tfp = (44 * tf * dl_sum * retrieval.TF_SCALE) // \
                (20 * tf * dl_sum + 6 * dl_sum + 18 * n * dl[i])
            scores[i] = scores.get(i, 0) + idf * tfp
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return ranked


def test_bm25_matches_integer_reference(spark):
    texts = [
        "spark shuffle join hash join broadcast",
        "hash table hash probe hash build hash",
        "sort merge join large tables",
        "completely unrelated words here",
        "hash",
        "",
    ]
    terms = ["hash", "join"]
    got = [(r["doc_id"], r["bm25_score"]) for r in
           retrieval.bm25_topk(_docs(spark, texts), terms, k=4).collect()]
    assert got == _bm25_expected(texts, terms, k=4)


def test_bm25_rare_term_outweighs_common(spark):
    """A doc matching the rare term must outrank a same-length doc matching
    the corpus-saturating term once (idf monotone in df)."""
    texts = (["common filler words here"] * 6 +
             ["rare gem common filler", "common common filler filler"])
    got = retrieval.bm25_topk(_docs(spark, texts), ["rare", "common"],
                              k=8).collect()
    assert got[0]["doc_id"] == 6          # the rare-term doc wins


def test_selection_retrieval_plans_are_jvm_and_topk(spark):
    """No Python boundary anywhere; the BM25 tail is a
    TakeOrderedAndProject (never a global sort); the model joins broadcast."""
    from web_crawler_spark.driver_queries import QUERIES
    for name in ("dsir_weights", "quality_classifier", "bm25_topk"):
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                       "FlatMapGroupsInPandas"):
            assert marker not in plan, (name, marker)
        if name == "bm25_topk":
            assert "TakeOrderedAndProject" in plan, plan
        else:
            assert "BroadcastHashJoin" in plan, (name, plan)


def test_dsir_partition_count_invariance(spark):
    """Integer sums can't flip on partition order: 1-partition and
    16-partition runs are row-identical."""
    texts = [f"doc {i} click here dignity and rights {i % 7}"
             for i in range(64)]
    df1 = _docs(spark, texts).coalesce(1)
    df16 = _docs(spark, texts).repartition(16)
    w = spark.read.parquet(sel.dsir_weights_path())
    a = sorted(map(tuple, sel.dsir_score_df(df1, w).collect()))
    b = sorted(map(tuple, sel.dsir_score_df(df16, w).collect()))
    assert a == b
