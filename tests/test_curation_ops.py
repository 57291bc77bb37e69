"""Round-5 curation additions: transitive duplicate clusters (connected
components), Gopher-style repetition metrics, PII scrubbing."""

import pyspark.sql.functions as F
import pytest

from web_crawler_spark.functions import text as T
from web_crawler_spark.operators import dedup


def _cc_map(df):
    return {r["id"]: r["cluster_id"] for r in df.collect()}


def test_connected_components_chain_and_isolated(spark):
    # chain 1-2-3-4 plus pair 10-11 plus isolated 99 (via nodes)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a bigint, id_b bigint")
    nodes = spark.createDataFrame([(99,)], "id_a bigint")
    got = _cc_map(dedup.connected_components(edges, nodes=nodes))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_min_label_multi_hop(spark):
    # min id is at one END of a long chain: label must propagate the full
    # diameter, not just one hop
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "id_a bigint, id_b bigint")
    got = _cc_map(dedup.connected_components(edges))
    assert set(got.values()) == {1} and len(got) == 9


def test_connected_components_raises_when_rounds_run_out(spark):
    # a 12-node chain needs 11 label-moving rounds: with 5 allowed, the
    # labels are still split, and returning them would be a wrong answer
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a bigint, id_b bigint")
    with pytest.raises(RuntimeError, match="did not converge in 5 rounds"):
        dedup.connected_components(edges, max_iters=5)


def test_duplicate_clusters_transitive_merge(spark):
    # A~B and B~C above the 0.8 jaccard bar, A~C below it: pairwise dedup
    # sees two pairs, cluster dedup must emit ONE 3-doc cluster.
    toks = [f"w{i}" for i in range(40)]
    a, b, c = toks[0:30], toks[3:33], toks[6:36]

    def jac(x, y):
        gx = {" ".join(x[i:i + 3]) for i in range(len(x) - 2)}
        gy = {" ".join(y[i:i + 3]) for i in range(len(y) - 2)}
        return len(gx & gy) / len(gx | gy)

    assert jac(a, b) >= 0.8 and jac(b, c) >= 0.8 and jac(a, c) < 0.8
    docs = spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(b)), (3, " ".join(c)),
         (9, "totally unrelated text about nothing at all")],
        "doc_id bigint, text string")
    out = dedup.duplicate_clusters(docs).collect()
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in out}
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3), 9: (9, 1)}


def test_repetition_metrics_golden(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b c"),   # 2g: ab,ba,ab,bc -> tot 4 top 2; 3g: no dups
         (2, "x x x x"),     # 2g: xx*3 -> tot 3 top 3; 3g: xxx*2 -> dup 2
         (3, ""),            # no tokens
         (4, "solo")],       # one token: no n-grams
        "doc_id bigint, text string")
    got = {r["doc_id"]: r.asDict() for r in
           T.repetition_metrics(docs).collect()}
    assert got[1] == {"doc_id": 1, "total_2grams": 4, "top_2gram_count": 2,
                      "total_3grams": 3, "dup_3gram_count": 0}
    assert got[2] == {"doc_id": 2, "total_2grams": 3, "top_2gram_count": 3,
                      "total_3grams": 2, "dup_3gram_count": 2}
    for i in (3, 4):
        assert got[i]["total_2grams"] == 0 and got[i]["total_3grams"] == 0


def test_pii_scrub_counts_and_redaction(spark):
    docs = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.io or d@e.org now, call 555-0142 ok"),
         (2, "no pii here at all")],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r.asDict() for r in T.pii_scrub(docs).collect()}
    assert got[1]["n_emails"] == 2 and got[1]["n_phones"] == 1
    assert got[1]["clean_text"] == \
        "mail <EMAIL> or <EMAIL> now, call <PHONE> ok"
    assert got[2]["n_emails"] == 0 and got[2]["n_phones"] == 0
    assert got[2]["clean_text"] == "no pii here at all"


@pytest.mark.parametrize("name", ["dedup_clusters", "gopher_repetition",
                                  "pii_redact", "substring_dup_spans",
                                  "decontam_flags", "boilerplate_strip",
                                  "pack_sequences", "mixture_sample",
                                  "corpus_assembly", "host_pagerank"])
def test_new_queries_match_oracle_sf0001(spark, name):
    """Value-exact vs DuckDB at sf0.001 (the driver gate runs sf0.01)."""
    import duckdb

    from web_crawler_spark.driver_queries import ORACLES, QUERIES
    sf = "/root/testdata/sf0.001"
    sdf = QUERIES[name](spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM read_parquet('{sf}/documents.parquet')")
    odf = con.execute(ORACLES[name]).fetchdf()
    cols = sorted(sdf.columns)
    assert cols == sorted(odf.columns)
    s = sdf[cols].sort_values(cols).reset_index(drop=True)
    o = odf[cols].sort_values(cols).reset_index(drop=True)
    assert len(s) == len(o) and len(s) > 0
    for c in cols:
        assert (s[c].astype(str).values == o[c].astype(str).values).all(), c


def test_connected_components_random_vs_union_find(spark):
    """Seeded random graphs (cycles, stars, forests) vs a pure union-find
    oracle — pins the iterative min-label plan against the textbook answer
    on shapes the planted-corpus oracle never produces."""
    import numpy as np

    rng = np.random.RandomState(7)
    for trial, (n, m) in enumerate([(20, 8), (20, 25), (12, 0), (30, 60)]):
        edges = [(int(a), int(b)) for a, b in
                 rng.randint(0, n, size=(m, 2)) if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {i: find(i) for i in range(n)}

        edf = spark.createDataFrame(edges or [(0, 0)],
                                    "id_a bigint, id_b bigint")
        if not edges:
            edf = edf.filter("id_a <> id_a")  # empty edge list
        ndf = spark.createDataFrame([(i,) for i in range(n)], "id_a bigint")
        got = {r["id"]: r["cluster_id"] for r in
               dedup.connected_components(edf, nodes=ndf).collect()}
        assert got == expect, f"trial {trial}"


def test_exact_substring_spans_golden(spark):
    """k=3 hand case: a cross-doc shared run becomes the same maximal span
    in both docs; touching intra-doc repeats merge into one span; docs with
    no duplicated grams (or < k tokens) emit nothing; whitespace is
    normalized before tokenizing."""
    docs = spark.createDataFrame(
        [(1, "  a  b c d e f g h "),    # shares tokens 2..6 with doc 2
         (2, "x y c d e f g w"),
         (3, "m n o p m n o p"),        # intra-doc repeat, runs touch
         (4, "q r s"),                  # unique gram
         (5, "t u")],                   # < k tokens
        "doc_id bigint, text string")
    got = {r["doc_id"]: r.asDict() for r in
           dedup.exact_substring_spans(docs, k=3).collect()}
    assert got[1] == {"doc_id": 1, "span_start": 2, "span_end": 7,
                      "span_len": 5}
    assert got[2] == {"doc_id": 2, "span_start": 2, "span_end": 7,
                      "span_len": 5}
    assert got[3] == {"doc_id": 3, "span_start": 0, "span_end": 8,
                      "span_len": 8}
    assert set(got) == {1, 2, 3}


def test_exact_substring_spans_random_vs_bruteforce(spark):
    """Randomized equivalence: small token alphabet (dense accidental
    repeats — heavy intra-doc duplication, overlapping runs, islands that
    touch exactly at pos+k) vs an independent brute-force span merger."""
    import re
    from collections import Counter

    import numpy as np

    k = 3

    def brute(docs):
        toks = {i: re.sub(r"\s+", " ", t.strip()).split(" ")
                for i, t in docs}
        grams = [(i, p, " ".join(tk[p:p + k]))
                 for i, tk in toks.items() if len(tk) >= k
                 for p in range(len(tk) - k + 1)]
        cnt = Counter(g for _, _, g in grams)
        hits: dict = {}
        for i, p, g in grams:
            if cnt[g] >= 2:
                hits.setdefault(i, []).append(p)
        out = set()
        for i, ps in sorted(hits.items()):
            ps.sort()
            start = prev = ps[0]
            for p in ps[1:]:
                if p > prev + k:
                    out.add((i, start, prev + k, prev + k - start))
                    start = p
                prev = p
            out.add((i, start, prev + k, prev + k - start))
        return out

    rng = np.random.RandomState(1234)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    for trial in range(4):
        docs = [(i, " ".join(rng.choice(vocab)
                             for _ in range(rng.randint(0, 26))))
                for i in range(15)]
        sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
        got = {(r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
               for r in dedup.exact_substring_spans(sdf, k=k).collect()}
        assert got == brute(docs), f"trial {trial}"


def test_contamination_flags_planted(spark):
    toks = [f"w{i}" for i in range(30)]
    bench_snippet = " ".join(toks[5:18])        # 13 tokens
    docs = spark.createDataFrame(
        [(1, " ".join(toks)),                   # contains the snippet
         (2, " ".join(toks[5:18])),             # IS the snippet exactly
         (3, " ".join(reversed(toks))),         # same vocab, no shared gram
         (4, "short doc")],                     # < 13 tokens
        "doc_id bigint, text string")
    bench = spark.createDataFrame([(100, bench_snippet)],
                                  "doc_id bigint, text string")
    got = {r["doc_id"]: (r["contaminated"], r["n_contaminated_grams"])
           for r in dedup.contamination_flags(docs, bench).collect()}
    assert got == {1: (True, 1), 2: (True, 1),
                   3: (False, 0), 4: (False, 0)}


def test_contamination_flags_counts_distinct_grams(spark):
    # a doc repeating the contaminated gram twice still counts it ONCE;
    # two different bench grams in one doc count as 2
    toks = [f"w{i}" for i in range(13)]
    g1 = " ".join(toks)
    g2 = " ".join(f"v{i}" for i in range(13))
    docs = spark.createDataFrame(
        [(1, g1 + " SEP " + g1), (2, g1 + " " + g2)],
        "doc_id bigint, text string")
    bench = spark.createDataFrame([(100, g1), (101, g2)],
                                  "doc_id bigint, text string")
    got = {r["doc_id"]: r["n_contaminated_grams"]
           for r in dedup.contamination_flags(docs, bench).collect()}
    assert got == {1: 1, 2: 2}


def test_remove_boilerplate_lines_semantics(spark):
    # header shared by 5 docs of host A -> stripped there; the SAME line on
    # host B appears twice -> kept (df below threshold, per-group rule);
    # body order preserved; counts exact
    rows = [(i, "A", "HEADER\nbody %d line one\nbody %d line two\nFOOTER"
             % (i, i)) for i in range(5)]
    rows += [(10, "B", "HEADER\nunique b text\nFOOTER"),
             (11, "B", "HEADER\nother b text\nFOOTER")]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, "
                                       "text string")
    out = {r["doc_id"]: r.asDict() for r in
           T.remove_boilerplate_lines(docs, min_doc_freq=5).collect()}
    assert out[0]["clean_text"] == "body 0 line one\nbody 0 line two"
    assert out[0]["n_lines_kept"] == 2 and out[0]["n_lines_removed"] == 2
    # host B never crosses df>=5: everything kept verbatim
    assert out[10]["clean_text"] == "HEADER\nunique b text\nFOOTER"
    assert out[10]["n_lines_removed"] == 0 and out[10]["n_lines_kept"] == 3


def test_remove_boilerplate_in_doc_repeat_not_boilerplate(spark):
    # a line repeated WITHIN one doc is not boilerplate (doc frequency, not
    # occurrence count): df counts distinct docs
    rows = [(1, "A", "echo\necho\necho\necho\necho"),
            (2, "A", "something else")]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, "
                                       "text string")
    out = {r["doc_id"]: r.asDict() for r in
           T.remove_boilerplate_lines(docs, min_doc_freq=2).collect()}
    assert out[1]["n_lines_removed"] == 0 and out[1]["n_lines_kept"] == 5


def test_pack_sequences_invariants(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(f"g{g}", i, int(n)) for g in range(3)
            for i, n in enumerate(rng.randint(1, 120, size=40))]
    df = spark.createDataFrame(rows, "source string, doc_id bigint, "
                                     "n_tok bigint")
    budget = 64
    from web_crawler_spark.operators import packing
    out = packing.pack_sequences(df, "n_tok", budget).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], []).append(r)
    totals = {f"g{g}": sum(n for s, i, n in rows if s == f"g{g}")
              for g in range(3)}
    for g, bins in by_group.items():
        bins.sort(key=lambda r: r["bin_id"])
        # bins are contiguous from 0 and all full except the last
        assert [b["bin_id"] for b in bins] == list(range(len(bins)))
        for b in bins[:-1]:
            assert b["n_tokens"] == budget, b
        # token conservation: the chunking loses nothing
        assert sum(b["n_tokens"] for b in bins) == totals[g]
        assert 1 <= bins[-1]["n_tokens"] <= budget
        # consecutive bins meet exactly at a doc boundary or share the
        # boundary-crossing doc
        for a, b in zip(bins, bins[1:]):
            assert b["first_doc"] in (a["last_doc"], a["last_doc"] + 1)


def test_pack_sequences_doc_spanning_many_bins(spark):
    # one 300-token doc at budget 64 spans ceil(300/64)=5 bins and is
    # counted in each; a following 10-token doc shares the 5th bin
    df = spark.createDataFrame([("g", 1, 300), ("g", 2, 10)],
                               "source string, doc_id bigint, n_tok bigint")
    from web_crawler_spark.operators import packing
    out = {r["bin_id"]: r.asDict()
           for r in packing.pack_sequences(df, "n_tok", 64).collect()}
    assert len(out) == 5
    assert all(out[b]["n_tokens"] == 64 for b in range(4))
    assert out[4]["n_tokens"] == 300 - 4 * 64 + 10
    assert out[4]["n_docs"] == 2 and out[4]["first_doc"] == 1 \
        and out[4]["last_doc"] == 2


def test_mixture_sample_proportions_and_determinism(spark):
    from web_crawler_spark.operators import packing
    rows = [(i, "a") for i in range(8000)] + [(i, "b") for i in range(8000)] \
        + [(i, "unlisted") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out = packing.mixture_sample(df, {"a": 0.25, "b": 1.0})
    got = [(r["doc_id"], r["source"]) for r in out.collect()]
    a = [i for i, s in got if s == "a"]
    # weight-1.0 group kept whole; unlisted dropped entirely
    assert sum(1 for _, s in got if s == "b") == 8000
    assert all(s != "unlisted" for _, s in got)
    # hash sampling lands near the target rate
    assert 0.22 < len(a) / 8000 < 0.28
    # partitioning-independent: identical set under a different layout
    got2 = {(r["doc_id"], r["source"]) for r in
            packing.mixture_sample(df.repartition(13), {"a": 0.25, "b": 1.0})
            .collect()}
    assert got2 == set(got)
    # salt changes the sample, not its size regime
    got3 = {(r["doc_id"], r["source"]) for r in
            packing.mixture_sample(df, {"a": 0.25, "b": 1.0}, salt="other")
            .collect()}
    assert got3 != set(got)


def test_mixture_sample_empty_weights(spark):
    from web_crawler_spark.operators import packing
    df = spark.createDataFrame([(1, "a")], "doc_id bigint, source string")
    assert packing.mixture_sample(df, {}).count() == 0


def _pagerank_py(edges, n_iters=3, scale=10 ** 12, damping=85):
    """Exact integer replica of pagerank_ranks for oracle-style testing."""
    e = sorted(set(edges))
    nodes = sorted({v for p in e for v in p})
    n = len(nodes)
    outd = {}
    for s, _ in e:
        outd[s] = outd.get(s, 0) + 1
    base = (scale * (100 - damping)) // (100 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(n_iters):
        inbound = {v: 0 for v in nodes}
        for s, d in e:
            inbound[d] += r[s] // outd[s]
        r = {v: base + (damping * inbound[v]) // 100 for v in nodes}
    return r


def test_pagerank_cycle_and_star(spark):
    from web_crawler_spark.operators import pagerank as PR
    # 3-cycle: perfect symmetry -> identical ranks
    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                                "src bigint, dst bigint")
    got = {r["node"]: r["rank_micro"]
           for r in PR.pagerank_ranks(cyc, n_iters=3).collect()}
    assert len(set(got.values())) == 1 and len(got) == 3
    # star into node 0: the hub outranks every leaf
    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, 1)],
        "src bigint, dst bigint")
    got = {r["node"]: r["rank_micro"]
           for r in PR.pagerank_ranks(star, n_iters=3).collect()}
    assert got[0] > max(v for k, v in got.items() if k != 0)
    assert got == _pagerank_py([(i, 0) for i in range(1, 6)] + [(0, 1)])


def test_pagerank_random_vs_integer_reference(spark):
    import numpy as np
    from web_crawler_spark.operators import pagerank as PR

    rng = np.random.RandomState(23)
    edges = sorted({(int(a), int(b)) for a, b in
                    rng.randint(0, 25, size=(120, 2)) if a != b})
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["node"]: r["rank_micro"]
           for r in PR.pagerank_ranks(df.repartition(7), n_iters=3)
           .collect()}
    assert got == _pagerank_py(edges)
    # duplicate edges must not change the result (simple-graph semantics)
    got2 = {r["node"]: r["rank_micro"]
            for r in PR.pagerank_ranks(df.union(df), n_iters=3).collect()}
    assert got2 == got


# ------------------------------------------------------- sliding chunking

from web_crawler_spark.operators import packing  # noqa: E402


def _chunk_ref(texts, w, s):
    """Plain-Python sliding-window reference."""
    import hashlib
    out = set()
    for i, t in enumerate(texts):
        toks = t.split()
        if not toks:
            continue
        n = len(toks)
        n_chunks = (max(n - w, 0) + s - 1) // s + 1
        for c in range(n_chunks):
            ch = toks[c * s:c * s + w]
            out.add((i, c, c * s, len(ch),
                     hashlib.md5(" ".join(ch).encode()).hexdigest()))
    return out


def test_chunk_documents_matches_reference(spark):
    texts = ["",                         # no chunks
             "one",                      # single short chunk
             " ".join(f"t{i}" for i in range(32)),   # exactly one window
             " ".join(f"t{i}" for i in range(33)),   # one full + one short
             " ".join(f"t{i}" for i in range(100))]  # several, short tail
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {(r["doc_id"], r["chunk_id"], r["start_tok"], r["chunk_tokens"],
            r["chunk_md5"])
           for r in packing.chunk_documents(df, window=32,
                                            stride=24).collect()}
    assert got == _chunk_ref(texts, 32, 24)


def test_chunk_documents_full_coverage_and_overlap(spark):
    """Consecutive chunks overlap by window-stride tokens and jointly
    cover every token exactly (conservation via the overlap identity)."""
    n, w, s = 100, 32, 24
    df = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(n)))], "doc_id long, text string")
    rows = sorted(packing.chunk_documents(df, window=w, stride=s).collect(),
                  key=lambda r: r["chunk_id"])
    assert rows[0]["start_tok"] == 0
    assert rows[-1]["start_tok"] + rows[-1]["chunk_tokens"] == n
    for a, b in zip(rows, rows[1:]):
        assert b["start_tok"] == a["start_tok"] + s   # stride
        assert a["start_tok"] + a["chunk_tokens"] >= b["start_tok"]  # cover


def test_chunk_documents_stays_jvm_side(spark):
    import contextlib
    import io
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan_df = packing.chunk_documents(df, window=32, stride=24)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "Exchange" not in plan     # pure map-side projection of the scan
