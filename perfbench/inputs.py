"""Seeded benchmark inputs and the goldens their outputs are checked against.

Everything here runs without Spark: the webs come from the program's own
fixture generator (``html_synth.synth_web``), the documents table from a
seeded generator of the same schema as the test data's ``documents.parquet``,
and the goldens from the pure-Python reference simulator
(``refspec.simulate_crawl``) and the DuckDB oracle SQL
(``driver_queries.ORACLES``). The program under test only ever receives the
parquet files written here.

Input directories (see ``prepare``)::

    <workload>-s<seed>-<shape digest>/
        pages.parquet      url, warc_ts, html, text, lang
        seeds.parquet      url, source_id, parser_class, priority
        golden.json        reference crawl digests and counts
    docs-s<seed>-n<N_DOCS>/
        documents.parquet  doc_id, text, lang, source, n_chars
        golden.json        curation oracle hashes
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
from typing import Callable, Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from web_crawler_spark import html_synth, refspec

#: Per-workload crawl shape. ``trickle``: a small per-host budget makes the
#: 30%-hot host drain over several budget-bound epochs while every other
#: host is served in one, so each epoch's fixed cost dominates. ``heavy``:
#: every article page carries ``boilerplate_kb`` of site chrome outside the
#: parser's containers and the budget exceeds every host, so the crawl is
#: one list epoch plus one drain epoch and the fetch join + extract UDF do
#: the work.
CRAWLS: Dict[str, dict] = {
    "trickle": {"n_articles": 1600, "n_hosts": 64, "hot_frac": 0.30,
                "per_host_budget": 400, "boilerplate_kb": 0},
    "heavy_pages": {"n_articles": 300, "n_hosts": 64, "hot_frac": 0.30,
                    "per_host_budget": 100_000, "boilerplate_kb": 20},
}

#: Curation mix: document-only ``driver_queries`` with DuckDB oracles, at
#: least one per curation layer that runs on documents alone (dedup,
#: retrieval, packing, text, bpe).
CURATE_QUERIES = ["dedup_exact", "dedup_clusters", "bm25_topk",
                  "pack_sequences", "chunk_documents", "bpe_token_stats"]
N_DOCS = 2000

_WORDS = ("key agg row scan slow fast table value part hash merge batch "
          "spark order data column join small line customer query big "
          "stream window sort filter group vector a the").split()
_LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3


# --------------------------------------------------------------------------
# documents table (curation input)
# --------------------------------------------------------------------------

def synth_documents(seed: int, n_docs: int = N_DOCS) -> pa.Table:
    """Seeded ``documents`` table with planted exact and near duplicates.

    The duplicate structure is fixed and only the words come from the
    seed, so every seed asks the curation queries for the same amount of
    work (the cluster query iterates once per propagation step):

    * among the first 200 documents, where the MinHash/cluster queries
      look, each block of ten starts with an original of 30-70 tokens
      followed by two near copies of it (one token substituted: 3-gram
      Jaccard >= 25/31 against the original). The two copies need not
      pass the threshold with each other, so a cluster can need the
      transitive step through its original;
    * beyond them, every document whose id ends in 7 (mod 20) is an exact
      copy of the document three ids before it (``dedup_exact``).
    """
    rng = random.Random(seed * 7919 + 11)
    texts: List[str] = []
    for doc_id in range(n_docs):
        if doc_id < 200 and doc_id % 10 in (1, 2):
            toks = texts[doc_id - doc_id % 10].split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(_WORDS)
            text = " ".join(toks)
        elif doc_id >= 200 and doc_id % 20 == 7:
            text = texts[doc_id - 3]
        else:
            n = rng.randrange(30, 70) if doc_id < 200 else rng.randrange(5, 90)
            text = " ".join(rng.choice(_WORDS) for _ in range(n))
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# --------------------------------------------------------------------------
# webs (crawl input)
# --------------------------------------------------------------------------

_SECTIONS = ("world business markets tech science sport culture opinion "
             "climate travel health video podcasts newsletters").split()


def boilerplate(rng: random.Random, kb: int) -> tuple:
    """(header, footer) news-site chrome of about ``kb`` KiB in total, built
    only from elements no parser class selects: no h1, p, time, article,
    id/data-* hooks. Extraction must skip all of it."""
    def item() -> str:
        words = " ".join(rng.choices(_WORDS, k=4))
        return (f'<li class="nav-item"><a href="/{rng.choice(_SECTIONS)}/'
                f'{rng.randrange(10**6)}">{rng.choice(_SECTIONS).title()} '
                f'{words}</a></li>')

    def nav(n: int) -> str:
        return "".join(item() for _ in range(n))
    cfg = ", ".join(f'"k{i}": "{rng.choice(_WORDS)}-{rng.randrange(10**9)}"'
                    for i in range(40))
    # a nav item is about 95 bytes: 11 items per KiB across the three lists
    header = (f'<header class="site-header"><nav class="site-nav"><ul>'
              f'{nav(kb * 5)}</ul></nav>'
              f'<script>window.__cfg = {{{cfg}}};</script></header>')
    footer = (f'<aside class="promo"><ul>{nav(kb * 3)}</ul></aside>'
              f'<footer class="site-footer"><ul>{nav(kb * 3)}</ul>'
              f'<span class="legal">{" ".join(rng.choices(_WORDS, k=60))}'
              f'</span></footer>')
    return header, footer


def make_web(workload: str, seed: int) -> dict:
    """The seeded mini-web of ``workload``; for heavy pages every article
    page (every page that is not a seed list page) is wrapped in chrome."""
    shape = CRAWLS[workload]
    web = html_synth.synth_web(n_articles=shape["n_articles"],
                               n_hosts=shape["n_hosts"], seed=seed,
                               hot_frac=shape["hot_frac"])
    web["plain_pages"] = web["pages"]
    if shape["boilerplate_kb"]:
        rng = random.Random(seed * 104729 + 3)
        lists = {u for u, _, _ in web["seeds"]}
        heavy = {}
        for url, html in web["pages"].items():
            if url in lists:
                heavy[url] = html
                continue
            head, foot = boilerplate(rng, shape["boilerplate_kb"])
            heavy[url] = (html.replace(b"<body>", b"<body>" + head.encode(), 1)
                          .replace(b"</body>", foot.encode() + b"</body>", 1))
        web["pages"] = heavy
    return web


def _write_pages(web: dict, path: str) -> None:
    # the text column is the rbc extraction of the plain page, as in
    # html_synth.web_to_pages_rows; the engine reads only url and html
    rows = html_synth.web_to_pages_rows({"pages": web["plain_pages"]})
    pages = web["pages"]
    pq.write_table(pa.table({
        "url": [r[0] for r in rows],
        "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "html": pa.array([pages[r[0]] for r in rows], pa.binary()),
        "text": [r[3] for r in rows],
        "lang": [r[4] for r in rows],
    }), path)


def _write_seeds(web: dict, path: str) -> None:
    s = web["seeds"]
    pq.write_table(pa.table({
        "url": [u for u, _, _ in s],
        "source_id": pa.array([sid for _, sid, _ in s], pa.int64()),
        "parser_class": [p for _, _, p in s],
        "priority": pa.array(range(len(s)), pa.int32()),
    }), path)


# --------------------------------------------------------------------------
# goldens
# --------------------------------------------------------------------------

def article_digest(title, content, published_date, source_id) -> str:
    """Digest of one stored article's checked fields (byte identity)."""
    h = hashlib.sha256()
    for v in (title, content, published_date, source_id):
        h.update(b"\x00" if v is None else b"\x01" + str(v).encode())
    return h.hexdigest()[:24]


def crawl_golden(web: dict) -> dict:
    """Reference crawl of the plain web. Chrome lies outside every parser
    container, so the reference output of a heavy page equals that of its
    plain page (``check_chrome_invisible`` re-proves it on a sample for
    each seed); simulating the plain web keeps the golden cheap."""
    g = refspec.simulate_crawl(web["plain_pages"], web["seeds"])
    order = [u for (_, u, _, action, _) in g["trace"] if action == "fetched"]
    per_source: Dict[str, int] = {}
    for a in g["articles"]:
        k = str(a["source_id"])
        per_source[k] = per_source.get(k, 0) + 1
    # every list page plus every distinct article url the lists point at is
    # fetched once (the engine seen-filters and url-dedups before the fetch)
    fetched = {u for u, _, _ in web["seeds"]} | \
        {u for (_, u, _, _, _) in g["trace"]}
    html_bytes = sum(len(web["pages"][u]) for u in fetched
                     if u in web["pages"])
    return {
        "articles": {a["url"]: article_digest(a["title"], a["content"],
                                              a["published_date"],
                                              a["source_id"])
                     for a in g["articles"]},
        "order": order,
        "n_fetch": len(fetched),
        "fetched_html_bytes": html_bytes,
        "n_sources": len({sid for _, sid, _ in web["seeds"]}),
        "per_source": per_source,
    }


def check_chrome_invisible(web: dict, sample: int = 12,
                           seed: int = 0) -> List[str]:
    """Urls among a seeded sample of article pages whose reference
    extraction changes when the chrome is added (empty = the plain-web
    golden is valid for the heavy web)."""
    parser_of = {}
    for u, _, p in web["seeds"]:
        parser_of[refspec.url_host(u)] = p
    lists = {u for u, _, _ in web["seeds"]}
    urls = sorted(u for u in web["pages"] if u not in lists)
    rng = random.Random(seed)
    bad = []
    for u in rng.sample(urls, min(sample, len(urls))):
        p = parser_of.get(refspec.url_host(u), "rbc")
        if p == "investing":
            continue                     # content comes from the list cache
        if refspec.extract_article(web["pages"][u], p) != \
                refspec.extract_article(web["plain_pages"][u], p):
            bad.append(u)
    return bad


def near_dup_clusters(docs: pa.Table) -> tuple:
    """``dedup_clusters`` restated in Python: (columns, rows).

    Same semantics as its ORACLES SQL: the corpus is documents with
    doc_id < 200 plus a copy of each at doc_id + 100000; two documents are
    linked when the Jaccard of their distinct whitespace-token 3-grams is
    >= 0.8; every corpus document is labelled with the minimum id of its
    connected component and the component's size. The SQL's recursive CTE
    re-evaluates the all-pairs join on every step (about a minute per seed
    here), so goldens use this statement, which the benchmark's tests hold
    equal to the SQL."""
    corpus = []
    for doc_id, text in zip(docs.column("doc_id").to_pylist(),
                            docs.column("text").to_pylist()):
        if doc_id < 200:
            t = re.split(r"\s+", text.strip(" "))
            g = frozenset(" ".join(t[i:i + 3]) for i in range(len(t) - 2))
            corpus += [(doc_id, g), (doc_id + 100000, g)]
    parent = {d: d for d, _ in corpus}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for i, (a, ga) in enumerate(corpus):
        for b, gb in corpus[i + 1:]:
            union = len(ga | gb)
            if union and len(ga & gb) / union >= 0.8:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
    size: Dict[int, int] = {}
    for d, _ in corpus:
        size[find(d)] = size.get(find(d), 0) + 1
    return (["doc_id", "cluster_id", "cluster_size"],
            [(d, find(d), size[find(d)]) for d, _ in corpus])


def curate_golden(docs_dir: str) -> Dict[str, dict]:
    """Row count, columns and value hash of each curation query's oracle
    over the documents parquet: the DuckDB ORACLES SQL, except
    ``dedup_clusters`` (see ``near_dup_clusters``)."""
    import duckdb
    from tools.check_oracles import table_hash
    from web_crawler_spark import driver_queries as dq
    path = os.path.join(docs_dir, "documents.parquet")
    out = {}
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        for q in CURATE_QUERIES:
            if q == "dedup_clusters":
                cols, rows = near_dup_clusters(pq.read_table(path))
            else:
                cur = con.execute(dq.ORACLES[q])
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
            out[q] = {"rows": len(rows), "cols": sorted(cols),
                      "hash": table_hash(rows, cols)}
    finally:
        con.close()
    return out


# --------------------------------------------------------------------------
# cache
# --------------------------------------------------------------------------

def _build_once(final: str, build: Callable[[str], None]) -> str:
    """Run ``build(tmp)`` unless ``final`` exists; built in a temporary
    directory and renamed into place, so a killed run never leaves a
    half-written input behind."""
    if os.path.exists(os.path.join(final, "golden.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def _dump(obj, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def prepare(root: str, workload: str, seed: int) -> Dict[str, str]:
    """Input directories for (workload, seed), generated once and reused
    byte for byte: the web (pages, seeds, crawl golden) and the documents
    table (shared by every workload of the seed, with its curation
    golden)."""
    def web_build(d):
        web = make_web(workload, seed)
        _write_pages(web, os.path.join(d, "pages.parquet"))
        _write_seeds(web, os.path.join(d, "seeds.parquet"))
        golden = crawl_golden(web)
        golden["chrome_visible"] = (check_chrome_invisible(web, seed=seed)
                                    if CRAWLS[workload]["boilerplate_kb"]
                                    else [])
        _dump(golden, os.path.join(d, "golden.json"))

    def docs_build(d):
        pq.write_table(synth_documents(seed),
                       os.path.join(d, "documents.parquet"))
        _dump({"n_docs": N_DOCS, "queries": curate_golden(d)},
              os.path.join(d, "golden.json"))

    # the shape is part of the name, so an edited shape never reuses a
    # cached input
    shape = hashlib.sha256(json.dumps(CRAWLS[workload], sort_keys=True)
                           .encode()).hexdigest()[:8]
    return {"web": _build_once(os.path.join(root, f"{workload}-s{seed}-"
                                            f"{shape}"), web_build),
            "docs": _build_once(os.path.join(root, f"docs-s{seed}-n{N_DOCS}"),
                                docs_build)}


def load_golden(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "golden.json")) as f:
        return json.load(f)


def files_under(path: str) -> List[str]:
    """Every regular file below ``path``, sorted."""
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs)
