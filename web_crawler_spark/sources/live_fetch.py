"""Batched live HTTP fetch (S4-live / What's-missing #2) — mapInArrow
behind a capability flag.

Reference: the requests.Session fetch loop with Retry
(/root/reference/app/scrapers/base_crawler.py:72-85) and the API GET path
(/root/reference/app/api/base_fetcher.py:87-138). The driver's input_hint
models fetching as a join against the pages table, so the JOIN PATH STAYS
THE DEFAULT — this module is the documented mapInArrow design
(sources/api_adapter.py module docstring) as real, tested code for
deployments that do have a network.

Spark-first shape
-----------------
Fetching is IO-bound and per-row, the one place mapInArrow is the right
tool rather than a smell: one Python worker per partition pulls each Arrow
batch, resolves its URLs through a pluggable *transport*, and appends the
bodies as a binary column plus a status column — no per-row Python objects
beyond the URL strings, bodies go straight into an Arrow binary array and
from there into the same extract-before-checkpoint pipeline the join path
feeds (html never touches block storage).

Politeness rides IN the rows: the engine's ``sched_ts`` is already a
per-host token-bucket schedule, so ``respect_sched=True`` repartitions the
rows by host (the engine's to-fetch rows arrive url-hashed, one host over
every partition), sorts each partition by sched_ts and sleeps each row's
remaining delay relative to the partition clock — the reference's serial
per-host cadence, with every row of a host on one partition clock and
distinct hosts spread over partitions. With respect_sched the transport
is called serially; without it (API-style bulk pulls) URLs fan out over a
thread pool — network IO releases the GIL.

Capability gate: the DEFAULT transport does real urllib GETs and REFUSES
to run unless ``WCS_LIVE_FETCH=1`` — this sandbox has no network, and a
test must never make one silently. Tests inject deterministic in-process
transports instead.

Transport protocol
------------------
``transport(urls: list[str]) -> list[tuple[str, bytes | None]]`` — one
``(status, body)`` per input URL, same order. Status "ok" marks success;
anything else ("404", "429", "error", ...) flows into the engine's
backoff/requeue machinery, like the default join fetcher's 404s.
Retries are NOT the transport's job: the frontier owns retry state (S5,
operators/politeness.backoff_requeue), mirroring how the reference's
Retry(total=3) is subsumed by the engine-level backoff.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

Transport = Callable[[List[str]], List[Tuple[str, Optional[bytes]]]]

#: appended by fetch_batched, in this order
FETCH_COLS = [StructField("html", BinaryType()),
              StructField("fetch_status", StringType())]


def default_transport(timeout: float = 30.0,
                      user_agent: str = "web-crawler-spark/0.5 (+spark)",
                      ) -> Transport:
    """Real urllib GET transport — capability-gated: raises unless the
    WCS_LIVE_FETCH=1 env var is set on the WORKER (local mode: the
    process). HTTPError codes map to their numeric status string (429
    feeds the backoff path); transport-level failures map to "error"."""

    def transport(urls: List[str]) -> List[Tuple[str, Optional[bytes]]]:
        if os.environ.get("WCS_LIVE_FETCH") != "1":
            raise RuntimeError(
                "live HTTP fetch is disabled in this environment: set "
                "WCS_LIVE_FETCH=1 to enable real network GETs, or inject "
                "a transport (fetch_batched(transport=...)). Tests must "
                "always inject one.")
        import urllib.error
        import urllib.request
        out: List[Tuple[str, Optional[bytes]]] = []
        for u in urls:
            try:
                req = urllib.request.Request(
                    u, headers={"User-Agent": user_agent})
                with urllib.request.urlopen(req, timeout=timeout) as resp:
                    out.append(("ok", resp.read()))
            except urllib.error.HTTPError as exc:
                out.append((str(exc.code), None))
            except Exception:
                out.append(("error", None))
        return out

    return transport


def table_transport(pages: dict) -> Transport:
    """Deterministic in-process transport over a {url: html_bytes} dict —
    the sandbox/test stand-in for a real network. Missing urls 404."""

    def transport(urls: List[str]) -> List[Tuple[str, Optional[bytes]]]:
        out: List[Tuple[str, Optional[bytes]]] = []
        for u in urls:
            body = pages.get(u)
            out.append(("ok", body) if body is not None else ("404", None))
        return out

    return transport


def fetch_batched(to_fetch: DataFrame,
                  transport: Optional[Transport] = None,
                  respect_sched: bool = False,
                  concurrency: int = 16,
                  chunk: int = 64) -> DataFrame:
    """Append (html binary, fetch_status string) to ``to_fetch`` by
    resolving its ``url`` column through ``transport`` in Arrow batches.

    respect_sched=True (requires ``host`` and ``sched_ts`` columns): the
    rows are repartitioned by host, so each host sits on one partition
    clock, partitions are sorted by sched_ts and each row waits out its
    remaining politeness delay relative to the partition's first row
    before its (serial) fetch — wall-clock cadence == the token-bucket
    schedule. Without it, each batch's URLs are fetched concurrently on
    ``concurrency`` threads in ``chunk``-sized transport calls.
    """
    tr = transport or default_transport()
    out_schema = StructType(list(to_fetch.schema.fields) + FETCH_COLS)
    url_idx = to_fetch.columns.index("url")
    sched_idx = None
    if respect_sched:
        for c in ("host", "sched_ts"):
            if c not in to_fetch.columns:
                raise ValueError(f"respect_sched requires a {c} column")
        sched_idx = to_fetch.columns.index("sched_ts")
        to_fetch = (to_fetch.repartition("host")
                    .sortWithinPartitions("sched_ts"))

    def gen(batches) -> Iterator:
        import time

        import pyarrow as pa
        clock0 = None       # (wall time, sched_ts) of the partition's first row
        for batch in batches:
            urls = batch.column(url_idx).to_pylist()
            if not urls:
                continue
            if respect_sched:
                scheds = batch.column(sched_idx).to_pylist()
                results = []
                for u, s in zip(urls, scheds):
                    if clock0 is None:
                        clock0 = (time.monotonic(), float(s))
                    wait = (float(s) - clock0[1]) - (time.monotonic()
                                                     - clock0[0])
                    if wait > 0:
                        time.sleep(wait)
                    results.extend(tr([u]))
            elif len(urls) <= chunk or concurrency <= 1:
                results = tr(urls)
            else:
                from concurrent.futures import ThreadPoolExecutor
                chunks = [urls[i:i + chunk]
                          for i in range(0, len(urls), chunk)]
                with ThreadPoolExecutor(max_workers=concurrency) as ex:
                    results = [r for part in ex.map(tr, chunks)
                               for r in part]
            body = pa.array([b for _, b in results], pa.binary())
            status = pa.array([s for s, _ in results], pa.string())
            yield (batch.append_column("html", body)
                   .append_column("fetch_status", status))

    return to_fetch.mapInArrow(gen, out_schema)


def make_live_fetcher(transport: Optional[Transport] = None,
                      respect_sched: bool = False,
                      concurrency: int = 16) -> Callable[[DataFrame],
                                                         DataFrame]:
    """CrawlConfig.fetch_via factory: swaps the engine's pages-table join
    for a transport-backed batched fetch. The returned callable fulfils
    the fetch_via contract (input columns + html + fetch_status)."""

    def fetch_via(to_fetch: DataFrame) -> DataFrame:
        return fetch_batched(to_fetch, transport=transport,
                             respect_sched=respect_sched,
                             concurrency=concurrency)

    return fetch_via
