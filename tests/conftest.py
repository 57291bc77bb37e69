import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from web_crawler_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("wcs-tests", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "lake")


def _answer_429(fetch, faults):
    """Wrap a CrawlConfig.fetch_via-shaped fetcher so that each url in
    ``faults`` ({url: n}) answers HTTP 429 while its frontier row has
    ``retries < n``; a page the wrapped fetcher misses stays a 404."""
    from pyspark.sql import functions as F

    def fetch_via(to_fetch):
        fdf = to_fetch.sparkSession.createDataFrame(
            list(faults.items()), schema="url string, __fault_n int")
        hit = ((F.col("fetch_status") == "ok") &
               (F.col("retries") < F.col("__fault_n")))
        return (fetch(to_fetch).join(F.broadcast(fdf), "url", "left")
                .withColumn("fetch_status",
                            F.when(hit, F.lit("429"))
                            .otherwise(F.col("fetch_status")))
                .drop("__fault_n"))
    return fetch_via


@pytest.fixture()
def inject_429():
    """Test fake for a rate-limiting origin (S5/T3): the sandbox pages
    table cannot rate-limit, so tests drive the 429/backoff path by
    wrapping the fetcher — ``inject_429(fetch, {url: n})``. Reference
    behavior: Retry(total=3, backoff_factor=1), base_crawler.py:43-48;
    60 s penalty, api/base_fetcher.py:123-126."""
    return _answer_429
