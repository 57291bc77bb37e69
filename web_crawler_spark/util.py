"""Small shared utilities."""

from __future__ import annotations

import atexit
import shutil
import tempfile


def scratch_dir(prefix: str) -> str:
    """mkdtemp that is removed at interpreter exit — repeated gate/bench
    invocations must not accumulate corpus-sized litter in /tmp."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d



#: the fixture tables' schemas as Spark infers them from the parquet
#: footers (the timestamps are parquet timestamp[us] without a UTC flag).
#: A read by this schema runs no footer-merge job.
FIXTURE_DDL = {
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
                "c_acctbal double, c_mktsegment string",
    "documents": "doc_id bigint, text string, lang string, source string, "
                 "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, "
              "event_type string, value double, props string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
                "l_linenumber int, l_quantity double, l_extendedprice double, "
                "l_discount double, l_tax double, l_returnflag string, "
                "l_linestatus string, l_shipdate timestamp_ntz",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp_ntz, "
              "o_orderpriority string",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
    "region": "r_regionkey int, r_name string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, "
                "s_acctbal double",
}


def read_fixture(spark, sf_dir: str, table: str):
    return spark.read.schema(FIXTURE_DDL[table]).parquet(
        f"{sf_dir}/{table}.parquet")
