"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB story and verified locally:
  * AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  * Arrow on (all our UDFs are pandas/Arrow batched — no per-row Python)
  * shuffle partitions sized by env (local) — on a real cluster AQE coalesces
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """Local task slots: SPARK_GRAFT_CPUS when set, else every CPU of the
    machine."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def get_spark(app_name: str = "web-crawler-spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(2 * cores, 32)
    b = (SparkSession.builder.appName(app_name)
         .master(f"local[{cores}]")
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         # html pages are expensive per BYTE (parse UDF ~0.2 ms/KB), so file
         # splits must be sized for CPU, not IO: small local datasets would
         # otherwise collapse to 1 split and serialize the parse stage. On a
         # real cluster with TB-scale inputs raise maxPartitionBytes back to
         # 128 MB (the default) — splits are plentiful there.
         .config("spark.sql.files.maxPartitionBytes", "4m")
         .config("spark.sql.files.openCostInBytes", "262144")
         .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
         # local[32] runs every task in the driver JVM: size the heap for 32
         # concurrent tasks holding html-payload partitions (8g measured to
         # GC-thrash a 32-thread shuffle-hash join; box has 128 GiB)
         .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
