"""SparkSession factory with the engine's pinned configs.

Configs are chosen for the 100 TB design point and stated explicitly so the
parity runs are deterministic:

- AQE on (runtime re-planning, skew-join splitting);
- shuffle-hash joins preferred over sort-merge for the engine's equi-joins on
  64-bit hashes (no useful sort order to exploit);
- Arrow enabled for pandas UDF / mapInPandas batches (the only Python↔JVM
  boundary in the hot path);
- shuffle partitions sized to the sandbox; on a real cluster this scales with
  executor count (AQE coalesces the rest).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "boris-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
    master: str | None = "local",
) -> SparkSession:
    """master="local" (default) pins local[cores]; master=None inherits the
    master from spark-submit — the cluster path (scripts/submit_crawl.py via
    spark-submit --py-files dist/boris_spark.zip)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    b = SparkSession.builder
    if master == "local":
        b = b.master(f"local[{cores}]")
    elif master is not None:
        b = b.master(master)
    b = (
        b.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # AQE ON for ad-hoc queries (the 100 TB design point wants runtime
        # re-planning + skew-join splitting); CrawlEngine.run turns it off
        # for the crawl loop, whose joins are statically pinned
        .config("spark.sql.adaptive.enabled", "true")
        # coalescing OFF: AQE sizes partitions by bytes, which serializes the
        # CPU-heavy Arrow/pandas stages downstream of small-byte shuffles
        # (observed: a 60k-row join coalesced to 2 tasks before mapInPandas).
        # Skew-join splitting stays on.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # dynamic-partition writes (the crawl round's partitionBy('kind')
        # output) must NOT sort rows by partition column first: result and
        # download values can be page-sized, and the planned-write sort
        # buffers/spills them per round for a 4-value partition key.
        # With the sort off each task keeps ≤4 open writers instead.
        .config("spark.sql.optimizer.plannedWrite.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
