"""SparkSession factory with scale-oriented defaults.

The reference runs eagerly on one node (SURVEY.md §4.1); our engine
targets a multi-executor cluster. The defaults below are the ones
that matter at 100 TB:

- AQE on (runtime partition coalescing + skew-join splitting),
- explicit shuffle partition count (callers size it to the data),
- Arrow execution for every Python boundary,
- UTC session timezone so timestamp arithmetic is reproducible and
  oracle-comparable across engines,
- broadcast threshold left at default but every known-small dimension
  is explicitly `broadcast()`ed at the call site (don't rely on
  stats that may be missing on fresh parquet).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "patientdataintegration-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local
    testing; on a real cluster the caller passes ``None`` master via
    spark-submit and these confs still apply.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (sources/pysource.py
        # consumes doc_id range predicates and prunes partitions);
        # no-op unless a Python source implements pushFilters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # bounded driver collects (freeze_small / collect_pruning_terms
        # / the star probe) use limit(cap+1).collect(); the default
        # CollectLimit executes 1 partition first and scales up 4x per
        # retry, costing 2-4 scheduled jobs per probe on multi-partition
        # children — scan all partitions in ONE job instead (each
        # partition is locally capped at the limit, so the driver
        # transfer stays bounded)
        .config("spark.sql.limit.initialNumPartitions", "10000")
        # driver parquet writes TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and normalize in the catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Parquet scans: vectorized reader + pushdown are defaults, keep
        # file-split size explicit so huge files parallelize.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # a session compiles many more distinct whole-stage plans than
        # Spark's default cache of 100 holds (store reads and repairs
        # re-plan per micro-batch); 1024 keeps them, 4096 compiles no
        # fewer
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
