"""SparkSession factory with engine defaults.

Local-mode testing (local[N]) but configured for the multi-executor case:
AQE on (runtime partition coalescing + skew-join splitting), shuffle
partitions sized to cores, Arrow enabled for all pandas-UDF exchanges,
UTC session timezone so results are comparable with UTC-naive oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: share of physical memory the default driver heap may take; the rest is
#: left to off-heap buffers, Python workers and the OS
DRIVER_MEM_FRACTION = 0.6


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Driver heap default: ~60% of physical memory in whole GiB (at least
    1g), so the JVM spills instead of growing past RAM and getting killed.
    ``TSDAT_SPARK_DRIVER_MEM`` overrides it in :func:`get_spark`."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, int(phys_bytes * DRIVER_MEM_FRACTION) >> 30)}g"


def get_spark(
    app_name: str = "tsdat_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cores=None`` → ``local[*]``. On a real cluster the master/deploy
    settings come from spark-submit; everything set here is
    cluster-agnostic tuning.
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(cores_env) if cores_env else 0
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Allow joins to reuse a subset-key co-partitioning (both sides
        # hash-partitioned on doc_a satisfy a join on (doc_a, doc_b)):
        # lets jaccard_pairs keep its 62.5M-pair stream un-shuffled by
        # pre-partitioning both inputs on the leading key (round 7,
        # guide §2.4). Planner-only setting — results are unaffected;
        # the engine controls the partitioning of every join that
        # benefits, so the skew caveat behind the conservative default
        # does not apply here.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode: driver heap is the only executor memory — size it to
        # the box (concurrent tasks × task working set + cached tiers); an
        # undersized heap shows up as INVERSE scaling at high core counts
        # (GC thrash grows with concurrent tasks)
        .config("spark.driver.memory",
                os.environ.get("TSDAT_SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        # Arrow/pandas stages cost ~10x more CPU per byte than JVM scans, so
        # scan splits and post-shuffle partitions are sized for the Python
        # path: 16 MB splits keep a 32-core box fed at tier-table sizes
        # (128 MB default gives a 300 MB tier table only ~3 splits → 3 busy
        # cores). On a 1000-executor cluster these scale the same way:
        # splits >= ~4x total cores.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(16 * 1024 * 1024))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
