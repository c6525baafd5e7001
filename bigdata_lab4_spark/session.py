"""SparkSession factory.

The reference runs everything in one single-threaded python process
(`/root/reference/src/preprocess.py`, `train.py`); here the execution
substrate is a Spark cluster. Local testing uses ``local[N]`` but all
defaults are chosen to survive a 1000-executor / 100 TB deployment:
AQE on (runtime join re-planning + skew handling + partition
coalescing), UTC session timezone (oracle comparability), Arrow for
any pandas interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bigdata-lab4-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    The master is ``local[$SPARK_GRAFT_CPUS]`` when that is set
    (bench.py's contract), else whatever launched the process chose:
    spark-submit's ``--master``, or Spark's ``local[*]`` under a plain
    ``python``. Either way this factory contributes its conf defaults.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    # At 100 TB this is overridden per-deployment (``extra_conf``); for
    # local[N] match the core count so post-shuffle tasks don't fragment.
    shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = SparkSession.builder
    if cpus:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # preferSortMergeJoin=false is NOT set engine-wide: SHJ requires
        # every per-partition build side to fit in memory and AQE will
        # not convert a chosen SHJ back to SMJ, so a global default
        # trades sorts for potential OOMs on 100 TB skewed builds. The
        # queries where the hash join is the deliberate choice carry
        # their own SHUFFLE_HASH hints (j04, j04b, s08, l02b, l07b), each
        # with a bounded-build-side argument at the hint site (guide
        # §3.1).
        # zstd beats snappy on ratio at similar read speed (guide §6) for
        # everything the engine writes (predictions sink, streaming).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Whole-stage codegen keeps its compiled classes in one JVM-wide
        # LRU cache, 100 entries by default. One pass over the 89
        # registered queries at sf0.001 compiles 659 distinct classes,
        # and one pass of the six neardup queries (l01 … l07b) ~117, so
        # with 100 entries each warm neardup pass recompiled 85-89 of its
        # classes (Janino, then JIT). 1000 holds the whole registry with
        # headroom (4-core host, pyspark 4.1.2). The cap is a static conf, read once per JVM when the first
        # class is compiled: a JVM whose first session did not come
        # from here (e.g. the vanilla-session driver contract) keeps
        # Spark's 100. bench.py does not show the thrash: it repeats
        # each query back to back, so its classes are still cached.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
