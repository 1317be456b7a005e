"""SparkSession factory tuned for the engine.

The reference runs DuckDB with ``threads: 16``, ``memory_limit`` and
``preserve_insertion_order=false`` (omicidx_etl/db.py:18-36). The Spark
equivalents: AQE on (runtime re-planning, skew-join handling, partition
coalescing), shuffle partitions sized to cores (not the 200 default),
UTC session timezone (DuckDB timestamps are UTC-naive), and Arrow for
any pandas interchange.

Two settings remove per-pass JVM fixed cost rather than tune a plan.
The codegen cache holds every class both perfbench workloads compile
(Spark's default of 100 entries evicted classes a warm pass needed
again, so each pass recompiled them), and ``file://`` goes through
``RawLocalFileSystem``, which writes no ``.crc`` sidecar files (each
one cost a file write plus a forked ``chmod``: the bundled Hadoop
client has no native library). Both are constants; ``extra_conf``
overrides them like any other key.

At cluster scale the same session options hold; only master/memory come
from the cluster manager. Everything else here is per-query semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "omicidx_gh_etl_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Scale notes: on a real cluster, drop ``master`` and let the cluster
    manager size executors; ``shuffle.partitions`` should then be
    ~2-3× total cores (AQE coalesces the excess).
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by SIZE, not down-to-cores:
        # at sf0.1 most shuffles carry kilobytes and the default
        # parallelismFirst=true keeps 32 near-empty tasks per stage
        # whose scheduling dominates sub-second queries (measured:
        # headline 18-query total 10.0 -> 9.1-9.3 s). At cluster scale
        # size-based coalescing is also the documented-correct choice —
        # partitions tend toward advisoryPartitionSize (64 MB) instead
        # of whatever the core count happens to be.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Task-commit-direct output committer: skips the job-commit
        # rename pass (measured: 0.97 -> 0.67 s on the sf0.1 mart
        # export). Safe here because every engine write is
        # overwrite-by-path (sources/writers.py mirror semantics) — a
        # failed job is re-run from scratch, so partially-visible task
        # output is never read. On S3-like stores use the store's
        # dedicated committer instead.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Compile each generated class once per JVM. The default LRU of
        # 100 entries is below the working set (measured, perfbench seed
        # 7: the 12-query mix compiles ~166 distinct classes, the cold
        # nightly pass ~114, ~280 together), so every warm pass evicted
        # and recompiled what it needed: 160 Janino compiles per query
        # pass, 63-64 per nightly pass. With 1,000 entries a warm pass
        # compiles none, and metaspace does not grow (157 -> 155 MB
        # after three query passes).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # No checksum sidecars on file://. Without libhadoop every file
        # and directory Hadoop's local file system creates forks a
        # `chmod` (5-7 ms each, timed from a local[1] JVM), and
        # ChecksumFileSystem adds a `.crc` file per data file that no
        # reader checks: parquet pages carry their own CRC (parquet 1.16
        # writes page checksums by default), gzip NDJSON has CRC32 and
        # the state files are pyarrow writes. Measured per nightly pass
        # (seed 7): 181 -> 0 `.crc` files, 751 -> 559 `chmod` forks.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
