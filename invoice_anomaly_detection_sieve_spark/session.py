"""SparkSession factory tuned for the validation engine.

Defaults target the sandbox (single JVM, local[N]) but every knob is the
one you would set on a 1000-executor cluster: AQE on (runtime coalescing +
skew-join splitting), Arrow enabled for every pandas-UDF crossing, explicit
shuffle parallelism, UTC session time zone for deterministic date math.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "sieve-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cores`` sets ``local[cores]``; None means ``local[*]``. On a real
    cluster the master comes from spark-submit and this falls through.
    """
    cores_s = str(cores) if cores is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = shuffle_partitions or int(
        os.environ.get("SIEVE_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores_s}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # nested span documents compress ~10x: a default 128MB split can
        # explode to >1GB in memory and starves read parallelism on small
        # tables; 32MB keeps scan tasks plentiful and spill-safe
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # columnar-cache codecs (RLE/dict) only apply to flat primitive
        # columns; on this engine's nested line-array schema they saved
        # ~1% memory (203 vs 205 MB at sf0.1) while costing 2.5x cache-
        # build CPU (5.1 s vs 2.0 s wall on 32 cores) — the eager
        # extraction persist was 70% of the flagship's total CPU
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # one runner.run generates ~147 distinct whole-stage classes; the
        # default 100-entry code cache evicts them all in LRU order before
        # the next run asks again, so every warm run recompiled ~143
        # (CodegenMetrics). 1000 holds the whole plan set: a warm run
        # compiles none. A static conf: Spark sizes the cache once per JVM,
        # so it must be set before the first session starts.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # AQE numbers whole-stage codegen stages in the order it creates
        # query stages, which varies with task timing. With the id in the
        # class name, the same stage code under a new id is a new cache
        # key: 3 of 22 warm runs recompiled 3-7 stages (none of 14 without)
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SIEVE_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
