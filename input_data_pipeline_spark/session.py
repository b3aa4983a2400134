"""SparkSession factory with scale-appropriate defaults.

The knobs here are the ones that matter at the 100 TB design point
(AQE re-planning, skew-join splitting, partition sizing) plus the ones
required for oracle-exact correctness (UTC session timezone, ANSI off to
match DuckDB's permissive arithmetic on the test queries).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "input_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``. Shuffle partitions default to the lesser
    of 2x cores locally; on a cluster you'd size them so post-shuffle
    partitions land near 128-256 MB (AQE coalescing handles the rest).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness vs the DuckDB oracle ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime re-plan, skew split, coalesce ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- scan sizing: keep splits near the sweet spot for parquet ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- parquet timestamp normalization (round 18: hoisted from
        # load_table so sessions built here never pay the per-first-touch
        # conf round trips; load_table still sets them defensively for
        # foreign sessions — the driver's own session is not ours) ---
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # --- broadcast: dims in a star schema should always broadcast ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- joins: allow shuffled-hash when a per-partition build fits
        # (guide §3.1: often faster than sort-merge, spills are AQE's
        # problem); the AQE threshold also lets a planned sort-merge
        # flip to shuffled-hash at runtime from MEASURED sizes — both
        # size-guarded, so the 100 TB fallback remains sort-merge ---
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # --- codegen class cache (round 18, guide §5 driver/executor
        # work): the default 100-entry cache thrashes once a session
        # runs more than ~100 distinct WholeStageCodegen fragments —
        # this engine's 223-query registry recompiles EVERY fragment on
        # EVERY re-run (measured: 26.5 -> 20.0 s on a 30-query
        # min-of-3 sweep just from raising it). Scale-independent: any
        # long-lived driver or executor running a workload this wide
        # hits the same thrash; ~4k compiled classes is well within a
        # multi-GB JVM. Static conf, so it must be set at build time.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # --- Arrow for every pandas/py boundary (UDFs, toPandas) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep the UI off in test/bench loops; it costs startup time
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master.startswith("local"):
        # --- stream checkpoints on a local disk: rename(2) is atomic
        # there, so the FileSystem-based manager is as safe as the
        # FileContext default. The default asks RawLocalFs for each
        # file's link status, and without native-hadoop (pyspark wheels
        # ship none) every such call forks a `readlink` process: ~24
        # per micro-batch across offsets, commits, source logs and
        # state stores. A cluster master keeps the FileContext
        # default, whose atomic overwrite-rename HDFS state stores
        # rely on. ---
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    return builder.getOrCreate()
