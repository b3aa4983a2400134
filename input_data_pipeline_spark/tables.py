"""Star-schema + text/embedding table loaders.

All engine queries consume these loaders rather than calling
``spark.read.parquet`` directly, so scan-level decisions (schema pruning,
partition sizing, future bucketing) live in one place.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any scale factor we target.
# At 100 TB, region/nation stay tiny; customer/supplier/part grow with SF but
# remain orders of magnitude under the fact tables — we still let AQE decide
# for them rather than forcing a hint, and hard-broadcast only the fixed-size
# geography dims.
BROADCAST_DIMS = frozenset({"region", "nation"})


# DataFrame-HANDLE cache (round 17): spark.read.parquet + the dtype
# normalization below cost ~50-80 ms of driver-side analysis per call,
# and a bench/driver session calls load_table thousands of times over
# the same handful of paths. Caching the lazy DataFrame caches ONLY the
# plan — no data is persisted, every action still scans the parquet —
# so it is planning-overhead removal, not result caching.
#
# IMMUTABLE-TESTDATA ASSUMPTION (round 18, ADVICE): the cached handle
# captures the resolved schema and file listing at first load. If the
# parquet under the same sf_dir is REGENERATED within one Spark
# application, the cached handle would serve stale files/schema
# silently — a writer that regenerates data in-session must call
# ``invalidate_table_cache(sf_dir)`` (or with no args to drop
# everything) before re-reading.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}
# fan_out's scan-partition probe forces a full analysis + RDD
# conversion per call (~30-80 ms driver-side); the answer is a constant
# of the cached handle's file listing, so memoize it per handle id.
_NPART_CACHE: dict[int, int] = {}


def invalidate_table_cache(sf_dir: str | None = None) -> None:
    """Drop cached table handles (all apps) for ``sf_dir``, or every
    cached handle when ``sf_dir`` is None. Required after regenerating
    parquet under a previously loaded directory within one session."""
    if sf_dir is None:
        _TABLE_CACHE.clear()
    else:
        for key in [k for k in _TABLE_CACHE if k[1] == sf_dir]:
            del _TABLE_CACHE[key]
    _NPART_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    # Timestamp encodings have drifted across testdata generations (nanos,
    # plain-us-no-tz, us-UTC). Normalize EVERY load so each timestamp column
    # resolves to a session-tz TIMESTAMP regardless of parquet metadata or
    # which table was loaded first in the session:
    #  - nanos: read as raw longs, truncate to us — byte-identical to how
    #    DuckDB (us-precision) reads the same file;
    #  - us without tz metadata: Spark 4's inferTimestampNTZ default would
    #    yield TIMESTAMP_NTZ, which unix_micros() rejects at analysis time —
    #    disable the inference and defensively cast any NTZ column that
    #    still appears. The cast is the identity on instants because every
    #    registry query pins session tz to UTC (plans/registry.py).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure a frame entering an expensive per-row kernel (Arrow mapInPandas
    etc.) has at least one partition per core.

    Small test-scale parquet arrives as a SINGLE file split, which would
    serialize the kernel on one core of 32 (measured: winnowing 3.5 s →
    0.9 s at sf0.1 after fanning out). At production scale the scan already
    has ≥ cores splits and this is a no-op — the repartition only fires on
    degenerate inputs, so the shuffle it adds is bounded by tiny-input
    cases by construction.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _scan_partitions(df) < target:
        return df.repartition(target)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """Materialize a multi-consumer intermediate with a lazy
    ``localCheckpoint``. Project ``df`` to the consumed columns first:
    the checkpoint must sit on a narrow projection.

    ``persist`` is deliberately not used: it registers the plan in
    Spark's CacheManager, so a later build of the same query would
    silently reuse the cached rows. ``localCheckpoint`` stays run-local,
    and every fresh query build recomputes from parquet."""
    return df.localCheckpoint(eager=False)


def _scan_partitions(df: DataFrame) -> int:
    """Memoized ``df.rdd.getNumPartitions()`` (round 18, guide §5 driver
    work): the probe forces a full analysis + physical-plan + RDD
    conversion on the driver per call, but its answer is a constant of
    the frame's file listing — for the cached ``load_table`` handles one
    probe per session suffices. Keyed by object id with a weakref
    finalizer so a collected frame can never serve a stale id."""
    import weakref

    key = id(df)
    n = _NPART_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _NPART_CACHE[key] = n
        weakref.finalize(df, _NPART_CACHE.pop, key, None)
    return n


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-form queries can run."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
