"""Star-schema + text/embedding table loaders and the session cache.

All engine queries consume these loaders rather than calling
``spark.read.parquet`` directly, so scan-level decisions (schema pruning,
partition sizing) and per-corpus caching live in one place.
"""

from __future__ import annotations

from typing import Any, Callable

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

# Caching policy: a frame has one of two lifetimes.
#  - Query-local: an intermediate that several legs of one query build
#    consume is ``localCheckpoint(eager=False)``-ed on a narrow projection
#    of the consumed columns (after SplitDF, VLDB 2024). Not ``persist``:
#    that registers the plan in Spark's CacheManager, so a later build of
#    the same query would silently reuse the cached rows.
#  - Session-shared: a pure function of one corpus directory is built once
#    by ``corpus_cached`` into ``_TABLE_CACHE``, keyed (applicationId,
#    sf_dir, name): the table handles (plans only; the read plus the dtype
#    normalization cost ~50-80 ms of driver analysis per call), the
#    persisted token index and k-means vectors, and the k-means centroids.
#    At most _CORPUS_CACHE_MAX corpora stay cached, evicted FIFO as a
#    whole. Parquet regenerated under a loaded sf_dir within one
#    application needs ``invalidate_table_cache(sf_dir)``.
_CORPUS_CACHE_MAX = 4
_TABLE_CACHE: dict[tuple[str, str, str], Any] = {}
# fan_out's scan-partition probe forces a full analysis + RDD
# conversion per call (~30-80 ms driver-side); the answer is a constant
# of the cached handle's file listing, so memoize it per handle id.
_NPART_CACHE: dict[int, int] = {}


def _drop(key: tuple[str, str, str]) -> None:
    value = _TABLE_CACHE.pop(key)
    # a stopped application's blocks went with it (unpersist would raise)
    if getattr(value, "is_cached", False) and value._sc._jsc is not None:
        value.unpersist()


def corpus_cached(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], Any]
) -> Any:
    """``build()`` once per (application, ``sf_dir``, ``name``), then the
    cached value. A new corpus beyond _CORPUS_CACHE_MAX first evicts
    every entry of the oldest cached corpus."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    value = build()
    corpora = list(dict.fromkeys(k[:2] for k in _TABLE_CACHE))
    if key[:2] not in corpora and len(corpora) >= _CORPUS_CACHE_MAX:
        for k in [k for k in _TABLE_CACHE if k[:2] == corpora[0]]:
            _drop(k)
    _TABLE_CACHE[key] = value
    return value


def invalidate_table_cache(sf_dir: str | None = None) -> None:
    """Drop every cached entry (all apps) for ``sf_dir``, or every entry
    when ``sf_dir`` is None, unpersisting the persisted frames among
    them. Required after regenerating parquet under a previously loaded
    directory within one session."""
    for key in [k for k in _TABLE_CACHE if sf_dir in (None, k[1])]:
        _drop(key)
    _NPART_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    return corpus_cached(spark, sf_dir, name, lambda: _read(spark, sf_dir, name))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
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
