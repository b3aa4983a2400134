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
#    fanned ``documents`` handle (its split probe is a full analysis + RDD
#    conversion, ~30-80 ms), the persisted token index and k-means
#    vectors, and the k-means centroids. At most _CORPUS_CACHE_MAX corpora
#    stay cached, evicted FIFO as a whole. Parquet regenerated under a
#    loaded sf_dir within one application needs
#    ``invalidate_table_cache(sf_dir)``.
_CORPUS_CACHE_MAX = 4
_TABLE_CACHE: dict[tuple[str, str, str], Any] = {}


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


def fanned_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``documents`` handle spread over at least one partition per core,
    for the per-row Python and tokenize kernels that consume it (decode
    gates, the token index, shingling, winnowing). Callers select their
    columns on it; Catalyst prunes them below the exchange.

    Test-scale parquet arrives as a single file split, which would run the
    kernel on one core (measured: winnowing 3.5 s → 0.9 s at sf0.1 after
    fanning out). A scan that already has as many splits as cores is
    returned as is, so at production scale this adds no shuffle."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        sc = spark.sparkContext
        if docs.rdd.getNumPartitions() < sc.defaultParallelism:
            return docs.repartition(sc.defaultParallelism)
        return docs

    return corpus_cached(spark, sf_dir, "documents_fanned", build)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-form queries can run."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
