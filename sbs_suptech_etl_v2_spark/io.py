"""Parquet table readers for the driver test tables (TESTDATA.md).

At 100 TB these reads become partitioned-lake scans; everything here is
a plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown,
column pruning, and partition pruning (SURVEY §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session-scoped catalog cache: ``spark.read.parquet`` re-reads the
# footer (schema discovery) through py4j on EVERY call — measured
# ~0.2-0.3 s of pure driver-side latency per query build when a query
# touches 2-4 tables. A real warehouse caches table metadata in its
# catalog; this is that catalog for the path-addressed test lake.
# It is one dict per session, kept on the session object, keyed by
# (path, file mtime): a DataFrame is bound to the session that read it,
# so a ``newSession()`` must read its own (its configuration and its
# ``spark.sql`` parameter views are its own), and a rewritten file
# never serves a stale plan. A module-level map, even a weak one, would
# keep every session alive through its cached DataFrames; on the
# session, the cache goes when the session does.
_CACHE_ATTR = "_sbs_table_cache"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table as a DataFrame (catalog-cached per session).

    ``events.parquet`` carries TIMESTAMP(NANOS). Depending on the Spark
    build, the scan either rejects it unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set (ts arrives as a
    nanosecond ``long``) or reads it natively as ``timestamp_ntz``
    (micro-truncated). Branch on the schema actually read so both
    behaviors land on the same micro-truncated TIMESTAMP_NTZ column —
    the truncation DuckDB applies, so oracle comparisons stay exact.
    The conf set is an idempotent fallback for driver-built vanilla
    sessions (the driver harness constructs its own SparkSession).
    """
    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    cache = spark.__dict__.setdefault(_CACHE_ATTR, {})
    cached = cache.get((path, mtime))
    if cached is not None:
        return cached
    if name == "events":
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(path)
    cache[(path, mtime)] = df
    return df


def spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to ``defaultParallelism`` partitions before a
    CPU-heavy stage (Python kernel, interpreted HOF chain,
    external-call fan-out).

    The test parquet files are single-row-group, so Spark's scan yields
    ONE partition per file and everything downstream of the scan runs on
    one core unless a shuffle intervenes. The shuffled frame is the
    narrow kernel input (ids + text / vectors), never wide intermediate
    state.

    The repartition is unconditional. Deciding whether the input is
    already wide needs its partition count, and
    ``df.rdd.getNumPartitions()`` plans the frame and, under AQE,
    executes every upstream query stage as jobs the caller never asked
    for (on a listing-scan batch, the listing's sorts). The trade:
    an input that already arrives at least ``defaultParallelism`` wide
    (a many-row-group lake scan, a ``createDataFrame`` at the core
    count) pays one round-robin exchange of the kernel input it did not
    need.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def load(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Read several tables at once: ``li, ords = load(spark, d, "lineitem", "orders")``."""
    return tuple(table(spark, sf_dir, n) for n in names)
