"""Parquet sources for the driver testdata + generic readers.

Replaces the reference's ClickHouse scan path
(/root/reference/utils/data_acquisition.py:47-192): where the reference
string-builds SQL so the server evaluates predicates, we just read parquet
and let Catalyst push filters/projections into the scan (visible as
PushedFilters/ReadSchema in .explain). The LIMIT/OFFSET pagination loop
(data_acquisition.py:145-178) has no equivalent — partitioned parallel scan
gives bounded memory for free and removes the O(n²) server re-scan.

At 100 TB the same call works unchanged: parquet splits into
maxPartitionBytes-sized tasks; nothing here collects to the driver.
"""

from __future__ import annotations

import os
from collections import OrderedDict

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from querysight_spark.schemas import TESTDATA_TABLES
from querysight_spark.sources.dbt_catalog import local_frame

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Schema-inference memo (r15, VERDICT r14 ask #4): Spark re-reads parquet
# footers to infer the schema on EVERY spark.read.parquet() call (~0.1 s
# of driver latency per call on this host, any scale). The inferred
# StructType is pure METADATA, so it follows the r14 manifest-cache
# precedent: keyed on the source's identity (path + mtime_ns + size),
# never on path alone, plus the session setting that changes what is
# inferred (nanosAsLong turns TIMESTAMP(NANOS) into a long). No result or
# data row is ever cached. A single file is re-inferred the moment it is
# rewritten. A directory's mtime moves only when entries are added to or
# removed from the directory itself, so a write inside a nested partition
# directory (dir/p=1/part-*.parquet) keeps the old key and the old schema.
# Bounded, evicting the least recently used entry, to keep a long-lived
# session from accumulating entries.
_SCHEMA_CACHE: OrderedDict[tuple, object] = OrderedDict()
_SCHEMA_CACHE_MAX = 256
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _source_identity(path: str) -> tuple:
    st = os.stat(path)
    return (path, st.st_mtime_ns, st.st_size)


def read_parquet_known_schema(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that skips per-call footer-based
    schema inference after the first read of a given source identity.
    First read infers and memoizes; a rewrite of the file, a change to
    the directory's own entries, or a different nanosAsLong setting
    re-infers. Falls back to plain inference if the path cannot be
    stat'ed (e.g. globs)."""
    try:
        key = _source_identity(path) + (spark.conf.get(_NANOS_AS_LONG),)
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        if len(_SCHEMA_CACHE) > _SCHEMA_CACHE_MAX:
            _SCHEMA_CACHE.popitem(last=False)
        return df
    _SCHEMA_CACHE.move_to_end(key)
    return spark.read.schema(schema).parquet(path)


def _nano_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS). Spark's vectorized reader
    rejects that physical type; with spark.sql.legacy.parquet.nanosAsLong
    (set in session.get_spark) they surface as epoch-nano longs instead.
    One footer read on the driver — O(bytes of footer), scale-independent."""
    try:
        schema = pq.read_schema(path)
    except Exception:
        return []
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one testdata table. Plain parquet read — no schema option, so the
    vectorized reader uses the file footer schema; column pruning and filter
    pushdown happen in whatever plan the caller builds on top.

    The schema CONTRACT (pinned by ql22's oracle) is that timestamps
    surface as plain TimestampType, whatever the file stored:
    - TIMESTAMP(NANOS) (round-2 testdata): surfaces as an epoch-nano long
      under spark.sql.legacy.parquet.nanosAsLong; converted back via
      integer `div 1000` (float division would lose precision — epoch
      nanos ≈ 1.7e18 exceeds a double's 53-bit mantissa).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round-3 testdata): Spark
      infers TIMESTAMP_NTZ; cast to TimestampType, value-preserving
      because the session timezone is pinned to UTC (session.get_spark).
    Both detections are footer/schema driven, so either vintage of the
    data reads identically."""
    from pyspark.sql.types import TimestampNTZType

    path = os.path.join(sf_dir, f"{name}.parquet")
    df = read_parquet_known_schema(spark, path)
    for col in _nano_timestamp_columns(path):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in names}


# application id → sf_dir whose views are currently registered. Tracking the
# CURRENT dir (not a seen-set) keeps alternating sf_dirs correct: any switch
# re-registers, only true repeats skip.
_REGISTERED: dict[str, str] = {}


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, force: bool = False
) -> None:
    """Register every testdata table as a temp view so spark.sql(...) probes
    can reference them by name (mirrors the driver's DuckDB view set).

    Memoized: repeated probe invocations against the same sf_dir in one
    session skip the 10 footer reads + view registrations (~0.6 s each —
    more than half the warm runtime of a small probe query)."""
    app = spark.sparkContext.applicationId
    target = os.path.abspath(sf_dir)
    if not force and _REGISTERED.get(app) == target:
        return
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    _REGISTERED[app] = target


def get_table_schema(df: DataFrame) -> DataFrame:
    """A3 schema introspection (DESCRIBE TABLE analog,
    /root/reference/utils/data_acquisition.py:250-293): one row per column
    with name/type/nullable. The reference round-trips DESCRIBE to the
    server; here the schema is already on the driver — this just reshapes
    ``df.schema`` into a queryable DataFrame."""
    spark = df.sparkSession
    rows = [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]
    return local_frame(spark, rows, "col_name string, data_type string, nullable boolean")
