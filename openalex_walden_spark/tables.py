"""Test-table loading + view registration.

The driver provides TPC-H-ish parquet tables (TESTDATA.md):
region nation customer supplier part orders lineitem events documents
embeddings. Loading goes through ``spark.read.parquet`` so Catalyst gets
predicate pushdown + column pruning on the scan for free.

Each file's schema is inferred once per process. Inference launches a
one-task footer-reading job ("parquet at <unknown>:0") on every
``spark.read.parquet`` that is not given a schema; a catalog store or a
Delta log records the schema instead, so the reads of the reference
never pay for it. ``_SCHEMAS`` keeps the first inferred schema of each
file, keyed by its identity ``(path, st_mtime_ns, st_size)``. Later
reads pass it to ``spark.read.schema``, which plans without a job. A
rewritten file gets a new key, so it is inferred again. Every read still
builds a fresh relation with fresh exprIds, so self-joins resolve
exactly as with inference.

``events.parquet`` needs special handling: its ``ts`` column is physical
INT64 TIMESTAMP(NANOS), which stock Spark 4.x rejects with
``PARQUET_TYPE_ILLEGAL``. ``load_table`` sets
``spark.sql.legacy.parquet.nanosAsLong=true`` (raw nanos as BIGINT)
before it reads any table, so every schema is inferred under the same
conf, and ``events`` derives two portable columns:

- ``ts_us``  BIGINT      — microseconds since epoch (floor of nanos/1000;
  identical to DuckDB's nanos→TIMESTAMP truncation, so oracle queries can
  compare on ``epoch_us(ts)``).
- ``ts``     TIMESTAMP   — ``timestamp_micros(ts_us)`` for streaming /
  window use. Oracle-compared outputs should use ``ts_us`` arithmetic,
  never raw timestamps, to stay independent of session timezones.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    df = _read_parquet(spark, path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
            "ts", F.timestamp_micros(F.col("ts_us"))
        )
    else:
        # Fixture ships TIMESTAMP(MICROS) (TIMESTAMP_NTZ in Spark 4):
        # unix_micros() rejects NTZ input, so cast to (session-local)
        # TIMESTAMP first.  The session timezone is pinned to UTC
        # (session.py), making the NTZ→LTZ cast an identity and the result
        # byte-identical to DuckDB's epoch_us(ts).
        # Also normalize ``ts`` itself to TIMESTAMP so downstream consumers
        # (withWatermark rejects NTZ) see the same type the nanos branch
        # produced via timestamp_micros().
        df = df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "ts_us", F.unix_micros(F.col("ts"))
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Set before the first read of any table, so a schema inferred before
    # ``events`` is never inferred again.  The conf stays enabled: it only
    # affects nanosecond-precision parquet columns (which Spark would
    # otherwise refuse to read at all), and a lazy DataFrame must still
    # see it at execution time.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return _read_parquet(spark, path)


def register_views(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] | None = None,
) -> dict[str, DataFrame]:
    """Register the requested test tables as temp views.

    Registration is per-query (callers pass only the tables they read) so a
    broken/missing fixture can never take down unrelated queries, and no
    needless scan metadata is touched — the catalog equivalent of partition
    pruning.
    """
    dfs: dict[str, DataFrame] = {}
    for name in tables if tables is not None else TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
