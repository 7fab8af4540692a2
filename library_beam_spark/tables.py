"""Test-data catalog: load the driver's parquet tables and register views.

The driver's synthetic star schema (TESTDATA.md) is the oracle-checked
surface; every relational operator in the registry reads through here so
scans stay plain ``spark.read.parquet`` (full pushdown/pruning support).
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


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One table as a DataFrame. Plain parquet scan — keep it this way so
    Catalyst pushes filters/projections into the FileScan.

    events.parquet stores ts as parquet TIMESTAMP(NANOS); Spark has no
    nanosecond timestamp type, so we read nanos-as-long (legacy conf) and
    truncate to microseconds. The synthetic data is µs-precision, so the
    truncation is lossless.
    """
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # timestamp_micros yields a session-tz timestamp; pin UTC so
            # date_trunc/year/window results match DuckDB's naive values
            # regardless of the caller session's timezone
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-first operators can be
    written as ``spark.sql(...)`` — same names the DuckDB oracle uses."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
