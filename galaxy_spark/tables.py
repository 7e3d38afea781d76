"""Test-data table loaders.

Tables are the driver-generated TPC-H-ish star schema plus
``events``/``documents``/``embeddings`` (TESTDATA.md). Loading goes
through ``spark.read.parquet`` so Catalyst gets pushdown + pruning
for free; nothing here materializes or caches — each query's plan
decides what to read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    if name == "events":
        # events.ts has shipped as TIMESTAMP(NANOS) (which Spark only
        # reads via nanosAsLong) and as TIMESTAMP(MICROS); support
        # both so a testdata regeneration can't break every query.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if isinstance(df.schema["ts"].dataType, LongType):
            # ns epoch as long: integer div — float division loses
            # precision at ns-epoch scale (DuckDB's ns->us truncation)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # micros parquet arrives as TIMESTAMP_NTZ; session tz is
            # UTC, so casting to LTZ preserves values and keeps the
            # schema identical to the ns-era loader.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
