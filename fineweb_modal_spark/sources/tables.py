"""Parquet table registry over the driver-generated test corpora.

The reference reads a directory of shard files one-per-container
(chunker.py:55+176); in Spark the whole directory IS the table —
`spark.read.parquet(dir)` with split planning subsuming the per-file
fan-out (SURVEY.md §1.1). Here each table is a single parquet file
per scale factor (TESTDATA.md).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
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
]


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return spark.read.parquet(table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (mirrors the driver's DuckDB
    view registration, so spark.sql and oracle SQL see the same names)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
