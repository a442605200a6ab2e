"""Testdata table access.

The driver testdata (TESTDATA.md / FIXTURES.md §1) is a directory of parquet
files, one per table.  ``load`` is the single entry point — explicit name
allowlist, no schema inference surprises; it returns the table as a
DataFrame and registers no view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
