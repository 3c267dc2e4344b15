"""Batch readers.

Parquet is the engine's format (the corpus). Reads funnel through
catalog._normalize so physical quirks (ns timestamps) are fixed exactly
once, at the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from chronobase_spark.catalog import _normalize


def read_parquet(spark: SparkSession, path: str, table_name: str | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    return _normalize(table_name or "", df)
