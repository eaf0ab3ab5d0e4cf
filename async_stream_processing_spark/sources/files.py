"""Uniform batch readers for the lake formats.

The reference has no file sources at all (its examples inline data --
SURVEY §2 checklist); a complete engine reads the standard formats with the
same event-relation convention.  Parquet is the primary (predicate pushdown
+ column pruning); CSV/JSON exist for ingest edges and always declare an
explicit schema -- schema inference is a full extra pass at 100 TB and is
deliberately not exposed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .parquet import load_table  # re-export: the primary reader

__all__ = ["load_table", "read_csv", "read_json"]


def read_csv(
    spark: SparkSession, path: str, schema: str, header: bool = True, **options
) -> DataFrame:
    return spark.read.options(header=header, **options).schema(schema).csv(path)


def read_json(spark: SparkSession, path: str, schema: str, **options) -> DataFrame:
    return spark.read.options(**options).schema(schema).json(path)
