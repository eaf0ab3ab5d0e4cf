"""Parquet sources: the engine's "past stream" reader.

The reference's past segment is any iterable of ``(datetime, value)``
(``processor.py:171,187-189``); ours is a parquet scan.  The driver's test
parquet stores timestamps as INT64 TIMESTAMP(NANOS), which Spark refuses to
read natively -- we read nanos as longs
(``spark.sql.legacy.parquet.nanosAsLong``, set in session.py) and convert to
microsecond timestamps exactly as DuckDB does when it loads the same files,
so oracle comparisons stay bit-identical.

Column pruning and predicate pushdown are preserved: the conversion is a
projection on top of the scan, so Catalyst still pushes filters on other
columns down to parquet.
"""

from __future__ import annotations

from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@lru_cache(maxsize=256)
def _nano_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as timestamp[ns] in the parquet footer."""
    schema = pq.read_schema(path)
    return tuple(
        name
        for name, typ in zip(schema.names, schema.types)
        if str(typ).startswith("timestamp[ns")
    )


def _repair_timestamps(df: DataFrame, path: str) -> DataFrame:
    """The one timestamp type for a read of ``path``: its nanos columns
    (read as longs) become microsecond TIMESTAMPs, and its NTZ columns
    TIMESTAMPs."""
    for col in _nano_ts_columns(path):
        # integer ns -> us narrowing (DuckDB truncates the same way);
        # MUST be integer DIV -- double division loses ULPs at 1e18.
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    # micros-precision columns come back TIMESTAMP_NTZ (isAdjustedToUTC =
    # false); normalize to TIMESTAMP -- under the UTC session the wall
    # values are identical, and the engine speaks one timestamp type.
    for field in df.schema.fields:
        if field.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``{sf_dir}/{name}.parquet`` with ns-timestamp repair."""
    path = f"{sf_dir}/{name}.parquet"
    # Runtime-set so the engine also works under a caller-provided session
    # (e.g. the driver's) that lacks the config.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _repair_timestamps(spark.read.parquet(path), path)


def stream_table(spark: SparkSession, sf_dir: str, name: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming twin of :func:`load_table`: same parquet, same ns/NTZ
    timestamp repair, as a file-source streaming DataFrame."""
    path = f"{sf_dir}/{name}.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(path).schema
    # the driver tables are single FILES; the file streaming source wants a
    # directory, so stream the parent with a glob pinned to this table.
    reader = spark.readStream.schema(raw_schema).option(
        "pathGlobFilter", f"{name}.parquet"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _repair_timestamps(reader.parquet(sf_dir), path)
