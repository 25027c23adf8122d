"""Parquet table catalog over a scale-factor directory.

The driver's testdata layout is `<sf_dir>/<table>.parquet`
(TESTDATA.md). At 100 TB each "file" becomes a partitioned dataset
directory; `spark.read.parquet` handles both transparently, and the
explicit column projection in callers keeps scans pruned
(ReadSchema shows only touched columns; filters push into parquet).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

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


# columns historically written as parquet TIMESTAMP(NANOS), which Spark
# has no native type for: read as long (legacy conf) and truncate ns → µs
# exactly like DuckDB/Arrow do, so oracle comparisons see identical
# values. Newer testdata drops write them as timestamp[us] NTZ directly —
# that case passes through untouched.
_NANO_TS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANO_TS_COLS.get(name, ()):
        field = df.schema[col]
        if isinstance(field.dataType, LongType):
            # TIMESTAMP_NTZ, not timestamp_micros() (LTZ): naive
            # semantics match DuckDB/parquet regardless of the session
            # timezone — an LTZ column shifts literal comparisons when
            # the driver's session isn't UTC.
            df = df.withColumn(
                col,
                F.expr(
                    f"timestampadd(MICROSECOND, `{col}` div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        elif not isinstance(field.dataType, (TimestampType, TimestampNTZType)):
            raise TypeError(f"{name}.{col}: unexpected type {field.dataType}")
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
