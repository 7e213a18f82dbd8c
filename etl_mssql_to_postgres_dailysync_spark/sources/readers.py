"""Source readers — S1-S3 (SURVEY.md §2.1).

The reference's extract is a parameterized SQL executed inside MSSQL with a
5000-row chunked iterator (dags/mssql_to_postgresql_orders_daily.py:199-208).
Spark-native form: a JDBC read with the predicate attached so
Catalyst pushes it into the source, and partitioned-read options replacing
hand chunking. No driver-side row loops anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    *,
    header: bool = True,
    quote: str = '"',
    sep: str = ",",
    timestamp_format: str | None = None,
) -> DataFrame:
    """S3 — CSV scan with the reference's dialect (header, double-quote,
    comma — csv_to_mssqldb.py:210). Schema explicit whenever known: inference
    is an extra full pass and unstable on dirty data."""
    reader = spark.read.option("header", header).option("quote", quote).option("sep", sep)
    if timestamp_format is not None:
        reader = reader.option("timestampFormat", timestamp_format).option(
            "timestampNTZFormat", timestamp_format
        )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "false")  # all strings -> coercion layer
    return reader.csv(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    predicate: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: str | int | None = None,
    upper_bound: str | int | None = None,
    fetchsize: int = 5000,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S1/S2 — JDBC scan with in-source predicate + parallel partitioned read.

    ``predicate`` lands in the pushed-down query (the reference's
    WHERE-inside-MSSQL, dags/…_orders_daily.py:199); ``partition_column`` +
    bounds replace the 5000-row chunk loop with ``num_partitions`` parallel
    range scans; ``fetchsize`` keeps the reference's cursor batch size.

    Untested in this environment (no live database; gate at call sites) but
    the option surface is the standard public Spark JDBC one.
    """
    dbtable = f"(SELECT * FROM {table} WHERE {predicate}) AS src" if predicate else table
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", dbtable)
        .option("fetchsize", str(fetchsize))
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()

