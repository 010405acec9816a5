"""Metadata catalog: every published table registered with a description.

Parity: ``createTablesWithMeta`` — ``utils.scala:162-171``. The reference
appends by reading the whole catalog, unioning one row, and overwriting the
same table — a read-modify-overwrite race (SURVEY §7 bug list). Here each
registration is one parameterized SQL ``INSERT`` of one row, which writes
one data file. Named parameters carry the table name and description, so
any description (quotes, ``;``) is stored byte-exact.

Catalog shape (FIXTURES.md T6)::

    tableName:        string
    tableDescription: string
    time_stamp:       timestamp
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from azure_medicine_data_engineering_spark.sources.writers import save_table, table_format

META_SCHEMA = StructType(
    [
        StructField("tableName", StringType()),
        StructField("tableDescription", StringType()),
        StructField("time_stamp", TimestampType()),
    ]
)

_META_DDL = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in META_SCHEMA.fields)

DEFAULT_CATALOG_TABLE = "analytics_catalog_metadata"


def create_table_with_meta(
    df: DataFrame,
    name: str,
    description: str,
    catalog_table: str = DEFAULT_CATALOG_TABLE,
    partition_by: list[str] | None = None,
) -> None:
    """Publish ``df`` as a managed table and register it in the catalog.

    Unlike the reference (``utils.scala:164-168``), the catalog row is
    appended atomically instead of read-union-overwrite: the catalog table
    is created on first use (in ``save_table``'s format) and each call
    inserts exactly one row."""
    spark = df.sparkSession
    fmt = table_format(df)
    save_table(df, name, fmt=fmt, partition_by=partition_by)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS IDENTIFIER(:t) ({_META_DDL}) USING {fmt}",
        args={"t": catalog_table},
    )
    spark.sql(
        "INSERT INTO IDENTIFIER(:t) (tableName, tableDescription, time_stamp) "
        "SELECT :n, :d, current_timestamp()",
        args={"t": catalog_table, "n": name, "d": description},
    )


def read_meta(spark: SparkSession, catalog_table: str = DEFAULT_CATALOG_TABLE) -> DataFrame:
    """Latest registration per table name (dedup over append history)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("tableName").orderBy(F.col("time_stamp").desc())
    return (
        spark.read.table(catalog_table)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
