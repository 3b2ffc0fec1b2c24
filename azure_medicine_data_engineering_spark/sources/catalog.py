"""Metadata catalog: every published table registered with a description.

Parity: ``createTablesWithMeta`` — ``utils.scala:162-171``. The reference
appends by reading the whole catalog, unioning one row, and overwriting the
same table — a read-modify-overwrite race (SURVEY §7 bug list). Here the
append is a real ``mode("append")`` write.

Catalog shape (FIXTURES.md T6)::

    tableName:        string
    tableDescription: string
    time_stamp:       timestamp
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from azure_medicine_data_engineering_spark.sources.readers import from_rows
from azure_medicine_data_engineering_spark.sources.writers import save_table

META_SCHEMA = StructType(
    [
        StructField("tableName", StringType()),
        StructField("tableDescription", StringType()),
        StructField("time_stamp", TimestampType()),
    ]
)

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
    appended atomically instead of read-union-overwrite."""
    spark = df.sparkSession
    save_table(df, name, partition_by=partition_by)
    meta_row = (
        from_rows(spark, [(name, description)], "tableName string, tableDescription string")
        .withColumn("time_stamp", F.current_timestamp())
    )
    if spark.catalog.tableExists(catalog_table):
        meta_row.write.mode("append").format("parquet").saveAsTable(catalog_table)
    else:
        save_table(meta_row, catalog_table)


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
