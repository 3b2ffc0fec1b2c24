"""Division tables — column-grouping metadata (SURVEY §1.1, §2.2 P17).

Parity: the reference stores a per-clinical-table mapping
``divisionName -> array<string>`` of column names
(``studyGrScalaA.scala:178-184`` → Delta ``studyGroupDivisions``) and reads it
back with ``getColNamesOfDivisions`` (``utils.scala:75-79``) by collecting to
the driver and flattening WrappedArrays. Here the lookup stays distributed:
filter → explode → distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from azure_medicine_data_engineering_spark.sources.readers import from_rows

DIVISION_SCHEMA = StructType(
    [
        StructField("divisionName", StringType()),
        StructField("listOfColumnNames", ArrayType(StringType())),
    ]
)


def division_table(
    spark: SparkSession, divisions: list[tuple[str, list[str]]]
) -> DataFrame:
    """Build a division metadata frame from (name, columns) pairs."""
    return from_rows(spark, divisions, DIVISION_SCHEMA)


def get_columns_of_divisions_df(div: DataFrame, names: list[str]) -> DataFrame:
    """Distinct column names covered by the named divisions — distributed
    (explode replaces the reference's collect-and-flatten)."""
    return (
        div.where(F.col("divisionName").isin(names))
        .select(F.explode("listOfColumnNames").alias("columnName"))
        .distinct()
    )


def get_columns_of_divisions(div: DataFrame, names: list[str]) -> list[str]:
    """Driver-side convenience (the metadata frame is tiny by construction)."""
    return [r.columnName for r in get_columns_of_divisions_df(div, names).collect()]
