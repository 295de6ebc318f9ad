"""Catalog introspection — the engine analog of the reference's pg_indexes
scripts (/root/reference/scripts/show_indexes.py, show_indexes_dim_emp.py;
operator S15 in SURVEY.md §2.1).

Postgres answers "what physical access paths exist" from pg_indexes; the
Spark analogs are the catalog (tables/columns) plus the file-layout facts
that drive pruning: partition columns and per-file row-group statistics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from payroll_etl_fastapi_spark.sources.txtable import TxCatalog


def list_tables(spark: SparkSession) -> list[str]:
    return [t.name for t in spark.catalog.listTables()]


def describe_columns(spark: SparkSession, table: str) -> list[dict[str, str]]:
    """Column name/type/nullability for a registered table or view."""
    return [
        {"name": c.name, "dataType": c.dataType, "nullable": str(c.nullable)}
        for c in spark.catalog.listColumns(table)
    ]


def physical_layout(df: DataFrame) -> DataFrame:
    """Per-input-file row counts — the 'index' of a parquet table: which
    files exist and how rows distribute over them (partition pruning and
    row-group skipping operate on exactly this structure)."""
    return (
        df.withColumn("_file", F.input_file_name())
        .groupBy("_file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.element_at(F.split(F.col("_file"), "/"), -1).alias("file"),
            "n_rows",
        )
        .orderBy("file")
    )


def partition_values(warehouse_root: str, table: str, column: str) -> list[str]:
    """Hive-style partition values of a warehouse table's COMMITTED snapshot
    (the version the warehouse catalog pins) — what month-equality predicates
    prune against (the fact's month partitioning is the analog of the
    reference's fact_payroll(month) B-tree). [] before the table is committed."""
    cat = TxCatalog(None, warehouse_root)
    pinned = cat.current().get(table)
    if pinned is None:
        return []
    return cat.table(table).partition_values(column, pinned)
