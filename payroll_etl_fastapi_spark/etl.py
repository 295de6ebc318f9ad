"""End-to-end payroll load: CSV → normalized → star schema, one transaction per load.

Spark-first re-expression of the reference load (/root/reference/src/etl.py:14-77,
/root/reference/scripts/load_once.py) — same dept → employee → fact ordering, same
idempotent upsert semantics, but no staging tables (DataFrames are the staging
layer) and no sequences (deterministic row_number surrogate keys, SURVEY.md §1.4).

Physical design: fact_payroll is written partitioned by `month` — the Spark analog
of the reference's fact_payroll(month) B-tree index (/root/reference/src/models.py:41-45):
month-equality queries prune to a single partition directory instead of scanning.

Storage: each table is a TxTable (sources/txtable.py) and one TxCatalog pointer
pins a version of each, so every load publishes with a single catalog commit and
every catalog version is one consistent warehouse state. There is one warehouse
class; ``TxPayrollWarehouse`` is an alias for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from payroll_etl_fastapi_spark.operators.upsert import insert_if_absent, upsert
from payroll_etl_fastapi_spark.sources import csv_ingest
from payroll_etl_fastapi_spark.sources.txtable import TxCatalog

STAR_TABLES = ("dim_dept", "dim_employee", "fact_payroll")


class PayrollWarehouse:
    """A star-schema warehouse rooted at `root`: one TxTable per table and a
    TxCatalog pointer that pins one version of each.

    A load writes dept → employee → fact as new table versions and publishes
    all three with ONE ``TxCatalog.commit`` — the reference's single
    load transaction, without Postgres. A reader sees the whole load
    or none of it, and a load that dies before the commit leaves the last
    committed state. A load holds the catalog's staging mark
    (``TxCatalog.staging``) from its first read to its commit, so readers on
    any handle know the head is about to move.

    Within a load, ``read`` sees this load's own uncommitted table versions
    (read-your-writes, as inside the reference's transaction); otherwise it
    reads the catalog-pinned version. A reader that needs several tables from
    one state takes ``catalog.head()`` once and snapshots each pinned version
    (api.PayrollService does)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.catalog = TxCatalog(spark, root)
        self._pending: dict[str, int] = {}

    def _visible_version(self, table: str) -> int | None:
        """This load's transaction view: its OWN pending write if it made
        one, else the catalog-pinned version — never bare table-latest,
        which could belong to a previously ABORTED load (tables committed,
        catalog swap never reached) and would silently resurrect that
        load's data as the merge base."""
        if table in self._pending:
            return self._pending[table]
        return self.catalog.current().get(table)

    def exists(self, table: str) -> bool:
        return self._visible_version(table) is not None

    def read(self, table: str) -> DataFrame:
        v = self._visible_version(table)
        if v is None:
            raise FileNotFoundError(f"table {table!r} not committed in {self.root}")
        return self.catalog.table(table).snapshot(version=v)

    def _write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        sort_within: list[str] | None = None,
    ) -> None:
        """Write a new, uncommitted version of `table`.

        `sort_within` clusters rows inside each output file so parquet
        min/max row-group stats become selective on those columns — the
        engine's analog of the reference's secondary (emp_id, month) B-tree
        (/root/reference/src/models.py:46-50): a point predicate skips whole
        row groups instead of scanning the partition."""
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        self._pending[table] = self.catalog.table(table).overwrite(
            df, partition_by=partition_by
        )

    # -- load ---------------------------------------------------------------

    def load_csv(self, csv_path: str) -> dict[str, int]:
        """Idempotent load of one CSV batch (reference: load_once.py one-shot).

        Returns row counts per table, mirroring the reference's print-based
        verification (/root/reference/scripts/load_once.py:73-74).
        """
        with self.catalog.staging():
            raw = csv_ingest.read_payroll_csv(self.spark, csv_path)
            return self._transaction(csv_ingest.normalize(raw))

    def load_frames(self, normalized: DataFrame) -> dict[str, int]:
        """Load one normalized batch in one transaction; returns row counts
        per table as of the new committed state."""
        with self.catalog.staging():
            return self._transaction(normalized)

    def _transaction(self, normalized: DataFrame) -> dict[str, int]:
        """Stage the three tables and publish them; the caller holds the
        catalog's staging mark, so readers know the head is about to move."""
        try:
            counts = self._load_tables(normalized)
            # the single COMMIT: all three tables become visible atomically
            self.catalog.commit({**self.catalog.current(), **self._pending})
        finally:
            # a failed load must not leak its pending versions into the next
            # load's read view
            self._pending = {}
        return counts

    def _load_tables(self, normalized: DataFrame) -> dict[str, int]:
        # 1) dim_dept — sorted-name surrogate keys; incremental loads append new
        #    depts after max existing id (SERIAL append behavior, SURVEY §7.3).
        depts = csv_ingest.dept_rows(normalized)
        if self.exists("dim_dept"):
            # ON CONFLICT DO NOTHING + SERIAL append: existing ids are stable,
            # new depts get max(existing_id) + row_number(sorted new names).
            existing = self.read("dim_dept")
            new = depts.join(
                existing.select("dept_name"), on="dept_name", how="left_anti"
            )
            base_id = existing.agg(F.max("dept_id")).first()[0] or 0
            dim_dept = existing.unionByName(
                new.withColumn(
                    "dept_id",
                    (
                        F.row_number().over(Window.partitionBy().orderBy("dept_name"))
                        + F.lit(base_id)
                    ).cast("int"),
                ).select("dept_id", "dept_name")
            )
        else:
            dim_dept = depts.withColumn(
                "dept_id",
                F.row_number().over(Window.partitionBy().orderBy("dept_name")).cast("int"),
            ).select("dept_id", "dept_name")
        dim_dept = dim_dept.cache()
        self._write(dim_dept, "dim_dept")

        # 2) dim_employee — FK-resolve dept via broadcast join (reference joins
        #    stage→dim_dept on dept_name, /root/reference/src/etl.py:41), then
        #    type-1 upsert on emp_id.
        dim_dept_fresh = self.read("dim_dept")
        employees = (
            csv_ingest.employee_rows(normalized)
            .join(F.broadcast(dim_dept_fresh), F.col("dept") == F.col("dept_name"), "inner")
            .select("emp_id", "dept_id", "job_grade", "location")
        )
        if self.exists("dim_employee"):
            dim_emp = upsert(self.read("dim_employee"), employees, ["emp_id"])
        else:
            dim_emp = employees
        self._write(dim_emp, "dim_employee")

        # 3) fact — composite-key upsert on (emp_id, month). Only the months in
        #    the incoming batch are re-merged (partition pruning on read).
        facts = csv_ingest.fact_rows(normalized)
        if self.exists("fact_payroll"):
            months = [r[0] for r in facts.select("month").distinct().collect()]
            existing_fact = self.read("fact_payroll")
            touched = existing_fact.filter(F.col("month").isin(months))
            merged_fact = upsert(touched, facts, ["emp_id", "month"])
            fact_out = existing_fact.filter(~F.col("month").isin(months)).unionByName(
                merged_fact
            )
        else:
            fact_out = facts
        # align column order: partition column last is not required; keep schema
        # the partition column LEADS the sort: the dynamic-partition writer
        # requires month ordering and would otherwise insert its own sort,
        # silently discarding the emp_id clustering
        self._write(
            fact_out,
            "fact_payroll",
            partition_by=["month"],
            sort_within=["month", "emp_id"],
        )

        counts = {
            "dim_dept": self.read("dim_dept").count(),
            "dim_employee": self.read("dim_employee").count(),
            "fact_payroll": self.read("fact_payroll").count(),
        }
        dim_dept.unpersist()
        return counts


# the former transactional subclass's name; perfbench/ still imports it
TxPayrollWarehouse = PayrollWarehouse
