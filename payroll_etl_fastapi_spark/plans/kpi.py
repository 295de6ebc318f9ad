"""The four reference KPI queries as pure DataFrame → DataFrame plans.

Reference SQL being re-expressed (semantics, not mechanism):
- summary:   /root/reference/src/api.py:21-44   (A1 multi-SUM, A2 count-distinct,
             P2 month filter, P12 driver-side ratios → in-engine columns)
- by_dept:   /root/reference/src/api.py:46-73   (J2/J3 dim joins, A3 grouped sums,
             O1 order by name)
- delta:     /root/reference/src/api.py:75-141  (A4 conditional-agg pivot, J5 full
             outer join, P5 coalesce, P13 in-engine deltas)
- anomalies: /root/reference/src/api.py:201-275 (the second, working definition —
             SURVEY.md §2.8.1; A5 exact median, A6 MAD, P6-P9 robust z, O2 top-K
             BEFORE O3 threshold filter, NULL-z rows kept)

`kpi_rows` is the one plan the service runs per committed warehouse version:
every fact row with its department, from which api.PayrollService answers all
four queries for every month (the four plans above stay their definition).

Plan-shape notes (verified via .explain):
- month equality filters hit the fact's month partitioning → partition pruning,
  the analog of the reference's fact_payroll(month) index.
- dim joins are broadcast (dims are tiny); no shuffle on the fact for by_dept
  until the final groupBy — which is a partial-agg (map-side combine) first.
- anomalies' top-K plans as TakeOrderedAndProject — no global sort at scale.
- exact `percentile` (== Postgres percentile_cont, linear interpolation) is used,
  never percentile_approx: correctness gate is exact (SURVEY.md §7.3 hard part 1).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _month_lit(month: str) -> dt.date:
    """P1 — the reference's month CTE ((:m || '-01')::date) constant-folded in
    the driver before Catalyst ever sees it (/root/reference/src/api.py:25)."""
    return dt.date(int(month[:4]), int(month[5:7]), 1)


def _fot() -> F.Column:
    """FOT (fund of labor payment) = gross + bonus + overtime — computed per
    query, never stored (/root/reference/src/api.py:27,55,103-104)."""
    return F.col("gross") + F.col("bonus") + F.col("overtime")


def kpi_summary(fact: DataFrame, month: str) -> DataFrame:
    """Company-wide totals for one month; one row (may hold nulls → API 404).

    tax_share / avg_net_per_fte are computed in-engine: Spark's divide returns
    null on zero/null denominator, matching the reference's `if row["x"] else
    None` guard (/root/reference/src/api.py:41-42).
    """
    m = _month_lit(month)
    agg = (
        fact.filter(F.col("month") == F.lit(m))
        .agg(
            F.sum(_fot()).alias("fot"),
            F.sum("taxes").alias("taxes"),
            F.sum("gross").alias("gross"),
            F.sum("net").alias("net"),
            F.sum("fte").alias("fte"),
            F.countDistinct("emp_id").alias("headcount"),
        )
    )
    return agg.select(
        F.lit(month).alias("month"),
        "fot",
        "taxes",
        "gross",
        "net",
        "fte",
        "headcount",
        F.when(F.col("gross") != 0, F.col("taxes") / F.col("gross")).alias("tax_share"),
        F.when(F.col("fte") != 0, F.col("net") / F.col("fte")).alias("avg_net_per_fte"),
    )


def _joined(fact: DataFrame, dim_employee: DataFrame, dim_dept: DataFrame) -> DataFrame:
    """fact ⋈ dim_employee ⋈ dim_dept — both dims broadcast (J2+J3)."""
    return fact.join(F.broadcast(dim_employee), "emp_id", "inner").join(
        F.broadcast(dim_dept), "dept_id", "inner"
    )


def kpi_rows(fact: DataFrame, dim_employee: DataFrame, dim_dept: DataFrame) -> DataFrame:
    """Every fact row with its department: fact ⟕ dim_employee ⟕ dim_dept,
    both dims broadcast, projected to what the four queries read, with
    `month` as `YYYY-MM`. `dept` is null where the inner join of the other
    plans would drop the row, so the rows answer every query for every
    month: `summary` and the company delta from all rows, the per-dept
    queries from the rows with a dept (api.PayrollService collects this once
    per committed version)."""
    return (
        fact.join(F.broadcast(dim_employee.select("emp_id", "dept_id")), "emp_id", "left")
        .join(F.broadcast(dim_dept), "dept_id", "left")
        .select(
            F.date_format("month", "yyyy-MM").alias("month"),
            "emp_id",
            F.col("dept_name").alias("dept"),
            "gross",
            "bonus",
            "overtime",
            "taxes",
            "net",
            "fte",
        )
    )


def kpi_by_dept(
    fact: DataFrame, dim_employee: DataFrame, dim_dept: DataFrame, month: str
) -> DataFrame:
    """Per-department rollup for one month (/root/reference/src/api.py:46-73).
    The department column is `dept` — the reference aliases dept_name AS dept
    in the JSON shape (/root/reference/src/api.py:49)."""
    m = _month_lit(month)
    return (
        _joined(fact.filter(F.col("month") == F.lit(m)), dim_employee, dim_dept)
        .groupBy(F.col("dept_name").alias("dept"))
        .agg(
            F.sum(_fot()).alias("fot"),
            F.sum("gross").alias("gross"),
            F.sum("bonus").alias("bonus"),
            F.sum("overtime").alias("overtime"),
            F.sum("taxes").alias("taxes"),
            F.sum("net").alias("net"),
            F.sum("fte").alias("fte"),
            F.countDistinct("emp_id").alias("headcount"),
        )
        .orderBy("dept")
    )


def kpi_delta(
    fact: DataFrame,
    dim_employee: DataFrame,
    dim_dept: DataFrame,
    m1: str,
    m2: str,
) -> tuple[DataFrame, DataFrame]:
    """Month-over-month delta: (company one-row, per-dept rows).

    Per-dept: two per-month aggregates FULL OUTER joined on dept with COALESCE
    on both sides — a dept present in only one month still appears
    (/root/reference/src/api.py:92-106, SURVEY.md §2.8.6).
    Company: conditional-aggregation pivot over both months in ONE scan
    (/root/reference/src/api.py:109-131) — missing month contributes 0.
    """
    d1, d2 = _month_lit(m1), _month_lit(m2)
    base = _joined(
        fact.filter(F.col("month").isin([d1, d2])), dim_employee, dim_dept
    )

    def per_month(d: dt.date) -> DataFrame:
        # `dept`, not dept_name — the reference's JSON shape
        # (/root/reference/src/api.py:80,99 alias dept_name AS dept)
        return (
            base.filter(F.col("month") == F.lit(d))
            .groupBy(F.col("dept_name").alias("dept"))
            .agg(
                F.sum("gross").alias("gross"),
                F.sum("bonus").alias("bonus"),
                F.sum("overtime").alias("overtime"),
                F.sum(_fot()).alias("fot"),
            )
        )
    a, b = per_month(d1), per_month(d2)
    a = a.select([F.col(c).alias(f"a_{c}") if c != "dept" else F.col(c) for c in a.columns])
    b = b.select([F.col(c).alias(f"b_{c}") if c != "dept" else F.col(c) for c in b.columns])
    z = F.lit(0.0)
    by_dept = (
        a.join(b, "dept", "full_outer")
        .select(
            "dept",
            (F.coalesce("b_gross", z) - F.coalesce("a_gross", z)).alias("gross_delta"),
            (F.coalesce("b_bonus", z) - F.coalesce("a_bonus", z)).alias("bonus_delta"),
            (F.coalesce("b_overtime", z) - F.coalesce("a_overtime", z)).alias("overtime_delta"),
            (F.coalesce("b_fot", z) - F.coalesce("a_fot", z)).alias("fot_delta"),
        )
        .orderBy("dept")
    )

    def msum(d: dt.date, c) -> F.Column:
        return F.sum(F.when(F.col("month") == F.lit(d), c).otherwise(z))

    company = fact.filter(F.col("month").isin([d1, d2])).agg(
        (msum(d2, F.col("gross")) - msum(d1, F.col("gross"))).alias("gross_delta"),
        (msum(d2, F.col("bonus")) - msum(d1, F.col("bonus"))).alias("bonus_delta"),
        (msum(d2, F.col("overtime")) - msum(d1, F.col("overtime"))).alias("overtime_delta"),
        (msum(d2, _fot()) - msum(d1, _fot())).alias("fot_delta"),
    )
    return company, by_dept


def kpi_anomalies(
    fact: DataFrame,
    dim_employee: DataFrame,
    dim_dept: DataFrame,
    month: str,
    threshold: float = 3.5,
    limit: int = 50,
    dept: str | None = None,
    median_fn=None,
) -> DataFrame:
    """MAD robust z-score anomaly detection, top-K then threshold.

    Reference order of operations is load-bearing (SURVEY.md §2.8.2-3): the SQL
    takes top-`limit` by |COALESCE(z,0)| DESC, and only afterwards the driver
    filters |z| < threshold, KEEPING rows with z = NULL (MAD = 0 departments).

    `median_fn(col_name) -> Column` defaults to the exact percentile (the
    correctness gate); operators/approx.py passes a sketch median for the
    100 TB variant — same plan, one expression swapped.
    """
    if median_fn is None:
        median_fn = lambda c: F.expr(f"percentile({c}, 0.5)")  # noqa: E731
    m = _month_lit(month)
    data = _joined(
        fact.filter(F.col("month") == F.lit(m)), dim_employee, dim_dept
    ).select("emp_id", F.col("dept_name").alias("dept"), "net")
    if dept is not None:
        data = data.filter(F.col("dept") == F.lit(dept))

    med = data.groupBy("dept").agg(median_fn("net").alias("median_net"))
    dev = data.join(F.broadcast(med), "dept").withColumn(
        "abs_dev", F.abs(F.col("net") - F.col("median_net"))
    )
    mad = dev.groupBy("dept").agg(median_fn("abs_dev").alias("mad"))

    scored = (
        data.join(F.broadcast(med), "dept")
        .join(F.broadcast(mad), "dept")
        .withColumn(
            "z",
            F.lit(0.6745)
            * (F.col("net") - F.col("median_net"))
            / F.nullif(F.col("mad"), F.lit(0.0)),
        )
    )
    topk = scored.orderBy(
        F.abs(F.coalesce(F.col("z"), F.lit(0.0))).desc_nulls_last(), F.col("emp_id")
    ).limit(limit)
    return topk.filter(
        F.col("z").isNull() | (F.abs(F.col("z")) >= F.lit(float(threshold)))
    ).select("emp_id", "dept", "net", "median_net", "mad", "z")
