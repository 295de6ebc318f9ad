"""Fast tiny-scale self-check of the benchmark's own parts.

Run from the repository root::

    python3 perfbench/selfcheck.py

1. Generator determinism: the same seed writes byte-identical files, another
   seed writes different ones.
2. Oracle agreement: a few hundred generated rows are loaded into a
   ``PayrollWarehouse`` (full load, then two incremental batches, the first
   with transfers and a new dept); at every state the loaded tables and a
   sample of answers of every endpoint (first, last and a never-loaded month,
   anomalies with and without a dept filter) must equal the DuckDB oracle's.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import sys
import tempfile

import gen
from oracle import Oracle, matches, prev_month
from run import ANOMALY_PARAMS, MISSING_MONTH, tables_match


def check_determinism(tmp: str) -> list[str]:
    a = gen.generate(os.path.join(tmp, "a"), 5, 40, 12, 3)
    b = gen.generate(os.path.join(tmp, "b"), 5, 40, 12, 3)
    c = gen.generate(os.path.join(tmp, "c"), 6, 40, 12, 3)
    errors = []
    for pa, pb, pc in zip([a.base_csv, *a.batch_csvs], [b.base_csv, *b.batch_csvs], [c.base_csv, *c.batch_csvs]):
        if not filecmp.cmp(pa, pb, shallow=False):
            errors.append(f"same seed, different bytes: {os.path.basename(pa)}")
        if filecmp.cmp(pa, pc, shallow=False):
            errors.append(f"different seeds, same bytes: {os.path.basename(pa)}")
    return errors


def _call(service, key: tuple):
    """(status, JSON-decoded body) as the HTTP surface would return them."""
    from payroll_etl_fastapi_spark.api import NotFound

    kind, *args = key
    try:
        if kind == "anomalies":
            month, thr, lim, dept = args
            body = service.anomalies(month, threshold=thr, limit=lim, dept=dept)
        else:
            body = getattr(service, kind)(*args)
    except NotFound:
        return 404, None
    return 200, json.loads(json.dumps(body))


def check_oracle(tmp: str) -> tuple[list[str], int]:
    from pyspark.sql import functions as F

    from payroll_etl_fastapi_spark.api import PayrollService
    from payroll_etl_fastapi_spark.etl import PayrollWarehouse
    from payroll_etl_fastapi_spark.session import get_spark

    inputs = gen.generate(os.path.join(tmp, "in"), 11, 30, 12, 2)
    oracle = Oracle(inputs.base_csv, inputs.batch_csvs)
    spark = get_spark("perfbench-selfcheck")
    spark.sparkContext.setLogLevel("ERROR")
    wh = PayrollWarehouse(spark, os.path.join(tmp, "wh"))
    service = PayrollService(wh)
    errors, checked = [], 0
    try:
        for state, csv in enumerate([inputs.base_csv, *inputs.batch_csvs]):
            if state:
                oracle.advance()
            counts = wh.load_csv(csv)
            if counts != oracle.table_counts():
                errors.append(f"state {state}: counts {counts} != {oracle.table_counts()}")
            got = {
                "depts": [[r[0], r[1]] for r in wh.read("dim_dept").orderBy("dept_id").collect()],
                "emp_depts": {r[0]: r[1] for r in wh.read("dim_employee").collect()},
                "month_sums": {
                    r[0]: [r[1], r[2], r[3]]
                    for r in wh.read("fact_payroll")
                    .groupBy(F.date_format("month", "yyyy-MM"))
                    .agg(F.count("*"), F.sum("gross"), F.sum("net"))
                    .collect()
                },
            }
            want = {"depts": oracle.depts(), "emp_depts": oracle.emp_depts(), "month_sums": oracle.month_sums()}
            if not tables_match(got, want):
                errors.append(f"state {state}: tables differ from the oracle")
            months = inputs.months + inputs.batch_months[:state]
            answers = oracle.answers(months, [MISSING_MONTH], ANOMALY_PARAMS)
            keys = [("summary", months[-1]), ("summary", MISSING_MONTH), ("by_dept", months[-1])]
            keys += [("by_dept", months[0]), ("delta", prev_month(months[-1]), months[-1])]
            keys += [("delta", prev_month(months[0]), months[0])]
            keys += [("anomalies", m, *p) for m in (months[-1], MISSING_MONTH) for p in ANOMALY_PARAMS[::3]]
            for key in keys:
                status, body = _call(service, key)
                checked += 1
                if not matches(key, status, body, answers[key]):
                    errors.append(f"state {state}: {key} -> {status} {body!r:.300}")
    finally:
        spark.stop()
        oracle.con.close()
    return errors, checked


def main() -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "payroll_etl_fastapi_spark", "api.py")):
        print("run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selfcheck-", dir=work)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(tmp, "spark-local"))
    try:
        errors = check_determinism(tmp)
        print(f"generator determinism: {'ok' if not errors else 'FAILED'}")
        oracle_errors, checked = check_oracle(tmp)
        print(f"oracle vs engine: {checked} answers, {len(oracle_errors)} mismatches")
        errors += oracle_errors
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for e in errors:
        print(f"  {e}")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
