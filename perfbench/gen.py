"""Seeded payroll input generator.

Writes a base CSV (the full load) and a sequence of incremental monthly
batches in the reference CSV layout (FIXTURES.md §1). The same seed and
sizes give byte-identical files.

Base file: ``n_emps`` employees over ``n_months`` contiguous months. Each
employee has one contiguous tenure run of 12 to ``n_months`` months: 40%
span every month, 30% join late and 30% leave early. About 5% of rows carry a whitespace-padded
dept, about 1% a month with a day suffix (``2024-03-15``, truncated by the
engine), and about 0.3% of measure cells are non-numeric or empty (coerced
to 0 by the engine).

Batch k adds month ``n_months + k``: one row per still-active employee
(about 2% leave each month), about 1% new hires, and corrected measures for
about 5% of the previous month's rows. Batch 1 also moves about 1% of the
employees to another dept and introduces a new dept, ``Research``; later
batches restate no dimension row. A transfer restates the employee's dept
for every month (type-1 dimension), so readers that pick up the fact table
and the dimensions at different commits would see a mix of two states;
keeping restatements out of the batches loaded while serving keeps every
answer equal to one committed state.

Run as a script to write the files for one seed::

    python3 perfbench/gen.py --seed 7 --out /tmp/payroll-inputs
"""

from __future__ import annotations

import argparse
import os
import random
from dataclasses import dataclass, field

DEPTS = ["Finance", "HR", "IT", "Logistics", "Production", "Sales"]
NEW_DEPT = "Research"
RESTATING_BATCH = 1  # the only batch with transfers and a new dept
GRADES = {"Junior": (600.0, 1200.0), "Middle": (1100.0, 2000.0), "Senior": (1800.0, 3080.0)}
LOCATIONS = ["HQ", "Plant", "Warehouse"]
HEADER = (
    "emp_id,dept,job_grade,fte,month,gross,bonus,overtime,taxes,deductions,"
    "net,hours_worked,location,currency\n"
)
FIRST_YEAR, FIRST_MONTH = 2023, 1


def month_name(index: int) -> str:
    """``YYYY-MM`` of the ``index``-th month (0 = the first base month)."""
    y, m = divmod(FIRST_MONTH - 1 + index, 12)
    return f"{FIRST_YEAR + y:04d}-{m + 1:02d}"


@dataclass
class Employee:
    emp_id: str
    dept: str
    grade: str
    fte: str
    location: str
    base_pay: float


@dataclass
class Inputs:
    """Paths and facts about one generated input set."""

    base_csv: str
    batch_csvs: list[str]
    months: list[str]  # base months, oldest first
    batch_months: list[str]  # month added by batch k at index k - 1
    base_rows: int
    batch_rows: list[int] = field(default_factory=list)


class _Gen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_id = 100000

    def employee(self, dept: str | None = None) -> Employee:
        r = self.rng
        grade = r.choice(list(GRADES))
        lo, hi = GRADES[grade]
        emp = Employee(
            emp_id=f"E{self.next_id}",
            dept=dept or r.choice(DEPTS),
            grade=grade,
            fte=f"{r.choice([1.0, 1.0, 1.0, 0.9, 0.8, 0.75]):.2f}",
            location=r.choice(LOCATIONS),
            base_pay=r.uniform(lo, hi),
        )
        self.next_id += 1
        return emp

    def _cell(self, value: float, digits: int) -> str:
        u = self.rng.random()
        if u < 0.0015:
            return "n/a"
        if u < 0.003:
            return ""
        return f"{value:.{digits}f}"

    def row(self, emp: Employee, month: str) -> str:
        r = self.rng
        gross = emp.base_pay * (1.0 + r.gauss(0.0, 0.03))
        bonus = 0.0 if r.random() < 0.6 else r.uniform(0.0, 1900.0)
        overtime = 0.0 if r.random() < 0.7 else r.uniform(0.0, 436.0)
        taxes = gross * r.uniform(0.21, 0.25)
        deductions = 0.0 if r.random() < 0.3 else r.uniform(0.0, 137.0)
        net = gross + bonus + overtime - taxes - deductions + r.gauss(0.0, 15.0)
        hours = r.uniform(94.0, 187.0)
        dept = emp.dept
        if r.random() < 0.05:
            dept = r.choice([f" {dept}", f"{dept}  ", f"  {dept} "])
        if r.random() < 0.01:
            month = f"{month}-15"
        cells = [
            emp.emp_id,
            dept,
            emp.grade,
            emp.fte,
            month,
            self._cell(gross, 2),
            self._cell(bonus, 2),
            self._cell(overtime, 2),
            self._cell(taxes, 2),
            self._cell(deductions, 2),
            self._cell(net, 2),
            self._cell(hours, 1),
            emp.location,
            "USD",
        ]
        return ",".join(cells) + "\n"


def generate(
    out_dir: str, seed: int, n_emps: int, n_months: int = 24, n_batches: int = 8
) -> Inputs:
    """Write ``base.csv`` and ``batch_01.csv``.. into ``out_dir``."""
    if n_months < 12:
        raise ValueError("n_months must be at least 12")
    os.makedirs(out_dir, exist_ok=True)
    g = _Gen(seed)
    r = g.rng
    months = [month_name(i) for i in range(n_months)]

    staff: list[tuple[Employee, int, int]] = []
    for _ in range(n_emps):
        # 40% stay the whole span, 30% join late, 30% leave early
        length = r.randint(12, n_months)
        u = r.random()
        start = 0 if u < 0.7 else n_months - length
        end = n_months - 1 if u < 0.4 or u >= 0.7 else length - 1
        staff.append((g.employee(), start, end))

    base_csv = os.path.join(out_dir, "base.csv")
    base_rows = 0
    last_rows: dict[str, tuple[Employee, str]] = {}
    with open(base_csv, "w", newline="") as fh:
        fh.write(HEADER)
        for mi, month in enumerate(months):
            for emp, start, end in staff:
                if start <= mi <= end:
                    fh.write(g.row(emp, month))
                    base_rows += 1
                    if mi == n_months - 1:
                        last_rows[emp.emp_id] = (emp, month)

    active = [emp for emp, _, end in staff if end == n_months - 1]
    inputs = Inputs(base_csv, [], months, [], base_rows)
    for k in range(1, n_batches + 1):
        month = month_name(n_months + k - 1)
        prev_rows = last_rows
        active = [e for e in active if r.random() >= 0.02]
        transfers = {e.emp_id for e in active if k == RESTATING_BATCH and r.random() < 0.01}
        if k == RESTATING_BATCH and not transfers and active:
            transfers = {r.choice(active).emp_id}  # tiny inputs still restate one
        for e in active:
            if e.emp_id in transfers:
                e.dept = r.choice([d for d in DEPTS if d != e.dept])
        hire_depts = DEPTS + [NEW_DEPT] if k >= RESTATING_BATCH else DEPTS
        for _ in range(max(1, len(active) // 100)):
            active.append(g.employee(r.choice(hire_depts)))
        if k == RESTATING_BATCH:
            active.append(g.employee(NEW_DEPT))
        corrected = [
            prev_rows[eid]
            for eid in sorted(prev_rows)
            if eid not in transfers and r.random() < 0.05
        ]
        path = os.path.join(out_dir, f"batch_{k:02d}.csv")
        rows = 0
        last_rows = {}
        with open(path, "w", newline="") as fh:
            fh.write(HEADER)
            for emp, prev_month in corrected:
                fh.write(g.row(emp, prev_month))
                rows += 1
            for emp in active:
                fh.write(g.row(emp, month))
                last_rows[emp.emp_id] = (emp, month)
                rows += 1
        inputs.batch_csvs.append(path)
        inputs.batch_months.append(month)
        inputs.batch_rows.append(rows)
    return inputs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--emps", type=int, default=4000)
    ap.add_argument("--months", type=int, default=24)
    ap.add_argument("--batches", type=int, default=8)
    a = ap.parse_args()
    inputs = generate(a.out, a.seed, a.emps, a.months, a.batches)
    print(f"{inputs.base_rows} base rows, batches {inputs.batch_rows} -> {a.out}")


if __name__ == "__main__":
    main()
