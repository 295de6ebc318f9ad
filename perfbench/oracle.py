"""DuckDB answer oracle for the payroll service.

Replays the engine's load semantics over the generated CSVs in DuckDB, one
committed warehouse state at a time (state 0 = the full load, state k = after
incremental batch k), and answers every KPI request key at every state:

- dims: dept ids 1..N by sorted name at the full load; new depts get
  max(id) + rank by name. An employee takes the dept, grade and location of
  its earliest-month row in a batch; a later batch overwrites it.
- facts: a batch replaces (emp_id, month) rows it carries and adds the rest.
- CSV cells: dept trimmed, month cut to ``YYYY-MM``, malformed or empty
  measures become 0.

Answers mirror the HTTP surface: ``(status, body)`` with 404 for a missing
month on summary and by-dept, ``[]`` for anomalies of a missing month.
``matches`` compares a response with an expected answer within float
tolerance, accepting reorderings among anomaly rows whose |z| ties.
"""

from __future__ import annotations

import math

import duckdb

MEASURES = ["gross", "bonus", "overtime", "taxes", "deductions", "net", "fte", "hours_worked"]

Key = tuple  # ("summary", m) | ("by_dept", m) | ("delta", m1, m2) | ("anomalies", m, thr, lim, dept)


def _normalized(path: str) -> str:
    measures = ",\n".join(f"COALESCE(TRY_CAST({c} AS DOUBLE), 0) AS {c}" for c in MEASURES)
    return f"""
        SELECT emp_id, trim(dept) AS dept, job_grade, location,
               CAST(substr(month, 1, 7) || '-01' AS DATE) AS month,
               {measures}
        FROM read_csv('{path}', header = true, all_varchar = true)
    """


class Oracle:
    """Expected answers per committed state, computed up front."""

    def __init__(self, base_csv: str, batch_csvs: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.batch_csvs = list(batch_csvs)
        self.con.execute(f"CREATE TABLE src AS {_normalized(base_csv)}")
        self.con.execute(
            """
            CREATE TABLE dept AS
            SELECT CAST(row_number() OVER (ORDER BY dept) AS INTEGER) AS dept_id,
                   dept AS dept_name
            FROM (SELECT DISTINCT dept FROM src)
            """
        )
        self._load_employees()
        self.con.execute(
            "CREATE TABLE fact AS SELECT * EXCLUDE (dept, job_grade, location) FROM src"
        )
        self.state = 0

    def _load_employees(self) -> None:
        first = """
            SELECT s.emp_id, d.dept_id, s.job_grade, s.location
            FROM (SELECT * FROM src QUALIFY row_number() OVER
                  (PARTITION BY emp_id ORDER BY month) = 1) s
            JOIN dept d ON d.dept_name = s.dept
        """
        if self._has_table("emp"):
            self.con.execute(f"CREATE TEMP TABLE new_emp AS {first}")
            self.con.execute("DELETE FROM emp WHERE emp_id IN (SELECT emp_id FROM new_emp)")
            self.con.execute("INSERT INTO emp SELECT * FROM new_emp")
            self.con.execute("DROP TABLE new_emp")
        else:
            self.con.execute(f"CREATE TABLE emp AS {first}")

    def _has_table(self, table: str) -> bool:
        return bool(
            self.con.execute(
                "SELECT count(*) FROM information_schema.tables WHERE table_name = ?",
                [table],
            ).fetchone()[0]
        )

    def advance(self) -> None:
        """Apply the next incremental batch (state k -> k + 1)."""
        path = self.batch_csvs[self.state]
        self.con.execute("DROP TABLE src")
        self.con.execute(f"CREATE TABLE src AS {_normalized(path)}")
        self.con.execute(
            """
            INSERT INTO dept
            SELECT CAST((SELECT max(dept_id) FROM dept)
                        + row_number() OVER (ORDER BY dept) AS INTEGER), dept
            FROM (SELECT DISTINCT dept FROM src
                  WHERE dept NOT IN (SELECT dept_name FROM dept))
            """
        )
        self._load_employees()
        self.con.execute(
            "DELETE FROM fact USING src WHERE fact.emp_id = src.emp_id AND fact.month = src.month"
        )
        self.con.execute(
            "INSERT INTO fact SELECT * EXCLUDE (dept, job_grade, location) FROM src"
        )
        self.state += 1

    # -- state checks ------------------------------------------------------

    def table_counts(self) -> dict[str, int]:
        q = "SELECT (SELECT count(*) FROM dept), (SELECT count(*) FROM emp), (SELECT count(*) FROM fact)"
        d, e, f = self.con.execute(q).fetchone()
        return {"dim_dept": d, "dim_employee": e, "fact_payroll": f}

    def depts(self) -> list[list]:
        return [list(r) for r in self.con.execute("SELECT dept_id, dept_name FROM dept ORDER BY dept_id").fetchall()]

    def emp_depts(self) -> dict[str, int]:
        return dict(self.con.execute("SELECT emp_id, dept_id FROM emp").fetchall())

    def month_sums(self) -> dict[str, list]:
        rows = self.con.execute(
            "SELECT strftime(month, '%Y-%m'), count(*), sum(gross), sum(net) FROM fact GROUP BY 1"
        ).fetchall()
        return {m: [n, g, t] for m, n, g, t in rows}

    # -- KPI answers -------------------------------------------------------

    def answers(
        self, months: list[str], missing: list[str], anomaly_params: list[tuple]
    ) -> dict[Key, tuple[int, object]]:
        """Expected (status, body) for every key over ``months`` (present in
        this state or not) and ``missing`` (absent in every state).
        ``anomaly_params`` lists (threshold, limit, dept-or-None)."""
        out: dict[Key, tuple[int, object]] = {}
        wanted = sorted({*months, *(prev_month(m) for m in months)})
        self.con.execute("CREATE OR REPLACE TEMP TABLE wanted (m VARCHAR)")
        self.con.executemany("INSERT INTO wanted VALUES (?)", [[m] for m in wanted])
        summary, totals = {}, {}
        for r in self.con.execute(
            """
            SELECT strftime(month, '%Y-%m'), sum(gross + bonus + overtime), sum(taxes),
                   sum(gross), sum(net), sum(fte), count(DISTINCT emp_id),
                   sum(bonus), sum(overtime)
            FROM fact WHERE strftime(month, '%Y-%m') IN (SELECT m FROM wanted) GROUP BY 1
            """
        ).fetchall():
            m, fot, taxes, gross, net, fte, hc, bonus, ot = r
            summary[m] = {
                "month": m, "fot": fot, "taxes": taxes, "gross": gross, "net": net,
                "fte": fte, "headcount": hc,
                "tax_share": taxes / gross if gross else None,
                "avg_net_per_fte": net / fte if fte else None,
            }
            totals[m] = {"gross": gross, "bonus": bonus, "overtime": ot, "fot": fot}
        by_dept: dict[str, list[dict]] = {}
        for r in self.con.execute(
            """
            SELECT strftime(f.month, '%Y-%m'), d.dept_name, sum(gross + bonus + overtime),
                   sum(gross), sum(bonus), sum(overtime), sum(taxes), sum(net), sum(fte),
                   count(DISTINCT f.emp_id)
            FROM fact f JOIN emp e USING (emp_id) JOIN dept d USING (dept_id)
            WHERE strftime(f.month, '%Y-%m') IN (SELECT m FROM wanted)
            GROUP BY 1, 2 ORDER BY 1, 2
            """
        ).fetchall():
            m, dept, fot, gross, bonus, ot, taxes, net, fte, hc = r
            by_dept.setdefault(m, []).append(
                {"dept": dept, "fot": fot, "gross": gross, "bonus": bonus, "overtime": ot,
                 "taxes": taxes, "net": net, "fte": fte, "headcount": hc}
            )
        max_limit = max((p[1] for p in anomaly_params), default=0)
        ranked: dict[tuple, list[dict]] = {}
        for r in self.con.execute(
            f"""
            WITH j AS (
                SELECT strftime(f.month, '%Y-%m') AS m, f.emp_id, d.dept_name AS dept, f.net
                FROM fact f JOIN emp e USING (emp_id) JOIN dept d USING (dept_id)
                WHERE strftime(f.month, '%Y-%m') IN (SELECT m FROM wanted)),
            med AS (SELECT m, dept, quantile_cont(net, 0.5) AS median_net FROM j GROUP BY 1, 2),
            mad AS (SELECT j.m, j.dept, quantile_cont(abs(j.net - med.median_net), 0.5) AS mad
                    FROM j JOIN med USING (m, dept) GROUP BY 1, 2),
            z AS (SELECT j.*, median_net, mad,
                         0.6745 * (net - median_net) / nullif(mad, 0.0) AS z
                  FROM j JOIN med USING (m, dept) JOIN mad USING (m, dept)),
            r AS (SELECT *,
                    row_number() OVER (PARTITION BY m ORDER BY abs(coalesce(z, 0)) DESC, emp_id) AS rm,
                    row_number() OVER (PARTITION BY m, dept ORDER BY abs(coalesce(z, 0)) DESC, emp_id) AS rd
                  FROM z)
            SELECT m, dept, rm, rd, emp_id, net, median_net, mad, z FROM r
            WHERE rm <= {max_limit + 3} OR rd <= {max_limit + 3}
            ORDER BY m, rm
            """
        ).fetchall():
            m, dept, rm, rd, emp, net, med, mad, z = r
            row = {"emp_id": emp, "dept": dept, "net": net, "median_net": med, "mad": mad, "z": z}
            if rm <= max_limit + 3:
                ranked.setdefault((m, None), []).append(row)
            if rd <= max_limit + 3:
                ranked.setdefault((m, dept), []).append(row)
        # rows arrive by month rank, so each list is in (|z| desc, emp_id) order

        every = list(months) + list(missing)
        for m in every:
            s = summary.get(m)
            out[("summary", m)] = (200, s) if s else (404, None)
            b = by_dept.get(m)
            out[("by_dept", m)] = (200, b) if b else (404, None)
            for thr, lim, dept in anomaly_params:
                cands = ranked.get((m, dept), [])
                out[("anomalies", m, thr, lim, dept)] = (200, {"cands": cands, "thr": thr, "lim": lim})
        cols = ("gross", "bonus", "overtime", "fot")
        for m2 in every:  # company from the fact alone, depts full-outer-joined
            m1 = prev_month(m2)
            s1, s2 = totals.get(m1, {}), totals.get(m2, {})
            comp = {f"{c}_delta": s2.get(c, 0.0) - s1.get(c, 0.0) for c in cols}
            a = {r["dept"]: r for r in by_dept.get(m1, [])}
            b = {r["dept"]: r for r in by_dept.get(m2, [])}
            rows = [
                {"dept": d, **{f"{c}_delta": b.get(d, {}).get(c, 0.0) - a.get(d, {}).get(c, 0.0) for c in cols}}
                for d in sorted(set(a) | set(b))
            ]
            out[("delta", m1, m2)] = (200, {"company": comp, "by_dept": rows})
        return out


def prev_month(month: str) -> str:
    y, m = int(month[:4]), int(month[5:7])
    y, m = (y - 1, 12) if m == 1 else (y, m - 1)
    return f"{y:04d}-{m:02d}"


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


def _same_row(got: dict, exp: dict) -> bool:
    return set(got) == set(exp) and all(_close(got[k], exp[k]) for k in exp)


def _anomalies_match(got: list, exp: dict) -> bool:
    cands, thr, lim = exp["cands"], exp["thr"], exp["lim"]
    want = [r for r in cands[:lim] if r["z"] is None or abs(r["z"]) >= thr]
    if not isinstance(got, list) or len(got) != len(want):
        return False
    if all(_same_row(g, w) for g, w in zip(got, want)):
        return True
    # rows whose |z| ties may come back in another order (or swap across
    # the limit): every row must be a candidate, |z| values must agree
    by_id = {r["emp_id"]: r for r in cands}
    if not all(isinstance(g, dict) and g.get("emp_id") in by_id and _same_row(g, by_id[g["emp_id"]]) for g in got):
        return False
    za = sorted(abs(g["z"] or 0.0) for g in got)
    zb = sorted(abs(w["z"] or 0.0) for w in want)
    return all(_close(x, y) for x, y in zip(za, zb))


def matches(key: Key, status: int, body, expected: tuple[int, object]) -> bool:
    """True when an HTTP response (status, parsed JSON body) is the expected answer."""
    exp_status, exp_body = expected
    if status != exp_status:
        return False
    if status == 404:
        return True
    kind = key[0]
    if kind == "summary":
        return isinstance(body, dict) and _same_row(body, exp_body)
    if kind == "by_dept":
        return (
            isinstance(body, list)
            and len(body) == len(exp_body)
            and all(_same_row(g, w) for g, w in zip(body, exp_body))
        )
    if kind == "delta":
        return (
            isinstance(body, dict)
            and _same_row(body.get("company", {}), exp_body["company"])
            and len(body.get("by_dept", [])) == len(exp_body["by_dept"])
            and all(_same_row(g, w) for g, w in zip(body["by_dept"], exp_body["by_dept"]))
        )
    return _anomalies_match(body, exp_body)
