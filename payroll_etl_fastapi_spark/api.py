"""Service layer: the reference's five HTTP endpoints over the Spark engine.

Mirrors /root/reference/src/api.py routes, parameters, status codes and
response shapes: /health, /kpi/summary, /kpi/by-dept, /kpi/delta,
/kpi/anomalies (the second, working definition — SURVEY.md §2.8.1).

One derivation per version: every answer is a pure function of one committed
warehouse state. A request reads the catalog's head (``TxCatalog.head``) once.
The first request to touch a version runs one Spark plan for it,
``kpi.kpi_rows`` (the fact left-joined to both dimensions, broadcast), and
collects it once through Arrow; ``_Answers`` then indexes those rows:

- per-month sums of the fact alone (``summary``, the company delta);
- per-(month, dept) sums over the rows with a dept (``by_dept``, the dept
  delta);
- per-(month, dept) median net, MAD and robust z, the rows ranked as the
  anomalies query ranks them (|z| desc, emp_id), one list per month and one
  per (month, dept), each cut at ``LIMIT_MAX``. The dept filter commutes
  with the per-dept median and MAD, and threshold and limit apply after the
  ranking, so any request is a slice of one list.

Every later request on that version is dict lookups plus a slice of at most
``limit`` rows: no Spark job. Concurrent first touches share one derivation;
a failed derivation is not kept, so the next request runs it again. Only the
newest version's answers are kept, and nothing else is cached: a commit makes
a new version, which the next request derives. A load committing mid-request
cannot tear an answer, and no request reads through a loader's uncommitted
view, even when the service and the loader share one ``PayrollWarehouse``
handle. The plans in plans/kpi.py stay the definition of each answer (the
tests check the service against them at every committed state).

`PayrollService` is framework-free so the engine can be driven from tests or
notebooks; `create_app()` wires it into FastAPI when that package is
available (it is not baked into this container — import-gated, same thin
shell either way).
"""

from __future__ import annotations

import logging
import math
import re
import threading
from concurrent.futures import Future
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame

from payroll_etl_fastapi_spark.etl import PayrollWarehouse
from payroll_etl_fastapi_spark.plans import kpi
from payroll_etl_fastapi_spark.sources.txtable import TxCatalog

log = logging.getLogger(__name__)

LIMIT_MAX = 500  # largest `limit` /kpi/anomalies accepts

_MONTH = re.compile(r"(?!0000)[0-9]{4}-(0[1-9]|1[0-2])")
_SUMS = ("fot", "gross", "bonus", "overtime", "taxes", "net", "fte")  # by_dept's key order
_DELTAS = ("gross", "bonus", "overtime", "fot")
_SCORES = ("emp_id", "dept", "net", "median_net", "mad", "z")


class NotFound(Exception):
    """Maps to HTTP 404 — reference raises HTTPException(404)."""


class InvalidParam(ValueError):
    """Maps to HTTP 422 (FastAPI's validation status): a query parameter is
    missing or outside its domain. The message is the parameter's name."""


def _month(name: str, value: Any) -> str:
    """`YYYY-MM` with a month of 01–12 — the shape the plans turn into a date."""
    if not isinstance(value, str) or not _MONTH.fullmatch(value):
        raise InvalidParam(name)
    return value


def _limit(value: Any) -> int:
    if not isinstance(value, int) or not 1 <= value <= LIMIT_MAX:
        raise InvalidParam("limit")
    return value


def _threshold(value: Any) -> float:
    if not isinstance(value, (int, float)) or not math.isfinite(value):
        raise InvalidParam("threshold")
    return float(value)


def _ratio(a: float | None, b: float | None) -> float | None:
    """a / b, null on a null operand or a zero denominator (the plans'
    `when(b != 0, a / b)`)."""
    return a / b if a is not None and b else None


def _records(frame: pd.DataFrame, columns: tuple[str, ...]) -> list[tuple]:
    """The rows of ``frame[columns]`` as tuples of Python values, NaN (a
    null collected through Arrow) as None."""
    cols = [frame[c].astype(object).where(frame[c].notna(), None).tolist() for c in columns]
    return list(zip(*cols))


def _sums(rows: pd.DataFrame, by: list[str]) -> dict[Any, dict[str, Any]]:
    """group -> {measure sums, headcount}. A sum over only nulls is None, as
    SQL SUM; headcount is COUNT(DISTINCT emp_id), since a base CSV can
    repeat an (emp_id, month)."""
    g = rows.groupby(by, sort=False)
    out = g[list(_SUMS)].sum(min_count=1)
    out["headcount"] = g["emp_id"].nunique()
    fields = tuple(out.columns)
    return {key: dict(zip(fields, row)) for key, row in zip(out.index, _records(out, fields))}


def _ranked(scored: pd.DataFrame, by: list[str]) -> dict[tuple, list[tuple]]:
    """group -> its scored rows in the anomalies query's order (|z| desc,
    emp_id), cut at ``LIMIT_MAX`` rows."""
    top = (
        scored.sort_values([*by, "rank", "emp_id"], ascending=[*(True for _ in by), False, True])
        .groupby(by, sort=False)
        .head(LIMIT_MAX)
    )
    ranked: dict[tuple, list[tuple]] = {}
    for key, row in zip(zip(*(top[c].tolist() for c in by)), _records(top, _SCORES)):
        ranked.setdefault(key, []).append(row)
    return ranked


class _Answers:
    """Every answer one committed warehouse state can give, indexed from
    its ``kpi.kpi_rows`` (collected once)."""

    def __init__(self, rows: pd.DataFrame):
        rows = rows.assign(fot=rows["gross"] + rows["bonus"] + rows["overtime"])
        self.months = _sums(rows, ["month"])
        joined = rows[rows["dept"].notna()]
        self.depts: dict[str, dict[str, dict[str, Any]]] = {}
        for (month, dept), sums in _sums(joined, ["month", "dept"]).items():
            self.depts.setdefault(month, {})[dept] = sums

        cell = [joined["month"], joined["dept"]]
        median = joined.groupby(cell)["net"].transform("median")
        mad = (joined["net"] - median).abs().groupby(cell).transform("median")
        z = 0.6745 * (joined["net"] - median) / mad.where(mad != 0.0)
        scored = joined[["month", "emp_id", "dept", "net"]].assign(
            median_net=median, mad=mad, z=z, rank=z.fillna(0.0).abs()
        )
        # (month, None): every dept's rows; (month, dept): one dept's
        self.ranked = {(m, None): r for (m,), r in _ranked(scored, ["month"]).items()}
        self.ranked.update(_ranked(scored, ["month", "dept"]))


class _Version:
    """One committed catalog version and, once derived, its answers."""

    def __init__(self, catalog: TxCatalog, number: int, pinned: dict[str, int]):
        self.number = number
        self._catalog = catalog
        self._pinned = pinned
        self._lock = threading.Lock()
        self._derivation: Future | None = None

    def _table(self, name: str) -> DataFrame:
        if name not in self._pinned:
            raise FileNotFoundError(f"table {name!r} not committed in {self._catalog.root}")
        return self._catalog.table(name).snapshot(self._pinned[name])

    def answers(self) -> _Answers:
        """The version's answers, derived by the first request that asks.
        Requests that ask meanwhile wait for that derivation and share its
        result or its error; a failed derivation is dropped, so the next
        request runs it again."""
        with self._lock:
            derivation, owner = self._derivation, self._derivation is None
            if owner:
                derivation = self._derivation = Future()
        if owner:
            try:
                fact, emp, dept = (self._table(t) for t in ("fact_payroll", "dim_employee", "dim_dept"))
                derivation.set_result(_Answers(kpi.kpi_rows(fact, emp, dept).toPandas()))
            except BaseException as e:
                with self._lock:
                    self._derivation = None
                derivation.set_exception(e)
        return derivation.result()


class PayrollService:
    """The five reference endpoints as plain methods returning JSON-able data."""

    def __init__(self, warehouse: PayrollWarehouse):
        self.wh = warehouse
        self._lock = threading.Lock()  # guards _version
        self._version: _Version | None = None

    def _answers(self) -> _Answers:
        """The answers of the newest committed version, its head read once
        for the request. A request whose head is older than the slot's
        version is answered from the slot: that version was committed while
        the request ran."""
        number, pinned = self.wh.catalog.head()
        with self._lock:
            if self._version is None or number > self._version.number:
                self._version = _Version(self.wh.catalog, number, pinned)
            version = self._version
        return version.answers()

    def health(self) -> dict[str, str]:
        return {"status": "ok"}

    def summary(self, month: str) -> dict[str, Any]:
        """404 keys on SUM(gross) IS NULL, not on row absence — an all-null
        month with rows still 404s (/root/reference/src/api.py:39-40)."""
        month = _month("month", month)
        s = self._answers().months.get(month)
        if s is None or s["gross"] is None:
            raise NotFound("No data for month")
        return {
            "month": month,
            **{c: s[c] for c in ("fot", "taxes", "gross", "net", "fte", "headcount")},
            "tax_share": _ratio(s["taxes"], s["gross"]),
            "avg_net_per_fte": _ratio(s["net"], s["fte"]),
        }

    def by_dept(self, month: str) -> list[dict[str, Any]]:
        month = _month("month", month)
        depts = self._answers().depts.get(month)
        if not depts:
            raise NotFound("No data for month")
        return [{"dept": d, **depts[d]} for d in sorted(depts)]

    def delta(self, m1: str, m2: str) -> dict[str, Any]:
        m1, m2 = _month("m1", m1), _month("m2", m2)
        answers = self._answers()

        def diff(a: dict, b: dict) -> dict[str, float]:
            return {f"{c}_delta": (b.get(c) or 0.0) - (a.get(c) or 0.0) for c in _DELTAS}

        a, b = answers.depts.get(m1, {}), answers.depts.get(m2, {})
        return {
            "company": diff(answers.months.get(m1, {}), answers.months.get(m2, {})),
            "by_dept": [{"dept": d, **diff(a.get(d, {}), b.get(d, {}))} for d in sorted(a.keys() | b.keys())],
        }

    def anomalies(
        self,
        month: str,
        threshold: float = 3.5,
        limit: int = 10,
        dept: str | None = None,
    ) -> list[dict[str, Any]]:
        month, threshold, limit = _month("month", month), _threshold(threshold), _limit(limit)
        ranked = self._answers().ranked.get((month, dept), [])
        # top-`limit` first, then the threshold, keeping null-z rows
        return [
            dict(zip(_SCORES, row))
            for row in ranked[:limit]
            if row[-1] is None or abs(row[-1]) >= threshold
        ]


def serve_http(service: PayrollService, host: str = "127.0.0.1", port: int = 0):
    """Stdlib HTTP shell: the same five routes over ``http.server`` — a real
    socket server usable (and testable) where fastapi isn't installed.

    Semantics mirror the reference app (/root/reference/src/api.py): JSON
    bodies, 404 via NotFound, 422 on missing or invalid query params
    (FastAPI's validation status), 404 for unknown paths. Any other error is
    logged and answered with a 500 and a JSON ``detail``. Returns the started
    ``ThreadingHTTPServer`` (already bound; call ``serve_forever`` yourself or
    from a thread, ``shutdown()`` to stop) so tests control its lifecycle."""
    import json
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    def _one(params: dict, name: str, cast=str, default=...):
        vals = params.get(name)
        if not vals:
            if default is not ...:
                return default
            raise InvalidParam(name)
        try:
            return cast(vals[0])
        except (TypeError, ValueError):
            raise InvalidParam(name)

    routes = {
        "/health": lambda p: service.health(),
        "/kpi/summary": lambda p: service.summary(_one(p, "month")),
        "/kpi/by-dept": lambda p: service.by_dept(_one(p, "month")),
        "/kpi/delta": lambda p: service.delta(_one(p, "m1"), _one(p, "m2")),
        "/kpi/anomalies": lambda p: service.anomalies(
            _one(p, "month"),
            threshold=_one(p, "threshold", float, 3.5),
            limit=_one(p, "limit", int, 10),
            dept=_one(p, "dept", str, None),
        ),
    }

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # keep test output clean
            pass

        def do_GET(self):  # noqa: N802 (http.server API)
            url = urlparse(self.path)
            handler = routes.get(url.path)
            if handler is None:
                return self._send(404, {"detail": "Not Found"})
            try:
                body = handler(parse_qs(url.query))
            except NotFound as e:
                return self._send(404, {"detail": str(e)})
            except InvalidParam as e:
                return self._send(422, {"detail": f"invalid or missing query param: {e}"})
            except Exception:  # an engine fault: answer it, never drop the connection
                log.exception("GET %s failed", self.path)
                return self._send(500, {"detail": "Internal Server Error"})
            self._send(200, body)

        def _send(self, status: int, payload) -> None:
            data = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

    return ThreadingHTTPServer((host, port), Handler)


def create_app(service: PayrollService):
    """FastAPI wiring (reference route signatures); requires fastapi installed."""
    from fastapi import FastAPI, HTTPException

    app = FastAPI(title="payroll-etl-fastapi-spark")

    def guard(fn, *args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except NotFound as e:
            raise HTTPException(status_code=404, detail=str(e))
        except InvalidParam as e:
            raise HTTPException(status_code=422, detail=f"invalid query param: {e}")

    @app.get("/health")
    def health():
        return service.health()

    @app.get("/kpi/summary")
    def summary(month: str):
        return guard(service.summary, month)

    @app.get("/kpi/by-dept")
    def by_dept(month: str):
        return guard(service.by_dept, month)

    @app.get("/kpi/delta")
    def delta(m1: str, m2: str):
        return guard(service.delta, m1, m2)

    @app.get("/kpi/anomalies")
    def anomalies(month: str, threshold: float = 3.5, limit: int = 10, dept: str | None = None):
        return guard(service.anomalies, month, threshold, limit, dept)

    return app
