"""Service layer: the reference's five HTTP endpoints over the Spark engine.

Mirrors /root/reference/src/api.py routes, parameters, status codes and
response shapes: /health, /kpi/summary, /kpi/by-dept, /kpi/delta,
/kpi/anomalies (the second, working definition — SURVEY.md §2.8.1). The
engine work is all in plans/kpi.py; this layer only collects (KPI results are
intrinsically small — ≤ #depts or ≤ limit rows) and serializes.

One version per request: a request reads the warehouse catalog's head
(``TxCatalog.head``) once and answers from that committed state alone, so a
load committing mid-request cannot tear its answer. It never reads through a
loader's uncommitted view, even when the service and the loader share one
``PayrollWarehouse`` handle. The three tables of the newest version are
resolved lazily, once per version, and shared by its requests (``summary``
never touches the dimensions).

Per-version memo: each endpoint's answer — or its 404 — is kept in a bounded
LRU keyed by (catalog version, endpoint, validated params). A commit makes a
new version and so new keys: a memoized answer is exactly as fresh as a
recomputed one, and a repeated request costs no Spark job. Parameters are
validated before the lookup (``InvalidParam``, HTTP 422), which also bounds
the key space. While a load is in flight (the catalog's staging mark,
``TxCatalog.is_staging``) requests bypass the memo: they answer at the head
as before but neither read nor fill it. A memo built for a head that is
about to be replaced serves only until the commit, and under back-to-back
loads its near-free hits come in bursts sized by when each commit lands, so
read throughput during a month close would swing with commit timing.
Between loads, and when serving a warehouse nobody writes, repeats are
answered from the memo.

`PayrollService` is framework-free so the engine can be driven from tests or
notebooks; `create_app()` wires it into FastAPI when that package is
available (it is not baked into this container — import-gated, same thin
shell either way).
"""

from __future__ import annotations

import copy
import logging
import math
import re
import threading
from collections import OrderedDict
from typing import Any, Callable

from pyspark.sql import DataFrame, Row

from payroll_etl_fastapi_spark.etl import PayrollWarehouse
from payroll_etl_fastapi_spark.plans import kpi
from payroll_etl_fastapi_spark.sources.txtable import TxCatalog

log = logging.getLogger(__name__)

MEMO_SIZE = 512  # answers kept, over all versions; one version's working set is a few hundred keys
LIMIT_MAX = 500  # largest `limit` /kpi/anomalies accepts

_MONTH = re.compile(r"(?!0000)[0-9]{4}-(0[1-9]|1[0-2])")


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


def _floats(d: dict[str, Any]) -> dict[str, Any]:
    """Decimal→float edge coercion analog (/root/reference/src/api.py:256-257);
    DoubleType makes this a near-no-op but keeps the JSON shape identical."""
    return {
        k: (float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) and k not in ("headcount",) else v)
        for k, v in d.items()
    }


class _Version:
    """One committed catalog version: its number and its tables, each
    resolved to a DataFrame on first use and then shared."""

    def __init__(self, catalog: TxCatalog, number: int, pinned: dict[str, int]):
        self.number = number
        self._catalog = catalog
        self._pinned = pinned
        self._frames: dict[str, DataFrame] = {}
        self._lock = threading.Lock()

    def table(self, name: str) -> DataFrame:
        with self._lock:
            if name not in self._frames:
                if name not in self._pinned:
                    raise FileNotFoundError(f"table {name!r} not committed in {self._catalog.root}")
                self._frames[name] = self._catalog.table(name).snapshot(self._pinned[name])
            return self._frames[name]

    def star(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        return self.table("fact_payroll"), self.table("dim_employee"), self.table("dim_dept")


class PayrollService:
    """The five reference endpoints as plain methods returning JSON-able data."""

    def __init__(self, warehouse: PayrollWarehouse):
        self.wh = warehouse
        self._lock = threading.Lock()  # guards _version and _memo
        self._version: _Version | None = None
        # (catalog version, endpoint, *params) -> (answer, None) or (None, 404 detail)
        self._memo: OrderedDict[tuple, tuple[Any, str | None]] = OrderedDict()

    def _head(self) -> _Version:
        """The newest committed version, read once for the request."""
        number, pinned = self.wh.catalog.head()
        with self._lock:
            if self._version is None or self._version.number != number:
                self._version = _Version(self.wh.catalog, number, pinned)
            return self._version

    def _answer(self, key: tuple, compute: Callable[[_Version], Any]) -> Any:
        """``compute``'s answer at the request's version, memoized per
        version unless a load is staging. A 404 is memoized like an answer.
        Each caller gets its own copy, so a caller that mutates it cannot
        corrupt the memo."""
        version = self._head()
        if self.wh.catalog.is_staging():
            return compute(version)
        mkey = (version.number, *key)
        with self._lock:
            hit = self._memo.get(mkey)
            if hit is not None:
                self._memo.move_to_end(mkey)
        if hit is None:
            try:
                hit = (compute(version), None)
            except NotFound as e:
                hit = (None, str(e))
            with self._lock:
                self._memo[mkey] = hit
                while len(self._memo) > MEMO_SIZE:
                    self._memo.popitem(last=False)
        answer, missing = hit
        if missing is not None:
            raise NotFound(missing)
        return copy.deepcopy(answer)

    def health(self) -> dict[str, str]:
        return {"status": "ok"}

    def summary(self, month: str) -> dict[str, Any]:
        """404 keys on SUM(gross) IS NULL, not on row absence — an all-null
        month with rows still 404s (/root/reference/src/api.py:39-40)."""
        month = _month("month", month)

        def compute(ver: _Version) -> dict[str, Any]:
            row: Row = kpi.kpi_summary(ver.table("fact_payroll"), month).first()
            if row is None or row["gross"] is None:
                raise NotFound("No data for month")
            return _floats(row.asDict())

        return self._answer(("summary", month), compute)

    def by_dept(self, month: str) -> list[dict[str, Any]]:
        month = _month("month", month)

        def compute(ver: _Version) -> list[dict[str, Any]]:
            rows = kpi.kpi_by_dept(*ver.star(), month).collect()
            if not rows:
                raise NotFound("No data for month")
            return [_floats(r.asDict()) for r in rows]

        return self._answer(("by_dept", month), compute)

    def delta(self, m1: str, m2: str) -> dict[str, Any]:
        m1, m2 = _month("m1", m1), _month("m2", m2)

        def compute(ver: _Version) -> dict[str, Any]:
            company_df, by_dept_df = kpi.kpi_delta(*ver.star(), m1, m2)
            comp = company_df.first().asDict()
            return {
                "company": {k: float(v or 0) for k, v in comp.items()},
                "by_dept": [_floats(r.asDict()) for r in by_dept_df.collect()],
            }

        return self._answer(("delta", m1, m2), compute)

    def anomalies(
        self,
        month: str,
        threshold: float = 3.5,
        limit: int = 10,
        dept: str | None = None,
    ) -> list[dict[str, Any]]:
        month, threshold, limit = _month("month", month), _threshold(threshold), _limit(limit)

        def compute(ver: _Version) -> list[dict[str, Any]]:
            rows = kpi.kpi_anomalies(*ver.star(), month, threshold, limit, dept).collect()
            return [
                {
                    "emp_id": r["emp_id"],
                    "dept": r["dept"],
                    "net": float(r["net"]) if r["net"] is not None else None,
                    "median_net": float(r["median_net"]) if r["median_net"] is not None else None,
                    "mad": float(r["mad"]) if r["mad"] is not None else None,
                    "z": float(r["z"]) if r["z"] is not None else None,
                }
                for r in rows
            ]

        return self._answer(("anomalies", month, threshold, limit, dept), compute)


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
