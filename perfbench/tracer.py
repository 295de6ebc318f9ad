"""Outside-in tracer for the payroll engine.

``Tracer.install`` wraps the engine's public entry points from the outside
(the package is never edited) and records one span per call:

==========================  ===========================================
layer                       wrapped call
==========================  ===========================================
``api.http``                the HTTP handler's ``do_GET`` (``serve_http``)
``api.service``             ``PayrollService.{summary,by_dept,delta,anomalies}``
``etl.load``                ``PayrollWarehouse.load_csv``
``etl.read``                ``PayrollWarehouse.read`` / ``TxPayrollWarehouse.read``
``etl.write``               ``PayrollWarehouse._write`` / ``TxPayrollWarehouse._write``
``plans.kpi``               ``kpi.kpi_summary`` / ``kpi_by_dept`` / ``kpi_delta`` / ``kpi_anomalies``
``sources.csv_ingest.read`` ``csv_ingest.read_payroll_csv``
``sources.txtable.commit``  ``TxCatalog.commit``
``sources.txtable.snapshot`` ``TxTable.snapshot``
==========================  ===========================================

A span is ``(request id, layer, name, start, end)``. The request id is set per
thread: the HTTP wrapper takes it from the ``X-Request-Id`` header, a load
from the id its caller passes to ``request``. Spark jobs and tasks are counted
per request id with ``setJobGroup`` and the status tracker. Spans stay in
memory until ``dump``; requests that start outside ``window`` are not recorded.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time


class Tracer:
    def __init__(self, spark_context_fn):
        self._sc = spark_context_fn  # returns the live SparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[tuple] = []
        self.spark_counts: dict[str, tuple[int, int]] = {}
        # requests starting while time.monotonic() is inside it are recorded
        self.window = (float("-inf"), float("inf"))

    # -- recording ---------------------------------------------------------

    def _rid(self) -> str | None:
        return getattr(self._local, "rid", None)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if self._rid() is None:  # only calls made on behalf of a traced request
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            with self._lock:
                self.spans.append((self._rid(), layer, name, t0, t1))

    @contextlib.contextmanager
    def request(self, rid: str):
        """Record the spans and Spark jobs this thread runs for ``rid``, if
        the request starts inside the window."""
        if not self.window[0] <= time.monotonic() < self.window[1]:
            yield
            return
        sc = self._sc()
        self._local.rid = rid
        sc.setJobGroup(rid, rid, interruptOnCancel=False)
        try:
            yield
        finally:
            tracker = sc.statusTracker()
            jobs = tasks = 0
            for jid in tracker.getJobIdsForGroup(rid):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            with self._lock:
                self.spark_counts[rid] = (jobs, tasks)
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._local.rid = None

    def _wrap(self, owner, attr: str, layer: str, name_fn=None):
        fn = owner.__dict__[attr]
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            name = name_fn(args, kwargs) if name_fn else attr
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapped)

    # -- installation ------------------------------------------------------

    def install(self) -> None:
        from payroll_etl_fastapi_spark import api, etl
        from payroll_etl_fastapi_spark.plans import kpi
        from payroll_etl_fastapi_spark.sources import csv_ingest, txtable

        for m in ("summary", "by_dept", "delta", "anomalies"):
            self._wrap(api.PayrollService, m, "api.service")
        self._wrap(etl.PayrollWarehouse, "load_csv", "etl.load")
        table_arg = lambda a, kw: a[1] if len(a) > 1 else kw.get("table")  # noqa: E731
        write_arg = lambda a, kw: a[2] if len(a) > 2 else kw.get("table")  # noqa: E731
        for cls in (etl.PayrollWarehouse, etl.TxPayrollWarehouse):
            self._wrap(cls, "read", "etl.read", table_arg)
            self._wrap(cls, "_write", "etl.write", write_arg)
        for f in ("kpi_summary", "kpi_by_dept", "kpi_delta", "kpi_anomalies"):
            self._wrap(kpi, f, "plans.kpi")
        self._wrap(csv_ingest, "read_payroll_csv", "sources.csv_ingest.read")
        self._wrap(txtable.TxCatalog, "commit", "sources.txtable.commit")
        self._wrap(txtable.TxTable, "snapshot", "sources.txtable.snapshot")

    def wrap_http_server(self, httpd) -> None:
        """Trace every request ``httpd`` (from ``serve_http``) handles."""
        handler = httpd.RequestHandlerClass
        inner = handler.do_GET
        tracer = self

        def do_GET(h):  # noqa: N802 (http.server API)
            rid = h.headers.get("X-Request-Id") or "http"
            with tracer.request(rid), tracer.span("api.http", h.path.split("?")[0]):
                inner(h)

        handler.do_GET = do_GET

    def dump(self) -> dict:
        with self._lock:
            return {"spans": list(self.spans), "spark_counts": dict(self.spark_counts)}
