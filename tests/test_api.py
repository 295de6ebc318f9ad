"""Service-layer tests against the reference CSV: golden anchors from
BASELINE.md plus the 404 and shape semantics of /root/reference/src/api.py."""

from __future__ import annotations

import math
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from payroll_etl_fastapi_spark import api
from payroll_etl_fastapi_spark.api import NotFound, PayrollService
from payroll_etl_fastapi_spark.etl import PayrollWarehouse
from payroll_etl_fastapi_spark.plans import kpi
from payroll_etl_fastapi_spark.sources import csv_ingest
from payroll_etl_fastapi_spark.sources.txtable import TxTable


@pytest.fixture(scope="module")
def service(spark, reference_csv, tmp_path_factory):
    wh = PayrollWarehouse(spark, str(tmp_path_factory.mktemp("wh")))
    wh.load_csv(reference_csv)
    return PayrollService(wh)


def test_health(service):
    assert service.health() == {"status": "ok"}


def test_summary_golden(service):
    s = service.summary("2025-05")
    assert round(s["fot"], 2) == 696994.07
    assert round(s["taxes"], 2) == 139358.22
    assert round(s["gross"], 2) == 605727.98
    assert round(s["net"], 2) == 545892.41
    assert s["headcount"] == 440
    assert s["tax_share"] == pytest.approx(139358.22 / 605727.98, rel=1e-9)


def test_summary_missing_month_404(service):
    with pytest.raises(NotFound):
        service.summary("1999-01")


def test_by_dept_shape(service):
    rows = service.by_dept("2025-05")
    # `dept`, not dept_name — the reference JSON aliases it (api.py:49 AS dept)
    assert [r["dept"] for r in rows] == sorted(r["dept"] for r in rows)
    assert {"dept", "fot", "gross", "net", "fte", "headcount"} <= set(rows[0])
    with pytest.raises(NotFound):
        service.by_dept("1999-01")


def test_delta_golden(service):
    d = service.delta("2025-04", "2025-05")
    assert round(d["company"]["gross_delta"], 2) == -12606.72
    assert round(d["company"]["bonus_delta"], 2) == -476.59
    assert round(d["company"]["overtime_delta"], 2) == 1301.92
    assert round(d["company"]["fot_delta"], 2) == -11781.39
    assert all("fot_delta" in r for r in d["by_dept"])


def test_anomalies_golden(service):
    rows = service.anomalies("2025-05", threshold=3.5, limit=10)
    assert len(rows) == 1
    r = rows[0]
    assert r["emp_id"] == "E100404" and r["dept"] == "IT"
    assert r["net"] == pytest.approx(2987.78)
    assert r["median_net"] == pytest.approx(1362.215)
    assert r["mad"] == pytest.approx(304.59)
    assert r["z"] == pytest.approx(3.5997360139860146)


def test_anomalies_dept_filter_and_missing_month(service):
    rows = service.anomalies("2025-05", threshold=0.0, limit=5, dept="IT")
    assert rows and all(r["dept"] == "IT" for r in rows)
    assert service.anomalies("1999-01") == []  # reference returns [] (no 404)


def test_fastapi_wiring_import_gated(service):
    pytest.importorskip("fastapi")
    from payroll_etl_fastapi_spark.api import create_app

    app = create_app(service)
    paths = {r.path for r in app.routes}
    assert {"/health", "/kpi/summary", "/kpi/by-dept", "/kpi/delta", "/kpi/anomalies"} <= paths


def test_fastapi_wiring_with_stub(service, monkeypatch):
    """Drives create_app's route wiring and 404 translation even where the
    real fastapi package is absent: a minimal stand-in module (decorator
    registry + HTTPException) is injected into sys.modules. The real-package
    test above still runs wherever fastapi exists."""
    import sys
    import types

    fake = types.ModuleType("fastapi")

    class HTTPException(Exception):
        def __init__(self, status_code, detail=""):
            self.status_code, self.detail = status_code, detail

    class FakeFastAPI:
        def __init__(self, title=""):
            self.title, self.handlers = title, {}

        def get(self, path):
            def deco(fn):
                self.handlers[path] = fn
                return fn

            return deco

    fake.FastAPI, fake.HTTPException = FakeFastAPI, HTTPException
    monkeypatch.setitem(sys.modules, "fastapi", fake)

    from payroll_etl_fastapi_spark.api import create_app

    app = create_app(service)
    assert set(app.handlers) == {
        "/health", "/kpi/summary", "/kpi/by-dept", "/kpi/delta", "/kpi/anomalies"
    }
    assert app.handlers["/health"]() == {"status": "ok"}
    s = app.handlers["/kpi/summary"](month="2025-05")
    assert s["headcount"] == 440
    rows = app.handlers["/kpi/by-dept"](month="2025-05")
    assert rows and "dept" in rows[0]
    # NotFound must surface as HTTPException(404) through the route guard
    with pytest.raises(HTTPException) as exc:
        app.handlers["/kpi/summary"](month="1999-01")
    assert exc.value.status_code == 404


def test_stdlib_http_server_round_trip(service):
    """Full HTTP round-trip through the stdlib shell: real sockets, real
    status codes — the endpoint layer exercised without fastapi installed."""
    import json
    import threading
    import urllib.error
    import urllib.request

    from payroll_etl_fastapi_spark.api import serve_http

    srv = serve_http(service)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        def get(path):
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
                return r.status, json.loads(r.read())

        assert get("/health") == (200, {"status": "ok"})

        status, s = get("/kpi/summary?month=2025-05")
        assert status == 200
        assert round(s["fot"], 2) == 696994.07 and s["headcount"] == 440

        status, rows = get("/kpi/anomalies?month=2025-05&threshold=3.5&limit=10")
        assert status == 200
        assert [r["emp_id"] for r in rows] == ["E100404"]

        status, d = get("/kpi/delta?m1=2025-04&m2=2025-05")
        assert status == 200 and round(d["company"]["gross_delta"], 2) == -12606.72

        with pytest.raises(urllib.error.HTTPError) as e:
            get("/kpi/summary?month=1999-01")
        assert e.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as e:
            get("/kpi/summary")  # missing required param -> FastAPI-style 422
        assert e.value.code == 422
        with pytest.raises(urllib.error.HTTPError) as e:
            get("/kpi/anomalies?month=2025-05&limit=notanint")
        assert e.value.code == 422
        with pytest.raises(urllib.error.HTTPError) as e:
            get("/nope")
        assert e.value.code == 404
        # out-of-domain values are refused before they reach the engine
        for bad in (
            "/kpi/summary?month=2025-13",
            "/kpi/anomalies?month=2025-05&limit=0",
            "/kpi/anomalies?month=2025-05&threshold=nan",
        ):
            with pytest.raises(urllib.error.HTTPError) as e:
                get(bad)
            assert e.value.code == 422, bad
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(timeout=5)


# -- on small generated batches: one committed version per request, one
# derivation per version, and the HTTP edge's 422 / 500 answers -------------


def _batch(spark, rows):
    """rows: (emp_id, dept, month, gross) -> a normalized load batch."""
    df = spark.createDataFrame(
        [
            (e, d, m, str(g), "0", "0", "0", "0", str(g), "1", "160", "USD", "G1", "HQ")
            for e, d, m, g in rows
        ],
        "emp_id string, dept string, month string, gross string, bonus string, "
        "overtime string, taxes string, deductions string, net string, fte string, "
        "hours_worked string, currency string, job_grade string, location string",
    )
    return csv_ingest.normalize(df)


# three committed states; each later batch moves an employee to another dept,
# which restates every month's by-dept answer (dimensions are type 1)
BATCH_0 = [("E1", "Alpha", "2025-01", 100), ("E2", "Beta", "2025-01", 200), ("E3", "Beta", "2025-01", 300)]
BATCH_1 = [("E2", "Alpha", "2025-02", 210)]  # E2 Beta -> Alpha
BATCH_2 = [("E3", "Gamma", "2025-03", 310)]  # E3 Beta -> Gamma, a new dept
# by-dept gross of 2025-01 at each committed state
JAN_BY_DEPT = [
    {"Alpha": 100.0, "Beta": 500.0},
    {"Alpha": 300.0, "Beta": 300.0},
    {"Alpha": 300.0, "Gamma": 300.0},
]


def _gross(rows) -> dict[str, float]:
    return {r["dept"]: r["gross"] for r in rows}


@pytest.fixture()
def small_wh(spark, tmp_path):
    wh = PayrollWarehouse(spark, str(tmp_path / "wh"))
    wh.load_frames(_batch(spark, BATCH_0))
    return wh


def test_request_reads_one_committed_version(spark, small_wh, monkeypatch):
    """A load that commits between a request's first and last table reads
    must not tear its answer: the request answers from the version it
    started on. The loader is the serving handle itself."""
    svc = PayrollService(small_wh)
    original = TxTable.snapshot
    fired = []

    def snapshot_then_commit(self, version=None):
        df = original(self, version)
        if not fired:  # once, after the request's first table read
            fired.append(self.root)
            small_wh.load_frames(_batch(spark, BATCH_1))
        return df

    monkeypatch.setattr(TxTable, "snapshot", snapshot_then_commit)
    assert _gross(svc.by_dept("2025-01")) == JAN_BY_DEPT[0]
    monkeypatch.undo()
    assert fired and small_wh.catalog.head()[0] == 2  # the load committed mid-request
    assert _gross(svc.by_dept("2025-01")) == JAN_BY_DEPT[1]


def test_memo_is_fresh_after_commit(spark, small_wh):
    """Answers and 404s belong to the version they were derived at: the
    next request after a commit sees the new state."""
    svc = PayrollService(small_wh)
    assert _gross(svc.by_dept("2025-01")) == JAN_BY_DEPT[0]
    for _ in range(2):  # derived, then looked up
        with pytest.raises(NotFound):
            svc.summary("2025-02")
    small_wh.load_frames(_batch(spark, BATCH_1))
    assert _gross(svc.by_dept("2025-01")) == JAN_BY_DEPT[1]
    assert svc.summary("2025-02")["gross"] == 210.0


# -- the service against the plans it stands for ------------------------------

LIMITS = (1, 10, api.LIMIT_MAX)
THRESHOLDS = (0.0, 2.5, 1e9)
MISSING = "1999-01"
UNKNOWN_DEPT = "No Such Dept"


def _prev(month: str) -> str:
    y, m = int(month[:4]), int(month[5:7])
    return f"{y - 1:04d}-12" if m == 1 else f"{y:04d}-{m - 1:02d}"


def _call(svc: PayrollService, key: tuple) -> tuple[int, object]:
    kind, *args = key
    try:
        if kind == "anomalies":
            month, threshold, limit, dept = args
            return 200, svc.anomalies(month, threshold=threshold, limit=limit, dept=dept)
        return 200, getattr(svc, kind)(*args)
    except NotFound:
        return 404, None


def _plan(frames, key: tuple) -> tuple[int, object]:
    """The answer of ``key`` from its plans/kpi.py plan, shaped as the
    service shapes it."""
    fact, emp, dept = frames
    kind, *args = key
    if kind == "summary":
        row = kpi.kpi_summary(fact, *args).first()
        return (404, None) if row["gross"] is None else (200, row.asDict())
    if kind == "by_dept":
        rows = [r.asDict() for r in kpi.kpi_by_dept(fact, emp, dept, *args).collect()]
        return (200, rows) if rows else (404, None)
    if kind == "delta":
        company, by_dept = kpi.kpi_delta(fact, emp, dept, *args)
        return 200, {
            "company": {k: v or 0.0 for k, v in company.first().asDict().items()},
            "by_dept": [r.asDict() for r in by_dept.collect()],
        }
    month, threshold, limit, d = args
    return 200, [r.asDict() for r in kpi.kpi_anomalies(fact, emp, dept, month, threshold, limit, d).collect()]


def _same(got, want) -> bool:
    """Equal, numbers within the benchmark oracle's rel 1e-9 / abs 1e-6."""
    if isinstance(want, dict):
        return isinstance(got, dict) and got.keys() == want.keys() and all(_same(got[k], want[k]) for k in want)
    if isinstance(want, (list, tuple)):
        return type(got) is type(want) and len(got) == len(want) and all(map(_same, got, want))
    if isinstance(want, float):
        return isinstance(got, float) and math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-6)
    return type(got) is type(want) and got == want


def _assert_service_equals_plans(svc, wh, months, depts, every_dept_months) -> list:
    """Every endpoint at every month in ``months`` (plus a missing month)
    against its plan at the warehouse's head; anomalies for every limit and
    threshold, for all depts at every month and per dept (each of
    ``depts`` and an unknown one) at ``every_dept_months``. Returns the
    anomaly answers."""
    frames = tuple(wh.read(t) for t in ("fact_payroll", "dim_employee", "dim_dept"))
    keys, ranked = [], []
    for m in [*months, MISSING]:
        keys += [("summary", m), ("by_dept", m), ("delta", _prev(m), m)]
        for d in [None, *depts, UNKNOWN_DEPT] if m in every_dept_months else [None]:
            ranked.append(("anomalies", m, 0.0, api.LIMIT_MAX, d))
    # the plans run concurrently: each is a few small Spark jobs
    with ThreadPoolExecutor(4) as pool:
        want = dict(zip(keys + ranked, pool.map(lambda k: _plan(frames, k), keys + ranked)))
    answers = []
    for key in keys:
        assert _same(_call(svc, key), want[key]), key
    for key in ranked:
        _, m, _, _, d = key
        full = want[key][1]
        assert len(full) < api.LIMIT_MAX  # the full ranking: every cut below is exact
        for limit in LIMITS:
            for threshold in THRESHOLDS:
                # the plan ranks, cuts at `limit`, then filters on the
                # threshold, keeping null-z rows (the oracle's rule too)
                expect = [r for r in full[:limit] if r["z"] is None or abs(r["z"]) >= threshold]
                status, got = _call(svc, ("anomalies", m, threshold, limit, d))
                assert status == 200 and _same(got, expect), (m, threshold, limit, d)
                answers += got
    return answers


def test_service_equals_plans_at_every_small_state(spark, small_wh):
    """BATCH_0-2: transfers restate every month and Gamma is a new dept.
    Single-employee dept-months have MAD = 0, so their rows score a null z
    and are kept at every threshold."""
    svc = PayrollService(small_wh)
    months = ["2025-01"]
    answers = _assert_service_equals_plans(svc, small_wh, months, ["Alpha", "Beta"], months)
    for batch, depts in ((BATCH_1, ["Alpha", "Beta"]), (BATCH_2, ["Alpha", "Beta", "Gamma"])):
        small_wh.load_frames(_batch(spark, batch))
        months.append(batch[0][2])
        answers += _assert_service_equals_plans(svc, small_wh, months, depts, months)
    assert any(r["mad"] == 0.0 and r["z"] is None for r in answers)
    # the plans' own limit and threshold, not the rule above, at the newest state
    frames = tuple(small_wh.read(t) for t in ("fact_payroll", "dim_employee", "dim_dept"))
    for limit in LIMITS:
        for threshold in THRESHOLDS:
            key = ("anomalies", "2025-01", threshold, limit, None)
            assert _same(_call(svc, key), _plan(frames, key)), key


def test_service_equals_plans_on_generated_batches(spark, tmp_path, perfbench_module):
    """A generated base CSV with one (emp_id, month) repeated, so headcount
    must count distinct employees; then a restating batch (transfers, a new
    dept, corrected facts)."""
    gen = perfbench_module("gen")
    inputs = gen.generate(str(tmp_path / "in"), 3, 24, 12, 1)
    with open(inputs.base_csv) as fh:
        first = fh.readlines()[1].split(",")
    first[10] = "9999.00"  # the same employee and month again, another net
    with open(inputs.base_csv, "a") as fh:
        fh.write(",".join(first))
    wh = PayrollWarehouse(spark, str(tmp_path / "wh"))
    svc = PayrollService(wh)
    for state, csv in enumerate([inputs.base_csv, *inputs.batch_csvs]):
        wh.load_csv(csv)
        months = inputs.months + inputs.batch_months[:state]
        depts = [r["dept_name"] for r in wh.read("dim_dept").orderBy("dept_name").collect()]
        _assert_service_equals_plans(svc, wh, months, depts, {first[4][:7], months[-1]})
    repeated = first[4][:7]
    rows = wh.read("fact_payroll").filter(f"month = '{repeated}-01'").count()
    assert svc.summary(repeated)["headcount"] == rows - 1


# -- one derivation per version ----------------------------------------------


def test_first_touches_of_a_version_share_one_derivation(spark, small_wh, monkeypatch):
    """Six requests reaching a new version at once run its plan once; the
    next version runs it once more."""
    svc = PayrollService(small_wh)
    calls = []
    rows = kpi.kpi_rows

    def counted(*a):
        calls.append(a)
        time.sleep(0.2)  # keep the derivation in flight while the others arrive
        return rows(*a)

    monkeypatch.setattr(kpi, "kpi_rows", counted)

    def touch_together(month: str) -> list[float]:
        barrier = threading.Barrier(6)

        def touch() -> float:
            barrier.wait(timeout=30)
            return svc.summary(month)["gross"]

        with ThreadPoolExecutor(6) as pool:
            return list(pool.map(lambda _: touch(), range(6)))

    assert touch_together("2025-01") == [600.0] * 6
    assert len(calls) == 1
    small_wh.load_frames(_batch(spark, BATCH_1))
    assert touch_together("2025-02") == [210.0] * 6
    assert len(calls) == 2
    # each caller gets its own answer: editing one does not reach the next
    svc.summary("2025-01")["gross"] = -1.0
    svc.by_dept("2025-01")[0]["gross"] = -1.0
    assert svc.summary("2025-01")["gross"] == 600.0
    assert _gross(svc.by_dept("2025-01")) == JAN_BY_DEPT[1]
    assert len(calls) == 2


def test_failed_derivation_answers_500_to_every_waiter_then_retries(small_wh, monkeypatch):
    """A derivation that raises answers every request waiting on it with a
    500 and a JSON body; it is not kept, so the next request succeeds."""
    import json
    import urllib.error
    import urllib.request

    svc = PayrollService(small_wh)
    entered = []
    summary = svc.summary

    def counted_summary(month):
        entered.append(month)
        return summary(month)

    svc.summary = counted_summary
    calls = []

    def failing(*_a):
        calls.append(1)
        deadline = time.monotonic() + 30
        while len(entered) < 6 and time.monotonic() < deadline:
            time.sleep(0.01)
        time.sleep(0.3)  # the others are past the head read, waiting on this one
        raise RuntimeError("derivation fault")

    srv = api.serve_http(svc)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()

    def status(path):
        try:
            with urllib.request.urlopen(f"http://127.0.0.1:{srv.server_address[1]}{path}", timeout=60) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    try:
        monkeypatch.setattr(kpi, "kpi_rows", failing)
        with ThreadPoolExecutor(6) as pool:
            answers = list(pool.map(lambda _: status("/kpi/summary?month=2025-01"), range(6)))
        assert answers == [(500, {"detail": "Internal Server Error"})] * 6
        assert len(calls) == 1
        monkeypatch.undo()
        code, body = status("/kpi/summary?month=2025-01")
        assert code == 200 and body["gross"] == 600.0
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(timeout=5)
    assert not t.is_alive()


def test_concurrent_reads_while_loads_commit(spark, small_wh):
    """Readers racing two commits: no request raises, and every answer is
    the answer of one committed state."""
    svc = PayrollService(small_wh)
    stop = threading.Event()
    seen: list[dict] = []
    errors: list[BaseException] = []

    def reader() -> None:
        while not stop.is_set():
            try:
                seen.append(_gross(svc.by_dept("2025-01")))
            except BaseException as e:  # recorded; the test asserts there are none
                errors.append(e)
                return

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    threads = [threading.Thread(target=reader) for _ in range(6)]
    try:
        for t in threads:
            t.start()
        small_wh.load_frames(_batch(spark, BATCH_1))
        small_wh.load_frames(_batch(spark, BATCH_2))
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert seen and all(answer in JAN_BY_DEPT for answer in seen)
    assert _gross(svc.by_dept("2025-01")) == JAN_BY_DEPT[2]


def test_http_edge_answers_bad_input_and_faults(spark, small_wh, monkeypatch):
    """Out-of-domain params get a 422 and an engine fault a 500, each with a
    JSON detail — never a dropped connection."""
    import json
    import urllib.error
    import urllib.request

    srv = api.serve_http(PayrollService(small_wh))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()

    def status(path):
        try:
            with urllib.request.urlopen(f"http://127.0.0.1:{srv.server_address[1]}{path}") as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    def broken(*_a, **_kw):
        raise RuntimeError("engine fault")

    try:
        for bad in (
            "/kpi/summary?month=2025-13",
            "/kpi/by-dept?month=25-01",
            "/kpi/delta?m1=2025-01&m2=0000-01",
            "/kpi/anomalies?month=2025-01&limit=0",
            f"/kpi/anomalies?month=2025-01&limit={api.LIMIT_MAX + 1}",
            "/kpi/anomalies?month=2025-01&threshold=nan",
            "/kpi/anomalies?month=2025-01&threshold=inf",
        ):
            code, body = status(bad)
            assert code == 422 and "detail" in body, bad
        assert status("/kpi/summary?month=2025-01")[0] == 200
        # a fault while deriving the next version's answers
        small_wh.load_frames(_batch(spark, BATCH_1))
        monkeypatch.setattr(kpi, "kpi_rows", broken)
        assert status("/kpi/by-dept?month=2025-01") == (500, {"detail": "Internal Server Error"})
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(timeout=5)
    assert not t.is_alive()
