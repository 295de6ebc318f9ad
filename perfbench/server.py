"""Benchmark server process: hosts the payroll engine for one benchmark run.

Started by ``run.py`` as ``python3 perfbench/server.py HOST PORT AUTHKEY``; it
connects back to the run's control listener, receives its configuration and
then executes one JSON command at a time, replying to each:

- ``setup``: (re)start the Spark session, load the full CSV into a fresh
  warehouse, run the warm-up calls; returns timings.
- ``serve``: put ``PayrollService`` behind ``serve_http``; returns the port.
- ``check``: the table contents the oracle checks before serving.
- ``load``: load one incremental CSV; returns its load time and the moment
  it committed.
- ``full_load``: load the full CSV into a fresh scratch warehouse, leaving
  the served one as it is; returns its load time.
- ``trace``: record spans only between two ``time.monotonic()`` moments.
- ``stats``: span dump, Spark counters, files and bytes per table, versions,
  peak memory.
- ``shutdown``: stop the HTTP server and Spark, then exit.

Only the engine's public surface is used: ``get_spark``,
``PayrollWarehouse``/``TxPayrollWarehouse``, ``PayrollService`` and
``serve_http``. In a transactional run the HTTP service reads through its own
``TxPayrollWarehouse`` handle, as an external reader would.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import threading
import time
import traceback
from multiprocessing.connection import Client


def _peak_rss_mb() -> float:
    """Peak resident memory of this process plus its direct children (the JVM)."""
    me = os.getpid()
    pids = [me]
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            pids.append(int(name))
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


class Server:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.spark = None
        self.wh = None
        self.reader_wh = None
        self.httpd = None
        self.n_wh = 0
        self.tracer = None
        self.loads: list[dict] = []  # every load; traced runs add files and bytes
        if cfg["trace"]:
            from tracer import Tracer

            self.tracer = Tracer(lambda: self.spark.sparkContext)
            self.tracer.install()

    # -- helpers -----------------------------------------------------------

    def _fresh_warehouse(self, tx: bool) -> None:
        from payroll_etl_fastapi_spark.etl import PayrollWarehouse, TxPayrollWarehouse

        self.n_wh += 1
        root = os.path.join(self.cfg["work"], f"wh{self.n_wh}")
        old = os.path.join(self.cfg["work"], f"wh{self.n_wh - 1}")
        if os.path.isdir(old):
            shutil.rmtree(old)
        cls = TxPayrollWarehouse if tx else PayrollWarehouse
        self.wh = cls(self.spark, root)
        # a transactional warehouse gets a second handle for the HTTP readers
        self.reader_wh = cls(self.spark, root) if tx else self.wh

    def _load(self, csv: str, wh=None) -> tuple[float, dict, float]:
        """Load one CSV into ``wh`` (default: the served warehouse); returns
        its seconds, row counts and commit moment."""
        wh = self.wh if wh is None else wh
        rid = f"load-{len(self.loads) + 1}"
        t0 = time.perf_counter()
        with self.tracer.request(rid) if self.tracer else contextlib.nullcontext():
            counts = wh.load_csv(csv)
        t1 = time.perf_counter()
        end = time.monotonic()
        load = {"rid": rid, "csv": csv, "counts": counts}
        if self.tracer:
            load.update(self._footprint(wh))
        self.loads.append(load)
        return t1 - t0, counts, end

    def _footprint(self, wh) -> dict:
        files, size = {}, 0
        for t in ("dim_dept", "dim_employee", "fact_payroll"):
            paths = [p.removeprefix("file:") for p in wh.read(t).inputFiles()]
            files[t] = len(paths)
            size += sum(os.path.getsize(p) for p in paths)
        return {"files": files, "bytes": size}

    def _warm_up(self) -> None:
        from payroll_etl_fastapi_spark.api import NotFound, PayrollService

        svc = PayrollService(self.reader_wh)
        for kind, *args in self.cfg["warmup"]:
            try:
                getattr(svc, kind)(*args)
            except NotFound:
                pass

    # -- commands ----------------------------------------------------------

    def op_setup(self, tx: bool, csv: str) -> dict:
        from payroll_etl_fastapi_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        self._fresh_warehouse(tx)
        full_s, _, _ = self._load(csv)
        self._warm_up()
        return {"setup_s": time.perf_counter() - t0, "session_s": session_s, "full_s": full_s}

    def op_serve(self) -> dict:
        from payroll_etl_fastapi_spark.api import PayrollService, serve_http

        self.httpd = serve_http(PayrollService(self.reader_wh))
        if self.tracer:
            self.tracer.wrap_http_server(self.httpd)
        threading.Thread(target=self.httpd.serve_forever, daemon=True).start()
        return {"port": self.httpd.server_address[1]}

    def op_load(self, csv: str) -> dict:
        seconds, counts, end = self._load(csv)
        return {"seconds": seconds, "counts": counts, "end": end}

    def op_full_load(self, csv: str) -> dict:
        root = os.path.join(self.cfg["work"], "wh-scratch")
        shutil.rmtree(root, ignore_errors=True)
        seconds, _, _ = self._load(csv, type(self.wh)(self.spark, root))
        return {"seconds": seconds}

    def op_trace(self, start: float, end: float) -> dict:
        self.tracer.window = (start, end)
        return {}

    def op_check(self) -> dict:
        """Table contents the oracle checks before serving."""
        from pyspark.sql import functions as F

        wh = self.reader_wh
        depts = [[r[0], r[1]] for r in wh.read("dim_dept").orderBy("dept_id").collect()]
        emps = {r[0]: r[1] for r in wh.read("dim_employee").select("emp_id", "dept_id").collect()}
        sums = {
            r[0]: [r[1], r[2], r[3]]
            for r in wh.read("fact_payroll")
            .groupBy(F.date_format("month", "yyyy-MM"))
            .agg(F.count("*"), F.sum("gross"), F.sum("net"))
            .collect()
        }
        return {"depts": depts, "emp_depts": emps, "month_sums": sums}

    def op_stats(self) -> dict:
        out = {"rss_mb": _peak_rss_mb(), "loads": self.loads}
        if self.tracer:
            out.update(self.tracer.dump())
        if hasattr(self.wh, "catalog"):
            out["versions"] = len(self.wh.catalog.table("fact_payroll").history())
        return out

    def op_shutdown(self) -> dict:
        if self.httpd is not None:
            self.httpd.shutdown()
            self.httpd.server_close()
        if self.spark is not None:
            self.spark.stop()
        return {}


def main() -> None:
    host, port, key = sys.argv[1], int(sys.argv[2]), bytes.fromhex(sys.argv[3])
    conn = Client((host, port), authkey=key)
    cfg = json.loads(conn.recv_bytes())
    sys.path.insert(0, cfg["root"])
    server = Server(cfg)
    while True:
        msg = json.loads(conn.recv_bytes())
        op = msg.pop("op")
        try:
            reply = {"ok": True, **getattr(server, f"op_{op}")(**msg)}
        except Exception:  # report to the run, which fails the benchmark
            reply = {"ok": False, "error": traceback.format_exc()}
        conn.send_bytes(json.dumps(reply).encode())
        if op == "shutdown":
            break
    conn.close()


if __name__ == "__main__":
    main()
