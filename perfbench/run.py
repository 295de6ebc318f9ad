"""Payroll service benchmark: one measured run of one workload.

Run from the repository root::

    python3 perfbench/run.py --workload kpi_serve --seed 1 --seconds 12 --trace 0

Steps (only the measured phase is timed; setup has its own metric):

1. Generate seeded inputs (``gen.py``) into ``.perfbench_work/`` and compute
   every expected answer with the DuckDB oracle (``oracle.py``), untimed and
   before the server starts, so that it takes no CPU from the JVM warming up.
2. Start a fresh server process (``server.py``) with its own warehouse and
   ``SPARK_LOCAL_DIRS``. Set it up ``SETUPS`` times: Spark session start,
   full load into a fresh warehouse, warm-up calls. The first set-up also
   starts the JVM. Then load ``SETUP_BATCHES`` incremental batch(es) and
   check the tables against the oracle.
3. Measure for ``--seconds`` with closed-loop HTTP clients in this process
   (no think time), then check every response against the oracle.
   ``kpi_serve`` then loads ``KPI_BATCHES_AFTER`` more batches for
   ``incr_load_s``. Both workloads load the full CSV once more into a scratch
   warehouse: with the set-ups after the first, it gives ``load_rows_per_s``.
   Every load's row counts are checked against the oracle.

Workloads:

- ``kpi_serve``: 4 clients, 40/25/15/20 summary/by-dept/delta/anomalies,
  months skewed to the most recent, 5% for a month that was never loaded,
  a quarter of anomaly calls filtered by dept. Nothing is written.
- ``month_close``: ``TxPayrollWarehouse``; 1 writer loads incremental
  batches back to back while 3 reader clients check the month just closed
  and its delta to the month before, and poll the month still being loaded.
  A read that returns a state older than the last commit finished before it
  was sent is a failure.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). A traced run records spans only for requests
sent in the middle half of the measured phase; the difference
between the traced and untraced ``kpi_p50_ms`` of that run is reported as
``trace.overhead_ms``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import secrets
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from multiprocessing.connection import Listener

import gen
import layers
from oracle import Oracle, matches, prev_month

N_EMPS = 4000
N_MONTHS = 24
N_BATCHES = 12  # incremental batches generated; month_close loads them in order
SETUP_BATCHES = 1  # loaded after the setups: the state served when measuring starts
KPI_BATCHES_AFTER = 2  # kpi_serve loads these after the measured phase, for incr_load_s
SETUPS = 3
MISSING_MONTH = "2019-06"  # never loaded
ANOMALY = (2.5, 10)  # threshold, limit: a few rows pass the threshold
ANOMALY_PARAMS = [(*ANOMALY, d) for d in [None, *gen.DEPTS, gen.NEW_DEPT]]
RUN_LIMIT_S = 170  # a run that has not finished by then fails
WORKLOADS = ("kpi_serve", "month_close")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg: str, start: float = time.monotonic()) -> None:
    print(f"[{time.monotonic() - start:6.1f}s] {msg}", file=sys.stderr, flush=True)


def steal_s() -> float:
    """CPU time the host took from this machine so far (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def percentile(values: list[float], q: int) -> float:
    """``q``-th percentile (1..99) by linear interpolation."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def path_for(key: tuple) -> str:
    kind = key[0]
    if kind == "summary":
        return f"/kpi/summary?month={key[1]}"
    if kind == "by_dept":
        return f"/kpi/by-dept?month={key[1]}"
    if kind == "delta":
        return f"/kpi/delta?m1={key[1]}&m2={key[2]}"
    _, month, thr, lim, dept = key
    extra = f"&dept={dept}" if dept else ""
    return f"/kpi/anomalies?month={month}&threshold={thr}&limit={lim}{extra}"


def anomaly_key(rng: random.Random, month: str) -> tuple:
    dept = rng.choice(gen.DEPTS) if rng.random() < 0.25 else None
    return ("anomalies", month, *ANOMALY, dept)


# -- server process -----------------------------------------------------------


class ServerProcess:
    """The server subprocess and its control connection."""

    def __init__(self, root: str, work: str, trace: bool, deadline: float, warmup: list):
        self.deadline = deadline
        key = secrets.token_bytes(16)
        listener = Listener(("127.0.0.1", 0), authkey=key)
        host, port = listener.address
        env = dict(os.environ)
        env.update(
            {
                "SPARK_GRAFT_CPUS": str(min(4, os.cpu_count() or 1)),
                "SPARK_GRAFT_DRIVER_MEM": "2g",
                "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                "TMPDIR": os.path.join(work, "tmp"),
                "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
                "PYTHONPATH": root,
            }
        )
        os.makedirs(env["TMPDIR"], exist_ok=True)
        self.log = open(os.path.join(work, "server.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(root, "perfbench", "server.py"), host, str(port), key.hex()],
            cwd=work,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=self.log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        accepted: list = []
        t = threading.Thread(target=lambda: accepted.append(listener.accept()), daemon=True)
        t.start()
        while t.is_alive():
            t.join(0.5)
            if self.proc.poll() is not None or time.monotonic() > deadline:
                listener.close()
                raise RuntimeError("server process did not connect")
        listener.close()
        self.conn = accepted[0]
        cfg = {"root": root, "work": work, "trace": trace, "warmup": warmup}
        self.conn.send_bytes(json.dumps(cfg).encode())

    def __call__(self, op: str, **kw) -> dict:
        self.conn.send_bytes(json.dumps({"op": op, **kw}).encode())
        while not self.conn.poll(0.5):
            if self.proc.poll() is not None:
                raise RuntimeError(f"server process exited during {op!r}")
            if time.monotonic() > self.deadline:
                raise RuntimeError(f"run time limit reached during {op!r}")
        reply = json.loads(self.conn.recv_bytes())
        if not reply.pop("ok"):
            raise RuntimeError(f"server {op!r} failed:\n{reply['error']}")
        return reply

    def close(self) -> None:
        """Stop the server and every process it started, and wait for them."""
        if self.proc.poll() is None:
            try:
                self("shutdown")
                self.proc.wait(timeout=30)
            except (RuntimeError, OSError, EOFError, subprocess.TimeoutExpired):
                pass
        pgid = self.proc.pid
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            t_end = time.monotonic() + 10
            while time.monotonic() < t_end and _group_alive(pgid):
                time.sleep(0.1)
        self.proc.wait()
        self.log.close()


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


# -- load generator -----------------------------------------------------------


class Clients:
    """Closed-loop HTTP clients: each sends its next request when the last
    reply arrives. Every request is recorded for the oracle check."""

    def __init__(self, port: int, seed: int):
        self.port = port
        self.seed = seed
        self.results: list[dict] = []
        self._n = 0
        self._lock = threading.Lock()

    def request(self, key: tuple) -> None:
        with self._lock:
            self._n += 1
            rid = f"r{self._n}"
        rec = {"rid": rid, "key": key, "sent": time.monotonic()}
        t0 = time.perf_counter()
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            try:
                conn.request("GET", path_for(key), headers={"X-Request-Id": rid})
                resp = conn.getresponse()
                rec["status"], body = resp.status, resp.read()
            finally:
                conn.close()
            rec["body"] = json.loads(body)
        except (OSError, http.client.HTTPException, ValueError) as e:
            rec["error"] = repr(e)
        rec["latency"] = time.perf_counter() - t0
        rec["recv"] = time.monotonic()
        self.results.append(rec)

    def run(self, n: int, choose, deck: "Deck", until: float) -> None:
        """``n`` client threads; ``choose(rng, kind)`` picks the request for
        each kind the shared ``deck`` deals."""

        def loop(i: int) -> None:
            rng = random.Random(f"{self.seed}-client-{i}")
            while time.monotonic() < until:
                self.request(choose(rng, deck.draw()))

        threads = [threading.Thread(target=loop, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()


class Deck:
    """Request kinds in exact proportions: every ``len(kinds)`` consecutive
    draws deal each kind its share, in a seeded shuffled order. A short run
    then sees the intended mix, not a random draw from it."""

    def __init__(self, kinds: dict[str, int], seed: int):
        self.cards = [k for k, n in kinds.items() for _ in range(n)]
        self.rng = random.Random(f"{seed}-deck")
        self.left: list[str] = []
        self.lock = threading.Lock()

    def draw(self) -> str:
        with self.lock:
            if not self.left:
                self.left = list(self.cards)
                self.rng.shuffle(self.left)
            return self.left.pop()


# -- workloads ----------------------------------------------------------------

# kpi_serve: 40/25/15/20 summary/by-dept/delta/anomalies
KPI_SERVE_MIX = {"summary": 8, "by_dept": 5, "delta": 3, "anomalies": 4}
# month_close: a fifth polls the month being loaded, the rest checks the one just closed
MONTH_CLOSE_MIX = {
    "summary_loading": 2, "delta_loading": 2,
    "summary": 4, "delta": 3, "by_dept": 5, "anomalies": 4,
}


def kpi_serve_choose(months: list[str]):
    def choose(rng: random.Random, kind: str) -> tuple:
        if rng.random() < 0.05:
            month = MISSING_MONTH
        else:  # skewed to the most recent months, so requests repeat
            back = min(int(rng.expovariate(1 / 3)), len(months) - 1)
            month = months[-1 - back]
        if kind == "delta":
            return ("delta", prev_month(month), month)
        if kind == "anomalies":
            return anomaly_key(rng, month)
        return (kind, month)

    return choose


def month_close_choose(inputs: gen.Inputs, committed: list[int]):
    """Readers check the month just closed (the newest committed one) and
    its delta to the month before, and poll the month still being loaded,
    which must appear as soon as its load commits."""
    months = inputs.months[-1:] + inputs.batch_months

    def choose(rng: random.Random, kind: str) -> tuple:
        k = min(committed[0], len(months) - 2)
        closed, loading = months[k], months[k + 1]
        if kind == "summary_loading":
            return ("summary", loading)
        if kind == "delta_loading":
            return ("delta", closed, loading)
        if kind == "delta":
            return ("delta", prev_month(closed), closed)
        if kind == "anomalies":
            return anomaly_key(rng, closed)
        return (kind, closed)

    return choose


def main() -> None:
    ap = argparse.ArgumentParser(description="payroll service benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "payroll_etl_fastapi_spark", "api.py")):
        fail("run from the repository root: payroll_etl_fastapi_spark/ not found")
    start = time.monotonic()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    server = None
    try:
        inputs = gen.generate(os.path.join(work, "in"), args.seed, N_EMPS, N_MONTHS, N_BATCHES)
        log("inputs generated")
        # untimed, and before the server starts so that it takes no CPU from it
        exp = expected_answers(inputs, args.workload)
        log("oracle answers computed")
        server = ServerProcess(root, work, bool(args.trace), start + RUN_LIMIT_S, warmup_calls(inputs))
        log("server process connected")
        result = run_workload(args, inputs, exp, server)
    except RuntimeError as e:
        fail(str(e))
    finally:
        if server is not None:
            server.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))


def warmup_calls(inputs: gen.Inputs) -> list:
    """Warm-up call at the end of every setup, on the newest month: the
    anomalies plan runs the joins, aggregates and medians the other
    endpoints use."""
    return [["anomalies", inputs.months[-1]]]


class Expected:
    """Oracle facts per committed state (state k = full load + k batches)."""

    def __init__(self):
        self.counts: dict[int, dict] = {}
        self.answers: dict[int, dict] = {}
        self.tables: dict = {}


def expected_answers(inputs: gen.Inputs, workload: str) -> Expected:
    first = SETUP_BATCHES
    if workload == "kpi_serve":  # answers for the state served, counts for the later loads
        last, served, months = first + KPI_BATCHES_AFTER, first, inputs.months + inputs.batch_months[:first]
    else:  # readers ask for the month just closed, its predecessor, the next
        last, served, months = N_BATCHES, N_BATCHES, inputs.batch_months[first - 1:]
    o = Oracle(inputs.base_csv, inputs.batch_csvs)
    exp = Expected()
    for state in range(last + 1):
        if state:
            o.advance()
        exp.counts[state] = o.table_counts()
        if state == first:
            exp.tables = {"depts": o.depts(), "emp_depts": o.emp_depts(), "month_sums": o.month_sums()}
        if first <= state <= served:
            exp.answers[state] = o.answers(months, [MISSING_MONTH], ANOMALY_PARAMS)
    o.con.close()
    return exp


def tables_match(got: dict, exp: dict) -> bool:
    if got["depts"] != exp["depts"] or got["emp_depts"] != exp["emp_depts"]:
        return False
    if set(got["month_sums"]) != set(exp["month_sums"]):
        return False
    for m, (n, g, t) in exp["month_sums"].items():
        gn, gg, gt = got["month_sums"][m]
        if gn != n or abs(gg - g) > 1e-6 * max(1.0, abs(g)) or abs(gt - t) > 1e-6 * max(1.0, abs(t)):
            return False
    return True


def run_workload(args, inputs: gen.Inputs, exp: "Expected", server: ServerProcess) -> dict:
    setups = []
    for _ in range(SETUPS):
        tx = args.workload == "month_close"
        setups.append(server("setup", tx=tx, csv=inputs.base_csv))
        log(f"setup: {json.dumps(setups[-1])}")
    # the state served when measuring starts: the full load plus a batch
    before = [server("load", csv=inputs.batch_csvs[k]) for k in range(SETUP_BATCHES)]
    attempted, failed = 1, 0
    if not tables_match(server("check"), exp.tables):
        log("failed: tables differ from the oracle")
        failed += 1
    port = server("serve")["port"]
    log("tables checked, serving")

    steal0 = steal_s()
    t0 = time.monotonic()
    until = t0 + args.seconds
    window = (t0 + args.seconds / 4, t0 + args.seconds * 3 / 4)
    if args.trace:
        server("trace", start=window[0], end=window[1])
    clients = Clients(port, args.seed)
    commit_ends: list[float] = []
    if args.workload == "kpi_serve":
        months = inputs.months + inputs.batch_months[:SETUP_BATCHES]
        deck = Deck(KPI_SERVE_MIX, args.seed)
        clients.run(min(4, os.cpu_count() or 1), kpi_serve_choose(months), deck, until)
        # incr_load_s: batches loaded after the measured phase, nothing served
        writes = [server("load", csv=csv) for csv in inputs.batch_csvs[SETUP_BATCHES:SETUP_BATCHES + KPI_BATCHES_AFTER]]
    else:
        committed = [SETUP_BATCHES]  # incremental batches committed so far
        writes = []  # incr_load_s: the loads made while serving

        def writer() -> None:
            while time.monotonic() < until and committed[0] < N_BATCHES:
                k = committed[0]
                writes.append(server("load", csv=inputs.batch_csvs[k]))
                committed[0] = k + 1

        w = threading.Thread(target=writer)
        w.start()
        clients.run(3, month_close_choose(inputs, committed), Deck(MONTH_CLOSE_MIX, args.seed), until)
        w.join()
        if committed[0] >= N_BATCHES:
            raise RuntimeError("month_close ran out of batches; raise N_BATCHES")
        commit_ends = sorted(w_["end"] for w_ in writes)
    wall = max(r["recv"] for r in clients.results) - t0
    # load_rows_per_s: the full loads after the first set-up, which also starts
    # the JVM, and one more after the measured phase, warmer than theirs
    full_loads = [s["full_s"] for s in setups[1:]] + [server("full_load", csv=inputs.base_csv)["seconds"]]
    log(
        f"measured: {len(clients.results)} requests, {len(writes)} incremental loads, "
        f"{steal_s() - steal0:.1f} cpu-s stolen by the host"
    )
    log(
        f"load seconds: full {[round(setups[0]['full_s'], 3)]} then {[round(x, 3) for x in full_loads]}, "
        f"incremental {[round(w['seconds'], 3) for w in before]} then {[round(w['seconds'], 3) for w in writes]}"
    )

    for rec in clients.results:
        rec["ok"] = response_ok(rec, exp, commit_ends)
        if not rec["ok"]:
            log(f"failed: {json.dumps({k: rec.get(k) for k in ('key', 'sent', 'recv', 'status', 'body', 'error')})[:2000]}")
    attempted += len(clients.results)
    failed += sum(not rec["ok"] for rec in clients.results)
    stats = server("stats")
    # every load (set-ups, and those in or after the measured phase) against
    # the oracle's row counts for the state it produced
    state_of = {inputs.base_csv: 0, **{csv: k + 1 for k, csv in enumerate(inputs.batch_csvs)}}
    attempted += len(stats["loads"])
    failed += sum(ld["counts"] != exp.counts[state_of[ld["csv"]]] for ld in stats["loads"])
    log("responses checked")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not args.trace:
        result["metrics"] = end_to_end(inputs, setups, full_loads, writes, clients.results, wall)
    else:
        result["metrics"] = layers.per_layer(inputs, setups, stats, clients.results, window)
    return result


def response_ok(rec: dict, exp: Expected, commit_ends: list[float]) -> bool:
    """The reply equals the oracle's answer at a state no older than the
    last commit finished before the request was sent."""
    if "error" in rec or rec["status"] not in (200, 404):
        return False
    base = min(exp.answers)
    lo = base + sum(e < rec["sent"] for e in commit_ends)
    hi = min(base + 1 + sum(e < rec["recv"] for e in commit_ends), max(exp.answers))
    key = tuple(rec["key"])
    return any(matches(key, rec["status"], rec["body"], exp.answers[s][key]) for s in range(lo, hi + 1))


def end_to_end(inputs, setups, full_loads, writes, results, wall) -> dict:
    ok = [r for r in results if r["ok"]]
    lat = [r["latency"] * 1000 for r in ok]
    # the fastest: interference from the machine only slows a load
    full = inputs.base_rows / min(full_loads)
    incr = [w["seconds"] for w in writes]
    m = {
        "setup_s": (statistics.median(s["setup_s"] for s in setups), "s"),
        "kpi_p50_ms": (percentile(lat, 50), "ms"),
        "kpi_p90_ms": (percentile(lat, 90), "ms"),
        "kpi_rps": (len(ok) / wall, "1/s"),
        "load_rows_per_s": (full, "rows/s"),
        "incr_load_s": (statistics.median(incr), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    main()
