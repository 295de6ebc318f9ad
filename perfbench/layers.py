"""Per-layer metrics of a traced run, computed from the server's spans.

Each metric names the end-to-end metric it should move:

- ``api.http_ms`` (client latency minus service time) -> ``kpi_p50_ms``
- ``api.service_ms.<endpoint>`` -> ``<endpoint>_p50_ms``
- ``api.collect_ms`` (service minus read minus plan time: Spark planning and
  execution) -> every ``*_p50_ms``
- ``api.spark_jobs_per_request``, ``api.spark_tasks_per_request`` ->
  ``kpi_p50_ms``, ``kpi_rps``
- ``api.concurrency`` (service time over wall time) -> ``kpi_rps``
- ``etl.read_ms``, ``etl.reads_per_request`` -> ``kpi_p50_ms``
- ``etl.write_ms.<table>``, ``etl.count_ms`` (verification counts after the
  writes), ``etl.spark_jobs_per_load``, ``etl.write_amplification`` (rows
  written over rows in the batch, incremental loads), ``etl.files_per_table``,
  ``etl.bytes_written`` -> ``load_rows_per_s``, ``incr_load_s``
- ``sources.csv_ingest.read_ms`` -> ``load_rows_per_s``
- ``plans.kpi.plan_ms`` (a guard near zero) -> every ``*_p50_ms``
- ``sources.txtable.snapshot_ms`` -> ``kpi_p50_ms`` on ``month_close``;
  ``sources.txtable.commit_ms`` -> ``incr_load_s``; ``sources.txtable.versions``
  explains drift in ``kpi_p50_ms``
- ``session.start_s`` -> ``setup_s``; ``session.driver_rss_mb`` is peak memory
- ``trace.overhead_ms``: traced minus untraced ``kpi_p50_ms`` of this run
- ``<endpoint>_p50_ms``: client latency per endpoint over the untraced
  requests. A 12 s run holds 5 to 15 requests per endpoint, too few for a
  regression bound, so these are not end-to-end metrics.

A layer the workload never calls reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

KINDS = ("summary", "by_dept", "delta", "anomalies")
TABLES = ("dim_dept", "dim_employee", "fact_payroll")


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def per_layer(inputs, setups, stats, results, window) -> dict:
    by_rid: dict[str, list] = defaultdict(list)
    for rid, layer, name, t0, t1 in stats["spans"]:
        by_rid[rid].append((layer, name, t0, t1))
    counts = stats["spark_counts"]

    def total(spans, layer) -> float:
        return sum(t1 - t0 for ly, _, t0, t1 in spans if ly == layer) * 1000

    traced, untraced = [], []
    for r in results:
        if not r["ok"]:
            continue
        service = [s for s in by_rid.get(r["rid"], ()) if s[0] == "api.service"]
        if service:
            traced.append((r, by_rid[r["rid"]], (service[0][3] - service[0][2]) * 1000))
        elif not window[0] <= r["sent"] < window[1]:
            untraced.append(r)

    m: dict[str, tuple[float, str]] = {}
    m["api.http_ms"] = (_median(r["latency"] * 1000 - svc for r, _, svc in traced), "ms")
    for kind in KINDS:
        m[f"api.service_ms.{kind}"] = (_median(svc for r, _, svc in traced if r["key"][0] == kind), "ms")
    m["api.collect_ms"] = (
        _median(svc - total(sp, "etl.read") - total(sp, "plans.kpi") for _, sp, svc in traced),
        "ms",
    )
    m["api.spark_jobs_per_request"] = (_mean(counts.get(r["rid"], (0, 0))[0] for r, _, _ in traced), "count")
    m["api.spark_tasks_per_request"] = (_mean(counts.get(r["rid"], (0, 0))[1] for r, _, _ in traced), "count")
    m["api.concurrency"] = (sum(svc for _, _, svc in traced) / 1000 / (window[1] - window[0]), "ratio")
    m["etl.read_ms"] = (_median(total(sp, "etl.read") for _, sp, _ in traced), "ms")
    m["etl.reads_per_request"] = (
        _mean(sum(s[0] == "etl.read" for s in sp) for _, sp, _ in traced),
        "count",
    )
    m["plans.kpi.plan_ms"] = (_median(total(sp, "plans.kpi") for _, sp, _ in traced), "ms")
    m["sources.txtable.snapshot_ms"] = (
        _median(
            (t1 - t0) * 1000
            for _, sp, _ in traced
            for ly, _, t0, t1 in sp
            if ly == "sources.txtable.snapshot"
        ),
        "ms",
    )

    rows = {inputs.base_csv: inputs.base_rows, **dict(zip(inputs.batch_csvs, inputs.batch_rows))}
    loads = [ld for ld in stats["loads"] if ld.get("rid") in by_rid]
    incremental = [ld for ld in loads if ld["csv"] != inputs.base_csv]
    load_spans = [by_rid[ld["rid"]] for ld in loads]
    for table in TABLES:
        m[f"etl.write_ms.{table}"] = (
            _median(
                (t1 - t0) * 1000 for sp in load_spans for ly, name, t0, t1 in sp
                if ly == "etl.write" and name == table
            ),
            "ms",
        )
    m["etl.count_ms"] = (_median(_count_ms(sp) for sp in load_spans), "ms")
    m["etl.spark_jobs_per_load"] = (_mean(counts.get(ld["rid"], (0, 0))[0] for ld in loads), "count")
    m["etl.write_amplification"] = (
        _median(sum(ld["counts"].values()) / rows[ld["csv"]] for ld in incremental),
        "ratio",
    )
    m["etl.files_per_table"] = (_mean(sum(ld["files"].values()) / len(TABLES) for ld in loads), "count")
    m["etl.bytes_written"] = (_median(ld["bytes"] for ld in incremental), "bytes")
    m["sources.csv_ingest.read_ms"] = (
        _median((t1 - t0) * 1000 for sp in load_spans for ly, _, t0, t1 in sp if ly == "sources.csv_ingest.read"),
        "ms",
    )
    m["sources.txtable.commit_ms"] = (
        _median((t1 - t0) * 1000 for sp in load_spans for ly, _, t0, t1 in sp if ly == "sources.txtable.commit"),
        "ms",
    )
    m["sources.txtable.versions"] = (float(stats.get("versions", 0)), "count")
    m["session.start_s"] = (_median(s["session_s"] for s in setups), "s")
    m["session.driver_rss_mb"] = (stats["rss_mb"], "MB")
    for kind in KINDS:  # client latency per endpoint, from the untraced requests
        m[f"{kind}_p50_ms"] = (_median(r["latency"] * 1000 for r in untraced if r["key"][0] == kind), "ms")
    lat_t = [r["latency"] * 1000 for r, _, _ in traced]
    lat_u = [r["latency"] * 1000 for r in untraced]
    m["trace.overhead_ms"] = (_median(lat_t) - _median(lat_u) if lat_t and lat_u else 0.0, "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _count_ms(spans) -> float:
    """Time from the last table write to the commit (transactional load) or
    to the end of the load: the row-count verification after the writes."""
    writes = [t1 for ly, _, _, t1 in spans if ly == "etl.write"]
    commits = [t0 for ly, _, t0, _ in spans if ly == "sources.txtable.commit"]
    loads = [t1 for ly, _, _, t1 in spans if ly == "etl.load"]
    if not writes or not loads:
        return 0.0
    return ((commits or loads)[0] - max(writes)) * 1000
