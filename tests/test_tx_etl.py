"""PayrollWarehouse: the reference's one-transaction load semantics on the
manifest-log storage layer — golden parity plus all-or-nothing visibility."""

from __future__ import annotations

import pytest

from payroll_etl_fastapi_spark.etl import PayrollWarehouse
from payroll_etl_fastapi_spark.plans import kpi

REF_CSV = "/root/reference/data/payroll.csv"


def test_tx_load_matches_golden_anchors(spark, tmp_path):
    wh = PayrollWarehouse(spark, str(tmp_path / "wh"))
    counts = wh.load_csv(REF_CSV)
    assert counts == {"dim_dept": 6, "dim_employee": 500, "fact_payroll": 5526}
    # external (catalog-pinned) view serves the golden KPI
    row = kpi.kpi_summary(wh.read("fact_payroll"), "2025-05").first()
    assert round(row.fot, 2) == 696994.07
    assert row.headcount == 440
    # idempotent reload through the tx path
    counts2 = wh.load_csv(REF_CSV)
    assert counts2 == counts


def test_crash_before_catalog_commit_leaves_old_state(spark, tmp_path, monkeypatch):
    wh = PayrollWarehouse(spark, str(tmp_path / "wh"))
    wh.load_csv(REF_CSV)
    before = wh.read("fact_payroll").count()

    # second load crashes after all three table writes, before the catalog
    # pointer swap — the reference's transaction-abort window
    boom = RuntimeError("crash before commit")

    def exploding_commit(_versions):
        raise boom

    monkeypatch.setattr(wh.catalog, "commit", exploding_commit)
    with pytest.raises(RuntimeError, match="crash before commit"):
        wh.load_csv(REF_CSV)
    monkeypatch.undo()

    # external readers still see the first load, in full
    assert wh.read("fact_payroll").count() == before
    assert wh.catalog.current()["fact_payroll"] == 1
    # the aborted load's table versions exist but are unpublished
    assert wh.catalog.table("fact_payroll").latest_version() == 2

    # a subsequent successful load repairs everything atomically
    wh._pending = {}
    wh.load_csv(REF_CSV)
    assert wh.read("fact_payroll").count() == before
    assert wh.catalog.current()["fact_payroll"] >= 3


def test_reads_never_see_an_aborted_loads_table_versions(spark, tmp_path):
    """An aborted load leaves table versions committed but no catalog swap;
    the NEXT load's read view must be the catalog-pinned state, not bare
    table-latest — otherwise the aborted transaction's data silently becomes
    the merge base and gets durably committed (code-review finding r3)."""
    wh = PayrollWarehouse(spark, str(tmp_path / "wh"))
    wh.load_csv(REF_CSV)
    pinned = wh.catalog.current()["fact_payroll"]
    # poison: a table version beyond the pin, with no catalog commit (an
    # aborted load's leftover)
    poisoned = wh.catalog.table("fact_payroll")
    poisoned.overwrite(
        wh.read("fact_payroll").limit(1)
    )
    assert poisoned.latest_version() > pinned
    # the warehouse view must ignore it
    assert wh.read("fact_payroll").count() == wh.catalog.read("fact_payroll").count()
    assert wh.read("fact_payroll").count() == 5526
