"""The benchmark's tracer (perfbench/tracer.py) wraps engine methods by
name, from the owner's ``__dict__``. A refactor that renames, moves or
removes one of them breaks every traced benchmark run; this test makes it
fail here first."""

from __future__ import annotations

import inspect

from payroll_etl_fastapi_spark.api import PayrollService, serve_http
from payroll_etl_fastapi_spark.etl import PayrollWarehouse


def test_every_name_the_tracer_wraps_is_a_plain_attribute(perfbench_module, spark, tmp_path):
    tracer = perfbench_module("tracer")
    targets = []

    class Recorder(tracer.Tracer):
        def _wrap(self, owner, attr, layer, name_fn=None):  # record, patch nothing
            targets.append((owner, attr))

    Recorder(lambda: spark.sparkContext).install()
    assert targets
    for owner, attr in targets:
        assert inspect.isfunction(vars(owner).get(attr)), f"{owner.__name__}.{attr}"

    # wrap_http_server replaces the handler class's do_GET
    httpd = serve_http(PayrollService(PayrollWarehouse(spark, str(tmp_path / "wh"))))
    try:
        assert inspect.isfunction(vars(httpd.RequestHandlerClass).get("do_GET"))
    finally:
        httpd.server_close()
