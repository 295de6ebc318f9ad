from __future__ import annotations

import importlib.util
import os
import sys

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")

from payroll_etl_fastapi_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
REFERENCE_CSV = "/root/reference/data/payroll.csv"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def reference_csv() -> str:
    if not os.path.exists(REFERENCE_CSV):
        pytest.skip("reference dataset not available")
    return REFERENCE_CSV


@pytest.fixture(scope="session")
def perfbench_module():
    """Loader of a module of the payroll benchmark (``perfbench/<name>.py``,
    not a package): ``perfbench_module("gen")`` is its seeded payroll CSV
    generator."""

    def load(name: str):
        key = f"perfbench_{name}"
        if key not in sys.modules:
            path = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", f"{name}.py")
            spec = importlib.util.spec_from_file_location(key, path)
            module = importlib.util.module_from_spec(spec)
            sys.modules[key] = module  # dataclasses resolve annotations through it
            spec.loader.exec_module(module)
        return sys.modules[key]

    return load


@pytest.fixture(scope="session")
def clustered_emb(spark):
    """Clustered embedding corpus for the ANN recall floors (VERDICT r6 #1):
    10 seeded gaussian centers × 30 points at noise 0.15 — realistic
    embedding structure where true neighbors are cluster-mates, so retrieval
    quality separates methods the isotropic driver testdata cannot.
    Returns (df, V float64 matrix, query ids = one per cluster). Fully
    deterministic: the recall floors pin exact values with margin."""
    import numpy as np

    rng = np.random.default_rng(42)
    n_clusters, per, dim = 10, 30, 64
    centers = rng.standard_normal((n_clusters, dim))
    parts = [
        centers[c] + 0.15 * rng.standard_normal((per, dim))
        for c in range(n_clusters)
    ]
    V = np.concatenate(parts).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, embedding array<float>",
    )
    qids = [c * per for c in range(n_clusters)]
    return df, V.astype(np.float64), qids
