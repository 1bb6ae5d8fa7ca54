from __future__ import annotations

import os

import pytest

from mapreduce_kmeans_clustering_spark.session import get_spark

REF = "/root/reference"
REF_POINTS_CSV = f"{REF}/3d_points_dataset.csv"
REF_SEEDS_CSV = f"{REF}/seed_points_K5.csv"
TESTDATA = "/root/testdata"


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked @pytest.mark.slow (the exhaustive "
        "property/parity batches; ~40 min of the full suite)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: exhaustive property/oracle-parity batch — excluded from the "
        "default run so `pytest tests/` finishes inside an external verify "
        "window (VERDICT r12 item 2); run with --runslow or "
        "SPARK_GRAFT_RUN_SLOW=1 (CI / round-close use the full set)",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or os.environ.get("SPARK_GRAFT_RUN_SLOW"):
        return
    skip = pytest.mark.skip(
        reason="slow batch: opt in with --runslow or SPARK_GRAFT_RUN_SLOW=1"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mrkc-tests", master="local[*]", shuffle_partitions=8)
    yield s


@pytest.fixture
def broadcasts(spark, monkeypatch):
    """Every broadcast the test makes through the session's context."""
    sc = spark.sparkContext
    made = []
    real = sc.broadcast

    def recording(value):
        made.append(real(value))
        return made[-1]

    monkeypatch.setattr(sc, "broadcast", recording)
    return made


def require_reference() -> None:
    """Skip the calling test or fixture when the reference's committed
    inputs and outputs are not on this host."""
    if not os.path.isdir(REF):
        pytest.skip(f"reference data absent: {REF} not found")


@pytest.fixture(scope="session")
def ref_points(spark):
    require_reference()
    from mapreduce_kmeans_clustering_spark.sources.points import read_points_csv

    return read_points_csv(spark, REF_POINTS_CSV).cache()


@pytest.fixture(scope="session")
def ref_seeds():
    require_reference()
    from mapreduce_kmeans_clustering_spark.sources.seeds import load_seeds

    return load_seeds(REF_SEEDS_CSV)
