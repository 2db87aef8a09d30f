"""Shared fixtures: one SparkSession per test run + star-schema tables."""

from __future__ import annotations

import os

import pytest

from tidier_spark.session import session

SF_DIR = os.environ.get("TIDIER_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = session(
        cpus=4,
        app_name="tidier-spark-tests",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from tidier_spark.sources import load_star

    return load_star(spark, sf_dir)


@pytest.fixture(params=["driver", "distributed"])
def bpe_route(request, monkeypatch) -> str:
    """Run ``bpe_train`` on one of its two routes: the driver merge loop
    (the module's own bound, which every test vocabulary is under) or the
    distributed rounds (a bound below any vocabulary size, so even an
    empty vocabulary takes them)."""
    from tidier_spark.operators import bpe

    if request.param == "distributed":
        monkeypatch.setattr(bpe, "_DRIVER_VOCAB_ROWS", -1)
    return request.param
