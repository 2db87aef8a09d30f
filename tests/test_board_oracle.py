"""Whole-board oracle: every ``queries()`` entry, run under the suite's
session (the shipped engine config), must hash-match its DuckDB
``oracle_sql()`` at sf0.01 — the same strict verdict as
``scripts/check_entry.py``."""

from __future__ import annotations

import os
import sys

import pytest

import __spark_entry__ as entrymod
from helpers import duckdb_oracle

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)
from check_entry import verdict  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def board_sf_dir(sf_dir) -> str:
    # the board's oracle scale, next to the suite's own fixture tables
    return os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")


def test_every_query_has_one_oracle():
    assert set(ORACLES) == set(QUERIES)


@pytest.mark.parametrize("name", list(QUERIES))
def test_entry_matches_oracle(spark, board_sf_dir, name):
    try:
        got = QUERIES[name](spark, board_sf_dir).toPandas()
    finally:
        # entries may persist intermediates and leave them cached
        spark.catalog.clearCache()
    _, failures = verdict(got, duckdb_oracle(ORACLES[name], board_sf_dir))
    assert not failures, failures
