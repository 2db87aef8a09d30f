"""The benchmark's input tables: copies of the board's seed-42 fixtures.

``data/sf0.01`` and ``data/sf0.001`` hold the fixture parquet files
byte for byte (see ``TESTDATA.md``), so the benchmark reads the same
schemas and values the board's entries are written for.  The run's
``--seed`` permutes entry order instead (see ``workloads.py``).
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"


def data_dir(sf: float) -> Path:
    d = DATA / f"sf{sf:g}"
    if not d.is_dir():
        raise FileNotFoundError(f"no input tables at scale {sf:g} in {DATA}")
    return d


def table_rows(data: Path) -> dict[str, int]:
    return {p.stem: pq.read_metadata(p).num_rows for p in sorted(data.glob("*.parquet"))}


def digest(data: Path) -> bytes:
    h = hashlib.sha256()
    for p in sorted(data.glob("*.parquet")):
        h.update(p.name.encode() + p.read_bytes())
    return h.digest()


def duckdb_views(data: Path):
    """A DuckDB connection with one view per table, for the oracles."""
    import duckdb

    con = duckdb.connect()
    for p in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    return con
