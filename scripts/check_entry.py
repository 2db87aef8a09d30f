"""Driver-harness mimic: run every __spark_entry__ query vs its DuckDB oracle.

Strict comparison (row count, schema, order-insensitive value hash over
stringified values) — tougher than the pytest tolerance-based rig, to catch
anything the real t2 gate would flag.
:func:`verdict` holds the checks; ``tests/test_board_oracle.py`` applies
the same function to every entry.

Usage: python scripts/check_entry.py [sf_dir] [query ...]
(runs on ``local[$SPARK_GRAFT_CPUS]``, default every core)
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")
import __spark_entry__ as entrymod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_hash(df: pd.DataFrame) -> tuple[str, list[str]]:
    df = df.reindex(sorted(df.columns), axis=1)
    cells = []
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            col = col.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(col):
            # repr keeps the float representation (5.0 stays "5.0", never
            # "5") — the driver's hash is representation-sensitive, so an
            # int column vs a float column MUST hash differently here too
            # (DuckDB HUGEINT -> pandas float64 drift must reproduce).
            col = col.map(lambda v: repr(float(v)) if pd.notna(v) else "<NA>")
        else:
            col = col.map(lambda v: str(v) if pd.notna(v) else "<NA>")
        cells.append(col.astype(str))
    rows = sorted("\x1f".join(t) for t in zip(*[c.tolist() for c in cells])) if cells else []
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return h, [f"{c}:{df[c].dtype}" for c in df.columns]


def _kind(spec: str) -> str:
    d = spec.split(":", 1)[1]
    if d.startswith("float"):
        return "f"
    if d.startswith(("int", "uint")):
        return "i"
    if d.startswith("datetime64"):
        return "t"  # ns-vs-us is normalized before hashing
    return d


def verdict(sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[str, list[str]]:
    """Strict check of an entry's Spark output against its oracle's: row
    count, column names, dtype kind and ``canon_hash``.  Returns the Spark
    side's hash and the failures found (empty when the two match)."""
    sh, sschema = canon_hash(sdf)
    oh, oschema = canon_hash(odf)
    status = []
    if len(sdf) != len(odf):
        status.append(f"rows {len(sdf)}!={len(odf)}")
    if [s.split(":")[0] for s in sschema] != [s.split(":")[0] for s in oschema]:
        status.append(f"cols {sschema} != {oschema}")
    else:
        # dtype-KIND drift (int vs float) fails the hash even when
        # names match — surface it explicitly.
        kinds_s = [(_s.split(":")[0], _kind(_s)) for _s in sschema]
        kinds_o = [(_s.split(":")[0], _kind(_s)) for _s in oschema]
        if kinds_s != kinds_o:
            status.append(f"dtype-kind {sschema} != {oschema}")
    if sh != oh:
        status.append(f"hash {sh}!={oh}")
        # locate first mismatch for debugging
        merged = _first_diff(sdf, odf)
        if merged:
            status.append(merged)
    return sh, status


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir = args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(args)

    from tidier_spark.session import session

    spark = session(
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()),
        app_name="check-entry",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "8g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            n_bad += 1
            continue
        finally:
            # entries may persist intermediates and never unpersist —
            # bounded per entry, but across 160+ queries the cached
            # blocks accumulate (bench.py clears the same way)
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"OK?   {name}: rows={len(sdf)} (no oracle — rows-only check)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL  {name}: oracle error: {exc}")
            n_bad += 1
            continue
        sh, status = verdict(sdf, odf)
        if status:
            print(f"FAIL  {name}: " + "; ".join(status))
            n_bad += 1
        else:
            print(f"OK    {name}: rows={len(sdf)} hash={sh}")
    print("entry() smoke:", end=" ")
    r = entrymod.entry(spark)
    print(f"rows={r.count()} schema={[f.name for f in r.schema.fields]}")
    return 1 if n_bad else 0


def _first_diff(a: pd.DataFrame, b: pd.DataFrame) -> str:
    a = a.reindex(sorted(a.columns), axis=1).sort_values(list(a.columns)).reset_index(drop=True)
    b = b.reindex(sorted(b.columns), axis=1).sort_values(list(b.columns)).reset_index(drop=True)
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return ""
    for c in a.columns:
        ga, gb = a[c], b[c]
        neq = ~((ga.isna() & gb.isna()) | (ga == gb))
        idx = neq.to_numpy().nonzero()[0]
        if len(idx):
            i = idx[0]
            return f"first diff col={c} row={i}: spark={ga.iloc[i]!r} oracle={gb.iloc[i]!r} ({len(idx)} cells)"
    return ""


if __name__ == "__main__":
    raise SystemExit(main())
