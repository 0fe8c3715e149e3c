"""Contract checker: run every __spark_entry__ query at a given sf and
compare against its DuckDB oracle — row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
floats rounded). perfbench's curation gate reuses value_hash.

Usage: python tools/check_entry.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["documents"]


def value_hash(df) -> str:
    """Order-insensitive hash of a result frame. Float columns are
    rounded to 6dp. In every other column a missing value is spelled
    "None" whatever its pandas form: Spark's toPandas() gives a NULL
    boolean as None, DuckDB's .df() as nan."""
    import pandas as pd

    cols = sorted(df.columns)
    d = df[cols].copy()
    is_float = [d[c].dtype.kind == "f" for c in cols]
    for c, f in zip(cols, is_float):
        if f:
            d[c] = d[c].round(6)

    def spell(v, f: bool) -> str:
        if not f and pd.api.types.is_scalar(v) and pd.isna(v):
            return "None"
        return str(v)

    rows = sorted(tuple(spell(v, f) for v, f in zip(row, is_float))
                  for row in d.itertuples(index=False))
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from causalre_spark.session import get_spark

    spark = get_spark(app="check_entry", cores=8,
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        secs = time.time() - t0
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(sdf)} rows  cols={list(sdf.columns)}  {secs:.1f}s")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        elif value_hash(sdf) != value_hash(odf):
            problems.append("value-hash mismatch")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
            if "value-hash mismatch" in "; ".join(problems):
                cols = sorted(sdf.columns)
                a = sdf[cols].round(6) if len(sdf) else sdf
                b = odf[cols].round(6) if len(odf) else odf
                sa = set(map(tuple, a.astype(str).values.tolist()))
                sb = set(map(tuple, b.astype(str).values.tolist()))
                print("   only-spark:", list(sa - sb)[:3])
                print("   only-duck :", list(sb - sa)[:3])
        else:
            print(f"OK   {name}: {len(sdf)} rows  {secs:.1f}s")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
