"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
at sf0.01, then compares row count, column names/sorted order, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
stringified).  Each result line carries the md5 of the oracle SQL text (first
12 hex characters) ahead of the timings, which come last after ``|``, so two
runs compare with ``diff`` once the timings are cut.  Usage::

    python tools/check_correctness.py [name ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    if v is None or v != v:
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def frame_hash(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = ["\x1f".join(norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def main() -> int:
    import __spark_entry__ as entrymod

    from geospatial_analysis_integrity_tool_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark("gait-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"rows-only {name}: {len(sdf)} rows ({t_spark:.1f}s)")
            continue
        t0 = time.time()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        t_duck = time.time() - t0
        sn, sc, sh = frame_hash(sdf)
        on, oc, oh = frame_hash(odf)
        ok = (sn, sc, sh) == (on, oc, oh)
        status = "OK   " if ok else "FAIL "
        if not ok:
            failures.append(name)
        sql_md5 = hashlib.md5(oracles[name].encode()).hexdigest()[:12]
        print(
            f"{status}{name}: sql={sql_md5} spark {sn} rows cols={sc} hash={sh} "
            f"duck {on} rows cols={oc} hash={oh} | {t_spark:.1f}s / {t_duck:.1f}s"
        )
        if not ok and sn and on:
            scols = sorted(sdf.columns)
            a = sdf[scols].sort_values(scols).head(3)
            b = odf[sorted(odf.columns)].sort_values(sorted(odf.columns)).head(3)
            print("  spark head:", a.to_dict("records"))
            print("  duck  head:", b.to_dict("records"))
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
