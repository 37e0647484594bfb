"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 and compares with
its oracle_sql() via DuckDB: row count, sorted-column schema, and an
order-insensitive value hash. Usage:

    python scripts/gate_check.py [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("GATE_SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = sorted(tuple(str(v) for v in r) for r in df.itertuples(index=False))
    h = hashlib.sha256()
    for r in rows:
        h.update("|".join(r).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(names=None):
    import __spark_entry__ as e
    from kdtree_spark.session import get_spark

    from kdtree_spark.driver_queries import imaging, pipeline, spatial
    qs = e.queries()  # driver order (front-loaded, retired excluded)
    # explicit names may address driver-retired gates too
    full = {**spatial.QUERIES, **pipeline.QUERIES, **imaging.QUERIES}
    for n, fn in full.items():
        qs.setdefault(n, fn)
    oracles = {**spatial.ORACLES, **pipeline.ORACLES, **imaging.ORACLES}
    spark = get_spark("gate-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    todo = names or list(qs)
    fails = []
    for name in todo:
        t0 = time.time()
        try:
            got = qs[name](spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL  {name:24s} spark error: {ex}")
            fails.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name:24s} rows={len(got)} (no oracle) "
                  f"{time.time() - t0:.1f}s")
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name:24s} oracle error: {ex}")
            fails.append(name)
            continue
        ok_rows = len(got) == len(exp)
        ok_schema = sorted(got.columns) == sorted(exp.columns)
        gh, eh = value_hash(got), value_hash(exp)
        ok_hash = gh == eh
        status = "PASS" if (ok_rows and ok_schema and ok_hash) else "FAIL"
        if status == "FAIL":
            fails.append(name)
        print(f"{status}  {name:24s} rows={len(got)}/{len(exp)} "
              f"schema={'ok' if ok_schema else sorted(got.columns)} "
              f"hash={gh if ok_hash else f'{gh}!={eh}'} "
              f"{time.time() - t0:.1f}s")
        if status == "FAIL" and ok_schema and len(got) and len(exp):
            g = got[sorted(got.columns)].astype(str)
            x = exp[sorted(exp.columns)].astype(str)
            gset = set(map(tuple, g.itertuples(index=False)))
            xset = set(map(tuple, x.itertuples(index=False)))
            print("   only-in-spark:", list(gset - xset)[:3])
            print("   only-in-oracle:", list(xset - gset)[:3])
    print(f"\n{len(todo) - len(fails)}/{len(todo)} passed")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
