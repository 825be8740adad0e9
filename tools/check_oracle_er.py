"""Dev harness: run every er_op oracle pair (Spark vs DuckDB) and diff.

Usage: python tools/check_oracle_er.py [sf_dir] [op ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

# the package must be importable here and in Spark's Python workers
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from rlerrorgenerator_spark.session import get_spark

    spark = get_spark("check_oracle_er")
    con = duckdb.connect()
    for t in ("documents", "customer", "orders", "lineitem", "events",
              "region", "nation", "supplier", "part", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    from rlerrorgenerator_spark.oracle_er import ER_ORACLE_OPS

    bad = 0
    for name, op in sorted(ER_ORACLE_OPS.items()):
        if only and name not in only:
            continue
        try:
            sdf = op.spark_fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL-spark] {name}: {e}")
            bad += 1
            continue
        try:
            odf = con.execute(op.sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL-sql]   {name}: {e}")
            bad += 1
            continue
        s = sdf.astype(str).reset_index(drop=True)
        o = odf.astype(str).reset_index(drop=True)
        if list(s.columns) != list(o.columns):
            print(f"[FAIL-cols]  {name}: spark={list(s.columns)} duck={list(o.columns)}")
            bad += 1
            continue
        if len(s) != len(o):
            print(f"[FAIL-rows]  {name}: spark={len(s)} duck={len(o)}")
            so = set(map(tuple, s.itertuples(index=False)))
            oo = set(map(tuple, o.itertuples(index=False)))
            for row in list(so - oo)[:3]:
                print("   spark-only:", str(row)[:200])
            for row in list(oo - so)[:3]:
                print("   duck-only :", str(row)[:200])
            bad += 1
            continue
        neq = (s != o).any(axis=1)
        if neq.any():
            print(f"[FAIL-vals]  {name}: {int(neq.sum())}/{len(s)} rows differ")
            i = int(neq.idxmax())
            print("   spark:", s.iloc[i].to_dict())
            print("   duck :", o.iloc[i].to_dict())
            bad += 1
            continue
        print(f"[OK]         {name}: {len(s)} rows")
    print(f"\n{'ALL GREEN' if bad == 0 else f'{bad} FAILING'}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
