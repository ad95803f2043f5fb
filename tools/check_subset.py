"""Focused correctness check: like check_contract.py but only for the
query names passed on the command line (fast iteration on new oracles)."""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_contract import TABLES, compare_frames, norm  # noqa: E402


def main(*names: str) -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    import __spark_entry__ as e
    from s2_geometry_rust_spark.session import get_spark

    spark = get_spark("subset-check", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name in names:
        got = qs[name](spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(got)}")
            continue
        want = con.execute(oracles[name]).fetchdf()
        g, w = norm(got), norm(want)
        status, why = compare_frames(g, w)
        if status == "OK":
            print(f"{name:24s} OK ({len(g)} rows)")
        else:
            failures += 1
            print(f"{name:24s} {status} {why}")
            if len(g) and len(w):
                print("spark head:\n", g.head(3))
                print("oracle head:\n", w.head(3))
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
