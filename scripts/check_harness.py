"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB over the
same sf dir; compare row count, column names, and order-insensitive
values.

Usage:

    python scripts/check_harness.py [--session {engine,default}] [sf_dir] [name ...]

``--session engine`` (the default) runs in the engine's ``get_spark``
session; ``--session default`` runs in a bare ``SparkSession.builder``
session at Spark's default SQL config (Arrow conversion off, AQE
untuned), so a result that depends on session config shows up."""

from __future__ import annotations

import argparse
import decimal
import math
import os
import sys

sys.path.insert(0, ".")


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, decimal.Decimal):
                v = float(v)
            if isinstance(v, float):
                v = round(v, 9)
                if math.isnan(v):
                    v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def session(kind: str):
    master = "local[8]"
    if kind == "engine":
        from aarhus_spark.session import get_spark
        return get_spark("check-harness", master=master)
    from pyspark.sql import SparkSession
    return SparkSession.builder.appName("check-harness-default").master(master).getOrCreate()


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--session", choices=("engine", "default"), default="engine")
    args, sys.argv[1:] = p.parse_known_args()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    # the manifest-audit oracle reads its sf dir at import time: point it
    # at the dir under test before the harness is imported
    os.environ.setdefault("AARHUS_ORACLE_SF_DIR", sf_dir)

    import duckdb
    from aarhus_spark.harness import TABLES
    import __spark_entry__ as entry  # the REAL driver surface

    spark = session(args.session)
    print(f"session={args.session} arrow="
          f"{spark.conf.get('spark.sql.execution.arrow.pyspark.enabled')} "
          f"aqe={spark.conf.get('spark.sql.adaptive.enabled')}")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries, oracles = entry.queries(), entry.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if sql is None:
                print(f"{name:28s} ROWS-ONLY  rows={len(srows)}")
                continue
            rel = con.sql(sql)
            dcols = rel.columns
            drows = rel.fetchall()
            problems = []
            if scols != dcols:
                problems.append(f"cols {scols} != {dcols}")
            if len(srows) != len(drows):
                problems.append(f"rowcount {len(srows)} != {len(drows)}")
            if not problems:
                a = normalize(srows, scols)
                b = normalize(drows, dcols)
                if a != b:
                    diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                    problems.append(f"values differ, e.g. {diff}")
            if problems:
                n_fail += 1
                print(f"{name:28s} FAIL  {'; '.join(problems)}")
            else:
                n_pass += 1
                print(f"{name:28s} OK    rows={len(srows)}")
        except Exception as e:
            n_fail += 1
            print(f"{name:28s} ERROR {type(e).__name__}: {str(e).splitlines()[0][:140]}")
    print(f"\n{n_pass} ok, {n_fail} failed")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
