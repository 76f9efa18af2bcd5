"""Verify the driver contract of the checkout this file sits in.

Emulates the grading driver: on a vanilla SparkSession (none of the
engine's configs), ``entry(spark)`` must return rows and each selected
``queries()`` key must equal its DuckDB ``oracle_sql()``
(:mod:`googleanalytics_etl_spark.oracle`); a key without an oracle gets
the rows-only check.

Usage: python tools/verify.py [KEY ...] [--window N] [--sf DIR] [--strict]

KEYs, or the first N ``queries()`` keys, or every key; ``--sf`` defaults
to the sf0.01 grading fixture. ``--strict`` compares at the pandas level,
as the driver hashes, instead of through the normalizing ``norm_rows``.
Prints the package path it imported, a line per key, then ``ALL MATCH``
(``STRICT ALL MATCH``) or the failures; exits 1 on a failure.
"""

from __future__ import annotations

import argparse
import sys
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as mod  # noqa: E402
from googleanalytics_etl_spark import oracle  # noqa: E402


def _driver_problems(sdf, con, sql: str) -> tuple[int, list[str]]:
    scols, srows = oracle.norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    cur = con.execute(sql)
    dcols, drows = oracle.norm_rows([d[0] for d in cur.description], cur.fetchall())
    probs = []
    if scols != dcols:
        probs.append(f"cols {scols} != {dcols}")
    if srows != drows:
        probs.append(f"values differ: spark={len(srows)} duck={len(drows)} rows")
    return len(srows), probs


def _strict_problems(sdf, con, sql: str) -> tuple[int, list[str]]:
    sp = sdf.toPandas()
    return len(sp), oracle.strict_problems(sp, con.execute(sql).df())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("keys", nargs="*", metavar="KEY")
    ap.add_argument("--window", type=int, metavar="N")
    ap.add_argument("--sf", default=str(Path(mod.SF0001).with_name("sf0.01")))
    ap.add_argument("--strict", action="store_true")
    args = ap.parse_args()

    q, o = mod.queries(), mod.oracle_sql()
    unknown = [k for k in args.keys if k not in q]
    if unknown:
        ap.error(f"unknown keys: {unknown}")
    keys = args.keys or list(q)[: args.window]
    print("package:", Path(oracle.__file__).parent)
    n_oracled = sum(k in o for k in keys)
    print(f"keys: {len(keys)} of {len(q)}, {n_oracled} oracled; sf: {args.sf}")

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_entry = mod.entry(spark).count()
    print("entry(): rows =", n_entry)
    fails = [] if n_entry else ["entry()"]

    con = duckdb.connect()
    oracle.register_views(con, args.sf)
    compare = _strict_problems if args.strict else _driver_problems
    for k in keys:
        try:
            sdf = q[k](spark, args.sf)
            if k not in o:
                print(f"{k}: rows-only ({sdf.count()} rows)")
                continue
            n, probs = compare(sdf, con, o[k])
        except Exception as e:  # noqa: BLE001  (report it, go on to the next key)
            traceback.print_exc()
            n, probs = 0, [f"ERROR {type(e).__name__}: {e}"]
        if probs:
            fails.append(k)
            print(f"{k}: FAIL — {'; '.join(probs)[:500]}")
        else:
            print(f"{k}: ok ({n} rows)")

    tag = "STRICT " if args.strict else ""
    print(f"{tag}ALL MATCH" if not fails else f"{tag}FAILURES: {fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
