"""Driver check: run registered queries on a vanilla SparkSession (not
the Engine, as the grading driver does) and compare each with its DuckDB
oracle by row count, schema and the driver's order-insensitive value hash.

Usage: python scripts/check_query.py [name ...] [--sf DIR]

Smokes ``entry()`` first and counts every oracle key without a query (a
renamed or retired query the driver would silently never compare) as a
failure. No names → every query, in export order. Prints one line per
query (``OK``, ``rows-only (N)`` when there is no oracle, or the
mismatch with the first differing rows from both sides), then
``FAILS: N``; exits 1 when N > 0.
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    # The repo, not scripts/, heads the path: scripts/profile.py would
    # shadow the stdlib ``profile`` module that pyspark imports.
    sys.path[0] = REPO
from pyspark.sql import SparkSession

from nineinfra_spark.plans.registry import driver_rows, driver_vhash, duck_connect


def main() -> int:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check-query")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    df = E.entry(spark)
    print(f"entry(): {len(df.collect())} rows, schema={[f.name for f in df.schema]}")
    qs, os_ = E.queries(), E.oracle_sql()
    orphans = sorted(set(os_) - set(qs))
    print(f"queries={len(qs)} oracles={len(os_)} orphan_oracles={orphans}")
    fails = len(orphans)

    con = duck_connect(sf)
    for name in args or list(qs):
        t0 = time.time()
        try:
            got = qs[name](spark, sf).toPandas()
        except Exception as e:
            print(f"  {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            fails += 1
            continue
        if name not in os_:
            print(f"  {name}: rows-only ({len(got)}) [{time.time()-t0:.1f}s]")
            continue
        try:
            want = con.execute(os_[name]).df()
        except Exception as e:
            print(f"  {name}: ORACLE ERROR {type(e).__name__}: {str(e)[:300]}")
            fails += 1
            continue
        ok_n = len(got) == len(want)
        ok_s = sorted(got.columns) == sorted(want.columns)
        ok_h = driver_vhash(got) == driver_vhash(want)
        if ok_n and ok_s and ok_h:
            print(f"  {name}: OK ({len(got)} rows) [{time.time()-t0:.1f}s]")
            continue
        fails += 1
        print(f"  {name}: MISMATCH n={ok_n} ({len(got)} vs {len(want)}) schema={ok_s} hash={ok_h}")
        if not ok_s:
            print(f"    spark cols:  {sorted(got.columns)}")
            print(f"    oracle cols: {sorted(want.columns)}")
            continue
        g, w = set(driver_rows(got)), set(driver_rows(want))
        for r in sorted(g - w)[:5]:
            print(f"    spark-only:  {r}")
        for r in sorted(w - g)[:5]:
            print(f"    oracle-only: {r}")
    print("FAILS:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
