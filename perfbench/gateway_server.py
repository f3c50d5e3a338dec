"""Engine process for ``gateway_mixed``: one engine serving the REST
and MySQL frontends on OS-assigned ports.

Started by ``run.py``. After set-up it prints one line
``PERFBENCH_READY {json}`` with the ports and fixture paths, serves
until a line arrives on stdin, then runs the calibration probe, times
``Engine.close()`` and writes its result as JSON to ``--out``.

Fixtures: a bloom-indexed copy of ``orders`` and a z-layout copy of
``lineitem``, both written by the program's own writers into the
run's work directory on every run, so that a change to either writer
or its file format reaches the run that measures it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    SETUP_CYCLES, SparkProbe, redirect_scratch_roots, run_stamp,
    set_up_engine, write_json,
)

BLOOM_FILES = 24
Z_COLS = ["l_orderkey", "l_partkey"]


def build_fixtures(spark, run_dir: str) -> dict:
    from pyspark.sql import functions as F

    from nineinfra_spark.operators.bloomindex import bloom_index_write
    from nineinfra_spark.operators.zorder import zorder_layout_write

    orders = spark.table("orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority",
        F.datediff("o_orderdate", F.lit("1970-01-01")).alias("lay"),
    )
    lineitem = spark.table("lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    )
    bloom = os.path.join(run_dir, "orders_bloom")
    z_path = os.path.join(run_dir, "lineitem_z")
    bloom_index_write(orders, bloom, "lay", "o_orderkey", BLOOM_FILES)
    zorder_layout_write(lineitem, z_path, Z_COLS)
    return {"bloom_path": bloom, "z_path": z_path}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    redirect_scratch_roots(a.work)
    engine, setup = set_up_engine(
        a.work, a.data, SETUP_CYCLES, last_frontends={"rest_port": 0, "mysql_port": 0}
    )
    spark = engine.spark
    t0 = time.perf_counter()
    fx = build_fixtures(spark, a.work)
    fixtures_s = time.perf_counter() - t0
    ready = {"rest_port": engine.rest_gateway.port, "mysql_port": engine.mysql_gateway.port, **fx}
    print("PERFBENCH_READY " + json.dumps(ready), flush=True)

    sys.stdin.readline()  # the client has finished (or the run is aborted)
    executions = SparkProbe(spark).sql_executions() if a.trace else []
    stamp = run_stamp(spark)
    t0 = time.perf_counter()
    engine.close()
    close_s = time.perf_counter() - t0
    write_json(a.out, {
        "setup": setup,
        "fixtures_s": fixtures_s,
        "close_s": close_s,
        "executions": executions,
        "stamp": stamp,
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
