"""Regenerate ``expected_sf0.01.json``: the result hash of every
batch-workload query, computed from the registry's DuckDB oracle over
the benchmark's copy of the sf0.01 tables.

    python3 perfbench/make_expected.py

Run it only when the data or an oracle changes; the benchmark compares
each query's Spark result with these hashes in its warm-up pass.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    BATCH_WORKLOADS, DATA, EXPECTED, frame_hash, write_json,
)


def main() -> int:
    from nineinfra_spark.engine import TPCH_TABLES
    from nineinfra_spark.plans import registry

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TPCH_TABLES:
        path = os.path.join(DATA, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    expected = {}
    for names in BATCH_WORKLOADS.values():
        for name in names:
            oracle = registry.get(name).oracle
            if oracle is None:
                raise SystemExit(f"{name} has no DuckDB oracle")
            expected[name] = frame_hash(con.execute(oracle).df())
            print(name, expected[name])
    write_json(EXPECTED, {"data": "sf0.01", "queries": expected})
    return 0


if __name__ == "__main__":
    sys.exit(main())
