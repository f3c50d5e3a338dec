"""Generate an sf1-scale dataset as a deterministic 10× tiling of sf0.1.

The driver ships sf{0.001,0.01,0.1} only; the scale-proof run (NOTES.md)
needs one decade more. Each copy i ∈ 0..9 shifts every surrogate key by
i × (max_key+1) so referential integrity holds per copy and copies are
disjoint; fixed dims (region, nation) are NOT tiled. Result: every
per-copy workload is identical and independent, so a correctly-scaling
plan should cost ≈10× wall on the same executor count.

``documents.text`` gets a per-copy letter translation (copy 0 =
identity) so cross-copy shingle/token overlap is ~zero: the near-dup
pair structure scales 10× linearly instead of exploding quadratically
across identical clones (which would change the workload's SHAPE, not
just its size). Lengths are preserved, so n_chars stays consistent.

Output: /root/repo/.sf1/*.parquet (gitignored — derived data).
Deterministic: pure column arithmetic over the driver's seeded tables,
no RNG anywhere.
"""

from __future__ import annotations

import os
import sys

if __name__ == "__main__":
    # The repo, not scripts/, heads the path: scripts/profile.py would
    # shadow the stdlib ``profile`` module that pyspark imports.
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sf1")
N_COPIES = 10

#: per-copy permutations of a 7-letter alphabet (identity first);
#: translate() preserves string length, so n_chars stays valid.
_ALPHA = "aeioust"
_PERMS = [
    "aeioust", "eiousta", "ioustae", "oustaei", "ustaeio",
    "staeiou", "taeious", "aeiosut", "eioutas", "iousate",
]


def _tiled(df: DataFrame, shifts: dict[str, int], copy_col_exprs=None) -> DataFrame:
    """Union N_COPIES copies of ``df``; each key col in ``shifts`` is
    shifted by i × shift; ``copy_col_exprs(i)`` may rewrite extra cols."""
    parts = []
    for i in range(N_COPIES):
        c = df
        for col, base in shifts.items():
            c = c.withColumn(col, (F.col(col) + F.lit(i * base)).cast("bigint"))
        if copy_col_exprs is not None:
            c = copy_col_exprs(c, i)
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> int:
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .appName("make_sf1")
        .getOrCreate()
    )
    r = lambda name: spark.read.parquet(f"{SRC}/{name}.parquet")  # noqa: E731

    def mx(df, col):
        return df.agg(F.max(col)).first()[0] + 1

    cust, supp, part, orders, li = r("customer"), r("supplier"), r("part"), r("orders"), r("lineitem")
    nc, ns, np_, no = mx(cust, "c_custkey"), mx(supp, "s_suppkey"), mx(part, "p_partkey"), mx(orders, "o_orderkey")

    plans = {
        "region": r("region"),
        "nation": r("nation"),
        "customer": _tiled(cust, {"c_custkey": nc}),
        "supplier": _tiled(supp, {"s_suppkey": ns}),
        "part": _tiled(part, {"p_partkey": np_}),
        "orders": _tiled(orders, {"o_orderkey": no, "o_custkey": nc}),
        "lineitem": _tiled(li, {"l_orderkey": no, "l_partkey": np_, "l_suppkey": ns}),
    }

    ev = r("events")
    ne, nu = mx(ev, "event_id"), mx(ev, "user_id")
    plans["events"] = _tiled(ev, {"event_id": ne, "user_id": nu})

    docs = r("documents")
    nd = mx(docs, "doc_id")
    plans["documents"] = _tiled(
        docs,
        {"doc_id": nd},
        lambda c, i: c.withColumn("text", F.translate("text", _ALPHA, _PERMS[i])),
    )

    emb = r("embeddings")
    nv = mx(emb, "vec_id")
    plans["embeddings"] = _tiled(emb, {"vec_id": nv})

    os.makedirs(DST, exist_ok=True)
    for name, df in plans.items():
        df.write.mode("overwrite").parquet(f"{DST}/{name}.parquet")
        print(f"  {name}: {spark.read.parquet(f'{DST}/{name}.parquet').count()} rows", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
