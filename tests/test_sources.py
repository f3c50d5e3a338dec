"""Source/sink layer tests: plan-level partition pruning, JDBC reader
option validation, write-mode safety, and the parquet schema cache."""

from __future__ import annotations

import contextlib
import io
import os

import pytest

from pyspark.sql import functions as F

from nineinfra_spark.plans._util import t
from nineinfra_spark.sources import readers, writers

SF = "/root/testdata/sf0.001"
IO = "/tmp/nineinfra_spark_io/tests"


def _explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    return buf.getvalue()


def test_partition_pruning_reaches_scan(spark):
    """A filter on the partition column must become a PartitionFilters
    entry on the scan (pruned dirs never opened) — the property that
    keeps partitioned reads O(selected partitions) at 100 TB."""
    orders = t(spark, SF, "orders")
    path = os.path.join(IO, "orders_part")
    writers.write_parquet(orders, path, mode="overwrite", partition_by=["o_orderpriority"])
    back = spark.read.parquet(path).filter(F.col("o_orderpriority") == "1-URGENT")
    plan = _explain_str(back)
    assert "PartitionFilters" in plan
    assert "o_orderpriority" in plan.split("PartitionFilters", 1)[1][:200]


def test_predicate_pushdown_reaches_parquet(spark):
    """Non-partition predicates must reach the parquet scan as
    PushedFilters (row-group skipping)."""
    li = t(spark, SF, "lineitem").filter(F.col("l_quantity") < 10).select("l_orderkey")
    plan = _explain_str(li)
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters", 1)[1][:200]


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must not read the full lineitem schema."""
    li = t(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = _explain_str(li)
    read_schema = plan.split("ReadSchema", 1)[1][:300]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_jdbc_requires_bounds_with_partition_column(spark):
    with pytest.raises(ValueError, match="bound"):
        readers.read_jdbc(
            spark, "jdbc:postgresql://localhost/x", "t", partition_column="id"
        )


def test_jdbc_derby_roundtrip_partitioned_and_rerunnable(spark, tmp_path):
    """End-to-end JDBC against embedded Derby: the partitioned read
    must produce numPartitions range-scan tasks, values must survive
    the trip, and overwrite mode must be rerunnable against an
    already-booted Derby database (same-process second run)."""
    from nineinfra_spark.sources import writers

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [(i, float(i) * 1.5) for i in range(1, 41)], "id long, v double"
    )
    for _ in range(2):  # second pass = overwrite on a booted db
        writers.write_jdbc(df, url, "RT", mode="overwrite",
                           num_partitions=2, **drv)
    back = readers.read_jdbc(
        spark, url, "RT", partition_column="id",
        num_partitions=4, lower_bound=1, upper_bound=41, **drv,
    )
    assert back.rdd.getNumPartitions() == 4
    got = {r["id"]: r["v"] for r in back.collect()}
    assert got == {i: i * 1.5 for i in range(1, 41)}


def test_default_write_mode_is_error(spark):
    """Accidental overwrite must be loud: default mode errors if the
    target exists."""
    nation = t(spark, SF, "nation")
    path = os.path.join(IO, "nation_once")
    writers.write_parquet(nation, path, mode="overwrite")
    with pytest.raises(Exception):
        writers.write_parquet(nation, path)  # default mode="error"


def test_csv_roundtrip_preserves_types(spark):
    nation = t(spark, SF, "nation")
    path = os.path.join(IO, "nation_csv")
    writers.write_csv(nation, path, mode="overwrite")
    back = readers.read_csv(spark, path, schema=nation.schema)
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_nanos_rebuild_gated_on_parquet_annotation(spark, tmp_path):
    """A plain bigint column named 'ts' (e.g. epoch millis) must pass
    through read_parquet untouched — the nanos→timestamp rebuild fires
    only for columns the parquet footer annotates TIMESTAMP(NANOS)."""
    p = str(tmp_path / "plain_ts")
    spark.range(5).selectExpr("id", "id * 1000 AS ts").write.parquet(p)
    back = readers.read_parquet(spark, p)
    assert dict(back.dtypes)["ts"] == "bigint"
    assert sorted(r["ts"] for r in back.collect()) == [0, 1000, 2000, 3000, 4000]

    # the annotated testdata column IS rebuilt
    ev = readers.read_table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")


def test_asof_rejects_map_payload(spark):
    """Map-typed payload columns are non-orderable (they'd break the
    deterministic tie-break) — asof_join refuses them up front."""
    from nineinfra_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k int, ts int")
    right = spark.sql("SELECT 1 AS k, 5 AS ts, map('a', 1) AS payload")
    with pytest.raises(TypeError, match="orderable"):
        asof_join(left, right, on="k", ts="ts")


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed by the join key → SortMergeJoin with NO
    shuffle Exchange on either side (the write-once/join-many-times
    co-location idiom). Broadcast is disabled for the assertion so the
    small test tables can't hide the bucketing behind a BHJ."""
    from nineinfra_spark.plans.sources_sinks import catalog_bucketed_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = catalog_bucketed_join(spark, SF)
        plan = _explain_str(df)
        assert "SortMergeJoin" in plan, plan[:1500]
        assert "Exchange hashpartitioning" not in plan, plan[:1500]
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_compact_small_files_reduces_to_one_per_partition(spark):
    """catalog_compact_small_files manufactures a 16-files-per-
    partition table and compacts it; the registered query's oracle
    checks content — THIS asserts the physical effect: exactly one
    parquet file per partition directory afterward, same rows."""
    import glob
    import os

    from nineinfra_spark.plans.sources_sinks import (
        WAREHOUSE,
        catalog_compact_small_files,
    )

    out = catalog_compact_small_files(spark, SF)
    assert out.count() > 0
    sfx = os.path.basename(SF).replace(".", "_")
    loc = f"{WAREHOUSE}/nine_wh_{sfx}/orders_smallfiles"
    part_dirs = [d for d in glob.glob(f"{loc}/o_orderpriority=*") if os.path.isdir(d)]
    assert part_dirs, loc
    for d in part_dirs:
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) == 1, (d, len(files))


def test_compact_multi_partition_table(spark, tmp_path):
    """compact_partitioned_table on a fresh two-partition table:
    every partition directory ends at exactly one file and no row is
    lost — exercised on a table the helper builds itself (unlike the
    registered query's orders-derived table), so the helper's
    contract is pinned independently of the query plumbing."""
    import glob

    from nineinfra_spark.sources.writers import compact_partitioned_table

    wh = str(tmp_path / "wh")
    db = "compact_edge_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{wh}/{db}'")
    tbl = f"{db}.t"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(
        f"CREATE TABLE {tbl} (k BIGINT) USING parquet PARTITIONED BY (pr STRING)"
    )
    spark.range(100).selectExpr(
        "id AS k", "CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END AS pr"
    ).repartition(8).write.mode("append").insertInto(tbl)
    loc = f"{wh}/{db}/t"
    assert len(glob.glob(f"{loc}/pr=A/*.parquet")) > 1

    compact_partitioned_table(spark, tbl, ["pr"])
    assert len(glob.glob(f"{loc}/pr=A/*.parquet")) == 1
    assert len(glob.glob(f"{loc}/pr=B/*.parquet")) == 1
    assert spark.table(tbl).count() == 100

    # Wrong partition_cols must fail loudly BEFORE any write — not
    # degenerate into a static full overwrite of a path being read.
    import pytest

    with pytest.raises(ValueError, match="declared partition columns"):
        compact_partitioned_table(spark, tbl, ["k"])
    assert spark.table(tbl).count() == 100  # untouched

    spark.sql(f"DROP TABLE {tbl}")

    # Unpartitioned table: same loud rejection.
    spark.sql(f"CREATE TABLE {tbl} (k BIGINT) USING parquet")
    spark.range(10).selectExpr("id AS k").write.mode("append").insertInto(tbl)
    with pytest.raises(ValueError, match="declared partition columns"):
        compact_partitioned_table(spark, tbl, ["k"])
    spark.sql(f"DROP TABLE {tbl}")
    spark.sql(f"DROP DATABASE {db}")


class TestKafkaPlumbing:
    """Kafka source option plumbing (no broker/connector in env — the
    same signature-level treatment as the JDBC reader; the reference's
    stream cluster type is ninecluster_types.go:40-45)."""

    def test_subscribe_mode(self):
        opts = readers.kafka_options("b1:9092,b2:9092", "events")
        assert opts == {
            "kafka.bootstrap.servers": "b1:9092,b2:9092",
            "startingOffsets": "earliest",
            "failOnDataLoss": "true",
            "subscribe": "events",
        }

    def test_pattern_and_assign_modes(self):
        assert (
            readers.kafka_options("b:9092", subscribe_pattern="ev-.*")["subscribePattern"]
            == "ev-.*"
        )
        a = readers.kafka_options("b:9092", assign='{"events":[0,1]}')
        assert a["assign"] == '{"events":[0,1]}'

    def test_exactly_one_mode_required(self):
        with pytest.raises(ValueError, match="exactly one"):
            readers.kafka_options("b:9092")
        with pytest.raises(ValueError, match="exactly one"):
            readers.kafka_options("b:9092", "t", subscribe_pattern="t.*")

    def test_offset_and_rate_options(self):
        opts = readers.kafka_options(
            "b:9092",
            "events",
            starting_offsets="latest",
            ending_offsets="latest",
            fail_on_data_loss=False,
            max_offsets_per_trigger=100_000,
            **{"kafka.security.protocol": "SASL_SSL"},
        )
        assert opts["startingOffsets"] == "latest"
        assert opts["endingOffsets"] == "latest"
        assert opts["failOnDataLoss"] == "false"
        assert opts["maxOffsetsPerTrigger"] == "100000"
        assert opts["kafka.security.protocol"] == "SASL_SSL"

    def test_load_reaches_spark_kafka_source(self, spark):
        """The reader plumbing is real: .load() reaches Spark's data-
        source resolution and fails with the documented missing-
        connector error (env-block), not a python-side error."""
        with pytest.raises(Exception, match="(?i)kafka"):
            readers.read_kafka(spark, "localhost:9092", "events")
        with pytest.raises(Exception, match="(?i)kafka"):
            readers.read_kafka(spark, "localhost:9092", "events", streaming=False)


def test_partsupp_bucketed_agg_has_no_exchange(spark):
    """The per-partkey aggregate over the bucketed partsupp table must
    plan with ZERO Exchange — the bucket layout satisfies the
    aggregation's required distribution (the materialize-once answer
    to re-deriving partsupp per query)."""
    from nineinfra_spark.plans.sources_sinks import catalog_partsupp_bucketed

    df = catalog_partsupp_bucketed(spark, SF)
    plan = _explain_str(df)
    assert "Exchange" not in plan, plan[:1500]
    assert df.count() > 0


def test_partsupp_derivation_invariants(spark):
    """The synthetic partsupp (tpch._partsupp) must satisfy the
    TPC-H-like invariants at every shipped SF: exactly 4 DISTINCT
    suppliers per part, suppkeys inside the supplier key range,
    availqty in [1, 9999], supplycost an exact DECIMAL(12,2) in
    [1.00, 1000.00). These are what q2/q9/q11/q16/q20 lean on."""
    from decimal import Decimal

    from nineinfra_spark.plans.tpch import _partsupp

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        ps = _partsupp(spark, sf_dir)
        n_part = t(spark, sf_dir, "part").count()
        n_supp = t(spark, sf_dir, "supplier").count()
        assert ps.count() == 4 * n_part
        per_part = ps.groupBy("ps_partkey").agg(
            F.count_distinct("ps_suppkey").alias("d")
        )
        assert per_part.filter(F.col("d") != 4).count() == 0
        stats = ps.agg(
            F.min("ps_suppkey"), F.max("ps_suppkey"),
            F.min("ps_availqty"), F.max("ps_availqty"),
            F.min("ps_supplycost"), F.max("ps_supplycost"),
        ).first()
        assert 0 <= stats[0] and stats[1] < n_supp
        assert 1 <= stats[2] and stats[3] <= 9999
        assert Decimal("1.00") <= stats[4] and stats[5] < Decimal("1000.00")
        assert dict(ps.dtypes)["ps_supplycost"] == "decimal(12,2)"


def test_compact_with_target_file_bytes(spark, tmp_path):
    """Size-targeted compaction (the 100 TB mode): a big partition is
    rewritten into ceil(bytes/target) files, a small one into 1 —
    never everything into one unsplittable file. Content preserved."""
    import glob

    from nineinfra_spark.sources.writers import compact_partitioned_table

    wh = str(tmp_path / "wh")
    db = "compact_size_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{wh}/{db}'")
    tbl = f"{db}.t"
    spark.sql(
        f"CREATE TABLE {tbl} (k BIGINT, payload STRING) "
        f"USING parquet PARTITIONED BY (pr STRING)"
    )
    # partition A: 20k rows with fat payloads; partition B: 50 rows
    spark.sql(
        """
        SELECT id AS k, repeat(uuid(), 8) AS payload,
               CASE WHEN id < 20000 THEN 'A' ELSE 'B' END AS pr
        FROM range(20050)
        """
    ).repartition(16).write.mode("append").insertInto(tbl)
    loc = f"{wh}/{db}/t"
    assert len(glob.glob(f"{loc}/pr=A/*.parquet")) > 1
    before = spark.table(tbl).count()

    import os

    a_bytes = sum(
        os.path.getsize(p) for p in glob.glob(f"{loc}/pr=A/*.parquet")
    )
    target = max(a_bytes // 4, 1)  # expect ~4-5 files for A, 1 for B
    compact_partitioned_table(spark, tbl, ["pr"], target_file_bytes=target)

    n_a = len(glob.glob(f"{loc}/pr=A/*.parquet"))
    n_b = len(glob.glob(f"{loc}/pr=B/*.parquet"))
    assert n_a >= 3, n_a  # big partition split across multiple files
    assert n_b == 1, n_b  # small partition compacted to one
    assert spark.table(tbl).count() == before
    spark.sql(f"DROP TABLE {tbl}")
    spark.sql(f"DROP DATABASE {db}")


def test_nanos_rebuild_quotes_awkward_column_names(spark, tmp_path):
    """r11 review finding: the nanos→timestamp rebuild interpolated
    the raw column name into F.expr — a TIMESTAMP(NANOS) column named
    'event ts' (space) or 'order' (reserved word) threw ParseException
    on a file plain spark.read.parquet handles. Backtick-quoted now."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "nanos_names")
    os.makedirs(p, exist_ok=True)
    tbl = pa.table(
        {
            "event ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns")),
            "order": pa.array([2_000_000_000_000_000_000], pa.timestamp("ns")),
        }
    )
    pq.write_table(tbl, os.path.join(p, "f.parquet"))
    back = readers.read_parquet(spark, p)
    types = dict(back.dtypes)
    assert types["event ts"].startswith("timestamp")
    assert types["order"].startswith("timestamp")
    assert back.count() == 1


def test_compact_handles_hive_escaped_partition_values(spark):
    """r11 review finding: Hive %-escapes special chars in k=v dir
    names ('a:b' → 'a%3Ab'); the byte-budget mode's string join then
    matched nothing and the overwrite would have silently dropped
    those partitions (now also guarded by a pre-overwrite row-count
    check)."""
    from nineinfra_spark.sources.writers import compact_partitioned_table

    spark.sql("DROP TABLE IF EXISTS esc_compact")
    df = spark.createDataFrame(
        [(i, "a:b" if i % 2 else "c d") for i in range(40)], "id int, k string"
    ).repartition(8)
    df.write.partitionBy("k").saveAsTable("esc_compact")
    try:
        compact_partitioned_table(
            spark, "esc_compact", ["k"], target_file_bytes=10 * 1024 * 1024
        )
        got = spark.table("esc_compact")
        assert got.count() == 40
        assert sorted(
            r["k"] for r in got.select("k").distinct().collect()
        ) == ["a:b", "c d"]
    finally:
        spark.sql("DROP TABLE IF EXISTS esc_compact")


# -- parquet schema cache ----------------------------------------------------


def _next_job_id(spark) -> int:
    n = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return n if isinstance(n, int) else n.get()


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def test_repeat_read_table_starts_no_spark_job(spark):
    """The first read of a table infers its schema (one Spark job); a
    repeat read of the same unchanged files reuses the cached schema
    and starts none."""
    first = readers.read_table(spark, SF, "nation")
    j0 = _next_job_id(spark)
    again = readers.read_table(spark, SF, "nation")
    assert again.schema == first.schema
    assert _next_job_id(spark) == j0


def test_rewritten_dir_returns_new_schema_and_rows(spark, tmp_path):
    p = str(tmp_path / "rewrite")
    spark.range(3).selectExpr("id", "id * 2 AS v").write.parquet(p)
    assert readers.read_parquet(spark, p).dtypes == [("id", "bigint"), ("v", "bigint")]

    spark.range(3).selectExpr("id", "id * 2 AS v", "'x' AS w").write.mode(
        "overwrite"
    ).parquet(p)
    back = readers.read_parquet(spark, p)
    assert back.columns == ["id", "v", "w"]
    assert _rows(back) == [(0, 0, "x"), (1, 2, "x"), (2, 4, "x")]

    spark.range(3).selectExpr("id", "id * 0.5 AS v").write.mode("overwrite").parquet(p)
    back = readers.read_parquet(spark, p)
    assert dict(back.dtypes)["v"].startswith("decimal")
    assert _rows(back) == [(0, 0), (1, 0.5), (2, 1)]


def test_file_rewritten_in_place_returns_new_schema(spark, tmp_path):
    """Same file name, new contents: only size, mtime and inode tell
    the two file sets apart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "in_place")
    os.makedirs(p)
    f = os.path.join(p, "f.parquet")
    pq.write_table(pa.table({"a": [1]}), f)
    assert readers.read_parquet(spark, p).columns == ["a"]
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), f)
    back = readers.read_parquet(spark, p)
    assert back.columns == ["a", "b"]
    assert _rows(back) == [(1, "x")]


def test_rewritten_nanos_column_is_rebuilt(spark, tmp_path):
    """A path first read with a plain int64 ``ts`` and then rewritten
    with ``ts`` as TIMESTAMP(NANOS) must come back as a timestamp, not
    as the first read's bigint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "nanos_rewrite")
    os.makedirs(p)
    ns = 1_700_000_000_123_456_789
    pq.write_table(pa.table({"ts": pa.array([ns], pa.int64())}), os.path.join(p, "a.parquet"))
    assert dict(readers.read_parquet(spark, p).dtypes)["ts"] == "bigint"

    os.remove(os.path.join(p, "a.parquet"))
    pq.write_table(
        pa.table({"ts": pa.array([ns], pa.timestamp("ns"))}), os.path.join(p, "b.parquet")
    )
    back = readers.read_parquet(spark, p)
    assert dict(back.dtypes)["ts"] == "timestamp_ntz"
    assert str(back.collect()[0]["ts"]) == "2023-11-14 22:13:20.123456"


def test_partitioned_dir_cached_read_equals_inferred_read(spark, tmp_path):
    p = str(tmp_path / "hive_part")
    spark.range(12).selectExpr("id", "id % 3 AS p", "cast(id AS string) AS s").write.partitionBy(
        "p"
    ).parquet(p)
    fresh = spark.read.parquet(p)
    readers.read_parquet(spark, p)
    j0 = _next_job_id(spark)
    cached = readers.read_parquet(spark, p)
    assert _next_job_id(spark) == j0
    assert cached.schema == fresh.schema
    assert cached.columns == fresh.columns == ["id", "s", "p"]
    assert _rows(cached) == _rows(fresh)
    assert _rows(cached.filter("p = 1")) == _rows(fresh.filter("p = 1"))


def test_schema_confs_key_the_cache_per_session(spark, tmp_path):
    """A session with a different ``binaryAsString`` must infer its own
    schema, not reuse the entry another session stored."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # written without Spark's own schema in the footer, which would
    # otherwise override binaryAsString
    p = str(tmp_path / "binary")
    os.makedirs(p)
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), os.path.join(p, "f.parquet"))
    other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert dict(readers.read_parquet(spark, p).dtypes)["b"] == "binary"
    as_string = readers.read_parquet(other, p)
    assert dict(as_string.dtypes)["b"] == "string"
    assert as_string.collect()[0]["b"] == "ab"
    assert dict(readers.read_parquet(spark, p).dtypes)["b"] == "binary"


def test_schema_cache_keeps_one_entry_per_path_within_its_bound(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(readers, "SCHEMA_CACHE_MAX", 2)
    paths = [str(tmp_path / n) for n in "abc"]
    for p in paths:
        spark.range(2).write.parquet(p)
        readers.read_parquet(spark, p)
    assert list(readers._schemas)[-2:] == paths[1:]
    assert paths[0] not in readers._schemas
    spark.range(2).selectExpr("id", "1 AS x").write.mode("overwrite").parquet(paths[2])
    assert readers.read_parquet(spark, paths[2]).columns == ["id", "x"]
    assert len(readers._schemas) == 2
    assert readers._schemas[paths[2]].raw.fieldNames() == ["id", "x"]


def test_concurrent_readers_all_get_the_right_schema(spark, tmp_path):
    """More threads than cores race on the same paths, hits and misses
    mixed; a double inference is harmless and every read is right."""
    import sys
    import threading

    paths = {}
    for k in range(3):
        p = str(tmp_path / f"p{k}")
        spark.range(2).selectExpr("id", *(f"id AS c{i}" for i in range(k))).write.parquet(p)
        paths[p] = ["id"] + [f"c{i}" for i in range(k)]
    errors = []

    def work():
        try:
            for _ in range(3):
                for p, cols in paths.items():
                    assert readers.read_parquet(spark, p).columns == cols
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    for p, cols in paths.items():
        assert readers._schemas[p].raw.fieldNames() == cols
