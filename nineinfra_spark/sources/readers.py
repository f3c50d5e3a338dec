"""File-format readers (SURVEY.md §2.1).

The reference platform reads every format through the engine it
provisions (Spark behind Kyuubi, ``internal/controller/kyuubi.go:189-203``)
over s3a storage (``kyuubi.go:100-106``); these wrappers are the same
capabilities as plain in-process reads. Projection and predicate
pushdown stay intact because nothing here forces materialization.
"""

from __future__ import annotations

import os
import stat
import threading
import warnings
from collections import OrderedDict
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: conf that lets Spark read INT64 TIMESTAMP(NANOS) parquet columns as
#: long instead of failing (Spark has no nanosecond timestamp type).
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

#: Session confs that change Spark's parquet -> Spark schema
#: conversion; their values are part of every schema-cache key.
SCHEMA_CONFS = (
    NANOS_CONF,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

#: LRU bound of the schema cache (one entry per local path).
SCHEMA_CACHE_MAX = 256


class _Schema(NamedTuple):
    files: tuple  # _file_signature of the path
    nanos: frozenset[str] | None  # _nanos_ts_columns of those files
    confs: tuple  # SCHEMA_CONFS values of the inferring session
    raw: T.StructType  # Spark's inferred (pre-rebuild) schema


_schemas: OrderedDict[str, _Schema] = OrderedDict()
_schemas_lock = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with nanos-timestamp tolerance and a schema cache.

    ``events.parquet`` in the testdata stores ``ts`` as INT64
    TIMESTAMP(NANOS), which Spark's reader rejects by default. The
    rebuild is gated on the parquet footer's own logical-type
    annotation (a metadata-only pyarrow read, no data scan), so a
    plain bigint column — even one named ``ts`` holding epoch millis —
    passes through untouched. Annotated columns are read as raw long
    (session conf) and rebuilt as ``timestamp_ntz`` by truncating
    nanos → micros, exactly like DuckDB's reader, so both engines see
    identical values.

    Schema cache: Spark infers a parquet schema with one job per read.
    A local path's inferred schema and nanos column set are kept
    process-wide, keyed on the absolute path, the sorted
    ``(relative path, size, mtime_ns, inode)`` of every file under it,
    and the session's ``SCHEMA_CONFS`` values; a repeat read of
    unchanged files passes the kept schema to Spark and starts no job.
    Rewriting the files or reading from a session with other schema
    confs infers afresh. One entry per path, LRU-bounded at
    ``SCHEMA_CACHE_MAX``.

    CAVEAT (remote paths): s3a:// and other non-local schemes are
    never cached (no local file signature), and their footer cannot be
    probed, so NO rebuild runs — nanos-annotated columns come back as
    raw BIGINT epoch-nanos, a schema divergence from the local-path
    read of the same file. A ``UserWarning`` is emitted; callers on
    remote storage that expect nanosecond timestamps must rebuild
    those columns themselves (see ``_rebuild_nanos_ts`` for the
    truncation expression).
    """
    raw, nanos_cols = _parquet_schema(spark, path)
    reader = spark.read if raw is None else spark.read.schema(raw)
    return _rebuild_nanos_ts(reader.parquet(path), nanos_cols)


def _parquet_schema(
    spark: SparkSession, path: str
) -> tuple[T.StructType | None, frozenset[str]]:
    """Spark's raw inferred schema of ``path`` (``None`` for an
    uncacheable remote path) and the footer's TIMESTAMP(NANOS)
    columns, from the schema cache — inferring once on a miss. Sets
    ``NANOS_CONF`` when those columns need it. Concurrent misses may
    both infer; the later store wins with an equal entry."""
    local = _local_path(path)
    files = _file_signature(local) if local is not None else None
    with _schemas_lock:
        hit = _schemas.get(local) if files is not None else None
    if hit is not None and hit.files != files:
        hit = None
    nanos_cols = hit.nanos if hit is not None else _nanos_ts_columns(path)
    if nanos_cols is None:
        # Footer unprobeable (path on a filesystem pyarrow can't open,
        # e.g. an s3a:// URI): set the conf defensively so a scan of
        # nanos-annotated columns surfaces them as raw long instead of
        # failing outright. No rebuild — the column set is unknown.
        warnings.warn(
            f"read_parquet({path!r}): parquet footer not probeable from the "
            f"driver; any TIMESTAMP(NANOS) column will read as raw BIGINT "
            f"(no timestamp rebuild). Rebuild nanos columns downstream if "
            f"this path contains them.",
            UserWarning,
            stacklevel=3,
        )
        spark.conf.set(NANOS_CONF, "true")
    elif nanos_cols:
        spark.conf.set(NANOS_CONF, "true")
    if files is None:
        return None, nanos_cols or frozenset()
    confs = tuple(spark.conf.get(k, None) for k in SCHEMA_CONFS)
    if hit is None or hit.confs != confs:
        hit = _Schema(files, nanos_cols, confs, spark.read.parquet(path).schema)
    with _schemas_lock:
        _schemas[local] = hit
        _schemas.move_to_end(local)
        while len(_schemas) > SCHEMA_CACHE_MAX:
            _schemas.popitem(last=False)
    return hit.raw, nanos_cols or frozenset()


def _local_path(path: str) -> str | None:
    """Absolute local filesystem path of ``path``; ``None`` for a
    remote scheme (s3a://, hdfs://)."""
    if path.startswith("file://"):
        path = path[len("file://"):]
    elif "://" in path:
        return None
    return os.path.abspath(path)


def _file_signature(path: str) -> tuple | None:
    """Sorted ``(relative path, size, mtime_ns, inode)`` of the file at
    ``path`` or of every file under it (a symlinked file is described
    by its target, which is what Spark reads); ``None`` when it cannot
    be listed."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
        sig = []
        for root, _dirs, names in os.walk(path):
            for name in names:
                f = os.path.join(root, name)
                st = os.stat(f)
                sig.append(
                    (os.path.relpath(f, path), st.st_size, st.st_mtime_ns, st.st_ino)
                )
    except OSError:
        return None
    return tuple(sorted(sig))


def _nanos_ts_columns(path: str) -> frozenset[str] | None:
    """Names of columns annotated TIMESTAMP(NANOS) in the parquet
    footer (file or directory). Driver-side footer read only — cost is
    one metadata fetch, never a data scan. ``read_parquet`` keeps the
    result in its schema cache, keyed on the files' signature.

    Returns ``None`` when the footer cannot be probed at all (no
    pyarrow, or a path on a filesystem pyarrow can't open) — distinct
    from "probed, no nanos columns", so the caller can fall back to
    setting the conf rather than silently disabling the rebuild. A
    genuinely missing/corrupt LOCAL path still raises, like the Spark
    read after it would."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as pads
    except ImportError:
        return None
    if _local_path(path) is None:
        # Remote scheme (s3a://, hdfs://): Spark's Hadoop connectors
        # read these, but pyarrow here has no credentials/connector —
        # don't even attempt, report unknown.
        return None
    try:
        schema = pads.dataset(path, format="parquet").schema
    except FileNotFoundError:
        raise
    except (OSError, ValueError, pa.lib.ArrowException):
        return None
    return frozenset(
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def _rebuild_nanos_ts(df: DataFrame, nanos_cols: set[str]) -> DataFrame:
    """Convert footer-annotated TIMESTAMP(NANOS) columns (surfaced as
    bigint under ``nanosAsLong``) back to timestamp_ntz."""
    dtypes = dict(df.dtypes)
    for c in nanos_cols:
        if dtypes.get(c) == "bigint":
            # backtick-quote the name (doubling embedded backticks —
            # the full quoting rule, same as operators/vacuum._q):
            # unquoted interpolation breaks on columns with spaces/
            # hyphens/reserved words that plain spark.read.parquet
            # handles fine (r11 review finding)
            q = "`" + c.replace("`", "``") + "`"
            df = df.withColumn(
                c,
                F.expr(
                    "timestamp_ntz'1970-01-01 00:00:00' + "
                    f"make_dt_interval(0, 0, 0, cast({q} div 1000 as decimal(20,0)) / 1000000)"
                ),
            )
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table ``{sf_dir}/{name}.parquet``."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan. Prefer an explicit schema at scale — ``inferSchema``
    triggers an extra full pass over the files."""
    reader = spark.read.options(header=str(header).lower(), **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None, **options: str
) -> DataFrame:
    """Line-delimited JSON scan; explicit schema avoids the inference pass."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar scan (vectorized reader, pushdown like parquet)."""
    return spark.read.orc(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Text scan: one string column ``value`` per line."""
    return spark.read.text(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC source (the platform ships PostgreSQL 16 and a JDBC auth
    path — ``internal/controller/postgresql.go:276-355``,
    ``kyuubi.go:55-64``).

    At scale, always pass ``partition_column`` + bounds: without them
    Spark reads the whole table through ONE connection/task. Exercised
    end-to-end against embedded Derby (on Spark's classpath) by the
    registered query ``src_jdbc_roundtrip``; against a networked RDBMS
    only the url/driver differ.
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound and upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def kafka_options(
    bootstrap_servers: str,
    topic: str | None = None,
    *,
    subscribe_pattern: str | None = None,
    assign: str | None = None,
    starting_offsets: str = "earliest",
    ending_offsets: str | None = None,
    fail_on_data_loss: bool = True,
    max_offsets_per_trigger: int | None = None,
    **options: str,
) -> dict[str, str]:
    """Build the option map for Spark's Kafka source (pure function —
    unit-testable without a broker).

    Exactly one subscription mode must be given: ``topic`` (comma-
    separated list → ``subscribe``), ``subscribe_pattern``, or
    ``assign`` (JSON partition map). ``starting_offsets`` defaults to
    ``earliest`` — a batch read of a topic means "what's there", and a
    stream's first run starts from the beginning unless the checkpoint
    says otherwise (subsequent runs always resume from the checkpoint,
    ignoring this option).

    Scale posture: one Spark input partition per Kafka topic-partition
    — parallelism is decided by the topic layout, not the reader;
    ``max_offsets_per_trigger`` caps per-microbatch intake so a replay
    of a deep topic backlog doesn't produce one giant first batch.
    """
    modes = {
        "subscribe": topic,
        "subscribePattern": subscribe_pattern,
        "assign": assign,
    }
    given = {k: v for k, v in modes.items() if v is not None}
    if len(given) != 1:
        raise ValueError(
            f"exactly one of topic/subscribe_pattern/assign required, got {sorted(given) or 'none'}"
        )
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
        **given,
    }
    if ending_offsets is not None:
        opts["endingOffsets"] = ending_offsets
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    opts.update(options)
    return opts


def read_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str | None = None,
    streaming: bool = True,
    **kwargs,
) -> DataFrame:
    """Kafka source (the platform's stream ingestion once the
    reference's ``stream`` cluster type lands,
    ``api/v1alpha1/ninecluster_types.go:40-45``).

    ``streaming=True`` → ``readStream`` (Structured Streaming);
    ``False`` → bounded batch read of the current topic contents.
    Output columns follow the Spark Kafka source schema: ``key`` /
    ``value`` (binary), ``topic``, ``partition``, ``offset``,
    ``timestamp``, ``timestampType`` — callers cast ``value`` and
    apply a schema (``F.from_json`` etc.).

    ENV-BLOCKED in this container: the ``spark-sql-kafka`` connector
    jar and a broker are absent, so ``.load()`` raises Spark's
    missing-data-source error; the option plumbing above it is real
    and unit-tested (same treatment as the JDBC reader).
    """
    opts = kafka_options(bootstrap_servers, topic, **kwargs)
    reader = (spark.readStream if streaming else spark.read).format("kafka")
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()
