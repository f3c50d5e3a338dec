"""Engine façade: SparkSession lifecycle + warehouse + catalog.

Mirrors what the reference operator does with Kubernetes resources
(reconcile a NineCluster into Kyuubi/Spark/Metastore/MinIO —
``internal/controller/ninecluster_controller.go:58-84``) as a
deterministic in-process initialization:

- warehouse root            <- ``DataHouseDir`` (``api/v1alpha1/ninecluster_types.go:29``)
- Spark conf construction   <- ``constructSparkConf`` (``internal/controller/kyuubi.go:91-125``)
- feature flags / profiles  <- ``FillClustersInfo`` (``internal/controller/common.go:198-247``)
- s3a connector conf        <- ``internal/controller/kyuubi.go:100-106``

Scale posture: every default here is chosen so the same plan that
passes tests on ``local[32]`` survives a 1000-executor cluster —
AQE on (runtime coalesce + skew-join splitting), broadcast threshold
explicit, partition-size caps, no driver-side state.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class EngineConfig:
    """Session profile (≙ the reference's NineCluster spec + feature flags)."""

    app_name: str = "nineinfra_spark"
    master: str | None = None  # default: local[N] from SPARK_GRAFT_CPUS
    shuffle_partitions: int | None = None  # default: matched to cores locally
    warehouse_dir: str | None = None  # ≙ /nineinfra/datahouse
    # Persistent catalog (≙ the reference's Hive Metastore role,
    # ``internal/controller/metastore.go:105-114``): managed tables
    # registered durably, DROP TABLE removes managed locations, and a
    # later session sees the same catalog. Local deployment uses the
    # embedded derby metastore under ``metastore_dir``; a real cluster
    # points ``hive.metastore.uris`` at the shared metastore instead
    # (via ``extra_conf``). NOTE: catalog implementation is fixed at
    # JVM/session creation — one engine profile per process.
    hive_metastore: bool = False
    metastore_dir: str | None = None  # default: <warehouse_dir>/metastore_db
    # SQL gateway (≙ the Kyuubi THRIFT_BINARY frontend,
    # ``ninecluster_metadata.go:21-28``): when set, ``open()`` starts
    # an in-JVM HiveServer2-protocol endpoint on this port; any
    # JDBC/thrift client can then run SQL against the engine session
    # (shared temp views / UDFs via thriftServer.singleSession).
    thrift_port: int | None = None
    # Thrift transport mode: "binary" (default; the Kyuubi
    # THRIFT_BINARY frontend on 10009) or "http" (the THRIFT_HTTP
    # frontend on 10010, ``ninecluster_metadata.go:22-27`` — thrift
    # RPC wrapped in HTTP POSTs to /cliservice, the mode proxies and
    # load balancers can route). One in-JVM HiveThriftServer2 serves
    # ONE mode; the reference runs both by fronting two Kyuubi
    # frontends on the same engine, which maps here to two Engine
    # processes or binary+REST in one.
    thrift_transport: str = "binary"
    # Thrift-frontend auth (≙ kyuubi.authentication=JDBC with the
    # salted-MD5 users lookup, ``kyuubi.go:55-64``): plaintext
    # ``{username: password}`` — stored salted-MD5, enforced on the
    # wire via hive.server2.authentication=CUSTOM with an in-env
    # compiled PasswdAuthenticationProvider (``thrift_auth.py``).
    # None = unauthenticated frontend (the reference's non-JDBC mode).
    thrift_auth_users: dict[str, str] | None = None
    # REST SQL frontend (≙ the Kyuubi REST frontend on 10099,
    # ``ninecluster_metadata.go:22-27``): when set, ``open()`` serves
    # ``POST /api/v1/sql`` on this port (0 = OS-assigned; read back
    # via ``Engine.rest_gateway.port``).
    rest_port: int | None = None
    # REST auth (≙ the reference's JDBC-auth mode,
    # ``kyuubi.go:55-64``): name of the salted-MD5 users table
    # (``auth.init_users_table``). When set alongside ``rest_port``,
    # ``open()`` wraps the REST frontend in HTTP Basic against it;
    # None = open frontend (the reference's non-JDBC mode).
    rest_auth_table: str | None = None
    # doAs impersonation ACL for the REST frontend (≙ Kyuubi's
    # hive.server2.proxy.user path, ``kyuubi.go:55-64`` — the
    # authorization/isolation half; the Hadoop proxy-user
    # infrastructure half is env-blocked): {admin: "*" | iterable of
    # target users}. Requires ``rest_auth_table`` (identity must be
    # proven before it can be delegated).
    rest_proxy_acl: dict | None = None
    # MySQL-protocol frontend (≙ the Doris FE serving port,
    # ``doris.go:20-28``): when set, ``open()`` serves the MySQL text
    # protocol on this port (0 = OS-assigned; read back via
    # ``Engine.mysql_gateway.port``).
    mysql_port: int | None = None
    # MySQL-frontend auth: name of the salted-MD5 users table (same
    # store as ``rest_auth_table``); enforced via AuthSwitch to
    # mysql_clear_password. None = open frontend (the Doris default
    # root/"" model, ``doris.go:26-27``). The frontend is plaintext
    # loopback-only (no TLS), so real drivers need their cleartext
    # opt-in flag (--enable-cleartext-plugin / enabledCleartextPlugin
    # / auth_plugin='mysql_clear_password') — see the
    # nineinfra_spark.mysql_wire module docstring.
    mysql_auth_table: str | None = None
    # Open-time crash recovery (≙ the log-replay a manifest lakehouse
    # performs on open): table names whose rename-protocol state is
    # replayed right after the catalog comes up —
    # ``recover_published_table`` (fixed __merge_stage/__merge_old
    # names) then ``recover_versioned_table`` (uuid stages + __v{n}
    # archives). A clean table is a no-op; a crashed publish is rolled
    # forward/back per the protocol's commit point. Empty = no replay.
    recover_tables: tuple[str, ...] = ()
    # Service-discovery namespace (≙ the Kyuubi-HA ZooKeeper namespace,
    # ``zookeeper.go:104-141``): a shared directory where this engine
    # registers an ephemeral TTL-heartbeat entry on open() and
    # deregisters on close(); clients discover live engines via
    # ``discovery.ServiceRegistry(root).pick()``. None = standalone
    # engine, no registration.
    discovery_root: str | None = None
    # Engine id within the namespace (defaults to app_name-pid).
    discovery_engine_id: str | None = None
    # Entry ttl — an engine that stops heartbeating (crash, hang) is
    # dead to clients after this many seconds, like a ZK session
    # timeout. Callers keep it live via Engine.heartbeat().
    discovery_ttl_s: float = 10.0
    # 64 MB: small-side tables up to this size replicate instead of shuffling.
    broadcast_threshold: str = "64m"
    # Cap bytes per input split so one task's scan fits executor memory
    # even when parquet files are huge (100 TB posture).
    max_partition_bytes: str = "128m"
    session_timezone: str = "UTC"
    # s3a connector options (≙ kyuubi.go:100-106); applied only if set.
    s3a: dict[str, str] = field(default_factory=dict)
    extra_conf: dict[str, str] = field(default_factory=dict)

    def resolved_master(self) -> str:
        if self.master:
            return self.master
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
        return f"local[{cpus}]"

    def resolved_shuffle_partitions(self) -> int:
        if self.shuffle_partitions:
            return self.shuffle_partitions
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
        try:
            return max(int(cpus), 4)
        except ValueError:
            return 32


def merge_required_conf(
    extra_conf: dict, required: dict[str, str]
) -> dict[str, str]:
    """User ``extra_conf`` merged with platform-REQUIRED confs (the
    thrift-auth classpath/options): a user value naming the same key
    MERGES with — never replaces — the required one. A plain override
    of ``extraClassPath``/``extraJavaOptions`` silently dropped the
    auth jar / ``-Dnineinfra.auth.file`` and every thrift login failed
    with nothing pointing at the conf collision (r11 review finding).
    Required values lead (classpath order decides class resolution);
    non-mergeable keys resolve to the required value."""
    merged = dict(extra_conf)
    for k, v in required.items():
        if k in merged:
            if k.endswith(".extraClassPath"):
                merged[k] = f"{v}{os.pathsep}{merged[k]}"
            elif k.endswith(".extraJavaOptions"):
                merged[k] = f"{v} {merged[k]}"
            else:
                merged[k] = v
        else:
            merged[k] = v
    return merged


class Engine:
    """In-process analytics engine: session + warehouse + table registry."""

    def __init__(self, config: EngineConfig | None = None):
        self.config = config or EngineConfig()
        self._spark: SparkSession | None = None
        self.rest_gateway = None  # set by open() when rest_port configured
        self.mysql_gateway = None  # set by open() when mysql_port configured
        self.registration = None  # set by open() when discovery_root configured

    # -- lifecycle ---------------------------------------------------------
    def open(self) -> "Engine":
        """Build the session and start the configured frontends.

        Failure-atomic (r12 review finding): a frontend failing
        mid-open (bad port, auth table missing) used to leak every
        frontend started before it — a running REST gateway serving a
        session its owner believes never opened. On any error the
        already-started gateways and the discovery registration are
        stopped before the exception propagates; the Spark session is
        stopped only if THIS open created it (``getOrCreate`` may have
        returned a pre-existing session that other code owns)."""
        pre_existing = SparkSession.getActiveSession() is not None
        try:
            return self._open_inner()
        except BaseException:
            if self.registration is not None:
                try:
                    self.registration.deregister()
                except Exception:
                    pass
                self.registration = None
            for gw_attr in ("rest_gateway", "mysql_gateway"):
                gw = getattr(self, gw_attr)
                if gw is not None:
                    try:
                        gw.stop()
                    except Exception:
                        pass
                    setattr(self, gw_attr, None)
            if self._spark is not None and not pre_existing:
                try:
                    self._spark.stop()
                except Exception:
                    pass
                self._spark = None
            raise

    def _open_inner(self) -> "Engine":
        cfg = self.config
        builder = (
            SparkSession.builder.master(cfg.resolved_master())
            .appName(cfg.app_name)
            .config("spark.sql.shuffle.partitions", str(cfg.resolved_shuffle_partitions()))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.autoBroadcastJoinThreshold", cfg.broadcast_threshold)
            .config("spark.sql.files.maxPartitionBytes", cfg.max_partition_bytes)
            .config("spark.sql.session.timeZone", cfg.session_timezone)
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            # Nanos-parquet tolerance set up-front so session behavior is
            # not order-dependent on which table gets read first.
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        )
        if cfg.warehouse_dir:
            builder = builder.config("spark.sql.warehouse.dir", cfg.warehouse_dir)
        if cfg.hive_metastore:
            ms_dir = cfg.metastore_dir or os.path.join(
                cfg.warehouse_dir or "/tmp/nineinfra_spark_warehouse", "metastore_db"
            )
            builder = builder.enableHiveSupport().config(
                "javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={ms_dir};create=true",
            )
        for k, v in cfg.s3a.items():
            builder = builder.config(f"spark.hadoop.fs.s3a.{k}", v)
        auth_conf: dict[str, str] = {}
        if cfg.thrift_port is not None:
            if cfg.thrift_transport == "http":
                builder = (
                    builder.config("hive.server2.transport.mode", "http")
                    .config("hive.server2.thrift.http.port", str(cfg.thrift_port))
                    .config("hive.server2.thrift.http.path", "cliservice")
                )
            elif cfg.thrift_transport == "binary":
                builder = builder.config(
                    "hive.server2.thrift.port", str(cfg.thrift_port)
                )
            else:
                raise ValueError(
                    f"thrift_transport must be 'binary' or 'http', "
                    f"got {cfg.thrift_transport!r}"
                )
            builder = builder.config(
                "spark.sql.hive.thriftServer.singleSession", "true"
            )
            if cfg.thrift_auth_users is not None:
                from nineinfra_spark.thrift_auth import prepare_thrift_auth

                # The workdir feeds the driver classpath and holds the
                # credential file: a predictable shared /tmp path could
                # be pre-created by another local user (classpath
                # injection). Engine-owned warehouse dir when we have
                # one; otherwise an unpredictable mkdtemp (0700) —
                # secure_workdir() re-verifies ownership either way.
                if cfg.warehouse_dir:
                    workdir = os.path.join(cfg.warehouse_dir, "_thrift_auth")
                else:
                    import tempfile

                    workdir = tempfile.mkdtemp(prefix="nineinfra_thrift_auth_")
                auth_conf = prepare_thrift_auth(workdir, cfg.thrift_auth_users)
        for k, v in merge_required_conf(cfg.extra_conf, auth_conf).items():
            builder = builder.config(k, v)
        self._spark = builder.getOrCreate()
        self._spark.sparkContext.setLogLevel("WARN")
        if cfg.recover_tables:
            # Open-time replay BEFORE any frontend serves queries: a
            # crashed publish must not be observable through the
            # gateways (see operators/merge.py recovery contracts).
            from nineinfra_spark.operators.merge import (
                recover_published_table,
                recover_versioned_table,
            )

            for tbl in cfg.recover_tables:
                for recover in (recover_published_table, recover_versioned_table):
                    try:
                        recover(self._spark, tbl)
                    except RuntimeError:
                        # "nothing recoverable" from one protocol's
                        # viewpoint is normal: the other protocol may
                        # own the state, or the table simply doesn't
                        # exist yet (first boot of a fresh warehouse).
                        pass
        if cfg.thrift_port is not None:
            from nineinfra_spark.gateway import start_thrift_gateway

            start_thrift_gateway(self._spark, cfg.thrift_port)
        if cfg.rest_port is not None:
            from nineinfra_spark.rest import start_rest_gateway

            auth = None
            if cfg.rest_auth_table is not None:
                from nineinfra_spark.auth import UserStore

                auth = UserStore(self._spark, table=cfg.rest_auth_table)
            self.rest_gateway = start_rest_gateway(
                self._spark,
                cfg.rest_port,
                auth=auth,
                proxy_acl=cfg.rest_proxy_acl,
            )
        if cfg.mysql_port is not None:
            from nineinfra_spark.mysql_wire import start_mysql_gateway

            mysql_auth = None
            if cfg.mysql_auth_table is not None:
                from nineinfra_spark.auth import UserStore

                mysql_auth = UserStore(self._spark, table=cfg.mysql_auth_table)
            self.mysql_gateway = start_mysql_gateway(
                self._spark, cfg.mysql_port, auth=mysql_auth
            )
        if cfg.discovery_root is not None:
            from nineinfra_spark.discovery import ServiceRegistry

            endpoint = "local://in-process"
            if self.rest_gateway is not None:
                endpoint = f"http://127.0.0.1:{self.rest_gateway.port}"
            elif cfg.thrift_port is not None:
                endpoint = f"sts://127.0.0.1:{cfg.thrift_port}"
            engine_id = (
                cfg.discovery_engine_id or f"{cfg.app_name}-{os.getpid()}"
            )
            self.registration = ServiceRegistry(
                cfg.discovery_root, ttl_s=cfg.discovery_ttl_s
            ).register(engine_id, endpoint, {"app": cfg.app_name})
        return self

    def heartbeat(self, load: int = 0) -> None:
        """Refresh this engine's discovery entry (no-op when discovery
        is off). Call from the host's liveness loop; an engine that
        stops calling this expires for clients after discovery_ttl_s."""
        if self.registration is not None:
            self.registration.heartbeat(load=load)

    def close(self) -> None:
        """Teardown mirror of ``open``'s failure-atomicity: every
        component is stopped even when an earlier stop raises (a
        wedged gateway must not leak the JVM or the other frontends);
        the first error propagates after everything was attempted —
        except that a control-flow interrupt (KeyboardInterrupt /
        SystemExit, any non-``Exception`` BaseException) anywhere in
        the sequence outranks an earlier ordinary failure: swallowing
        the user's Ctrl-C because a gateway happened to error first
        would turn an interactive abort into a hang-looking stall.
        The losing errors ride along as ``__notes__`` entries on the
        raised exception so nothing is silently dropped from the
        traceback (not ``__context__`` links — see the inline
        comment)."""
        errs: list[BaseException] = []

        def _do(fn) -> None:
            try:
                fn()
            except BaseException as exc:  # noqa: BLE001 — collected, re-raised
                errs.append(exc)

        if self.registration is not None:
            _do(self.registration.deregister)
            self.registration = None
        if self.rest_gateway is not None:
            _do(self.rest_gateway.stop)
            self.rest_gateway = None
        if self.mysql_gateway is not None:
            _do(self.mysql_gateway.stop)
            self.mysql_gateway = None
        if self._spark is not None:
            _do(self._spark.stop)
            self._spark = None
        if errs:
            # prefer the first interrupt-class error (never swallow a
            # Ctrl-C behind an earlier component failure); the losers
            # ride along as __notes__ rather than __context__ links —
            # close() may itself run inside an except block, where
            # Python has already context-linked each caught error to
            # the in-flight one, and re-linking could cycle the chain
            primary = next(
                (e for e in errs if not isinstance(e, Exception)), errs[0]
            )
            for other in errs:
                if other is not primary:
                    primary.add_note(
                        f"[engine.close] also raised: {other!r}"
                    )
            raise primary

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            self.open()
        assert self._spark is not None
        return self._spark

    # -- SQL / catalog entry points (≙ the Kyuubi gateway role) -------------
    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        return self.spark.read.table(name)

    def register_dir(self, sf_dir: str, tables: tuple[str, ...] = TPCH_TABLES) -> None:
        """Register one temp view per parquet table under ``sf_dir``."""
        register_testdata(self.spark, sf_dir, tables)

    # -- IO façade (≙ the platform's storage formats over s3a) --------------
    def read_parquet(self, path: str) -> DataFrame:
        from nineinfra_spark.sources import readers

        return readers.read_parquet(self.spark, path)

    def save_as_table(self, df: DataFrame, name: str, mode: str = "error",
                      partition_by=None) -> None:
        from nineinfra_spark.sources import writers

        writers.save_as_table(df, name, mode=mode, partition_by=partition_by)

    # -- serve profile (≙ the Doris accelerated-OLAP role) ------------------
    def pin_hot_tables(self, names: tuple[str, ...] | list[str],
                       eager: bool = True) -> None:
        """Pin catalog tables/views in executor memory for repeated
        low-latency serving — the reference's Doris tier
        (``internal/controller/doris.go:64-140``: FE/BE nodes caching
        hot tables in front of the lakehouse) expressed as Spark's
        columnar in-memory cache. Subsequent plans over these names
        read ``InMemoryTableScan`` instead of re-scanning parquet.

        ``eager=True`` materializes now (serving wants warm caches,
        not first-query stalls). Storage level is MEMORY_AND_DISK:
        at 100 TB you pin DIMENSIONS and hot aggregates, never raw
        facts — spill keeps an oversized pin from evicting the JVM.
        """
        for n in names:
            self.spark.catalog.cacheTable(n)
            if eager:
                self.spark.table(n).count()

    def unpin_tables(self, names: tuple[str, ...] | list[str]) -> None:
        for n in names:
            self.spark.catalog.uncacheTable(n)


def register_testdata(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TPCH_TABLES
) -> None:
    """Register each ``{sf_dir}/{t}.parquet`` as temp view ``t``.

    Uses the nanos-aware reader so ``events`` gets the same ts
    semantics through the Engine API as through the query path.
    """
    from nineinfra_spark.sources.readers import read_table

    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            read_table(spark, sf_dir, t).createOrReplaceTempView(t)


_DEFAULT_ENGINE: Engine | None = None


def get_spark() -> SparkSession:
    """Process-wide default session with engine defaults applied."""
    global _DEFAULT_ENGINE
    if _DEFAULT_ENGINE is None:
        _DEFAULT_ENGINE = Engine().open()
    return _DEFAULT_ENGINE.spark
