"""Registry mapping query name -> (spark, sf_dir) -> DataFrame, plus
an optional DuckDB oracle SQL string for differential correctness.

Contract (driver): the Spark result and the oracle result are compared
at sf0.01 by row count + schema + order-insensitive value hash, with
columns sorted by name. Therefore every registered query must
(a) alias every computed column identically on both sides and
(b) produce bit-stable values (round floating aggregates; use
deterministic tie-breaks in any top-k).

``driver_vhash`` is that value hash and ``duck_connect`` that oracle
session; ``scripts/check_query.py`` and ``tests/conftest.py`` share them.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    tags: tuple[str, ...] = ()
    min_spark: str | None = None  # engine floor, e.g. "4.0" — see query()


class SparkVersionUnsupported(RuntimeError):
    """Raised when a query needs a newer Spark than the session runs.

    The reference platform pins Spark 3.2.4
    (``internal/controller/ninecluster_metadata.go:108-117``); this
    repo targets Spark 4 and registers some Spark-4-only surface
    (recursive CTE, ``|>`` pipes, SQL scripting, VARIANT, Python
    DataSource, Python UDTF). Version-gated queries degrade into this
    clear error on an older engine instead of an opaque parser/
    analyzer failure mid-plan."""


def _version_tuple(v: str) -> tuple[int, ...]:
    parts = []
    for p in v.split("."):
        digits = "".join(ch for ch in p if ch.isdigit())
        if not digits:
            break
        parts.append(int(digits))
    return tuple(parts[:2])


_REGISTRY: dict[str, RegisteredQuery] = {}

#: Explicit verification-priority prefix for the exported ordering
#: (set once by ``plans/__init__``). The driver's CORRECTNESS gate
#: checks a bounded window of queries in ``queries()`` order, so the
#: queries that most need a fresh differential row must come first —
#: per-query control here beats reordering module imports.
_ORDER: list[str] = []


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    min_spark: str | None = None,
):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` as a query.

    ``min_spark`` declares the engine floor for features newer than
    the reference's pinned Spark 3.2.4 — the wrapper checks
    ``spark.version`` BEFORE building any plan and raises
    :class:`SparkVersionUnsupported` with the requirement spelled out,
    so the registry itself loads (and every other query runs) cleanly
    under an older session."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        wrapped = fn
        if min_spark is not None:

            def wrapped(spark, sf_dir, _fn=fn):  # noqa: F811
                if _version_tuple(spark.version) < _version_tuple(min_spark):
                    raise SparkVersionUnsupported(
                        f"query '{name}' needs Spark >= {min_spark} "
                        f"(session runs {spark.version}); the feature it "
                        f"exercises does not exist on the reference's "
                        f"pinned Spark 3.2.4 line"
                    )
                return _fn(spark, sf_dir)

            wrapped.__name__ = fn.__name__
            wrapped.__doc__ = fn.__doc__

        _REGISTRY[name] = RegisteredQuery(
            name=name, fn=wrapped, oracle=oracle, tags=tags, min_spark=min_spark
        )
        return fn

    return deco


def set_order(priority: list[str]) -> None:
    """Pin the leading export order. Every name must exist — a stale
    entry (e.g. after a query rename) fails loudly here rather than
    silently burning a verification slot."""
    unknown = sorted(set(priority) - set(_REGISTRY))
    if unknown:
        raise ValueError(f"set_order: unknown query names {unknown}")
    if len(set(priority)) != len(priority):
        dupes = sorted({n for n in priority if priority.count(n) > 1})
        raise ValueError(f"set_order: duplicate names {dupes}")
    _ORDER[:] = priority


def _ordered_names() -> list[str]:
    head = set(_ORDER)
    return list(_ORDER) + [n for n in _REGISTRY if n not in head]


def queries() -> dict[str, QueryFn]:
    return {name: _REGISTRY[name].fn for name in _ordered_names()}


def oracles() -> dict[str, str]:
    return {
        name: _REGISTRY[name].oracle
        for name in _ordered_names()
        if _REGISTRY[name].oracle is not None
    }


def get(name: str) -> RegisteredQuery:
    return _REGISTRY[name]


def names() -> list[str]:
    return _ordered_names()


def driver_rows(df) -> list[str]:
    """A pandas frame's rows as the driver compares them: columns sorted
    by name, every cell stringified, rows sorted. Cells are compared as
    text, so ``740`` and ``740.0`` differ."""
    df = df[sorted(df.columns)]
    return sorted(repr([str(v) for v in r]) for r in df.itertuples(index=False, name=None))


def driver_vhash(df) -> str:
    """The driver's order-insensitive value hash over ``driver_rows``."""
    return hashlib.sha256("\n".join(driver_rows(df)).encode()).hexdigest()


def duck_connect(sf_dir: str):
    """DuckDB connection with each ``{sf_dir}/{t}.parquet`` registered as
    view ``t``, matching the driver's oracle setup."""
    import duckdb

    from nineinfra_spark.engine import TPCH_TABLES

    con = duckdb.connect()
    for t in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con
