"""Query plan library: every SURVEY.md §2 operator as a named query.

Each module registers queries into the shared registry; importing
this package loads them all. ``registry.queries()`` /
``registry.oracles()`` back ``__spark_entry__.py``; their export order
leads with ``_VERIFY_FIRST``, the window the driver verifies.
"""

import glob
import json
import os
import re

from nineinfra_spark.plans import registry


def _load_all() -> None:
    # Import for side effect: each module registers its queries.
    from nineinfra_spark.plans import (  # noqa: F401
        aggregates,
        curate,
        dq,
        ext_dedup,
        ext_hybrid,
        ext_multimodal,
        ext_similarity,
        ext_text,
        functions_scalar,
        graph,
        introspect,
        joins,
        setops,
        sortlimit,
        sources_sinks,
        streaming_queries,
        tpch,
        tpch_sql,
        udfs,
        windows,
    )


_load_all()

#: Queries whose plan changed since their latest driver stamp. They
#: lead the verification window (standing rule: plan changes take a
#: window slot); empty while every plan carries a fresh stamp.
PLAN_CHANGED: tuple[str, ...] = ()

#: The driver's CORRECTNESS gate checks exactly this many queries, in
#: export order.
WINDOW = 50

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _latest_stamps() -> dict[str, int]:
    """Query name -> latest round N whose ``CORRECTNESS_rN.json`` stamps it."""
    stamps: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)", os.path.basename(path)).group(1))
        with open(path) as f:
            for name in json.load(f):
                stamps[name] = max(stamps.get(name, 0), rnd)
    return stamps


def _verify_window(plan_changed, stamps: dict[str, int]) -> list[str]:
    """``plan_changed``, then the stalest queries (latest stamp, unstamped
    = 0; then name) up to ``WINDOW`` names."""
    fill = sorted(
        (n for n in registry.names() if n not in plan_changed),
        key=lambda n: (stamps.get(n, 0), n),
    )
    return list(plan_changed) + fill[: WINDOW - len(plan_changed)]


_VERIFY_FIRST = _verify_window(PLAN_CHANGED, _latest_stamps())


registry.set_order(_VERIFY_FIRST)

queries = registry.queries
oracles = registry.oracles

__all__ = ["registry", "queries", "oracles"]
