"""Median-of-N bench stamping protocol (r13 verdict item 6).

Run ``bench.py`` N = 3 times on the closed tree, keep the MEDIAN
run's full artifact, and record ALL N headline totals inside it as
``"runs": [..]`` — keeping
whichever run happened to be fast is a one-sided filter; the median
of N complete runs is the defensible stamp on a VM whose wall times
band up to ~1.6× with host load. Each underlying run still uses
bench.py's own per-query median-of-3 sampling; this wrapper medians
across PROCESS-level runs (fresh JVM, fresh page-cache state).

Usage: python scripts/bench_median.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

N = 3
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    artifacts = []
    for i in range(N):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            check=True,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        ).stdout
        # the summary line names the artifact (BENCH_FULL.json, or
        # BENCH_FULL_c{cpus}.json beside a stamp of another cpu count)
        full = os.path.join(REPO, json.loads(out.splitlines()[-1])["full"])
        with open(full) as f:
            artifacts.append(json.load(f))
        print(
            f"run {i + 1}/{N}: {artifacts[-1]['value']} s "
            f"(load {artifacts[-1]['host_load_1m']})",
            flush=True,
        )
    totals = [a["value"] for a in artifacts]
    med = sorted(artifacts, key=lambda a: a["value"])[N // 2]
    med["runs"] = totals
    with open(full, "w") as f:
        json.dump(med, f, indent=1)
    print(
        json.dumps(
            {
                "kept_median": med["value"],
                "runs": totals,
                "host_load_1m": med["host_load_1m"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
