"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py [--workloads tpch_sql,gateway_mixed,...]

1. ``BENCHMARK.json`` and ``run.py`` name the same metrics and units.
2. Each workload runs briefly (``--seconds 1``) with ``--trace 0`` and
   ``--trace 1``; every named metric must print in the table and in the
   final JSON line, with its unit, and the run must pass its checks.
3. A run against a deliberately wrong expected hash must fail.
4. A directory holding only ``BENCHMARK.json`` and the benchmark's own
   files (no engine) must make the benchmark exit non-zero, fast.

Takes several minutes (every run starts an engine).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import BENCH, EXPECTED, ROOT, WORK, WORKLOADS  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402

RUN = os.path.join(BENCH, "run.py")


def check(cond: bool, what: str, failures: list) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def run(workload: str, trace: int, *extra, cwd=ROOT, timeout=200):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, RUN if cwd == ROOT else os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    return p.returncode, lines, last, time.monotonic() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    a = ap.parse_args()
    failures: list[str] = []

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    check(e2e == END_TO_END, "BENCHMARK.json end_to_end matches run.py", failures)
    check(layer == PER_LAYER, "BENCHMARK.json per_layer matches run.py", failures)
    for w in spec["workloads"]:
        check(w["name"] in WORKLOADS, f"workload {w['name']} is runnable", failures)

    for workload in a.workloads.split(","):
        for trace, names in ((0, e2e), (1, layer)):
            code, lines, last, secs = run(workload, trace)
            tag = f"{workload} --trace {trace} ({secs:.0f} s)"
            check(code == 0 and last is not None and last["correct"], f"{tag}: passes", failures)
            if last is None:
                continue
            check(set(last) == {"correct", "attempted", "failed", "metrics"},
                  f"{tag}: result line has exactly its four keys", failures)
            got = {k: v["unit"] for k, v in last["metrics"].items()}
            check(got == names, f"{tag}: every metric with its unit in the result line", failures)
            table = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1] if len(ln.split()) == 3}
            check(all(table.get(k) == u for k, u in names.items()),
                  f"{tag}: every metric with its unit in the table", failures)

    os.makedirs(WORK, exist_ok=True)
    wrong = os.path.join(WORK, "expected-wrong.json")
    with open(EXPECTED) as f:
        exp = json.load(f)
    exp["queries"]["q6_forecast_revenue"]["hash"] = "0" * 24
    with open(wrong, "w") as f:
        json.dump(exp, f)
    code, _, last, secs = run("tpch_sql", 0, "--expected", wrong)
    check(code != 0 and last is not None and not last["correct"] and last["failed"] >= 1,
          f"a wrong expected hash fails the run ({secs:.0f} s)", failures)
    os.remove(wrong)

    bare = os.path.join(WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    code, _, last, secs = run("tpch_sql", 0, cwd=bare, timeout=180)
    check(code != 0 and last is None and secs < 180,
          f"without the engine the run exits non-zero and prints no result ({secs:.0f} s)", failures)
    shutil.rmtree(bare)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
