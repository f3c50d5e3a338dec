"""Per-query profiler: bench.py's timing loop at one or more scale
factors, the Spark jobs of the last timed run, optionally the plan.

Usage: python scripts/profile.py [--sf DIR]... [--plans DIR] name...

Each ``--sf`` (default ``$SPARK_GRAFT_SF_DIR``, else sf0.1) is a data
directory; a name that is not one resolves beside the default, then in
the repo, so ``--sf sf0.1 --sf .sf1`` compares sf0.1 with the tiled copy
``scripts/make_sf1.py`` writes. For every query and SF it prints the
median of bench's 3 timed runs and a table of the jobs the last timed
run started (read in-process from the app status store, bracketed by the
scheduler's job-id counter): start and gap relative to the run start,
seconds or ``open`` for a job with no end yet, stages, tasks, call site.
Busy time is the union of the job intervals, so overlapping jobs are not
double-counted. A final markdown table lists the medians, with the
ratio column when there are two SFs. ``--plans DIR`` also writes each
query's ``explain("formatted")`` to ``DIR/<name>_<sf>.txt``.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if __name__ == "__main__":
    # The repo, not scripts/, heads the path: this file would shadow
    # the stdlib ``profile`` module that pyspark imports.
    sys.path[0] = REPO

import bench
from nineinfra_spark.engine import Engine
from nineinfra_spark.plans import registry
from perfbench.common import SparkProbe


def busy(jobs: list[dict], t0: float) -> tuple[float, dict[int, float]]:
    """Sorted interval union of the closed jobs, from ``t0`` on: the busy
    seconds and each job's gap, the idle time between the union so far
    and the job's start (0 when it overlaps). Open jobs are left out."""
    edge, total, gaps = t0, 0.0, {}
    closed = [j for j in jobs if j["start"] is not None and j["end"] is not None]
    for j in sorted(closed, key=lambda j: j["start"]):
        gaps[j["id"]] = max(0.0, j["start"] - edge)
        total += max(0.0, j["end"] - max(j["start"], edge))
        edge = max(edge, j["end"])
    return total, gaps


def job_lines(jobs: list[dict], t0: float, wall: float, sites: dict[int, str]) -> list[str]:
    """The job table of one run that started at ``t0`` and took ``wall`` s."""
    total, gaps = busy(jobs, t0)
    lines = ["     job    start      sec      gap  stages  tasks  call site"]
    for j in jobs:
        start = "-" if j["start"] is None else f"{j['start'] - t0:.3f}"
        sec = "open" if j["id"] not in gaps else f"{j['end'] - j['start']:.3f}"
        gap = f"{gaps[j['id']]:.3f}" if j["id"] in gaps else "-"
        tasks = sum(s["tasks"] for s in j["stages"])
        lines.append(
            f"  {j['id']:>6}  {start:>7}  {sec:>7}  {gap:>7}  {len(j['stages']):>6}"
            f"  {tasks:>5}  {sites.get(j['id'], '')[:80]}"
        )
    summed = sum(j["end"] - j["start"] for j in jobs if j["id"] in gaps)
    lines.append(
        f"  busy {total:.3f} s of wall {wall:.3f} s: {len(jobs)} jobs, "
        f"summed {summed:.3f} s, {len(jobs) - len(gaps)} open"
    )
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description="Time and job-profile registered queries.")
    ap.add_argument("--sf", action="append", help="data directory (repeatable)")
    ap.add_argument("--plans", help="write each formatted plan into this directory")
    ap.add_argument("names", nargs="+")
    a = ap.parse_args()

    base = os.path.dirname(bench.SF_DIR)
    sfs = [
        next((d for d in (p, os.path.join(base, p), os.path.join(REPO, p)) if os.path.isdir(d)), p)
        for p in a.sf or [bench.SF_DIR]
    ]
    labels = [os.path.basename(p.rstrip("/")).lstrip(".") for p in sfs]
    engine = Engine().open()
    spark = engine.spark
    probe = SparkProbe(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    for sf in sfs:
        bench.warm_corpus(spark, sf)

    medians: dict[str, list[float]] = {}
    for name in a.names:
        fn = registry.get(name).fn
        for sf, label in zip(sfs, labels):
            last: dict = {}

            def run(spark, sf_dir):
                last["lo"], last["t0"] = probe.next_job_id(), time.time()
                last["df"] = fn(spark, sf_dir)
                return last["df"]

            samples = bench.timed_runs(run, spark, sf)
            probe.settle()
            jobs = probe.jobs(last["lo"], probe.next_job_id())
            sites = {j["id"]: store.job(j["id"]).name() for j in jobs}
            medians.setdefault(name, []).append(statistics.median(samples))
            runs = " ".join(f"{s:.3f}" for s in samples)
            print(f"\n== {name} @ {label}: median {medians[name][-1]:.3f} s (runs {runs})")
            print("\n".join(job_lines(jobs, last["t0"], samples[-1], sites)), flush=True)
            if a.plans:
                os.makedirs(a.plans, exist_ok=True)
                qe = last["df"]._jdf.queryExecution()
                plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(qe, "formatted")
                with open(os.path.join(a.plans, f"{name}_{label}.txt"), "w") as f:
                    f.write(plan)
    engine.close()

    ratio = len(sfs) == 2
    print("\n| query | " + " | ".join(f"{l} s" for l in labels) + (" | ratio |" if ratio else " |"))
    print("|---" * (len(sfs) + 1 + ratio) + "|")
    for name, ms in medians.items():
        cells = [f"{m:.2f}" for m in ms] + ([f"{ms[1] / ms[0]:.1f}×"] if ratio else [])
        print(f"| {name} | " + " | ".join(cells) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
