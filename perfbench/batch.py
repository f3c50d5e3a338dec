"""Engine process for the batch workloads (``tpch_sql``,
``multi_action_ops``): registry queries run in the engine process.

Started by ``run.py``; writes its result as JSON to ``--out``.

1. Set-up: the engine is opened ``SETUP_CYCLES`` times (``setup_s`` is
   the median).
2. Warm-up pass, untimed (``engine.warmup_s``): every query, on
   ``VERIFY_THREADS`` concurrent callers, collected and hashed; each
   hash is compared with the expected file.
3. Timed passes until ``--seconds`` have elapsed (at least one), one
   caller, the queries in the seeded order: each is built with
   ``fn(spark, sf_dir)`` and forced with a noop write.
4. With ``--trace 1`` each call is bracketed by the scheduler's job-id
   counter and the jobs' stages are read from the app status store;
   Catalyst phase times come from the DataFrame's QueryExecution.
5. The calibration probe runs, then ``Engine.close()`` is timed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    BATCH_WORKLOADS, SETUP_CYCLES, SparkProbe, Spans, frame_hash, geomean,
    job_totals, redirect_scratch_roots, run_stamp, set_up_engine, write_json,
)


VERIFY_THREADS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def verify_pass(spark, registry, order, data, expected) -> dict:
    """Untimed warm-up: collect and hash every result. Queries run on
    ``VERIFY_THREADS`` callers at once, which shortens the run (the
    Python side of a query is mostly one thread waiting on the JVM)."""

    def check(name):
        try:
            got = frame_hash(registry.get(name).fn(spark, data).toPandas())
        except Exception as exc:  # a failing query is a failed operation
            return {"query": name, "error": repr(exc)[:500]}
        want = expected.get(name)
        return None if got == want else {"query": name, "got": got, "want": want}

    with ThreadPoolExecutor(max_workers=VERIFY_THREADS) as pool:
        failed = [f for f in pool.map(check, order) if f is not None]
    return {"attempted": len(order), "failed": failed}


def timed_pass(spark, registry, order, data, probe, spans, pass_no) -> dict:
    """One pass over ``order``. Without a probe only the two wall
    clocks per query are read; with one, jobs and phases are recorded
    and the time spent recording is returned as ``bookkeeping_s``."""
    per_query, layers, book = {}, [], 0.0
    p0_wall, p0 = time.time(), time.perf_counter()
    pass_span = spans.add("pass", p0_wall, None, req=f"pass#{pass_no}") if probe else None
    for name in order:
        fn = registry.get(name).fn
        if probe is None:
            t0 = time.perf_counter()
            df = fn(spark, data)
            t1 = time.perf_counter()
            _noop(df)
            t2 = time.perf_counter()
            per_query[name] = (t1 - t0, t2 - t1)
            continue
        b0 = time.perf_counter()
        j0 = probe.next_job_id()
        b1 = time.perf_counter()
        w0, t0 = time.time(), time.perf_counter()
        df = fn(spark, data)
        w1, t1 = time.time(), time.perf_counter()
        j1 = probe.next_job_id()
        t1b = time.perf_counter()
        _noop(df)
        w2, t2 = time.time(), time.perf_counter()
        j2 = probe.next_job_id()
        b2 = time.perf_counter()
        probe.settle()
        build_jobs, exec_jobs = probe.jobs(j0, j1), probe.jobs(j1, j2)
        phases = probe.phases(df)
        b3 = time.perf_counter()
        book += (b1 - b0) + (t1b - t1) + (b3 - b2)
        build, run = t1 - t0, t2 - t1b
        per_query[name] = (build, run)
        req = f"{name}#{pass_no}"
        q = spans.add("query", w0, w2, parent=pass_span, req=req)
        b = spans.add("plans.build", w0, w1, parent=q, req=req, jobs=len(build_jobs), **phases)
        e = spans.add("exec.run", w1, w2, parent=q, req=req, jobs=len(exec_jobs))
        for parent, jobs in ((b, build_jobs), (e, exec_jobs)):
            for j in jobs:
                if j["start"] is not None and j["end"] is not None:
                    spans.add("spark.job", j["start"], j["end"], parent=parent, req=req, job=j["id"])
        layers.append({"build_s": build, "run_s": run, "phases": phases,
                       "build": job_totals(build_jobs), "exec": job_totals(exec_jobs)})
    wall = time.perf_counter() - p0
    if pass_span is not None:
        spans.items[pass_span]["end"] = time.time()
    return {"wall_s": wall, "queries": per_query, "layers": layers, "bookkeeping_s": book}


def layer_metrics(p: dict) -> dict:
    """Per-layer totals of one traced pass."""
    L = p["layers"]
    build = sum(x["build_s"] for x in L)
    ex = {k: sum(x["exec"][k] for x in L) for k in L[0]["exec"]} if L else {}
    mb = 1024 * 1024
    return {
        "plans.build_s": build,
        "plans.build_jobs": sum(x["build"]["jobs"] for x in L),
        "plans.build_share": build / p["wall_s"],
        "catalyst.analysis_ms": sum(x["phases"]["analysis"] for x in L),
        "catalyst.optimization_ms": sum(x["phases"]["optimization"] for x in L),
        "catalyst.planning_ms": sum(x["phases"]["planning"] for x in L),
        "exec.run_s": sum(x["run_s"] for x in L),
        "exec.jobs": ex.get("jobs", 0),
        "exec.stages": ex.get("stages", 0),
        "exec.tasks": ex.get("tasks", 0),
        "exec.input_mb": ex.get("input_bytes", 0) / mb,
        "exec.shuffle_write_mb": ex.get("shuffle_write_bytes", 0) / mb,
        "exec.spill_mb": ex.get("spill_bytes", 0) / mb,
        "exec.gc_s": ex.get("gc_ms", 0) / 1000,
        "trace.pass_wall_s": p["wall_s"],
        "trace.bookkeeping_frac": p["bookkeeping_s"] / (p["wall_s"] - p["bookkeeping_s"]),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(BATCH_WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    with open(a.expected) as f:
        expected = json.load(f)["queries"]
    order = list(BATCH_WORKLOADS[a.workload])
    random.Random(a.seed).shuffle(order)

    redirect_scratch_roots(a.work)
    engine, setup = set_up_engine(a.work, a.data, SETUP_CYCLES)
    spark = engine.spark
    from nineinfra_spark.plans import registry

    t0 = time.perf_counter()
    verify = verify_pass(spark, registry, order, a.data, expected)
    verify_s = time.perf_counter() - t0

    probe = SparkProbe(spark) if a.trace else None
    spans = Spans()
    passes = []
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < a.seconds:
        passes.append(timed_pass(spark, registry, order, a.data, probe, spans, len(passes)))
    timed_s = time.perf_counter() - t_start

    stamp = run_stamp(spark)
    t0 = time.perf_counter()
    engine.close()
    close_s = time.perf_counter() - t0

    per_query = {q: statistics.median(sum(p["queries"][q]) for p in passes) for q in order}
    samples = [sum(v) for p in passes for v in p["queries"].values()]
    n_ops = sum(len(p["queries"]) for p in passes)
    metrics = {
        "setup_s": setup["setup_s"],
        "pass_wall_s": statistics.median(p["wall_s"] for p in passes),
        "query_geomean_s": geomean(per_query.values()),
        "stmt_p50_ms": statistics.median(samples) * 1000,
        "stmt_per_s": n_ops / timed_s,
    }
    layers = {
        "engine.open_s": setup["open_s"],
        "engine.warmup_s": verify_s,
        "engine.close_s": close_s,
    }
    if a.trace:
        mid = sorted(passes, key=lambda p: p["wall_s"])[len(passes) // 2]
        layers.update(layer_metrics(mid))
    write_json(a.out, {
        "metrics": metrics,
        "layers": layers,
        "attempted": verify["attempted"],
        "failed": verify["failed"],
        "extra": {
            "order": order,
            "passes_s": [p["wall_s"] for p in passes],
            "pass_queries_s": [p["queries"] for p in passes],
            "timed_ops": n_ops,
            "verify_pass_s": verify_s,
            "setup": setup,
            "query_median_s": per_query,
        },
        "stamp": stamp,
        "spans": spans.items,
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
