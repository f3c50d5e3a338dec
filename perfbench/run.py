"""Benchmark entry point.

    python3 perfbench/run.py --workload <tpch_sql|multi_action_ops|gateway_mixed>
                             --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a checkout. The engine runs in a child process
(plus a separate client process for ``gateway_mixed``); this process
starts them, samples the engine process tree's resident memory, counts
ERROR lines in the engine log, checks the outcome and prints every
metric with its unit. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

The seed sets the query order, the gateway statement keys and the
append ranges; the tables are the committed copy of the sf0.01 test
data under ``perfbench/data``. Full results (host and run stamp,
per-query times, spans of traced runs) go to ``perfbench/out/``;
scratch files go to ``perfbench/.work/``. Exit code 0 only when every
operation succeeded and every result matched.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    BENCH, DATA, DRIVER_HEAP, EXPECTED, OUT, ROOT, WORK, WORKLOADS, Spans, engine_env,
    geomean, self_times, tail_percentile, union_length, write_json,
)

#: Hard limit for one run, kept under the 180 s every run must meet.
RUN_DEADLINE_S = 170

#: Every run prints all of these, whatever the workload:
#: - setup_s: median of the run's engine set-ups (``Engine.open()``
#:   plus the table views; the first one also launches the JVM);
#: - pass_wall_s: median wall time of one pass of the workload's fixed
#:   work (all queries; or one round of every gateway connection);
#: - query_geomean_s: geometric mean over the queries (batch) or the
#:   frontend x statement kinds (gateway) of their median latency;
#: - stmt_p50_ms: median of single query (batch) or read-statement
#:   (gateway) latencies;
#: - stmt_per_s: completed operations per second of the timed region;
#: - peak_rss_mb: peak PSS of the engine process tree.
END_TO_END = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "query_geomean_s": "s",
    "stmt_p50_ms": "ms",
    "stmt_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: Per-layer metrics (``--trace 1``), 0 where the workload does not
#: reach the layer (plans/catalyst/exec on gateway_mixed; rest,
#: mysql_wire and operators on the batch workloads). The end-to-end
#: metric each should move:
#: - plans.*, exec.*: pass_wall_s on tpch_sql (plans.* most on
#:   multi_action_ops); catalyst.*: query_geomean_s on tpch_sql;
#: - rest.*, mysql_wire.*: stmt_p50_ms and stmt_per_s on gateway_mixed;
#: - operators.bloom_*: the read tail, operators.zorder_*: write_p50_ms,
#:   both on gateway_mixed;
#: - engine.*: setup_s, and failed operations (error_lines);
#: - trace.*: the tracing overhead: trace.bookkeeping_frac is the time
#:   spent recording over the time measured; on the batch workloads
#:   trace.pass_wall_s compares with the untraced pass_wall_s. On
#:   gateway_mixed the traced connections take turns (one statement in
#:   flight, so statements match SQL executions), so trace.pass_wall_s
#:   there is a serialized pass and does not compare with the
#:   concurrent untraced pass_wall_s.
PER_LAYER = {
    "engine.open_s": "s",
    "engine.warmup_s": "s",
    "engine.close_s": "s",
    "engine.error_lines": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "rest.stmt_ms": "ms",
    "rest.engine_ms": "ms",
    "rest.overhead_ms": "ms",
    "rest.bytes_per_row": "bytes",
    "mysql_wire.stmt_ms": "ms",
    "mysql_wire.engine_ms": "ms",
    "mysql_wire.overhead_ms": "ms",
    "mysql_wire.bytes_per_row": "bytes",
    "operators.bloom_probe_ms": "ms",
    "operators.bloom_files_skipped_frac": "ratio",
    "operators.zorder_append_ms": "ms",
    "operators.zorder_buckets_dirty_frac": "ratio",
    "trace.pass_wall_s": "s",
    "trace.bookkeeping_frac": "ratio",
}

#: Printed in the table but not in the JSON line: ``close_s`` is too
#: noisy on an engine without frontends (0.1-0.6 s from one close to
#: the next) to carry a bound, and the rest exist on ``gateway_mixed``
#: only, while the JSON line must hold the same metrics on every
#: workload. ``error_rate`` is also ``failed / attempted`` of that line.
REPORTED = {"close_s": "s", "error_rate": "ratio"}
GATEWAY_REPORTED = {"stmt_tail_ms": "ms", "write_p50_ms": "ms"}

READS = ("point", "agg90", "join", "fetch1k", "bloom_probe")
SQL_READS = ("point", "agg90", "join", "fetch1k")


# -- process handling -----------------------------------------------------


def _group_procs(pgid: int) -> dict[int, tuple]:
    """The processes of one process group, each with a key of its
    address space: stat fields 23 (vsize), 26 (startcode) and 28
    (startstack). A child the JVM has vfork()ed and not yet exec()ed
    shares its parent's address space and has the same key."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:  # field 5 of stat: process group
            procs[int(d)] = (fields[20], fields[23], fields[25])
    return procs


def _group_pids(pgid: int) -> list[int]:
    return list(_group_procs(pgid))


def _pss_bytes(pid: int) -> int:
    """Proportional resident memory: pages shared between processes
    (a JVM and the short-lived children it forks) count once in total."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory (PSS) of one process group (the engine
    process, its JVM and their children), sampled every 100 ms."""

    def __init__(self, pgid: int):
        super().__init__(daemon=True)
        self.pgid, self.peak, self._halt = pgid, 0, threading.Event()
        self.split: dict = {}  # resident bytes per process name at the peak

    def run(self) -> None:
        while not self._halt.wait(0.1):
            split, seen = {}, set()
            for pid, mm in sorted(_group_procs(self.pgid).items()):
                if mm in seen:  # an address space already counted
                    continue
                seen.add(mm)
                try:
                    rss = _pss_bytes(pid)
                    with open(f"/proc/{pid}/comm") as f:
                        comm = f.read().strip()
                except OSError:
                    continue
                split[comm] = split.get(comm, 0) + rss
            total = sum(split.values())
            if total > self.peak:
                self.peak, self.split = total, split

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / (1024 * 1024)


def _spawn(args, log, env, **kw) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, *args], cwd=ROOT, env=env, stderr=log,
        start_new_session=True, **kw,
    )


def _reap(proc: subprocess.Popen, timeout: float) -> None:
    """Wait for ``proc``; then make sure nothing of its process group
    (the JVM) outlives it, killing what remains after a grace period."""
    try:
        proc.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
    deadline = time.monotonic() + 15
    while _group_pids(proc.pid):
        if time.monotonic() > deadline:
            os.killpg(proc.pid, 9)
        time.sleep(0.1)


# -- workloads ------------------------------------------------------------


def run_batch(a, env, log, work, deadline) -> dict:
    out = os.path.join(work, "engine.json")
    proc = _spawn(
        [os.path.join(BENCH, "batch.py"), "--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", DATA,
         "--work", work, "--expected", a.expected, "--out", out],
        log, env, stdout=log,
    )
    rss = RssSampler(proc.pid)
    rss.start()
    try:
        _reap(proc, deadline - time.monotonic())
    finally:
        peak = rss.stop()
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"engine process exited with {proc.returncode}")
    with open(out) as f:
        r = json.load(f)
    r["metrics"]["peak_rss_mb"] = peak
    r["extra"]["peak_rss_split_mb"] = {k: v / 2**20 for k, v in rss.split.items()}
    r["attempted"] += r["extra"]["timed_ops"]
    r["extra"]["close_s"] = r["layers"]["engine.close_s"]
    r["extra"]["error_rate"] = len(r["failed"]) / r["attempted"]
    return r


def run_gateway(a, env, log, work, deadline) -> dict:
    server_out, client_out = os.path.join(work, "server.json"), os.path.join(work, "client.json")
    server = _spawn(
        [os.path.join(BENCH, "gateway_server.py"), "--work", work, "--data", DATA,
         "--trace", str(a.trace), "--out", server_out],
        log, env, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    rss = RssSampler(server.pid)
    rss.start()
    client = None
    try:
        ready = None
        for line in server.stdout:  # the registry's operators may print too
            if line.startswith("PERFBENCH_READY "):
                ready = json.loads(line.split(" ", 1)[1])
                break
        if ready is None:
            raise RuntimeError("engine process ended before serving")
        threading.Thread(target=server.stdout.read, daemon=True).start()  # drain
        client = _spawn(
            [os.path.join(BENCH, "gateway_client.py"),
             "--rest-port", str(ready["rest_port"]), "--mysql-port", str(ready["mysql_port"]),
             "--bloom-path", ready["bloom_path"], "--z-path", ready["z_path"], "--data", DATA,
             "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--out", client_out],
            log, env, stdout=log,
        )
        _reap(client, deadline - time.monotonic() - 30)
    finally:
        try:
            server.stdin.write("stop\n")
            server.stdin.close()
        except OSError:
            pass
        _reap(server, deadline - time.monotonic())
        if client is not None and client.returncode is None:
            _reap(client, 0)
        peak = rss.stop()
    if client.returncode != 0 or server.returncode != 0:
        raise RuntimeError(f"client exited with {client.returncode}, engine with {server.returncode}")
    with open(server_out) as f:
        srv = json.load(f)
    with open(client_out) as f:
        cli = json.load(f)
    r = gateway_result(a, srv, cli, peak)
    r["extra"]["peak_rss_split_mb"] = {k: v / 2**20 for k, v in rss.split.items()}
    return r


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def gateway_result(a, srv: dict, cli: dict, peak_mb: float) -> dict:
    recs = cli["records"]
    reads = [r for r in recs if r["kind"] in READS]
    lat = {}
    for r in recs:
        lat.setdefault((r["frontend"], r["kind"]), []).append(r["lat_s"])
    appends = [r for r in recs if r["kind"] == "append"]
    readbacks = {(r["conn"], r["pass"]): r for r in recs if r["kind"] == "readback"}
    writes = [w["lat_s"] + readbacks[(w["conn"], w["pass"])]["lat_s"]
              for w in appends if (w["conn"], w["pass"]) in readbacks]
    read_ms = [r["lat_s"] * 1000 for r in reads]
    tail_p, tail_v = tail_percentile(read_ms)
    metrics = {
        "setup_s": srv["setup"]["setup_s"],
        "pass_wall_s": _med(cli["passes_s"]),
        "query_geomean_s": geomean(_med(v) for v in lat.values()),
        "stmt_p50_ms": _med(read_ms),
        "stmt_per_s": len(recs) / cli["timed_s"],
        "peak_rss_mb": peak_mb,
    }
    extra = {
        "stmt_tail_ms": tail_v,
        "stmt_tail_percentile": tail_p,
        "read_samples": len(read_ms),
        "write_p50_ms": _med(writes) * 1000,
        "error_rate": len(cli["failed"]) / max(cli["attempted"], 1),
        "close_s": srv["close_s"],
        "fixtures_s": srv["fixtures_s"],
        "setup": srv["setup"],
        "passes": len(cli["passes_s"]),
        "kind_median_ms": {f"{fe}.{k}": _med(v) * 1000 for (fe, k), v in sorted(lat.items())},
    }

    layers = {"engine.open_s": srv["setup"]["open_s"], "engine.warmup_s": cli["warm_s"],
              "engine.close_s": srv["close_s"]}
    execs = [(e["start"], e["end"]) for e in srv["executions"] if e["end"] is not None]
    spans = Spans()
    matched = {}
    if a.trace:
        for i, r in enumerate(recs):
            req = f"{r['conn']}#{i}"
            sid = spans.add(f"{r['frontend']}.{r['kind']}", r["start"], r["end"], req=req,
                            ok=r["ok"], bytes=r["bytes"], rows=r.get("rows"))
            inside = engine_executions(r, execs)
            for s0, s1 in inside:
                spans.add("engine.sql_execution", s0, s1, parent=sid, req=req)
            matched[i] = union_length(inside) * 1000
    for fe, key in (("rest", "rest"), ("mysql", "mysql_wire")):
        idx = [i for i, r in enumerate(recs)
               if r["frontend"] == fe and r["kind"] in SQL_READS and r["ok"]]
        rs = [recs[i] for i in idx]
        layers[f"{key}.stmt_ms"] = _med([r["lat_s"] * 1000 for r in rs])
        rows = sum(r.get("rows", 0) for r in rs)
        layers[f"{key}.bytes_per_row"] = sum(r["bytes"] for r in rs) / rows if rows else 0.0
        if a.trace:
            layers[f"{key}.engine_ms"] = _med([matched[i] for i in idx])
            layers[f"{key}.overhead_ms"] = _med([recs[i]["lat_s"] * 1000 - matched[i] for i in idx])
    blooms = [r for r in recs if r["kind"] == "bloom_probe" and r["ok"]]
    layers["operators.bloom_probe_ms"] = _med([r["lat_s"] * 1000 for r in blooms])
    total = sum(r["files_total"] for r in blooms)
    layers["operators.bloom_files_skipped_frac"] = (
        sum(r["files_skipped"] for r in blooms) / total if total else 0.0)
    ok_app = [r for r in appends if r["ok"]]
    layers["operators.zorder_append_ms"] = _med([r["lat_s"] * 1000 for r in ok_app])
    total = sum(r["buckets_total"] for r in ok_app)
    layers["operators.zorder_buckets_dirty_frac"] = (
        sum(r["buckets_dirty"] for r in ok_app) / total if total else 0.0)
    if a.trace:
        layers["trace.pass_wall_s"] = _med(cli["passes_s"])
        layers["trace.bookkeeping_frac"] = cli["bookkeeping_s"] / (cli["timed_s"] - cli["bookkeeping_s"])
    return {
        "metrics": metrics, "layers": layers, "extra": extra,
        "attempted": cli["attempted"], "failed": cli["failed"], "stamp": srv["stamp"],
        "spans": spans.items,
    }


def engine_executions(rec: dict, execs: list) -> list:
    """The SQL executions that ran inside one statement's client-side
    interval; unambiguous because traced runs keep one statement in
    flight at a time. The status store keeps millisecond times, hence
    the 1 ms slack."""
    lo, hi = rec["start"] - 0.001, rec["end"] + 0.001
    return [(s, e) for s, e in execs if s >= lo and e <= hi]


# -- main -----------------------------------------------------------------


def count_error_lines(path: str) -> int:
    pat = re.compile(r'"level"\s*:\s*"ERROR"|^\S+ \S+ ERROR |\bERROR [A-Za-z.$]+:')
    with open(path, errors="replace") as f:
        return sum(1 for line in f if pat.search(line))


def source_digest() -> str:
    """sha256 of the engine package's files: identifies the code when
    the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "nineinfra_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith((".py", ".java")):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=EXPECTED, help="expected result hashes")
    a = ap.parse_args()
    start = time.monotonic()
    deadline = start + RUN_DEADLINE_S

    if not os.path.isfile(os.path.join(ROOT, "nineinfra_spark", "__init__.py")):
        print(f"error: engine package nineinfra_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        print(f"error: benchmark tables not found under {DATA}", file=sys.stderr)
        return 2

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    log_path = os.path.join(OUT, run_id + ".engine.log")
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_heap": DRIVER_HEAP,
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "load_1m_start": os.getloadavg()[0],
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    error = None
    try:
        with open(log_path, "w") as log:
            env = engine_env(work)
            runner = run_gateway if a.workload == "gateway_mixed" else run_batch
            r = runner(a, env, log, work, deadline)
    except Exception as exc:  # noqa: BLE001 — reported, then a non-zero exit
        error = repr(exc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp["load_1m_end"] = os.getloadavg()[0]
    stamp["wall_s"] = time.monotonic() - start
    if error is not None:
        print(f"error: {error} (engine log: {log_path})", file=sys.stderr)
        return 1

    r["layers"]["engine.error_lines"] = count_error_lines(log_path)
    layers = {k: r["layers"].get(k, 0.0) for k in PER_LAYER}
    stamp.update(r.pop("stamp"))
    spans = r.pop("spans", [])
    if spans:
        r["span_self_s"] = self_times(spans)
        with open(os.path.join(OUT, run_id + ".spans.jsonl"), "w") as f:
            for s in spans:
                f.write(json.dumps(s, default=str) + "\n")
    failed = len(r["failed"])
    correct = failed == 0
    result = {**r, "stamp": stamp, "layers": layers, "correct": correct}
    write_json(os.path.join(OUT, run_id + ".json"), result)

    def show(name, value, unit):
        print(f"{name:38s} {value:14.4f} {unit}" if value is not None else f"{name:38s} {'-':>14s} {unit}")

    for k, u in END_TO_END.items():
        show(k, r["metrics"][k], u)
    for k, u in REPORTED.items():
        show(k, r["extra"][k], u)
    if a.workload == "gateway_mixed":
        for k, u in GATEWAY_REPORTED.items():
            show(k, r["extra"][k], u)
        print(f"  (stmt_tail_ms is p{r['extra']['stmt_tail_percentile']} of "
              f"{r['extra']['read_samples']} reads: the highest percentile with 10 reads beyond it)")
    if a.trace:
        for k, u in PER_LAYER.items():
            show(k, layers[k], u)
    for f in r["failed"][:10]:
        print("FAILED", json.dumps(f))
    print("stamp " + json.dumps(stamp, default=str))

    chosen = END_TO_END if a.trace == 0 else PER_LAYER
    values = r["metrics"] if a.trace == 0 else layers
    print(json.dumps({
        "correct": correct,
        "attempted": r["attempted"],
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in chosen.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
