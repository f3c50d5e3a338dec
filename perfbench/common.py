"""Shared pieces of the benchmark: paths, engine set-up, the result
hash, the span recorder, Spark status-store readers and statistics.

Everything here is imported by the engine-side processes
(``batch.py``, ``gateway_server.py``) and the client; nothing in this
module starts a process or touches Spark at import time.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os
import statistics
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data", "sf0.01")
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, "out")
EXPECTED = os.path.join(BENCH, "expected_sf0.01.json")

#: The 23 registered TPC-H queries (q1-q22 plus both q2 forms).
TPCH_SQL = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q2_above_partition_avg",
    "q3_shipping_priority", "q4_order_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_product_type_profit", "q10_returned_items", "q11_important_stock",
    "q12_priority_lines", "q13_customer_distribution", "q14_promo_effect",
    "q15_top_supplier", "q16_supplier_cnt", "q17_small_qty_revenue",
    "q18_large_volume_customers", "q19_disjunctive_revenue",
    "q20_potential_promotion", "q21_waiting_suppliers",
    "q22_inactive_customers",
]

#: Operators that run several eager Spark actions inside ``fn()``.
MULTI_ACTION_OPS = [
    "bloom_skipping_read", "dedup_minhash_pairs", "dedup_minhash_df_capped",
    "dedup_connected_clusters", "dedup_embedding_clusters",
    "graph_pagerank_fixed", "graph_triangle_count",
]

BATCH_WORKLOADS = {"tpch_sql": TPCH_SQL, "multi_action_ops": MULTI_ACTION_OPS}
WORKLOADS = ("tpch_sql", "multi_action_ops", "gateway_mixed")

#: Engine set-ups per run; ``setup_s`` is their median.
SETUP_CYCLES = 3

#: Maximum JVM heap of the engine process, fixed whatever the
#: environment says, so that every run has the same memory ceiling.
DRIVER_HEAP = "1g"


def engine_env(work: str) -> dict:
    """Environment for an engine process: every scratch write stays
    under ``work`` and the JVM heap stays small."""
    env = dict(os.environ)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    env["PYTHONHASHSEED"] = "0"
    return env


def engine_config(work: str, **frontends):
    """The benchmark's engine profile; ``frontends`` are ports."""
    from nineinfra_spark.engine import EngineConfig

    # UsePerfData off keeps the JVM from writing to /tmp.
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    return EngineConfig(
        app_name="perfbench",
        warehouse_dir=os.path.join(work, "warehouse"),
        extra_conf={"spark.driver.extraJavaOptions": java_opts},
        **frontends,
    )


def redirect_scratch_roots(work: str) -> None:
    """Point the registry's fixed scratch-write roots into ``work`` (the
    benchmark reads and writes only inside its checkout)."""
    from nineinfra_spark.plans import sources_sinks

    sources_sinks.IO_ROOT = os.path.join(work, "io")
    sources_sinks.WAREHOUSE = os.path.join(work, "io-warehouse")


def set_up_engine(work: str, data: str, cycles: int, last_frontends=None):
    """Set the engine up ``cycles`` times: ``Engine.open()`` plus the
    table views, closing all but the last. Returns ``(engine, stats)``;
    the first open also launches the JVM, so the median is a warm
    set-up."""
    from nineinfra_spark.engine import Engine, register_testdata

    opens, walls, closes = [], [], []
    engine = None
    for i in range(cycles):
        last = i == cycles - 1
        cfg = engine_config(work, **((last_frontends or {}) if last else {}))
        t0 = time.perf_counter()
        engine = Engine(cfg).open()
        t1 = time.perf_counter()
        register_testdata(engine.spark, data)
        t2 = time.perf_counter()
        opens.append(t1 - t0)
        walls.append(t2 - t0)
        if not last:
            engine.close()
            closes.append(time.perf_counter() - t2)
    return engine, {
        "setup_s": statistics.median(walls),
        "setup_samples_s": walls,
        "open_s": statistics.median(opens),
        "cold_open_s": opens[0],
        "close_samples_s": closes,
    }


def run_stamp(spark) -> dict:
    """Engine-side half of the host and run stamp (the orchestrator
    adds nproc, load averages, the seed and the commit)."""
    import pyspark
    from bench import _calibrate  # the repository's host-speed probe

    return {
        "spark_master": spark.sparkContext.master,
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "python_version": sys.version.split()[0],
        "calib": _calibrate(spark),
    }


# -- result hash (FIXTURES.md canonicalization) ---------------------------

_NULL = "\\N"


def canon_cell(v) -> str:
    """One cell as text: doubles rounded to 6 places, integral numbers
    printed as integers whatever their type, timestamps as UTC ISO
    strings, NULL/NaT as a sentinel, arrays element-wise."""
    if v is None:
        return _NULL
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        if v.is_nan():
            return "NaN"
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return _NULL  # pandas turns SQL NULL doubles into NaN
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        r = round(v, 6)
        if r == int(r) and abs(r) < 2**53:
            return str(int(r))
        return repr(r)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    try:
        import pandas as pd

        if v is pd.NaT:
            return _NULL
        if isinstance(v, pd.Timestamp):
            return canon_cell(v.to_pydatetime())
    except ImportError:
        pass
    return str(v)


def result_hash(columns, rows) -> dict:
    """Order-insensitive hash of a result: columns sorted by name, each
    row canonicalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    h.update("\x1e".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return {"rows": len(lines), "hash": h.hexdigest()[:24]}


def frame_hash(pdf) -> dict:
    return result_hash(
        list(pdf.columns), list(pdf.itertuples(index=False, name=None))
    )


# -- spans ----------------------------------------------------------------


class Spans:
    """In-memory span log: (name, start, end, parent, request id) plus
    attributes. Times are epoch seconds so engine-side status-store
    times (epoch milliseconds) line up with them. Written out once, at
    the end of the run."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name, start, end, parent=None, req=None, **attrs) -> int:
        self.items.append(
            {"id": len(self.items), "name": name, "start": start, "end": end,
             "parent": parent, "req": req, **attrs}
        )
        return len(self.items) - 1


def self_times(spans: list[dict]) -> dict:
    """Self time per span name: its duration minus the part covered by
    its direct children (children of one parent may overlap)."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict = {}
    for s in spans:
        covered = union_length(kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark status readers (traced runs only) ------------------------------


class SparkProbe:
    """Reads the engine's job and SQL status from outside the engine
    code: the scheduler's job-id counter brackets each call, and the
    app status store (kept with the UI disabled) gives per-stage work."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_job_id(self) -> int:
        n = self._sc.dagScheduler().nextJobId()
        return n if isinstance(n, int) else n.get()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty(10_000)

    def jobs(self, lo: int, hi: int) -> list[dict]:
        """Jobs with ids in ``[lo, hi)``: every job started while the
        call ran, from any thread (job groups miss helper threads)."""
        out = []
        for jid in range(lo, hi):
            try:
                j = self._store.job(jid)
            except Exception:  # evicted or never registered
                continue
            stages = []
            it = j.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                stages.append({
                    "tasks": st.numTasks(),
                    "input_bytes": st.inputBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "gc_ms": st.jvmGcTime(),
                })
            sub, comp = j.submissionTime(), j.completionTime()
            out.append({
                "id": jid,
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1000 if comp.isDefined() else None,
                "stages": stages,
            })
        return out

    @staticmethod
    def phases(df) -> dict:
        """Catalyst phase times (ms) of the DataFrame's own
        QueryExecution; planning is forced here if it has not run."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        ph = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = ph.get(name)  # scala.Option[PhaseSummary]
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    def sql_executions(self) -> list[dict]:
        """Every SQL execution the engine ran: id, submission and
        completion in epoch seconds."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        it = store.executionsList().iterator()
        out = []
        while it.hasNext():
            e = it.next()
            comp = e.completionTime()
            out.append({
                "id": e.executionId(),
                "start": e.submissionTime() / 1000,
                "end": comp.get().getTime() / 1000 if comp.isDefined() else None,
            })
        return out


def job_totals(jobs: list[dict]) -> dict:
    t = {"jobs": len(jobs), "stages": 0, "tasks": 0, "input_bytes": 0,
         "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_ms": 0}
    for j in jobs:
        for s in j["stages"]:
            t["stages"] += 1
            for k in ("tasks", "input_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms"):
                t[k] += s[k]
    return t


# -- statistics -----------------------------------------------------------


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def percentile(xs, p: float) -> float:
    """Linear-interpolated percentile (p in 0..100)."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(xs) -> tuple[int | None, float | None]:
    """The highest whole percentile with at least ten samples beyond
    it, and its value; ``(None, None)`` when that would be p50 or lower."""
    n = len(xs)
    p = math.floor(100 * (1 - 10 / n)) if n else 0
    return (p, percentile(xs, p)) if p > 50 else (None, None)


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, default=str)
    os.replace(tmp, path)
