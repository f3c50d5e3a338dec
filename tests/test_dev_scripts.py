"""Pure-Python checks of the dev scripts and the shared driver hash:
the profiler's job-interval union, the driver value hash's order
insensitivity and text strictness, and an import smoke of ``bench.py``
and every ``scripts/*.py`` (no ``main`` is run, no Spark is started)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pandas as pd
import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((REPO / "scripts").glob("*.py"))


def _load(path: Path):
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def prof():
    return _load(REPO / "scripts" / "profile.py")


def _job(jid, start, end):
    return {"id": jid, "start": start, "end": end, "stages": [{"tasks": 2}]}


def test_busy_is_an_interval_union(prof):
    t0 = 100.0
    # job 2 runs inside job 1, job 3 overlaps job 1's tail, job 4 follows a gap
    jobs = [_job(1, 100.1, 100.5), _job(2, 100.2, 100.3), _job(3, 100.4, 100.7), _job(4, 101.0, 101.2)]
    total, gaps = prof.busy(jobs, t0)
    assert total == pytest.approx(0.6 + 0.2)
    assert gaps == pytest.approx({1: 0.1, 2: 0.0, 3: 0.0, 4: 0.3})
    wall = max(j["end"] for j in jobs) - t0
    assert total <= wall
    assert sum(j["end"] - j["start"] for j in jobs) > total  # summed double-counts


def test_busy_is_order_independent_and_gaps_never_negative(prof):
    jobs = [_job(7, 5.5, 6.0), _job(5, 5.0, 5.9), _job(6, 5.1, 5.2)]
    total, gaps = prof.busy(jobs, 5.0)
    assert total == pytest.approx(1.0)
    assert all(g >= 0 for g in gaps.values())


def test_open_job_is_reported_open_not_zero(prof):
    jobs = [_job(1, 10.0, 10.4), _job(2, 10.1, None)]
    total, gaps = prof.busy(jobs, 10.0)
    assert total == pytest.approx(0.4)
    assert 2 not in gaps
    lines = prof.job_lines(jobs, 10.0, 0.5, {1: "collect at x.py:1"})
    row = next(ln for ln in lines if ln.split()[0] == "2")
    assert "open" in row and "0.000" not in row
    assert lines[-1].strip().endswith("1 open")


def test_driver_vhash_ignores_row_and_column_order():
    from nineinfra_spark.plans.registry import driver_vhash

    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", None]})
    b = pd.DataFrame({"v": [None, "x", "y"], "k": [3, 1, 2]})
    assert driver_vhash(a) == driver_vhash(b)
    assert driver_vhash(a) != driver_vhash(a.assign(v=["x", "y", "z"]))


def test_driver_vhash_tells_int_from_float():
    from nineinfra_spark.plans.registry import driver_vhash

    ints = pd.DataFrame({"n": [740]})
    floats = pd.DataFrame({"n": [740.0]})
    assert (ints["n"] == floats["n"]).all()
    assert driver_vhash(ints) != driver_vhash(floats)


def test_bench_and_scripts_import_without_running():
    import bench

    assert callable(bench._calibrate)  # perfbench's run stamp imports it
    assert bench.RUNS == 3
    for path in SCRIPTS:
        assert callable(_load(path).main), path.name


def test_bench_full_never_overwrites_another_cpu_count(tmp_path):
    import json

    import bench

    assert bench.full_name(str(tmp_path), 4) == "BENCH_FULL.json"  # none yet
    full = tmp_path / "BENCH_FULL.json"
    full.write_text(json.dumps({"cpus": 4}))
    assert bench.full_name(str(tmp_path), 4) == "BENCH_FULL.json"
    assert bench.full_name(str(tmp_path), 32) == "BENCH_FULL_c32.json"
    full.write_text(json.dumps({"value": 86.467}))  # unstamped: another count
    assert bench.full_name(str(tmp_path), 4) == "BENCH_FULL_c4.json"
    full.write_text("not json")
    assert bench.full_name(str(tmp_path), 4) == "BENCH_FULL_c4.json"


def test_bench_summary_line_names_the_file_and_stays_short():
    import json

    import bench

    calib = {"py_sec": 12.3456, "jvm_sec": 12.3456, "acc": 1157224768}
    result = {
        "value": 12345.6789,
        "sf": 0.1,
        "cpus": 128,
        "timing": "median_of_3",
        "queries": dict.fromkeys(bench.HEADLINE, 1.0),
        "calib": {"start": calib, "end": calib},
    }
    line = bench.summary_line(result, "BENCH_FULL_c128.json")
    assert len(line) < 200, len(line)
    assert json.loads(line)["full"] == "BENCH_FULL_c128.json"
