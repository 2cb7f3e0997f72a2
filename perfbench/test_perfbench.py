"""Tests of the benchmark runner's helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
from samples import percentile, spread  # noqa: E402
from spans import digest  # noqa: E402


# ------------------------------------------------------------ percentiles

def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 90) == 90.0  # nearest rank 90 of 100, 10 beyond
    with pytest.raises(ValueError):
        percentile(xs[:99], 90)  # rank 90 of 99 leaves 9 beyond
    assert percentile(xs[:20], 50) == 10.0
    with pytest.raises(ValueError):
        percentile(xs[:19], 50)


def test_percentile_ignores_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
    assert percentile(xs, 50) == 3.0


def test_spread_shares():
    s = spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["median"] == 3.0
    assert s["range_share"] == pytest.approx(4.0 / 3.0)
    assert s["iqr_share"] == pytest.approx((4.5 - 1.5) / 3.0)


# ------------------------------------------------------------ /proc tree

def _fake_proc(tmp_path, procs):
    """procs: pid -> (ppid, comm, utime, stime, cutime, cstime, cmdline, hwm_kb)"""
    for pid, (ppid, comm, ut, st, cut, cst, cmd, hwm) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        # fields 3.. after "(comm) ": state ppid pgrp session tty tpgid flags
        # minflt cminflt majflt cmajflt utime stime cutime cstime ... starttime
        rest = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st), str(cut), str(cst)] + ["0"] * 4 + ["500"]
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(rest) + " 0 0\n")
        (d / "cmdline").write_bytes(b"\0".join(a.encode() for a in cmd) + b"\0")
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm} kB\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_tree_cpu_sums_descendants_only(tmp_path):
    proc = _fake_proc(tmp_path, {
        10: (1, "python3", 100, 20, 5, 5, ["python3", "run.py"], 50_000),
        11: (10, "java", 300, 40, 0, 0, ["java", "-cp"], 900_000),
        12: (11, "python3", 7, 3, 0, 0, ["python3", "-m", "pyspark.daemon"], 40_000),
        13: (12, "python3 (w)", 50, 10, 0, 0, ["python3", "-m", "pyspark.daemon"], 120_000),
        99: (1, "other", 1000, 1000, 0, 0, ["other"], 1),
    })
    assert sorted(procstat.tree_pids(10, proc)) == [10, 11, 12, 13]
    ticks = (100 + 20 + 5 + 5) + (300 + 40) + (7 + 3) + (50 + 10)
    assert procstat.tree_cpu_s(10, proc) == pytest.approx(ticks / procstat.CLK_TCK)
    assert procstat.max_worker_hwm_mb(10, proc) == pytest.approx(120_000 / 1024)
    assert procstat.process_start(10, proc) == pytest.approx(500 / procstat.CLK_TCK)


def test_tree_cpu_of_this_process_grows():
    before = procstat.tree_cpu_s()
    sum(i * i for i in range(2_000_000))
    assert procstat.tree_cpu_s() > before


# ------------------------------------------------------------ digest

def _job(job, stages, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages, "Properties": props}


def _stage(sid, tasks, start, end, **acc):
    names = {"run": "internal.metrics.executorRunTime", "py": "time to run Python workers",
             "sent": "data sent to Python workers", "shw": "internal.metrics.shuffle.write.bytesWritten"}
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Number of Tasks": tasks, "Submission Time": start * 1000,
        "Completion Time": end * 1000,
        "Accumulables": [{"Name": names[k], "Value": v} for k, v in acc.items()]}}


def test_digest_maps_job_groups_to_spans():
    spans = [
        {"id": "span-1", "name": "a", "start": 100.0, "end": 110.0},
        {"id": "span-2", "name": "b", "start": 110.0, "end": 114.0},
    ]
    events = [
        _job(0, [0, 1], "span-1"),
        _job(1, [1, 2], "span-2"),  # stage 1 stays with the first job's span
        _job(2, [3], None),  # no group: ignored
        _job(3, [4], "warm-up"),  # a group that is no span: ignored
        _stage(0, 4, 101.0, 103.0, run=2000, py=1500, sent=2_000_000),
        _stage(1, 2, 102.0, 105.0, run=1000, shw=3_000_000),
        _stage(2, 1, 111.0, 112.0, run=500),
        _stage(3, 9, 100.0, 114.0, run=99_000),
        _stage(4, 9, 100.0, 114.0, run=99_000),
    ]
    out = digest(events, spans)
    a, b = out["span-1"], out["span-2"]
    assert (a["stages"], a["tasks"]) == (2, 6)
    assert a["executor_run_s"] == pytest.approx(3.0)
    assert a["python_worker_s"] == pytest.approx(1.5)
    assert a["to_python_mb"] == pytest.approx(2.0)
    assert a["shuffle_write_mb"] == pytest.approx(3.0)
    assert a["stage_s"] == pytest.approx(4.0)  # union of [101,103] and [102,105]
    assert a["driver_s"] == pytest.approx(6.0)
    assert (b["stages"], b["tasks"]) == (1, 1)
    assert b["executor_run_s"] == pytest.approx(0.5)
    assert b["driver_s"] == pytest.approx(3.0)


# ------------------------------------------------------------ BENCHMARK.json

def test_pick_refuses_a_listed_metric_not_measured():
    from run import pick

    listed = [{"name": "a_s", "unit": "s"}, {"name": "b_ms", "unit": "ms"}]
    assert pick({"a_s": 1.0, "b_ms": 2.0, "extra": 3.0}, listed) == {"a_s": (1.0, "s"), "b_ms": (2.0, "ms")}
    with pytest.raises(KeyError, match="b_ms"):
        pick({"a_s": 1.0}, listed)


def test_benchmark_workloads_exist():
    from run import load_benchmark
    from workloads import WORKLOADS

    assert [w["name"] for w in load_benchmark()["workloads"]] == list(WORKLOADS)
