"""The executor task source (``engine._task_map``) and its task rule
(``engine._deal``).

Every executor read (decode, the DML mask scan, manifest planning and
stats partials, CDC, compaction, recluster) and the split-source encode
run their kernel on one shuffle-free ``spark.range(n, numPartitions=n)``
stage, each task fed the work items ``_deal`` gives it.  The rule:
``defaultParallelism`` tasks, or one per ``_TASK_MIN_BYTES`` of work when
that is more, never more than the items, and the largest items dealt first onto
the lightest task.
"""

from __future__ import annotations

import hashlib
import os
import uuid

import pandas as pd
import pytest
from pyspark.sql.types import StructType

from rugo_spark import engine
from rugo_spark import manifest as mf
from rugo_spark.engine import decode_table, encode_table, update_where

MB = 1 << 20


def test_deal_caps_at_items_and_floors_at_parallelism():
    assert engine._deal(None, 3, 8) == [[0], [1], [2]]
    assert engine._deal(None, 0, 4) == [[]]
    # few bytes: exactly ``parallelism`` tasks, equal items round-robin
    assert engine._deal([MB] * 6, 6, 2) == [[0, 2, 4], [1, 3, 5]]
    assert engine._deal(None, 5, 2) == [[0, 2, 4], [1, 3]]


def test_deal_adds_tasks_only_for_enough_bytes():
    big = engine._TASK_MIN_BYTES
    assert len(engine._deal([MB] * 12, 12, 2)) == 2
    assert len(engine._deal([big // 4] * 12, 12, 2)) == 3
    assert len(engine._deal([big] * 12, 12, 2)) == 12
    assert len(engine._deal([big] * 12, 12, 2, num_tasks=3)) == 3
    assert len(engine._deal([big] * 12, 12, 2, num_tasks=99)) == 12


def test_deal_puts_large_items_first_on_the_lightest_task():
    sizes = [1, 9, 2, 8, 3, 7]
    shares = engine._deal(sizes, len(sizes), 2)
    loads = sorted(sum(sizes[i] for i in s) for s in shares)
    assert loads == [15, 15]
    assert all(s == sorted(s) for s in shares)  # item order within a task
    # the largest item leads; each next one goes to the lighter task
    assert engine._deal([5, 1, 1, 1, 1, 1], 6, 2) == [[0], [1, 2, 3, 4, 5]]


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_executor_decode_runs_one_job_with_the_rules_task_count(spark, tmp_out, monkeypatch):
    n_blocks = 6
    pdf = pd.DataFrame({"k": [f"k{i:05d}" for i in range(1800)], "v": list(range(1800))})
    encode_table(spark.createDataFrame(pdf), tmp_out, key_col="k", num_partitions=n_blocks)
    assert len(mf.completed_partitions(tmp_out)) == n_blocks
    monkeypatch.setattr(engine, "_STRIPE_TARGET_BYTES", -1)  # executor venue
    df = decode_table(spark, tmp_out)
    rows, jobs = _jobs(spark, df.collect)
    assert len(rows) == 1800
    assert len(jobs) == 1
    tracker = spark.sparkContext.statusTracker()
    stages = list(tracker.getJobInfo(jobs[0]).stageIds)
    assert len(stages) == 1
    want = min(n_blocks, spark.sparkContext.defaultParallelism)
    assert tracker.getStageInfo(stages[0]).numTasks == want
    # an explicit num_tasks is honoured
    _, jobs = _jobs(spark, decode_table(spark, tmp_out, num_tasks=2).collect)
    stage = list(tracker.getJobInfo(jobs[0]).stageIds)[0]
    assert tracker.getStageInfo(stage).numTasks == 2


def _md5s(out: str, pids) -> list[str]:
    by_pid = {int(r["partition_id"]): r for r in mf.completed_partitions(out)}
    return [
        hashlib.md5(open(by_pid[p]["block_path"], "rb").read()).hexdigest() for p in pids
    ]


def test_executor_update_blocks_depend_only_on_the_data(spark, tmp_path, monkeypatch):
    """The same update on two identical datasets, above the driver-venue
    limit, writes byte-identical replacement blocks."""
    pdf = pd.DataFrame(
        {"k": [f"k{i:05d}" for i in range(4000)], "v": list(range(4000)),
         "tag": [f"t{i % 7}" for i in range(4000)]}
    )
    monkeypatch.setattr(engine, "_STRIPE_TARGET_BYTES", -1)
    got = []
    for name in ("a", "b"):
        out = str(tmp_path / name)
        encode_table(spark.createDataFrame(pdf), out, key_col="k", num_partitions=8)
        before = {int(r["partition_id"]) for r in mf.completed_partitions(out)}
        res = update_where(spark, out, [("v", "<", 1500)], {"tag": "concat(tag, '!')"})
        assert res["n_updated"] == 1500
        new = sorted({int(r["partition_id"]) for r in mf.completed_partitions(out)} - before)
        assert len(new) > 1  # one block per source task
        got.append((new, _md5s(out, new)))
        assert decode_table(spark, out).filter("tag like '%!'").count() == 1500
    assert got[0] == got[1]


SNAPSHOTS_DDL = (
    "snapshot_id int, op string, n_partitions long, n_rows long, "
    "n_tokens long, output_bytes long, ranges string"
)
STATS_DDL = (
    "partition_id int, column string, codec string, enc_bytes long, "
    "raw_bytes long, null_count long, min string, max string, distinct_est long"
)


@pytest.mark.parametrize("empty", [False, True])
def test_metadata_frames_keep_their_schemas(spark, tmp_out, empty):
    if empty:
        os.makedirs(tmp_out)
    else:
        df = spark.createDataFrame([("a", 1), ("b", None), ("c", 3)], "k string, v long")
        encode_table(df, tmp_out, key_col="k", num_partitions=2)
    snaps = engine.snapshots_df(spark, tmp_out)
    assert snaps.schema == StructType.fromDDL(SNAPSHOTS_DDL)
    if empty:
        assert snaps.count() == 0
        return
    assert [r["op"] for r in snaps.collect()] == [e["op"] for e in mf.snapshot_log(tmp_out)]
    stats = engine.stats_df(spark, tmp_out)
    assert stats.schema == StructType.fromDDL(STATS_DDL)
    got = {(r["column"], r["null_count"]) for r in stats.collect()}
    assert ("v", 1) in got and ("k", 0) in got
    assert engine.manifest_df(spark, tmp_out).schema == mf.MANIFEST_SCHEMA
