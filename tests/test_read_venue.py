"""Read venues: a small read runs its per-block kernel in the driver.

``engine._in_driver`` sends a plan whose requested columns decode to at
most ``_STRIPE_TARGET_BYTES`` of raw Arrow to the driver: ``decode_table``
decodes it when called and the DML mask scan (``_candidate_scan``) runs
there, each returning a LocalRelation.  Everything else runs in a
``mapInArrow`` stage.  Both venues must return the same rows; the executor
side is forced by ``num_tasks`` for decode and by shrinking the constant
for the mask scan.
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import datetime, timedelta

import pandas as pd
import pytest

from rugo_spark import engine
from rugo_spark import evolution as evo
from rugo_spark import manifest as mf
from rugo_spark.engine import (
    append_table,
    decode_table,
    delete_keys,
    delete_where,
    encode_table,
    update_where,
)

N = 1200


def _pdf(lo: int, hi: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "k": [f"k{i:05d}" for i in range(lo, hi)],
            "v": list(range(lo, hi)),
            "tag": [None if i % 5 == 0 else f"t{i % 3}" for i in range(lo, hi)],
            "ts": [datetime(2024, 1, 1) + timedelta(minutes=i) for i in range(lo, hi)],
        }
    )


def _jobs(spark, fn):
    """``(fn(), ids of the Spark jobs fn started)``."""
    sc = spark.sparkContext
    group = f"venue-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def ds(spark, tmp_path_factory):
    """Four blocks and a snapshot before any change; then masks (a delete),
    a renamed column (``v`` → ``val``) and an appended block."""
    out = str(tmp_path_factory.mktemp("venue") / "ds")
    encode_table(spark.createDataFrame(_pdf(0, N)), out, key_col="k", num_partitions=4)
    first = int(mf.snapshot_log(out)[-1]["id"])
    delete_where(spark, out, [("v", "<", 50)])
    evo.rename_column(out, "v", "val")
    append_table(spark.createDataFrame(_pdf(N, N + 300)).withColumnRenamed("v", "val"), out)
    return out, first


READS = {
    "eq": dict(columns=["k", "val"], filters=[("k", "=", "k00420")]),
    "eq_masked_row": dict(filters=[("k", "=", "k00007")]),
    "in": dict(filters=[("k", "in", ["k00001", "k00060", "k01100", "k01350"])]),
    "isnull": dict(columns=["k"], filters=[("tag", "isnull", None)]),
    "renamed": dict(columns=["val", "tag"], filters=[("val", ">=", 1150)]),
    "timestamp": dict(columns=["k", "ts"], filters=[("ts", ">=", datetime(2024, 1, 1, 20))]),
    "empty": dict(filters=[("k", "=", "zzz")]),
    "unfiltered": dict(),
}


@pytest.mark.parametrize("name", sorted(READS))
def test_decode_venues_return_the_same_rows(spark, ds, name):
    out, _ = ds
    kw = READS[name]
    local, jobs = _jobs(spark, lambda: _rows(decode_table(spark, out, **kw)))
    assert jobs == [], f"{name}: a small read started Spark jobs {jobs}"
    executors = _rows(decode_table(spark, out, num_tasks=1, **kw))
    assert local == executors
    if name in ("eq_masked_row", "empty"):
        assert local == []
    elif name == "eq":
        assert local == [("k00420", 420)]


def test_decode_venues_agree_at_a_snapshot(spark, ds):
    out, first = ds
    kw = dict(snapshot_id=first, filters=[("val", "<", 100)], columns=["k"])
    local, jobs = _jobs(spark, lambda: _rows(decode_table(spark, out, **kw)))
    assert jobs == []
    # before the delete: all 100 rows, none masked
    assert local == _rows(decode_table(spark, out, num_tasks=1, **kw))
    assert len(local) == 100


def test_read_above_the_limit_still_runs_a_job(spark, ds, monkeypatch):
    out, _ = ds
    kw = dict(columns=["k", "val"], filters=[("k", "=", "k00420")])
    monkeypatch.setattr(engine, "_STRIPE_TARGET_BYTES", 1)
    df = decode_table(spark, out, **kw)
    rows, jobs = _jobs(spark, lambda: _rows(df))
    assert rows == [("k00420", 420)]
    assert jobs, "a read above the limit ran no Spark job"


def test_corrupt_block_under_both_venues(spark, tmp_out):
    encode_table(spark.createDataFrame(_pdf(0, 400)), tmp_out, key_col="k", num_partitions=4)
    victim = sorted(r["block_path"] for r in mf.visible_partitions(tmp_out))[0]
    with open(victim, "r+b") as f:
        f.seek(20)
        f.write(b"\xde\xad\xbe\xef")
    for num_tasks in (None, 1):
        with pytest.raises(Exception, match="checksum mismatch"):
            decode_table(spark, tmp_out, verify_checksums=True, num_tasks=num_tasks).collect()
    local = _rows(decode_table(spark, tmp_out, verify_checksums=True, on_corrupt="skip"))
    executors = _rows(decode_table(
        spark, tmp_out, verify_checksums=True, on_corrupt="skip", num_tasks=1))
    assert local == executors
    assert 0 < len(local) < 400


def test_nested_not_null_field_reads_in_the_driver(spark, tmp_out):
    """A non-null nested field no longer keeps a small read on executors:
    ``_arrow_df`` rebuilds decoded columns as the declared type, including
    a struct whose null slots hold nulls in its non-null children."""
    import pyspark.sql.functions as F

    info = F.struct(F.col("id").alias("a"), (F.col("id") * 2).alias("b"))
    df = spark.range(300).select(
        F.col("id").alias("k"),
        info.alias("info"),
        F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(info).alias("maybe"),
        F.array(F.when(F.col("id") % 2 == 0, F.lit(None)).otherwise(info)).alias("arr"),
    )
    assert not df.schema["k"].nullable and not df.schema["info"].dataType["a"].nullable
    assert df.schema["maybe"].nullable and not df.schema["maybe"].dataType["a"].nullable
    encode_table(df, tmp_out, key_col="k", num_partitions=2)
    kw = dict(filters=[("k", "<", 10)])
    rows, jobs = _jobs(spark, lambda: _rows(decode_table(spark, tmp_out, **kw)))
    assert jobs == []
    assert rows == _rows(decode_table(spark, tmp_out, num_tasks=1, **kw))
    assert [(k, info["b"]) for k, info, _, _ in rows] == [(i, 2 * i) for i in range(10)]
    assert [k for k, _, maybe, _ in rows if maybe is None] == [0, 3, 6, 9]
    assert [k for k, _, _, arr in rows if arr[0] is None] == [0, 2, 4, 6, 8]
    flat, jobs = _jobs(spark, lambda: _rows(decode_table(spark, tmp_out, columns=["k"], **kw)))
    assert jobs == [] and flat == [(i,) for i in range(10)]


def test_non_null_field_beside_a_nested_timestamp_stays_on_executors(spark, tmp_out):
    """pyspark's Arrow → DataFrame path rebuilds a struct holding a nested
    or timestamp field with nullable children and then refuses to cast a
    non-null one back, so that read keeps its Spark job."""
    import pyspark.sql.functions as F

    ts = F.timestamp_seconds(F.col("id") * 60)
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.struct((F.col("id") * 2).alias("b"), F.struct(ts.alias("d")).alias("when")).alias("info"),
    )
    assert not df.schema["info"].dataType["when"].nullable
    encode_table(df, tmp_out, key_col="k", num_partitions=2)
    kw = dict(filters=[("k", "<", 10)])
    rows, jobs = _jobs(spark, lambda: _rows(decode_table(spark, tmp_out, **kw)))
    assert jobs
    assert [(k, info["b"]) for k, info in rows] == [(i, 2 * i) for i in range(10)]
    assert rows == _rows(decode_table(spark, tmp_out, num_tasks=1, **kw))


def _entries(out: str, name: str | None) -> list[dict]:
    if name is None:
        return []
    with open(os.path.join(out, "_deletes", name)) as f:
        return sorted(json.load(f)["entries"], key=lambda e: e["pid"])


def test_dml_mask_scan_venues_write_the_same_masks(spark, tmp_path, monkeypatch):
    """delete_where, delete_keys and update_where on two identical
    datasets, one scanned in the driver and one on executors."""
    outs = {}
    for venue in ("driver", "executors"):
        out = str(tmp_path / venue)
        encode_table(spark.createDataFrame(_pdf(0, N)), out, key_col="k",
                     size_col="v", num_partitions=4)
        outs[venue] = out

    def run(venue):
        out = outs[venue]
        with monkeypatch.context() as m:
            if venue == "executors":
                m.setattr(engine, "_STRIPE_TARGET_BYTES", -1)
            d, d_jobs = _jobs(spark, lambda: delete_where(spark, out, [("v", "<", 40)]))
            keys = spark.createDataFrame(pd.DataFrame({"id": ["k00100", "k00900", "k00005"]}))
            kd = delete_keys(spark, out, "k", keys)
            u = update_where(spark, out, [("v", ">=", 600), ("v", "<", 610)],
                             {"tag": "'updated'"})
            none = delete_where(spark, out, [("k", "=", "zzz")])
        return d, d_jobs, kd, u, none

    got = {venue: run(venue) for venue in outs}
    (d1, jobs1, kd1, u1, none1), (d2, jobs2, kd2, u2, none2) = got["driver"], got["executors"]
    assert jobs1 == [] and jobs2, (jobs1, jobs2)
    assert (d1["n_deleted"], kd1["n_deleted"], u1["n_updated"]) == (40, 2, 10)
    for a, b in ((d1, d2), (kd1, kd2), (none1, none2)):
        assert {k: v for k, v in a.items() if k != "snapshot"} == \
            {k: v for k, v in b.items() if k != "snapshot"}
        assert _entries(outs["driver"], a["delete_file"]) == \
            _entries(outs["executors"], b["delete_file"])
    assert u1["n_updated"] == u2["n_updated"]
    assert _entries(outs["driver"], u1["delete_file"]) == \
        _entries(outs["executors"], u2["delete_file"])
    assert _rows(decode_table(spark, outs["driver"], num_tasks=1)) == \
        _rows(decode_table(spark, outs["executors"], num_tasks=1))
    # a source decoded in the driver lands as one replacement block, not
    # one per core of its local relation
    replaced = [r for r in mf.visible_partitions(outs["driver"])
                if int(r["partition_id"]) >= mf.APPEND_BAND]
    assert [int(r["n_rows"]) for r in replaced] == [10]
