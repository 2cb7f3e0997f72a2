"""Snapshot lineage, time travel, and rollback (the Iceberg snapshot-log /
as-of-snapshot / rollback analog — dataset-level completion of the
reference's plan-from-metadata thesis, rugo metadata.cpp:841-872).

Covers: log commits at encode/append, time-travel decode on both plan paths
(loose sidecars AND consolidated segments), metadata_agg as-of, rollback's
atomic marker + resumable cleanup (including a true mid-cleanup state and a
SIGKILL between the catalog swap and the unmask), expiry, and the corrupt-
artifact contracts.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from rugo_spark import engine as eng
from rugo_spark import manifest as mf

SF = "/root/testdata/sf0.001"


def test_range_helpers():
    assert mf.pids_to_ranges([0, 1, 2, 5, 6, 9]) == [[0, 3], [5, 7], [9, 10]]
    assert mf.pids_to_ranges([]) == []
    rs = mf.RangeSet([[0, 3], [5, 7]])
    assert 0 in rs and 2 in rs and 5 in rs and 6 in rs
    assert 3 not in rs and 4 not in rs and 7 not in rs and -1 not in rs
    assert not mf.RangeSet([])
    assert mf.intersect_ranges([[0, 10]], [[3, 5], [8, 20]]) == [[3, 5], [8, 10]]
    assert mf.intersect_ranges([[0, 2]], [[2, 4]]) == []


@pytest.fixture()
def two_inputs(spark, tmp_path):
    """Two disjoint parquet inputs (400 + 100 docs) with distinct append
    fingerprints, plus the expected doc_id sets."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ids = sorted(r[0] for r in docs.select("doc_id").collect())
    a_ids, b_ids = set(ids[:400]), set(ids[400:])
    a_dir, b_dir = str(tmp_path / "in_a"), str(tmp_path / "in_b")
    docs.filter(docs.doc_id.isin(list(a_ids))).write.parquet(a_dir)
    docs.filter(docs.doc_id.isin(list(b_ids))).write.parquet(b_dir)
    return (
        spark.read.parquet(a_dir),
        spark.read.parquet(b_dir),
        a_ids,
        b_ids,
    )


def _ids(df):
    return {r[0] for r in df.select("doc_id").collect()}


def _encode_and_append(spark, out, two_inputs):
    da, db, a_ids, b_ids = two_inputs
    eng.encode_table_maponly(da, out)
    eng.append_table(db, out)
    return a_ids, b_ids


def test_snapshot_log_and_time_travel(spark, tmp_path, two_inputs, plan_on):
    out = str(tmp_path / "ds")
    a_ids, b_ids = _encode_and_append(spark, out, two_inputs)
    log = mf.snapshot_log(out)
    assert [(e["id"], e["op"], e["n_rows"]) for e in log] == [
        (1, "encode", 400),
        (2, "append", 500),
    ]
    assert log[1]["ranges"][1][0] == mf.APPEND_BAND  # append band visible
    # current read vs as-of snapshot 1, on BOTH plan paths
    assert _ids(eng.decode_table(spark, out)) == a_ids | b_ids
    assert _ids(eng.decode_table(spark, out, snapshot_id=1)) == a_ids
    with plan_on("executors"):
        assert _ids(eng.decode_table(spark, out, snapshot_id=1)) == a_ids
    assert _ids(eng.decode_table(spark, out, snapshot_id=2)) == a_ids | b_ids
    # stats as of snapshot 1 (summary fast path must not be used)
    row = eng.metadata_agg(spark, out, columns=["n_chars"], snapshot_id=1).collect()[0]
    assert row["n_rows"] == 400
    # after consolidation the snapshot read plans from segment slices
    mf.consolidate_manifest(out)
    assert _ids(eng.decode_table(spark, out, snapshot_id=1)) == a_ids
    with plan_on("executors"):
        assert _ids(eng.decode_table(spark, out, snapshot_id=1)) == a_ids
    row = eng.metadata_agg(spark, out, columns=["n_chars"], snapshot_id=1).collect()[0]
    assert row["n_rows"] == 400
    # snapshots_df mirrors the log
    sdf = eng.snapshots_df(spark, out).collect()
    assert [(r["snapshot_id"], r["op"], r["n_rows"]) for r in sdf] == [
        (1, "encode", 400),
        (2, "append", 500),
    ]
    with pytest.raises(ValueError, match="unknown snapshot_id 99"):
        eng.decode_table(spark, out, snapshot_id=99)


def test_commit_snapshot_idempotent(spark, tmp_path, two_inputs):
    out = str(tmp_path / "ds")
    da, *_ = two_inputs
    eng.encode_table_maponly(da, out)
    assert len(mf.snapshot_log(out)) == 1
    # unchanged visible set (resume re-runs) appends nothing
    assert mf.commit_snapshot(out, "encode") is None
    assert len(mf.snapshot_log(out)) == 1


def test_rollback_roundtrip(spark, tmp_path, two_inputs):
    out = str(tmp_path / "ds")
    a_ids, b_ids = _encode_and_append(spark, out, two_inputs)
    mf.consolidate_manifest(out)  # rollback must rewrite a segment
    res = mf.rollback_to_snapshot(out, 1)
    assert res["blocks_deleted"] >= 1 and res["segments_rewritten"] == 1
    assert res["append_markers_deleted"] == 1
    assert not os.path.exists(os.path.join(out, mf.ROLLBACK_MARKER))
    assert _ids(eng.decode_table(spark, out)) == a_ids
    assert [int(e["id"]) for e in mf.snapshot_log(out)] == [1]
    # condemned band's blocks physically gone
    bdir = os.path.join(out, mf.BLOCKS_DIR)
    assert all(
        int(n[len("part-"):-len(".rgb")]) < mf.APPEND_BAND
        for n in os.listdir(bdir)
        if n.startswith("part-") and n.endswith(".rgb")
    )
    # the dataset is fully usable again: append re-lands in a fresh band
    db = two_inputs[1]
    eng.append_table(db, out)
    assert _ids(eng.decode_table(spark, out)) == a_ids | b_ids
    assert [int(e["id"]) for e in mf.snapshot_log(out)] == [1, 2]


def test_rollback_to_latest_is_noop(spark, tmp_path, two_inputs):
    out = str(tmp_path / "ds")
    a_ids, b_ids = _encode_and_append(spark, out, two_inputs)
    res = mf.rollback_to_snapshot(out, 2)
    assert res["blocks_deleted"] == 0 and res["segments_rewritten"] == 0
    assert not os.path.exists(os.path.join(out, mf.ROLLBACK_MARKER))
    assert _ids(eng.decode_table(spark, out)) == a_ids | b_ids
    assert len(mf.snapshot_log(out)) == 2


def test_mid_rollback_mask_and_resume(spark, tmp_path, two_inputs, plan_on):
    """Window A: the marker just landed, zero cleanup ran.  Readers must
    already see exactly the target snapshot; writers must refuse; resuming
    the rollback completes cleanup."""
    out = str(tmp_path / "ds")
    a_ids, b_ids = _encode_and_append(spark, out, two_inputs)
    keep = mf.snapshot_ranges(out, 1)
    with open(os.path.join(out, mf.ROLLBACK_MARKER), "w") as f:
        json.dump({"ranges": keep, "snapshot_id": 1}, f)
    # masked reads: both plan paths, manifest_df, metadata_agg
    assert _ids(eng.decode_table(spark, out)) == a_ids
    with plan_on("executors"):
        assert _ids(eng.decode_table(spark, out)) == a_ids
    assert eng.metadata_agg(spark, out, columns=["n_chars"]).collect()[0]["n_rows"] == 400
    with pytest.raises(ValueError, match="in-progress rollback"):
        eng.append_table(two_inputs[1], out)
    with pytest.raises(ValueError, match="in-progress rollback"):
        mf.consolidate_manifest(out)
    # resume completes and unmasks
    res = mf.rollback_to_snapshot(out, 1)
    assert res["blocks_deleted"] >= 1
    assert not os.path.exists(os.path.join(out, mf.ROLLBACK_MARKER))
    assert _ids(eng.decode_table(spark, out)) == a_ids


_KILL_SCRIPT = """
import os, signal
import rugo_spark.manifest as mf
_orig = mf._commit_catalog
def _kill_after(out_dir, segments):
    _orig(out_dir, segments)
    os.kill(os.getpid(), signal.SIGKILL)  # die right after the catalog swap
mf._commit_catalog = _kill_after
mf.rollback_to_snapshot({out_dir!r}, 1)
"""


def test_sigkill_between_catalog_swap_and_unmask(spark, tmp_path, two_inputs, plan_on):
    """Window B: rollback dies AFTER committing the rewritten catalog but
    BEFORE removing the marker (dirty segment files still on disk).  The
    view must stay rolled back, and a resume must finish cleanly."""
    out = str(tmp_path / "ds")
    a_ids, b_ids = _encode_and_append(spark, out, two_inputs)
    mf.consolidate_manifest(out)
    proc = subprocess.run(
        [sys.executable, "-c", _KILL_SCRIPT.format(out_dir=out)],
        cwd="/root/repo",
        capture_output=True,
        timeout=120,
    )
    assert proc.returncode == -9, proc.stderr.decode()[-500:]
    assert os.path.exists(os.path.join(out, mf.ROLLBACK_MARKER))
    # stale consolidation lock from the killed process must not block resume
    # (same-host dead-pid locks are broken automatically)
    assert _ids(eng.decode_table(spark, out)) == a_ids
    res = mf.rollback_to_snapshot(out, 1)
    assert not os.path.exists(os.path.join(out, mf.ROLLBACK_MARKER))
    assert _ids(eng.decode_table(spark, out)) == a_ids
    with plan_on("executors"):
        assert _ids(eng.decode_table(spark, out)) == a_ids
    # no orphan segment files survive (the dirty ones were deleted on resume)
    cataloged = {e["file"] for e in mf.segment_catalog(out)}
    on_disk = set(os.listdir(os.path.join(out, mf.SEGMENTS_DIR)))
    assert on_disk == cataloged


def test_rollback_conflicting_target_raises(spark, tmp_path, two_inputs):
    out = str(tmp_path / "ds")
    _encode_and_append(spark, out, two_inputs)
    with open(os.path.join(out, mf.ROLLBACK_MARKER), "w") as f:
        json.dump({"ranges": [[0, 1]], "snapshot_id": 0}, f)
    with pytest.raises(ValueError, match="different ranges"):
        mf.rollback_to_snapshot(out, 2)
    os.remove(os.path.join(out, mf.ROLLBACK_MARKER))


def test_corrupt_artifacts(spark, tmp_path, two_inputs):
    out = str(tmp_path / "ds")
    da, *_ = two_inputs
    eng.encode_table_maponly(da, out)
    # corrupt log: strict raises, non-strict warns and starts fresh
    with open(os.path.join(out, mf.SNAPSHOTS_FILE), "w") as f:
        f.write("{torn")
    with pytest.raises(ValueError, match="corrupt snapshot log"):
        mf.snapshot_log(out)
    with pytest.warns(UserWarning, match="corrupt snapshot log"):
        assert mf.snapshot_log(out, strict=False) == []
    # a data commit is NOT blocked: it warns and restarts history
    with pytest.warns(UserWarning):
        assert mf.commit_snapshot(out, "encode")["id"] == 1
    # corrupt rollback marker: condemned set unknown → reads refuse
    with open(os.path.join(out, mf.ROLLBACK_MARKER), "w") as f:
        f.write("{torn")
    with pytest.raises(ValueError, match="corrupt rollback marker"):
        eng.decode_table(spark, out).count()
    os.remove(os.path.join(out, mf.ROLLBACK_MARKER))


def test_clear_manifest_removes_snapshot_state(spark, tmp_path, two_inputs):
    out = str(tmp_path / "ds")
    da, *_ = two_inputs
    eng.encode_table_maponly(da, out)
    with open(os.path.join(out, mf.ROLLBACK_MARKER), "w") as f:
        json.dump({"ranges": [[0, 1]]}, f)
    mf.clear_manifest(out)
    assert not os.path.exists(os.path.join(out, mf.SNAPSHOTS_FILE))
    assert not os.path.exists(os.path.join(out, mf.ROLLBACK_MARKER))


def test_expire_snapshots(spark, tmp_path, two_inputs):
    out = str(tmp_path / "ds")
    _encode_and_append(spark, out, two_inputs)
    assert mf.expire_snapshots(out, keep_last=1) == {
        "expired": 1, "kept": [2], "delete_files_removed": 0,
    }
    with pytest.raises(ValueError, match="unknown snapshot_id 1"):
        eng.decode_table(spark, out, snapshot_id=1)
    # ids stay stable: snapshot 2 still addressable
    assert eng.decode_table(spark, out, snapshot_id=2).count() == 500
    with pytest.raises(ValueError, match="keep_last"):
        mf.expire_snapshots(out, keep_last=0)
