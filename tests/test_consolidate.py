"""Consolidated manifest segments (VERDICT r4 item 2): fold loose JSON
sidecars into parquet segments; readers plan from segments + the loose tail;
every crash window of the consolidation protocol leaves a consistent view.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from rugo_spark import manifest as mf
from rugo_spark.engine import (
    append_table,
    compact_dataset,
    decode_table,
    encode_table_maponly,
    metadata_agg,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mk(spark, out, n=400, parts=8, lo=0):
    df = spark.range(lo, lo + n).selectExpr(
        "cast(id as string) doc_id",
        "array(cast(id as int), cast(id+1 as int)) tokens",
        "cast(2 as int) n_tok",
        "'web' source",
    ).repartition(parts)
    encode_table_maponly(df, out, sort_key="doc_id", size_col="n_tok")
    return df


def test_consolidate_roundtrip_local_and_distributed(spark, tmp_path, plan_on):
    out = str(tmp_path / "ds")
    _mk(spark, out)
    before = decode_table(spark, out).orderBy("doc_id").collect()
    meta_before = metadata_agg(spark, out, ["doc_id", "n_tok"]).first()

    st = mf.consolidate_manifest(out)
    assert st["folded"] == 8 and st["segments"] == 1
    assert mf.loose_sidecar_names(out) == []
    assert len(mf.segment_pids(out)) == 8

    for side in ("driver", "executors"):
        with plan_on(side):
            got = decode_table(spark, out).orderBy("doc_id").collect()
            assert got == before, side
            m = metadata_agg(spark, out, ["doc_id", "n_tok"]).first()
            assert m == meta_before
    # bloom point lookup plans through segment rows
    assert decode_table(spark, out, filters=[("doc_id", "=", "123")]).count() == 1


def test_consolidate_incremental_segments_and_append(spark, tmp_path):
    out = str(tmp_path / "ds")
    df = _mk(spark, out)
    mf.consolidate_manifest(out)
    # append a band, consolidating at commit
    app = spark.range(400, 500).selectExpr(
        "cast(id as string) doc_id",
        "array(cast(id as int), cast(id+1 as int)) tokens",
        "cast(2 as int) n_tok",
        "'web' source",
    ).repartition(2)
    append_table(app, out, sort_key="doc_id", size_col="n_tok", consolidate=True)
    assert len(mf.segment_catalog(out)) == 2
    assert mf.loose_sidecar_names(out) == []
    assert decode_table(spark, out).count() == 500
    # resume of the ORIGINAL encode skips consolidated splits (no loose
    # sidecars reappear, blocks untouched)
    mtimes = {
        f: os.path.getmtime(os.path.join(out, mf.BLOCKS_DIR, f))
        for f in os.listdir(os.path.join(out, mf.BLOCKS_DIR))
    }
    encode_table_maponly(df, out, sort_key="doc_id", size_col="n_tok")
    assert mf.loose_sidecar_names(out) == []
    assert mtimes == {
        f: os.path.getmtime(os.path.join(out, mf.BLOCKS_DIR, f))
        for f in os.listdir(os.path.join(out, mf.BLOCKS_DIR))
    }


def test_incomplete_append_band_stays_loose_and_invisible(spark, tmp_path, plan_on):
    out = str(tmp_path / "ds")
    _mk(spark, out)
    # fake a crashed foreign append: reserved band, two sidecars landed,
    # marker never flipped
    adir = os.path.join(out, mf.APPENDS_DIR)
    os.makedirs(adir)
    with open(os.path.join(adir, "append-deadbeef.json"), "w") as f:
        json.dump({"base": mf.APPEND_BAND, "fingerprint": "deadbeef"}, f)
    for pid in (mf.APPEND_BAND, mf.APPEND_BAND + 1):
        mf.write_sidecar(out, {
            "partition_id": pid, "n_rows": 1, "n_tokens": 1, "input_bytes": 1,
            "output_bytes": 1, "block_path": "/nonexistent", "checksum": 0,
            "codecs": "{}",
        })
    st = mf.consolidate_manifest(out)
    assert st["folded"] == 8  # band sidecars NOT folded
    assert len(mf.loose_sidecar_names(out)) == 2
    # readers see only the visible 400 rows, from the segment
    assert decode_table(spark, out).count() == 400
    with plan_on("executors"):
        assert decode_table(spark, out).count() == 400
        assert metadata_agg(spark, out, ["n_tok"]).first()["n_rows"] == 400


def test_crash_window_orphan_segment_is_invisible_then_gcd(spark, tmp_path):
    out = str(tmp_path / "ds")
    _mk(spark, out)
    # window between step 3 (segment file renamed) and step 4 (catalog
    # commit): uncataloged segment file
    sdir = os.path.join(out, mf.SEGMENTS_DIR)
    os.makedirs(sdir)
    with open(os.path.join(sdir, "segment-9999-orphan.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    assert decode_table(spark, out).count() == 400  # readers unaffected
    st = mf.consolidate_manifest(out)
    assert st["gc_orphans"] == 1 and st["folded"] == 8
    assert decode_table(spark, out).count() == 400


def test_crash_window_catalog_committed_sidecars_remain(spark, tmp_path, plan_on):
    out = str(tmp_path / "ds")
    _mk(spark, out)
    rows = {int(r["partition_id"]): r for r in mf.completed_partitions(out)}
    mf.consolidate_manifest(out)
    # resurrect the loose sidecars: the on-disk state of a crash between
    # catalog commit (step 4) and sidecar deletion (step 5)
    for r in rows.values():
        mf.write_sidecar(out, r)
    # no pid is planned twice — row count identical on both plan paths
    for side in ("driver", "executors"):
        with plan_on(side):
            assert decode_table(spark, out).count() == 400
    assert len(mf.completed_partitions(out)) == 8
    # re-consolidation deletes the redundant leftovers without creating a
    # pid-overlapping second segment
    st = mf.consolidate_manifest(out)
    assert st["folded"] == 0 and st["deleted_redundant"] == 8
    assert len(mf.segment_catalog(out)) == 1
    assert decode_table(spark, out).count() == 400


@pytest.mark.parametrize("crash_at", ["before_catalog", "mid_delete"])
def test_sigkill_mid_consolidation_then_recover(spark, tmp_path, crash_at, plan_on):
    """True process death injected at the two risky protocol points:
    right before the catalog commit (segment file exists, uncataloged) and
    midway through sidecar deletion (catalog committed, half the loose
    files gone).  Readers stay exact; a re-consolidation converges."""
    out = str(tmp_path / "ds")
    _mk(spark, out)

    job = f"""
import os, sys
sys.path.insert(0, {REPO!r})
import rugo_spark.manifest as mf

crash_at = {crash_at!r}
_replace, _remove = os.replace, os.remove
def replace(src, dst):
    if crash_at == "before_catalog" and dst.endswith(mf.SEGMENTS_FILE):
        os._exit(9)
    _replace(src, dst)
n_removed = [0]
def remove(p):
    if crash_at == "mid_delete" and "/manifest/part-" in p:
        if n_removed[0] >= 4:
            os._exit(9)
        n_removed[0] += 1
    _remove(p)
os.replace, os.remove = replace, remove
mf.consolidate_manifest({out!r})
os._exit(0)  # never reached
"""
    proc = subprocess.run([sys.executable, "-c", job])
    assert proc.returncode == 9

    # crashed state must read exactly
    assert len(mf.completed_partitions(out)) == 8
    for side in ("driver", "executors"):
        with plan_on(side):
            assert decode_table(spark, out).count() == 400

    # recovery: one more consolidation converges to a clean state
    mf.consolidate_manifest(out)
    assert mf.loose_sidecar_names(out) == []
    assert len(mf.segment_pids(out)) == 8
    # no pid appears in two cataloged segments
    import pyarrow.parquet as pq

    sdir = os.path.join(out, mf.SEGMENTS_DIR)
    all_pids = []
    for e in mf.segment_catalog(out):
        all_pids += pq.read_table(
            os.path.join(sdir, e["file"]), columns=["partition_id"]
        ).column("partition_id").to_pylist()
    assert sorted(all_pids) == sorted(set(all_pids))
    assert decode_table(spark, out).count() == 400


def test_compact_from_consolidated_source(spark, tmp_path):
    out = str(tmp_path / "ds")
    dst = str(tmp_path / "cmp")
    _mk(spark, out)
    expect = decode_table(spark, out).orderBy("doc_id").collect()
    mf.consolidate_manifest(out)
    compact_dataset(spark, out, dst, target_bytes=1 << 30, mode="concat", consolidate=True)
    assert len(mf.completed_partitions(dst)) == 1
    assert mf.loose_sidecar_names(dst) == []
    assert decode_table(spark, dst).orderBy("doc_id").collect() == expect


def test_load_rows_resolves_mixed_and_raises_on_missing(spark, tmp_path):
    out = str(tmp_path / "ds")
    _mk(spark, out)
    rows = {int(r["partition_id"]): r for r in mf.completed_partitions(out)}
    mf.consolidate_manifest(out)
    # pid 3 becomes loose again (freshest-write-wins path)
    mf.write_sidecar(out, rows[3])
    got = mf.load_rows(out, [1, 3, 6])
    assert {int(g["partition_id"]) for g in got.values()} == {1, 3, 6}
    assert got[1]["checksum"] == rows[1]["checksum"]
    with pytest.raises(FileNotFoundError, match="neither"):
        mf.load_rows(out, [1, 99])


def test_clear_manifest_wipes_segments(spark, tmp_path):
    out = str(tmp_path / "ds")
    _mk(spark, out)
    mf.consolidate_manifest(out)
    mf.clear_manifest(out)
    assert mf.segment_catalog(out) == []
    assert mf.completed_partitions(out) == []
    assert not os.path.exists(os.path.join(out, mf.SEGMENTS_FILE))


def test_metadata_agg_summary_fast_path_matches_full(spark, tmp_path, plan_on):
    out = str(tmp_path / "ds")
    _mk(spark, out)
    full = metadata_agg(spark, out, ["doc_id", "n_tok"]).first()
    mf.consolidate_manifest(out)
    assert all(e.get("summary") for e in mf.segment_catalog(out))
    fast = metadata_agg(spark, out, ["doc_id", "n_tok"]).first()
    assert fast == full
    # loose tail merges in: append band (pids far above segment range)
    app = spark.range(400, 450).selectExpr(
        "cast(id as string) doc_id",
        "array(cast(id as int), cast(id+1 as int)) tokens",
        "cast(2 as int) n_tok",
        "'web' source",
    ).repartition(1)
    append_table(app, out, sort_key="doc_id", size_col="n_tok")
    m = metadata_agg(spark, out, ["n_tok"]).first()
    assert m["n_rows"] == 450
    with plan_on("executors"):
        exact = metadata_agg(spark, out, ["n_tok"]).first()
    assert m == exact


def test_metadata_agg_summary_shadowed_pid_falls_back_exact(spark, tmp_path):
    out = str(tmp_path / "ds")
    _mk(spark, out)
    rows = {int(r["partition_id"]): r for r in mf.completed_partitions(out)}
    mf.consolidate_manifest(out)
    # resurrect pid 3 loose (inside the segment's pid range): the summary
    # would double-count it, so the fast path must disqualify itself
    mf.write_sidecar(out, rows[3])
    m = metadata_agg(spark, out, ["doc_id", "n_tok"]).first()
    assert m["n_rows"] == 400  # exact, not 450


def test_corrupt_catalog_raises_not_silent_subset(spark, tmp_path):
    out = str(tmp_path / "ds")
    _mk(spark, out)
    mf.consolidate_manifest(out)
    with open(os.path.join(out, mf.SEGMENTS_FILE), "w") as f:
        f.write("{torn")
    with pytest.raises(ValueError, match="corrupt manifest-segment catalog"):
        mf.completed_partitions(out)
    with pytest.raises(ValueError, match="corrupt manifest-segment catalog"):
        decode_table(spark, out).count()


def test_plan_switch_weighs_segment_rows_by_what_the_scan_reads():
    from rugo_spark.engine import _DISTRIBUTED_PLAN_THRESHOLD as limit
    from rugo_spark.engine import _plan_on_executors

    assert not _plan_on_executors(limit, 0, stats=False)
    assert _plan_on_executors(limit + 1, 0, stats=True)
    # 100k consolidated rows: decode plans on the driver (block paths
    # only), a stats merge on executors (every row's stats JSON parsed)
    assert not _plan_on_executors(0, 100_000, stats=False)
    assert _plan_on_executors(0, 100_000, stats=True)
