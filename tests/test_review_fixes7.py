"""Round-5 review-pass regressions (seven findings over the r5 diff)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

from rugo_spark import manifest as mf


# ------------------------------------------------------------ finding 1:
# probe values outside decimal128 range (|v| >= 1e39) or non-finite crashed
# might_contain instead of returning a membership bool.


def test_bloom_huge_and_nonfinite_float_probes_do_not_crash():
    from rugo_spark import bloom

    b = bloom.build(pa.array([1.5, 2.5, 1e300], type=pa.float64()))
    assert bloom.might_contain(b, 1e300)  # renders '1e+300' on both sides
    assert bloom.might_contain(b, float("inf")) in (True, False)  # no crash
    assert bloom.might_contain(b, float("nan")) in (True, False)
    assert not bloom.might_contain(b, 7e299)  # still skips absent values


def test_bloom_empty_renderings_conservative(monkeypatch):
    from rugo_spark import bloom

    b = bloom.build(pa.array([1.0], type=pa.float64()))
    monkeypatch.setattr(bloom, "_probe_renderings", lambda v: [])
    assert bloom.might_contain(b, 123.0)  # must scan, never skip


# ------------------------------------------------------------ finding 2:
# concurrent consolidation could GC the other's uncataloged segment or
# clobber its catalog entry — now an O_EXCL lock gates the whole op.


def _tiny_ds(out):
    os.makedirs(os.path.join(out, mf.MANIFEST_DIR), exist_ok=True)
    mf.write_schema(out, pa.schema([("a", pa.int64())]),
                    json.dumps({"type": "struct", "fields": []}))
    for pid in range(3):
        mf.write_sidecar(out, {
            "partition_id": pid, "n_rows": 1, "n_tokens": 1, "input_bytes": 1,
            "output_bytes": 1, "block_path": f"/v/{pid}.rgb", "checksum": 0,
            "codecs": "{}",
        })


def test_consolidate_lock_blocks_second_live_session(tmp_path):
    out = str(tmp_path / "ds")
    _tiny_ds(out)
    # a LIVE lock (this very process's pid) must block
    import socket

    with open(os.path.join(out, mf.CONSOLIDATE_LOCK), "w") as f:
        json.dump({"pid": os.getpid(), "host": socket.gethostname()}, f)
    with pytest.raises(ValueError, match="another consolidation"):
        mf.consolidate_manifest(out)
    os.remove(os.path.join(out, mf.CONSOLIDATE_LOCK))
    st = mf.consolidate_manifest(out)
    assert st["folded"] == 3
    assert not os.path.exists(os.path.join(out, mf.CONSOLIDATE_LOCK))


def test_consolidate_lock_breaks_stale_same_host(tmp_path):
    out = str(tmp_path / "ds")
    _tiny_ds(out)
    import socket

    # spawn-and-reap a child so its pid is known-dead
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    with open(os.path.join(out, mf.CONSOLIDATE_LOCK), "w") as f:
        json.dump({"pid": p.pid, "host": socket.gethostname()}, f)
    st = mf.consolidate_manifest(out)  # stale lock broken automatically
    assert st["folded"] == 3


def test_consolidate_lock_foreign_host_refuses(tmp_path):
    out = str(tmp_path / "ds")
    _tiny_ds(out)
    with open(os.path.join(out, mf.CONSOLIDATE_LOCK), "w") as f:
        json.dump({"pid": 1, "host": "other-host"}, f)
    with pytest.raises(ValueError, match="another consolidation"):
        mf.consolidate_manifest(out)


# ------------------------------------------------------------ finding 3:
# clear_manifest left _appends/ markers — stale reservations blocked (and
# band-hid) the NEW dataset after an overwrite.


def test_clear_manifest_removes_append_markers(tmp_path):
    out = str(tmp_path / "ds")
    _tiny_ds(out)
    adir = os.path.join(out, mf.APPENDS_DIR)
    os.makedirs(adir)
    with open(os.path.join(adir, "append-dead.json"), "w") as f:
        json.dump({"base": mf.APPEND_BAND, "fingerprint": "dead"}, f)
    mf.clear_manifest(out)
    assert mf.append_reservations(out) == []
    assert mf.incomplete_append_bands(out) == []


# ------------------------------------------------------------ finding 4:
# a loose sidecar deleted/torn mid-plan suppressed BOTH the sidecar spec and
# the segment row (skip list) — distributed planning silently lost the pid.


def test_manifest_scan_specs_attach_fallbacks_for_overlap(tmp_path):
    out = str(tmp_path / "ds")
    _tiny_ds(out)
    rows = {int(r["partition_id"]): r for r in mf.completed_partitions(out)}
    mf.consolidate_manifest(out)
    # crash-window overlap: pid 1 loose again AND in the segment
    mf.write_sidecar(out, rows[1])
    specs = mf.scan_specs(out)
    # loose sidecars ship as name chunks; the crash-window fallback
    # resolves per-name from the chunk's segment catalog ranges
    sidecars = [s for s in specs if s["kind"] == "sidecars"]
    assert len(sidecars) == 1
    assert sidecars[0]["names"] == [os.path.basename(mf.sidecar_path(out, 1))]
    assert sidecars[0]["catalog"]
    # delete the loose file AFTER the specs were built (consolidation
    # step 5 racing the plan): expanding those specs must still yield all
    # 3 pids exactly once — pid 1 from the torn-file fallback, since every
    # segment spec skips it
    os.remove(mf.sidecar_path(out, 1))
    got = sorted(r["block_path"] for s in specs for r in mf.iter_spec_rows(s))
    assert got == ["/v/0.rgb", "/v/1.rgb", "/v/2.rgb"]


# ------------------------------------------------------------ finding 5:
# overflow guard bounded by row count, not max incoming partition index.


def test_datasource_overflow_guard_uses_max_partition_index(tmp_path, monkeypatch):
    from rugo_spark import datasource as dsrc

    out = str(tmp_path / "ds")
    os.makedirs(os.path.join(out, mf.BLOCKS_DIR), exist_ok=True)
    monkeypatch.setattr(
        mf, "completed_partitions", lambda d: [{"partition_id": 2**31 - 10}]
    )
    monkeypatch.setattr(mf, "append_reservations", lambda d: [])

    w = object.__new__(dsrc.RugoWriter)
    w.out_dir = out
    w.overwrite = False
    w.staging = str(tmp_path / "staging")
    w._arrow_schema_bytes = pa.schema([("a", pa.int64())]).serialize().to_pybytes()
    w._schema_json = json.dumps({"type": "struct", "fields": []})

    class Msg:
        # ONE non-empty partition whose index is 19 (15 earlier ones empty)
        sidecar = json.dumps({"partition_id": 19, "block_path": "/nonexistent"})

    with pytest.raises(ValueError, match="int32"):
        w.commit([Msg()])


# ------------------------------------------------------------ finding 6:
# codec-plan sampling: strided rows + per-value byte budget (head-take let
# the first splits/values dominate the pinned-table training sample).


def test_sample_bytes_strides_rows_and_budgets_values():
    from rugo_spark.engine import _CODEC_SAMPLE_BYTES, _sample_bytes

    # 2048 rows, two distributions: head-take would see only the 'A' half
    vals = [f"A{i:05d}" for i in range(1024)] + [f"Z{i:05d}" for i in range(1024)]
    data = _sample_bytes(vals, is_str=True)
    assert b"A00000" in data and b"Z" in data, "tail rows must contribute"
    # roughly balanced contribution (stride 4 → 256 from each half)
    assert abs(data.count(b"A") - data.count(b"Z")) <= 8

    # per-value budget: one 5 MB value must not eat the whole byte cap
    vals2 = ["x" * (5 << 20)] + [f"y{i}" * 100 for i in range(511)]
    data2 = _sample_bytes(vals2, is_str=True)
    assert len(data2) <= _CODEC_SAMPLE_BYTES
    assert b"y1" in data2, "later values starved by an unbudgeted huge value"
    assert data2.count(b"x") <= _CODEC_SAMPLE_BYTES // 512 + 2048


# ------------------------------------------------------------ finding 7:
# seg-done pid set ships as a broadcast sorted array, not a per-task
# closure frozenset; resume semantics unchanged.


def test_split_encoder_resume_after_consolidation_broadcast(spark, tmp_path):
    from rugo_spark.engine import decode_table, encode_table_maponly

    out = str(tmp_path / "ds")
    df = spark.range(100).selectExpr(
        "cast(id as string) doc_id", "array(cast(id as int)) tokens",
        "cast(1 as int) n_tok", "'w' source",
    ).repartition(4)
    encode_table_maponly(df, out, sort_key="doc_id", size_col="n_tok")
    mf.consolidate_manifest(out)
    bdir = os.path.join(out, mf.BLOCKS_DIR)
    mtimes = {f: os.path.getmtime(os.path.join(bdir, f)) for f in os.listdir(bdir)}
    encode_table_maponly(df, out, sort_key="doc_id", size_col="n_tok")
    assert mf.loose_sidecar_names(out) == []  # nothing re-encoded
    assert mtimes == {
        f: os.path.getmtime(os.path.join(bdir, f)) for f in os.listdir(bdir)
    }
    assert decode_table(spark, out).count() == 100
