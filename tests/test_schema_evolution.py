"""Add-column schema evolution on append (the Iceberg ADD COLUMN analog).

A dataset's schema may widen at append commit with NEW nullable columns;
blocks written before a column existed store a prefix of the union schema
and decode the missing tail as all-NULL.  Covers: refusal without the flag,
decode null-fill (full scan, new-column-only projection, filters, compacted
concat stripes, snapshot reads), metadata null accounting on all three merge
paths, non-nullable/dropped-column rejection, and a true-SIGKILL crash
between the schema widening and the completion flip (resume AND reclaim).
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

from rugo_spark import engine as eng
from rugo_spark import manifest as mf

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def evo_inputs(spark, tmp_path):
    """Base input (400 docs, 5 cols) + evolving input (100 docs, +quality)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ids = sorted(r[0] for r in docs.select("doc_id").collect())
    a = docs.filter(docs.doc_id.isin(ids[:400]))
    b = docs.filter(docs.doc_id.isin(ids[400:])).withColumn(
        "quality", (F.length("text") / F.lit(1000.0)).cast("double")
    )
    a_dir, b_dir = str(tmp_path / "evo_a"), str(tmp_path / "evo_b")
    a.write.parquet(a_dir)
    b.write.parquet(b_dir)
    return spark.read.parquet(a_dir), spark.read.parquet(b_dir)


def _setup(spark, out, evo_inputs):
    da, db = evo_inputs
    eng.encode_table_maponly(da, out)
    eng.append_table(db, out, allow_new_columns=True)
    return da, db


def test_plain_append_refuses_new_columns(spark, tmp_path, evo_inputs):
    da, db = evo_inputs
    out = str(tmp_path / "ds")
    eng.encode_table_maponly(da, out)
    with pytest.raises(ValueError, match="allow_new_columns"):
        eng.append_table(db, out)


def test_evolved_decode_and_projections(spark, tmp_path, evo_inputs, plan_on):
    out = str(tmp_path / "ds")
    _setup(spark, out, evo_inputs)
    full = eng.decode_table(spark, out)
    assert full.schema.names[-1] == "quality"  # appended at the tail
    assert full.count() == 500
    assert full.filter(F.col("quality").isNull()).count() == 400
    assert full.filter(F.col("quality").isNotNull()).count() == 100
    # projection to ONLY the evolved column still yields every row
    only_new = eng.decode_table(spark, out, columns=["quality"])
    assert only_new.count() == 500
    assert only_new.schema.names == ["quality"]
    # filters on the evolved column: old blocks must-scan (no stats), then
    # the exact re-apply drops their NULL rows
    assert eng.decode_table(spark, out, filters=[("quality", ">", 0.0)]).count() == 100
    # distributed plan path agrees
    with plan_on("executors"):
        assert eng.decode_table(spark, out).filter(
            F.col("quality").isNull()
        ).count() == 400


def test_evolved_metadata_nulls_three_paths(spark, tmp_path, evo_inputs, plan_on):
    out = str(tmp_path / "ds")
    _setup(spark, out, evo_inputs)
    # local row-scan path
    r = eng.metadata_agg(spark, out, columns=["quality"]).collect()[0]
    assert r["n_rows"] == 500 and r["nulls_quality"] == 400
    assert r["min_quality"] is not None
    # summary fast path (consolidated catalog)
    mf.consolidate_manifest(out)
    r = eng.metadata_agg(spark, out, columns=["quality"]).collect()[0]
    assert r["nulls_quality"] == 400
    # distributed pre-merge path
    with plan_on("executors"):
        r = eng.metadata_agg(spark, out, columns=["quality"]).collect()[0]
    assert r["nulls_quality"] == 400


def test_evolved_compact_and_snapshot_reads(spark, tmp_path, evo_inputs):
    out = str(tmp_path / "ds")
    _setup(spark, out, evo_inputs)
    # concat compaction mixes pre/post-evolution stripes in ONE container;
    # each stripe null-fills independently
    dst = str(tmp_path / "compacted")
    eng.compact_dataset(spark, out, dst, target_bytes=1 << 30)
    cc = eng.decode_table(spark, dst)
    assert cc.count() == 500
    assert cc.filter(F.col("quality").isNull()).count() == 400
    # a snapshot that PREDATES the column decodes under the union schema:
    # 400 rows, quality all-NULL
    s1 = eng.decode_table(spark, out, snapshot_id=1)
    assert s1.count() == 400
    assert s1.filter(F.col("quality").isNull()).count() == 400


def test_rejections(spark, tmp_path, evo_inputs):
    da, db = evo_inputs
    out = str(tmp_path / "ds")
    eng.encode_table_maponly(da, out)
    # dropping a dataset column is never allowed, even when evolving
    with pytest.raises(ValueError, match="only ADDS columns"):
        eng.append_table(
            db.drop("n_chars"), out, allow_new_columns=True
        )
    # retyping an existing column is a mismatch on the existing prefix
    with pytest.raises(ValueError, match="EXISTING columns"):
        eng.append_table(
            db.withColumn("n_chars", F.col("n_chars").cast("int")),
            out,
            allow_new_columns=True,
        )


_KILL_SCRIPT = """
import os, signal, json
import rugo_spark.engine as eng
from rugo_spark.session import get_spark
_orig = eng._atomic_write
def _kill_on_flip(path, payload):
    if b'"complete": true' in payload:
        os.kill(os.getpid(), signal.SIGKILL)  # die between widen and flip
    return _orig(path, payload)
eng._atomic_write = _kill_on_flip
spark = get_spark(master="local[2]")
db = spark.read.parquet({b_dir!r})
eng.append_table(db, {out_dir!r}, allow_new_columns=True)
"""


def test_sigkill_between_widen_and_flip(spark, tmp_path, evo_inputs):
    """The evolving append dies AFTER widening the schema but BEFORE the
    completion flip.  The band is invisible; reads see the widened schema
    with quality all-NULL (indistinguishable from the column's defined
    value for old rows).  Reclaim restores the stashed pre-append schema;
    alternatively a resume completes the append."""
    da, db = evo_inputs
    out = str(tmp_path / "ds")
    eng.encode_table_maponly(da, out)
    b_dir = db.inputFiles()[0].rsplit("/", 1)[0].replace("file:", "")
    proc = subprocess.run(
        [sys.executable, "-c", _KILL_SCRIPT.format(b_dir=b_dir, out_dir=out)],
        cwd="/root/repo",
        capture_output=True,
        timeout=300,
    )
    assert proc.returncode == -9, proc.stderr.decode()[-800:]
    # crash window state: widened schema, invisible band
    arrow_schema, _ = mf.read_schema(out)
    assert "quality" in arrow_schema.names
    mid = eng.decode_table(spark, out)
    assert mid.count() == 400
    assert mid.filter(F.col("quality").isNull()).count() == 400
    # reclaim rolls back band AND schema
    res = eng.reclaim_append(out)
    assert res["reclaimed"]
    arrow_schema, _ = mf.read_schema(out)
    assert "quality" not in arrow_schema.names
    assert eng.decode_table(spark, out).count() == 400
    # the dataset evolves cleanly afterwards
    eng.append_table(db, out, allow_new_columns=True)
    full = eng.decode_table(spark, out)
    assert full.count() == 500
    assert full.filter(F.col("quality").isNotNull()).count() == 100


_RESUME_SCRIPT = """
import rugo_spark.engine as eng
from rugo_spark.session import get_spark
spark = get_spark(master="local[2]")
db = spark.read.parquet({b_dir!r})
eng.append_table(db, {out_dir!r}, allow_new_columns=True)
"""


def test_resume_after_crash_completes_evolution(spark, tmp_path, evo_inputs):
    """Same crash window, but the operator RESUMES the append instead of
    reclaiming: the same band completes bit-identically and the schema stays
    widened.  The resume runs under the SAME master as the crashed session —
    the input fingerprint keys the marker on file stats + parallelism, so a
    resume from a different layout is (correctly) refused."""
    da, db = evo_inputs
    out = str(tmp_path / "ds")
    eng.encode_table_maponly(da, out)
    b_dir = db.inputFiles()[0].rsplit("/", 1)[0].replace("file:", "")
    proc = subprocess.run(
        [sys.executable, "-c", _KILL_SCRIPT.format(b_dir=b_dir, out_dir=out)],
        cwd="/root/repo",
        capture_output=True,
        timeout=300,
    )
    assert proc.returncode == -9, proc.stderr.decode()[-800:]
    proc = subprocess.run(
        [sys.executable, "-c", _RESUME_SCRIPT.format(b_dir=b_dir, out_dir=out)],
        cwd="/root/repo",
        capture_output=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-1500:]
    full = eng.decode_table(spark, out)
    assert full.count() == 500
    assert full.filter(F.col("quality").isNotNull()).count() == 100
    # exactly one append band exists (resume did not allocate a second)
    bands = {int(m["base"]) for m in mf.append_reservations(out)}
    assert bands == {mf.APPEND_BAND}
