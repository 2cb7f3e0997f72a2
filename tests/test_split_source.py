"""Split source: a plain Parquet scan encoded with a sort key is read in the
encode task with pyarrow, from Spark's own file splits
(``engine._parquet_splits``), with no JVM Parquet decode and no row-to-Arrow
transfer into Python.  Forcing the ``df.mapInArrow`` source (the helper
returning None) must give the same blocks, byte for byte, and the same
sidecar rows.  Each rule that sends an input back to ``df.mapInArrow`` has
a case of its own.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import uuid
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rugo_spark import engine
from rugo_spark import manifest as mf
from rugo_spark.engine import append_table, encode_table_maponly, merge_table
from rugo_spark.tokengen import token_batch

# 12 files of ~250 KB at 1 MB open cost: two files a split, six splits,
# more than the test session's four cores
BASE_CONF = {
    "spark.sql.files.maxPartitionBytes": str(2 << 20),
    "spark.sql.files.openCostInBytes": str(1 << 20),
}


def _write(d: str, n_files: int, docs: int, start: int = 0, seed: int = 7) -> str:
    os.makedirs(d, exist_ok=True)
    for i in range(n_files):
        t = token_batch(docs, seed=seed, start=start + i * docs)
        pq.write_table(t, os.path.join(d, f"part-{i:03d}.parquet"))
    return d


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    root = tmp_path_factory.mktemp("split_source")
    return {
        "base": _write(str(root / "base"), 12, 300),
        "extra": _write(str(root / "extra"), 3, 200, start=10_000),
        # the first 600 ids of base, re-generated
        "merge": _write(str(root / "merge"), 2, 300, start=0, seed=8),
        # one 9,000-row file: a block of two stripes
        "big": _write(str(root / "big"), 1, 9000, start=20_000),
    }


@contextlib.contextmanager
def _conf(spark, conf: dict):
    before = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _tasks(spark, fn) -> int:
    """Tasks of the Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext
    group = f"split-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return sum(
        st.getStageInfo(s).numTasks
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
    )


def _md5(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


def _blocks(out: str) -> list[tuple]:
    """``(pid, block md5, sidecar row without block_path)`` per visible block."""
    return [
        (r["partition_id"], _md5(r["block_path"]),
         {k: v for k, v in r.items() if k != "block_path"})
        for r in sorted(mf.visible_partitions(out), key=lambda r: r["partition_id"])
    ]


@pytest.fixture(autouse=True)
def small_inputs_split(monkeypatch):
    """The fixtures are a few MB at most: take the split source at any size."""
    monkeypatch.setattr(engine, "_SPLIT_SOURCE_MIN_BYTES", 0)


def _both(monkeypatch, tmp_path, run) -> dict:
    """``run(out)`` with the mapInArrow source forced, then as is."""
    got = {}
    for source in ("mapInArrow", "splits"):
        out = str(tmp_path / source)
        with monkeypatch.context() as m:
            if source == "mapInArrow":
                m.setattr(engine, "_parquet_splits", lambda df: None)
            got[source] = (run(out), _blocks(out))
    return got


@pytest.mark.parametrize("name,sort_key,conf", [
    ("base", "doc_id", BASE_CONF),
    ("base", "source", BASE_CONF),  # many ties: the sort must be stable
    ("big", "doc_id", {"spark.sql.files.openCostInBytes": str(64 << 20)}),
])
def test_maponly_encode_matches_the_mapinarrow_source(
        spark, inputs, tmp_path, monkeypatch, name, sort_key, conf):
    with _conf(spark, conf):
        df = spark.read.parquet(inputs[name])
        splits = engine._parquet_splits(df)
        assert splits is not None
        got = _both(monkeypatch, tmp_path, lambda out: encode_table_maponly(
            df, out, sort_key=sort_key, size_col="n_tok"))
    blocks = got["splits"][1]
    assert len(blocks) == len(splits) and blocks == got["mapInArrow"][1]
    if name == "base":
        assert len(splits) > spark.sparkContext.defaultParallelism
        assert all(len(files) == 2 for files in splits)
    else:  # the 9,000-row block is striped
        assert json.loads(blocks[0][2]["codecs"])["doc_id"]["n"] == 9000
        with open(os.path.join(str(tmp_path / "splits"), mf.BLOCKS_DIR, "part-000000.rgb"), "rb") as f:
            assert f.read(4) == engine.STRIPED_MAGIC2


def test_task_sources(spark, inputs, tmp_path, monkeypatch):
    """A sorted encode deals its splits over ``defaultParallelism`` tasks
    of a ``spark.range`` source.  An unsorted one keeps one task per split
    of ``df``, because an unsorted block keeps the Arrow layout its rows
    arrive in, and so does an input under ``_SPLIT_SOURCE_MIN_BYTES``."""
    with _conf(spark, BASE_CONF):
        df = spark.read.parquet(inputs["base"])
        n_splits = len(engine._parquet_splits(df))

        def tasks(name, **kw):
            return _tasks(spark, lambda: encode_table_maponly(df, str(tmp_path / name), **kw))

        assert tasks("sorted", sort_key="doc_id") == spark.sparkContext.defaultParallelism
        assert spark.sparkContext.defaultParallelism < n_splits
        assert tasks("unsorted") == n_splits
        monkeypatch.setattr(engine, "_SPLIT_SOURCE_MIN_BYTES", 64 << 20)
        assert tasks("small", sort_key="doc_id") == n_splits


def _base(spark, inputs, out: str) -> None:
    encode_table_maponly(spark.read.parquet(inputs["base"]), out,
                         sort_key="doc_id", size_col="n_tok")


def test_append_matches_the_mapinarrow_source(spark, inputs, tmp_path, monkeypatch):
    with _conf(spark, BASE_CONF):
        df = spark.read.parquet(inputs["extra"])
        splits = engine._parquet_splits(df)
        assert splits is not None

        def run(out):
            _base(spark, inputs, out)
            return append_table(df, out, sort_key="doc_id", size_col="n_tok").count()

        got = _both(monkeypatch, tmp_path, run)
    assert got["splits"] == got["mapInArrow"]
    assert got["splits"][0] == len(splits)


def test_merge_source_matches_the_mapinarrow_source(spark, inputs, tmp_path, monkeypatch):
    with _conf(spark, BASE_CONF):
        df = spark.read.parquet(inputs["merge"])
        assert engine._parquet_splits(df) is not None

        def run(out):
            _base(spark, inputs, out)
            r = merge_table(df, out, key_col="doc_id", sort_key="doc_id")
            with open(os.path.join(out, "_deletes", r["delete_file"])) as f:
                return r, json.load(f)["entries"]

        got = _both(monkeypatch, tmp_path, run)
    assert got["splits"] == got["mapInArrow"]
    assert (got["splits"][0][0]["n_replaced"], got["splits"][0][0]["n_appended"]) == (600, 600)


def test_resume_reencodes_only_the_missing_split(spark, inputs, tmp_path):
    out = str(tmp_path / "ds")
    with _conf(spark, BASE_CONF):
        df = spark.read.parquet(inputs["base"])
        encode_table_maponly(df, out, sort_key="doc_id", size_col="n_tok")
        before = _blocks(out)
        bdir = os.path.join(out, mf.BLOCKS_DIR)
        victim = os.path.join(bdir, "part-000003.rgb")
        os.remove(mf.sidecar_path(out, 3))
        os.remove(victim)
        mtimes = {f: os.stat(os.path.join(bdir, f)).st_mtime_ns for f in os.listdir(bdir)}
        tasks = _tasks(spark, lambda: encode_table_maponly(
            df, out, sort_key="doc_id", size_col="n_tok"))
        assert tasks == 1
        assert _blocks(out) == before
        assert {f: os.stat(os.path.join(bdir, f)).st_mtime_ns
                for f in os.listdir(bdir) if f in mtimes} == mtimes
        # nothing left to encode: no job at all
        assert _tasks(spark, lambda: encode_table_maponly(
            df, out, sort_key="doc_id", size_col="n_tok")) == 0


# ------------------------------------------------ rules that fall back


def _partitioned(spark, inputs, tmp):
    for k in (0, 1):
        _write(os.path.join(tmp, f"k={k}"), 2, 100, start=k * 1000)
    return spark.read.parquet(tmp)


def _bucketed(spark, inputs, tmp):
    name = f"bucketed_{uuid.uuid4().hex[:8]}"
    spark.read.parquet(inputs["extra"]).write.bucketBy(2, "doc_id").option(
        "path", tmp).saveAsTable(name)
    return spark.table(name)


def _temporal(spark, inputs, tmp):
    os.makedirs(tmp)
    t = token_batch(100, seed=7).append_column(
        "ts", pa.array([datetime(2024, 1, 1)] * 100, pa.timestamp("us")))
    pq.write_table(t, os.path.join(tmp, "part-000.parquet"))
    return spark.read.parquet(tmp)


def _required_column(spark, inputs, tmp):
    os.makedirs(tmp)
    t = token_batch(100, seed=7)
    schema = t.schema.set(2, pa.field("n_tok", pa.int32(), nullable=False))
    pq.write_table(t.cast(schema), os.path.join(tmp, "part-000.parquet"))
    return spark.read.parquet(tmp)


def _json(spark, inputs, tmp):
    spark.read.parquet(inputs["extra"]).write.json(tmp)
    return spark.read.json(tmp)


FALLBACKS = {
    "filter": ({}, lambda s, i, t: s.read.parquet(i["extra"]).filter("n_tok > 10")),
    "project": ({}, lambda s, i, t: s.read.parquet(i["extra"]).selectExpr("*", "1 AS one")),
    "partition_columns": ({}, _partitioned),
    "bucketed": ({"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"}, _bucketed),
    # the fixture file (~6 MB) is bigger than maxPartitionBytes
    "partial_file": ({"spark.sql.files.maxPartitionBytes": str(1 << 20)},
                     lambda s, i, t: s.read.parquet(i["big"])),
    "ignore_corrupt_files": ({"spark.sql.files.ignoreCorruptFiles": "true"},
                             lambda s, i, t: s.read.parquet(i["extra"])),
    "ignore_missing_files": ({}, lambda s, i, t: s.read.option(
        "ignoreMissingFiles", "true").parquet(i["extra"])),
    "temporal_column": ({}, _temporal),
    "footer_schema": ({}, _required_column),
    "not_parquet": ({}, _json),
}


@pytest.mark.parametrize("rule", sorted(FALLBACKS))
def test_fallback_rule(spark, inputs, tmp_path, rule):
    conf, build = FALLBACKS[rule]
    with _conf(spark, conf):
        df = build(spark, inputs, str(tmp_path / "in"))
        assert engine._parquet_splits(df) is None
        if rule == "partial_file":
            plain = {"spark.sql.files.maxPartitionBytes": str(64 << 20),
                     "spark.sql.files.openCostInBytes": str(64 << 20)}
            with _conf(spark, plain):
                assert engine._parquet_splits(spark.read.parquet(inputs["big"])) is not None


def test_fallback_without_py4j():
    """A Spark Connect frame has no ``_jdf``: the helper gives None."""
    assert engine._parquet_splits(object()) is None
