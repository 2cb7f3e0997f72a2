"""Row-level position deletes (the Iceberg position-delete / Delta
deletion-vector analog — beyond-reference lifecycle surface like
append/snapshots; the reference engine is read-only, ``rugo/parquet``).

Covers: the three position encodings, mask application, ``delete_where``
end-to-end (decode parity vs an anti-filtered input, exact row/token
accounting, idempotency, composition, block pruning), visibility (a crash
between file write and commit leaves NOTHING visible), both read paths
(``decode_table`` and ``format("rugo")``), ``metadata_agg`` subtraction,
snapshot time travel / rollback un-delete, physical purge via
``compact_dataset``, and delete→append interplay.
"""
from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pytest

from rugo_spark import deletes as dl
from rugo_spark import manifest as mf
from rugo_spark.engine import (
    compact_dataset,
    decode_table,
    delete_where,
    encode_table,
    metadata_agg,
)
from rugo_spark.tokengen import token_batch

N_DOCS = 1200


@pytest.fixture(scope="module")
def token_df(spark):
    return spark.createDataFrame(token_batch(N_DOCS).to_pandas()).cache()


@pytest.fixture()
def encoded(spark, token_df, tmp_out):
    encode_table(token_df, tmp_out, key_col="doc_id", size_col="n_tok",
                 num_partitions=6)
    return tmp_out


def _sorted_pdf(df):
    return df.toPandas().sort_values("doc_id").reset_index(drop=True)


def _assert_matches(got_df, want_df):
    got, want = _sorted_pdf(got_df), _sorted_pdf(want_df)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["n_tok"].tolist() == want["n_tok"].tolist()
    for g, w in zip(got["tokens"].values, want["tokens"].values):
        np.testing.assert_array_equal(np.asarray(g), np.asarray(w))


# ---------------------------------------------------------------- kernels


def test_position_encodings_roundtrip():
    n = 10_000
    sparse = np.array([3, 77, 9_999], dtype=np.uint32)
    dense = np.arange(0, n, 2, dtype=np.uint32)
    for pos, want_enc in ((sparse, "pos32"), (dense, "bitmap"),
                          (np.arange(n, dtype=np.uint32), "all")):
        enc, data = dl.encode_positions(pos, n)
        assert enc == want_enc
        np.testing.assert_array_equal(dl.decode_positions(enc, data, n), pos)
    with pytest.raises(ValueError):
        dl.decode_positions("nope", "", 4)


def test_apply_mask_multi_batch():
    batches = [
        pa.RecordBatch.from_pydict({"v": list(range(i * 10, i * 10 + 10))})
        for i in range(4)
    ]
    # drop one row mid-batch, a whole batch, and the last row
    pos = np.array([5, *range(20, 30), 39], dtype=np.uint32)
    out = list(dl.apply_mask(iter(batches), pos))
    vals = [v for b in out for v in b.column(0).to_pylist()]
    assert vals == [v for v in range(40) if v not in set(pos.tolist())]
    # untouched batches pass through zero-copy (same object)
    assert out[1] is batches[1]


def test_union_positions():
    e1 = dl.encode_positions(np.array([1, 5], dtype=np.uint32), 100)
    e2 = dl.encode_positions(np.array([5, 9], dtype=np.uint32), 100)
    raw = [(e1[0], e1[1], 100), (e2[0], e2[1], 100)]
    np.testing.assert_array_equal(dl.union_positions(raw), [1, 5, 9])


# ----------------------------------------------------------- delete_where


def test_delete_where_roundtrip(spark, token_df, encoded):
    import pyspark.sql.functions as F

    med = token_df.approxQuantile("n_tok", [0.5], 0.0)[0]
    res = delete_where(spark, encoded, [("n_tok", "<", int(med))])
    want = token_df.filter(~(F.col("n_tok") < int(med)))
    assert res["n_deleted"] == token_df.count() - want.count() > 0
    assert res["delete_file"] and res["snapshot"]
    _assert_matches(decode_table(spark, encoded), want)
    # exact accounting through metadata_agg (min/max stay physical)
    agg = metadata_agg(spark, encoded, columns=["n_tok"]).first()
    wrow = want.agg(F.count("*"), F.sum("n_tok")).first()
    assert agg["n_rows"] == wrow[0]
    assert agg["n_tokens"] == wrow[1]
    # snapshot entry carries the cumulative file list + net counts
    snap = mf.snapshot_log(encoded)[-1]
    assert snap["op"] == "delete"
    assert snap["delete_files"] == [res["delete_file"]]
    assert snap["n_rows"] == wrow[0]


def test_delete_idempotent_and_compose(spark, token_df, encoded):
    import pyspark.sql.functions as F

    r1 = delete_where(spark, encoded, [("n_tok", "<", 100)])
    assert r1["n_deleted"] > 0
    # same predicate again: prior positions subtracted → nothing new
    r2 = delete_where(spark, encoded, [("n_tok", "<", 100)])
    assert r2["n_deleted"] == 0 and r2["delete_file"] is None
    assert len(dl.visible_delete_files(encoded)) == 1
    # overlapping wider predicate: only the NEW rows count
    r3 = delete_where(spark, encoded, [("n_tok", "<", 150)])
    n_150 = token_df.filter(F.col("n_tok") < 150).count()
    assert r1["n_deleted"] + r3["n_deleted"] == n_150
    _assert_matches(decode_table(spark, encoded),
                    token_df.filter(F.col("n_tok") >= 150))
    # totals across disjoint files sum exactly
    rows, _ = dl.deleted_totals(encoded, dl.visible_delete_files(encoded))
    assert rows == n_150


def test_delete_conjunction_and_whole_block(spark, token_df, encoded):
    import pyspark.sql.functions as F

    # ANDed triples
    res = delete_where(spark, encoded,
                       [("n_tok", ">=", 50), ("n_tok", "<=", 200)])
    want = token_df.filter(~((F.col("n_tok") >= 50) & (F.col("n_tok") <= 200)))
    assert res["n_deleted"] == token_df.count() - want.count()
    _assert_matches(decode_table(spark, encoded), want)
    # delete EVERYTHING → every entry folds to the kilobyte 'all' encoding
    res2 = delete_where(spark, encoded, [("n_tok", ">=", 0)])
    payload = dl.read_delete_file(encoded, res2["delete_file"])
    assert all(e["enc"] == "all" or e["n_deleted"] < e["n_rows"]
               for e in payload["entries"])
    assert decode_table(spark, encoded).count() == 0
    agg = metadata_agg(spark, encoded).first()
    assert agg["n_rows"] == 0 and agg["n_tokens"] == 0


def test_delete_prunes_blocks(spark, token_df, encoded):
    """A predicate on the range-sorted key opens only matching blocks."""
    ids = sorted(r[0] for r in token_df.select("doc_id").collect())
    res = delete_where(spark, encoded, [("doc_id", "<=", ids[10])])
    assert res["n_deleted"] == 11
    n_blocks_total = len(mf.visible_partitions(encoded))
    assert res["n_blocks"] < n_blocks_total  # min/max pruning worked


def test_delete_timestamp_retention(spark, tmp_path):
    """The headline retention shape — DELETE WHERE ts < cutoff on a
    timestamp column.  Pins the JSON-safe predicate rendering (raw
    datetime values crashed every serialization point) while evaluation
    stays typed (pa.scalar against the column type)."""
    import datetime

    import pyspark.sql.functions as F

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = str(tmp_path / "orders_enc")
    encode_table(df, out, key_col="o_orderkey", num_partitions=3)
    cutoff = datetime.datetime(1998, 1, 1)
    res = delete_where(spark, out, [("o_orderdate", "<", cutoff)])
    want = df.filter(F.col("o_orderdate") >= F.lit(cutoff))
    assert res["n_deleted"] == df.count() - want.count() > 0
    assert decode_table(spark, out).count() == want.count()
    assert metadata_agg(spark, out).first()["n_rows"] == want.count()
    # the recorded predicate is the stringified value, round-trippable JSON
    payload = dl.read_delete_file(out, res["delete_file"])
    assert payload["predicate"] == [["o_orderdate", "<", str(cutoff)]]


def test_delete_keys_takedown(spark, token_df, encoded):
    """GDPR/takedown shape: delete an explicit id list.  Shares the
    merge's distributed key-match kernel; idempotent and composable with
    predicate deletes."""
    import pyspark.sql.functions as F

    from rugo_spark.engine import delete_keys

    ids = token_df.select("doc_id").orderBy("doc_id").limit(37)
    res = delete_keys(spark, encoded, "doc_id", ids)
    assert res["n_deleted"] == 37 and res["n_blocks"] >= 1
    want = token_df.join(ids, "doc_id", "left_anti")
    _assert_matches(decode_table(spark, encoded), want)
    assert metadata_agg(spark, encoded).first()["n_rows"] == want.count()
    # idempotent: same ids again → nothing new
    res2 = delete_keys(spark, encoded, "doc_id", ids)
    assert res2["n_deleted"] == 0 and res2["delete_file"] is None
    # composes with a predicate delete without double-counting
    d = delete_where(spark, encoded, [("n_tok", "<", 10**9)])  # delete the rest
    assert res["n_deleted"] + d["n_deleted"] == N_DOCS
    assert decode_table(spark, encoded).count() == 0


def test_delete_where_and_delete_keys_write_equal_entries(spark, token_df, tmp_path):
    """The predicate and key DMLs share one mask scan: a doc_id range, and
    the same ids as a key list, each on a fresh copy of one dataset, write
    equal per-pid entries — positions, encodings and size_col tokens."""
    import shutil

    import pyspark.sql.functions as F

    from rugo_spark.engine import delete_keys

    base = str(tmp_path / "base")
    encode_table(token_df, base, key_col="doc_id", size_col="n_tok",
                 num_partitions=6)
    ids = sorted(r["doc_id"] for r in token_df.select("doc_id").collect())
    lo, hi = ids[N_DOCS // 5], ids[N_DOCS * 3 // 4]
    in_range = token_df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
    by_pred, by_keys = str(tmp_path / "pred"), str(tmp_path / "keys")
    shutil.copytree(base, by_pred)
    shutil.copytree(base, by_keys)
    r_pred = delete_where(spark, by_pred, [("doc_id", ">=", lo), ("doc_id", "<=", hi)])
    r_keys = delete_keys(spark, by_keys, "doc_id", in_range.select("doc_id"))

    def entries(out, res):
        return sorted(dl.read_delete_file(out, res["delete_file"])["entries"],
                      key=lambda e: e["pid"])

    got_pred, got_keys = entries(by_pred, r_pred), entries(by_keys, r_keys)
    assert got_pred == got_keys and len(got_pred) > 1
    assert r_pred["n_deleted"] == r_keys["n_deleted"] == in_range.count()
    assert sum(e["deleted_tokens"] for e in got_pred) == \
        in_range.agg(F.sum("n_tok")).first()[0] > 0


@pytest.mark.parametrize("failing", ["update_unresolved_assignment",
                                     "update_check_violation",
                                     "merge_check_violation"])
def test_writer_lock_released_when_dml_raises(spark, token_df, encoded, failing):
    import pyspark.sql.functions as F

    from rugo_spark.engine import merge_table, set_constraint, update_where

    ddir = os.path.join(encoded, dl.DELETES_DIR)
    before = set(os.listdir(ddir)) if os.path.isdir(ddir) else set()
    if failing == "update_unresolved_assignment":
        with pytest.raises(Exception, match="no_such_col"):
            update_where(spark, encoded, [("n_tok", "<", 100)],
                         {"n_tok": "no_such_col + 1"})
    elif failing == "update_check_violation":
        set_constraint(encoded, "positive_tokens", "n_tok > 0")
        with pytest.raises(ValueError, match="positive_tokens"):
            update_where(spark, encoded, [("n_tok", "<", 100)], {"n_tok": "-1"})
    else:
        set_constraint(encoded, "positive_tokens", "n_tok > 0")
        bad = token_df.limit(5).withColumn("n_tok", F.lit(-1).cast("int"))
        with pytest.raises(ValueError, match="positive_tokens"):
            merge_table(bad, encoded, key_col="doc_id")
    assert not os.path.exists(os.path.join(encoded, mf.CONSOLIDATE_LOCK))
    # the constraint check runs before the mask scan: no delete file left
    assert (set(os.listdir(ddir)) if os.path.isdir(ddir) else set()) == before
    assert decode_table(spark, encoded).count() == N_DOCS
    res = delete_where(spark, encoded, [("n_tok", "<", 100)])
    assert res["n_deleted"] == token_df.filter(F.col("n_tok") < 100).count() > 0


def test_delete_validation(spark, encoded):
    with pytest.raises(ValueError, match="at least one"):
        delete_where(spark, encoded, [])
    with pytest.raises(ValueError, match="unknown column"):
        delete_where(spark, encoded, [("nope", "=", 1)])
    with pytest.raises(ValueError, match="unsupported"):
        delete_where(spark, encoded, [("n_tok", "!=", 1)])


# ------------------------------------------------------------- visibility


def test_uncommitted_delete_file_is_invisible(spark, token_df, encoded):
    n = token_df.count()
    pid = int(mf.visible_partitions(encoded)[0]["partition_id"])
    enc, data = dl.encode_positions(np.array([0], dtype=np.uint32), 10)
    # crash window: file written, commit never happened
    dl.write_delete_file(encoded, "delete-deadbeef.json", [
        {"pid": pid, "n_rows": 10, "n_deleted": 1, "deleted_tokens": 0,
         "enc": enc, "data": data}
    ], None)
    assert dl.visible_delete_files(encoded) == []
    assert decode_table(spark, encoded).count() == n
    assert metadata_agg(spark, encoded).first()["n_rows"] == n
    assert dl.gc_orphans(encoded) == 1
    assert not os.listdir(os.path.join(encoded, dl.DELETES_DIR))


def test_missing_referenced_file_raises(spark, encoded):
    res = delete_where(spark, encoded, [("n_tok", "<", 100)])
    os.remove(os.path.join(encoded, dl.DELETES_DIR, res["delete_file"]))
    with pytest.raises(FileNotFoundError, match="resurface"):
        decode_table(spark, encoded).count()


def test_reader_retries_on_mid_read_lifecycle_commit(
    spark, token_df, encoded, monkeypatch
):
    """Consistent-view loop: if a lifecycle commit lands between the mask
    read and the partition listing (simulated by a stale first read), the
    reader must detect the change on the re-read and retry — never plan
    with masks from one commit state and partitions from another (a MERGE
    flip would otherwise surface both row versions, or neither)."""
    import pyspark.sql.functions as F

    med = token_df.approxQuantile("n_tok", [0.5], 0.0)[0]
    delete_where(spark, encoded, [("n_tok", "<", int(med))])
    want = token_df.filter(~(F.col("n_tok") < int(med))).count()

    real = dl.visible_delete_files
    calls = {"n": 0}

    def stale_first(out_dir, snapshot_id=None):
        calls["n"] += 1
        if calls["n"] == 1:
            return []  # the view before the delete committed
        return real(out_dir, snapshot_id)

    monkeypatch.setattr(dl, "visible_delete_files", stale_first)
    assert decode_table(spark, encoded).count() == want
    assert calls["n"] >= 3, "reader did not re-validate the lifecycle view"
    # metadata_agg runs the same loop
    calls["n"] = 0
    assert metadata_agg(spark, encoded).first()["n_rows"] == want
    assert calls["n"] >= 3


# ------------------------------------------------------------- read paths


def test_datasource_read_applies_masks(spark, token_df, encoded):
    import pyspark.sql.functions as F

    from rugo_spark.datasource import RugoDataSource

    spark.dataSource.register(RugoDataSource)
    delete_where(spark, encoded, [("n_tok", "<", 150)])
    want = token_df.filter(F.col("n_tok") >= 150)
    got = spark.read.format("rugo").load(encoded)
    _assert_matches(got, want)
    # pushed filter + mask together (mask disables stripe skipping; Spark
    # still applies the exact predicate)
    assert (got.filter(F.col("n_tok") >= 300).count()
            == token_df.filter(F.col("n_tok") >= 300).count())


def test_masked_multistripe_block_through_every_reader(spark, tmp_out):
    """Delete positions are block-absolute, so a masked RGS2 block must
    decode every stripe before its mask applies, under every reader.  The
    block's stripes hold disjoint key ranges (one per input split) and
    differ in size, so the victim (first row of stripe 1) and the probe
    (same local index in a longer later stripe) make a reader that skips
    stripes on a masked block drop the probe instead of the victim."""
    import pyspark.sql.functions as F

    from rugo_spark.datasource import register
    from rugo_spark.engine import read_block_file

    sizes = [100, 600, 600]
    bounds = np.cumsum([0] + sizes)
    splits = [[(f"d{i:05d}", i, 50) for i in range(lo, hi)]
              for lo, hi in zip(bounds[:-1].tolist(), bounds[1:].tolist())]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(splits, len(splits)).flatMap(lambda s: s),
        "doc_id string, val long, n_tok long",
    )
    encode_table(df, tmp_out, key_col="doc_id", size_col="n_tok",
                 num_partitions=1, precombine=True)
    schema, _ = mf.read_schema(tmp_out)
    (row,) = mf.visible_partitions(tmp_out)
    stripes = list(read_block_file(row["block_path"], schema))
    assert [s.num_rows for s in stripes] == sizes
    victim = stripes[1].column(0)[0].as_py()  # block position sizes[0]
    probe = stripes[2].column(0)[sizes[0]].as_py()
    # the setup exercises stripe skipping: the probe's lookup reads 1 stripe
    assert len(list(read_block_file(row["block_path"], schema, None,
                                    [("doc_id", "=", probe)]))) == 1
    assert delete_where(spark, tmp_out, [("doc_id", "=", victim)])["n_deleted"] == 1

    register(spark)
    want = {f"d{i:05d}" for i in range(sum(sizes))} - {victim}
    readers = {
        "decode_table": lambda f: decode_table(spark, tmp_out, filters=f),
        "decode_table verified": lambda f: decode_table(
            spark, tmp_out, filters=f, verify_checksums=True),
        "format(rugo)": lambda f: spark.read.format("rugo").load(tmp_out),
        "format(rugo) verified": lambda f: spark.read.format("rugo")
        .option("verifychecksums", "true").load(tmp_out),
    }
    for name, read in readers.items():
        hit = read([("doc_id", "=", probe)]).filter(F.col("doc_id") == probe).collect()
        assert [(r["doc_id"], r["val"]) for r in hit] == [(probe, int(probe[1:]))], name
        got = [r["doc_id"] for r in read(None).select("doc_id").collect()]
        assert len(got) == len(want) and set(got) == want, name


def test_snapshot_time_travel_and_rollback_undelete(spark, token_df, encoded):
    import pyspark.sql.functions as F

    pre = mf.snapshot_log(encoded)[-1]["id"]
    res = delete_where(spark, encoded, [("n_tok", "<", 150)])
    post = res["snapshot"]
    n_all, n_kept = token_df.count(), token_df.filter(F.col("n_tok") >= 150).count()
    assert decode_table(spark, encoded, snapshot_id=pre).count() == n_all
    assert decode_table(spark, encoded, snapshot_id=post).count() == n_kept
    assert metadata_agg(spark, encoded, snapshot_id=pre).first()["n_rows"] == n_all
    # rollback past the delete un-deletes and GCs the orphaned mask
    out = mf.rollback_to_snapshot(encoded, pre)
    assert out["delete_files_removed"] == 1
    assert decode_table(spark, encoded).count() == n_all
    assert dl.visible_delete_files(encoded) == []


def test_delete_and_merge_on_consolidated_dataset(spark, token_df, encoded):
    """Lifecycle ops against a SEGMENT-planned dataset: after
    consolidate_manifest folds the loose sidecars into parquet segments,
    delete_where / merge_table must still see every block (candidate
    listing reads segments), and metadata_agg's summary fast path must
    subtract the masks."""
    import pyspark.sql.functions as F

    from rugo_spark.engine import merge_table

    assert mf.consolidate_manifest(encoded)["folded"] > 0
    med = token_df.approxQuantile("n_tok", [0.5], 0.0)[0]
    res = delete_where(spark, encoded, [("n_tok", "<", int(med))])
    want = token_df.filter(~(F.col("n_tok") < int(med)))
    assert res["n_deleted"] == N_DOCS - want.count() > 0
    _assert_matches(decode_table(spark, encoded), want)
    assert metadata_agg(spark, encoded).first()["n_rows"] == want.count()
    # merge against the consolidated + masked dataset
    src = token_df.limit(30).withColumn("source", F.lit("upserted"))
    mres = merge_table(src, encoded, key_col="doc_id")
    still_live = src.join(want.select("doc_id"), "doc_id", "left_semi")
    assert mres["n_replaced"] == still_live.count()
    final = want.join(src.select("doc_id"), "doc_id", "left_anti").unionByName(src)
    _assert_matches(decode_table(spark, encoded), final)
    assert metadata_agg(spark, encoded).first()["n_rows"] == final.count()


# ---------------------------------------------------------------- purge


@pytest.mark.parametrize("mode", ["concat", "rewrite"])
def test_compact_purges_masks(spark, token_df, encoded, tmp_path, mode):
    import pyspark.sql.functions as F

    delete_where(spark, encoded, [("n_tok", "<", 150)])
    want = token_df.filter(F.col("n_tok") >= 150)
    dst = str(tmp_path / f"compacted_{mode}")
    man = compact_dataset(spark, encoded, dst, target_bytes=1 << 20, mode=mode)
    assert not os.path.isdir(os.path.join(dst, dl.DELETES_DIR))
    _assert_matches(decode_table(spark, dst), want)
    # manifest accounting is net-of-deletes and matches the data
    tot = man.agg(F.sum("n_rows"), F.sum("n_tokens")).first()
    wrow = want.agg(F.count("*"), F.sum("n_tok")).first()
    assert (tot[0], tot[1]) == (wrow[0], wrow[1])


def test_compact_drops_fully_deleted_groups(spark, token_df, encoded, tmp_path):
    delete_where(spark, encoded, [("n_tok", ">=", 0)])  # delete everything
    dst = str(tmp_path / "compacted_empty")
    # zero surviving rows → a VALID empty dataset (no masks, decodes to 0)
    compact_dataset(spark, encoded, dst, target_bytes=1 << 20)
    assert not os.path.isdir(os.path.join(dst, dl.DELETES_DIR))
    assert decode_table(spark, dst).count() == 0
    assert metadata_agg(spark, dst).first()["n_rows"] == 0


# ------------------------------------------------------------- interplay


def test_delete_then_append(spark, token_df, encoded, tmp_path):
    import pyspark.sql.functions as F

    from rugo_spark.engine import append_table

    delete_where(spark, encoded, [("n_tok", "<", 150)])
    extra = token_batch(200, seed=7).to_pandas()
    extra["doc_id"] = ["zz-" + d for d in extra["doc_id"]]  # disjoint ids
    p = str(tmp_path / "extra.parquet")
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(extra, preserve_index=False), p)
    append_table(spark.read.parquet(p), encoded)
    want_n = token_df.filter(F.col("n_tok") >= 150).count() + 200
    assert decode_table(spark, encoded).count() == want_n
    # the append snapshot keeps carrying the cumulative delete-file list
    snap = mf.snapshot_log(encoded)[-1]
    assert snap["op"] == "append" and len(snap["delete_files"]) == 1
    assert snap["n_rows"] == want_n
    # delete in the appended band too
    res = delete_where(spark, encoded, [("doc_id", ">=", "zz-")])
    assert res["n_deleted"] == 200
    assert decode_table(spark, encoded).count() == want_n - 200


def test_delete_cli(spark, token_df, encoded):
    """--delete-where predicate parsing + in-repo wiring (no subprocess:
    the CLI path is delete_where + JSON summary)."""
    import pyspark.sql.functions as F

    from jobs.encode_job import main

    # argparse contract: --delete-where excludes --input, requires --output
    with pytest.raises(SystemExit):
        main(["--input", "x", "--output", encoded, "--delete-where", "n_tok < 1"])
    with pytest.raises(SystemExit):
        main(["--output", encoded, "--delete-where", "n_tok !! 1"])
