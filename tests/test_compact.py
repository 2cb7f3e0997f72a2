"""compact_dataset: many small blocks → few target-size blocks, zero shuffle."""

from __future__ import annotations

import os

import pandas as pd
import pyspark.sql.functions as F

from rugo_spark.engine import compact_dataset, decode_table, encode_table, metadata_agg


def _encode_small(spark, tmp_path, n_parts=12):
    pdf = pd.DataFrame(
        {
            "doc_id": range(3000),
            "text": [f"txt {i:05d} " * (1 + i % 5) for i in range(3000)],
            "n_chars": [(11 + 29 * i) % 503 for i in range(3000)],
        }
    )
    src = str(tmp_path / "src")
    encode_table(
        spark.createDataFrame(pdf), src, key_col="doc_id", size_col="n_chars",
        num_partitions=n_parts,
    )
    return src, pdf


def test_compact_reduces_blocks_and_preserves_rows(spark, tmp_path):
    src, pdf = _encode_small(spark, tmp_path)
    dst = str(tmp_path / "dst")
    man = compact_dataset(spark, src, dst, target_bytes=10 << 20)
    n_src = len(os.listdir(os.path.join(src, "blocks")))
    n_dst = len(os.listdir(os.path.join(dst, "blocks")))
    assert n_dst < n_src and n_dst == man.count()
    got = decode_table(spark, dst).orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(
        got, pdf.sort_values("doc_id").reset_index(drop=True), check_dtype=False
    )


def test_compact_conserves_metadata_totals(spark, tmp_path):
    src, pdf = _encode_small(spark, tmp_path)
    dst = str(tmp_path / "dst")
    compact_dataset(spark, src, dst, target_bytes=10 << 20)
    a = metadata_agg(spark, src, ["doc_id", "n_chars"]).first()
    b = metadata_agg(spark, dst, ["doc_id", "n_chars"]).first()
    assert a["n_rows"] == b["n_rows"] and a["n_tokens"] == b["n_tokens"]
    assert a["min_doc_id"] == b["min_doc_id"] and a["max_doc_id"] == b["max_doc_id"]


def test_compact_rebuilds_bloom_point_lookup(spark, tmp_path):
    src, _ = _encode_small(spark, tmp_path)
    dst = str(tmp_path / "dst")
    compact_dataset(spark, src, dst, target_bytes=1 << 20, sort_key="doc_id")
    hit = decode_table(spark, dst, filters=[("doc_id", "=", 1234)]).collect()
    assert len(hit) == 1 and hit[0]["doc_id"] == 1234


def test_concat_mode_preserves_bloom_and_stripe_pruning(spark, tmp_path):
    src, _ = _encode_small(spark, tmp_path)
    dst = str(tmp_path / "dst")
    compact_dataset(spark, src, dst, target_bytes=10 << 20, mode="concat")
    # bloom union survives → point lookup prunes and is exact
    hit = decode_table(spark, dst, filters=[("doc_id", "=", 777)]).collect()
    assert len(hit) == 1 and hit[0]["doc_id"] == 777
    # blocks are RGS2 with a stripe directory (one stripe per member)
    from rugo_spark import manifest as mf

    for r in mf.completed_partitions(dst):
        with open(r["block_path"], "rb") as f:
            assert f.read(4) == b"RGS2"


def test_concat_of_striped_members_unwraps(spark, tmp_path):
    # precombine produces striped members; concat must unwrap their stripes
    pdf = pd.DataFrame(
        {
            "doc_id": range(2000),
            "n_chars": [(3 + 7 * i) % 211 for i in range(2000)],
        }
    )
    src = str(tmp_path / "srcp")
    encode_table(
        spark.createDataFrame(pdf), src, key_col="doc_id", size_col="n_chars",
        num_partitions=6, precombine=True,
    )
    dst = str(tmp_path / "dstp")
    compact_dataset(spark, src, dst, target_bytes=50 << 20, mode="concat")
    got = decode_table(spark, dst).orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(
        got[["doc_id", "n_chars"]],
        pdf.sort_values("doc_id").reset_index(drop=True),
        check_dtype=False,
    )


def test_recompact_into_same_dst_clears_stale_sidecars(spark, tmp_path):
    src, pdf = _encode_small(spark, tmp_path)
    dst = str(tmp_path / "dst")
    compact_dataset(spark, src, dst, target_bytes=1)  # one group per member
    n_first = len(os.listdir(os.path.join(dst, "blocks")))
    compact_dataset(spark, src, dst, target_bytes=10 << 20)  # few groups
    n_second = len(os.listdir(os.path.join(dst, "blocks")))
    assert n_second < n_first
    assert decode_table(spark, dst).count() == len(pdf)  # no duplicated rows


def test_compact_in_place_rejected(spark, tmp_path):
    src, _ = _encode_small(spark, tmp_path)
    import pytest

    with pytest.raises(ValueError, match="in-place"):
        compact_dataset(spark, src, src)


def test_concat_rejects_sort_key(spark, tmp_path):
    src, _ = _encode_small(spark, tmp_path)
    import pytest

    with pytest.raises(ValueError):
        compact_dataset(spark, src, str(tmp_path / "x"), sort_key="doc_id", mode="concat")


def test_compact_sort_key_orders_within_blocks(spark, tmp_path):
    src, _ = _encode_small(spark, tmp_path)
    dst = str(tmp_path / "dst")
    compact_dataset(spark, src, dst, target_bytes=10 << 20, sort_key="doc_id")
    from rugo_spark import manifest as mf
    from rugo_spark.engine import read_block_file
    import pyarrow as pa

    schema, _ = mf.read_schema(dst)
    for r in mf.completed_partitions(dst):
        ids = pa.Table.from_batches(
            list(read_block_file(r["block_path"], schema, columns=["doc_id"]))
        )["doc_id"].to_pylist()
        assert ids == sorted(ids)


def test_compact_not_null_dataset_rewrite_and_masked_fallback(spark, tmp_path):
    # spark.range's id is NOT NULL in the stored Arrow schema, while decoded
    # batches are all-nullable: the rewrite kernel (and the masked groups a
    # default concat compaction falls back to it for) must accept them
    from rugo_spark.engine import delete_where

    src = str(tmp_path / "src")
    encode_table(spark.range(1000).withColumnRenamed("id", "k"), src,
                 key_col="k", num_partitions=2)
    rw = str(tmp_path / "rw")
    compact_dataset(spark, src, rw, mode="rewrite")
    assert sorted(r["k"] for r in decode_table(spark, rw).collect()) == list(range(1000))

    delete_where(spark, src, [("k", "<", 100)])
    fb = str(tmp_path / "fb")
    compact_dataset(spark, src, fb)
    assert not os.path.isdir(os.path.join(fb, "_deletes"))
    assert sorted(r["k"] for r in decode_table(spark, fb).collect()) == list(range(100, 1000))
