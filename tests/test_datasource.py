"""The 'rugo' Spark DataSource: read/write the block format via Catalyst.

Cross-compatibility is the core assertion: datasets written by
``encode_table`` read back through ``spark.read.format('rugo')``, datasets
written by ``df.write.format('rugo')`` decode through ``decode_table``, and
pushed-down point lookups return exactly what a full scan does.
"""

from __future__ import annotations

import os

import pandas as pd
import pyspark.sql.functions as F
import pytest

from rugo_spark.engine import decode_table, encode_table


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from rugo_spark.datasource import register

    register(spark)


@pytest.fixture(scope="module")
def doc_pdf():
    return pd.DataFrame(
        {
            "doc_id": range(2000),
            "text": [f"body {i:05d} " * (1 + i % 9) for i in range(2000)],
            "n_chars": [(13 + i * 37) % 991 for i in range(2000)],
        }
    )


def test_read_encoded_dataset(spark, doc_pdf, tmp_out):
    df = spark.createDataFrame(doc_pdf)
    encode_table(df, tmp_out, key_col="doc_id", size_col="n_chars", num_partitions=5)
    got = spark.read.format("rugo").load(tmp_out)
    assert got.count() == 2000
    assert sorted(got.columns) == sorted(df.columns)
    assert got.agg(F.sum("n_chars")).first()[0] == int(doc_pdf["n_chars"].sum())


def test_pushdown_point_lookup_matches_full_scan(spark, doc_pdf, tmp_out):
    df = spark.createDataFrame(doc_pdf)
    encode_table(df, tmp_out, key_col="doc_id", size_col="n_chars", num_partitions=5)
    r = spark.read.format("rugo").load(tmp_out)
    hit = r.filter(F.col("doc_id") == 1234).collect()
    assert len(hit) == 1 and hit[0]["doc_id"] == 1234
    # range predicate
    lo = r.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120)).count()
    assert lo == 20
    # plan shows the Python batch scan (Catalyst picked up the source)
    plan = r.filter(F.col("doc_id") == 1)._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan rugo" in plan


def test_column_pruning_option(spark, doc_pdf, tmp_out):
    df = spark.createDataFrame(doc_pdf)
    encode_table(df, tmp_out, key_col="doc_id", size_col="n_chars", num_partitions=4)
    got = spark.read.format("rugo").option("columns", "doc_id,n_chars").load(tmp_out)
    assert got.columns == ["doc_id", "n_chars"]
    assert got.count() == 2000


def test_write_then_decode_table(spark, doc_pdf, tmp_out):
    df = spark.createDataFrame(doc_pdf).repartition(4)
    df.write.format("rugo").option("sortkey", "doc_id").option("sizecol", "n_chars").mode(
        "overwrite"
    ).save(tmp_out)
    back = decode_table(spark, tmp_out)
    assert back.count() == 2000
    a = back.orderBy("doc_id").toPandas()
    b = doc_pdf.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_write_roundtrip_via_format(spark, doc_pdf, tmp_out):
    df = spark.createDataFrame(doc_pdf).repartition(3)
    df.write.format("rugo").mode("overwrite").save(tmp_out)
    got = spark.read.format("rugo").load(tmp_out).orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(
        got, doc_pdf.sort_values("doc_id").reset_index(drop=True), check_dtype=False
    )


def test_append_mode_numbers_blocks_after_existing(spark, doc_pdf, tmp_out):
    df = spark.createDataFrame(doc_pdf)
    df.filter(F.col("doc_id") < 1000).repartition(2).write.format("rugo").mode(
        "overwrite"
    ).save(tmp_out)
    df.filter(F.col("doc_id") >= 1000).repartition(2).write.format("rugo").mode(
        "append"
    ).save(tmp_out)
    got = spark.read.format("rugo").load(tmp_out)
    assert got.count() == 2000
    assert got.select("doc_id").distinct().count() == 2000
    blocks = os.listdir(os.path.join(tmp_out, "blocks"))
    assert len(blocks) == 4


def test_pushdown_actually_prunes_blocks(spark, doc_pdf, tmp_out):
    from pyspark.sql.datasource import EqualTo

    from rugo_spark.datasource import RugoReader

    df = spark.createDataFrame(doc_pdf)
    # key-ordered blocks → disjoint doc_id ranges → min/max prunes
    encode_table(df, tmp_out, key_col="doc_id", size_col="n_chars", num_partitions=8)
    r = RugoReader({"path": tmp_out}, spark.read.format("rugo").load(tmp_out).schema)
    total = len(r.partitions())
    residual = list(r.pushFilters([EqualTo(("doc_id",), 1234)]))
    assert len(residual) == 1  # every filter handed back to Spark
    pruned = len(r.partitions())
    assert pruned < total, f"no pruning: {pruned} of {total} blocks survive a point lookup"


def test_verifychecksums_catches_corruption(spark, doc_pdf, tmp_out):
    df = spark.createDataFrame(doc_pdf)
    encode_table(df, tmp_out, key_col="doc_id", num_partitions=3)
    block = sorted(os.listdir(os.path.join(tmp_out, "blocks")))[0]
    p = os.path.join(tmp_out, "blocks", block)
    payload = bytearray(open(p, "rb").read())
    payload[len(payload) // 2] ^= 0xFF
    open(p, "wb").write(bytes(payload))
    ok = spark.read.format("rugo").load(tmp_out)
    with pytest.raises(Exception, match="checksum|Checksum|CRC|crc"):
        spark.read.format("rugo").option("verifychecksums", "true").load(tmp_out).count()
    del ok


def test_stream_writer_batches_decode(spark, doc_pdf, tmp_out, tmp_path):
    """writeStream.format('rugo') → batch=N namespaces that decode_batches
    reads (same layout as the foreachBatch encode_stream sink)."""
    from rugo_spark.streaming import decode_batches

    src = str(tmp_path / "stream_src")
    spark.createDataFrame(doc_pdf).repartition(3).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string, n_chars long").parquet(src)
    q = (
        stream.writeStream.format("rugo")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("sortkey", "doc_id")
        .option("sizecol", "n_chars")
        .trigger(availableNow=True)
        .start(tmp_out)
    )
    q.awaitTermination(120)
    back = decode_batches(spark, tmp_out)
    assert back.count() == 2000
    assert back.select("doc_id").distinct().count() == 2000
    got = back.orderBy("doc_id").select("doc_id", "n_chars").toPandas()
    want = doc_pdf.sort_values("doc_id")[["doc_id", "n_chars"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_read_streaming_epochs_via_format(spark, doc_pdf, tmp_out, tmp_path):
    """format('rugo').load() on a stream sink's output unions batch=N epochs."""
    src = str(tmp_path / "ep_src")
    spark.createDataFrame(doc_pdf).repartition(2).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string, n_chars long").parquet(src)
    q = (
        stream.writeStream.format("rugo")
        .option("checkpointLocation", str(tmp_path / "ep_ckpt"))
        .trigger(availableNow=True)
        .start(tmp_out)
    )
    q.awaitTermination(120)
    got = spark.read.format("rugo").load(tmp_out)
    assert got.count() == 2000
    assert got.select("doc_id").distinct().count() == 2000


def test_append_schema_mismatch_rejected(spark, doc_pdf, tmp_out):
    df = spark.createDataFrame(doc_pdf)
    df.repartition(2).write.format("rugo").mode("overwrite").save(tmp_out)
    reordered = df.select("text", "doc_id", "n_chars")  # decode is positional
    with pytest.raises(Exception, match="schema mismatch"):
        reordered.repartition(2).write.format("rugo").mode("append").save(tmp_out)
    # original data untouched
    assert spark.read.format("rugo").load(tmp_out).count() == 2000


def test_append_keeps_durable_payload_and_refuses_constraints(spark, doc_pdf, tmp_out):
    from rugo_spark import manifest as mf
    from rugo_spark.engine import set_constraint

    df = spark.createDataFrame(doc_pdf)
    encode_table(df.filter(F.col("doc_id") < 1000), tmp_out, key_col="doc_id",
                 size_col="n_chars", num_partitions=2)
    zorder = {"columns": ["doc_id"]}
    mf.write_schema_payload(tmp_out, dict(mf.read_schema_payload(tmp_out), zorder=zorder))
    df.filter((F.col("doc_id") >= 1000) & (F.col("doc_id") < 1500)).repartition(2) \
        .write.format("rugo").mode("append").save(tmp_out)
    payload = mf.read_schema_payload(tmp_out)
    assert (payload.get("size_col"), payload.get("zorder")) == ("n_chars", zorder)

    set_constraint(tmp_out, "pos_chars", "n_chars >= 0")
    with pytest.raises(Exception, match="append_table"):
        df.filter(F.col("doc_id") >= 1500).repartition(2) \
            .write.format("rugo").mode("append").save(tmp_out)
    payload = mf.read_schema_payload(tmp_out)
    assert payload["constraints"] == {"pos_chars": "n_chars >= 0"}
    assert payload.get("zorder") == zorder
    assert decode_table(spark, tmp_out).count() == 1500


def test_failed_overwrite_preserves_old_data(spark, doc_pdf, tmp_out):
    df = spark.createDataFrame(doc_pdf)
    df.repartition(2).write.format("rugo").mode("overwrite").save(tmp_out)
    bad = df.withColumn("boom", F.assert_true(F.col("doc_id") < 0))
    with pytest.raises(Exception):
        bad.write.format("rugo").mode("overwrite").save(tmp_out)
    # the failed job never reached commit → previous dataset fully intact
    back = spark.read.format("rugo").load(tmp_out)
    assert back.count() == 2000 and sorted(back.columns) == sorted(df.columns)


def test_reordered_full_projection(spark, doc_pdf, tmp_out):
    df = spark.createDataFrame(doc_pdf)
    encode_table(df, tmp_out, key_col="doc_id", num_partitions=3)
    got = spark.read.format("rugo").option("columns", "n_chars,doc_id,text").load(tmp_out)
    assert got.columns == ["n_chars", "doc_id", "text"]
    row = got.filter(F.col("doc_id") == 7).first()
    want = doc_pdf[doc_pdf.doc_id == 7].iloc[0]
    assert row["n_chars"] == want["n_chars"] and row["text"] == want["text"]


def test_sql_over_registered_table(spark, doc_pdf, tmp_out):
    df = spark.createDataFrame(doc_pdf)
    encode_table(df, tmp_out, key_col="doc_id", size_col="n_chars", num_partitions=4)
    spark.read.format("rugo").load(tmp_out).createOrReplaceTempView("rugo_docs")
    n = spark.sql("SELECT COUNT(*) AS n FROM rugo_docs WHERE n_chars > 500").first()["n"]
    want = int((doc_pdf["n_chars"] > 500).sum())
    assert n == want
