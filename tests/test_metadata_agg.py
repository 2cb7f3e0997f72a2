"""metadata_agg: COUNT/MIN/MAX/null-count from the manifest alone.

The dataset-level analog of the reference's metadata-statistics surface
(rugo README.md:11 — stats from footers, not data reads): the assertions
cross-check every figure against a real scan of the same DataFrame, and the
distributed pre-merge path must agree with the driver-side path bit for bit.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from rugo_spark.engine import encode_table, encode_table_maponly, metadata_agg


@pytest.fixture(scope="module")
def doc_df(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(1000),
            "text": [f"document body {i:04d} " * (1 + i % 7) for i in range(1000)],
            "lang": [["en", "fr", "de", None][i % 4] for i in range(1000)],
            "n_chars": [(17 + i * 31) % 997 for i in range(1000)],
        }
    )
    return spark.createDataFrame(pdf)


def _truth(df):
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.min("n_chars").alias("min_nc"),
        F.max("n_chars").alias("max_nc"),
        F.min("lang").alias("min_lang"),
        F.max("lang").alias("max_lang"),
        F.sum(F.col("lang").isNull().cast("long")).alias("nulls_lang"),
        F.sum("n_chars").alias("mass"),
    ).first()
    return r


def test_metadata_agg_matches_scan(spark, doc_df, tmp_out):
    encode_table(doc_df, tmp_out, key_col="doc_id", size_col="n_chars", num_partitions=6)
    got = metadata_agg(spark, tmp_out, ["doc_id", "n_chars", "lang"]).first()
    want = _truth(doc_df)
    assert got["n_rows"] == want["n"]
    assert got["n_tokens"] == want["mass"]
    assert got["min_doc_id"] == want["min_id"] and got["max_doc_id"] == want["max_id"]
    assert got["min_n_chars"] == want["min_nc"] and got["max_n_chars"] == want["max_nc"]
    assert got["min_lang"] == want["min_lang"] and got["max_lang"] == want["max_lang"]
    assert got["nulls_lang"] == want["nulls_lang"]
    assert got["nulls_doc_id"] == 0


def test_distributed_path_agrees_with_driver_path(spark, doc_df, tmp_out, plan_on):
    encode_table_maponly(doc_df, tmp_out, size_col="n_chars")
    with plan_on("driver"):
        a = metadata_agg(spark, tmp_out, ["doc_id", "lang"]).first()
    with plan_on("executors"):
        b = metadata_agg(spark, tmp_out, ["doc_id", "lang"]).first()
    assert a.asDict() == b.asDict()


def test_default_columns_are_all_primitives(spark, doc_df, tmp_out):
    encode_table_maponly(doc_df, tmp_out, size_col="n_chars")
    row = metadata_agg(spark, tmp_out).first()
    for c in ("doc_id", "text", "lang", "n_chars"):
        assert f"min_{c}" in row.asDict() and f"nulls_{c}" in row.asDict()


def test_bool_column_minmax(spark, tmp_out):
    pdf = pd.DataFrame({"doc_id": range(100), "flag": [i % 3 == 0 for i in range(100)]})
    encode_table_maponly(spark.createDataFrame(pdf), tmp_out)
    row = metadata_agg(spark, tmp_out, ["flag"]).first()
    assert row["min_flag"] is False and row["max_flag"] is True
    assert row["nulls_flag"] == 0


def test_rejects_unknown_and_unsupported_columns(spark, tmp_out):
    from rugo_spark.tokengen import token_batch

    df = spark.createDataFrame(
        token_batch(64).to_pandas(),
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    )
    encode_table_maponly(df, tmp_out, size_col="n_tok")
    with pytest.raises(KeyError):
        metadata_agg(spark, tmp_out, ["nope"])
    with pytest.raises(ValueError):
        metadata_agg(spark, tmp_out, ["tokens"])  # array column: no stats
    # token-table happy path: string key + int size column
    row = metadata_agg(spark, tmp_out, ["doc_id", "n_tok"]).first()
    assert row["n_rows"] == 64 and row["min_doc_id"] is not None
