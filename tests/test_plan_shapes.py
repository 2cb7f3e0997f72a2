"""Physical-plan shape assertions: the optimizations must be visible in
.explain output, not assumed — broadcast joins where hinted, predicate/column
pushdown into the parquet scan, shuffle-free decode, single-shuffle encode."""

from __future__ import annotations

import pandas as pd
import pytest

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_join_revenue_uses_broadcast(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["join_top_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan  # customer side broadcast as hinted


def test_filter_and_columns_push_into_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan
    # column pruning: the scan reads exactly the two referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_decode_is_shuffle_free(spark, tmp_out, monkeypatch):
    from rugo_spark import engine
    from rugo_spark.engine import decode_table, encode_table

    pdf = pd.DataFrame({"k": [f"k{i}" for i in range(500)], "v": list(range(500))})
    encode_table(spark.createDataFrame(pdf), tmp_out, key_col="k", num_partitions=4)
    # a small read decodes in the driver: a local scan, no exchange at all
    plan = _plan(decode_table(spark, tmp_out))
    assert "LocalTableScan" in plan and "MapInArrow" not in plan and "Exchange" not in plan
    # above the driver venue's limit: the decoder runs on a spark.range
    # task source (engine._task_map) — no exchange anywhere, neither of the
    # block paths nor of the decoded data
    monkeypatch.setattr(engine, "_STRIPE_TARGET_BYTES", -1)
    plan = _plan(decode_table(spark, tmp_out))
    assert plan.count("MapInArrow") == 1 and "Range" in plan
    assert "Exchange" not in plan, plan
    # the executor DML mask scan has the same shape
    scan, pids = engine._candidate_scan(
        spark, tmp_out, [("v", "<", 100)], None, engine._entry_batch,
        engine._DELETE_ENTRY_SCHEMA,
    )
    assert pids
    plan = _plan(scan)
    assert plan.count("MapInArrow") == 1 and "Range" in plan
    assert "Exchange" not in plan, plan


def test_grouped_encode_single_data_shuffle(spark):
    """The planned encode DataFrame (histogram map joined broadcast, grouped
    by partition id) must move the data exactly once."""
    from rugo_spark.partitioning import with_partition_id

    pdf = pd.DataFrame({"doc_id": [f"d{i}" for i in range(2000)], "n_tok": [i % 97 + 1 for i in range(2000)]})
    df = spark.createDataFrame(pdf)
    planned, n_parts, total, _pm = with_partition_id(df, 8, size_col="n_tok", key_col="doc_id")
    grouped = planned.groupBy("__rugo_pid").agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(grouped)
    # the size-histogram map arrives via broadcast join (histogram-sized
    # exchanges over (size, mass) pairs are fine; TABLE data must move only
    # once, on the partition id)
    assert plan.count("Exchange hashpartitioning(__rugo_pid") == 1, plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 0, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastExchange" in plan  # the cum-mass map ships broadcast


def test_zorder_key_stays_jvm_side(spark):
    """The Morton bucket+interleave must be one codegen'd column expression —
    no Python evaluation node anywhere in the plan."""
    from rugo_spark.ops.zorder import zorder_key

    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    z = df.withColumn(
        "z", zorder_key(df, ["l_orderkey", "l_partkey"],
                        {"l_orderkey": (1, 60000), "l_partkey": (1, 20000)})
    )
    plan = _plan(z.select("z"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # '*(' prefixes whole-stage-codegen'd operators in executedPlan strings
    assert "*(1) Project" in plan and "shiftleft" in plan


def test_cdc_insert_side_restricts_plan(spark, tmp_out):
    """read_changes' insert decode plans ONLY the added pid ranges — the
    manifest rows feeding the decoder shrink to the appended band."""
    import pyspark.sql.functions as F

    from rugo_spark.engine import append_table, encode_table, read_changes

    df = spark.read.parquet(f"{SF}/orders.parquet")
    encode_table(df.filter(F.col("o_orderkey") % 2 == 0), tmp_out,
                 key_col="o_orderkey", num_partitions=4)
    append_table(df.filter(F.col("o_orderkey") % 2 == 1), tmp_out)
    ch = read_changes(spark, tmp_out, 1, 2)
    # everything the diff returns is the appended half — and the decode that
    # produced it planned 1 band's blocks, not 5 (4 base + band)
    assert ch.count() == df.filter(F.col("o_orderkey") % 2 == 1).count()
    plan = _plan(ch)
    assert plan.count("MapInArrow") == 1  # one decoder, no delete side
