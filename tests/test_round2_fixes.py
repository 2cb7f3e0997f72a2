"""Round-2 defect fixes: bloom probe rendering per key type, shingle
off-by-one, asof-join right-row atomicity, LSH bucket caps, map-only resume
layout guard (VERDICT.md round 1 + ADVICE.md)."""

from __future__ import annotations

import datetime

import pandas as pd
import pyarrow as pa
import pytest

import numpy as np
import pyspark.sql.functions as F


# ------------------------------------------------------------ bloom probes

@pytest.mark.parametrize(
    "values,probe_in,probe_out",
    [
        ([1, 5, 9, 123456], 5, 7),
        ([1.5, 2.25, -3.75], 2.25, 9.9),
        (["a", "bb", "ccc"], "bb", "zz"),
        (
            [datetime.date(2020, 1, 1), datetime.date(2021, 6, 30)],
            datetime.date(2020, 1, 1),
            datetime.date(1999, 1, 1),
        ),
        (
            [datetime.datetime(2020, 1, 1), datetime.datetime(2021, 6, 30, 12, 34, 56)],
            datetime.datetime(2020, 1, 1),
            datetime.datetime(1999, 1, 1),
        ),
    ],
    ids=["int", "float", "str", "date", "timestamp"],
)
def test_bloom_roundtrip_by_key_type(values, probe_in, probe_out):
    """Write-side hashing and query-side probe must render values through the
    same path (ADVICE: str(ts) vs Arrow's ts rendering made every timestamp
    lookup a false negative)."""
    from rugo_spark import bloom as bl

    b = bl.build(pa.array(values))
    assert bl.might_contain(b, probe_in), f"false negative for {probe_in!r}"
    assert not bl.might_contain(b, probe_out)


def test_bloom_timestamp_filter_end_to_end(spark, tmp_out):
    """decode_table(filters=[(ts,'=',v)]) must return the matching rows (the
    reproduced ADVICE bug: 50 matching rows returned 0)."""
    from rugo_spark.engine import decode_table, encode_table

    base = datetime.datetime(2020, 1, 1)
    pdf = pd.DataFrame(
        {
            "ts": [base + datetime.timedelta(hours=i % 20) for i in range(400)],
            "v": list(range(400)),
        }
    )
    df = spark.createDataFrame(pdf)
    encode_table(df, tmp_out, key_col="ts", num_partitions=4)
    probe = base + datetime.timedelta(hours=3)
    got = decode_table(spark, tmp_out, filters=[("ts", "=", probe)]).collect()
    assert len(got) == 20
    assert all(r["ts"] == probe for r in got)


# ------------------------------------------------------------ shingles

def test_char_shingles_count_and_short_text(spark):
    from rugo_spark.ops.dedup import char_shingles

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["abcdef", "abc", "", "abcde"]})
    ).select(char_shingles("text", 5).alias("sh"))
    got = [r["sh"] for r in df.collect()]
    assert got[0] == ["abcde", "bcdef"]  # L-n+1 = 2 shingles, final one kept
    assert got[1] == []  # shorter than n → empty, not whole-text
    assert got[2] == []
    assert got[3] == ["abcde"]


# ------------------------------------------------------------ asof atomic

def test_asof_join_right_row_atomic(spark):
    """When the latest right row holds NULL in one right column, the match
    must carry that row's values verbatim — never mix columns from two
    different right rows (pandas merge_asof row-level semantics)."""
    from rugo_spark.ops.joins import asof_join

    left = spark.createDataFrame([(1, 3)], "k int, t int")
    right = spark.createDataFrame(
        [(1, 1, 10, 100), (1, 2, 20, None)], "k int, t int, v1 int, v2 int"
    )
    got = asof_join(left, right, key="k", left_ts="t", right_ts="t",
                    right_cols=["v1", "v2"]).collect()
    assert len(got) == 1
    assert got[0]["v1"] == 20 and got[0]["v2"] is None  # latest row, atomic


# ------------------------------------------------------------ LSH caps

def test_minhash_lsh_bucket_cap_linear_pairs(spark):
    """A cluster of k identical docs must emit O(k) pairs (min-id star), not
    O(k²) — the 100 TB boilerplate blow-up (VERDICT 'What's wrong' #3)."""
    from rugo_spark.ops.dedup import minhash_lsh_candidates

    k = 500
    text = "the same boilerplate header repeated on every page of the crawl"
    pdf = pd.DataFrame({"doc_id": list(range(k)), "text": [text] * k})
    pairs = minhash_lsh_candidates(
        spark.createDataFrame(pdf), n_hashes=16, n_bands=4, bucket_cap=16
    ).collect()
    assert len(pairs) == k - 1  # star from min-id representative
    assert all(p["id_a"] == 0 for p in pairs)
    assert all(p["est_jaccard"] == 1.0 for p in pairs)
    # connectivity: every doc reachable from the representative
    assert sorted(p["id_b"] for p in pairs) == list(range(1, k))


def test_minhash_lsh_small_buckets_still_all_pairs(spark):
    from rugo_spark.ops.dedup import minhash_lsh_candidates

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["identical text body for lsh pairing"] * 3,
        }
    )
    pairs = minhash_lsh_candidates(
        spark.createDataFrame(pdf), n_hashes=16, n_bands=4, bucket_cap=16
    ).collect()
    got = sorted((p["id_a"], p["id_b"]) for p in pairs)
    assert got == [(1, 2), (1, 3), (2, 3)]  # below cap → all pairs


def test_embedding_near_dups_bucket_cap(spark):
    from rugo_spark.ops.similarity import embedding_near_dups

    k = 200
    vec = [1.0, 0.0, 0.5, 0.25]
    pdf = pd.DataFrame({"vec_id": list(range(k)), "embedding": [vec] * k})
    pairs = embedding_near_dups(
        spark.createDataFrame(pdf), threshold=0.99, bits=2, bucket_cap=16
    ).collect()
    assert len(pairs) == k - 1
    assert all(p["id_a"] == 0 for p in pairs)


# ------------------------------------------------------------ resume guard

def test_maponly_resume_refuses_changed_layout(spark, tmp_out, tmp_path):
    from rugo_spark.engine import decode_table, encode_table_maponly

    src_a = str(tmp_path / "src_a.parquet")
    src_b = str(tmp_path / "src_b.parquet")
    pdf = pd.DataFrame({"doc_id": [f"d{i}" for i in range(100)], "n": list(range(100))})
    spark.createDataFrame(pdf).repartition(4).write.parquet(src_a)
    spark.createDataFrame(pdf).repartition(2).write.parquet(src_b)

    encode_table_maponly(spark.read.parquet(src_a), tmp_out, sort_key="doc_id")
    # same layout: resume is a no-op, decode intact
    encode_table_maponly(spark.read.parquet(src_a), tmp_out, sort_key="doc_id")
    assert decode_table(spark, tmp_out).count() == 100

    # different split layout into the same dir: refuse (stale pids would mix)
    with pytest.raises(ValueError, match="input layout changed"):
        encode_table_maponly(spark.read.parquet(src_b), tmp_out, sort_key="doc_id")

    # explicit clear: stale sidecars dropped, fresh encode is consistent
    encode_table_maponly(
        spark.read.parquet(src_b), tmp_out, sort_key="doc_id", on_layout_change="clear"
    )
    assert decode_table(spark, tmp_out).count() == 100


# ------------------------------------------------------------ decimal path

def test_decimal128_block_roundtrip():
    from decimal import Decimal

    from rugo_spark.block import encode_array, decode_array

    t = pa.decimal128(18, 2)
    vals = [Decimal("12345.67"), None, Decimal("-0.01"), Decimal("99999999999999.99")] * 64
    arr = pa.array(vals, type=t)
    blob, meta = encode_array(arr)
    assert decode_array(blob, t).equals(arr)
    assert meta["codec"].startswith("dec128(")  # int-lane path, not arrow-ipc


def test_decimal_table_roundtrip_and_stats_codec(spark, tmp_out):
    from decimal import Decimal

    from rugo_spark.engine import decode_table, encode_table, stats_df

    pdf = pd.DataFrame(
        {
            "k": [f"k{i:04d}" for i in range(300)],
            "amount": [Decimal(f"{i}.{i % 100:02d}") for i in range(300)],
        }
    )
    df = spark.createDataFrame(pdf, "k string, amount decimal(18,2)")
    encode_table(df, tmp_out, key_col="k", num_partitions=3)
    back = decode_table(spark, tmp_out).toPandas().sort_values("k").reset_index(drop=True)
    assert back["amount"].tolist() == pdf["amount"].tolist()
    codecs = {r["codec"] for r in stats_df(spark, tmp_out).filter("column = 'amount'").collect()}
    assert codecs and all(c.startswith("dec128(") for c in codecs), codecs


# ------------------------------------------------------------ planning modes

def test_decode_distributed_planning_matches_local(spark, tmp_out, plan_on):
    """Executor-side manifest planning (the 10^6-block path) must agree with
    the driver-loop planner: same rows, same filter pruning."""
    from rugo_spark.engine import decode_table, encode_table

    pdf = pd.DataFrame({"k": [f"k{i:05d}" for i in range(2000)], "v": list(range(2000))})
    df = spark.createDataFrame(pdf)
    encode_table(df, tmp_out, key_col="k", num_partitions=16)

    with plan_on("driver"):
        a = decode_table(spark, tmp_out).toPandas().sort_values("k")
        fa = decode_table(spark, tmp_out, filters=[("k", "=", "k00042")]).collect()
    with plan_on("executors"):
        b = decode_table(spark, tmp_out).toPandas().sort_values("k")
        fb = decode_table(spark, tmp_out, filters=[("k", "=", "k00042")]).collect()
    assert a["v"].tolist() == b["v"].tolist()
    assert [r["v"] for r in fa] == [r["v"] for r in fb] == [42]

    # checksum verification flows through the distributed plan too
    with plan_on("executors"):
        assert decode_table(spark, tmp_out, verify_checksums=True).count() == 2000


# ------------------------------------------------------------ clustering

def test_connected_components_chain_and_singletons(spark):
    from rugo_spark.ops.dedup import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": [0, 1, 2, 3, 10], "id_b": [1, 2, 3, 4, 11]})
    )
    got = sorted((r["v"], r["cluster_id"]) for r in connected_components(edges).collect())
    assert got == [(0, 0), (1, 0), (2, 0), (3, 0), (4, 0), (10, 10), (11, 10)]


def test_dedup_clusters_matches_union_find(spark):
    """Distributed label propagation must agree with a sequential union-find
    over the same (recomputed) candidate pairs."""
    from rugo_spark import oracle_recompute as orc
    from rugo_spark.ops.dedup import dedup_clusters

    texts = []
    for g in range(6):  # 6 template groups with small mutations + singletons
        base = f"group {g} boilerplate body repeated across mirrored pages of the web corpus {g}"
        for j in range(5):
            texts.append(base + (" tail" * (j % 2)))
    texts += [f"unique document number {i} with entirely distinct content words" for i in range(10)]
    docs = list(enumerate(texts))
    pdf = pd.DataFrame({"doc_id": [d for d, _ in docs], "text": [t for _, t in docs]})

    got = sorted(
        (r["doc_id"], r["cluster_id"], r["is_kept"])
        for r in dedup_clusters(spark.createDataFrame(pdf), n_hashes=16, n_bands=4).collect()
    )
    want = sorted(orc.dedup_cluster_rows(docs, 16, 4))
    assert got == want
    # every cluster keeps exactly one representative
    kept = [c for _, c, k in got if k]
    assert sorted(set(c for _, c, _ in got)) == sorted(kept)


# ------------------------------------------------------------ ANN recall

def test_ann_topk_recall_vs_exact(spark):
    """Recall@20 of the multi-table LSH probe vs brute-force cosine on
    isotropic random embeddings (LSH's worst case — real corpora cluster).
    Also asserts the probe actually pruned the scan."""
    from rugo_spark.ops.similarity import ann_topk, cosine_topk, lsh_bucket, _hyperplanes

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r["vec_id"] for r in cosine_topk(e, q, k=20).collect()}
    ann = {r["vec_id"] for r in ann_topk(e, q, k=20, bits=8, n_tables=4).collect()}
    recall = len(ann & exact) / 20
    assert recall >= 0.4, f"recall@20 {recall} below floor"
    # the probe must prune: candidate rows well below a full scan
    from rugo_spark import oracle_recompute as orc

    embs = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in e.collect()]
    cand = set()
    for t in range(4):
        planes = _hyperplanes(len(q), 8, 42 + 1000 * t)
        import numpy as np

        qkey = sum(1 << b for b in range(8) if float(planes[b] @ np.asarray(q)) > 0)
        probe = {qkey} | {qkey ^ (1 << b) for b in range(8)}
        cand |= {vid for vid, v in embs if orc._bucket_row(v, planes) in probe}
    assert len(cand) < 0.5 * len(embs), f"probe scanned {len(cand)}/{len(embs)}"


def test_ivf_topk_matches_recompute_and_recalls(spark):
    """IVF-flat probe: Spark path must match the sequential recompute id-for-id
    (deterministic kmeans + batch-stable gemv assignment), with recall vs
    exact top-k above the n_probe/n_clusters floor behaviour."""
    import math

    from rugo_spark import oracle_recompute as orc
    from rugo_spark.ops.similarity import cosine_topk, ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = [r["vec_id"] for r in ivf_topk(e, q, k=20, n_clusters=16, n_probe=4).collect()]
    embs = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in e.collect()]
    want = orc.ivf_topk_ids(embs, q, k=20, n_clusters=16, n_probe=4)
    assert got == want
    exact = {r["vec_id"] for r in cosine_topk(e, q, k=20).collect()}
    recall = len(set(got) & exact) / 20
    assert recall >= 0.3, f"ivf recall@20 {recall}"


# ------------------------------------------------------------ quarantine

def test_decode_on_corrupt_skip_quarantines_block(spark, tmp_out):
    import glob
    import os

    from rugo_spark.engine import decode_table, encode_table

    pdf = pd.DataFrame({"k": [f"k{i:03d}" for i in range(400)], "v": list(range(400))})
    encode_table(spark.createDataFrame(pdf), tmp_out, key_col="k", num_partitions=4)
    victim = sorted(glob.glob(os.path.join(tmp_out, "blocks", "*.rgb")))[0]
    with open(victim, "r+b") as f:
        f.seek(20)
        f.write(b"\xde\xad\xbe\xef")

    with pytest.raises(Exception):  # default: fail loudly
        decode_table(spark, tmp_out, verify_checksums=True).count()

    with pytest.raises(ValueError, match="on_corrupt"):
        decode_table(spark, tmp_out, verify_checksums=True, on_corrupt="skp")
    n = decode_table(spark, tmp_out, verify_checksums=True, on_corrupt="skip").count()
    assert 0 < n < 400  # rest of the dataset still decodes


# ------------------------------------------------------------ packing

def test_pack_sequences_conservation_and_shape(spark):
    """Packing must conserve every real token, emit fixed-length rows, and
    pad only the last row of each partition; the whole pipeline must match
    the sequential recompute (tokenizer + partitioner + packer)."""
    from rugo_spark import oracle_recompute as orc
    from rugo_spark.ops.packing import pack_sequences
    from rugo_spark.ops.tokenize import tokenize

    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tok = tokenize(docs_df)
    total_real = tok.agg(F.sum("n_tok")).first()[0]
    packed = pack_sequences(tok, seq_len=128, num_partitions=4)
    rows = packed.collect()
    assert all(len(r["tokens"]) == 128 for r in rows)  # fixed-length rows
    assert sum(r["n_real"] for r in rows) == total_real  # conservation
    # padding only on the last row per partition
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r["partition_id"], []).append(r)
    for pid, rs in by_pid.items():
        rs.sort(key=lambda r: r["seq_idx"])
        assert all(r["n_real"] == 128 for r in rs[:-1]), pid

    got = sorted(
        (r["partition_id"], r["seq_idx"], r["n_real"], r["tok_sum"], r["first_tok"],
         r["last_tok"], len(r["doc_starts"]))
        for r in rows
    )
    pdocs = docs_df.select("doc_id", "text").toPandas()
    want = orc.pack_rows(
        [(int(r.doc_id), r.text) for r in pdocs.itertuples()], seq_len=128, num_partitions=4
    )
    assert got == want
    # total boundary count == total docs
    assert sum(len(r["doc_starts"]) for r in rows) == docs_df.count()


def test_pack_sequences_with_eos_matches_recompute(spark):
    from rugo_spark import oracle_recompute as orc
    from rugo_spark.ops.packing import pack_sequences
    from rugo_spark.ops.tokenize import tokenize

    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    packed = pack_sequences(tokenize(docs_df), seq_len=200, num_partitions=4, eos_id=50256)
    rows = packed.collect()
    got = sorted(
        (r["partition_id"], r["seq_idx"], r["n_real"], r["tok_sum"], r["first_tok"],
         r["last_tok"], len(r["doc_starts"]))
        for r in rows
    )
    pdocs = docs_df.select("doc_id", "text").toPandas()
    want = orc.pack_rows(
        [(int(r.doc_id), r.text) for r in pdocs.itertuples()],
        seq_len=200, num_partitions=4, eos_id=50256,
    )
    assert got == want
    # exactly one EOS per document across the corpus
    n_docs = docs_df.count()
    eos_total = sum(sum(1 for t in r["tokens"][: r["n_real"]] if t == 50256) for r in rows)
    assert eos_total >= n_docs  # >= : hash tokens can collide with eos id


def test_partitioner_matches_recompute(spark):
    """The cumulative-mass partitioner and its sequential recompute must
    agree on every key (bit-identical float op order) — the packing and
    resume guarantees hang on this."""
    from rugo_spark import oracle_recompute as orc
    from rugo_spark.partitioning import with_partition_id

    rng = np.random.default_rng(5)
    sizes = np.clip(rng.zipf(1.4, 3000), 1, 5000).astype("int64")
    pdf = pd.DataFrame({"doc_id": np.arange(3000, dtype="int64"), "n_tok": sizes})
    df = spark.createDataFrame(pdf)
    planned, n_parts, total, _pm = with_partition_id(df, 16, size_col="n_tok", key_col="doc_id")
    got = {r["doc_id"]: r["__rugo_pid"] for r in planned.select("doc_id", "__rugo_pid").collect()}
    want = orc.partition_id_rows(list(zip(pdf.doc_id.tolist(), pdf.n_tok.tolist())), 16)
    assert got == want
    assert total == int(sizes.sum())


# ------------------------------------------------------------ IVF index

def test_ivf_index_persisted_matches_inline_and_prunes(spark, tmp_out):
    """The persisted IVF path (cluster-keyed encoded dataset + stored
    centroids, probe = pruned decodes) must return the same ids as the
    inline ivf_topk, and the probe must actually skip blocks."""
    import json
    import os

    from rugo_spark import manifest as mf
    from rugo_spark.ops.similarity import build_ivf_index, ivf_search, ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    meta = build_ivf_index(e, tmp_out, n_clusters=16, num_partitions=8)
    assert meta["n_clusters"] == 16 and os.path.exists(tmp_out + "/_ivf_centroids.json")

    got = [r["vec_id"] for r in ivf_search(spark, tmp_out, q, k=20, n_probe=4).collect()]
    want = [r["vec_id"] for r in ivf_topk(e, q, k=20, n_clusters=16, n_probe=4).collect()]
    assert got == want

    # pruning: a single-cluster probe must skip blocks whose min/max range
    # excludes it (clusters hash-group into partitions → disjoint ranges)
    rows = mf.completed_partitions(tmp_out)
    assert len(rows) > 1
    c0 = 0
    kept = [
        r for r in rows
        if json.loads(r["codecs"])["cluster"]["min"] <= c0 <= json.loads(r["codecs"])["cluster"]["max"]
    ]
    assert len(kept) < len(rows)  # stats-based skipping has teeth
