"""Layer probes of a traced run.

``kernel_probe`` times the codec, block, selector and hash kernels in this
process on a fixed Arrow batch, with no Spark in the way.  ``dataset_probe``
calls the manifest, deletes, engine and datasource layers on a workload's
dataset, each call a span, after one delete commit so the deletes layer has
a file to load; it rolls that delete back at the end.  ``dedup_probe`` runs
LSH candidates and clusters once over a seeded corpus with planted
duplicates and returns the dedup layer's counts.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

from workloads import _ds_lookup, _lookup, _metadata_agg, expect

MIN_PROBE_S = 0.3  # each kernel runs at least this long, and 3 times
PROBE_REPS = 5  # calls of each manifest / deletes function and datasource lookup
META_CALLS = 100  # metadata_agg calls: 10 beyond the 90th percentile


def _rate(fn, mb: float) -> float:
    """MB/s of ``fn`` over repeated calls; the first call is discarded."""
    fn()
    reps, t0 = 0, time.perf_counter()
    while reps < 3 or time.perf_counter() - t0 < MIN_PROBE_S:
        fn()
        reps += 1
    return reps * mb / (time.perf_counter() - t0)


def _median_ms(fn, reps: int = 9) -> float:
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times)) * 1e3


def _string_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(bytes, starts, lengths) of a string array, without copies."""
    arr = arr.cast(pa.large_string())
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int64)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return data, offs[:-1].copy(), np.diff(offs)


def kernel_probe(tokens: pa.Table, texts: pa.Array) -> dict:
    """Kernel throughput on ``tokens`` (a token-table batch) and ``texts``
    (document strings, the dedup hash input)."""
    from rugo_spark.block import encode_array
    from rugo_spark.engine import decode_block_payload, encode_block_bytes
    from rugo_spark.ops.xxh import xxh64_bytes_vec
    from rugo_spark.selector import select_int_codec

    tokens = tokens.combine_chunks()
    payload, _ = encode_block_bytes(tokens)

    def decode():
        for part in decode_block_payload(memoryview(payload), tokens.schema):
            expect(part.num_rows > 0, "empty decoded block")

    def col_rate(name):
        col = tokens.column(name)
        return _rate(lambda: encode_array(col), col.nbytes / 1e6)

    data, starts, lens = _string_parts(texts)
    flat = tokens.column("tokens").chunk(0).flatten().to_numpy()
    return {
        "block.encode_mb_per_s": _rate(lambda: encode_block_bytes(tokens), tokens.nbytes / 1e6),
        "block.decode_mb_per_s": _rate(decode, tokens.nbytes / 1e6),
        "codecs.int_encode_mb_per_s": col_rate("n_tok"),
        "codecs.list_encode_mb_per_s": col_rate("tokens"),
        "codecs.string_encode_mb_per_s": col_rate("doc_id"),
        "selector.choose_ms": _median_ms(lambda: select_int_codec(flat)),
        "ops.xxh.mb_per_s": _rate(lambda: xxh64_bytes_vec(data, starts, lens, 42), data.nbytes / 1e6),
    }


def dataset_probe(ctx, pd: dict) -> dict:
    """Call each dataset-side layer on ``pd`` (see ``Workload.probe_dataset``);
    return the layer counts.  Timings are left in the spans."""
    from rugo_spark import deletes, manifest
    from rugo_spark.engine import delete_where, metadata_agg

    ds = pd["dir"]
    base = int(manifest.snapshot_log(ds)[-1]["id"])
    victim, ids, want = pd["ids"][0], pd["ids"][1:], pd["want"][1:]
    ctx.call("engine.delete_where", lambda: delete_where(ctx.spark, ds, [("doc_id", "=", victim)]),
             lambda r: expect(r["n_deleted"] == 1, f"probe delete {r}"))
    for _ in range(PROBE_REPS):
        parts = ctx.call("manifest.completed_partitions", lambda: manifest.completed_partitions(ds))
        snaps = ctx.call("manifest.snapshot_log", lambda: manifest.snapshot_log(ds))
        names = ctx.call("deletes.visible_delete_files", lambda: deletes.visible_delete_files(ds))
        ctx.call("deletes.load_masks", lambda: deletes.load_masks(ds, names))
    first = ctx.call("engine.metadata_agg_first",
                     lambda: metadata_agg(ctx.spark, ds, ["doc_id", "n_tok"]).first())
    if first is not None:
        _metadata_agg(ctx, ds, {"n_rows": first["n_rows"]}, META_CALLS)
    for d, w in zip(ids, want):
        _lookup(ctx, ds, d, w)
    for d, w in list(zip(ids, want))[:PROBE_REPS]:
        _ds_lookup(ctx, ds, d, w)
    ctx.call("deletes.consolidate_delete_files", lambda: deletes.consolidate_delete_files(ds))
    ctx.call("manifest.consolidate_manifest", lambda: manifest.consolidate_manifest(ds))
    ctx.call("manifest.rollback_to_snapshot", lambda: manifest.rollback_to_snapshot(ds, base))
    return {
        "manifest.blocks": len(parts or []),
        "manifest.snapshots": len(snaps or []),
        "deletes.visible_files": len(names or []),
    }


DEDUP_PARAMS = {"n_hashes": 16, "n_bands": 4, "shingle": 3, "unit": "word"}


def dedup_probe(ctx, docs) -> dict:
    """Candidate pairs and dropped docs over the ``docs`` inputs; dropped
    docs must cover the corpus's exact duplicates and stay under 30%."""
    import pyspark.sql.functions as F
    from rugo_spark.ops.dedup import dedup_clusters, minhash_lsh_candidates

    df = ctx.spark.read.parquet(*docs.files)
    n, dups = docs.n_docs, docs.expect["exact_dups"]
    pairs = ctx.call("ops.dedup.minhash_lsh_candidates",
                     lambda: minhash_lsh_candidates(df, **DEDUP_PARAMS).count(),
                     lambda c: expect(c > 0, "no candidate pairs")) or 0
    dropped = ctx.call("ops.dedup.dedup_clusters",
                       lambda: dedup_clusters(df, **DEDUP_PARAMS).filter(~F.col("is_kept")).count(),
                       lambda d: expect(dups <= d <= 0.3 * n, f"dropped {d} outside [{dups}, 30% of {n}]")) or 0
    return {
        "ops.dedup.candidate_pairs": pairs,
        "ops.dedup.dropped_docs": dropped,
        "ops.dedup.useful_ratio": dropped / pairs if pairs else 0.0,
    }

