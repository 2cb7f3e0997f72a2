"""rugo_spark — a PySpark-native per-column lightweight-compression engine.

A from-scratch engine (NOT a port) that encodes tables of pre-tokenized
training sequences — ``(doc_id string, tokens array<int32>, n_tok int32,
source string)`` — with dictionary, RLE, FSST-style, bit-packing and
frame-of-reference codecs, auto-selected per partition from sampled column
statistics, running as vectorized Arrow UDFs (``applyInArrow`` /
``mapInArrow``) over salted, size-balanced partitions, with a per-partition
lineage manifest supporting resumable checkpoint-restart.

The encoding vocabulary mirrors the reference's enum surface
(rugo ``metadata.cpp:89-112``); the manifest mirrors rugo's 18-field
``ColumnStats`` record (``metadata.hpp:12-43``).
"""

__version__ = "0.1.0"

from rugo_spark.session import get_spark, install_lazy_zip_invalidation  # noqa: F401

install_lazy_zip_invalidation()


def __getattr__(name: str):
    """Lazy top-level conveniences (keeps import light — no pyarrow/numpy
    until an engine surface is actually touched)."""
    if name in ("encode_table", "encode_table_maponly", "encode_table_sorted",
                "decode_table", "metadata_agg", "compact_dataset", "stats_df",
                "manifest_df", "append_table", "reclaim_append", "snapshots_df"):
        from rugo_spark import engine

        return getattr(engine, name)
    if name in ("consolidate_manifest", "snapshot_log", "rollback_to_snapshot",
                "expire_snapshots"):
        from rugo_spark import manifest

        return getattr(manifest, name)
    if name == "register":
        from rugo_spark.datasource import register

        return register
    raise AttributeError(f"module 'rugo_spark' has no attribute {name!r}")
