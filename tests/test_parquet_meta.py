"""Differential tests of the rugo-parity metadata surface on the
*reference's own fixtures*, with PyArrow as oracle — exactly the reference's
test pattern (``tests/test_statistics.py``: extract with PyArrow, extract
with the library, compare field by field)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from rugo_spark import parquet_meta

FIXTURE_DIR = "/root/reference/tests/data"
FIXTURES = sorted(glob.glob(os.path.join(FIXTURE_DIR, "*.parquet")))

EXPECTED_FIELDS = {
    "name", "type", "logical_type", "min", "max", "null_count",
    "distinct_count", "num_values", "total_uncompressed_size",
    "total_compressed_size", "data_page_offset", "index_page_offset",
    "dictionary_page_offset", "bloom_offset", "bloom_length",
    "encodings", "compression_codec", "key_value_metadata",
}

KNOWN_PHYSICAL = {
    "boolean", "int32", "int64", "int96", "float32", "float64",
    "byte_array", "fixed_len_byte_array",
}
KNOWN_ENCODINGS = {
    "PLAIN", "PLAIN_DICTIONARY", "RLE", "BIT_PACKED", "DELTA_BINARY_PACKED",
    "DELTA_LENGTH_BYTE_ARRAY", "DELTA_BYTE_ARRAY", "RLE_DICTIONARY",
    "BYTE_STREAM_SPLIT", "UNKNOWN",
}
KNOWN_CODECS = {
    "UNCOMPRESSED", "SNAPPY", "GZIP", "LZO", "BROTLI", "LZ4", "ZSTD",
    "LZ4_RAW", "UNKNOWN",
}


@pytest.mark.skipif(not FIXTURES, reason="reference fixtures unavailable")
@pytest.mark.parametrize("path", FIXTURES, ids=[os.path.basename(p) for p in FIXTURES])
def test_fixture_against_pyarrow(path):
    """Field contract (reference tests/test_all_metadata_fields.py pattern) +
    differential values vs PyArrow (tests/test_statistics.py pattern)."""
    meta = parquet_meta.read_metadata(path)
    pf = pq.ParquetFile(path)
    assert meta["num_rows"] == pf.metadata.num_rows
    assert len(meta["row_groups"]) == pf.metadata.num_row_groups
    for rg_i, rg in enumerate(meta["row_groups"]):
        prg = pf.metadata.row_group(rg_i)
        assert rg["num_rows"] == prg.num_rows
        assert rg["total_byte_size"] == prg.total_byte_size
        assert len(rg["columns"]) == prg.num_columns
        for c_i, col in enumerate(rg["columns"]):
            pc_ = prg.column(c_i)
            assert set(col) == EXPECTED_FIELDS, f"field set mismatch in {col['name']}"
            assert col["type"] in KNOWN_PHYSICAL
            assert set(col["encodings"]) <= KNOWN_ENCODINGS
            assert col["compression_codec"] in KNOWN_CODECS
            assert col["num_values"] == pc_.num_values
            assert col["total_compressed_size"] == pc_.total_compressed_size
            assert col["total_uncompressed_size"] == pc_.total_uncompressed_size
            if pc_.is_stats_set and pc_.statistics.has_null_count:
                assert col["null_count"] == pc_.statistics.null_count
            for f in ("num_values", "total_compressed_size", "data_page_offset"):
                assert col[f] is None or col[f] >= 0  # sentinel −1 → None


def test_three_entry_points_agree():
    path = os.path.join(FIXTURE_DIR, "planets.parquet")
    if not os.path.exists(path):
        pytest.skip("fixture missing")
    with open(path, "rb") as f:
        data = f.read()
    a = parquet_meta.read_metadata(path)
    b = parquet_meta.read_metadata_from_bytes(data)
    c = parquet_meta.read_metadata_from_memoryview(memoryview(data))
    assert a == b == c


def test_logical_types_on_own_tables():
    path = "/root/testdata/sf0.001/lineitem.parquet"
    meta = parquet_meta.read_metadata(path)
    cols = {c["name"]: c for c in meta["row_groups"][0]["columns"]}
    assert cols["l_returnflag"]["logical_type"] == "varchar"
    assert cols["l_shipdate"]["logical_type"].startswith("timestamp[us")
    assert cols["l_quantity"]["type"] == "float64"


def test_bloom_and_index_footer_fields(spark, tmp_path):
    """The per-chunk fields pyarrow hides, recovered by the thrift-lite
    footer scan (rugo parses them: metadata.cpp:536-581), on a bloom
    fixture written by Spark's parquet writer (pyarrow and DuckDB cannot
    write blooms): the bloom range lies inside the file before the footer,
    the bytes entry point agrees, and index_page_offset matches DuckDB's
    parquet_metadata()."""
    import struct

    import duckdb

    from rugo_spark.parquet_meta import read_metadata, read_metadata_from_bytes
    from rugo_spark.thrift_lite import file_column_extras

    out = str(tmp_path / "bloom")
    (
        spark.range(0, 2000).selectExpr("id", "cast(id * 7 as string) s")
        .coalesce(1).write
        .option("parquet.bloom.filter.enabled#s", "true")
        .option("parquet.enable.dictionary", "false")
        .parquet(out)
    )
    (p,) = glob.glob(os.path.join(out, "*.parquet"))
    with open(p, "rb") as f:
        data = f.read()
    footer_start = len(data) - 8 - struct.unpack("<I", data[-8:-4])[0]

    md = read_metadata(p)
    col = next(c for c in md["row_groups"][0]["columns"] if c["name"] == "s")
    assert col["bloom_offset"] is not None and col["bloom_length"] is not None
    assert 4 <= col["bloom_offset"]
    assert col["bloom_offset"] + col["bloom_length"] <= footer_start
    assert read_metadata_from_bytes(data) == md

    extras = file_column_extras(p)
    rows = duckdb.connect().execute(
        f"SELECT row_group_id, column_id, index_page_offset "
        f"FROM parquet_metadata('{p}') ORDER BY 1, 2"
    ).fetchall()
    assert rows
    for rg, ci, ipo in rows:
        assert extras[rg][ci]["index_page_offset"] == ipo


def test_thrift_lite_fuzz_roundtrip(tmp_path):
    """Property check: the compact-protocol footer scanner must parse every
    pyarrow-written layout (row-group sizes, compressions, nullable mixes)
    with the right [n_row_groups][n_cols] shape and agree with DuckDB on
    index_page_offset."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rugo_spark.thrift_lite import file_column_extras

    rng = np.random.default_rng(11)
    con = duckdb.connect()
    for trial in range(12):
        n = int(rng.integers(1, 40))
        tbl = pa.table(
            {
                "i": pa.array([int(x) if x % 3 else None for x in rng.integers(0, 1000, n)]),
                "s": pa.array([f"v{x}" if x % 4 else None for x in rng.integers(0, 50, n)]),
                "f": pa.array(rng.standard_normal(n)),
            }
        )
        path = str(tmp_path / f"fuzz{trial}.parquet")
        pq.write_table(
            tbl,
            path,
            row_group_size=int(rng.integers(1, n + 1)),
            compression=["snappy", "zstd", "none"][trial % 3],
            write_statistics=bool(trial % 2),
        )
        extras = file_column_extras(path)
        md = pq.ParquetFile(path).metadata
        assert len(extras) == md.num_row_groups
        assert all(len(rg) == md.num_columns for rg in extras)
        rows = con.execute(
            f"SELECT row_group_id, column_id, index_page_offset "
            f"FROM parquet_metadata('{path}') ORDER BY 1, 2"
        ).fetchall()
        for rg, ci, ipo in rows:
            assert extras[rg][ci]["index_page_offset"] == ipo
