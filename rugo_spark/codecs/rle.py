"""Run-length encoding for integer columns (vectorized numpy).

Analog of Parquet RLE (rugo ``metadata.cpp:89-112`` enum id 2).  Run
boundaries come from one vectorized comparison; run values are
frame-of-reference coded (runs of a low-cardinality column still have
structure) and run lengths are bit-packed.

Payload layout (little-endian):
  u64 n_values | u64 n_runs | u64 values_len | for(run_values) | u8 len_width | packed(run_lengths)
"""

from __future__ import annotations

import struct

import numpy as np

from rugo_spark.codecs import bitpack, foref

_HDR = struct.Struct("<QQQ")


def encode(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = len(v)
    if n == 0:
        empty = foref.for_encode(v)
        return _HDR.pack(0, 0, len(empty)) + empty + b"\x00"
    change = np.flatnonzero(v[1:] != v[:-1])
    starts = np.concatenate(([0], change + 1))
    run_values = v[starts]
    bounds = np.concatenate((starts, [n]))
    run_lengths = np.diff(bounds).astype(np.uint64)
    vals_blob = foref.for_encode(run_values)
    len_width = bitpack.bit_width(int(run_lengths.max()))
    lens_blob = struct.pack("<B", len_width) + bitpack.pack(run_lengths, len_width)
    return _HDR.pack(n, len(run_values), len(vals_blob)) + vals_blob + lens_blob


def decode(buf: bytes | memoryview, dtype=np.int64) -> np.ndarray:
    mv = memoryview(buf)
    n, n_runs, vals_len = _HDR.unpack_from(mv, 0)
    off = _HDR.size
    run_values = foref.for_decode(mv[off : off + vals_len], dtype)
    off += vals_len
    if n == 0:
        return np.empty(0, dtype=dtype)
    (len_width,) = struct.unpack_from("<B", mv, off)
    return np.repeat(run_values, bitpack.unpack(mv[off + 1 :], n_runs, len_width))
