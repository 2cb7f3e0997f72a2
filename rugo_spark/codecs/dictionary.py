"""Dictionary encoding for integer columns (vectorized numpy).

Analog of Parquet PLAIN_DICTIONARY / RLE_DICTIONARY (rugo
``metadata.cpp:89-112`` enum ids 1 and 7).  ``np.unique(return_inverse=True)``
yields a *sorted* dictionary — which therefore delta-encodes extremely well —
plus bit-packed indices.

Payload layout (little-endian):
  u64 n_values | u64 card | u64 dict_len | delta(dict) | u8 idx_width | packed(indices)
"""

from __future__ import annotations

import struct

import numpy as np

from rugo_spark.codecs import bitpack, foref

_HDR = struct.Struct("<QQQ")


_BINCOUNT_RANGE = 1 << 23  # dense-table path bound (64 MB of int32 table max)


def _unique_inverse(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """np.unique(return_inverse) with an O(n + range) bincount fast path."""
    if len(v) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    lo, hi = int(v.min()), int(v.max())
    rng = hi - lo
    if 0 <= rng < _BINCOUNT_RANGE:
        shifted = (v - np.int64(lo)).astype(np.int64)
        counts = np.bincount(shifted, minlength=rng + 1)
        nz = np.flatnonzero(counts)
        table = np.zeros(rng + 1, dtype=np.int32)
        table[nz] = np.arange(len(nz), dtype=np.int32)
        return nz + lo, table[shifted].astype(np.int64)
    return np.unique(v, return_inverse=True)


def encode(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = len(v)
    uniq, inv = _unique_inverse(v)
    dict_blob = foref.delta_encode(uniq)
    idx_width = bitpack.bit_width(max(len(uniq) - 1, 0))
    idx_blob = struct.pack("<B", idx_width) + bitpack.pack(inv.astype(np.uint64), idx_width)
    return _HDR.pack(n, len(uniq), len(dict_blob)) + dict_blob + idx_blob


def decode(buf: bytes | memoryview, dtype=np.int64) -> np.ndarray:
    mv = memoryview(buf)
    n, card, dict_len = _HDR.unpack_from(mv, 0)
    off = _HDR.size
    uniq = foref.delta_decode(mv[off : off + dict_len], dtype)
    off += dict_len
    if n == 0:
        return np.empty(0, dtype=dtype)
    (idx_width,) = struct.unpack_from("<B", mv, off)
    return uniq[bitpack.unpack(mv[off + 1 :], n, idx_width)]
