"""Frame-of-reference and zigzag-delta integer codecs (vectorized numpy).

``for`` — subtract the minimum (the *frame of reference*) and bit-pack the
non-negative residuals.  ``delta`` — zigzag-encode first differences (the
zigzag identity ``(n << 1) ^ (n >> 63)`` is the standard public encoding,
cf. rugo's decoder ``thrift.hpp:55``) and bit-pack them; wins on
sorted/monotone columns.  Analog of Parquet DELTA_BINARY_PACKED
(rugo ``metadata.cpp:89-112`` enum id 4).

Payload layouts (little-endian):
  for:   i64 base | u8 width | u64 n | packed bits
  delta: i64 first | u8 width | u64 n | packed bits (n-1 zigzag deltas)
"""

from __future__ import annotations

import struct

import numpy as np

from rugo_spark.codecs import bitpack

_FOR_HDR = struct.Struct("<qBQ")


def _as_i64(values: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(values, dtype=np.int64)


def for_encode(values: np.ndarray) -> bytes:
    v = _as_i64(values)
    n = len(v)
    if n == 0:
        return _FOR_HDR.pack(0, 0, 0)
    base = int(v.min())
    rng = int(v.max()) - base
    if rng.bit_length() > 63:
        raise OverflowError("value range exceeds 63 bits; use plain codec")
    width = bitpack.bit_width(rng)
    deltas = (v - np.int64(base)).astype(np.uint64)
    return _FOR_HDR.pack(base, width, n) + bitpack.pack(deltas, width)


def for_decode(buf: bytes | memoryview, dtype=np.int64) -> np.ndarray:
    """Values as ``dtype``, wrapped to its width as ``astype`` from int64
    wraps."""
    base, width, n = _FOR_HDR.unpack_from(buf, 0)
    out = bitpack.unpack(memoryview(buf)[_FOR_HDR.size :], n, width).astype(dtype)
    if base:
        out += np.array(base, dtype=np.int64).astype(dtype)
    return out


def zigzag(values: np.ndarray) -> np.ndarray:
    """int64 → uint64 zigzag (small magnitudes → small codes)."""
    v = values.astype(np.int64, copy=False)
    return (v.astype(np.uint64) << np.uint64(1)) ^ (v >> np.int64(63)).astype(np.uint64)


def unzigzag(codes: np.ndarray) -> np.ndarray:
    u = codes.astype(np.uint64, copy=False)
    return ((u >> np.uint64(1)) ^ (np.uint64(0) - (u & np.uint64(1)))).astype(np.int64)


def delta_encode(values: np.ndarray) -> bytes:
    v = _as_i64(values)
    n = len(v)
    if n == 0:
        return _FOR_HDR.pack(0, 0, 0)
    first = int(v[0])
    d = np.diff(v)
    if n == 1:
        return _FOR_HDR.pack(first, 0, 1)
    z = zigzag(d)
    width = bitpack.bit_width(int(z.max()))
    return _FOR_HDR.pack(first, width, n) + bitpack.pack(z, width)


def delta_decode(buf: bytes | memoryview, dtype=np.int64) -> np.ndarray:
    first, width, n = _FOR_HDR.unpack_from(buf, 0)
    if n == 0:
        return np.empty(0, dtype=dtype)
    z = bitpack.unpack(memoryview(buf)[_FOR_HDR.size :], n - 1, width)
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    if n > 1:
        np.cumsum(unzigzag(z), out=out[1:])
        out[1:] += first
    return out.astype(dtype, copy=False)
