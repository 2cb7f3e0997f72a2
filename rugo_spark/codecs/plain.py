"""Plain (byte-aligned) integer codec — the universal fallback.

Analog of Parquet PLAIN (rugo ``metadata.cpp:89-112`` enum id 0), with one
improvement: values are stored at the narrowest little-endian signed width
(1/2/4/8 bytes) that holds the column's range, decided by one min/max pass.

Payload layout: u64 n | u8 itemsize | raw little-endian values
"""

from __future__ import annotations

import struct

import numpy as np

_HDR = struct.Struct("<QB")

_WIDTH_DTYPE = {1: np.int8, 2: np.int16, 4: np.int32, 8: np.int64}


def encode(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.int64)
    if len(v) == 0:
        return _HDR.pack(0, 8)
    lo, hi = int(v.min()), int(v.max())
    for size, dt in _WIDTH_DTYPE.items():
        info = np.iinfo(dt)
        if info.min <= lo and hi <= info.max:
            return _HDR.pack(len(v), size) + v.astype(dt).tobytes()
    raise AssertionError("unreachable: int64 always fits")


def decode(buf: bytes | memoryview, dtype=np.int64) -> np.ndarray:
    n, itemsize = _HDR.unpack_from(buf, 0)
    dt = _WIDTH_DTYPE[itemsize]
    return np.frombuffer(buf, dtype=dt, count=n, offset=_HDR.size).astype(dtype)
