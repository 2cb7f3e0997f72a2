"""Bit-packing kernel: vertical bit-plane layout, arbitrary width ≤ 64.

Vectorized analog of Parquet's BIT_PACKED / RLE-hybrid index packing
(reference vocabulary: rugo ``metadata.cpp:89-112`` enum BIT_PACKED=3).

Layout: ``width`` planes, plane ``b`` holding bit ``b`` of every value,
each plane ``ceil(n/8)`` bytes (LSB-first within a byte).  The vertical
layout needs no transpose of an (n, width) matrix — each plane is one
shift+mask+packbits pass at the value's *native* byte width — and the
high, mostly-zero planes compress extremely well under the outer zstd
layer.  All whole-array numpy; no per-element Python.
"""

from __future__ import annotations

import numpy as np

__all__ = ["bit_width", "pack", "unpack"]


def bit_width(max_value: int) -> int:
    """Bits needed to represent ``max_value`` (0 → 0 bits)."""
    if max_value < 0:
        raise ValueError("bit_width requires a non-negative value")
    return int(max_value).bit_length()


def _lane_dtype(width: int):
    if width <= 8:
        return np.uint8
    if width <= 16:
        return np.uint16
    if width <= 32:
        return np.uint32
    return np.uint64


def pack(values: np.ndarray, width: int) -> bytes:
    """Pack unsigned ``values`` (each < 2**width) into vertical bit planes."""
    n = len(values)
    if width == 0 or n == 0:
        return b""
    if width > 64:
        raise ValueError(f"width {width} > 64")
    dt = _lane_dtype(width)
    v = values.astype(dt, copy=False)
    nb = (n + 7) // 8
    out = np.empty((width, nb), dtype=np.uint8)
    one = dt(1)
    for b in range(width):
        out[b] = np.packbits((v >> dt(b)) & one, bitorder="little")
    return out.tobytes()


def unpack(buf: bytes | memoryview, n: int, width: int) -> np.ndarray:
    """Inverse of :func:`pack` → ``n`` values in the narrowest unsigned
    dtype that holds ``width`` bits (uint64 when ``width`` is 0)."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    nb = (n + 7) // 8
    planes = np.frombuffer(buf, dtype=np.uint8, count=width * nb).reshape(width, nb)
    dt = _lane_dtype(width)
    out = np.zeros(n, dtype=dt)
    for b in range(width):
        out |= np.unpackbits(planes[b], count=n, bitorder="little").astype(dt) << dt(b)
    return out
