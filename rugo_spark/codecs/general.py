"""General-purpose byte codecs layered after the lightweight encodings.

Mirrors the reference's codec enum surface (rugo ``metadata.cpp:114-135``:
UNCOMPRESSED, SNAPPY, GZIP, …, ZSTD, LZ4_RAW) using pyarrow's bundled
compressors.  The engine's outer layer is 'auto': compress and keep only if
it actually shrinks the payload.

Frame layout: u8 codec_id | u64 orig_len | body
"""

from __future__ import annotations

import struct

import pyarrow as pa

_HDR = struct.Struct("<BQ")

RAW, ZSTD, LZ4, GZIP, SNAPPY = 0, 1, 2, 3, 4
_PA = {ZSTD: "zstd", LZ4: "lz4", GZIP: "gzip", SNAPPY: "snappy"}


def wrap(payload: bytes, codec: int = ZSTD, auto: bool = True) -> bytes:
    """Compress ``payload``; with ``auto`` fall back to RAW unless it shrinks."""
    if codec != RAW:
        body = pa.Codec(_PA[codec]).compress(payload, asbytes=True)
        if not auto or len(body) < len(payload):
            return _HDR.pack(codec, len(payload)) + body
    return _HDR.pack(RAW, len(payload)) + payload


def unwrap(buf: bytes | memoryview) -> memoryview:
    """The payload of a frame, without a copy: a view into ``buf`` for RAW,
    else into the decompressed Arrow buffer (kept alive by the view)."""
    codec, orig_len = _HDR.unpack_from(buf, 0)
    body = memoryview(buf)[_HDR.size :]
    if codec == RAW:
        return body
    return memoryview(pa.Codec(_PA[codec]).decompress(body, orig_len)).cast("B")
