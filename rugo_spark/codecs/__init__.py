"""Codec registry: lightweight integer codecs + byte-stream codecs.

Integer codecs operate on int64 logical values (``encode(np.ndarray) ->
bytes``, ``decode(bytes, dtype=np.int64) -> np.ndarray[dtype]``, wrapped to
``dtype``'s width as ``astype`` from int64 wraps, so the block layer decodes
straight into a column's storage dtype); the block layer handles nulls.
Names mirror the reference's encoding vocabulary (rugo
``metadata.cpp:89-112``).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from rugo_spark.codecs import bss, dictionary, foref, fsst, general, plain, rle  # noqa: F401

# name → (encode, decode) over int64 arrays; decode takes an optional dtype
INT_CODECS: dict[str, tuple[Callable[[np.ndarray], bytes], Callable[..., np.ndarray]]] = {
    "plain": (plain.encode, plain.decode),
    "bss": (bss.encode, bss.decode),
    "for": (foref.for_encode, foref.for_decode),
    "delta": (foref.delta_encode, foref.delta_decode),
    "rle": (rle.encode, rle.decode),
    "dict": (dictionary.encode, dictionary.decode),
}

# name → (encode, decode) over raw bytes; decode may return a view
BYTES_CODECS: dict[str, tuple[Callable[[bytes], bytes], Callable[[bytes], bytes]]] = {
    "fsst": (fsst.encode, fsst.decode),
    "raw": (lambda b: bytes(b), lambda b: b),
}

# PINNED on-disk codec ids — these bytes live inside every written block
# (block.py packs them into the column header), so they are part of the file
# format: NEVER renumber, only append.  (Deriving them from sorted(dict)
# would silently renumber every existing dataset the day a codec is added.)
INT_CODEC_IDS = {"bss": 0, "delta": 1, "dict": 2, "for": 3, "plain": 4, "rle": 5}
BYTES_CODEC_IDS = {"fsst": 64, "raw": 65}
CODEC_BY_ID = {v: k for k, v in {**INT_CODEC_IDS, **BYTES_CODEC_IDS}.items()}

assert set(INT_CODEC_IDS) == set(INT_CODECS), "every int codec needs a pinned id"
assert set(BYTES_CODEC_IDS) == set(BYTES_CODECS), "every bytes codec needs a pinned id"
assert len(CODEC_BY_ID) == len(INT_CODEC_IDS) + len(BYTES_CODEC_IDS), "duplicate codec id"
