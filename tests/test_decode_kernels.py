"""Copy-free decode kernels against the expressions they replace.

``bss.decode`` writes each byte plane into a strided view of its output
and decodes straight into the caller's storage dtype; the reference here
is the old transpose (``np.ascontiguousarray(planes.reshape(k, n).T)``),
widened to int64, plus the base, then narrowed with ``astype``.
``block.decode_array`` wraps numpy arrays as Arrow buffers without
``tobytes()``: round trips with nulls for every kind, and every buffer
8-byte aligned.
"""

from __future__ import annotations

import datetime as dt
import decimal

import numpy as np
import pyarrow as pa
import pytest

from rugo_spark.block import decode_array, encode_array
from rugo_spark.codecs import INT_CODECS, bss

RNG = np.random.default_rng(20)
I64 = np.iinfo(np.int64)


def _old_bss_decode(buf) -> np.ndarray:
    base, itemsize, n = bss._HDR.unpack_from(buf, 0)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    raw = np.frombuffer(buf, dtype=np.uint8, count=n * itemsize, offset=bss._HDR.size)
    if itemsize == 1:
        u = raw
    else:
        u = np.ascontiguousarray(raw.reshape(itemsize, n).T).view(bss._WIDTH_DT[itemsize]).ravel()
    return u.astype(np.int64) + np.int64(base)


BSS_CASES = {
    "width1": RNG.integers(-40, 200, 999),
    "width2_negative_base": RNG.integers(-30000, 30000, 1001),
    "width4": RNG.integers(-(1 << 31), (1 << 31) - 1, 777),
    "width8": RNG.integers(I64.min // 2, I64.max // 2, 555),
    "int64_extremes": np.array([I64.min // 2 + 1, 0, I64.max // 2], dtype=np.int64),
    "one": np.array([-7], dtype=np.int64),
    "empty": np.array([], dtype=np.int64),
}


@pytest.mark.parametrize("case", sorted(BSS_CASES))
@pytest.mark.parametrize(
    "dtype", ["int64", "int32", "int16", "int8", "uint64", "uint32", "uint16", "uint8"]
)
def test_bss_decode_matches_the_transpose(case, dtype):
    blob = bss.encode(BSS_CASES[case].astype(np.int64))
    want = _old_bss_decode(blob).astype(dtype)  # astype wraps, as the block layer did
    got = bss.decode(blob, dtype)
    assert got.dtype == np.dtype(dtype)
    np.testing.assert_array_equal(got, want)
    assert bss._HDR.unpack_from(blob, 0)[1] in (1, 2, 4, 8)


def test_bss_itemsizes_are_all_covered():
    sizes = {bss._HDR.unpack_from(bss.encode(v.astype(np.int64)), 0)[1]
             for v in BSS_CASES.values()}
    assert sizes == {1, 2, 4, 8}


def test_uint64_wraps_through_the_int64_view():
    u = np.array([0, 1, (1 << 63) - 1, 1 << 63, (1 << 64) - 1], dtype=np.uint64)
    blob = bss.encode(np.array([0, 1, 2, 3, 4], dtype=np.int64))
    assert bss.decode(blob, np.uint64).tolist() == [0, 1, 2, 3, 4]
    for codec, (enc, dec) in INT_CODECS.items():
        try:
            blob = enc(u.view(np.int64))
        except OverflowError:
            continue  # range beyond 63 bits: the selector picks plain
        np.testing.assert_array_equal(dec(blob, np.uint64), u, err_msg=codec)


@pytest.mark.parametrize("codec", sorted(INT_CODECS))
@pytest.mark.parametrize("dtype", ["int8", "int16", "int32", "uint16", "int64"])
def test_int_codecs_decode_straight_to_the_storage_dtype(codec, dtype):
    info = np.iinfo(dtype)
    v = RNG.integers(max(info.min, -5000), min(info.max, 5000), 3000).astype(dtype)
    v[:2] = [max(info.min, -5000), min(info.max, 5000)]
    enc, dec = INT_CODECS[codec]
    got = dec(enc(v.astype(np.int64)), np.dtype(dtype))
    assert got.dtype == np.dtype(dtype)
    np.testing.assert_array_equal(got, v)
    assert dec(enc(np.array([], np.int64)), np.dtype(dtype)).dtype == np.dtype(dtype)


def _with_nulls(values: list, typ: pa.DataType, every: int = 4) -> pa.Array:
    return pa.array([None if i % every == 1 else x for i, x in enumerate(values)], typ)


def _ints(dtype: str, n: int = 2000) -> list:
    info = np.iinfo(dtype)
    v = RNG.integers(info.min, info.max, n, dtype=dtype, endpoint=True)
    v[:2] = [info.min, info.max]
    return v.tolist()


ARRAYS = {
    **{f"int_{t}": (lambda t=t: _with_nulls(_ints(t), pa.from_numpy_dtype(np.dtype(t))))
       for t in ["int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64"]},
    "int_small_range": lambda: _with_nulls(RNG.integers(-3, 9, 3000).tolist(), pa.int32()),
    "date32": lambda: _with_nulls(
        [dt.date(2020, 1, 1) + dt.timedelta(days=int(d)) for d in RNG.integers(0, 900, 500)],
        pa.date32()),
    "timestamp": lambda: _with_nulls(
        [dt.datetime(2021, 5, 1) + dt.timedelta(seconds=int(s)) for s in RNG.integers(0, 10**7, 500)],
        pa.timestamp("us")),
    "float_bss": lambda: _with_nulls(RNG.lognormal(0, 1, 4000).tolist(), pa.float64()),
    "float32_plain": lambda: _with_nulls(RNG.standard_normal(300).tolist(), pa.float32()),
    "float_decimal": lambda: _with_nulls(np.round(RNG.random(500) * 100, 2).tolist(), pa.float64()),
    "string": lambda: _with_nulls([f"doc-{i}-{'x' * (i % 9)}" for i in range(3000)], pa.string()),
    "string_dict": lambda: _with_nulls([f"tag{i % 5}" for i in range(3000)], pa.string()),
    "large_string": lambda: _with_nulls([f"s{i}" for i in range(800)], pa.large_string()),
    "binary": lambda: _with_nulls([bytes([i % 256]) * (i % 4) for i in range(700)], pa.binary()),
    "list": lambda: _with_nulls(
        [RNG.integers(0, 60000, int(k)).tolist() for k in RNG.integers(0, 30, 800)],
        pa.list_(pa.int32())),
    "bool": lambda: _with_nulls([bool(b) for b in RNG.integers(0, 2, 1003)], pa.bool_()),
    "bool_no_nulls": lambda: pa.array([bool(b) for b in RNG.integers(0, 2, 1003)]),
    "decimal128": lambda: _with_nulls(
        [decimal.Decimal(int(c)).scaleb(-2) for c in RNG.integers(-10**9, 10**9, 600)],
        pa.decimal128(14, 2)),
    "decimal256": lambda: _with_nulls(
        [decimal.Decimal(int(c)).scaleb(-3) for c in RNG.integers(-10**9, 10**9, 300)],
        pa.decimal256(40, 3)),
    "struct": lambda: _with_nulls(
        [{"a": i, "b": None if i % 7 == 0 else f"q{i}", "c": float(i) / 3} for i in range(900)],
        pa.struct([("a", pa.int64()), ("b", pa.string()), ("c", pa.float64())])),
    "map": lambda: _with_nulls(
        [[(f"k{j}", i * j) for j in range(i % 4)] for i in range(700)],
        pa.map_(pa.string(), pa.int32())),
    "empty_int": lambda: pa.array([], pa.int16()),
    "all_null": lambda: pa.array([None] * 10, pa.int32()),
}


@pytest.mark.parametrize("name", sorted(ARRAYS))
def test_decode_array_round_trips_with_nulls(name):
    arr = ARRAYS[name]()
    blob, meta = encode_array(arr)
    if name == "float_bss":
        assert meta["codec"] == "byte_stream_split"
    out = decode_array(blob, arr.type)
    out.validate(full=True)
    assert out.type == arr.type
    assert out.equals(arr)
    # zero-copy buffers stay aligned (a misaligned view is copied)
    stack = [out]
    while stack:
        a = stack.pop()
        assert all(b is None or b.address % 8 == 0 for b in a.buffers()), name
        if isinstance(a, (pa.ListArray, pa.LargeListArray, pa.MapArray)):
            stack.append(a.values)
        elif isinstance(a, pa.StructArray):
            stack.extend(a.field(i) for i in range(a.type.num_fields))


def test_decoded_arrays_survive_their_source_bytes():
    """A decoded array may view the block's bytes; it keeps them alive."""
    arr = pa.array(RNG.lognormal(0, 1, 4000))
    blob = bytearray(encode_array(arr)[0])
    out = decode_array(bytes(blob), arr.type)
    del blob
    assert out.equals(arr)
