"""Column block container: self-describing encoding of Arrow arrays.

The engine's unit of storage.  Where the reference describes Parquet column
chunks via an 18-field metadata record (rugo ``metadata.hpp:12-43``), our
blocks are written by us, so the container is explicit: a fixed little-endian
header, an optional validity bitmap, and codec-framed payloads.  Nested types
(list<…>) recurse: lengths are an integer sub-block, the flattened child is a
full nested container — no per-row Python anywhere (Arrow buffers in,
numpy kernels, Arrow buffers out).

Container layout (little-endian):
  'RGC1' | kind u8 | flags u8 (bit0 has_nulls) | n u64
  [ has_nulls: u64 nbytes | packbits(validity, bitorder=little) ]
  kind-specific u64-length-prefixed sub-blocks:
    INT  : codec_id u8 | general-frame(codec payload)
    FLOAT: itemsize u8 | general-frame(raw LE bytes)
    STR  : lengths INT sub-block, then data: codec_id u8 | general-frame(payload)
    LIST : lengths INT sub-block, then child container (recursive)
    BOOL : general-frame(packbits(values, little))
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from rugo_spark.codecs import (
    BYTES_CODEC_IDS,
    BYTES_CODECS,
    CODEC_BY_ID,
    INT_CODEC_IDS,
    INT_CODECS,
    bss,
    fsst,
    general,
)
from rugo_spark.selector import select_bytes_codec, select_int_codec

MAGIC = b"RGC1"
KIND_INT, KIND_FLOAT, KIND_STR, KIND_LIST, KIND_BOOL, KIND_IPC, KIND_DEC128 = 0, 1, 2, 3, 4, 5, 6
KIND_STRUCT, KIND_MAP, KIND_DEC256 = 7, 8, 9

_HDR = struct.Struct("<4sBBQ")
_U64 = struct.Struct("<Q")


# ---------------------------------------------------------------- helpers

def _frame(body: bytes) -> bytes:
    return _U64.pack(len(body)) + body


def _read_frame(mv: memoryview, off: int) -> tuple[memoryview, int]:
    (ln,) = _U64.unpack_from(mv, off)
    start = off + 8
    return mv[start : start + ln], start + ln


def _kind_of(t: pa.DataType) -> int:
    if pa.types.is_boolean(t):
        return KIND_BOOL
    if (
        pa.types.is_integer(t)
        or pa.types.is_temporal(t)
    ):
        return KIND_INT
    if pa.types.is_floating(t):
        return KIND_FLOAT
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return KIND_STR
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return KIND_LIST
    if pa.types.is_decimal128(t):
        # two int64 lanes through the integer codecs (FOR/bss) — DECIMAL is
        # first-class in the reference's vocabulary (rugo metadata.cpp:184-201)
        return KIND_DEC128
    if pa.types.is_decimal256(t):
        return KIND_DEC256
    if pa.types.is_struct(t):
        # shredded to leaf columns, like the reference resolves nested schemas
        # to typed leaves (rugo metadata.cpp:668-724)
        return KIND_STRUCT
    if pa.types.is_map(t):
        return KIND_MAP
    # universal fallback: unions, nested exotica — Arrow IPC stream + outer
    # zstd (correct for every type; lightweight codecs apply to the kinds
    # above, which cover the hot token-table path)
    return KIND_IPC


_INT_STORAGE = {  # arrow type id safety: reinterpret temporal as raw ints
    "ts64": pa.int64(),
}


def _int_view(dense: pa.Array) -> np.ndarray:
    """Null-free int-like arrow array → int64 numpy (bit-preserving)."""
    t = dense.type
    if pa.types.is_timestamp(t) or pa.types.is_time64(t) or pa.types.is_date64(t) or pa.types.is_duration(t):
        dense = dense.view(pa.int64())
    elif pa.types.is_date32(t) or pa.types.is_time32(t):
        dense = dense.view(pa.int32())
    v = dense.to_numpy(zero_copy_only=len(dense) > 0)
    if v.dtype == np.uint64:
        v = v.view(np.int64)  # bit-preserving; decoder views back
    return np.ascontiguousarray(v, dtype=np.int64) if v.dtype != np.int64 else v


def _storage_np_dtype(t: pa.DataType):
    if pa.types.is_timestamp(t) or pa.types.is_time64(t) or pa.types.is_date64(t) or pa.types.is_duration(t):
        return np.int64
    if pa.types.is_date32(t) or pa.types.is_time32(t):
        return np.int32
    return np.dtype(t.to_pandas_dtype())


def _validity(arr: pa.Array) -> tuple[np.ndarray | None, int]:
    nulls = arr.null_count
    if nulls == 0:
        return None, 0
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    return valid, nulls


def _buf(arr: np.ndarray) -> pa.Buffer:
    """A contiguous numpy array's memory as an Arrow buffer, without a copy
    unless its address is not 8-byte aligned (a view at an odd offset of a
    block's bytes); the buffer keeps the array alive."""
    if arr.ctypes.data % 8:
        arr = arr.copy()
    return pa.py_buffer(arr)


# ---------------------------------------------------------------- encode

def _decimal_float_exponent(v: np.ndarray, max_e: int = 6) -> int | None:
    """Smallest e such that EVERY value reconstructs bit-exactly from
    round(x·10^e)/10^e in float64 (then cast to the column dtype).  Bitwise
    comparison (int view), so -0.0, NaN, inf and precision edge cases all
    fall through to the generic float path; the sample prunes, the full
    block verifies."""
    if not len(v):
        return None
    x64 = v.astype(np.float64)
    if not np.all(np.isfinite(x64)):
        return None
    bits = v.view(np.int64 if v.dtype.itemsize == 8 else np.int32)

    def ok(vals64, orig_bits, e):
        scaled = vals64 * np.float64(10.0**e)
        if not np.all(np.abs(scaled) < 2**62):
            return False
        # mirror the EXACT encode→decode path: through int64 (which drops
        # the sign of -0.0 — the float64 rint alone would not) and back
        ints = np.rint(scaled).astype(np.int64)
        recon = (ints.astype(np.float64) / np.float64(10.0**e)).astype(v.dtype)
        return np.array_equal(recon.view(orig_bits.dtype), orig_bits)

    sample = slice(0, min(len(v), 4096))
    for e in range(0, max_e + 1):
        if ok(x64[sample], bits[sample], e):
            if ok(x64, bits, e):
                return e
    return None


def _encode_int_values(v: np.ndarray, codec: str | None) -> tuple[bytes, str]:
    if codec is None:
        codec, _ = select_int_codec(v)
    try:
        payload = INT_CODECS[codec][0](v)
    except OverflowError:
        codec = "plain"
        payload = INT_CODECS[codec][0](v)
    return struct.pack("<B", INT_CODEC_IDS[codec]) + general.wrap(payload), codec


def _plan_fsst_table(plan: dict):
    """Lazily materialize (and memoize on the plan dict) a pinned FSST
    table.  Accepts a live ``fsst.Table`` or ``serialize_table`` bytes /
    base64 text (the form a JSON-persisted ``_codec_plans.json`` carries)."""
    t = plan.get("_fsst_table_obj")
    if t is not None:
        return t
    raw = plan.get("fsst_table")
    if raw is None:
        return None
    if isinstance(raw, fsst.Table):
        t = raw
    else:
        if isinstance(raw, str):
            import base64

            raw = base64.b64decode(raw)
        t = fsst.deserialize_table(raw)
    plan["_fsst_table_obj"] = t
    return t


def _encode_bytes(data: bytes, codec: str | None, plan: dict | None = None) -> tuple[bytes, str]:
    if codec is None:
        codec = select_bytes_codec(data)
    if codec == "fsst" and plan is not None and plan.get("fsst_table") is not None:
        # job-level pinned symbol table (trained once from a sample at plan
        # time): skip per-stripe training; the ratio guard inside
        # fsst.encode falls back to a local training for drifted stripes
        payload = fsst.encode(
            data,
            table=_plan_fsst_table(plan),
            expected_ratio=plan.get("fsst_ratio"),
        )
    else:
        payload = BYTES_CODECS[codec][0](data)
    return struct.pack("<B", BYTES_CODEC_IDS[codec]) + general.wrap(payload), codec


def _select_str_codec(dense: pa.Array) -> str:
    """'dict' for low-cardinality string columns, else sampled fsst/raw trial."""
    n = len(dense)
    if n == 0:
        return "raw"
    sample = dense.slice(0, min(n, 16384))
    card = len(pc.unique(sample))
    if (
        (pa.types.is_string(dense.type) or pa.types.is_large_string(dense.type))
        and card <= max(len(sample) // 8, 1)
        and card <= 65536
    ):
        return "dict"
    _, data = _string_parts(sample)  # always a pa.Array here (chunks combined upstream)
    return select_bytes_codec(data)


def _string_parts(dense: pa.Array) -> tuple[np.ndarray, bytes]:
    """Null-free string/binary array → (byte lengths, concatenated bytes)."""
    t = dense.type
    large = pa.types.is_large_string(t) or pa.types.is_large_binary(t)
    off_dt = np.int64 if large else np.int32
    bufs = dense.buffers()
    offsets = np.frombuffer(
        bufs[1], dtype=off_dt, count=len(dense) + 1, offset=dense.offset * np.dtype(off_dt).itemsize
    ).astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    lengths = np.diff(offsets)
    payload = data[offsets[0] : offsets[-1]].tobytes()
    return lengths, payload


def encode_array(arr: pa.Array | pa.ChunkedArray, plan: dict | None = None) -> tuple[bytes, dict]:
    """Encode one Arrow array into a self-describing block.

    ``plan`` optionally pins codecs: {"values": name, "lengths": name,
    "data": name, "child": nested plan}.  Absent entries are auto-selected
    from sampled statistics.  Returns (blob, meta) where meta carries the
    codec decisions + the rugo-vocabulary stats (null_count, sizes).
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    plan = plan or {}
    t = arr.type
    kind = _kind_of(t)
    n = len(arr)
    valid, null_count = _validity(arr)
    flags = 1 if valid is not None else 0
    parts = [_HDR.pack(MAGIC, kind, flags, n)]
    if valid is not None:
        packed = np.packbits(valid, bitorder="little").tobytes()
        parts.append(_U64.pack(len(packed)))
        parts.append(packed)
        dense = pc.drop_null(arr)
    else:
        dense = arr
    meta: dict = {"kind": kind, "n": n, "null_count": null_count, "raw_bytes": arr.nbytes}
    # per-block min/max — the stats the reference surfaces per column chunk
    # for external pruning (rugo metadata.cpp:430-463); used by decode-side
    # block skipping (decode_table filters)
    if kind in (KIND_INT, KIND_FLOAT, KIND_STR, KIND_DEC128, KIND_BOOL) and len(dense) > 0:
        try:
            mm = pc.min_max(dense)
            meta["min"], meta["max"] = mm["min"].as_py(), mm["max"].as_py()
        except pa.ArrowNotImplementedError:
            pass

    if kind == KIND_INT:
        v = _int_view(dense)
        codec = plan.get("values")
        if codec is None:
            codec, s = select_int_codec(v)
            meta["distinct_est"] = s["card"]  # sampled (rugo distinct_count slot)
            meta["n_runs_sample"] = s["n_runs"]
        body, codec = _encode_int_values(v, codec)
        parts.append(_frame(body))
        meta["codec"] = codec
    elif kind == KIND_FLOAT:
        v = np.ascontiguousarray(dense.to_numpy(zero_copy_only=len(dense) > 0))
        item = v.dtype.itemsize
        # mode 2: decimal-in-disguise floats (ALP-style, public idea from the
        # ALP paper / DuckDB): doubles that are k-decimal values round-trip
        # EXACTLY through round(x·10^e) int64 — verified bitwise on the whole
        # block, else fall through.  Money columns compress ~5-10× better as
        # FOR/bss ints than as float mantissas.
        dec_e = _decimal_float_exponent(v) if len(v) >= 64 else None
        if dec_e is not None:
            ints = np.rint(v.astype(np.float64) * np.float64(10.0**dec_e)).astype(np.int64)
            ibody, icodec = _encode_int_values(ints, plan.get("values"))
            body = struct.pack("<BB", item, 2) + struct.pack("<B", dec_e) + ibody
            parts.append(_frame(body))
            meta["codec"] = f"dec_float(e{dec_e}+{icodec})"
        else:
            # true BYTE_STREAM_SPLIT (rugo metadata.cpp:89-112 enum id 8) vs
            # plain, decided by a sampled trial (mantissa entropy dependent)
            mode = 0
            if len(v) >= 64:
                s = v[: min(len(v), 16384)]
                plain_sz = len(general.wrap(s.tobytes()))
                split_sz = len(
                    general.wrap(np.ascontiguousarray(s.view(np.uint8).reshape(-1, item).T).tobytes())
                )
                mode = 1 if split_sz < plain_sz * 0.97 else 0
            payload = (
                np.ascontiguousarray(v.view(np.uint8).reshape(-1, item).T).tobytes()
                if mode
                else v.tobytes()
            )
            body = struct.pack("<BB", item, mode) + general.wrap(payload)
            parts.append(_frame(body))
            meta["codec"] = "byte_stream_split" if mode else "plain"
    elif kind == KIND_STR:
        str_codec = plan.get("data")
        if str_codec is None:
            str_codec = _select_str_codec(dense)
        if str_codec == "dict":
            # dictionary-encoded strings: bit-packed indices + unique values
            # (rugo PLAIN_DICTIONARY/RLE_DICTIONARY analog for byte_array)
            denc = dense.dictionary_encode()
            idx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            ibody, _ = _encode_int_values(idx, "bss" if len(idx) else "plain")
            dlengths, ddata = _string_parts(denc.dictionary)
            dl_body, _ = _encode_int_values(dlengths, None)
            dd_body, _ = _encode_bytes(ddata, "raw")
            parts.append(struct.pack("<B", 1))  # str-mode: dict
            parts.append(_frame(ibody))
            parts.append(_frame(dl_body))
            parts.append(_frame(dd_body))
            meta["codec"] = "dict"
            meta["distinct_est"] = len(denc.dictionary)
        else:
            lengths, data = _string_parts(dense)
            lbody, lcodec = _encode_int_values(lengths, plan.get("lengths"))
            dbody, dcodec = _encode_bytes(
                data, str_codec if str_codec in BYTES_CODECS else None, plan
            )
            parts.append(struct.pack("<B", 0))  # str-mode: flat
            parts.append(_frame(lbody))
            parts.append(_frame(dbody))
            meta["codec"] = dcodec
            meta["lengths_codec"] = lcodec
    elif kind == KIND_LIST:
        lengths = pc.list_value_length(dense).to_numpy(zero_copy_only=False).astype(np.int64)
        flat = pc.list_flatten(dense)
        lbody, lcodec = _encode_int_values(lengths, plan.get("lengths"))
        child_blob, child_meta = encode_array(flat, plan.get("child"))
        parts.append(_frame(lbody))
        parts.append(_frame(child_blob))
        meta["codec"] = child_meta.get("codec")
        meta["lengths_codec"] = lcodec
        meta["child"] = child_meta
    elif kind == KIND_BOOL:
        v = dense.to_numpy(zero_copy_only=False)
        parts.append(_frame(general.wrap(np.packbits(v, bitorder="little").tobytes())))
        meta["codec"] = "bitpack"
    elif kind == KIND_DEC128:
        # 16-byte LE two's-complement values → (lo, hi) int64 lanes; money
        # columns have tiny hi-lane ranges, so FOR/bss compress them hard
        buf = dense.buffers()[1]
        lanes = np.frombuffer(buf, dtype=np.int64, count=len(dense) * 2, offset=dense.offset * 16)
        lo = np.ascontiguousarray(lanes[0::2])
        hi = np.ascontiguousarray(lanes[1::2])
        lo_body, lo_codec = _encode_int_values(lo, plan.get("values"))
        hi_body, hi_codec = _encode_int_values(hi, plan.get("values"))
        parts.append(_frame(lo_body))
        parts.append(_frame(hi_body))
        meta["codec"] = f"dec128({lo_codec}+{hi_codec})"
    elif kind == KIND_DEC256:
        # 32-byte LE two's-complement values → four int64 lanes (same trick
        # as dec128: realistic decimals leave the top lanes constant)
        buf = dense.buffers()[1]
        lanes = np.frombuffer(buf, dtype=np.int64, count=len(dense) * 4, offset=dense.offset * 32)
        codec_names = []
        for lane in range(4):
            v = np.ascontiguousarray(lanes[lane::4])
            body, c = _encode_int_values(v, plan.get("values"))
            parts.append(_frame(body))
            codec_names.append(c)
        meta["codec"] = f"dec256({'+'.join(codec_names)})"
    elif kind == KIND_STRUCT:
        # shred to leaf columns: each child rides its own container through
        # the codec selector.  flatten() resolves the parent offset and masks
        # child slots under a null parent (their values are undefined per the
        # Arrow spec, so masking is the canonical form).
        children = arr.flatten()
        child_metas = {}
        parts.append(struct.pack("<I", len(children)))
        for field, child in zip(t, children):
            blob, cmeta = encode_array(child, plan.get(field.name))
            parts.append(_frame(blob))
            child_metas[field.name] = cmeta
        meta["codec"] = "struct(" + "+".join(
            str(m.get("codec")) for m in child_metas.values()
        ) + ")"
        meta["children"] = child_metas
        # parent validity already captured in the header; children were
        # encoded full-length, so drop the dense-side bookkeeping
        meta["null_count"] = null_count
    elif kind == KIND_MAP:
        # map<k,v> is physically list<struct<key,value>>: lengths sub-block +
        # one container per flattened keys/items column.  Offsets come from
        # the raw buffer (no map kernel for list_value_length), sliced to the
        # array's own window; entries.flatten() yields offset-correct
        # keys/items children.
        offs = np.frombuffer(
            dense.buffers()[1], dtype=np.int32, count=len(dense) + 1, offset=dense.offset * 4
        ).astype(np.int64)
        lengths = np.diff(offs)
        entries = dense.values.slice(int(offs[0]), int(offs[-1] - offs[0]))
        keys, items = entries.flatten()
        lbody, lcodec = _encode_int_values(lengths, plan.get("lengths"))
        kblob, kmeta = encode_array(keys, plan.get("keys"))
        iblob, imeta = encode_array(items, plan.get("items"))
        parts.append(_frame(lbody))
        parts.append(_frame(kblob))
        parts.append(_frame(iblob))
        meta["codec"] = f"map({kmeta.get('codec')}+{imeta.get('codec')})"
        meta["lengths_codec"] = lcodec
        meta["children"] = {"key": kmeta, "value": imeta}
    elif kind == KIND_IPC:
        sink = pa.BufferOutputStream()
        tbl = pa.table({"c": arr})  # keep original validity — no re-expansion needed
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        parts = [_HDR.pack(MAGIC, kind, 0, n)]  # IPC carries its own nulls
        parts.append(_frame(general.wrap(sink.getvalue().to_pybytes())))
        meta["codec"] = "arrow-ipc"
    blob = b"".join(parts)
    meta["enc_bytes"] = len(blob)
    return blob, meta


# ---------------------------------------------------------------- decode

def _decode_int_body(body: memoryview, dtype=np.int64) -> np.ndarray:
    codec = CODEC_BY_ID[body[0]]
    payload = general.unwrap(body[1:])
    return INT_CODECS[codec][1](payload, dtype)


def _decode_bytes_body(body: memoryview):
    codec = CODEC_BY_ID[body[0]]
    payload = general.unwrap(body[1:])
    return BYTES_CODECS[codec][1](payload)


def _expand(dense: np.ndarray, valid: np.ndarray | None, fill=0) -> np.ndarray:
    if valid is None:
        return dense
    out = np.full(len(valid), fill, dtype=dense.dtype)
    out[valid] = dense
    return out


def decode_array(buf: bytes | memoryview, typ: pa.DataType) -> pa.Array:
    """Inverse of :func:`encode_array`; ``typ`` is the target Arrow type."""
    mv = memoryview(buf)
    magic, kind, flags, n = _HDR.unpack_from(mv, 0)
    assert magic == MAGIC, "bad block magic"
    off = _HDR.size
    valid = None
    vbuf = None
    if flags & 1:
        (plen,) = _U64.unpack_from(mv, off)
        off += 8
        packed = np.frombuffer(mv[off : off + plen], dtype=np.uint8)
        off += plen
        valid = np.unpackbits(packed, count=n, bitorder="little").view(bool)
        vbuf = _buf(packed)  # written by packbits: the same bits, zero padded

    if kind == KIND_INT:
        body, off = _read_frame(mv, off)
        storage = np.dtype(_storage_np_dtype(typ))
        # decoded straight to the storage width (uint64 wraps = bit-view inverse)
        vals = _expand(_decode_int_body(body, storage), valid)
        if np.issubdtype(storage, np.unsignedinteger):
            prim = {8: pa.uint64(), 4: pa.uint32(), 2: pa.uint16(), 1: pa.uint8()}[storage.itemsize]
        else:
            prim = {8: pa.int64(), 4: pa.int32(), 2: pa.int16(), 1: pa.int8()}[storage.itemsize]
        out = pa.Array.from_buffers(prim, n, [vbuf, _buf(vals)])
        return out if prim == typ else out.view(typ)
    if kind == KIND_FLOAT:
        body, off = _read_frame(mv, off)
        itemsize, mode = body[0], body[1]
        dt = np.float32 if itemsize == 4 else np.float64
        if mode == 2:
            e = body[2]
            ints = _decode_int_body(body[3:])
            dense_v = (ints.astype(np.float64) / np.float64(10.0**e)).astype(dt)
        else:
            raw = general.unwrap(body[2:])
            if mode == 1:
                dense_v = np.empty(len(raw) // itemsize, dtype=dt)
                bss.unsplit(raw, dense_v.view(np.uint8).reshape(-1, itemsize))
            else:
                dense_v = np.frombuffer(raw, dtype=dt)
        vals = _expand(dense_v, valid)
        return pa.Array.from_buffers(typ, n, [vbuf, _buf(vals)])
    if kind == KIND_STR:
        mode = mv[off]
        off += 1
        if mode == 1:  # dictionary mode
            ibody, off = _read_frame(mv, off)
            dl_body, off = _read_frame(mv, off)
            dd_body, off = _read_frame(mv, off)
            idx = _decode_int_body(ibody)
            dlen = _decode_int_body(dl_body)
            ddata = _decode_bytes_body(dd_body)
            doffs = np.zeros(len(dlen) + 1, dtype=np.int32)
            np.cumsum(dlen, out=doffs[1:])
            dict_arr = pa.Array.from_buffers(
                pa.utf8(), len(dlen), [None, _buf(doffs), pa.py_buffer(ddata)]
            )
            dense_strs = pc.take(dict_arr, pa.array(idx, type=pa.int64()))
            lengths, data = _string_parts(dense_strs)
        else:
            lbody, off = _read_frame(mv, off)
            dbody, off = _read_frame(mv, off)
            lengths = _decode_int_body(lbody)
            data = _decode_bytes_body(dbody)
        full_len = _expand(lengths, valid)
        large = pa.types.is_large_string(typ) or pa.types.is_large_binary(typ)
        off_dt = np.int64 if large else np.int32
        offsets = np.zeros(n + 1, dtype=off_dt)
        np.cumsum(full_len, out=offsets[1:])
        return pa.Array.from_buffers(typ, n, [vbuf, _buf(offsets), pa.py_buffer(data)])
    if kind == KIND_LIST:
        lbody, off = _read_frame(mv, off)
        cbody, off = _read_frame(mv, off)
        lengths = _decode_int_body(lbody)
        child = decode_array(cbody, typ.value_type)
        full_len = _expand(lengths, valid)
        large = pa.types.is_large_list(typ)
        off_dt = np.int64 if large else np.int32
        offsets = np.zeros(n + 1, dtype=off_dt)
        np.cumsum(full_len, out=offsets[1:])
        return pa.Array.from_buffers(typ, n, [vbuf, _buf(offsets)], children=[child])
    if kind == KIND_BOOL:
        body, off = _read_frame(mv, off)
        packed_dense = np.frombuffer(general.unwrap(body), dtype=np.uint8)
        if valid is not None:  # else the stored bits are the values' bitmap
            dense = np.unpackbits(packed_dense, count=int(valid.sum()), bitorder="little")
            packed_dense = np.packbits(_expand(dense.view(bool), valid, fill=False),
                                       bitorder="little")
        return pa.Array.from_buffers(pa.bool_(), n, [vbuf, _buf(packed_dense)])
    if kind == KIND_DEC128:
        lo_body, off = _read_frame(mv, off)
        hi_body, off = _read_frame(mv, off)
        lo = _decode_int_body(lo_body)
        hi = _decode_int_body(hi_body)
        n_dense = len(lo)
        lanes = np.empty(n_dense * 2, dtype=np.int64)
        lanes[0::2] = lo
        lanes[1::2] = hi
        if valid is not None:
            full = np.zeros(n * 2, dtype=np.int64)
            full[np.repeat(valid, 2)] = lanes
            lanes = full
        return pa.Array.from_buffers(typ, n, [vbuf, _buf(lanes)])
    if kind == KIND_DEC256:
        lanes_dec = [None] * 4
        for lane in range(4):
            body, off = _read_frame(mv, off)
            lanes_dec[lane] = _decode_int_body(body)
        n_dense = len(lanes_dec[0])
        lanes = np.empty(n_dense * 4, dtype=np.int64)
        for lane in range(4):
            lanes[lane::4] = lanes_dec[lane]
        if valid is not None:
            full = np.zeros(n * 4, dtype=np.int64)
            full[np.repeat(valid, 4)] = lanes
            lanes = full
        return pa.Array.from_buffers(typ, n, [vbuf, _buf(lanes)])
    if kind == KIND_STRUCT:
        (n_children,) = struct.unpack_from("<I", mv, off)
        off += 4
        children = []
        for i in range(n_children):
            blob, off = _read_frame(mv, off)
            children.append(decode_array(blob, typ.field(i).type))
        return pa.Array.from_buffers(typ, n, [vbuf], children=children)
    if kind == KIND_MAP:
        lbody, off = _read_frame(mv, off)
        kblob, off = _read_frame(mv, off)
        iblob, off = _read_frame(mv, off)
        lengths = _decode_int_body(lbody)
        keys = decode_array(kblob, typ.key_type)
        items = decode_array(iblob, typ.item_type)
        full_len = _expand(lengths, valid)
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(full_len, out=offsets[1:])
        entries = pa.StructArray.from_arrays(
            [keys, items], fields=[typ.key_field, typ.item_field]
        )
        return pa.Array.from_buffers(typ, n, [vbuf, _buf(offsets)], children=[entries])
    if kind == KIND_IPC:
        body, off = _read_frame(mv, off)
        with pa.ipc.open_stream(pa.py_buffer(general.unwrap(body))) as r:
            tbl = r.read_all()
        out = tbl.column("c").combine_chunks()
        return out if out.type == typ else out.cast(typ)
    raise TypeError(f"unknown kind {kind}")
