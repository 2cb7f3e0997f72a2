"""FSST-style string compression: static symbol table, escape-byte stream.

A from-scratch, numpy-vectorized take on the FSST idea ("Fast Static Symbol
Table", Boncz/Neumann/Leis, VLDB 2020 — public paper): compress a byte
stream with a table of ≤255 symbols of 1..8 bytes each; output codes are one
byte, code 255 escapes a literal byte.  Covers the reference's string-
compression encoding slots DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY
(rugo ``metadata.cpp:89-112`` enum ids 5, 6) in our codec menu.

Differences from the published FSST algorithm (deliberate, from-scratch):
the table is trained by bounded byte-pair-merge rounds (BPE-style) on a
sample, each round one whole-array numpy pass; encoding is FSST's greedy
longest-match walk (a small C kernel, or a numpy walk vectorized across
512-byte chunks when no compiler is available) — no per-byte Python loop.

Payload layout (little-endian):
  u8 n_symbols | (u8 len | bytes)*n_symbols | u64 orig_len |
  u64 stream_len | stream
(the merge list is NOT stored — decode only needs the expansions)
"""

from __future__ import annotations

import struct

from dataclasses import dataclass, field

import numpy as np

ESCAPE = 255
MAX_SYMBOLS = 255  # output codes 0..254; 255 = escape
MAX_SYMBOL_LEN = 8
_MAX_MERGES = 160  # leaves ≥95 output codes for frequent single bytes
_SAMPLE_LIMIT = 1 << 18  # train on ≤256 KiB — ratio is flat 64 KiB-512 KiB (measured)
_CODE_SPACE = 512  # 256 literals + ≤_MAX_MERGES merged codes, rounded up
_K = np.uint32(_CODE_SPACE)


@dataclass
class Table:
    n_merges: int = 0
    expansions: list[bytes] = field(default_factory=list)  # per internal code ≥256
    out_expansions: list[bytes] = field(default_factory=list)  # per output code


def _apply_round(codes: np.ndarray, lut: np.ndarray) -> np.ndarray:
    """Replace non-overlapping occurrences of the round's pairs in ONE
    vectorized pass.

    ``lut`` is a dense (CODE_SPACE²) int16 map pair-key → merged code (or
    −1): a single gather, no searchsorted — the training hot loop.
    Greedy-left overlap resolution (within a run of k overlapping candidates
    merge every other one, ⌈k/2⌉ total) is computed with whole-array integer
    ops: run-relative position parity via cumsum + maximum.accumulate, no
    candidate-index materialization."""
    if len(codes) < 2:
        return codes
    pk = codes[:-1] * _K + codes[1:]
    nc = lut.take(pk)
    hit = nc >= 0
    if not hit.any():
        return codes
    # parity within runs: c = running hit count; at each run start remember
    # c there; keep hits whose (c - run_start_c) is even
    c = np.cumsum(hit, dtype=np.int32)
    is_start = np.empty_like(hit)
    is_start[0] = hit[0]
    np.less(hit[:-1], hit[1:], out=is_start[1:])  # 0→1 edge = run start
    start_c = np.where(is_start, c, 0)
    np.maximum.accumulate(start_c, out=start_c)
    np.subtract(c, start_c, out=c)
    keep = hit
    keep &= (c & 1) == 0
    # masked element-wise copy — no candidate-index materialization
    np.copyto(codes[:-1], nc, where=keep, casting="unsafe")
    stay = np.empty(len(codes), dtype=bool)
    stay[0] = True
    np.logical_not(keep, out=stay[1:])
    return codes[stay]


def train(sample: bytes, max_merges: int = _MAX_MERGES, rounds: int = 4) -> Table:
    """Train a symbol table by bounded pair-merge rounds on ``sample``.
    Each round counts pairs with a dense bincount (code space is ≤512, so
    pair space is 512² bins — no sort), selects the highest-count pairs, and
    applies them all in one vectorized pass (same batch application at
    encode time)."""
    if max_merges > 255:
        # the dense pair LUT is sized _CODE_SPACE=512 and encode() writes the
        # symbol count in one byte — more than 255 merges would overflow both
        raise ValueError(f"max_merges must be <= 255, got {max_merges}")
    t = Table()
    codes = np.frombuffer(sample[:_SAMPLE_LIMIT], dtype=np.uint8).astype(np.uint32)
    expansions: dict[int, bytes] = {}
    next_code = 256
    min_count = max(4, len(codes) // 65536)
    for r in range(rounds):
        if len(codes) < 2 or t.n_merges >= max_merges:
            break
        pairs = codes[:-1] * _K + codes[1:]
        counts = np.bincount(pairs, minlength=_CODE_SPACE * _CODE_SPACE)
        budget = (max_merges - t.n_merges + (rounds - r - 1)) // (rounds - r)
        # top candidates only: argpartition beats a full sort of 262k bins
        top_n = min(budget * 3 + 16, counts.size)
        top = np.argpartition(counts, -top_n)[-top_n:]
        order = top[np.argsort(counts[top])[::-1]]
        lut = np.full(_CODE_SPACE * _CODE_SPACE, -1, dtype=np.int16)
        n_sel = 0
        for key in order:
            if n_sel >= budget or counts[key] < min_count:
                break
            a, b = int(key) // _CODE_SPACE, int(key) % _CODE_SPACE
            exp_a = expansions.get(a, bytes([a]) if a < 256 else b"")
            exp_b = expansions.get(b, bytes([b]) if b < 256 else b"")
            exp = exp_a + exp_b
            if len(exp) > MAX_SYMBOL_LEN:
                continue
            expansions[next_code] = exp
            lut[key] = next_code
            next_code += 1
            n_sel += 1
        if n_sel == 0:
            break
        t.n_merges += n_sel
        codes = _apply_round(codes, lut)
    t.expansions = [expansions[c] for c in range(256, next_code)]

    # assign output codes: merged symbols first, then most frequent literals
    out_expansions = list(t.expansions)
    lit_codes = codes[codes < 256]
    if len(lit_codes):
        lits, lit_counts = np.unique(lit_codes, return_counts=True)
        for lit in lits[np.argsort(lit_counts)[::-1]]:
            if len(out_expansions) >= MAX_SYMBOLS:
                break
            out_expansions.append(bytes([int(lit)]))
    t.out_expansions = out_expansions
    return t


_LEN_MASK = np.zeros(9, dtype=np.uint64)
for _l in range(1, 9):
    _LEN_MASK[_l] = np.uint64((1 << (8 * _l)) - 1) if _l < 8 else np.uint64(0xFFFFFFFFFFFFFFFF)


def _match_tables(t: Table):
    """Longest-match lookup tables, built once per trained table: per 2-byte
    prefix the two longest symbols (covers >99% of prefix collisions among
    ≤255 symbols), a 1-byte-symbol table, and per-symbol packed keys."""
    if getattr(t, "_match", None) is not None:
        return t._match
    n_sym = len(t.out_expansions)
    symlen = np.zeros(max(n_sym, 1), dtype=np.int64)
    symkey = np.zeros(max(n_sym, 1), dtype=np.uint64)
    lut1 = np.full(256, -1, dtype=np.int16)
    by_prefix: dict[int, list[int]] = {}
    for i, e in enumerate(t.out_expansions):
        symlen[i] = len(e)
        symkey[i] = int.from_bytes(e.ljust(8, b"\0"), "little")
        if len(e) == 1:
            lut1[e[0]] = i
        elif len(e) >= 2:
            by_prefix.setdefault(e[0] | (e[1] << 8), []).append(i)
    lut_a = np.full(65536, -1, dtype=np.int16)
    lut_b = np.full(65536, -1, dtype=np.int16)
    for p, ids in by_prefix.items():
        ids.sort(key=lambda i: -symlen[i])
        lut_a[p] = ids[0]
        if len(ids) > 1:
            lut_b[p] = ids[1]
    t._match = (lut1, lut_a, lut_b, symkey, symlen)
    return t._match


def compress(data: bytes, t: Table) -> bytes:
    """Greedy longest-match encode (the real-FSST strategy) vectorized:

    1. Per POSITION (whole-array passes): sliding 8-byte windows, candidate
       symbols via a 2-byte-prefix LUT, full-key masked compare → the longest
       matching symbol (or 1-byte symbol / escape) at every position.
    2. The inherently sequential greedy WALK (take match, jump its length) is
       vectorized ACROSS 1 KiB chunks: one position vector steps all chunks
       at once (~chunk/avg_len iterations over an n_chunks-wide vector).
       A match is never taken across a chunk seam (1-byte fallback) — ≤1
       shorter token per KiB, ratio noise.
    3. Stitch: flatten per-chunk token matrices (chunk-major = input order),
       expand escapes.
    """
    d = np.frombuffer(data, dtype=np.uint8)
    n = len(d)
    if n == 0:
        return b""
    # longest-match only needs the output expansions (deserialized pinned
    # tables carry nothing else)
    lut1, lut_a, lut_b, symkey, symlen = _match_tables(t)

    # native path: the same greedy walk as a tiny C loop (no chunk seams,
    # ~20x the numpy walk); numpy below is the no-compiler fallback
    from rugo_spark.codecs.fsst_native import compress_native

    native = compress_native(bytes(data), lut1, lut_a, lut_b, symkey, symlen)
    if native is not None:
        return native

    C = 512
    n_chunks = (n + C - 1) // C
    pos = np.arange(n_chunks, dtype=np.int64) * C
    ends = np.minimum(pos + C, n)
    # int16 suffices (token codes < 512) — halves the walk's dominant buffer
    toks = np.full((n_chunks, C), -1, dtype=np.int16)
    active = np.arange(n_chunks)
    step = 0
    # all matching is LAZY — evaluated only at the ~n/avg_len positions the
    # greedy walk actually visits (a quarter of all positions on text),
    # per step over an n_chunks-wide vector
    while len(active):
        p = pos[active]
        rem = ends[active] - p  # never match across a chunk seam
        # sliding 8-byte window at the visited positions only
        w = d[p].astype(np.uint64)
        for k in range(1, 8):
            idx = p + k
            np.minimum(idx, n - 1, out=idx)
            w |= np.where(p + k < n, d[idx], 0).astype(np.uint64) << np.uint64(8 * k)
        w16 = (w & np.uint64(0xFFFF)).astype(np.int64)
        byte0 = d[p]
        one = lut1[byte0]
        tk = np.where(one >= 0, one.astype(np.int32), 256 + byte0.astype(np.int32))
        ln = np.ones(len(p), dtype=np.int64)
        for lut in (lut_b, lut_a):  # secondary first; the longest overrides
            cand = lut[w16]
            has = cand >= 0
            c = np.where(has, cand, 0)
            cl = symlen[c]
            ok = has & (cl <= rem) & ((w & _LEN_MASK[cl]) == symkey[c])
            tk = np.where(ok, c.astype(np.int32), tk)
            ln = np.where(ok, cl, ln)
        toks[active, step] = tk
        pos[active] = p + ln
        still = pos[active] < ends[active]
        active = active[still]
        step += 1

    flat = toks[toks >= 0]  # row-major: chunk order then step order = input order
    esc = flat >= 256
    m = len(flat)
    incl = np.cumsum(esc, dtype=np.int64)
    starts = np.arange(m, dtype=np.int64)
    starts += incl
    starts -= esc
    total = m + (int(incl[-1]) if m else 0)
    out = np.empty(total, dtype=np.uint8)
    keep = ~esc
    out[starts[keep]] = flat[keep]
    if m and incl[-1]:
        eo = starts[esc]
        out[eo] = ESCAPE
        out[eo + 1] = flat[esc] - 256
    return out.tobytes()


def _decompress_stream(stream: np.ndarray, out_expansions: list[bytes]) -> bytes:
    """Vectorized decode of an escape-coded symbol stream."""
    n = len(stream)
    if n == 0:
        return b""
    n_sym = len(out_expansions)
    symlen = np.zeros(256, dtype=np.int64)
    symbytes = np.zeros((256, MAX_SYMBOL_LEN), dtype=np.uint8)
    for i, e in enumerate(out_expansions):
        symlen[i] = len(e)
        symbytes[i, : len(e)] = np.frombuffer(e, dtype=np.uint8)
    # find escapes: within each run of consecutive 0xFF bytes, even offsets
    pos = np.flatnonzero(stream == ESCAPE)
    if len(pos):
        is_start = np.concatenate(([True], np.diff(pos) != 1))
        run_start = pos[is_start][np.cumsum(is_start) - 1]
        esc_pos = pos[((pos - run_start) & 1) == 0]
    else:
        esc_pos = pos
    out_len = np.zeros(n, dtype=np.int64)
    is_sym = np.ones(n, dtype=bool)
    is_sym[esc_pos] = False
    lit_pos = esc_pos + 1
    is_sym[lit_pos[lit_pos < n]] = False
    out_len[is_sym] = symlen[stream[is_sym]]
    out_len[esc_pos] = 1
    offs = np.concatenate(([0], np.cumsum(out_len)))
    out = np.empty(offs[-1], dtype=np.uint8)
    sym_idx = np.flatnonzero(is_sym)
    codes = stream[sym_idx]
    so = offs[sym_idx]
    for k in range(MAX_SYMBOL_LEN):
        m = symlen[codes] > k
        out[so[m] + k] = symbytes[codes[m], k]
    ok = lit_pos < n
    out[offs[esc_pos[ok]]] = stream[lit_pos[ok]]
    return out.tobytes()


_HDR = struct.Struct("<B")


_REUSE_GUARD = 1.25  # re-train when a shared table's ratio degrades >25%


def serialize_table(t: Table) -> bytes:
    """Serialize a trained table for job-level pinning (e.g. in a persisted
    encode plan).  Only ``out_expansions`` is stored — the longest-match
    encoder (``compress``) and the decoder both rebuild everything they need
    from the expansions; the training-time merge LUTs are not required."""
    parts = [struct.pack("<B", len(t.out_expansions))]
    for e in t.out_expansions:
        parts.append(struct.pack("<B", len(e)))
        parts.append(e)
    return b"".join(parts)


def _parse_expansions(mv: memoryview) -> tuple[list[bytes], int]:
    """Parse the (n_symbols, [len, bytes]*) table header shared by
    ``serialize_table`` payloads and the self-describing block prefix —
    ONE copy of the wire format.  Returns (expansions, bytes consumed);
    truncated input raises instead of yielding a silently-empty table."""
    if len(mv) < 1:
        raise ValueError("fsst table: empty buffer")
    n_sym = mv[0]
    off = 1
    out_expansions: list[bytes] = []
    for _ in range(n_sym):
        if off >= len(mv) or off + 1 + mv[off] > len(mv):
            raise ValueError(
                f"fsst table: truncated at symbol {len(out_expansions)}/{n_sym}"
            )
        ln = mv[off]
        out_expansions.append(bytes(mv[off + 1 : off + 1 + ln]))
        off += 1 + ln
    return out_expansions, off


def deserialize_table(buf: bytes | memoryview) -> Table:
    mv = memoryview(buf)
    out_expansions, off = _parse_expansions(mv)
    if off != len(mv):
        raise ValueError(f"fsst table: {len(mv) - off} trailing bytes")
    t = Table()
    t.out_expansions = out_expansions
    return t


def encode(
    data: bytes,
    reuse: dict | None = None,
    table: Table | None = None,
    expected_ratio: float | None = None,
) -> bytes:
    """Self-describing FSST payload; two ways to amortize training.

    ``table`` pins an externally trained, IMMUTABLE table (a job-level plan
    trained once from a sample and shared by every stripe): the stripe is
    compressed with it, and only if the achieved ratio degrades beyond
    ``_REUSE_GUARD`` × ``expected_ratio`` does THIS stripe fall back to a
    fresh local training — the pinned table is never replaced, so the
    decision depends only on (data, table): bit-identical under resume and
    re-execution in any order.

    ``reuse`` is a caller-scoped mutable dict for sequential same-column
    chains (first call trains and stashes {"table", "ratio"}; later calls
    reuse with the same degradation guard).  Chain-order-dependent — use
    only where the caller controls the call sequence deterministically.

    Training (~20 ms) dominates small-stripe encode; compress alone runs
    ~200 MB/s, so pinned/reused stripes drop from ~47 MB/s to compress
    speed."""
    if table is not None:
        t = table
        fresh = False
    else:
        t = reuse.get("table") if reuse is not None else None
        fresh = t is None
        if fresh:
            t = train(data)
    stream = compress(data, t)
    if not fresh:
        bound = reuse["ratio"] if table is None else (
            expected_ratio if expected_ratio is not None else 1.0
        )
        if len(stream) > len(data) * bound * _REUSE_GUARD:
            # data drifted away from the shared table's distribution — pay
            # one fresh training for THIS stripe (and, in chain mode only,
            # make it the new stash; a pinned table is never replaced)
            t = train(data)
            stream = compress(data, t)
            fresh = table is None
    if reuse is not None and table is None and fresh:
        ratio = len(stream) / max(len(data), 1)
        # Stash-poisoning guard (review r4, reproduced): a single drifted
        # stripe used to replace the stash with ITS table and ITS ratio
        # (~1.6 on noise) — the guard bound then sat above any later
        # stripe's expansion, so in-distribution text kept compressing with
        # the noise table at ~1.7x EXPANSION forever.  Two rules: never
        # replace an existing stash with an incompressible-table (ratio ≥ 1)
        # result, and cap the stashed bound at 1.0 so expansion can always
        # trip the guard.
        if reuse.get("table") is None or ratio < 1.0:
            reuse["table"] = t
            reuse["ratio"] = min(ratio, 1.0)
    parts = [serialize_table(t), struct.pack("<QQ", len(data), len(stream)), stream]
    return b"".join(parts)


def decode(buf: bytes | memoryview) -> bytes:
    mv = memoryview(buf)
    out_expansions, off = _parse_expansions(mv)
    orig_len, stream_len = struct.unpack_from("<QQ", mv, off)
    off += 16
    stream = np.frombuffer(mv, dtype=np.uint8, count=stream_len, offset=off)
    from rugo_spark.codecs.fsst_native import decompress_native

    native = decompress_native(stream.tobytes(), orig_len, out_expansions)
    if native is not None:
        return native
    out = _decompress_stream(stream, out_expansions)
    if len(out) != orig_len:  # explicit: asserts vanish under python -O
        raise ValueError(
            f"fsst decode length mismatch: got {len(out)}, expected {orig_len} "
            "(corrupt stream)"
        )
    return out
