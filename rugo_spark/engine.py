"""Encode/decode pipeline: applyInArrow encoder, mapInArrow decoder, resume.

Lifecycle (SURVEY.md §3.4): plan deterministic size-balanced partition ids →
anti-join already-completed partitions from the manifest (checkpoint-restart)
→ one shuffle into ``groupBy(partition_id).applyInArrow(encoder)`` → each
task sorts its group by the key column (bit-stable blocks regardless of
shuffle arrival order), encodes every column through the block container,
writes the block file and manifest sidecar atomically, and returns one
lineage row.  Decode is ``mapInArrow`` over manifest rows — one task per
block file, no shuffle, streaming RecordBatches out.

Everything data-sized stays in Arrow/numpy; Python touches only per-partition
scalars (the north rule's "no per-row Python in the hot path").
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from rugo_spark import manifest as mf
from rugo_spark.block import KIND_DEC128, KIND_DEC256, decode_array, encode_array

# decimal stats serialize as strings in JSON sidecars; their merge must
# compare numerically, never lexicographically (see _merge_stat)
_DECIMAL_KINDS = frozenset((KIND_DEC128, KIND_DEC256))
from rugo_spark import partitioning
from rugo_spark.partitioning import release_after_plan, with_partition_id

FILE_MAGIC = b"RGF1"
STRIPED_MAGIC = b"RGS1"  # read-only: no producer writes it any more
STRIPED_MAGIC2 = b"RGS2"  # RGS1 + stripe directory (per-stripe min/max)
_FHDR = struct.Struct("<4sI")
_U64 = struct.Struct("<Q")

DEFAULT_TARGET_TOKENS = 4_000_000  # per-partition token budget (sandbox scale)

# session-level partition-plan cache: input fingerprint → realized plan map
# (ANALYZE-once semantics — the fingerprint guards staleness)
_PLAN_CACHE: dict[tuple, dict] = {}


# ------------------------------------------------------------- block files

def encode_block_bytes(table: pa.Table, plans: dict | None = None) -> tuple[bytes, dict]:
    """Encode all columns of ``table`` → one flat ('RGF1') block payload."""
    plans = plans or {}
    parts = [_FHDR.pack(FILE_MAGIC, table.num_columns)]
    metas: dict[str, dict] = {}
    for name in table.column_names:
        blob, meta = encode_array(table.column(name), plans.get(name))
        parts.append(_U64.pack(len(blob)))
        parts.append(blob)
        metas[name] = meta
    return b"".join(parts), metas


def _atomic_write(path: str, payload: bytes) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # attempt-unique temp name: with speculative execution two attempts of
    # the same task may write concurrently — a SHARED temp name would have
    # them interleave into one inode and publish a torn file
    import uuid

    tmp = f"{path}.inprogress.{uuid.uuid4().hex[:12]}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, path)
    return zlib.crc32(payload)


def write_block_file(path: str, table: pa.Table, plans: dict | None = None) -> tuple[int, dict]:
    """Encode all columns of ``table`` → one block file. Atomic. Returns
    (crc32, per-column meta)."""
    payload, metas = encode_block_bytes(table, plans)
    return _atomic_write(path, payload), metas


def _stripe_dir_entry(metas: dict) -> dict:
    """One stripe's directory entry: ``{col: [min, max]}`` over the columns
    whose meta carries both bounds (rugo's per-row-group stats analog)."""
    return {
        c: [m["min"], m["max"]]
        for c, m in metas.items()
        if m.get("min") is not None and m.get("max") is not None
    }


def write_container(path: str, stripes: list, dir_entries: list[dict]) -> int:
    """The one RGS2 writer: flat ('RGF1') stripe payloads under a per-stripe
    min/max directory → block file, atomically.  Returns its crc32.

    Layout: magic, u32 stripe count, u64-length-prefixed JSON directory,
    then each stripe u64-length-prefixed.  Precombine's reduce, compaction's
    concat and the map-only writers' big splits all land here."""
    dir_blob = json.dumps(dir_entries, default=str).encode()
    parts = [_FHDR.pack(STRIPED_MAGIC2, len(stripes)), _U64.pack(len(dir_blob)), dir_blob]
    for blob in stripes:
        parts.append(_U64.pack(len(blob)))
        parts.append(blob)
    return _atomic_write(path, b"".join(parts))


# raw Arrow bytes per intra-block stripe for the map-only/append/V2 writers
# (precombine stripes at map-combine granularity instead).  Big splits
# become RGS2 blocks with a per-stripe min/max directory, so point
# lookups and ranged reads skip STRIPE BYTES inside one block instead of
# decoding a whole 64-128 MB split.
_STRIPE_TARGET_BYTES = 8 << 20


def _write_striped_block(
    path: str, tbl: pa.Table, plans: dict | None
) -> tuple[int, dict]:
    """write_block_file, but large tables chunk into ~8 MB-raw stripes
    under an RGS2 directory (``write_container``, as precombine's reduce
    writes).  Deterministic: stripe boundaries derive only from the table's
    own shape, so crash-resume re-encodes bit-identically."""
    n = tbl.num_rows
    per_row = max(1, tbl.nbytes // max(n, 1))
    rows_per = max(4096, _STRIPE_TARGET_BYTES // per_row)
    if n <= rows_per + rows_per // 2:  # one stripe: flat block, no directory
        return write_block_file(path, tbl, plans)
    stripes, metas_list = [], []
    for s in range(0, n, rows_per):
        payload, metas = encode_block_bytes(tbl.slice(s, min(rows_per, n - s)), plans)
        stripes.append(payload)
        metas_list.append(metas)
    crc = write_container(path, stripes, [_stripe_dir_entry(m) for m in metas_list])
    return crc, merge_column_metas(metas_list)


def encode_block_row(
    tbl: pa.Table,
    path: str,
    partition_id: int,
    sort_key: str | None = None,
    size_col: str | None = None,
    plans: dict | None = None,
    presorted: bool = False,
) -> dict:
    """Shared kernel for every block producer (map-only encoder, grouped
    encoder, the V2 batch/stream writers): sort, encode, write atomically,
    and build the manifest sidecar row (incl. bloom on the sort key).  ONE
    definition so the manifest vocabulary and bloom policy cannot drift
    between surfaces.  ``presorted`` skips the redundant re-sort when the
    caller already ordered the rows by ``sort_key``."""
    if sort_key is not None and not presorted:
        tbl = tbl.sort_by(sort_key)
    crc, metas = _write_striped_block(path, tbl, plans)
    n_tokens = 0
    if size_col is not None:
        import pyarrow.compute as pc

        n_tokens = int(pc.sum(tbl.column(size_col)).as_py() or 0)
    row = {
        "partition_id": int(partition_id),
        "n_rows": tbl.num_rows,
        "n_tokens": n_tokens,
        "input_bytes": int(tbl.nbytes),
        "output_bytes": int(os.path.getsize(path)),
        "block_path": path,
        "checksum": int(crc),
        "codecs": json.dumps(metas, default=str),
    }
    if sort_key is not None:
        from rugo_spark import bloom as _bloom

        row["bloom_col"] = sort_key
        row["bloom"] = _bloom.build(tbl.column(sort_key))
    return row


def emit_sidecar(out_dir: str, row: dict) -> pa.RecordBatch:
    """Publish a block's manifest sidecar (its commit point) and return the
    one-row ``MANIFEST_ARROW`` batch every producer task yields — the one
    place a block producer turns a sidecar row into task output."""
    mf.write_sidecar(out_dir, row)
    return pa.RecordBatch.from_pylist(
        [{k: row[k] for k in mf.MANIFEST_ARROW.names}], schema=mf.MANIFEST_ARROW
    )


def _pid_slices(batches, sort_key: str | None):
    """A shuffled task's rows → ``(pid, table)`` per ``__rugo_pid``, pid
    ascending, each slice ordered by ``sort_key`` and without the pid
    column (the grouped encoder and precombine's map side).  Per block,
    not per row."""
    import numpy as np

    batch_list = list(batches)
    if not batch_list:
        return
    tbl = pa.Table.from_batches(batch_list)
    if tbl.num_rows == 0:
        return
    keys = [("__rugo_pid", "ascending")] + ([(sort_key, "ascending")] if sort_key else [])
    tbl = tbl.sort_by(keys)
    pids = tbl.column("__rugo_pid").to_numpy()
    bounds = np.concatenate(([0], np.flatnonzero(np.diff(pids)) + 1, [len(pids)]))
    for s, e in zip(bounds[:-1], bounds[1:]):
        yield int(pids[s]), tbl.slice(s, e - s).drop_columns("__rugo_pid")


def _merge_stat(kind, cur, new, pick):
    """Pick the min/max winner between two stat values, type-aware.

    Decimal column stats reach a merge in two forms — ``decimal.Decimal``
    (fresh in-memory metas) and decimal-strings (metas that round-tripped
    through a JSON sidecar, ``json.dumps(default=str)``).  Python ``min``/
    ``max`` on the string form is lexicographic (min('10.2','9.5')=='10.2'),
    which INVERTS the bounds; the pruning side then compares them
    numerically via Decimal, so a concat-compacted dataset would silently
    skip blocks that contain matching rows.  Compare via Decimal for decimal
    kinds and return the winner in its original representation."""
    from decimal import Decimal, InvalidOperation

    if kind in _DECIMAL_KINDS:
        def key(v):
            return v if isinstance(v, Decimal) else Decimal(str(v))

        try:
            return cur if pick(key(cur), key(new)) == key(cur) else new
        except ArithmeticError:
            raise _UnmergeableStat()
    if kind is None and isinstance(cur, str) and isinstance(new, str):
        # Legacy sidecars (written before 'kind' was recorded) carry decimal
        # stats as bare strings — indistinguishable from true string data.
        # When both operands parse as decimals AND the lexicographic winner
        # differs from the numeric winner (min('10.2','9.5')=='10.2', the
        # inversion that silently prunes matching blocks), the merge is
        # ambiguous: drop the column's bounds (None = always scan).
        try:
            if pick(Decimal(cur), Decimal(new)) != Decimal(pick(cur, new)):
                raise _UnmergeableStat()
        except (InvalidOperation, ValueError):
            pass  # not numeric-parsable on both sides: genuinely a string
    return pick(cur, new)


class _UnmergeableStat(Exception):
    """A stat pair that cannot be compared safely — drop the column's
    min/max entirely (None = always scan, conservative)."""


def merge_column_metas(metas_list: list[dict]) -> dict:
    """Merge per-stripe column metas into one manifest record per column."""
    out: dict[str, dict] = {}
    poisoned: set[str] = set()
    for metas in metas_list:
        for col, m in metas.items():
            agg = out.setdefault(
                col,
                {"codec": set(), "raw_bytes": 0, "enc_bytes": 0, "null_count": 0,
                 "min": None, "max": None, "n": 0},
            )
            if m.get("kind") is not None:
                agg["kind"] = m["kind"]
            agg["codec"].add(str(m.get("codec")))
            for k in ("raw_bytes", "enc_bytes", "null_count", "n"):
                agg[k] += int(m.get(k) or 0)
            for k, pick in (("min", min), ("max", max)):
                v = m.get(k)
                if v is not None and col not in poisoned:
                    cur = agg[k]
                    if cur is None:
                        agg[k] = v
                        continue
                    kind = agg.get("kind")
                    # fast path (measured r6: _merge_stat call overhead was
                    # ~40% of a 100k-sidecar merge): a typed non-decimal
                    # kind needs no Decimal arbitration — plain pick()
                    if kind is not None and kind not in _DECIMAL_KINDS:
                        agg[k] = pick(cur, v)
                        continue
                    try:
                        agg[k] = _merge_stat(kind, cur, v, pick)
                    except _UnmergeableStat:
                        poisoned.add(col)
            if m.get("lengths_codec"):
                agg["lengths_codec"] = m["lengths_codec"]
    for col in poisoned:
        out[col]["min"] = out[col]["max"] = None
    for agg in out.values():
        agg["codec"] = "+".join(sorted(agg["codec"]))
    return out


def count_missing_as_nulls(merged: dict, parts, cols) -> dict:
    """Schema evolution: a partition with no meta for a column predates it,
    so every one of its rows reads NULL there — its ``n_rows`` count as
    that column's nulls (min/max untouched; nulls don't bound).  ``parts``
    are ``(metas, n_rows)`` pairs; a pre-merged part (segment summary,
    executor slice) has already counted its own rows.  Updates ``merged``
    (a ``merge_column_metas`` result) for ``cols`` and returns it."""
    for metas, n in parts:
        for c in cols:
            if c not in metas:
                agg = merged.setdefault(c, {"min": None, "max": None, "null_count": 0})
                agg["null_count"] = int(agg.get("null_count") or 0) + n
    return merged


def _read_flat(f, schema: pa.Schema, columns: list[str] | None):
    """Decode one flat ('RGF1') stripe from file-like ``f`` positioned at its
    header → RecordBatch.  Unwanted column payloads are ``seek``ed over
    instead of read — a column-pruned scan of a block costs the bytes of
    the requested columns, not the file (the 100-TB shape: ranged reads,
    not full-object GETs)."""
    magic, n_cols = _FHDR.unpack(f.read(_FHDR.size))
    if magic != FILE_MAGIC:
        raise ValueError(f"bad stripe magic {magic!r}")
    if n_cols > len(schema.names):
        raise ValueError(
            f"block stores {n_cols} columns but the dataset schema has only "
            f"{len(schema.names)} — the _schema.json does not describe this "
            "block (schema evolution only ADDS columns, never drops)"
        )
    arrays, names = [], []
    want = set(columns) if columns is not None else None
    first_payload = None  # kept only if needed for the row-count edge
    for i in range(n_cols):
        (ln,) = _U64.unpack(f.read(8))
        name = schema.names[i]
        if want is None or name in want:
            arrays.append(decode_array(f.read(ln), schema.field(name).type))
            names.append(name)
        elif i == 0:
            # projection may ask ONLY for post-evolution columns: column 0
            # is the row-count fallback, so keep its bytes instead of a
            # second read later (still skips every other unwanted column)
            first_payload = f.read(ln)
        else:
            f.seek(ln, 1)
    # schema evolution: a block written before a column was appended stores
    # a PREFIX of the (append-only) union schema — the missing tail decodes
    # as all-NULL.  Stored prefix order == schema prefix order, and evolved
    # columns sit at the schema tail, so appending nulls last preserves the
    # projected column order exactly.
    missing = [n for n in schema.names[n_cols:] if want is None or n in want]
    if missing:
        if arrays:
            n_rows = len(arrays[0])
        else:
            n_rows = len(decode_array(first_payload, schema.field(schema.names[0]).type))
        for n in missing:
            arrays.append(pa.nulls(n_rows, type=schema.field(n).type))
            names.append(n)
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _stripe_keep(dir_entry: dict | None, filters: list[tuple] | None) -> bool:
    """Conservative per-stripe skip test against the stripe directory's
    min/max — the intra-block analog of manifest block skipping (rugo
    surfaces per-row-group, not just per-file, stats: metadata.cpp:618-646)."""
    if not filters or not dir_entry:
        return True
    codecs = {c: {"min": mm[0], "max": mm[1]} for c, mm in dir_entry.items()}
    return all(_block_may_match(codecs, c, op, v) for c, op, v in filters)


def _stripes(f):
    """The one container parser: walk block file-like ``f`` stripe by stripe.

    Yields ``(dir_entry, length)`` with ``f`` positioned at the stripe's flat
    ('RGF1') payload; the walk resumes at the next stripe whatever the
    consumer read.  A flat block is one stripe of unknown length (``None``,
    it runs to EOF); stripes of an 'RGS1' block (read-only: no producer
    writes it any more) have no directory entry (``None``)."""
    magic, n = _FHDR.unpack(f.read(_FHDR.size))
    if magic == FILE_MAGIC:
        f.seek(0)
        yield None, None
        return
    if magic not in (STRIPED_MAGIC, STRIPED_MAGIC2):
        raise ValueError(f"unknown block magic {magic!r}")
    sdir = None
    if magic == STRIPED_MAGIC2:
        (dlen,) = _U64.unpack(f.read(8))
        sdir = json.loads(bytes(f.read(dlen)))
    pos = f.tell()
    for i in range(n):
        f.seek(pos)
        (ln,) = _U64.unpack(f.read(8))
        pos += 8 + ln
        yield (None if sdir is None else sdir[i]), ln


class _PayloadReader:
    """Zero-copy file-like view of an in-memory block payload for the one
    parser: ``read`` returns memoryview slices (``io.BytesIO`` copies each
    column, measured +5% on a 2 MB block's decode)."""

    def __init__(self, buf):
        self.buf, self.pos = memoryview(buf), 0

    def read(self, n: int = -1):
        end = len(self.buf) if n < 0 else min(self.pos + n, len(self.buf))
        out, self.pos = self.buf[self.pos : end], end
        return out

    def seek(self, off: int, whence: int = 0) -> None:
        self.pos = off if whence == 0 else self.pos + off

    def tell(self) -> int:
        return self.pos


def _decode_stripes(f, schema, columns, filters):
    for entry, _ in _stripes(f):
        if _stripe_keep(entry, filters):
            yield _read_flat(f, schema, columns)


def read_block_file(
    path: str,
    schema: pa.Schema,
    columns: list[str] | None = None,
    filters: list[tuple] | None = None,
):
    """Decode a block file → RecordBatch generator (column-pruned if asked).

    Three layouts: flat ('RGF1', one stripe), directory-striped ('RGS2',
    ``write_container``: one batch per stripe plus a per-stripe min/max
    directory) and the read-only legacy 'RGS1' (RGS2 without the
    directory).  ``filters`` skip whole stripes via the RGS2 directory — a
    point lookup inside a multi-stripe block decodes only the matching
    stripes (the caller still re-applies filters exactly on the decoded
    rows).

    Column projection and stripe skipping SEEK over unwanted bytes instead
    of reading them: a one-column predicate scan reads ~that column's
    share of the file, and a pruned point lookup reads ~one stripe."""
    with open(path, "rb") as f:
        yield from _decode_stripes(f, schema, columns, filters)


def decode_block_payload(
    buf: memoryview,
    schema: pa.Schema,
    columns: list[str] | None = None,
    filters: list[tuple] | None = None,
):
    """`read_block_file` over an in-memory payload (callers that already
    hold the bytes — e.g. a checksum-verified read — decode without a
    second file read)."""
    yield from _decode_stripes(_PayloadReader(buf), schema, columns, filters)


class ChecksumMismatch(IOError):
    """A block file's crc32 disagrees with the checksum its manifest row
    recorded (bit rot, a torn copy, a foreign write)."""


def read_live(
    path: str,
    schema: pa.Schema,
    columns: list[str] | None = None,
    filters: list[tuple] | None = None,
    mask=(),
    checksum: int | None = None,
):
    """The one block-read rule: a block as its reader sees it → RecordBatch
    generator.  Every reader (decode, ``format("rugo")``, CDC, compaction,
    recluster) reads through here.

    ``mask``: the block's raw delete entries (``deletes.load_raw`` shape,
    ``(enc, data_b64, n_rows)`` each).  Delete positions are block-absolute,
    so a masked block decodes EVERY stripe (``filters`` are dropped — the
    caller re-applies them exactly) and only then loses its masked rows.
    ``checksum``: verify the file's crc32 against it (``ChecksumMismatch``
    otherwise) and decode from the same bytes — no second read."""
    if mask:
        filters = None
    if checksum is None:
        batches = read_block_file(path, schema, columns, filters)
    else:
        with open(path, "rb") as f:
            payload = f.read()
        got = zlib.crc32(payload)
        if got != checksum:
            raise ChecksumMismatch(
                f"checksum mismatch for {path}: block corrupted "
                f"(manifest {checksum}, file {got})"
            )
        batches = decode_block_payload(memoryview(payload), schema, columns, filters)
    if mask:
        from rugo_spark import deletes as dl

        batches = dl.apply_mask(batches, dl.union_positions(list(mask)))
    yield from batches


# ------------------------------------------------------------- encode job

def _conf_get(conf, key: str, default: str = "") -> str:
    """Read a Spark conf key without tripping Spark 4's default validation.

    PySpark 4 type-checks the *default* argument of ``RuntimeConf.get``
    against the key's conf type (e.g. ``""`` is not a valid bytes value for
    ``spark.sql.files.maxPartitionBytes``), so ``conf.get(key, "")`` throws
    ``INVALID_CONF_VALUE`` on any session that never set the key.  Guard the
    read and return our own default instead."""
    try:
        v = conf.get(key)
        return default if v is None else str(v)
    except Exception:
        return default


def _files_signature(df: DataFrame) -> list:
    """Per-input-file signature ``[path, size, mtime_ns]`` (stat-based
    content signal) shared by every resume fingerprint.  An in-place
    overwrite of a same-named input must read as a DIFFERENT input — a
    path-only signature would let a resume silently skip re-encoding it
    (review r4; extended to the sorted path in r5 per ADVICE).
    Non-local URIs contribute path-only, as before."""
    import urllib.parse

    sig = []
    for f in sorted(df.inputFiles()):
        p = urllib.parse.urlparse(f).path if f.startswith("file:") else (
            f if f.startswith("/") else None
        )
        try:
            st = os.stat(p) if p else None
        except OSError:
            st = None
        sig.append([f, st.st_size, st.st_mtime_ns] if st else [f])
    return sig


# plan nodes that only pass a scan's rows on: a Parquet scan under these
# and nothing else yields its files' rows as they lie
_SCAN_WRAPPERS = ("WholeStageCodegenExec", "ColumnarToRowExec", "InputAdapter")
_PARQUET_FORMAT = "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat"


def _has_temporal(t: pa.DataType) -> bool:
    return pa.types.is_temporal(t) or any(
        _has_temporal(t.field(i).type) for i in range(t.num_fields)
    )


def _parquet_splits(df: DataFrame) -> list[list[str]] | None:
    """Spark's own file splits of a plain Parquet scan: one list of local
    file paths per ``FilePartition``, in index order, from the executed
    plan's ``FileSourceScanExec.inputRDD``.  Read with pyarrow in that
    order, a split gives the rows Spark would hand ``mapInArrow``, with the
    same Arrow types, and the split index is the task's partition id.

    None (read through ``df`` instead) unless the plan is the bare scan
    with no partition columns, no data or partition filters (so none
    pushed) and no bucketing; every split entry covers a whole local file;
    Spark would not skip corrupt or missing files; no column is a date,
    timestamp or interval (Spark may rebase legacy-calendar values and
    reads timestamps into the session zone); and every file's footer
    schema equals ``_arrow_schema_of(df)``.  Split packing and the
    row-group midpoint rule stay Spark's: partial-file splits fall back.
    Spark Connect frames and py4j errors give None too."""
    import pyarrow.parquet as pq
    from py4j.protocol import Py4JError

    try:
        node = df._jdf.queryExecution().executedPlan()
        while node.getClass().getSimpleName() in _SCAN_WRAPPERS:
            node = node.children().apply(0)
        if node.getClass().getSimpleName() != "FileSourceScanExec":
            return None
        rel = node.relation()
        if (rel.fileFormat().getClass().getName() != _PARQUET_FORMAT
                or rel.partitionSchema().length() or node.bucketedScan()
                or node.dataFilters().nonEmpty() or node.partitionFilters().nonEmpty()):
            return None
        opts, it = {}, rel.options().iterator()
        while it.hasNext():
            kv = it.next()
            opts[kv._1().lower()] = kv._2()
        for flag in ("ignoreCorruptFiles", "ignoreMissingFiles"):
            on = opts.get(flag.lower(), _conf_get(df.sparkSession.conf, f"spark.sql.files.{flag}"))
            if str(on).strip().lower() == "true":
                return None
        target = _arrow_schema_of(df)
        if any(_has_temporal(f.type) for f in target):
            return None
        parts = node.inputRDD().filePartitions()
        splits = []
        for j in range(parts.size()):
            part = parts.apply(j)
            if part.index() != j:
                return None
            files = []
            for pf in part.files():
                uri = pf.filePath().toUri()
                if uri.getScheme() != "file" or pf.start() != 0 or pf.length() != pf.fileSize():
                    return None
                files.append(uri.getPath())
            splits.append(files)
        paths = {p for files in splits for p in files}
        if not paths or any(
            not pq.read_schema(p).equals(target, check_metadata=False) for p in paths
        ):
            return None
        return splits
    # no _jdf (Spark Connect), a py4j call that fails, a footer pyarrow
    # cannot read, a type with no Arrow form: Spark reads the input itself
    except (AttributeError, TypeError, OSError, pa.ArrowException, Py4JError):
        return None


def _plan_signature(df: DataFrame) -> str:
    """Cross-JVM-deterministic signature of the logical plan, computed
    WITHOUT executing the query (df.rdd.getNumPartitions would finalize AQE
    stages) — catches repartition()/filter/plan changes on the same files.

    NOT ``df.semanticHash()``: that is the JVM ``hashCode`` of the
    canonicalized plan, and plan nodes hash unstably across JVM instances
    (measured: two processes reading the same parquet dir differ), which
    silently breaks every cross-process crash-resume fingerprint match.
    The canonicalized plan's *tree string* IS stable (exprIds normalized to
    ``none#N``); we hash that, plus the schema JSON because wide attribute
    lists truncate at spark.sql.debug.maxToStringFields in the string."""
    import hashlib

    try:  # classic py4j sessions; Spark Connect has no _jdf
        text = df._jdf.queryExecution().analyzed().canonicalized().toString()
    except Exception:
        text = ""
    return hashlib.sha1((text + "\x00" + df.schema.json()).encode()).hexdigest()


def _input_fingerprint(df: DataFrame, content: bool = True) -> str:
    """Deterministic id of the input layout a map-only encode keys its
    partition ids on: file list + split-size conf + split count.  Resuming
    into the same out_dir after any of these changed would silently mix
    stale and new blocks — the fingerprint guards that.

    ``content=False`` skips the identity-less content-hash pass for callers
    whose input is a pure function of state they bind into their own
    fingerprint (update_where: the source is decode(out_dir) under the
    writer lock, and its fp hashes the FULL tip snapshot entry + visible
    delete files + this plan signature — any commit in between changes the
    tip entry).  r6: the content pass executed the whole decode + to_json
    of every matched row, ~1.5 s of a 4.5 s update commit."""
    import hashlib

    sig = _files_signature(df)
    content_h = None
    if not sig and content:
        # identity-less input (in-memory LocalRelation, decode-derived
        # frame): the canonicalized plan string ELIDES row data, so two
        # same-shape inputs would collide and the second append/encode
        # would silently no-op as a "resume" of the first (real bug found
        # by the CDC-stream rollback test).  Fold in an order-independent
        # content hash — costs one extra pass over the input, which
        # identity-less inputs are small enough to afford.
        import pyspark.sql.functions as F

        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.to_json(F.struct(*df.columns)))).alias("h"),
        ).first()
        content_h = [int(row["n"] or 0), int(row["h"] or 0)]
    conf = df.sparkSession.conf
    max_bytes = _conf_get(conf, "spark.sql.files.maxPartitionBytes", "")
    blob = json.dumps(
        {
            "files": sig,
            "content": content_h,
            "maxPartitionBytes": max_bytes,
            "defaultParallelism": df.sparkSession.sparkContext.defaultParallelism,
            "plan": _plan_signature(df),
        }
    )
    return hashlib.sha1(blob.encode()).hexdigest()


def encode_table_maponly(
    df: DataFrame,
    out_dir: str,
    sort_key: str | None = None,
    size_col: str | None = None,
    plans: dict | None = None,
    on_layout_change: str = "error",
    fingerprint: str | None = None,
) -> DataFrame:
    """Shuffle-FREE encode: each input split becomes one block.

    For inputs that are already size-balanced (e.g. a well-bucketed Iceberg
    table) the quantile repartition is pure overhead — this path encodes
    splits in place (zero data movement).  Partition ids come from the
    split index, which is deterministic for a fixed input layout +
    parallelism; resume skips re-encoding completed splits.

    Where a split is read: with a ``sort_key`` and a ``df`` that is a plain
    Parquet scan (``_parquet_splits``: no filter, projection, partition
    column, bucketing, partial-file split or temporal column, and footers
    matching ``df``'s schema) of at least 1 MB of files
    (``_SPLIT_SOURCE_MIN_BYTES``), the encode task reads Spark's own file
    split with pyarrow — no JVM decode and no row-to-Arrow transfer — and
    a resume reads only the missing splits.  Any other ``df``, and any
    encode without ``sort_key``, runs ``df.mapInArrow``: Spark reads the
    split and hands its rows to the task.  Blocks are byte-identical
    either way.  The input layout is fingerprinted into ``_schema.json``; a
    resume against a changed layout raises (``on_layout_change='error'``) or
    clears the stale sidecars+blocks (``'clear'``) instead of silently mixing
    old and new data.  Use `encode_table` when the input is skewed.

    ``fingerprint`` overrides the default layout fingerprint for callers
    whose partition ids do NOT depend on the scan layout (encode_table_sorted
    routes explicitly, so split-size conf and cluster parallelism are
    irrelevant — including them would refuse legitimate cross-cluster
    resumes)."""
    spark = df.sparkSession
    fp = fingerprint if fingerprint is not None else _input_fingerprint(df)
    prev = mf.read_schema_payload(out_dir)
    if prev is not None and mf.completed_partitions(out_dir):
        if prev.get("input_fingerprint") != fp:
            if on_layout_change == "clear":
                mf.clear_manifest(out_dir)
            else:
                raise ValueError(
                    f"refusing to resume into {out_dir}: input layout changed "
                    f"(fingerprint {prev.get('input_fingerprint')} != {fp}); "
                    "pass on_layout_change='clear' to re-encode from scratch"
                )
    extra = {"input_fingerprint": fp}
    if size_col is not None:
        # recorded so later delete commits can account exact token mass
        # (delete_where reads which column n_tokens summed)
        extra["size_col"] = size_col
    # a RESUME must not blow away durable payload state the user added
    # after the first run — the schema rewrite below is unconditional
    extra.update(mf.durable_payload(prev))
    mf.write_schema(out_dir, _arrow_schema_of(df), df.schema.json(), extra=extra)
    _encode_splits(df, out_dir, sort_key, size_col, plans)
    mf.commit_snapshot(out_dir, "encode")
    return manifest_df(spark, out_dir)


# Input file bytes below which an encode reads through ``df.mapInArrow``
# even when ``_parquet_splits`` would give its splits: finding them costs
# ~20 ms in the driver (physical plan, FileScanRDD, footers), which a small
# input does not win back.  Measured at local[2], 4 vCPUs: one 0.15 MB
# token file encodes ~20 ms slower through the split source, one 1.1 MB
# token file ~50 ms faster; a flat 0.27 MB file ties, a 0.93 MB one is
# ~90 ms faster.
_SPLIT_SOURCE_MIN_BYTES = 1 << 20


def _pid_done(out_dir: str, seg, pid: int) -> bool:
    """Whether block ``pid`` is already encoded: its loose sidecar exists or
    a manifest segment holds it (``seg``: the segments' sorted pid array)."""
    import numpy as np

    i = int(np.searchsorted(seg, pid))
    return (i < len(seg) and int(seg[i]) == pid) or os.path.exists(
        mf.sidecar_path(out_dir, pid)
    )


def _read_split(paths: list[str]) -> pa.Table | None:
    """One Spark file split read with pyarrow, files in split order; None
    when it holds no rows (Spark hands ``mapInArrow`` no batch then).
    Single-threaded: threaded reads raised the peak RSS of a process
    encoding eight 4,500-doc splits from 191 to 244-249 MB."""
    import pyarrow.parquet as pq

    tbl = pa.concat_tables([pq.ParquetFile(p).read(use_threads=False) for p in paths])
    return tbl if tbl.num_rows else None


def _encode_splits(df: DataFrame, out_dir, sort_key, size_col, plans, pid_base: int = 0) -> None:
    """One input split → one block, id ``pid_base`` + the split's index
    (``pid_base`` offsets an append's band): the map-only encode and the
    append run this.  Skip-if-encoded is the per-split resume contract;
    pids whose sidecar was folded into a manifest segment (loose file
    deleted) count as encoded through the segment pid set computed once on
    the driver, which ships as a BROADCAST sorted int64 array (once per
    executor, a few MB at 10⁶ pids), not a closure-captured frozenset
    re-serialized with every task.

    Two task sources feed the one per-split body (resume check, then
    ``encode_block_row``, then ``emit_sidecar``):

    - a plain Parquet scan (``_parquet_splits``) of at least
      ``_SPLIT_SOURCE_MIN_BYTES``, encoded with a ``sort_key``: Spark's own
      file splits, read in the task with pyarrow
      — no JVM Parquet decode and no row-to-Arrow transfer into Python.
      The splits not yet encoded are dealt round-robin over
      ``min(splits, defaultParallelism)`` tasks of ``_task_map``'s
      ``spark.range`` source, so a resume reads only missing splits;
    - anything else: ``df.mapInArrow``, one task per split of ``df``.

    The sort is what makes the two sources write the same bytes: it lays
    the block's table out afresh, while an unsorted table keeps the layout
    its rows arrived in, and ``Table.nbytes`` (the sidecar's
    ``input_bytes``, the stripe size) follows that layout.  A pyarrow read
    keeps all-valid validity bitmaps and per-file chunks that Spark's
    Arrow stream drops (a 4,500-row split: 7,971,791 against 7,734,636
    bytes), and Spark cuts its batches by ``maxBytesPerBatch`` as well as
    by rows, so unsorted encodes stay on ``df.mapInArrow``."""
    from pyspark import TaskContext

    import numpy as np

    spark = df.sparkSession
    blocks_dir = os.path.join(out_dir, mf.BLOCKS_DIR)
    if mf.segment_catalog(out_dir):
        seg_arr = np.array(sorted(mf.segment_pids(out_dir)), dtype=np.int64)
    else:
        seg_arr = np.empty(0, dtype=np.int64)

    splits = None
    if sort_key is not None and sum(
        f[1] for f in _files_signature(df) if len(f) > 1
    ) >= _SPLIT_SOURCE_MIN_BYTES:
        splits = _parquet_splits(df)
    if splits is not None:
        work = [
            (pid_base + i, files) for i, files in enumerate(splits)
            if not _pid_done(out_dir, seg_arr, pid_base + i)
        ]
        if not work:
            return
    seg_bc = spark.sparkContext.broadcast(seg_arr)

    def block(pid: int, read):
        if _pid_done(out_dir, seg_bc.value, pid):
            return None  # resume: split already encoded
        held = [read()]
        if held[0] is None:
            return None
        path = os.path.join(blocks_dir, f"part-{pid:06d}.rgb")
        # popped into the call, so the argument is the table's only
        # reference and the sort in encode_block_row frees the unsorted
        # copy (a held table: 203-212 MB peak RSS against 191, same run)
        return emit_sidecar(out_dir, encode_block_row(
            held.pop(), path, pid, sort_key=sort_key, size_col=size_col, plans=plans
        ))

    if splits is None:
        def encoder(batches):
            def read():
                batch_list = list(batches)
                return pa.Table.from_batches(batch_list) if batch_list else None

            row = block(pid_base + TaskContext.get().partitionId(), read)
            if row is not None:
                yield row

        out = df.mapInArrow(encoder, mf.MANIFEST_SCHEMA)
    else:
        def encoder(batches):
            for batch in batches:
                for pid, files in zip(*(c.to_pylist() for c in batch.columns)):
                    row = block(pid, lambda files=files: _read_split(files))
                    if row is not None:
                        yield row

        out = _task_map(
            spark, {"pid": [p for p, _ in work], "files": [f for _, f in work]},
            encoder, mf.MANIFEST_SCHEMA,
        )
    out.write.mode("overwrite").format("noop").save()


def encode_table_sorted(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    num_partitions: int | None = None,
    size_col: str | None = None,
    plans: dict | None = None,
) -> DataFrame:
    """Range-partitioned, key-sorted encode: blocks carry DISJOINT key
    ranges, so manifest min/max prunes range predicates (``<``/``>=``/
    BETWEEN), not just the bloom's equality probes.  The clustered-layout
    option a scan-heavy workload wants (the analog of writing a table
    ordered by its query key so row-group stats actually bite — rugo
    surfaces exactly those per-row-group min/max for external engines,
    ``metadata.cpp:618-646``).  One shuffle; each output partition becomes
    one block via the map-only path.

    Determinism contract: Spark's own ``repartitionByRange`` seeds its
    boundary sample from the RDD id — two runs of the SAME query draw
    different boundaries, so a crash-resume would pair completed blocks
    with a re-run that assigns rows differently: silent row loss.  Instead
    the boundaries come from a seeded hash-uniform sample
    (``partitioning.range_boundaries``), are persisted to ``_plan.json``
    BEFORE any data moves, and rows route to task id == bucket id via
    murmur3 pre-images (``with_range_partition``) — bit-identical blocks on
    every run and every cluster size."""
    spark = df.sparkSession
    # require=True: every sorted dataset writes its range plan before any
    # data moves, so completed sidecars WITHOUT a plan mean the dataset was
    # written by a different path — raising here (before write_plan below)
    # keeps a mistaken sorted call from stamping a foreign dataset with a
    # range plan that would then block its legitimate resume
    resumed = mf.read_plan_checked(out_dir, require=True)
    if resumed is not None:
        if resumed.get("mode") != "range":
            raise ValueError(
                f"{out_dir} was written by a different encode path "
                f"(plan mode {resumed.get('mode')!r}); resume it with the same "
                "function or clear the dataset"
            )
        if resumed.get("key_col") != key_col:
            raise ValueError(
                f"refusing to resume {out_dir} with key_col={key_col!r}: the "
                f"dataset was range-planned on {resumed.get('key_col')!r}"
            )
        if num_partitions is not None and num_partitions != resumed.get("num_partitions"):
            raise ValueError(
                f"refusing to resume {out_dir} with num_partitions={num_partitions}: "
                f"the dataset was planned with {resumed.get('num_partitions')} "
                "(mixing layouts would duplicate or drop rows)"
            )
        n = int(resumed["num_partitions"])
        bounds = resumed["boundaries"]
    else:
        n = num_partitions or spark.sparkContext.defaultParallelism
        bounds = partitioning.range_boundaries(df, key_col, n)
        mf.write_plan(
            out_dir,
            {"mode": "range", "key_col": key_col, "num_partitions": n, "boundaries": bounds},
        )
    arranged = partitioning.with_range_partition(df, key_col, n, bounds)
    # the fingerprint keys on what partition ids ACTUALLY depend on: input
    # files + the range plan (explicit routing makes split-size conf and
    # defaultParallelism irrelevant — a different-sized cluster may resume)
    import hashlib

    fp = hashlib.sha1(
        json.dumps(
            {
                "files": _files_signature(df),
                "plan": _plan_signature(df),
                "range": {"key_col": key_col, "n": n, "boundaries": bounds},
            }
        ).encode()
    ).hexdigest()
    return encode_table_maponly(
        arranged, out_dir, sort_key=key_col, size_col=size_col, plans=plans, fingerprint=fp
    )


APPEND_BAND = mf.APPEND_BAND  # partition-id band reserved per append session


def _append_schema_ok(ds_schema, in_schema) -> bool:
    """Exact name/type equality, ONE-WAY nullability: an append whose column
    forbids nulls may land in a nullable dataset column, but an append that
    allows nulls into a non-null dataset column would break the dataset's
    own invariant — reject.  Applied recursively (arrays/structs/maps)."""

    def strip(node):
        if isinstance(node, dict):
            # metadata carries comments/provenance, not layout — two columns
            # with identical names/types must not be rejected over it
            return {
                k: strip(v)
                for k, v in node.items()
                if k not in ("nullable", "containsNull", "valueContainsNull", "metadata")
            }
        if isinstance(node, list):
            return [strip(v) for v in node]
        return node

    def nulls_ok(ds_node, in_node) -> bool:
        if isinstance(ds_node, dict) and isinstance(in_node, dict):
            for k in ("nullable", "containsNull", "valueContainsNull"):
                if in_node.get(k, False) and not ds_node.get(k, False) and k in ds_node:
                    return False
            # recurse only into keys strip() keeps: 'metadata' subtrees can
            # hold arbitrary user dicts/lists of differing shape, and the
            # documented contract says field metadata is ignored — recursing
            # there rejected schema-identical appends (ADVICE r4)
            return all(
                nulls_ok(ds_node.get(k), in_node.get(k))
                for k in ds_node
                if k != "metadata" and isinstance(ds_node.get(k), (dict, list))
            )
        if isinstance(ds_node, list) and isinstance(in_node, list):
            return len(ds_node) == len(in_node) and all(
                nulls_ok(a, b) for a, b in zip(ds_node, in_node)
            )
        return True

    return strip(ds_schema) == strip(in_schema) and nulls_ok(ds_schema, in_schema)


def append_table(
    df: DataFrame,
    out_dir: str,
    sort_key: str | None = None,
    size_col: str | None = None,
    plans: dict | None = None,
    consolidate: bool = False,
    reclaim_stale: bool = False,
    allow_new_columns: bool = False,
    _ride_delete_files: list[str] | None = None,
    _snapshot_op: str = "append",
    _fingerprint: str | None = None,
) -> DataFrame:
    """Append rows to an EXISTING encoded dataset (the Iceberg-append /
    lakehouse-ingest analog): each input split becomes one new block in a
    fresh partition-id band; every existing block, sidecar, bloom and stat
    is untouched, so readers see the old rows plus the new ones with no
    rewrite.

    Commit protocol (review-hardened, r4):

    - the append reserves the next free partition-id band ABOVE every
      completed block and every prior reservation, persisting the
      reservation (keyed by the input fingerprint, which includes local
      file size+mtime — an in-place overwrite of a same-named input is a
      NEW append, not a silent no-op) under ``_appends/`` before any data
      moves;
    - a crashed append re-runs with the SAME band and skips its completed
      partitions bit-identically;
    - readers (decode/manifest/stats/metadata_agg/format('rugo')/compact)
      see NOTHING of the band until the completion marker flips as the
      last step — old rows only, then old plus all new, never a torn
      middle (``manifest.scan_specs``);
    - a second append while another session's band is incomplete raises
      (single-writer: allocating around a crashed band would strand it,
      and sharing it would lose rows on the first session's resume).

    Schema must match the dataset exactly on names/types (field metadata
    ignored; nullability may only tighten) — unless ``allow_new_columns``:
    then the input may carry EXTRA nullable columns (add-column schema
    evolution, the Iceberg ``ADD COLUMN`` analog).  New columns are appended
    to the dataset schema tail at commit; blocks written before the column
    existed store a prefix of the union schema and decode the missing tail
    as all-NULL (``_decode_flat_block``), which is exactly the new column's
    value for pre-existing rows — so the widening-then-commit sequence is
    never observable as a torn state.  The schema widens BEFORE the
    completion marker flips (a crash between the two resumes to the same
    end state; ``reclaim_append`` restores the stashed pre-append schema).
    Dropping or retyping columns is never allowed.  Appending to a range-sorted
    dataset keeps per-block min/max pruning correct but breaks dataset-wide
    key disjointness — run ``compact_dataset(sort_key=...)`` afterwards to
    restore clustering (compaction also rewrites ids densely, reclaiming
    band space).

    Where a split is read follows ``encode_table_maponly``: a plain
    Parquet scan of at least 1 MB appended with a ``sort_key`` is read by
    the encode task itself (``_parquet_splits``); anything else — a
    smaller input, a filtered, projected or evolved frame (the
    logical-to-physical select above), a frame in memory, update's decoded
    source, or no ``sort_key`` — goes through ``df.mapInArrow``.

    Returns the manifest rows of THIS append's band."""
    spark = df.sparkSession
    if mf.rollback_mask(out_dir) is not None:
        raise ValueError(
            f"{out_dir} has an in-progress rollback (_rollback.json): finish "
            "it (re-run rollback_to_snapshot — cleanup is resumable) before "
            "appending; a new band allocated around condemned ids could "
            "collide with their deletion"
        )
    prev = mf.read_schema_payload(out_dir)
    existing = mf.completed_partitions(out_dir)
    if prev is None or not existing:
        raise ValueError(
            f"{out_dir} is not an existing encoded dataset — use encode_table/"
            "encode_table_maponly to create one before appending"
        )
    # fingerprint the CALLER's input before any canonicalizing select below:
    # a resume of a crashed evolving append arrives after the schema already
    # widened (new_names then resolves empty, no reorder happens), and the
    # marker lookup must still land on the crashed session's band.
    # _fingerprint: an UPDATE passes a state-bound fingerprint (its source
    # derives from the dataset; the plain plan hash can collide across
    # lifecycle states)
    fp = _fingerprint if _fingerprint is not None else _input_fingerprint(df)
    # column rename/drop evolution: incoming frames speak LOGICAL names —
    # map them onto the physical layout (dropped positions get all-null
    # placeholders: blocks are positional, the slot must stay) so the
    # block format and the schema check below operate purely physically.
    # Constraint exprs only ever reference columns whose logical name ==
    # physical name (rename/drop refuse otherwise), so the enforcement
    # pass below still resolves on the translated frame.
    from rugo_spark import evolution as evo

    _view = evo.column_view(prev)
    if _view:
        import pyspark.sql.functions as F
        from pyspark.sql.types import StructType as _ST

        _l2p, _ = evo.maps(_view)
        phys = _ST.fromJson(prev["spark_schema"])
        used, exprs = set(), []
        for e in _view:
            pn = e["name"]
            if e.get("dropped"):
                exprs.append(F.lit(None).cast(phys[pn].dataType).alias(pn))
                continue
            ln = evo.logical_name(e)
            if ln not in df.columns:
                raise ValueError(
                    f"append input lacks dataset column {ln!r} of {out_dir}"
                )
            exprs.append(F.col(ln).alias(pn))
            used.add(ln)
        _extra_in = [c for c in df.columns if c not in used]
        _taken = {e["name"] for e in _view}
        for c in _extra_in:
            if c in _taken:
                raise ValueError(
                    f"new column {c!r} collides with a historical column "
                    f"name of {out_dir} (physical names are permanent); "
                    "pick a fresh name"
                )
        df = df.select(*exprs, *[F.col(c) for c in _extra_in])
        if sort_key is not None:
            sort_key = _l2p.get(sort_key, sort_key)
        if size_col is not None:
            size_col = _l2p.get(size_col, size_col)
    ds_json = prev.get("spark_schema")
    in_json = json.loads(df.schema.json())
    ds_names = [f["name"] for f in ds_json.get("fields", [])]
    in_names = [f["name"] for f in in_json.get("fields", [])]
    new_names = [n for n in in_names if n not in ds_names]
    if new_names and allow_new_columns:
        missing_ds = [n for n in ds_names if n not in in_names]
        if missing_ds:
            raise ValueError(
                f"append schema evolution only ADDS columns: input lacks "
                f"dataset columns {missing_ds} of {out_dir}"
            )
        # canonical layout: dataset columns first (in dataset order), new
        # columns at the tail — blocks then store the union-schema prefix
        # invariant _decode_flat_block relies on
        df = df.select(*ds_names, *new_names)
        in_json = json.loads(df.schema.json())
        not_nullable = [
            f["name"] for f in in_json["fields"]
            if f["name"] in new_names and not f.get("nullable", True)
        ]
        if not_nullable:
            raise ValueError(
                f"new columns must be nullable (pre-existing rows read them "
                f"as NULL): {not_nullable}"
            )
        prefix = dict(in_json, fields=in_json["fields"][: len(ds_names)])
        if not _append_schema_ok(ds_json, prefix):
            raise ValueError(
                f"append schema mismatch for {out_dir} on EXISTING columns: "
                f"dataset has {json.dumps(ds_json)[:200]}…, append input has "
                f"{json.dumps(prefix)[:200]}… (existing names/types must "
                "match exactly; only NEW nullable columns may be added)"
            )
    else:
        new_names = []
        if not _append_schema_ok(ds_json, in_json):
            raise ValueError(
                f"append schema mismatch for {out_dir}: dataset has "
                f"{json.dumps(ds_json)[:200]}…, append input has "
                f"{df.schema.json()[:200]}… (names/types must match exactly; "
                "the append may be stricter on nullability, never looser; "
                "pass allow_new_columns=True to add new nullable columns)"
            )
    # CHECK constraints: one early-exit pass over the incoming rows,
    # BEFORE any band is reserved (a violation leaves nothing to reclaim).
    # SQL CHECK semantics: only rows where a constraint is FALSE violate
    # (NULL passes).  Merge and update check their source themselves,
    # before their mask scan writes a delete file.
    if _snapshot_op == "append":
        _enforce_constraints(df, out_dir)
    appends_dir = os.path.join(out_dir, mf.APPENDS_DIR)
    os.makedirs(appends_dir, exist_ok=True)
    marker = os.path.join(appends_dir, f"append-{fp[:16]}.json")
    reservations = mf.append_reservations(out_dir)
    mine = next((m for m in reservations if m["_path"] == marker), None)
    if mine is not None:
        base = int(mine["base"])
        if base < 0:
            raise ValueError(
                f"corrupt append marker {marker}; remove it (and any "
                "sidecars/blocks in its band) before re-appending"
            )
    else:
        # single-writer gate: a DIFFERENT append session that reserved a band
        # and never completed is either still running or crashed mid-write —
        # allocating around it would strand its partial band forever (and a
        # zero-progress crash would let two sessions share a band: silent
        # row loss on the first session's resume).  Fail loudly instead.
        stale = [m for m in reservations if not m["complete"]]
        if stale and reclaim_stale:
            # roll back every crashed foreign session (band never visible,
            # so this is exactly the pre-append state), then proceed; the
            # completed/reservation views are re-read so band allocation
            # does not skip over the just-reclaimed ids
            reclaim_append(out_dir)
            reservations = mf.append_reservations(out_dir)
            stale = [m for m in reservations if not m["complete"]]
            existing = mf.completed_partitions(out_dir)
        if stale:
            raise ValueError(
                f"{out_dir} has {len(stale)} incomplete append session(s) "
                f"(e.g. band {stale[0].get('base')}, fingerprint "
                f"{str(stale[0].get('fingerprint'))[:16]}…): resume that append "
                "with its original input, or delete its marker under "
                f"{mf.APPENDS_DIR}/ plus any part-* sidecars/blocks in its "
                "band, then retry"
            )
        max_pid = max(
            [int(r["partition_id"]) for r in existing]
            + [int(m["base"]) + mf.APPEND_BAND - 1 for m in reservations]
        )
        base = (max_pid // APPEND_BAND + 1) * APPEND_BAND
        if base + APPEND_BAND > 2**31:
            raise ValueError(
                f"append band {base} would overflow the manifest's int32 "
                "partition ids (~2000 append sessions): compact the dataset "
                "(compact_dataset rewrites ids densely and clears append "
                "markers) to reclaim the id space"
            )
        reservation = {"base": base, "fingerprint": fp}
        if _ride_delete_files:
            # a MERGE's delete file rides this marker: while incomplete,
            # reclaim_append drops the file with the band; once complete,
            # the flip publishes deletions and new rows in the same rename
            reservation["delete_files"] = sorted(_ride_delete_files)
        if new_names:
            # stash the pre-append schema so reclaim_append can restore it
            # (the widening happens before the completion flip; rollback of
            # the band must also roll back the schema)
            reservation["schema_before"] = {
                k: v for k, v in prev.items() if not k.startswith("_")
            }
        _atomic_write(marker, json.dumps(reservation).encode())
    _encode_splits(df, out_dir, sort_key, size_col, plans, pid_base=base)
    if new_names:
        # widen the dataset schema to the union, atomically, BEFORE the
        # completion flip.  In the crash window between the two, readers see
        # the widened schema with the band still invisible — which reads
        # identically to the committed state minus the new rows, because the
        # new column's value for every pre-existing row IS NULL.  A resume
        # re-runs this (idempotent); reclaim restores the stashed schema.
        import base64 as _b64

        cur = mf.read_schema_payload(out_dir)
        cur_names = [f["name"] for f in cur["spark_schema"]["fields"]]
        add = [n for n in new_names if n not in cur_names]
        if add:
            ds_arrow = pa.ipc.read_schema(
                pa.py_buffer(_b64.b64decode(cur["arrow_schema_b64"]))
            )
            in_arrow = _arrow_schema_of(df)
            union_arrow = pa.schema(
                list(ds_arrow) + [in_arrow.field(n) for n in add]
            )
            union_spark = dict(
                cur["spark_schema"],
                fields=cur["spark_schema"]["fields"]
                + [f for f in in_json["fields"] if f["name"] in add],
            )
            extras = {
                k: v
                for k, v in cur.items()
                if k not in ("arrow_schema_b64", "spark_schema")
            }
            if extras.get("column_view") is not None:
                # the logical view must cover every physical position
                extras["column_view"] = list(extras["column_view"]) + [
                    {"name": n} for n in add
                ]
            mf.write_schema(out_dir, union_arrow, json.dumps(union_spark), extra=extras)
    # commit: flip the completion marker LAST — readers (visible_partitions)
    # surface the whole band atomically, never a torn prefix.  Delete files
    # riding the marker UNION with any already on it: a resumed merge whose
    # mask re-computation came up empty (its own file already committed)
    # must not drop the reference — that would resurface the deleted rows
    ride = sorted(
        set(_ride_delete_files or [])
        | set((mine.get("delete_files") if mine else None) or [])
    )
    flip = {"base": base, "fingerprint": fp, "complete": True}
    if ride:
        flip["delete_files"] = ride
    _atomic_write(marker, json.dumps(flip).encode())
    mf.commit_snapshot(
        out_dir, _snapshot_op, extra={"band": base, "fingerprint": fp[:16]}
    )
    if consolidate:
        # append-commit is the natural consolidation point (VERDICT r4
        # item 2): fold every loose sidecar — the whole just-committed band
        # included — into a parquet manifest segment, AFTER the marker flip
        # so a crash here costs nothing but a later re-consolidation
        mf.consolidate_manifest(out_dir)
    import pyspark.sql.functions as F

    return manifest_df(spark, out_dir).filter(
        (F.col("partition_id") >= base) & (F.col("partition_id") < base + APPEND_BAND)
    )


def reclaim_append(out_dir: str, fingerprint: str | None = None) -> dict:
    """Roll back incomplete (crashed) append session(s): delete every
    sidecar and block the band wrote, then clear its marker — the dataset
    returns to exactly its pre-append state and new appends may proceed
    (VERDICT r4 item 6: previously a crashed foreign append blocked all
    appends until manual marker surgery).

    Safe by construction: an incomplete band was NEVER reader-visible (the
    completion marker only flips after the last partition), and the marker
    is removed LAST, so a crash mid-reclaim leaves the band still marked
    incomplete — still invisible, still reclaimable.  Consolidation never
    folds incomplete bands, so every band artifact is a loose file.

    Single-writer discipline applies: reclaiming a session that is still
    RUNNING deletes its in-flight work (it will fail or re-encode).  The
    alternative to reclaim is ADOPTION — re-run ``append_table`` with the
    session's original input and it resumes the same band bit-identically.

    ``fingerprint``: reclaim only sessions whose fingerprint starts with
    this prefix (as printed by the single-writer error); None = all
    incomplete sessions.  Returns ``{"reclaimed": [...],
    "sidecars_deleted": n, "blocks_deleted": n}``."""
    stale = [m for m in mf.append_reservations(out_dir) if not m["complete"]]
    if fingerprint is not None:
        stale = [m for m in stale if str(m.get("fingerprint", "")).startswith(fingerprint)]
        if not stale:
            raise ValueError(
                f"no incomplete append session in {out_dir} matches "
                f"fingerprint prefix {fingerprint!r}"
            )
    corrupt = [m for m in stale if int(m.get("base", -1)) < 0]
    if corrupt:
        raise ValueError(
            f"cannot reclaim {len(corrupt)} append marker(s) with unreadable "
            f"band metadata (e.g. {corrupt[0]['_path']}): the band range is "
            "unknown, so its sidecars/blocks cannot be safely identified — "
            "inspect and remove the marker and any band artifacts manually"
        )
    result = {"reclaimed": [], "sidecars_deleted": 0, "blocks_deleted": 0}
    mdir = os.path.join(out_dir, mf.MANIFEST_DIR)
    bdir = os.path.join(out_dir, mf.BLOCKS_DIR)
    for m in stale:
        base = int(m["base"])
        hi = base + mf.APPEND_BAND

        def _pid_of(name: str, suffix: str) -> int:
            try:
                return int(name[len("part-"):-len(suffix)])
            except ValueError:
                return -1

        if os.path.isdir(mdir):
            for name in os.listdir(mdir):
                if name.startswith("part-") and name.endswith(".json") and \
                        base <= _pid_of(name, ".json") < hi:
                    os.remove(os.path.join(mdir, name))
                    result["sidecars_deleted"] += 1
        if os.path.isdir(bdir):
            for name in os.listdir(bdir):
                if name.startswith("part-") and name.endswith(".rgb") and \
                        base <= _pid_of(name, ".rgb") < hi:
                    os.remove(os.path.join(bdir, name))
                    result["blocks_deleted"] += 1
        sb = m.get("schema_before")
        if sb:
            # the crashed evolving append may have widened the schema before
            # dying — restore the stashed pre-append payload so the new
            # column does not survive as a phantom all-NULL field
            mf.write_schema_payload(out_dir, sb)
        for name in m.get("delete_files") or []:
            # a crashed MERGE's delete file rides the (incomplete) marker —
            # it was never visible; drop it with the band
            from rugo_spark import deletes as dl

            try:
                os.remove(os.path.join(out_dir, dl.DELETES_DIR, name))
            except OSError:
                pass
        os.remove(m["_path"])  # LAST: crash above leaves the band reclaimable
        result["reclaimed"].append({"base": base, "fingerprint": m.get("fingerprint")})
    return result


def _pid_of_block_path(path: str) -> int:
    """partition id from a block file path (``…/part-<pid>.rgb``)."""
    name = os.path.basename(path)
    try:
        return int(name[len("part-"):-len(".rgb")])
    except ValueError:
        return -1


def _predicate_positions(batches, filters, offset_base: int = 0):
    """Evaluate ANDed ``(col, op, value)`` triples over a stream of
    RecordBatches (decoded WITHOUT stripe skipping) → block-absolute row
    positions of matching rows, plus total rows seen.  NULL comparisons are
    non-matches, matching Spark filter semantics."""
    import numpy as np
    import pyarrow.compute as pc

    _OPS = {
        "=": pc.equal, "<": pc.less, "<=": pc.less_equal,
        ">": pc.greater, ">=": pc.greater_equal,
    }
    hits = []
    off = offset_base
    for b in batches:
        m = None
        for c, op, v in filters:
            col = b.column(b.schema.get_field_index(c))
            if op == "isnull":
                cur = pc.is_null(col)
            elif op == "notnull":
                cur = pc.is_valid(col)
            elif op == "in":
                try:
                    vset = pa.array(list(v), type=col.type)
                except (pa.ArrowInvalid, pa.ArrowTypeError):
                    vset = pa.array(list(v))
                cur = pc.fill_null(pc.is_in(col, value_set=vset), False)
            else:
                try:
                    scal = pa.scalar(v, type=col.type)
                except (pa.ArrowInvalid, pa.ArrowTypeError):
                    scal = pa.scalar(v)
                cur = pc.fill_null(_OPS[op](col, scal), False)
            m = cur if m is None else pc.and_(m, cur)
        idx = np.nonzero(m.to_numpy(zero_copy_only=False))[0]
        if len(idx):
            hits.append((idx + off).astype(np.uint32))
        off += b.num_rows
    if hits:
        return np.concatenate(hits), off - offset_base
    return np.empty(0, dtype=np.uint32), off - offset_base


# one delete-file entry (``deletes.mask_entry``) as a DML scan row
_DELETE_ENTRY_SCHEMA = from_arrow_schema(pa.schema(
    [(c, pa.int64()) for c in ("pid", "n_rows", "n_deleted", "deleted_tokens")]
    + [("enc", pa.string()), ("data", pa.string())]
))


# manifest fields a DML candidate scan needs: block-skip stats + bloom
_CANDIDATE_COLS = ["partition_id", "block_path", "n_rows", "codecs", "bloom_col", "bloom"]

_PREDICATE_OPS = ("=", "<", "<=", ">", ">=", "in", "isnull", "notnull")


def _check_predicate(filters: list[tuple], columns, what: str) -> None:
    """Refuse a DML predicate on an unknown column or with an op the mask
    scan cannot evaluate."""
    for c, op, _v in filters:
        if c not in columns:
            raise ValueError(f"unknown column {c!r} in {what} predicate")
        if op not in _PREDICATE_OPS:
            raise ValueError(f"unsupported {what} predicate op {op!r}")


def _filters_json(filters: list[tuple]) -> list[list]:
    """JSON-safe rendering of a predicate for every serialization point
    (fingerprint, delete file, snapshot entry) — retention deletes carry
    date/timestamp/Decimal values, which json.dumps rejects raw.  The
    EVALUATION still uses the raw values (pa.scalar typed to the column)."""
    return [
        [c, op, v if isinstance(v, (int, float, str, bool, type(None))) else str(v)]
        for c, op, v in filters
    ]


def _outside_band(base: int | None) -> list | None:
    """Keep ranges excluding a DML's own append band (None: no restriction)."""
    if base is None:
        return None
    return [[0, base], [base + APPEND_BAND, 1 << 62]]


def _own_band(out_dir: str, fp: str) -> int | None:
    """Base of the append band an UPDATE/MERGE with fingerprint ``fp``
    already reserved (a resumed or re-run call), else None.  Its rows are
    that operation's replacements: they match by construction, and
    re-masking them (under the same deterministic file name) would
    overwrite the original masks and resurface the replaced rows."""
    return next(
        (
            int(m["base"])
            for m in mf.append_reservations(out_dir)
            if m.get("fingerprint") == fp and int(m.get("base", -1)) >= 0
        ),
        None,
    )


def _candidate_scan(
    spark: SparkSession,
    out_dir: str,
    filters: list[tuple],
    exclude_base: int | None,
    emit,
    out_schema,
):
    """The mask scan of every DML (``delete_where``, ``delete_keys``,
    ``update_where``, ``merge_table``): min/max/bloom-pruned candidate
    blocks → ONE read of the predicate (+ recorded ``size_col``) columns
    per block, with NO stripe skipping (positions are block-absolute) → the
    positions of LIVE rows matching the ANDed ``filters``, already-deleted
    positions subtracted so repeats are no-ops and files stay disjoint.

    ``emit(pid, tbl, pos, n_rows, sz)`` turns one block's matches (sorted
    uint32 ``pos``; ``sz`` their ``size_col`` values as float64, 0 where
    null or without a size column) into RecordBatches of ``out_schema``
    (a ``StructType``) inside the same scan, so only what the caller keeps
    leaves it.  A small scan (``_in_driver`` over the scanned columns)
    runs right here, with the prior masks passed in, and returns a
    LocalRelation; a larger one is one ``mapInArrow`` pass on executors.
    ``exclude_base``: the caller's own append band (:func:`_own_band`).
    Returns ``(DataFrame or None when no block is a candidate, sorted
    candidate pids)``."""
    from pyspark.sql.types import StructType

    from rugo_spark import deletes as dl

    arrow_schema, spark_schema_json = mf.read_schema(out_dir)
    filters = _normalize_temporal_filters(StructType.fromJson(spark_schema_json), filters)
    cands, _ = plan(out_dir, _CANDIDATE_COLS, filters, _outside_band(exclude_base))
    pids = sorted(int(r["partition_id"]) for r in cands)
    if not cands:
        return None, pids
    prior_all = dl.load_raw(out_dir, dl.visible_delete_files(out_dir))
    schema_bytes = arrow_schema.serialize().to_pybytes()
    size_col = (mf.read_schema_payload(out_dir) or {}).get("size_col")
    tok_col = size_col if size_col in arrow_schema.names else None
    decode_cols = sorted({c for c, _, _ in filters} | ({tok_col} if tok_col else set()))
    src = pa.RecordBatch.from_arrays(
        [pa.array([int(r["partition_id"]) for r in cands], pa.int64()),
         pa.array([r["block_path"] for r in cands], pa.string())],
        names=["pid", "block_path"],
    )

    def scan(batches, prior_masks):
        import numpy as np
        import pyarrow.compute as pc

        schema = pa.ipc.read_schema(pa.py_buffer(schema_bytes))
        for batch in batches:
            for pid, path in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                tbl = pa.Table.from_batches(
                    list(read_block_file(path, schema, decode_cols, None))
                )
                pos, n_rows = _predicate_positions(tbl.to_batches(), filters)
                prior = prior_masks.get(int(pid))
                if prior is not None and len(pos):
                    pos = np.setdiff1d(pos, dl.union_positions(prior)).astype(np.uint32)
                if not len(pos):
                    continue
                sz = (
                    np.zeros(len(pos))
                    if tok_col is None
                    else pc.fill_null(
                        pc.cast(tbl.column(tok_col).take(pos), pa.float64()), 0.0
                    ).to_numpy()
                )
                yield from emit(int(pid), tbl, pos, n_rows, sz)

    if _in_driver(cands, decode_cols, out_schema):
        return _arrow_df(spark, scan([src], prior_all), out_schema), pids
    prior_bc = spark.sparkContext.broadcast(prior_all)
    return _task_map(
        spark, src, lambda it: scan(it, prior_bc.value), out_schema,
        [_raw_bytes(r, decode_cols) for r in cands],
    ), pids


def _entry_batch(pid, tbl, pos, n_rows, sz):
    """``_candidate_scan`` emit of the predicate DMLs: one block's matches
    folded to its delete-file entry in the scan task."""
    from rugo_spark import deletes as dl

    yield pa.RecordBatch.from_pylist([dl.mask_entry(pid, pos, n_rows, int(sz.sum()))])


def _commit_delete(out_dir: str, name: str, entries: list[dict], predicate: list) -> dict:
    """The commit of ``delete_where`` / ``delete_keys`` (caller holds the
    writer lock): write delete file ``name``, publish it in ONE snapshot
    entry, then drop orphaned delete files.  Returns ``{"n_deleted",
    "n_blocks", "delete_file", "snapshot"}``."""
    from rugo_spark import deletes as dl

    if not entries:
        return {"n_deleted": 0, "n_blocks": 0, "delete_file": None, "snapshot": None}
    dl.write_delete_file(out_dir, name, entries, predicate)
    snap = mf.commit_snapshot(
        out_dir, "delete", extra={"predicate": predicate}, new_delete_files=[name]
    )
    dl.gc_orphans(out_dir)
    return {
        "n_deleted": sum(e["n_deleted"] for e in entries),
        "n_blocks": len(entries),
        "delete_file": name,
        "snapshot": snap["id"] if snap else None,
    }


def delete_where(
    spark: SparkSession,
    out_dir: str,
    filters: list[tuple],
) -> dict:
    """Row-level DELETE (the Iceberg position-delete / Delta
    deletion-vector analog): mark every row matching the ANDed
    ``(col, op, value)`` triples deleted, WITHOUT rewriting any block.

    Plan-prune first — blocks whose min/max/bloom rule out the predicate
    are never opened (a retention delete on a range-sorted key touches only
    the matching blocks; their rows fold to a kilobyte ``"all"`` entry).
    Surviving candidates decode ONLY the predicate columns (plus the
    recorded ``size_col`` for exact token accounting) — in this process
    when those columns are at most one stripe of raw Arrow, else in one
    mapInArrow pass (``_candidate_scan``) — emit per-block position sets,
    and the driver commits ONE delete file + snapshot entry.
    Already-deleted positions are subtracted so repeated deletes are no-ops
    and per-file counts stay exact.

    Readers apply masks at decode; ``compact_dataset`` physically purges
    them; ``rollback_to_snapshot`` past the delete un-deletes.  Commit is
    single-writer (``manifest.writer_lock``) to keep concurrent delete
    commits from double-counting overlaps.  Returns ``{"n_deleted",
    "n_blocks", "delete_file", "snapshot"}``."""
    import hashlib

    from rugo_spark import deletes as dl
    from rugo_spark import evolution as evo

    if not filters:
        raise ValueError("delete_where requires at least one (col, op, value) filter")
    arrow_schema, _ = mf.read_schema(out_dir)
    _view = evo.column_view(mf.read_schema_payload(out_dir))
    if _view:
        filters = evo.translate_filters(filters, evo.maps(_view)[0])
    _check_predicate(filters, arrow_schema.names, "delete")
    filters_json = _filters_json(filters)
    with mf.writer_lock(out_dir):
        prior_files = dl.visible_delete_files(out_dir)
        scan, pids = _candidate_scan(
            spark, out_dir, filters, None, _entry_batch, _DELETE_ENTRY_SCHEMA
        )
        entries = [r.asDict() for r in scan.collect()] if scan is not None else []
        fp = hashlib.sha1(
            json.dumps(
                {
                    "predicate": filters_json,
                    "prior": prior_files,
                    "pids": pids,
                }
            ).encode()
        ).hexdigest()
        return _commit_delete(out_dir, f"delete-{fp[:16]}.json", entries, filters_json)


def set_constraint(out_dir: str, name: str, expr: str) -> dict:
    """Register a CHECK constraint (the Delta ``ALTER TABLE … ADD
    CONSTRAINT`` analog): a SQL boolean expression every FUTURE write must
    satisfy — enforced at the single write choke-point (``append_table``,
    which merge/update also route through) against the incoming rows only,
    so the check costs one pass over the WRITE, never the table.  The
    expression is validated against the current schema here; existing rows
    are NOT retro-checked (same as Delta).  Returns the constraint map."""
    import pyspark.sql.functions as F

    payload = mf.read_schema_payload(out_dir)
    if payload is None:
        raise ValueError(f"{out_dir} is not an encoded dataset")
    # rename/drop evolution invariant: constraint exprs only ever reference
    # columns whose logical name == physical name — enforcement runs on the
    # physically-translated append frame, where a renamed logical name
    # would not resolve.  (rename/drop symmetrically refuse on columns a
    # constraint references.)
    from rugo_spark import evolution as evo

    _view = evo.column_view(payload)
    logical_schema = None
    if _view:
        _l2p, _ = evo.maps(_view)
        renamed = sorted(ln for ln, pn in _l2p.items() if ln != pn)
        offenders = [ln for ln in renamed if evo._identifier_in(expr, ln)]
        if offenders:
            raise ValueError(
                f"constraint {name!r} references renamed column(s) "
                f"{offenders}; constraints may only reference columns under "
                "their original (physical) names — rewrite the dataset "
                "(compact/zorder flattens the rename) to constrain these"
            )
        by_phys = {
            f["name"]: f for f in payload["spark_schema"]["fields"]
        }
        logical_schema = {
            "type": "struct",
            "fields": [
                dict(by_phys[pn], name=ln) for ln, pn in sorted(_l2p.items())
            ],
        }
    # fail fast on typos: the expression must parse and reference only
    # dataset columns (resolution happens against an empty frame)
    from pyspark.sql import SparkSession as _SS

    spark = _SS.getActiveSession()
    if spark is not None:
        from pyspark.sql.types import StructType

        probe = spark.createDataFrame(
            [], StructType.fromJson(logical_schema or payload["spark_schema"])
        )
        try:
            probe.filter(F.expr(expr)).schema
        except Exception as e:  # noqa: BLE001 — surface the parser's message
            raise ValueError(f"constraint {name!r} does not resolve: {e}") from e
    cons = dict(payload.get("constraints") or {})
    cons[name] = expr
    payload["constraints"] = cons
    mf.write_schema_payload(out_dir, payload)
    return cons


def drop_constraint(out_dir: str, name: str) -> dict:
    payload = mf.read_schema_payload(out_dir) or {}
    cons = dict(payload.get("constraints") or {})
    if name not in cons:
        raise ValueError(
            f"no constraint {name!r} on {out_dir}; have {sorted(cons)}"
        )
    del cons[name]
    payload["constraints"] = cons
    mf.write_schema_payload(out_dir, payload)
    return cons


def _enforce_constraints(df: DataFrame, out_dir: str) -> None:
    """One early-exit pass over the incoming rows: ANY constraint violation
    aborts the write BEFORE a band is reserved (nothing to reclaim)."""
    import pyspark.sql.functions as F

    cons = (mf.read_schema_payload(out_dir) or {}).get("constraints") or {}
    if not cons:
        return
    names = sorted(cons)
    # one combined filter + limit(1): Spark stops at the first offender
    viol = df.filter(
        ~F.expr(" AND ".join(f"({cons[n]})" for n in names))
    ).limit(1).collect()
    if viol:
        row = viol[0].asDict()
        shown = {k: (str(v)[:80] if v is not None else None) for k, v in row.items()}
        raise ValueError(
            f"write to {out_dir} violates CHECK constraint(s) {names}: "
            f"first offending row {shown}"
        )


def _key_mask_entries(
    spark: SparkSession,
    out_dir: str,
    df: DataFrame,
    key_col: str,
    exclude_base: int | None = None,
) -> list[dict]:
    """Mask entries for the LIVE rows of ``out_dir`` whose ``key_col``
    value appears in ``df`` — the delete side of ``merge_table`` and
    ``delete_keys``.  Fully distributed: :func:`_candidate_scan`, with the
    incoming key bounds as its predicate, streams ``(pid, n_rows, pos, k,
    sz)`` rows; an inner join against the incoming keys (Catalyst picks
    broadcast vs shuffle — the incoming side of an upsert is usually small)
    keeps the matches; one ``applyInArrow`` per pid folds them to mask
    entries.  Only the kilobyte entries ever reach the driver."""
    import numpy as np
    import pyarrow.compute as pc
    import pyspark.sql.functions as F
    from pyspark.sql.types import StructType

    from rugo_spark import deletes as dl
    from rugo_spark import evolution as evo

    payload_schema = mf.read_schema_payload(out_dir) or {}
    ds_json = payload_schema.get("spark_schema") or {}
    # rename evolution: ``key_col`` names the column in the CALLER's frame
    # (logical); the dataset side scans under the physical name
    _view = evo.column_view(payload_schema)
    ds_key = evo.maps(_view)[0].get(key_col, key_col) if _view else key_col
    key_field = next(
        (f for f in ds_json.get("fields", []) if f["name"] == ds_key), None
    )
    if key_field is None or not isinstance(key_field.get("type"), str):
        raise ValueError(
            f"merge key {key_col!r} must be an atomic dataset column "
            f"(string/numeric/date/timestamp), got "
            f"{None if key_field is None else key_field.get('type')!r}"
        )
    bounds = df.agg(
        F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
    ).first()
    if bounds["lo"] is None:
        return []

    def emit(pid, tbl, pos, n_rows, sz):
        idx = pa.array(pos, type=pa.int64())
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.full(len(pos), pid, dtype=np.int64)),
                pa.array(np.full(len(pos), n_rows, dtype=np.int64)),
                idx,
                pc.take(tbl.column(ds_key).combine_chunks(), idx),
                pa.array(sz),
            ],
            names=["pid", "n_rows", "pos", "k", "sz"],
        )

    scan_schema = StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": "pid", "type": "long", "nullable": False, "metadata": {}},
                {"name": "n_rows", "type": "long", "nullable": False, "metadata": {}},
                {"name": "pos", "type": "long", "nullable": False, "metadata": {}},
                dict(key_field, name="k", metadata={}),
                {"name": "sz", "type": "double", "nullable": False, "metadata": {}},
            ],
        }
    )
    scan, _ = _candidate_scan(
        spark, out_dir, [(ds_key, ">=", bounds["lo"]), (ds_key, "<=", bounds["hi"])],
        exclude_base, emit, scan_schema,
    )
    if scan is None:
        return []
    keys = df.select(F.col(key_col).alias("k")).distinct()

    def fold(tbl: pa.Table) -> pa.Table:
        pos = np.sort(
            tbl.column("pos").to_numpy(zero_copy_only=False).astype(np.uint32)
        )
        return pa.Table.from_pylist([
            dl.mask_entry(
                tbl.column("pid")[0].as_py(), pos, tbl.column("n_rows")[0].as_py(),
                int(tbl.column("sz").to_numpy(zero_copy_only=False).sum()),
            )
        ])

    return [
        r.asDict()
        for r in scan.join(keys, "k", "inner")
        .groupBy("pid")
        .applyInArrow(fold, _DELETE_ENTRY_SCHEMA)
        .collect()
    ]


def delete_keys(
    spark: SparkSession,
    out_dir: str,
    key_col: str,
    keys_df: DataFrame,
) -> dict:
    """Row-level DELETE by key LIST (the GDPR / takedown shape: "remove
    these N document ids from the corpus"): every live row whose
    ``key_col`` value appears in ``keys_df``'s first column is
    position-deleted — pure metadata, no block rewritten, same mask files
    and read-side behavior as ``delete_where``.

    The key match is the MERGE's distributed kernel
    (:func:`_key_mask_entries` over the DML mask scan
    :func:`_candidate_scan`): min/max-pruned key-column scan joined against
    the key set, per-block masks folded executor-side — so a 10⁶-id
    takedown against a 100-TB corpus reads one column of the candidate
    blocks and commits kilobytes.  Idempotent: already-deleted positions
    are subtracted, so re-running (or overlapping a prior predicate delete)
    never double-counts.  Returns ``{"n_deleted", "n_blocks",
    "delete_file", "snapshot"}``."""
    import hashlib

    import pyspark.sql.functions as F

    from rugo_spark import deletes as dl
    from rugo_spark import evolution as evo

    arrow_schema, _ = mf.read_schema(out_dir)
    _view = evo.column_view(mf.read_schema_payload(out_dir))
    if _view:
        _l2p, _ = evo.maps(_view)
        if key_col not in _l2p:
            raise ValueError(
                f"unknown delete key {key_col!r} for {out_dir}; columns are "
                f"{sorted(_l2p)}"
            )
        key_col = _l2p[key_col]
    if key_col not in arrow_schema.names:
        raise ValueError(f"unknown delete key {key_col!r} for {out_dir}")
    src = keys_df.select(F.col(keys_df.columns[0]).alias(key_col)).distinct()
    with mf.writer_lock(out_dir):
        entries = _key_mask_entries(spark, out_dir, src, key_col)
        # deterministic name: prior files + touched pids + the entry content
        # (the key SET itself may be huge; its effect — the masks — is the
        # identity that matters for resume overwrites)
        fp = hashlib.sha1(
            json.dumps({
                "prior": dl.visible_delete_files(out_dir),
                "entries": [[e["pid"], e["n_deleted"], e["enc"], e["data"]]
                            for e in sorted(entries, key=lambda e: e["pid"])],
            }).encode()
        ).hexdigest()
        return _commit_delete(
            out_dir, f"delete-keys-{fp[:16]}.json", entries, ["keys", key_col]
        )


def update_where(
    spark: SparkSession,
    out_dir: str,
    filters: list[tuple],
    assignments: dict[str, str],
) -> dict:
    """UPDATE … SET … WHERE (completing the DML triad with
    ``delete_where`` and ``merge_table``): decode the matched rows
    (block-pruned), apply the SQL-expression ``assignments``, and commit —
    matched originals position-deleted, transformed replacements appended,
    both published by ONE atomic marker-flip (the delete file rides the
    band's marker, exactly the merge protocol).

    SQL re-run semantics, not idempotence: running the same UPDATE twice
    applies the assignments twice (the first run's replacement rows match
    the predicate again and are updated again) — same as Delta/Spark SQL.
    A crash before the flip leaves nothing visible; ``reclaim_append``
    rolls the band and its riding delete file back.

    ``assignments``: ``{column: sql_expression}``; expressions may
    reference any dataset column (``{"o_totalprice": "o_totalprice * 1.1"}``).
    New columns are not allowed (use append-evolution for that).

    Returns ``{"n_updated", "delete_file", "snapshot"}``."""
    import pyspark.sql.functions as F

    from rugo_spark import deletes as dl

    if not filters:
        raise ValueError("update_where requires at least one (col, op, value) filter")
    if not assignments:
        raise ValueError("update_where requires at least one column assignment")
    arrow_schema, _ = mf.read_schema(out_dir)
    payload_schema = mf.read_schema_payload(out_dir) or {}
    # rename/drop evolution: the UPDATE runs in LOGICAL terms end-to-end
    # (decode_table + SQL assignments), translating to physical only for
    # the mask kernel, which scans raw blocks
    from rugo_spark import evolution as evo

    _view = evo.column_view(payload_schema)
    if _view:
        _l2p, _ = evo.maps(_view)
        valid = set(_l2p)
        logical_order = [
            evo.logical_name(e) for e in _view if not e.get("dropped")
        ]
        filters_phys = evo.translate_filters(filters, _l2p)
    else:
        valid = set(arrow_schema.names)
        logical_order = list(arrow_schema.names)
        filters_phys = filters
    _check_predicate(filters, valid, "update")
    bad = [c for c in assignments if c not in valid]
    if bad:
        raise ValueError(
            f"unknown assignment columns {bad}; UPDATE cannot add columns "
            "(use append_table(..., allow_new_columns=True) to evolve)"
        )
    size_col = payload_schema.get("size_col")
    with mf.writer_lock(out_dir):
        # matched rows, transformed — the append side.  Decoded under the
        # lock so the source snapshot matches the masks computed below.
        src, small = _decode(spark, out_dir, filters=filters)
        for c, expr in assignments.items():
            src = src.withColumn(c, F.expr(expr).cast(dict(src.dtypes)[c]))
        src = src.select(*logical_order)  # dataset order, logical names
        _enforce_constraints(src, out_dir)
        # the source derives FROM the dataset, so the resume fingerprint
        # must pin the lifecycle state it was decoded from: if another
        # commit (a delete, another update) lands between a crash and the
        # resume, the plan string alone can match while the source ROWS
        # differ — adopting the stale band would mix two source versions.
        # Binding the visible delete files + snapshot tip makes such a
        # resume read as a foreign band (loud single-writer error →
        # reclaim), never a silent mix.
        import hashlib

        log = mf.snapshot_log(out_dir, strict=False)
        # content=False: the source is decode(out_dir) under this writer
        # lock, i.e. a pure function of (tip state, deletes, filters,
        # assignments) — all hashed here.  Binding the FULL tip entry
        # (ranges/rows/tokens/bytes/ts), not just its id, keeps a
        # rollback-then-recommit from reading as the same state (strictly
        # stronger than the previous id binding) while skipping the content
        # pass that re-executed the whole source decode.
        fp = hashlib.sha1(
            json.dumps(
                {
                    "src": _input_fingerprint(src, content=False),
                    "deletes": dl.visible_delete_files(out_dir),
                    "tip": log[-1] if log else 0,
                },
                sort_keys=True,
                default=str,
            ).encode()
        ).hexdigest()
        scan, _ = _candidate_scan(
            spark, out_dir, filters_phys, _own_band(out_dir, fp), _entry_batch,
            _DELETE_ENTRY_SCHEMA,
        )
        entries = [r.asDict() for r in scan.collect()] if scan is not None else []
        if not entries:
            return {"n_updated": 0, "delete_file": None, "snapshot": None}
        name = f"delete-update-{fp[:16]}.json"
        dl.write_delete_file(out_dir, name, entries, ["update", _filters_json(filters)])
        # a source decoded in the driver is at most one stripe: one
        # replacement block, not one per core its local relation splits into
        append_table(
            src.coalesce(1) if small else src, out_dir, size_col=size_col,
            _ride_delete_files=[name], _snapshot_op="update", _fingerprint=fp,
        )
        dl.gc_orphans(out_dir)
        snap = mf.snapshot_log(out_dir, strict=False)
        return {
            "n_updated": sum(e["n_deleted"] for e in entries),
            "delete_file": name,
            "snapshot": int(snap[-1]["id"]) if snap else None,
        }


def merge_table(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    sort_key: str | None = None,
    size_col: str | None = None,
    plans: dict | None = None,
) -> dict:
    """MERGE INTO / upsert (the Delta ``MERGE`` / Iceberg ``MERGE INTO``
    analog, delete-then-insert form): every EXISTING live row whose
    ``key_col`` value appears in ``df`` is deleted, and ALL of ``df`` is
    appended — atomically.  The delete file rides the append band's marker,
    so the single completion-flip rename publishes the replaced rows'
    disappearance and their replacements together; readers never see both
    versions, or neither.

    No existing block is rewritten (position-delete masks, like
    ``delete_where``); a later ``compact_dataset`` purges physically.
    Crash-safe end-to-end: before the flip the band AND the delete file are
    invisible (``reclaim_append`` drops both); a resume recomputes the same
    deterministic mask file and band.  Idempotent: re-running with the same
    input finds its own deletions already visible (mask recompute subtracts
    them → empty) and its band complete — the marker-flip UNION keeps the
    existing file referenced.

    Holds the dataset's single-writer (consolidation) lock from mask
    computation through commit so a concurrent ``delete_where`` cannot
    double-count overlapping positions.  Incoming rows are appended as-is —
    duplicate keys WITHIN ``df`` are the caller's responsibility.

    Returns ``{"n_replaced", "n_appended", "delete_file", "snapshot"}``."""
    from rugo_spark import deletes as dl

    spark = df.sparkSession
    arrow_schema, _ = mf.read_schema(out_dir)
    # rename evolution: key_col is a LOGICAL name; _key_mask_entries
    # resolves the physical side itself, so validate against the view here
    from rugo_spark import evolution as evo

    _view = evo.column_view(mf.read_schema_payload(out_dir))
    valid_keys = set(evo.maps(_view)[0]) if _view else set(arrow_schema.names)
    if key_col not in valid_keys:
        raise ValueError(f"unknown merge key {key_col!r} for {out_dir}")
    if size_col is None:
        # inherit the dataset's token-mass column: the appended band must
        # account n_tokens the same way the deleted rows are subtracted,
        # or metadata_agg drifts from a scan after every merge
        size_col = (mf.read_schema_payload(out_dir) or {}).get("size_col")
    _enforce_constraints(df, out_dir)
    fp = _input_fingerprint(df)
    with mf.writer_lock(out_dir):
        entries = _key_mask_entries(
            spark, out_dir, df, key_col, exclude_base=_own_band(out_dir, fp)
        )
        name = None
        if entries:
            name = f"delete-merge-{fp[:16]}.json"
            dl.write_delete_file(
                out_dir, name, entries, predicate=["merge_keys", key_col]
            )
        man = append_table(
            df, out_dir, sort_key=sort_key, size_col=size_col, plans=plans,
            _ride_delete_files=[name] if name else None, _snapshot_op="merge",
        )
        n_appended = sum(int(r["n_rows"]) for r in man.collect())
        dl.gc_orphans(out_dir)
        snap = mf.snapshot_log(out_dir, strict=False)
        return {
            "n_replaced": sum(e["n_deleted"] for e in entries),
            "n_appended": n_appended,
            "delete_file": name,
            "snapshot": int(snap[-1]["id"]) if snap else None,
        }


def encode_table(
    df: DataFrame,
    out_dir: str,
    key_col: str | None = None,
    size_col: str | None = None,
    num_partitions: int | None = None,
    target_tokens: int = DEFAULT_TARGET_TOKENS,
    plans: dict | None = None,
    precombine: bool | str = "auto",
) -> DataFrame:
    """Encode ``df`` into ``out_dir`` (blocks + manifest). Resumable.

    ``size_col`` drives size-balanced partitioning (token mass); ``key_col``
    makes partition assignment + intra-block order deterministic.
    ``precombine`` is the map-side-combine plan: stripes are encoded
    *before* the shuffle, so the wire carries compressed bytes (~4× less
    shuffle volume) and the reduce task only concatenates.  Measured
    cross-over: grouped wins on small inputs (per-stripe overhead), precombine
    wins ≥3× once the shuffle no longer fits cache (2.4B tokens: 56 vs 15
    Mtok/s) — 'auto' switches on total mass.
    Returns the manifest DataFrame (one lineage row per partition).
    """
    spark = df.sparkSession
    # planning reuse, cheapest source first:
    #   1. the plan persisted beside an in-progress manifest (resume: zero
    #      planning scan, partition ids stable by construction, not by
    #      re-derivation)
    #   2. a session-level cache keyed by the input fingerprint (ANALYZE-once
    #      semantics: re-encoding the same table re-uses its size stats)
    #   3. a fresh bounded planning scan, persisted before any data moves so
    #      a crash at any point resumes consistently
    # require=False: plan-less resumes are legitimate here (the distributed-
    # window path persists no map), but an unreadable plan fails loudly
    resumed_plan = mf.read_plan_checked(out_dir)
    cache_key = None
    prev_plan = resumed_plan
    if resumed_plan is not None:
        if resumed_plan.get("mode") == "range":
            raise ValueError(
                f"{out_dir} was written by encode_table_sorted (range plan); "
                "resume it with encode_table_sorted or clear the dataset"
            )
        if num_partitions is not None and num_partitions != resumed_plan.get("num_partitions"):
            raise ValueError(
                f"refusing to resume {out_dir} with num_partitions={num_partitions}: "
                f"the dataset was planned with {resumed_plan.get('num_partitions')} "
                "(mixing layouts would duplicate or drop rows)"
            )
        num_partitions = None  # persisted plan wins on resume
    elif size_col is not None and _files_signature(df):
        # cache ONLY inputs with a file identity: a foreachBatch micro-batch
        # (or createDataFrame local) has no inputFiles and its canonicalized
        # plan string is IDENTICAL across epochs — and across datasets with
        # the same schema — so caching it replays the first epoch's split
        # plan everywhere (found as a deterministic cross-test collision:
        # a 200k-target plan hijacked a 30k-target encode).  target_tokens /
        # num_partitions are part of the key: same input, different sizing
        # knobs, different plan.
        cache_key = (
            _input_fingerprint(df), size_col, key_col,
            int(target_tokens or 0), int(num_partitions or 0),
        )
        prev_plan = _PLAN_CACHE.get(cache_key)
    planned, num_partitions, total_mass, plan_map = with_partition_id(
        df,
        num_partitions,
        size_col=size_col,
        key_col=key_col,
        target_mass=target_tokens,
        plan_map=prev_plan,
    )
    if plan_map is not None:
        if resumed_plan is None:
            mf.write_plan(out_dir, plan_map)
        if cache_key is not None:
            if len(_PLAN_CACHE) > 8:
                _PLAN_CACHE.clear()
            _PLAN_CACHE[cache_key] = plan_map
    plan_handle = planned  # carries the cached-histogram handle for release
    if precombine == "auto":
        # big jobs (≥ ~500M tokens through the shuffle) flip to map-side
        # stripe encoding; small jobs keep the cheaper grouped path
        precombine = total_mass >= 500_000_000

    # checkpoint-restart: skip partitions whose sidecar already exists
    done = [r["partition_id"] for r in mf.completed_partitions(out_dir)]
    if done:
        import pyspark.sql.functions as F

        done_batch = pa.record_batch({"__rugo_pid": pa.array(done, pa.int32())})
        done_df = _arrow_df(spark, [done_batch], from_arrow_schema(done_batch.schema))
        planned = planned.join(F.broadcast(done_df), "__rugo_pid", "left_anti")

    _extra = {"size_col": size_col} if size_col is not None else {}
    # resume must not drop durable payload state added after the first run
    _extra.update(mf.durable_payload(mf.read_schema_payload(out_dir)))
    mf.write_schema(
        out_dir,
        _arrow_schema_of(df),
        df.schema.json(),
        extra=_extra or None,
    )
    sort_key = key_col
    blocks_dir = os.path.join(out_dir, mf.BLOCKS_DIR)

    if precombine:
        # Small-stripe path: per-stripe FSST training (~20 ms) would dominate
        # 1-2 MB stripes, so pin job-level string codec plans (symbol table
        # trained once from a bounded sample, persisted for resume) — stripes
        # become compress-only at ~200 MB/s (VERDICT r3 #7)
        plans = _auto_string_plans(df, out_dir, plans)
        try:
            return _encode_precombine(
                spark, planned, out_dir, blocks_dir, sort_key, size_col, num_partitions, plans
            )
        finally:
            release_after_plan(plan_handle)

    def encoder(batches):
        for pid, sub in _pid_slices(batches, sort_key):
            path = os.path.join(blocks_dir, f"part-{pid:06d}.rgb")
            # shared kernel; the slice is already (pid, sort_key)-ordered
            yield emit_sidecar(out_dir, encode_block_row(
                sub, path, pid, sort_key=sort_key, size_col=size_col,
                plans=plans, presorted=True,
            ))

    # ONE shuffle on the partition id; the reduce stage may run FEWER tasks
    # than logical partitions (each task slices its rows per pid and writes
    # one block per pid).  Task count ≠ block count on purpose: driver task
    # scheduling is serial (~ms/task), so at 10⁵⁻⁶ partitions a one-task-per-
    # block layout is driver-bound (same lesson as the decode-side heuristic).
    # BUT compressing tasks costs balance — hash collisions of pids into few
    # buckets make 2-3× heavy tasks (measured: 64 tasks for 256 pids ran 17%
    # slower than 256/256) — so stay one-task-per-pid until the task count
    # itself becomes the bottleneck (≥8 waves/core), then keep ≥8 pids/task
    # so collision variance stays ~1/√8.  repartition with an explicit count
    # pins the exchange against AQE's byte-targeted coalescer (blind to
    # Python-side encode cost).
    par = spark.sparkContext.defaultParallelism
    if num_partitions <= par * 8:
        n_tasks = int(num_partitions)
    else:
        n_tasks = max(par * 8, int(num_partitions) // 8)
    shuffled = planned.repartition(n_tasks, "__rugo_pid")
    result = shuffled.mapInArrow(encoder, mf.MANIFEST_SCHEMA)
    try:
        result.write.mode("overwrite").format("noop").save()
    finally:
        release_after_plan(plan_handle)
    mf.commit_snapshot(out_dir, "encode")
    return manifest_df(spark, out_dir)


_CODEC_SAMPLE_ROWS = 512
_CODEC_SAMPLE_BYTES = 1 << 20  # per-column training budget


def _sample_bytes(vals: list, is_str: bool) -> bytes:
    """Training bytes from a value list: STRIDED rows + a per-value byte
    budget.  Taking the head would undo the cross-split sampling (rows
    arrive partition-ordered, so the head is the first splits only), and an
    un-budgeted join lets the first ~128 8 KiB values eat the whole 1 MB
    byte cap (review r5) — both reintroduce single-distribution bias into
    the pinned FSST table."""
    stride = max(1, len(vals) // _CODEC_SAMPLE_ROWS)
    vals = vals[::stride][:_CODEC_SAMPLE_ROWS]
    budget = max(2048, _CODEC_SAMPLE_BYTES // max(len(vals), 1))
    if is_str:
        data = b"".join(v.encode()[:budget] for v in vals)
    else:
        data = b"".join((v or b"")[:budget] for v in vals)
    return data[:_CODEC_SAMPLE_BYTES]


def _build_string_plans(sample: pa.Table) -> dict:
    """Per string/binary column: decide the byte codec ONCE from a bounded
    sample and, when FSST wins, train + serialize its symbol table.

    Mirrors ``_select_str_codec``'s per-stripe logic at job level:
    dict-worthy (low-cardinality) columns are left unpinned — the per-stripe
    dict path is cheap and adapts; everything else gets a pinned
    'raw'/'fsst' decision so stripes skip both the selection trial and
    training.  Every quantity is derived from the sample bytes alone —
    deterministic given the sample, which is persisted-by-decision via
    ``write_codec_plans`` before any data moves."""
    import base64

    import pyarrow.compute as pc

    from rugo_spark.codecs import fsst as _fsst
    from rugo_spark.codecs import general as _g

    plans: dict = {}
    for name in sample.column_names:
        col = sample.column(name)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        t = col.type
        is_str = pa.types.is_string(t) or pa.types.is_large_string(t)
        is_bin = pa.types.is_binary(t) or pa.types.is_large_binary(t)
        if not (is_str or is_bin):
            continue
        dense = pc.drop_null(col)
        n = len(dense)
        if n == 0:
            continue
        if is_str:
            card = len(pc.unique(dense))
            # Pin only NEAR-UNIQUE columns (free text, urls, ids).  Any
            # visible repetition in a ~512-row sample means a 16k-row stripe
            # may well sit under the per-stripe dict threshold (n//8 at
            # stripe scale ≈ 2048) even though it exceeds n//8 here (≈ 64):
            # pinning raw/fsst there would bypass the better dict encoding
            # job-wide (review r4).  Repetitive columns stay adaptive.
            if card < n * 0.9:
                continue  # leave to the cheap per-stripe selector
        data = _sample_bytes(dense.to_pylist(), is_str)
        if len(data) < 4096:
            continue  # too little signal to pin a job-wide decision
        raw_z = len(_g.wrap(data, _g.ZSTD))
        if raw_z * 6 < len(data):
            plans[name] = {"data": "raw"}  # zstd alone crushes it
            continue
        table = _fsst.train(data)
        stream = _fsst.compress(data, table)
        fsst_payload_z = len(_g.wrap(_fsst.encode(data, table=table), _g.ZSTD))
        if fsst_payload_z < raw_z * 0.95:
            plans[name] = {
                "data": "fsst",
                "fsst_table": base64.b64encode(_fsst.serialize_table(table)).decode(),
                "fsst_ratio": len(stream) / len(data),
            }
        else:
            plans[name] = {"data": "raw"}
    return plans


def _auto_string_plans(df: DataFrame, out_dir: str, plans: dict | None) -> dict | None:
    """Job-level codec-plan pinning for the small-stripe (precombine) path.

    Resume replays the persisted decision exactly; datasets started before
    this feature (sidecars but no ``_codec_plans.json``) stay unpinned so
    their re-encoded partitions remain bit-identical to the original run.
    User-supplied ``plans`` entries always win over pinned ones."""
    persisted = mf.read_codec_plans(out_dir)
    if persisted is None:
        if mf.completed_partitions(out_dir):
            return plans  # legacy in-progress dataset: keep r3 behavior
        # project ONLY the string/binary columns, truncated executor-side:
        # 512 untruncated rows of a 1 MB-document corpus would pull ~0.5 GB
        # to the driver per column to feed a 1 MB training budget (review
        # r4).  8 KiB per value keeps symbol-table training signal intact.
        import pyspark.sql.functions as F
        from pyspark.sql.types import BinaryType, StringType

        proj = [
            F.expr(f"substring(`{f.name}`, 1, 8192)").alias(f.name)
            for f in df.schema.fields
            if isinstance(f.dataType, (StringType, BinaryType))
        ]
        if not proj:
            persisted = {}
        else:
            # CROSS-SPLIT sample: a bare limit(512) short-circuits on the
            # first split, so a corpus ordered by source trains the pinned
            # table on one source's distribution (measured ~2% size cost at
            # 1.5 MB stripes vs a cross-stripe sample, r5).  Take the first
            # few rows of EVERY split (each task reads one record batch) and
            # limit on top; above 4096 splits fall back to limit alone —
            # 10⁶ sampling tasks would cost more than the 2% they save.
            sdf = df.select(proj)
            try:
                n_splits = len(df.inputFiles())
            except Exception:  # noqa: BLE001 — non-file sources
                n_splits = 0
            if 0 < n_splits <= 4096:
                # every split contributes: the row cap scales to per×splits
                # (≤4096 rows ≈ 32 MB at the 8 KiB truncation) instead of a
                # flat 512 that CollectLimit would fill from the first ~256
                # splits alone (review r5); _build_string_plans strides back
                # down to its row budget
                per = max(1, _CODEC_SAMPLE_ROWS // n_splits)
                ddl = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}" for f in sdf.schema.fields
                )

                def _first_rows(batches):
                    for batch in batches:
                        yield batch.slice(0, per)
                        return

                sdf = sdf.mapInArrow(_first_rows, ddl).limit(
                    max(_CODEC_SAMPLE_ROWS, per * n_splits)
                )
            else:
                sdf = sdf.limit(_CODEC_SAMPLE_ROWS)
            persisted = _build_string_plans(sdf.toArrow())
        mf.write_codec_plans(out_dir, persisted)
    if not persisted:
        return plans
    merged = {k: dict(v) for k, v in persisted.items()}
    for col, p in (plans or {}).items():
        if isinstance(p, dict) and col in merged:
            merged[col] = {**merged[col], **p}
        else:
            merged[col] = p
    return merged


_STRIPE_DDL = (
    "partition_id int, stripe binary, n_rows long, n_tokens long, "
    "input_bytes long, min_key string, meta string, bloom string"
)


def _encode_precombine(
    spark, planned, out_dir, blocks_dir, sort_key, size_col, num_partitions, plans
) -> DataFrame:
    """Map-side-combine encode: stripes encoded in the map stage, shuffled
    compressed, concatenated per partition in the reduce stage."""
    def map_encode(batches):
        import pyarrow.compute as pc

        for pid, sub in _pid_slices(batches, sort_key):
            payload, metas = encode_block_bytes(sub, plans)
            n_tokens = int(pc.sum(sub.column(size_col)).as_py() or 0) if size_col else 0
            min_key = str(sub.column(sort_key)[0].as_py()) if sort_key else ""
            if sort_key:
                from rugo_spark import bloom as _bloom

                bloom_json = json.dumps(_bloom.build(sub.column(sort_key)))
            else:
                bloom_json = ""
            yield pa.RecordBatch.from_pylist(
                [
                    {
                        "partition_id": pid,
                        "stripe": payload,
                        "n_rows": sub.num_rows,
                        "n_tokens": n_tokens,
                        "input_bytes": int(sub.nbytes),
                        "min_key": min_key,
                        "meta": json.dumps(metas, default=str),
                        "bloom": bloom_json,
                    }
                ],
                schema=pa.schema(
                    [
                        ("partition_id", pa.int32()),
                        ("stripe", pa.binary()),
                        ("n_rows", pa.int64()),
                        ("n_tokens", pa.int64()),
                        ("input_bytes", pa.int64()),
                        ("min_key", pa.string()),
                        ("meta", pa.string()),
                        ("bloom", pa.string()),
                    ]
                ),
            )

    stripes = planned.mapInArrow(map_encode, _STRIPE_DDL)

    def assemble(key: tuple, table: pa.Table) -> pa.Table:
        pid = int(key[0].as_py())
        # deterministic TOTAL stripe order: (min_key, n_rows) can tie (two
        # map tasks emitting equal-shaped stripes), and a stable sort would
        # then preserve shuffle ARRIVAL order — block bytes must not depend
        # on that (speculative attempts must publish identical bytes), so
        # the stripe payload's crc32 breaks ties content-deterministically
        crcs = pa.array(
            [zlib.crc32(s.as_py()) for s in table.column("stripe")], pa.int64()
        )
        table = table.append_column("_stripe_crc", crcs)
        order = pa.compute.sort_indices(
            table,
            sort_keys=[
                ("min_key", "ascending"),
                ("n_rows", "ascending"),
                ("_stripe_crc", "ascending"),
            ],
        )
        table = table.take(order).drop_columns("_stripe_crc")
        metas_list = [json.loads(m) for m in table.column("meta").to_pylist()]
        path = os.path.join(blocks_dir, f"part-{pid:06d}.rgb")
        # RGS2 even for one stripe: the directory lets point lookups skip
        # stripes INSIDE a block
        crc = write_container(
            path, table.column("stripe").to_pylist(),
            [_stripe_dir_entry(m) for m in metas_list],
        )
        merged = merge_column_metas(metas_list)
        row = {
            "partition_id": pid,
            "n_rows": int(pa.compute.sum(table.column("n_rows")).as_py() or 0),
            "n_tokens": int(pa.compute.sum(table.column("n_tokens")).as_py() or 0),
            "input_bytes": int(pa.compute.sum(table.column("input_bytes")).as_py() or 0),
            "output_bytes": int(os.path.getsize(path)),
            "block_path": path,
            "checksum": int(crc),
            "codecs": json.dumps(merged, default=str),
        }
        blooms = [json.loads(b) for b in table.column("bloom").to_pylist() if b]
        if blooms and sort_key is not None:
            from rugo_spark import bloom as _bloom

            row["bloom_col"] = sort_key
            row["bloom"] = _bloom.union(blooms)
        return pa.Table.from_batches([emit_sidecar(out_dir, row)])

    result = stripes.groupBy("partition_id").applyInArrow(assemble, mf.MANIFEST_SCHEMA)
    conf = spark.conf
    prev = _conf_get(conf, "spark.sql.shuffle.partitions", "200")
    prev_coalesce = _conf_get(conf, "spark.sql.adaptive.coalescePartitions.enabled", "true")
    try:
        conf.set("spark.sql.shuffle.partitions", str(num_partitions))
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        result.write.mode("overwrite").format("noop").save()
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev_coalesce)
    mf.commit_snapshot(out_dir, "encode")
    return manifest_df(spark, out_dir)


def _arrow_schema_of(df: DataFrame) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(df.schema)


def _same_but_nulls(a: pa.DataType, t: pa.DataType) -> bool:
    """Whether Arrow types ``a`` and ``t`` differ at most in the
    nullability of nested fields."""
    if a.id != t.id or a.num_fields != t.num_fields:
        return False
    if not t.num_fields:
        return a == t
    return all(
        a.field(i).name == t.field(i).name and _same_but_nulls(a.field(i).type, t.field(i).type)
        for i in range(t.num_fields)
    )


def _without_validity(a: pa.Array) -> pa.Array:
    """``a`` over the same buffers, with no validity bitmap."""
    t = a.type
    if pa.types.is_struct(t):
        return pa.StructArray.from_arrays([a.field(i) for i in range(t.num_fields)], fields=list(t))
    kids = [a.values] if t.num_fields else None
    return pa.Array.from_buffers(t, len(a), [None] + a.buffers()[1:t.num_buffers], 0, a.offset, kids)


def _as_declared(arr: pa.Array, t: pa.DataType) -> pa.Array:
    """``arr`` rebuilt, without copying data, as ``t``, which it matches up
    to nested nullability (``_same_but_nulls``).  A non-null struct field
    whose nulls all sit under null struct slots loses its validity bitmap:
    decoded structs keep such nulls, and pyspark's cast refuses any null in
    a non-null field.  A null under a valid slot stays, and the cast
    reports it."""
    import pyarrow.compute as pc

    if pa.types.is_struct(t):
        kids = []
        for i, f in enumerate(t):
            kid = _as_declared(arr.field(i), f.type)
            if (not f.nullable and kid.null_count
                    and not pc.any(pc.and_(kid.is_null(), arr.is_valid())).as_py()):
                kid = _without_validity(kid)
            kids.append(kid)
        mask = arr.is_null() if arr.null_count else None
        return pa.StructArray.from_arrays(kids, fields=list(t), mask=mask)
    if t.num_fields:  # list, large_list, map: over the declared child
        kids = [_as_declared(arr.values, t.field(0).type)]
        return pa.Array.from_buffers(
            t, len(arr), arr.buffers()[:t.num_buffers], arr.null_count, arr.offset, kids
        )
    return arr


def _arrow_df(spark: SparkSession, batches, schema) -> DataFrame:
    """A DataFrame over Arrow batches held in this process: a LocalRelation,
    so Spark's filter, select and collect over it start no job.  The one
    Arrow → DataFrame call of the driver venue (``_in_driver``) and of
    ``manifest_df``.  Batches may differ in nullability, or type an all-null
    ``from_pylist`` field as null; they are unified before ``schema``
    (a ``StructType``) is applied.  A column that matches its target up to
    nested nullability is rebuilt as the target type (``_as_declared``),
    which pyspark's cast would refuse for a non-null nested field."""
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    tables = [pa.Table.from_batches([b]) for b in batches]
    tbl = (
        pa.concat_tables(tables, promote_options="permissive") if tables
        else target.empty_table()
    )
    cols = []
    for f in target:
        col = tbl.column(f.name)
        if _same_but_nulls(col.type, f.type):
            col = pa.chunked_array([_as_declared(c, f.type) for c in col.chunks], f.type)
        cols.append(col)
    return spark.createDataFrame(pa.Table.from_arrays(cols, names=target.names), schema)


def manifest_df(spark: SparkSession, out_dir: str) -> DataFrame:
    rows = mf.visible_partitions(out_dir)
    return _arrow_df(
        spark, [pa.RecordBatch.from_pylist(rows, schema=mf.MANIFEST_ARROW)], mf.MANIFEST_SCHEMA
    )


def _rows_df(spark: SparkSession, rows: list[dict], ddl: str) -> DataFrame:
    """A LocalRelation of Python ``rows`` under the DDL schema ``ddl``."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    return _arrow_df(
        spark, [pa.RecordBatch.from_pylist(rows, schema=to_arrow_schema(schema))], schema
    )


_SNAPSHOTS_DDL = (
    "snapshot_id int, op string, n_partitions long, n_rows long, "
    "n_tokens long, output_bytes long, ranges string"
)
_STATS_DDL = (
    "partition_id int, column string, codec string, enc_bytes long, "
    "raw_bytes long, null_count long, min string, max string, distinct_est long"
)


def snapshots_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """The dataset's snapshot lineage as a DataFrame (the Iceberg
    ``.snapshots`` metadata-table analog): one row per commit that changed
    reader-visible rows, with cumulative row/token/byte totals and the
    visible pid ranges (JSON).  Feed ``snapshot_id`` values into
    ``decode_table``/``metadata_agg`` for time travel, or into
    ``manifest.rollback_to_snapshot``."""
    rows = [
        {
            "snapshot_id": int(e["id"]),
            "op": e.get("op"),
            "n_partitions": int(e.get("n_partitions") or 0),
            "n_rows": int(e.get("n_rows") or 0),
            "n_tokens": int(e.get("n_tokens") or 0),
            "output_bytes": int(e.get("output_bytes") or 0),
            "ranges": json.dumps(e.get("ranges")),
        }
        for e in mf.snapshot_log(out_dir, strict=True)
    ]
    return _rows_df(spark, rows, _SNAPSHOTS_DDL)


def stats_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-(partition, column) statistics table — the reference's
    one-row-per-(row_group, column) stats surface (SURVEY.md §1.1) as a
    DataFrame: codec, encoded/raw bytes, null_count, min/max, distinct est."""
    rows = []
    for r in mf.visible_partitions(out_dir):
        for col, m in json.loads(r["codecs"]).items():
            rows.append(
                {
                    "partition_id": r["partition_id"],
                    "column": col,
                    "codec": str(m.get("codec")),
                    "enc_bytes": int(m.get("enc_bytes") or 0),
                    "raw_bytes": int(m.get("raw_bytes") or 0),
                    "null_count": int(m.get("null_count") or 0),
                    "min": str(m.get("min")) if m.get("min") is not None else None,
                    "max": str(m.get("max")) if m.get("max") is not None else None,
                    "distinct_est": int(m["distinct_est"]) if m.get("distinct_est") else None,
                }
            )
    return _rows_df(spark, rows, _STATS_DDL)


def _meta_aggregatable(t: pa.DataType) -> bool:
    """Types whose sidecar min/max merge correctly with Python min()/max():
    ints, floats, bools, strings and temporals (stored as native JSON values
    or ISO strings).  Decimals are stored as decimal-strings (pruning
    compares via Decimal); nested/binary carry no stats — both excluded."""
    return (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_temporal(t)
    )


_STATS_COLS = ["n_rows", "n_tokens", "codecs"]


def _metadata_partials_distributed(
    spark: SparkSession, out_dir: str, cols: list[str], keep_ranges=None
):
    """Per-task pre-merge of manifest stats: executors expand their slice
    of ``mf.scan_specs`` (loose sidecar chunks AND segment row-group
    slices), merge it with ``merge_column_metas`` and emit ONE partial row
    each; the driver merges only #tasks rows — at 10⁵–10⁶ partitions it
    never holds more than task-count JSON documents."""
    want = set(cols)

    def merger(batches):
        for batch in batches:
            n_rows = n_tokens = 0
            parts = []
            for spec_json in batch.column(0).to_pylist():
                for row in mf.iter_spec_rows(json.loads(spec_json)):
                    n_rows += int(row["n_rows"])
                    n_tokens += int(row.get("n_tokens") or 0)
                    cd = json.loads(row["codecs"])
                    parts.append(({c: m for c, m in cd.items() if c in want}, int(row["n_rows"])))
            if parts:
                merged = count_missing_as_nulls(
                    merge_column_metas([m for m, _ in parts]), parts, want
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([n_rows], pa.int64()),
                        pa.array([n_tokens], pa.int64()),
                        pa.array([json.dumps(merged, default=str)], pa.string()),
                    ],
                    names=["n_rows", "n_tokens", "codecs"],
                )

    out = _task_map(
        spark,
        {"spec": [json.dumps(x) for x in mf.scan_specs(out_dir, _STATS_COLS, keep_ranges)]},
        merger, "n_rows long, n_tokens long, codecs string",
    )
    return [r.asDict() for r in out.collect()]


def metadata_agg(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    snapshot_id: int | None = None,
) -> DataFrame:
    """COUNT / MIN / MAX / null-count answered from the manifest alone —
    zero data blocks are opened.

    This is the reference's core capability — statistics straight from
    footer metadata instead of data reads (rugo ``README.md:11`` "10-50x
    faster than PyArrow", per-row-group stats surface
    ``metadata.cpp:618-646``) — lifted from per-file to dataset level: the
    per-partition sidecar min/max merge across the manifest exactly the way
    rugo merges row-group statistics, so a 100 TB dataset answers these
    aggregates in manifest-read time.

    Returns a one-row DataFrame: ``n_rows``, ``n_tokens`` (size-mass), and
    per requested column ``min_<c>`` / ``max_<c>`` (the column's own type)
    and ``nulls_<c>``.  Columns default to every stats-bearing primitive
    column.  A consolidated dataset answers from the segment catalog's
    pre-merged summaries plus the loose tail; otherwise the manifest rows
    merge on the driver, or in a mapInArrow pre-merge when the manifest is
    large (``_plan_on_executors``, the switch decode planning uses).

    ``snapshot_id``: stats as of that snapshot (time travel) — the summary
    fast path is skipped (catalog summaries describe the CURRENT set) and
    planning restricts to the snapshot's pid ranges.
    """
    if snapshot_id is not None:
        snapshot_id = mf.resolve_snapshot(out_dir, snapshot_id)  # tags ok
    keep_ranges = (
        mf.snapshot_ranges(out_dir, snapshot_id) if snapshot_id is not None else None
    )
    arrow_schema, _ = mf.read_schema(out_dir)
    by_name = {f.name: f for f in arrow_schema}
    # rename/drop evolution: requests speak logical names; stats live under
    # physical keys.  Translate in, alias the result columns back out.
    from rugo_spark import evolution as evo

    _view = evo.column_view(mf.read_schema_payload(out_dir))
    _p2l: dict = {}
    if _view:
        _l2p, _p2l = evo.maps(_view)
        columns = evo.translate_columns(columns, _l2p, "columns")
        if columns is None:
            live = set(evo.live_physical(_view))
            columns = [
                n for n in arrow_schema.names
                if n in live and _meta_aggregatable(by_name[n].type)
            ]
    if columns is None:
        cols = [n for n in arrow_schema.names if _meta_aggregatable(by_name[n].type)]
    else:
        bad = [c for c in columns if c not in by_name]
        if bad:
            raise KeyError(f"unknown columns {bad}; dataset has {arrow_schema.names}")
        unsup = [c for c in columns if not _meta_aggregatable(by_name[c].type)]
        if unsup:
            raise ValueError(
                f"metadata_agg: no orderable sidecar stats for {unsup} "
                "(decimal/nested/binary columns are excluded)"
            )
        cols = list(columns)

    from rugo_spark import deletes as dl

    def _summaries_or_executors():
        # summaries describe the CURRENT visible set — not a snapshot's
        fast = mf.summary_scan(out_dir) if keep_ranges is None else None
        if fast is not None:
            summaries, loose = fast
            if not _plan_on_executors(sum(len(s["names"]) for s in loose), 0, stats=True):
                return [
                    {"n_rows": int(e["n_rows"]), "n_tokens": int(e["n_tokens"]),
                     "codecs": json.dumps(e["codecs"])}
                    for e in summaries
                ] + [row for s in loose for row in mf.iter_spec_rows(s)]
        if _plan_on_executors(*mf.manifest_size(out_dir), stats=True):
            return _metadata_partials_distributed(spark, out_dir, cols, keep_ranges)
        return None

    # the partial stats and the delete-file list must reflect one commit
    # state, or a MERGE flip mid-read double-counts (new band counted,
    # riding masks unsubtracted) or under-counts (masks subtracted, band
    # missing) — both reads go through _one_commit
    partials, names = _one_commit(out_dir, snapshot_id, _summaries_or_executors)
    if partials is None:
        partials, names = plan(out_dir, _STATS_COLS, keep_ranges=keep_ranges,
                               snapshot_id=snapshot_id)

    n_rows = sum(int(r["n_rows"]) for r in partials)
    n_tokens = sum(int(r.get("n_tokens") or 0) for r in partials)
    # row-level deletes: subtract the exact deleted row/token mass (delete
    # files are position-disjoint per pid, so totals sum exactly).  min/max
    # and null counts stay PHYSICAL — a mask can't tighten them without a
    # scan, the same conservatism Iceberg metadata tables have under
    # position deletes; compaction restores exactness.
    if names:
        del_rows, del_tokens = dl.deleted_totals(out_dir, names)
        n_rows -= del_rows
        n_tokens -= del_tokens
    want = set(cols)
    parsed = [(json.loads(r["codecs"]), int(r["n_rows"])) for r in partials]
    merged = count_missing_as_nulls(
        merge_column_metas([{c: m for c, m in cd.items() if c in want} for cd, _ in parsed]),
        parsed,
        cols,
    )

    fields = [pa.field("n_rows", pa.int64()), pa.field("n_tokens", pa.int64())]
    arrays: list[pa.Array] = [pa.array([n_rows], pa.int64()), pa.array([n_tokens], pa.int64())]
    for c in cols:
        t = by_name[c].type
        m = merged.get(c, {})
        for k in ("min", "max"):
            v = m.get(k)
            try:
                arr = pa.array([v], type=t)
                ft = t
            except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
                # temporal-as-string fallback keeps the value visible even if
                # this pyarrow can't parse the sidecar's rendering back
                arr, ft = pa.array([None if v is None else str(v)], pa.string()), pa.string()
            fields.append(pa.field(f"{k}_{_p2l.get(c, c)}", ft))
            arrays.append(arr)
        fields.append(pa.field(f"nulls_{_p2l.get(c, c)}", pa.int64()))
        arrays.append(pa.array([int(m.get("null_count") or 0)], pa.int64()))
    tbl = pa.Table.from_arrays(arrays, schema=pa.schema(fields))
    # a pa.Table keeps declared types exactly (None min/max stays NULL of
    # the column type, not a pandas NaN double)
    return spark.createDataFrame(tbl)


def _member_stripes(row: dict) -> list[tuple[bytes, dict]]:
    """Explode one manifest member into (stripe_payload, dir_entry) pairs.
    Flat blocks ARE one stripe; striped blocks unwrap, keeping their own
    directory entries when present (else the member's block-level min/max)."""
    member_mm = _stripe_dir_entry(json.loads(row["codecs"]))
    with open(row["block_path"], "rb") as f:
        return [
            (f.read(-1 if ln is None else ln), member_mm if entry is None else entry)
            for entry, ln in _stripes(f)
        ]


def compact_dataset(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = 128 << 20,
    sort_key: str | None = None,
    mode: str = "auto",
    consolidate: bool = False,
) -> DataFrame:
    """Small-block compaction (the OPTIMIZE / rewrite-data-files analog).

    Streaming epochs and fine-grained encodes accumulate small blocks; at
    10⁵–10⁶ blocks the manifest read and task scheduling, not the data,
    become the decode cost.  Adjacent blocks (by partition id) are greedily
    packed into ~``target_bytes`` groups, one task per group, ZERO shuffle.

    Two kernels (``mode``):

    - ``'concat'`` — members become STRIPES of one RGS2 container at
      disk-copy speed: no decode, no re-encode.  Member min/max become the
      stripe directory and blooms OR together, so every pruning surface
      survives unchanged.  This is the default: measured 312 s → I/O-bound
      seconds on a 2.7 GB / 256-block dataset.
    - ``'rewrite'`` — decode members, concatenate, optionally re-sort on
      ``sort_key``, re-encode with fresh codec selection (the kernel to use
      when row order or codec choices should improve, e.g. after appends).

    ``'auto'`` = ``'rewrite'`` when ``sort_key`` is given (a sort requires
    decoding), else ``'concat'``.  Row content is exactly preserved either
    way (pytest: decode equality + conserved n_rows/n_tokens).

    Row-level deletes are PHYSICALLY PURGED here: ``dst_dir`` carries no
    mask files.  A group containing a masked member falls back to the
    rewrite kernel even under ``'concat'`` (a stripe copy would resurrect
    its deleted rows); unmasked groups keep disk-copy speed.
    """
    if mode not in ("auto", "concat", "rewrite"):
        raise ValueError(f"mode must be auto|concat|rewrite, got {mode!r}")
    if mode == "auto":
        mode = "rewrite" if sort_key is not None else "concat"
    if mode == "concat" and sort_key is not None:
        raise ValueError("sort_key requires mode='rewrite' (concat keeps row order)")
    if os.path.realpath(src_dir) == os.path.realpath(dst_dir):
        raise ValueError("compact_dataset: dst_dir must differ from src_dir "
                         "(in-place compaction would overwrite members mid-read)")
    # destination hygiene: a previous (larger) compaction into the same dst
    # would leave stale higher-numbered sidecars (or cataloged segments)
    # that silently duplicate rows
    mf.clear_manifest(dst_dir)
    rows = mf.visible_partitions(src_dir)  # pid-sorted
    if not rows:
        raise ValueError(f"nothing to compact: {src_dir} has no completed partitions")
    # row-level delete masks: compaction is where deletes get PHYSICALLY
    # purged (dst carries no mask files).  A masked member cannot concat —
    # stripe copy would resurrect its deleted rows — so its whole group
    # falls back to the rewrite kernel; unmasked groups keep disk-copy speed.
    from rugo_spark import deletes as dl

    src_masks: dict[int, dict] = {}
    if os.path.isdir(os.path.join(src_dir, dl.DELETES_DIR)):
        for name in dl.visible_delete_files(src_dir):
            for e in dl.read_delete_file(src_dir, name).get("entries", []):
                m = src_masks.setdefault(
                    int(e["pid"]), {"entries": [], "tokens": 0, "rows": 0}
                )
                m["entries"].append((e["enc"], e.get("data", ""), int(e["n_rows"])))
                m["tokens"] += int(e.get("deleted_tokens") or 0)
                m["rows"] += int(e["n_deleted"])
    arrow_schema, spark_schema = mf.read_schema(src_dir)
    groups: list[list[dict]] = [[]]
    acc = 0
    for r in rows:
        b = int(r["output_bytes"] or 0)
        if groups[-1] and acc + b > target_bytes:
            groups.append([])
            acc = 0
        groups[-1].append(r)
        acc += b
    # the schema decoded blocks carry (every field nullable): a NOT NULL
    # stored field would refuse the decoded batches in the rewrite kernel
    schema_bytes = pa.schema(
        [(f.name, f.type) for f in arrow_schema]
    ).serialize().to_pybytes()
    bloom_col = sort_key or next(
        (r.get("bloom_col") for r in rows if r.get("bloom_col")), None
    )
    # members travel as pids, not sidecar paths: after consolidation the
    # loose sidecar may be gone, so executors resolve each pid through
    # mf.load_rows (loose first, else pid-filtered segment read)
    specs = [
        {
            "gid": gid,
            "pids": [int(g["partition_id"]) for g in grp],
            # masks ride the spec (zstd'd base64 — JSON-safe, kilobytes)
            "masks": {
                str(p): src_masks[p]
                for g in grp
                if (p := int(g["partition_id"])) in src_masks
            },
        }
        for gid, grp in enumerate(groups)
    ]
    # durable payload state rides along (the logical column view, size
    # column, constraints) — NOT input_fingerprint, which belongs to the
    # source's resume protocol, not the compacted copy
    extras = mf.durable_payload(mf.read_schema_payload(src_dir), also=("size_col",))
    mf.write_schema(dst_dir, arrow_schema, json.dumps(spark_schema),
                    extra=extras or None)
    blocks_dir = os.path.join(dst_dir, mf.BLOCKS_DIR)

    def compactor(batches):
        from rugo_spark import bloom as _bloom

        schema = pa.ipc.read_schema(pa.py_buffer(schema_bytes))
        for batch in batches:
            for spec_json in batch.column(0).to_pylist():
                spec = json.loads(spec_json)
                gid = int(spec["gid"])
                masks = {int(k): v for k, v in (spec.get("masks") or {}).items()}
                by_pid = mf.load_rows(src_dir, spec["pids"])
                members = [by_pid[p] for p in spec["pids"]]
                path = os.path.join(blocks_dir, f"part-{gid:06d}.rgb")
                row = {
                    "partition_id": gid,
                    "n_rows": sum(int(m["n_rows"]) for m in members)
                    - sum(int(m["rows"]) for m in masks.values()),
                    "n_tokens": sum(int(m.get("n_tokens") or 0) for m in members)
                    - sum(int(m["tokens"]) for m in masks.values()),
                    "block_path": path,
                }
                if row["n_rows"] == 0 and masks:
                    continue  # every row of the group deleted — no block
                if mode == "concat" and not masks:
                    stripes = [s for m in members for s in _member_stripes(m)]
                    crc = write_container(
                        path, [b for b, _ in stripes], [d for _, d in stripes]
                    )
                    row["input_bytes"] = sum(int(m.get("input_bytes") or 0) for m in members)
                    row["codecs"] = json.dumps(
                        merge_column_metas([json.loads(m["codecs"]) for m in members]),
                        default=str,
                    )
                    member_blooms = [
                        m["bloom"]
                        for m in members
                        if m.get("bloom") and m.get("bloom_col") == bloom_col
                    ]
                    if bloom_col is not None and len(member_blooms) == len(members):
                        row["bloom_col"] = bloom_col
                        row["bloom"] = _bloom.union(member_blooms)
                else:
                    parts = [
                        b for m in members for b in read_live(
                            m["block_path"], schema,
                            mask=masks.get(int(m["partition_id"]), {}).get("entries", ()),
                        )
                    ]
                    tbl = pa.Table.from_batches(parts, schema=schema)
                    if sort_key is not None:
                        tbl = tbl.sort_by(sort_key)
                    crc, metas = write_block_file(path, tbl)
                    row["input_bytes"] = int(tbl.nbytes)
                    row["codecs"] = json.dumps(metas, default=str)
                    if bloom_col is not None and bloom_col in tbl.column_names:
                        row["bloom_col"] = bloom_col
                        row["bloom"] = _bloom.build(tbl.column(bloom_col))
                row["output_bytes"] = int(os.path.getsize(path))
                row["checksum"] = int(crc)
                yield emit_sidecar(dst_dir, row)

    _task_map(
        spark, {"spec": [json.dumps(s) for s in specs]}, compactor, mf.MANIFEST_SCHEMA,
        [sum(int(g.get("input_bytes") or 0) for g in grp) for grp in groups],
    ).write.mode("overwrite").format("noop").save()
    if consolidate:
        mf.consolidate_manifest(dst_dir)
    mf.commit_snapshot(dst_dir, "compact", extra={"src": os.path.abspath(src_dir)})
    return manifest_df(spark, dst_dir)


def encode_epoch(
    df: DataFrame,
    dataset_dir: str,
    epoch: int,
    **kwargs,
) -> DataFrame:
    """Append semantics for a growing dataset: each ingest epoch encodes into
    its own namespace (``<dataset>/epoch=N/``) with independent resume, like
    the streaming sink's ``batch=N`` layout.  ``decode_dataset`` unions all
    epochs."""
    return encode_table(df, os.path.join(dataset_dir, f"epoch={epoch}"), **kwargs)


def decode_dataset(spark: SparkSession, dataset_dir: str, **kwargs) -> DataFrame:
    """Union-decode every epoch under ``dataset_dir`` (or a single plain
    encode dir)."""
    from functools import reduce

    epochs = sorted(
        os.path.join(dataset_dir, d)
        for d in os.listdir(dataset_dir)
        if d.startswith("epoch=") and os.path.isdir(os.path.join(dataset_dir, d))
    )
    if not epochs:
        return decode_table(spark, dataset_dir, **kwargs)
    return reduce(
        lambda a, b: a.unionAll(b), (decode_table(spark, e, **kwargs) for e in epochs)
    )


# ------------------------------------------------------------- decode job

def _parse_temporal_stat(s: str):
    """A sidecar temporal stat string back to a datetime, else None.
    Handles space/'T' separators, offsets, and over-long fractions."""
    import datetime as _dt
    import re as _re

    try:
        return _dt.datetime.fromisoformat(s)
    except (ValueError, TypeError):
        pass
    try:  # trim >6 fractional digits (numpy datetime64 renders nanoseconds)
        trimmed = _re.sub(r"(\.\d{6})\d+", r"\1", s)
        return _dt.datetime.fromisoformat(trimmed)
    except (ValueError, TypeError):
        return None


def _session_tz_name() -> str | None:
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is None:
            return None
        return s.conf.get("spark.sql.session.timeZone")
    except Exception:  # noqa: BLE001 — planning must never crash on conf reads
        return None


def _normalize_temporal_filters(schema, filters: list | None) -> list | None:
    """Driver-side: render naive datetime probes for ltz timestamp columns
    as UTC-aware instants (the session-timezone interpretation Spark itself
    applies to naive literals).  Stats for ltz columns serialize tz-aware,
    so normalized probes compare exactly — including on EXECUTORS, where
    the distributed planner and stripe-skip tests cannot reach the session
    conf.  ntz/date probes stay naive (their stats are naive wall times)."""
    if not filters:
        return filters
    import datetime as _dt

    from pyspark.sql.types import TimestampType

    types = {f.name: f.dataType for f in schema.fields}
    tz = None

    def _norm_one(v):
        nonlocal tz
        if not isinstance(v, _dt.datetime):
            return v
        if v.tzinfo is not None:
            return v.astimezone(_dt.timezone.utc)
        if tz is None:
            tzname = _session_tz_name()
            if tzname is not None:
                try:
                    from zoneinfo import ZoneInfo

                    tz = ZoneInfo(tzname)
                except (KeyError, ValueError, OSError):
                    tz = False
            else:
                tz = False
        if tz:
            return v.replace(tzinfo=tz).astimezone(_dt.timezone.utc)
        return v

    out = []
    for c, op, v in filters:
        if isinstance(types.get(c), TimestampType):
            v = [_norm_one(x) for x in v] if op == "in" else _norm_one(v)
        out.append((c, op, v))
    return out


def _block_may_match(codecs: dict, col: str, op: str, value) -> bool:
    """Conservative block-skip test from manifest min/max stats (the rugo
    min/max external-pruning pattern, metadata.cpp:430-463).  True = must
    scan (unknown stats or possible overlap)."""
    if op == "in":
        vals = list(value)
        if not vals:
            return False  # IN () matches nothing — skip every block
        return any(_block_may_match(codecs, col, "=", v) for v in vals)
    if op == "isnull":
        m = codecs.get(col) or {}
        nc = m.get("null_count")
        return nc is None or int(nc) > 0  # zero recorded nulls → skip
    if op == "notnull":
        return True  # null_count == n_rows is not visible here — scan
    meta = codecs.get(col)
    if not meta or meta.get("min") is None or meta.get("max") is None:
        return True
    lo, hi = meta["min"], meta["max"]
    if isinstance(lo, str) and not isinstance(value, str):
        # temporal min/max ALSO serialize as strings (same default=str) —
        # tz-AWARE for ltz timestamp columns (Arrow stores them as UTC
        # instants: '… 03:00:00+00:00'), naive for ntz/date.  Parse them
        # back to datetimes and compare as instants; a naive probe against
        # aware stats is interpreted in the session timezone (exactly what
        # Spark itself does with a naive literal) and conservatively scans
        # when no session is reachable (executor-side planners receive
        # probes already normalized by _normalize_temporal_filters).
        # Without this branch every timestamp/date predicate degraded to a
        # full scan (the Decimal fallback raises InvalidOperation on dates).
        import datetime as _dt

        if isinstance(value, (_dt.datetime, _dt.date)):
            plo, phi = _parse_temporal_stat(lo), _parse_temporal_stat(hi)
            if plo is None or phi is None:
                return True
            if not isinstance(value, _dt.datetime):
                value = _dt.datetime(value.year, value.month, value.day)
            if (plo.tzinfo is None) != (value.tzinfo is None):
                if value.tzinfo is not None:
                    return True  # aware probe vs ntz stats: wall clock unknown
                tzname = _session_tz_name()
                if tzname is None:
                    return True
                try:
                    from zoneinfo import ZoneInfo

                    value = value.replace(tzinfo=ZoneInfo(tzname))
                except (KeyError, ValueError, OSError):
                    return True
            lo, hi = plo, phi
        else:
            # decimal128 min/max serialize as strings in the JSON sidecar
            # (json.dumps(default=str)); compare numerically via Decimal so
            # decimal stats actually prune instead of TypeError-ing to a scan
            try:
                from decimal import Decimal

                lo, hi, value = Decimal(lo), Decimal(hi), Decimal(str(value))
            except ArithmeticError:
                return True
    try:
        if op == "=":
            return lo <= value <= hi
        if op in ("<", "<="):
            return lo < value if op == "<" else lo <= value
        if op in (">", ">="):
            return hi > value if op == ">" else hi >= value
    except TypeError:
        return True
    return True


def _sidecar_keep(row: dict, filters: list[tuple] | None) -> bool:
    """Block-skip test on one manifest row: min/max stats + bloom membership."""
    if not filters:
        return True
    codecs = json.loads(row["codecs"])
    for c, op, v in filters:
        if not _block_may_match(codecs, c, op, v):
            return False
        if op in ("=", "in") and row.get("bloom") and row.get("bloom_col") == c:
            from rugo_spark import bloom as _bloom

            vals = list(v) if op == "in" else [v]
            if not any(_bloom.might_contain(row["bloom"], x) for x in vals):
                return False
    return True


_PLAN_ARROW = pa.schema([("block_path", pa.string()), ("checksum", pa.int64())])
_PLAN_SCHEMA = from_arrow_schema(_PLAN_ARROW)

# Where manifest planning runs, in loose-sidecar equivalents.  A driver
# loop pays per sidecar (file open + JSON parse); an executor stage pays
# ≈1-2 s once, so it wins above ~20k sidecars and is mandatory at 10⁵-10⁶.
_DISTRIBUTED_PLAN_THRESHOLD = 20000


def _plan_on_executors(n_loose: int, n_segment_rows: int, stats: bool) -> bool:
    """The one local/executor switch of every manifest reader.  A segment
    row whose stats JSON is parsed and merged (``stats``: metadata_agg)
    costs about a loose sidecar (measured on 4 cores: 31 vs 47 µs a row);
    one read for its block path only (decode planning) weighs 1/50, which
    also keeps a consolidated decode off the executor plan's one task per
    ~16k-row spec."""
    return n_loose + n_segment_rows // (1 if stats else 50) > _DISTRIBUTED_PLAN_THRESHOLD


def _in_driver(rows: list[dict], cols: list[str] | None, schema) -> bool:
    """The one venue rule of the per-block read kernels (``decode_table``'s
    decoder, the DML mask scan's ``scan``): True when the planned ``rows``
    decode to at most one stripe of raw Arrow (``_STRIPE_TARGET_BYTES``),
    so the kernel runs in this process and its output becomes a
    LocalRelation (``_arrow_df``) — no Spark job at all.  A one-task
    ``mapInArrow`` job costs 0.1-0.3 s before it decodes a byte; a
    6,000-row LocalRelation's filter + collect ~45 ms (local[2], 4 vCPUs).
    The size is ``_raw_bytes``: the per-column ``raw_bytes`` of ``cols``
    where the plan carries ``codecs`` (filtered reads, DML scans), else the
    blocks' ``input_bytes``.  A ``schema`` pyspark's Arrow → DataFrame path
    cannot take (``_localize_drops_not_null``) keeps the ``mapInArrow``
    stage."""
    if any(_localize_drops_not_null(f.dataType) for f in schema.fields):
        return False
    total = 0
    for r in rows:
        total += _raw_bytes(r, cols)
        if total > _STRIPE_TARGET_BYTES:
            return False
    return True


def _raw_bytes(row: dict, cols: list[str] | None) -> int:
    """A planned block's decoded size, the measure of ``_in_driver`` and of
    the task rule (``_deal``): the per-column ``raw_bytes`` of ``cols``
    (None: all) where the plan row carries ``codecs``, else the block's
    ``input_bytes``."""
    if "codecs" in row:
        return sum(
            int(m.get("raw_bytes") or 0) for c, m in json.loads(row["codecs"]).items()
            if cols is None or c in cols
        )
    return int(row.get("input_bytes") or 0)


def _localize_drops_not_null(t) -> bool:
    """Whether Spark type ``t`` has a non-null field, element or value in a
    struct, array or map that also holds a nested or timestamp child.
    pyspark's ``createDataFrame(pa.Table, schema)`` rebuilds every such
    container for its timestamp localization with all children nullable,
    and its cast back to ``t`` then refuses (seen on
    ``struct<..., when: struct<d: timestamp> NOT NULL>``)."""
    from pyspark.sql.types import (
        ArrayType, MapType, StructType, TimestampNTZType, TimestampType,
    )

    if isinstance(t, StructType):
        kids = [(f.dataType, f.nullable) for f in t.fields]
    elif isinstance(t, ArrayType):
        kids = [(t.elementType, t.containsNull)]
    elif isinstance(t, MapType):
        kids = [(t.keyType, True), (t.valueType, t.valueContainsNull)]
    else:
        return False
    rebuilt = any(
        isinstance(k, (StructType, ArrayType, MapType, TimestampType, TimestampNTZType))
        for k, _ in kids
    )
    return (rebuilt and not all(n for _, n in kids)) or any(
        _localize_drops_not_null(k) for k, _ in kids
    )


def _one_commit(out_dir: str, snapshot_id: int | None, read):
    """Run ``read()`` against one commit state; returns ``(read(),
    delete_file_names)``.  The visible delete files and the manifest view
    must agree — a MERGE flip between the two reads would surface its new
    band WITHOUT its riding masks (both row versions) or the masks WITHOUT
    the band (neither).  Re-reading the delete list after ``read()``
    detects a commit that landed mid-read; retry until stable (bounded —
    lifecycle commits are rare).  Snapshot reads are frozen entries."""
    from rugo_spark import deletes as dl

    def names() -> list[str]:
        if not os.path.isdir(os.path.join(out_dir, dl.DELETES_DIR)):
            return []
        return dl.visible_delete_files(out_dir, snapshot_id)

    for _ in range(4):
        before = names()
        got = read()
        if names() == before:
            break
    return got, before


def plan(
    out_dir: str,
    cols: list[str] | None,
    filters: list[tuple] | None = None,
    keep_ranges: list | None = None,
    snapshot_id: int | None = None,
) -> tuple[list[dict], list[str]]:
    """The driver-side planner every reader shares: ``(rows,
    delete_file_names)`` from one commit state, where ``rows`` are the
    visible manifest rows (``cols``-pruned, restricted to ``keep_ranges``)
    whose min/max stats and bloom may match ``filters``."""
    return _one_commit(
        out_dir,
        snapshot_id,
        lambda: [
            r for r in mf.visible_partitions(out_dir, cols, keep_ranges)
            if _sidecar_keep(r, filters)
        ],
    )


def _plan_cols(filters) -> list[str]:
    """Manifest fields block planning reads: without filters only
    block_path + checksum (a column-pruned segment read never touches the
    bloom bytes); with filters the stats + bloom of the skip tests."""
    return ["block_path", "checksum"] + (["codecs", "bloom_col", "bloom"] if filters else [])


# A Python task costs ~50 ms of its slot before its kernel runs (local[2],
# 4 vCPUs).  A decode task moves ~300 MB/s of Arrow out of its worker (the
# traced mutate full scan: 118 MB in 0.40 s of worker time), so a task of
# this many bytes runs ~0.2 s and the fixed cost stays a small share of it.
# Splitting that scan's 118 MB over 4 tasks instead of 2 made it slower.
_TASK_MIN_BYTES = 64 << 20


def _deal(sizes: list[int] | None, n_items: int, parallelism: int,
          num_tasks: int | None = None) -> list[list[int]]:
    """The task rule: the work item indices of each task.  ``num_tasks``
    tasks when given; else ``parallelism``, or one per ``_TASK_MIN_BYTES``
    of ``sizes`` (bytes per item; None counts items only) when that is
    more; never more than there are items.  Items are dealt largest first
    onto the lightest task (ties: the fewest items, then the lowest task —
    equal items go round-robin), and each task keeps them in item order."""
    import heapq

    weights = sizes if sizes is not None else [1] * n_items
    n = num_tasks or max(parallelism, sum(sizes or ()) // _TASK_MIN_BYTES)
    n = max(1, min(int(n), n_items))
    heap = [(0, 0, t) for t in range(n)]
    shares: list[list[int]] = [[] for _ in range(n)]
    for i in sorted(range(n_items), key=lambda i: -weights[i]):
        load, count, t = heapq.heappop(heap)
        shares[t].append(i)
        heapq.heappush(heap, (load + weights[i], count + 1, t))
    return [sorted(share) for share in shares]


def _task_map(spark: SparkSession, work: dict[str, list] | pa.RecordBatch, kernel, schema,
              sizes: list[int] | None = None, num_tasks: int | None = None) -> DataFrame:
    """The one executor task source: ``kernel`` (a ``mapInArrow`` function
    over RecordBatches of work rows) on ``spark.range(n, numPartitions=n)``,
    which is one stage with no exchange.  ``work`` (equal-length column
    lists, or a RecordBatch) holds one row per unit of work (a block, a
    manifest spec, a split); ``_deal`` splits the rows over ``n`` tasks by
    their byte ``sizes`` (or ``num_tasks``), and each task reads its share
    from a broadcast: the range rows only name the shares."""
    tbl = pa.table(work)
    shares = [
        tbl.take(pa.array(idx, pa.int64())).to_batches()
        for idx in _deal(sizes, tbl.num_rows, spark.sparkContext.defaultParallelism, num_tasks)
    ]
    shares_bc = spark.sparkContext.broadcast(shares)

    def run(rows):
        ids = [t for batch in rows for t in batch.column(0).to_pylist()]
        yield from kernel(b for t in ids for b in shares_bc.value[t])

    return spark.range(len(shares), numPartitions=len(shares)).mapInArrow(run, schema)


def _plan_df_distributed(spark: SparkSession, out_dir: str, filters, keep_ranges=None):
    """Manifest planning as a DataFrame job: the driver only lists sidecar
    FILENAMES and reads the segment catalog; JSON parsing, min/max pruning
    and bloom probes run in a mapInArrow stage over ``mf.scan_specs``.  At
    10⁵–10⁶ blocks a driver-side Python loop over sidecars is the planning
    bottleneck (VERDICT round 1) — this keeps the driver O(#loose files)
    in strings."""
    import pyarrow as _pa

    specs = mf.scan_specs(out_dir, _plan_cols(filters), keep_ranges)

    def planner(batches):
        for batch in batches:
            out_paths, out_crcs = [], []
            for spec_json in batch.column(0).to_pylist():
                for row in mf.iter_spec_rows(json.loads(spec_json)):
                    if _sidecar_keep(row, filters):
                        out_paths.append(row["block_path"])
                        out_crcs.append(int(row["checksum"]))
            if out_paths:
                yield _pa.RecordBatch.from_arrays(
                    [_pa.array(out_paths, type=_pa.string()), _pa.array(out_crcs, type=_pa.int64())],
                    names=["block_path", "checksum"],
                )

    return _task_map(spark, {"spec": [json.dumps(x) for x in specs]}, planner, _PLAN_SCHEMA)


def _decode_plan(
    spark: SparkSession,
    out_dir: str,
    filters: list[tuple] | None,
    keep_ranges: list | None,
    snapshot_id: int | None,
    num_tasks: int | None,
    cols: list[str] | None,
    out_schema,
):
    """``decode_table``'s plan: ``(source, sizes, delete_file_names)``.
    ``source`` is None when no block survives.  A small manifest plans on
    the driver (``plan``) into a ``(block_path, checksum)`` RecordBatch,
    decoded in the driver when the plan is small (``_in_driver`` over the
    decoded ``cols`` and the decoder's ``out_schema``) and ``num_tasks`` is
    not given (``sizes`` None), else dealt over executor tasks by the
    blocks' decoded ``sizes`` (``_task_map``).  A large manifest plans in
    an executor stage over the same specs (``_plan_df_distributed``): a
    DataFrame of those rows, re-split only for an explicit ``num_tasks``."""
    if _plan_on_executors(*mf.manifest_size(out_dir), stats=False):
        man, names = _one_commit(
            out_dir, snapshot_id,
            lambda: _plan_df_distributed(spark, out_dir, filters, keep_ranges),
        )
        if num_tasks:  # else decode runs on the planner's partitioning
            man = man.repartition(max(1, min(int(num_tasks), 4096)))
        return man, None, names
    rows, names = plan(out_dir, _plan_cols(filters) + ["input_bytes"],
                       filters, keep_ranges, snapshot_id)
    if not rows:
        return None, None, names
    src = pa.RecordBatch.from_arrays(
        [pa.array([r["block_path"] for r in rows], pa.string()),
         pa.array([int(r["checksum"]) for r in rows], pa.int64())],
        schema=_PLAN_ARROW,
    )
    if num_tasks is None and _in_driver(rows, cols, out_schema):
        return src, None, names
    return src, [_raw_bytes(r, cols) for r in rows], names


def decode_table(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    num_tasks: int | None = None,
    filters: list[tuple] | None = None,
    verify_checksums: bool = False,
    on_corrupt: str = "error",
    snapshot_id: int | None = None,
) -> DataFrame:
    """Reconstruct the original DataFrame from blocks, no shuffle.
    ``_decode_plan`` deals the blocks over the tasks of one shuffle-free
    stage (``_task_map``), each reading its blocks through ``read_live``.
    ``num_tasks`` sets the task count (capped at the block count); by
    default it is ``defaultParallelism``, or one task per 64 MB of
    decoded Arrow (``_TASK_MIN_BYTES``) when that is more, and never more
    than the blocks.
    Column pruning skips undecoded columns entirely;
    ``filters`` (ANDed ``(col, op, value)`` triples) skip whole blocks via
    manifest min/max stats *and* are re-applied exactly on the decoded rows.

    Planning reads the manifest: small manifests in a driver loop (lowest
    latency), large ones in a Spark stage (scales to 10⁶ blocks);
    ``_plan_on_executors`` picks by manifest size.  A small read — a
    driver plan whose requested columns decode to at most one stripe of
    raw Arrow (``_in_driver``), with no ``num_tasks`` — decodes its blocks
    when ``decode_table`` is called, in this process, and returns a
    LocalRelation over the result: a point lookup's collect starts no
    Spark job.  Every other read decodes lazily, in a ``mapInArrow`` stage.

    ``on_corrupt`` (with ``verify_checksums``): 'error' fails the read on a
    checksum mismatch; 'skip' quarantines the block (logs to stderr, decodes
    the rest; any other read error still fails the job) — the at-scale
    triage mode: one rotted block of 10⁶ shouldn't kill a day-long read,
    and the manifest pins exactly which partition to re-encode.

    ``snapshot_id``: time travel — decode the dataset exactly as it was at
    that snapshot (``manifest.snapshot_log``; the Iceberg as-of-snapshot
    analog).  Within a dataset dir partitions are append-only, so a
    snapshot is a pid-range set and planning simply restricts to it,
    including whole-segment pruning of disjoint segments."""
    return _decode(spark, out_dir, columns, num_tasks, filters, verify_checksums,
                   on_corrupt, snapshot_id)[0]


def _decode(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    num_tasks: int | None = None,
    filters: list[tuple] | None = None,
    verify_checksums: bool = False,
    on_corrupt: str = "error",
    snapshot_id: int | None = None,
) -> tuple[DataFrame, bool]:
    """``decode_table`` → ``(DataFrame, whether it was decoded in the
    driver)``."""
    if on_corrupt not in ("error", "skip"):
        raise ValueError(f"on_corrupt must be 'error' or 'skip', got {on_corrupt!r}")
    if snapshot_id is not None:
        snapshot_id = mf.resolve_snapshot(out_dir, snapshot_id)  # tags ok
    keep_ranges = (
        mf.snapshot_ranges(out_dir, snapshot_id) if snapshot_id is not None else None
    )
    from rugo_spark import deletes as dl

    arrow_schema, spark_schema_json = mf.read_schema(out_dir)
    from pyspark.sql.types import StructType

    full = StructType.fromJson(spark_schema_json)
    # column rename/drop evolution: callers speak LOGICAL names; the whole
    # plan below (stats pruning, blooms, stripe dirs, block decode) runs in
    # the PHYSICAL namespace and the output aliases back at the end
    from rugo_spark import evolution as evo

    _view = evo.column_view(mf.read_schema_payload(out_dir))
    _p2l: dict | None = None
    if _view:
        _l2p, _p2l = evo.maps(_view)
        columns = evo.translate_columns(columns, _l2p, "columns")
        filters = evo.translate_filters(filters, _l2p)
        if columns is None and any(e.get("dropped") for e in _view):
            columns = evo.live_physical(_view)  # hide dropped columns

    def _to_logical(df: DataFrame) -> DataFrame:
        if not _p2l or all(_p2l.get(c, c) == c for c in df.columns):
            return df
        import pyspark.sql.functions as F

        return df.select([F.col(c).alias(_p2l.get(c, c)) for c in df.columns])

    filters = _normalize_temporal_filters(full, filters)
    # filters referencing non-projected columns: decode them too, filter
    # exactly, then drop them (otherwise the exact re-apply would hit an
    # unresolved column)
    extra_filter_cols: list[str] = []
    if columns and filters:
        extra_filter_cols = [
            c for c, _, _ in filters if c not in set(columns) and c in full.names
        ]
    if columns:
        want = set(columns) | set(extra_filter_cols)
        out_schema = StructType([f for f in full.fields if f.name in want])
    else:
        out_schema = full
    decode_cols = (list(columns) + extra_filter_cols) if columns else None
    src, sizes, names = _decode_plan(
        spark, out_dir, filters, keep_ranges, snapshot_id, num_tasks, decode_cols, out_schema
    )
    if src is None:
        return _to_logical(_arrow_df(spark, [], out_schema)), True
    masks_raw: dict = dl.load_raw(out_dir, names) if names else {}

    def decoder(batches, masks):
        for batch in batches:
            for path, crc in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                live = read_live(
                    path, arrow_schema, decode_cols, filters,
                    masks.get(_pid_of_block_path(path), ()) if masks else (),
                    crc if verify_checksums else None,
                )
                try:
                    yield from live
                except ChecksumMismatch as e:
                    if on_corrupt != "skip":
                        raise
                    import sys as _sys

                    print(f"rugo_spark: QUARANTINED {e}", file=_sys.stderr)

    in_driver = isinstance(src, pa.RecordBatch) and sizes is None
    if in_driver:
        out = _arrow_df(spark, decoder([src], masks_raw), out_schema)
    else:
        masks_bc = spark.sparkContext.broadcast(masks_raw) if masks_raw else None

        def kernel(it):
            return decoder(it, masks_bc.value if masks_bc is not None else {})

        out = (
            src.mapInArrow(kernel, out_schema) if sizes is None
            else _task_map(spark, src, kernel, out_schema, sizes, num_tasks)
        )
    if filters:
        import pyspark.sql.functions as F

        for c, op, v in filters:
            col = F.col(c)
            if op == "isnull":
                out = out.filter(col.isNull())
            elif op == "notnull":
                out = out.filter(col.isNotNull())
            else:
                out = out.filter(
                    col.isin(*list(v)) if op == "in" else
                    {"=": col == v, "<": col < v, "<=": col <= v, ">": col > v,
                     ">=": col >= v}[op]
                )
    if extra_filter_cols:
        out = out.select(*columns)
    return _to_logical(out), in_driver


def _subtract_ranges(a: list, b: list) -> list[list[int]]:
    """Half-open pid ranges in ``a`` not covered by ``b`` (boundary sweep)."""
    out: list[list[int]] = []
    b_sorted = sorted((int(lo), int(hi)) for lo, hi in b)
    for lo, hi in sorted((int(lo), int(hi)) for lo, hi in a):
        cur = lo
        for blo, bhi in b_sorted:
            if bhi <= cur or blo >= hi:
                continue
            if blo > cur:
                out.append([cur, blo])
            cur = max(cur, bhi)
            if cur >= hi:
                break
        if cur < hi:
            out.append([cur, hi])
    return out


def cdc_window(
    out_dir: str, from_snapshot: int, to_snapshot: int
) -> dict:
    """Validated CDC window between two snapshot ids — the first step of
    :func:`cdc_plan`.  Returns ``{"from_entry", "to_entry", "from_ranges",
    "to_ranges", "new_ranges", "delete_diffs"}`` where ``delete_diffs``
    maps pre-existing pids to the np.uint32 positions newly masked inside
    the window.  Raises when the window crosses a rollback (pid ranges or
    mask positions shrank — the log was rewritten, the diff is
    undefined)."""
    import numpy as np

    from rugo_spark import deletes as dl

    log = mf.snapshot_log(out_dir, strict=True)
    if not log:
        raise ValueError(f"{out_dir} has no snapshot log")
    by_id = {int(e["id"]): e for e in log}
    for s in (from_snapshot, to_snapshot):
        if int(s) not in by_id:
            raise ValueError(
                f"unknown snapshot_id {s} for {out_dir}; available: {sorted(by_id)}"
            )
    if int(from_snapshot) > int(to_snapshot):
        raise ValueError(
            f"from_snapshot {from_snapshot} is newer than to_snapshot {to_snapshot}"
        )
    e_from, e_to = by_id[int(from_snapshot)], by_id[int(to_snapshot)]
    fr, tr = e_from.get("ranges") or [], e_to.get("ranges") or []
    if _subtract_ranges(fr, tr):
        raise ValueError(
            f"snapshot {from_snapshot}→{to_snapshot} of {out_dir} loses pid "
            "ranges — the window crosses a rollback; CDC across a rewritten "
            "log is undefined"
        )
    raw_from = dl.load_raw(out_dir, sorted(e_from.get("delete_files") or []))
    raw_to = dl.load_raw(out_dir, sorted(e_to.get("delete_files") or []))
    fr_set = mf.RangeSet(fr)
    diffs: dict[int, "np.ndarray"] = {}
    for pid in sorted(set(raw_to) | set(raw_from)):
        to_pos = (
            dl.union_positions(raw_to[pid])
            if pid in raw_to
            else np.empty(0, dtype=np.uint32)
        )
        from_pos = (
            dl.union_positions(raw_from[pid])
            if pid in raw_from
            else np.empty(0, dtype=np.uint32)
        )
        if len(np.setdiff1d(from_pos, to_pos)):
            raise ValueError(
                f"snapshot {from_snapshot}→{to_snapshot} of {out_dir} "
                f"un-deletes positions on pid {pid} — the window crosses a "
                "rollback; CDC across a rewritten log is undefined"
            )
        if pid not in fr_set:
            continue  # masks on in-window pids: never visible at either end
        d = np.setdiff1d(to_pos, from_pos).astype(np.uint32)
        if len(d):
            diffs[pid] = d
    return {
        "from_entry": e_from, "to_entry": e_to,
        "from_ranges": fr, "to_ranges": tr,
        "new_ranges": _subtract_ranges(tr, fr),
        "delete_diffs": diffs,
    }


def cdc_plan(out_dir: str, from_snapshot: int, to_snapshot: int) -> list[tuple]:
    """The CDC planner behind :func:`read_changes` and the ``rugo_cdc``
    stream: the window's ``(kind, block_path, mask)`` rows, pid-sorted.

    - ``insert``: each block added inside the window, with the END state's
      raw mask entries (a row appended then deleted inside the window was
      never visible at either endpoint — not a change);
    - ``delete``: each pre-existing block with newly-masked rows, with ONE
      entry holding exactly those positions.

    Raises when the window crosses a rollback (``cdc_window``) or a pid
    resolves to no manifest row (``manifest.load_rows``)."""
    from rugo_spark import deletes as dl

    win = cdc_window(out_dir, from_snapshot, to_snapshot)
    parts: list[tuple] = []
    ins_pids = [p for lo, hi in win["new_ranges"] for p in range(int(lo), int(hi))]
    if ins_pids:
        to_masks = dl.load_raw(out_dir, sorted(win["to_entry"].get("delete_files") or []))
        rows = mf.load_rows(out_dir, ins_pids)
        for pid in ins_pids:
            parts.append(("insert", rows[pid]["block_path"], tuple(to_masks.get(pid) or ())))
    diffs = win["delete_diffs"]
    if diffs:
        rows = mf.load_rows(out_dir, sorted(diffs))
        for pid in sorted(diffs):
            # positions ride COMPRESSED (pos32/bitmap/all, zstd'd) — a mass
            # retention delete of 1M-row blocks would otherwise put ~4 MB of
            # raw uint32 per block on the driver and in every task payload
            n_rows = int(rows[pid]["n_rows"])
            enc, data = dl.encode_positions(diffs[pid], n_rows)
            parts.append(("delete", rows[pid]["block_path"], ((enc, data, n_rows),)))
    return parts


def read_cdc_block(kind: str, path: str, mask, schema: pa.Schema,
                   columns: list[str] | None = None, p2l: dict | None = None):
    """The CDC kernel: one :func:`cdc_plan` row → RecordBatches of the
    ``columns`` (physical; ``p2l`` renames them to logical) plus
    ``_change_type``.  An insert is the block read live under its mask; a
    delete decodes the whole block and takes exactly the masked positions."""
    if kind == "insert":
        batches = read_live(path, schema, columns, mask=mask)
    else:
        from rugo_spark import deletes as dl

        tbl = pa.Table.from_batches(list(read_live(path, schema, columns)))
        pos = dl.union_positions(list(mask)).astype("int64")
        batches = tbl.take(pa.array(pos)).to_batches()
    for batch in batches:
        if p2l:
            batch = batch.rename_columns([p2l.get(c, c) for c in batch.schema.names])
        if batch.num_rows:
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [pa.array([kind] * batch.num_rows, type=pa.string())],
                names=list(batch.schema.names) + ["_change_type"],
            )


def read_changes(
    spark: SparkSession,
    out_dir: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Incremental / CDC read (the Iceberg incremental-scan / Delta Change
    Data Feed analog): the NET row changes between two snapshots, as the
    dataset's columns plus ``_change_type`` ('insert' | 'delete').

    Everything derives from two snapshot entries — each carries its
    cumulative pid ranges and delete-file list — so the diff costs two log
    reads plus decodes proportional to the CHANGE, not the table:
    :func:`cdc_plan` lists the added blocks (inserts, under the TO state's
    masks) and the pre-existing blocks with newly-masked positions
    (deletes), and one ``mapInArrow`` of :func:`read_cdc_block` decodes
    them — the same planner and kernel as the ``rugo_cdc`` stream.

    Raises if the window crosses a rollback (pid ranges or mask positions
    shrank — the log was rewritten, the diff is undefined)."""
    from pyspark.sql.types import StringType, StructField, StructType

    log = mf.snapshot_log(out_dir, strict=True)
    if not log:
        raise ValueError(f"{out_dir} has no snapshot log")
    from_snapshot = mf.resolve_snapshot(out_dir, from_snapshot)  # tags ok
    if to_snapshot is not None:
        to_snapshot = mf.resolve_snapshot(out_dir, to_snapshot)
    if to_snapshot is None:
        to_snapshot = int(log[-1]["id"])
    parts = cdc_plan(out_dir, int(from_snapshot), int(to_snapshot))
    arrow_schema, spark_schema_json = mf.read_schema(out_dir)
    full = StructType.fromJson(spark_schema_json)
    # rename/drop evolution: CDC rows surface under the CURRENT logical
    # view (Delta CDF reads under the latest schema too); the kernel
    # decodes physically and renames per batch
    from rugo_spark import evolution as evo

    _view = evo.column_view(mf.read_schema_payload(out_dir))
    _p2l: dict = {}
    _live_phys: list[str] | None = None
    if _view:
        _, _p2l = evo.maps(_view)
        _live_phys = evo.live_physical(_view)
        by_name = {f.name: f for f in full.fields}
        full = StructType([
            StructField(_p2l[p], by_name[p].dataType, by_name[p].nullable)
            for p in _live_phys
        ])
    out_schema = StructType(
        list(full.fields) + [StructField("_change_type", StringType(), False)]
    )
    if not parts:
        return spark.createDataFrame([], out_schema)

    def changes(batches):
        for batch in batches:
            for kind, path, mask in zip(*(c.to_pylist() for c in batch.columns)):
                yield from read_cdc_block(
                    kind, path, json.loads(mask), arrow_schema, _live_phys, _p2l
                )

    return _task_map(
        spark,
        {"kind": [k for k, _, _ in parts], "block_path": [p for _, p, _ in parts],
         "mask": [json.dumps(m) for _, _, m in parts]},
        changes, out_schema,
    )
