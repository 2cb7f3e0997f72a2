"""Spark Python DataSource: the encoded block format as a first-class format.

    spark.dataSource.register(RugoDataSource)
    df = spark.read.format("rugo").load("/data/encoded")          # scan
    df.write.format("rugo").mode("overwrite").save("/data/enc2")  # encode

Catalyst plans the scan as a PythonScan whose ``pushFilters`` prunes blocks
through the manifest (min/max + bloom) and stripes (RGS2 directory) before a
single data byte is opened — the same pruning surface ``decode_table`` uses,
now reachable from ``spark.read``/``spark.sql`` over a registered format.
Pruning is conservative: every pushed filter is also RETURNED to Spark
("partially pushed" per the API contract), so correctness never depends on
the skip tests.  Writes are the shuffle-free map-only encode (one block per
input split, sidecars committed only on job success); a dataset written here
is byte-compatible with ``encode_table``/``decode_table`` and vice versa.

Functional parity note: the reference exposes its reader as a *library*
(``rugo.parquet.read_metadata``); this module is the Spark-native equivalent
surface (register once, query anywhere — including SQL via
``CREATE TABLE ... USING rugo``).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_PUSHABLE = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    In: "in",
    IsNull: "isnull",
    IsNotNull: "notnull",
}


def _dataset_dir(options) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("rugo datasource needs a path: .load('/dataset/dir')")
    return path


def _dataset_roots(path: str) -> list[str]:
    """A plain dataset is its own root; a streaming/epoch dataset (no root
    ``_schema.json``, ``batch=N``/``epoch=N`` children) unions its epochs —
    so ``format('rugo').load()`` works directly on a stream sink's output."""
    if os.path.exists(os.path.join(path, "_schema.json")):
        return [path]
    subs = sorted(
        os.path.join(path, d)
        for d in (os.listdir(path) if os.path.isdir(path) else [])
        if (d.startswith("batch=") or d.startswith("epoch="))
        and os.path.exists(os.path.join(path, d, "_schema.json"))
    )
    if not subs:
        raise FileNotFoundError(f"not an encoded dataset (missing _schema.json): {path}")
    return subs


@dataclass
class RugoInputPartition(InputPartition):
    block_path: str
    checksum: int
    # raw delete-mask entries for this block ((enc, data_b64, n_rows), …)
    # — still zstd'd; the one task reading the block decodes them
    mask: tuple = ()


class RugoReader(DataSourceReader):
    """One input partition per surviving block; stripe pruning inside."""

    def __init__(self, options, schema: StructType) -> None:
        self.roots = _dataset_roots(_dataset_dir(options))
        self.verify = str(options.get("verifychecksums", "false")).lower() == "true"
        from rugo_spark import manifest as mf

        arrow_schema, _ = mf.read_schema(self.roots[0])
        # ship the schema as IPC bytes (picklable) — workers rebuild it
        self._schema_bytes = arrow_schema.serialize().to_pybytes()
        self.columns: list[str] | None = None
        # rename/drop evolution: Spark speaks the LOGICAL view; pruning,
        # stats and block decode run physically, batches rename on yield
        from rugo_spark import evolution as evo

        view = evo.column_view(mf.read_schema_payload(self.roots[0]))
        self._l2p, self._p2l = evo.maps(view) if view else ({}, {})
        wanted = [self._l2p.get(f.name, f.name) for f in schema.fields]
        # ordered compare: block decode is positional, so a reordered full
        # projection still needs an explicit column list
        if wanted != list(arrow_schema.names):
            self.columns = wanted
        self.filters: list[tuple] = []

    def pushFilters(self, filters: Sequence[Filter]):  # noqa: N802 (API name)
        """Record prunable predicates; return EVERY filter so Spark still
        evaluates them exactly (pruning is a skip-test, not a guarantee)."""
        self.filters = []  # fresh per planning pass (reader may be reused)
        for f in filters:
            op = _PUSHABLE.get(type(f))
            if op in ("isnull", "notnull"):
                ok_value, value = True, None  # attribute-only filters
            else:
                value = getattr(f, "value", None)
                ok_value = op is not None and (
                    isinstance(value, (int, float, str, bool))
                    or (
                        op == "in"
                        and isinstance(value, tuple)
                        and all(isinstance(x, (int, float, str, bool))
                                for x in value)
                    )
                )
            if ok_value and len(f.attribute) == 1:
                self.filters.append(
                    (self._l2p.get(f.attribute[0], f.attribute[0]), op, value)
                )
            yield f

    def partitions(self):
        from rugo_spark import deletes as dl
        from rugo_spark.engine import _plan_cols, plan

        parts = []
        for root in self.roots:
            rows, names = plan(root, _plan_cols(self.filters), self.filters or None)
            masks: dict = dl.load_raw(root, names) if names else {}
            for row in rows:
                raw = masks.get(int(row["partition_id"]))
                parts.append(
                    RugoInputPartition(
                        row["block_path"],
                        int(row["checksum"]),
                        tuple(tuple(e) for e in raw) if raw else (),
                    )
                )
        # Spark requires ≥1 partition; an empty/full-pruned dataset reads as
        # a no-op partition (read() yields nothing for a missing path)
        return parts or [RugoInputPartition("", 0)]

    def read(self, partition: RugoInputPartition) -> Iterator:
        if not partition.block_path:
            return
        import pyarrow as pa

        from rugo_spark.engine import read_live

        schema = pa.ipc.read_schema(pa.py_buffer(self._schema_bytes))
        order = self.columns if self.columns is not None else list(schema.names)
        # pushFilters returned every filter, so Spark re-applies them after
        # read_live's stripe skipping (or its full decode of a masked block)
        for batch in read_live(
            partition.block_path, schema, self.columns, self.filters or None,
            partition.mask, partition.checksum if self.verify else None,
        ):
            batch = batch.select(order)
            if self._p2l:
                batch = batch.rename_columns(
                    [self._p2l.get(c, c) for c in batch.schema.names]
                )
            yield batch


@dataclass
class RugoCommit(WriterCommitMessage):
    sidecar: str  # JSON sidecar row (None-rows partitions send "")


class _StagedTaskWriter:
    """The task side of the batch and stream ``format('rugo')`` writers:
    each task encodes its rows to an attempt-unique staging block (concurrent
    speculative attempts cannot collide on a temp name) and sends the
    sidecar row to the driver's ``commit``; ``abort`` drops staged blocks."""

    def write(self, iterator) -> RugoCommit:
        import pyarrow as pa
        from pyspark import TaskContext

        from rugo_spark.engine import encode_block_row

        ctx = TaskContext.get()
        pid, attempt = ctx.partitionId(), ctx.taskAttemptId()
        batch_list = list(iterator)
        if not batch_list:
            return RugoCommit("")
        tbl = pa.Table.from_batches(batch_list)
        if tbl.num_rows == 0:
            return RugoCommit("")
        path = os.path.join(self.staging, f"a{attempt}-p{pid}.rgb")
        row = encode_block_row(
            tbl, path, pid, sort_key=self.sort_key, size_col=self.size_col
        )
        return RugoCommit(json.dumps(row, default=str))

    def abort(self, messages, batchId: int | None = None) -> None:  # noqa: N803 (API name)
        # drop staged files; the previous dataset (manifest + blocks) is
        # untouched because nothing is cleared or published before commit()
        for m in messages:
            if m is not None and m.sidecar:
                try:
                    os.remove(json.loads(m.sidecar)["block_path"])
                except OSError:
                    pass


class RugoWriter(_StagedTaskWriter, DataSourceArrowWriter):
    """Map-only encode under the V2 commit protocol.  Tasks encode to
    attempt-unique STAGING files (concurrent speculative attempts cannot
    collide on a temp name); ``commit()`` publishes blocks + sidecars +
    schema in one pass, so a failed job leaves the previous dataset fully
    intact — overwrite clears the old manifest only at commit time.  Append
    validates the incoming schema against the stored one during planning
    (block decode is positional: a reordered/re-typed append would corrupt
    every existing block) and numbers new blocks after the existing ones."""

    def __init__(self, options, schema: StructType, overwrite: bool) -> None:
        self.out_dir = _dataset_dir(options)
        self.sort_key = options.get("sortkey")
        self.size_col = options.get("sizecol")
        self.overwrite = overwrite
        self._schema_json = schema.json()
        from pyspark.sql.pandas.types import to_arrow_schema

        self._arrow_schema_bytes = to_arrow_schema(schema).serialize().to_pybytes()
        self.staging = os.path.join(self.out_dir, ".staging")
        if not overwrite:
            from rugo_spark import manifest as mf

            try:
                existing, _ = mf.read_schema(self.out_dir)
            except FileNotFoundError:
                existing = None
            if existing is not None:
                from rugo_spark import evolution as evo

                payload = mf.read_schema_payload(self.out_dir)
                view = evo.column_view(payload)
                if view and any(e.get("as") or e.get("dropped") for e in view):
                    raise ValueError(
                        f"{self.out_dir} has renamed/dropped columns; "
                        "format('rugo') append does not translate the "
                        "logical view — use engine.append_table, which does"
                    )
                if (payload or {}).get("constraints"):
                    raise ValueError(
                        f"{self.out_dir} has CHECK constraints "
                        f"{sorted(payload['constraints'])}; format('rugo') "
                        "append cannot evaluate them in its writer tasks — "
                        "use engine.append_table, which does"
                    )
                import pyarrow as pa

                incoming = pa.ipc.read_schema(pa.py_buffer(self._arrow_schema_bytes))
                have = [(f.name, str(f.type)) for f in existing]
                want = [(f.name, str(f.type)) for f in incoming]
                if have != want:
                    raise ValueError(
                        f"append schema mismatch for {self.out_dir}: dataset has "
                        f"{have}, write has {want} (block decode is positional — "
                        "use mode('overwrite') to replace the dataset)"
                    )

    def commit(self, messages) -> None:
        import shutil

        import pyarrow as pa

        from rugo_spark import manifest as mf

        rows = [json.loads(m.sidecar) for m in messages if m is not None and m.sidecar]
        if self.overwrite:
            # clears segments + catalog too — cataloged segments would
            # resurrect the old partitions after an overwrite
            mf.clear_manifest(self.out_dir)
            offset = 0
        else:
            done = mf.completed_partitions(self.out_dir)
            # allocate ABOVE every append-band reservation too: landing
            # inside a reserved band would let a crashed append_table's
            # resume skip splits it never wrote (pids taken by this writer)
            reserved_ends = [
                int(m["base"]) + mf.APPEND_BAND - 1
                for m in mf.append_reservations(self.out_dir)
                if int(m.get("base", -1)) >= 0
            ]
            offset = 1 + max(
                [int(r["partition_id"]) for r in done] + reserved_ends + [-1]
            )
            # mirror append_table's band-overflow guard: the manifest stores
            # partition_id as int32, and a pid at/past 2**31 would silently
            # wrap in the manifest DataFrame (ADVICE r4).  Bound by the MAX
            # incoming partition index, not the row count — empty partitions
            # send no message, so len(rows) undercounts the id span
            # (review r5).
            max_incoming = max((int(r["partition_id"]) for r in rows), default=-1)
            if offset + max_incoming + 1 > 2**31:
                raise ValueError(
                    f"append offset {offset} (+ partition index {max_incoming}) "
                    "would overflow the manifest's int32 partition ids: compact "
                    "the dataset (compact_dataset rewrites ids densely and "
                    "clears append markers) to reclaim the id space"
                )
        arrow_schema = pa.ipc.read_schema(pa.py_buffer(self._arrow_schema_bytes))
        # an append keeps the dataset's durable keys (z-order spec, column
        # view, size_col; constraints refuse the append in __init__)
        kept = (
            {} if self.overwrite
            else mf.durable_payload(mf.read_schema_payload(self.out_dir), also=("size_col",))
        )
        mf.write_schema(self.out_dir, arrow_schema, self._schema_json, kept)
        for row in rows:
            pid = offset + int(row["partition_id"])
            dst = os.path.join(self.out_dir, mf.BLOCKS_DIR, f"part-{pid:06d}.rgb")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(row["block_path"], dst)
            row["partition_id"], row["block_path"] = pid, dst
            mf.write_sidecar(self.out_dir, row)
        mf.commit_snapshot(self.out_dir, "overwrite" if self.overwrite else "append")
        shutil.rmtree(self.staging, ignore_errors=True)


class RugoStreamWriter(_StagedTaskWriter, DataSourceStreamArrowWriter):
    """``writeStream.format('rugo')``: micro-batch ``n`` lands in
    ``<path>/batch=<n>/`` — the exact layout ``encode_stream``'s foreachBatch
    sink produces, so ``decode_batches`` reads either.  Tasks encode to a
    staging file (the batch id is only known at commit time); ``commit``
    publishes blocks + sidecars into the epoch namespace atomically, so a
    replayed epoch overwrites itself idempotently (deterministic encode) and
    a failed batch never surfaces in any manifest."""

    def __init__(self, options, schema: StructType, overwrite: bool) -> None:
        self.out_dir = _dataset_dir(options)
        self.sort_key = options.get("sortkey")
        self.size_col = options.get("sizecol")
        self._schema_json = schema.json()
        from pyspark.sql.pandas.types import to_arrow_schema

        self._arrow_schema_bytes = to_arrow_schema(schema).serialize().to_pybytes()
        self.staging = os.path.join(self.out_dir, ".staging")

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        import shutil

        import pyarrow as pa

        from rugo_spark import manifest as mf

        epoch_dir = os.path.join(self.out_dir, f"batch={batchId}")
        # Publish atomically: assemble the full epoch (schema + blocks +
        # sidecars) in a dot-prefixed staging dir that no reader's
        # ``batch=*`` listing can match, then rename it into place as the
        # LAST step.  A driver crash mid-commit leaves either the complete
        # old epoch or no epoch — never a partially-populated ``batch=N``
        # whose ``_schema.json`` makes format('rugo') silently read a subset
        # of its rows (ADVICE r3).
        tmp_dir = os.path.join(self.out_dir, f".batch-{batchId}.inprogress")
        shutil.rmtree(tmp_dir, ignore_errors=True)
        arrow_schema = pa.ipc.read_schema(pa.py_buffer(self._arrow_schema_bytes))
        mf.write_schema(tmp_dir, arrow_schema, self._schema_json)
        for m in messages:
            if m is None or not m.sidecar:
                continue
            row = json.loads(m.sidecar)
            dst = os.path.join(
                tmp_dir, mf.BLOCKS_DIR, f"part-{int(row['partition_id']):06d}.rgb"
            )
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(row["block_path"], dst)
            # sidecar paths are epoch-relative at read time only via this
            # rewrite: record the FINAL path the rename will produce
            row["block_path"] = os.path.join(
                epoch_dir, mf.BLOCKS_DIR, os.path.basename(dst)
            )
            mf.write_sidecar(tmp_dir, row)
        # completeness marker INSIDE the staged dir: the atomic rename below
        # publishes epoch + marker together, so decode_batches sees this
        # epoch the instant (and only the instant) it is whole
        from rugo_spark.streaming import EPOCH_MARKER

        with open(os.path.join(tmp_dir, EPOCH_MARKER), "w") as f:
            f.write(str(batchId))
        # a replayed epoch is a FULL replacement: drop any previous attempt
        # (retry with fewer partitions must not leave stale blocks), then
        # publish with one rename
        shutil.rmtree(epoch_dir, ignore_errors=True)
        os.rename(tmp_dir, epoch_dir)


class RugoDataSource(DataSource):
    """``spark.dataSource.register(RugoDataSource)`` → format name 'rugo'."""

    @classmethod
    def name(cls) -> str:
        return "rugo"

    def schema(self):
        from rugo_spark import evolution as evo
        from rugo_spark import manifest as mf

        root = _dataset_roots(_dataset_dir(self.options))[0]
        _, spark_schema = mf.read_schema(root)
        st = StructType.fromJson(spark_schema)
        view = evo.column_view(mf.read_schema_payload(root))
        if view:
            # expose the LOGICAL view: dropped columns hidden, renames applied
            from pyspark.sql.types import StructField

            by_name = {f.name: f for f in st.fields}
            st = StructType([
                StructField(evo.logical_name(e), by_name[e["name"]].dataType,
                            by_name[e["name"]].nullable)
                for e in view if not e.get("dropped")
            ])
        cols = self.options.get("columns")
        if cols:
            want = [c.strip() for c in cols.split(",")]
            by_name = {f.name: f for f in st.fields}
            missing = [c for c in want if c not in by_name]
            if missing:
                raise KeyError(f"unknown columns {missing}; dataset has {list(by_name)}")
            st = StructType([by_name[c] for c in want])
        return st

    def reader(self, schema: StructType) -> RugoReader:
        return RugoReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> RugoWriter:
        return RugoWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):  # noqa: N802
        return RugoStreamWriter(self.options, schema, overwrite)


@dataclass
class RugoCDCPartition(InputPartition):
    kind: str          # 'insert' | 'delete'
    block_path: str
    # insert: the END state's raw mask entries for this block ((enc, data,
    # n_rows), …) — a row appended then deleted inside the window was never
    # visible at either endpoint, so it is not a change.
    # delete: ONE compressed position set — exactly the newly-masked rows.
    mask: tuple = ()


class RugoCDCStreamReader(DataSourceStreamReader):
    """``readStream.format('rugo_cdc')``: tail a dataset's snapshot log as
    a change stream (the Delta Change Data Feed / Iceberg incremental-scan
    analog, as a first-class Structured Streaming source).

    Offsets ARE snapshot ids — durable, monotone, and exactly the unit the
    commit protocol already makes atomic, so each micro-batch is the NET
    row change between two committed snapshots, planned and decoded by the
    batch ``read_changes``' planner and kernel (``engine.cdc_plan``,
    ``engine.read_cdc_block``): inserts decode only the pid ranges added in
    the window (under the end state's masks), deletes decode only the
    touched pre-existing blocks and take exactly the newly-masked
    positions.  A window crossing a rollback fails the query loudly — CDC
    over a rewritten log is undefined, and a silent skip would look like
    data loss downstream.

    ``startingSnapshot`` option: ``latest`` (default — only NEW changes),
    ``earliest`` (everything after the first snapshot), an id, or a tag."""

    def __init__(self, options, schema: StructType) -> None:
        from rugo_spark import evolution as evo
        from rugo_spark import manifest as mf

        self.root = _dataset_dir(options)
        arrow_schema, _ = mf.read_schema(self.root)
        self._schema_bytes = arrow_schema.serialize().to_pybytes()
        view = evo.column_view(mf.read_schema_payload(self.root))
        self._p2l = evo.maps(view)[1] if view else {}
        self._live = evo.live_physical(view) if view else None
        log = mf.snapshot_log(self.root, strict=True)
        if not log:
            raise ValueError(
                f"{self.root} has no snapshot log — encode/append once "
                "before tailing it as a change stream"
            )
        start = str(options.get("startingsnapshot", "latest"))
        if start.lower() == "latest":
            self._initial = int(log[-1]["id"])
        elif start.lower() == "earliest":
            self._initial = int(log[0]["id"])
        else:
            ref = int(start) if start.lstrip("-").isdigit() else start
            self._initial = mf.resolve_snapshot(self.root, ref)

    @staticmethod
    def _entry_fp(entry: dict | None) -> str:
        import hashlib
        import json as _json

        if entry is None:
            return ""
        return hashlib.sha1(
            _json.dumps(entry, sort_keys=True, default=str).encode()
        ).hexdigest()[:16]

    def _offset(self, sid: int) -> dict:
        from rugo_spark import manifest as mf

        log = mf.snapshot_log(self.root, strict=True)
        entry = next((e for e in log if int(e["id"]) == sid), None)
        return {"snapshot": sid, "fp": self._entry_fp(entry)}

    def initialOffset(self) -> dict:
        return self._offset(self._initial)

    def latestOffset(self) -> dict:
        from rugo_spark import manifest as mf

        log = mf.snapshot_log(self.root, strict=True)
        tip = int(log[-1]["id"]) if log else self._initial
        return self._offset(max(tip, self._initial))

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from rugo_spark import manifest as mf
        from rugo_spark.engine import cdc_plan

        a, b = int(start["snapshot"]), int(end["snapshot"])
        # Offset identity check FIRST: rollback reuses snapshot ids, so the
        # checkpointed start id could now name a DIFFERENT state — emitting
        # a diff against it would be silently-wrong deltas downstream.
        want_fp = start.get("fp")
        if want_fp:
            log = mf.snapshot_log(self.root, strict=True)
            cur = next((e for e in log if int(e["id"]) == a), None)
            if self._entry_fp(cur) != want_fp:
                raise ValueError(
                    f"checkpointed snapshot {a} of {self.root} no longer "
                    "matches the log (a rollback rewrote history under this "
                    "stream); restart the query from a fresh checkpoint"
                )
        if a >= b:
            return []
        return [RugoCDCPartition(*row) for row in cdc_plan(self.root, a, b)]

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; the log itself is immutable

    def read(self, partition: RugoCDCPartition) -> Iterator:
        import pyarrow as pa

        from rugo_spark.engine import read_cdc_block

        schema = pa.ipc.read_schema(pa.py_buffer(self._schema_bytes))
        yield from read_cdc_block(
            partition.kind, partition.block_path, partition.mask, schema,
            self._live, self._p2l,
        )


class RugoCDCDataSource(DataSource):
    """``format('rugo_cdc')`` — the change-stream view of an encoded
    dataset: the dataset's logical columns plus ``_change_type``."""

    @classmethod
    def name(cls) -> str:
        return "rugo_cdc"

    def schema(self):
        from pyspark.sql.types import StringType, StructField

        base = RugoDataSource.schema(self)
        return StructType(
            list(base.fields)
            + [StructField("_change_type", StringType(), False)]
        )

    def streamReader(self, schema: StructType) -> RugoCDCStreamReader:  # noqa: N802
        return RugoCDCStreamReader(self.options, schema)


def register(spark) -> None:
    """Idempotent convenience: make ``format('rugo')`` (batch + stream
    write) and ``format('rugo_cdc')`` (change-stream read) available."""
    try:
        # runtime SQL conf; without it Spark refuses a reader implementing
        # pushFilters (sessions built by rugo_spark.session set it already)
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # locked-down conf: reads still work if the session enabled it
    spark.dataSource.register(RugoDataSource)
    spark.dataSource.register(RugoCDCDataSource)
