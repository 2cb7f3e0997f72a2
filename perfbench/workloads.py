"""The closed-loop workloads, each driven by one client through the
library's public functions only.

A workload has a ``prepare`` step (program-side work its reads need, part of
set-up time) and a ``round`` of operations.  Set-up ends with discarded warm
rounds, so every operation's first calls (Python worker start, imports, JIT)
stay out of the samples.  Every call is one span and every output is
checked; a failed check counts as a failed operation.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import traceback

import numpy as np


class Failure(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise Failure(what)


class Ctx:
    """What a workload sees: the session, the inputs, its work directory,
    the span recorder, the samples, and the attempted / failed counters."""

    def __init__(self, spark, inputs, work: str, spans, seed: int):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.spans = spans
        self.rng = np.random.default_rng(seed)
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.warm = False  # warm-up rounds record no samples

    @contextlib.contextmanager
    def operation(self, name: str):
        """Count one operation.  An exception inside it - from the call or
        from a check on its output - counts it as failed and is reported on
        stderr; the run goes on.  ``state["ok"]`` tells the caller."""
        self.attempted += 1
        state = {"ok": False}
        try:
            yield state
            state["ok"] = True
        except Exception as exc:  # a failing operation is counted, not fatal
            self.failed += 1
            print(f"FAILED {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)

    def call(self, name: str, fn, check=None, sample: str | None = None):
        """Run one operation as a span and check its output.

        Returns the call's result, or None when it raised or failed its
        check.  ``sample`` names the sample list its wall time goes to."""
        with self.operation(name) as state:
            with self.spans.span(name) as rec:
                out = fn()
            if check is not None:
                check(out)
        if not state["ok"]:
            return None
        if sample is not None:
            self.add(sample, rec["end"] - rec["start"])
        return out

    def add(self, key: str, value: float) -> None:
        if not self.warm:
            self.samples.setdefault(key, []).append(value)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _df(ctx, files):
    return ctx.spark.read.parquet(*files)


def _dataset_bytes(out_dir: str) -> int:
    blocks = os.path.join(out_dir, "blocks")
    return sum(os.path.getsize(os.path.join(blocks, f)) for f in os.listdir(blocks))


def _lookup(ctx, ds: str, doc_id: str, want: int) -> None:
    """Point lookup through ``decode_table`` with a filter.  Planning (the
    call returning its DataFrame) and the action are separate spans; the
    pair is one operation and one sample."""
    from rugo_spark.engine import decode_table

    with ctx.operation("lookup") as state:
        with ctx.spans.span("engine.decode_table") as plan:
            q = decode_table(ctx.spark, ds, columns=["doc_id", "n_tok"], filters=[("doc_id", "=", doc_id)])
        with ctx.spans.span("engine.lookup_exec") as run:
            rows = q.collect()
        expect(len(rows) == 1, f"lookup {doc_id} returned {len(rows)} rows")
        expect(rows[0]["n_tok"] == want, f"lookup {doc_id} n_tok {rows[0]['n_tok']} != {want}")
    if state["ok"]:
        ctx.add("lookup", run["end"] - plan["start"])


def _ds_lookup(ctx, ds: str, doc_id: str, want: int) -> None:
    import pyspark.sql.functions as F

    def run():
        return (ctx.spark.read.format("rugo").load(ds)
                .filter(F.col("doc_id") == doc_id).select("n_tok").collect())

    def check(rows):
        expect(len(rows) == 1 and rows[0]["n_tok"] == want,
               f"datasource lookup {doc_id} returned {rows}")

    ctx.call("datasource.lookup", run, check)


def _metadata_agg(ctx, ds: str, want: dict, calls: int) -> None:
    from rugo_spark.engine import metadata_agg

    def check(row):
        for k, v in want.items():
            expect(row[k] == v, f"metadata_agg {k}={row[k]} != {v}")

    for _ in range(calls):
        ctx.call("engine.metadata_agg", lambda: metadata_agg(ctx.spark, ds, ["doc_id", "n_tok"]).first(),
                 check)


def _full_scan(ctx, ds: str, want_rows: int, want_tok: int, want_list: int) -> None:
    """Full decode and aggregation: row count, token sum and the summed
    token-list lengths must match the input."""
    import pyspark.sql.functions as F
    from rugo_spark.engine import decode_table

    want = (want_rows, want_tok, want_list)

    def run():
        return decode_table(ctx.spark, ds).agg(
            F.count(F.lit(1)), F.sum("n_tok"), F.sum(F.size("tokens"))).first()

    def check(r):
        expect(tuple(r) == want, f"full scan {tuple(r)} != {want}")

    if ctx.call("engine.decode_table_scan", run, check, sample="decode_s") is not None:
        ctx.add("decode_mb", ctx.inputs.arrow_bytes * want_rows / ctx.inputs.n_docs / 1e6)


class Workload:
    name = ""
    bulk = ""  # samples "<bulk>_mb" / "<bulk>_s" give bulk_mb_per_s
    op = ""  # samples giving op_ms

    def prepare(self, ctx) -> None:
        pass

    def round(self, ctx) -> None:
        raise NotImplementedError

    def probe_dataset(self, ctx) -> dict:
        """A dataset the layer probe may read and mutate: ``dir``, the
        ``ids`` to look up and their n_tok, ``want``."""
        ids, want = _token_ids(ctx, 8)
        return {"dir": self.ds, "ids": ids, "want": want}

    def named(self, ctx) -> dict:
        """The workload's own end-to-end figures: name -> (value, unit)."""
        return {}


def _token_ids(ctx, k: int) -> tuple[list[str], list[int]]:
    """``k`` distinct seeded-random doc ids and their n_tok."""
    e = ctx.inputs.expect
    idx = ctx.rng.choice(e["n_rows"], k, replace=False)
    return [str(e["doc_ids"][i]) for i in idx], [int(e["n_tok"][i]) for i in idx]


class Ingest(Workload):
    """Bulk map-only encode, small append commits, one manifest fold."""

    name = "ingest"
    bulk = "encode"
    op = "append"

    def __init__(self):
        self.ratio = None

    def _same_size(self, ratio: float) -> None:
        if self.ratio is None:
            self.ratio = ratio
        expect(ratio == self.ratio, f"encoded size ratio {ratio} != first round's {self.ratio}")

    def round(self, ctx) -> None:
        from rugo_spark.engine import append_table, encode_table_maponly
        from rugo_spark.manifest import consolidate_manifest

        inp = ctx.inputs
        self.ds = ctx.path("ingest")
        shutil.rmtree(self.ds, ignore_errors=True)
        df = _df(ctx, inp.files)
        if ctx.call("engine.encode_table_maponly",
                    lambda: encode_table_maponly(df, self.ds, sort_key="doc_id", size_col="n_tok"),
                    lambda _: self._same_size(_dataset_bytes(self.ds) / inp.arrow_bytes),
                    sample="encode_s") is None:
            return
        ctx.add("encode_mb", inp.arrow_bytes / 1e6)
        for f in inp.extra_files:
            ctx.call("engine.append_table",
                     lambda f=f: append_table(_df(ctx, [f]), self.ds, sort_key="doc_id", size_col="n_tok"),
                     sample="append")
        ctx.call("manifest.consolidate_manifest", lambda: consolidate_manifest(self.ds),
                 lambda r: expect(r["folded"] > 0, f"consolidate folded nothing: {r}"))
        e = inp.expect
        _metadata_agg(ctx, self.ds, {"n_rows": e["n_rows"] + e["extra_rows"],
                                     "n_tokens": e["tok_sum"] + e["extra_tok_sum"]}, 1)

    def named(self, ctx):
        s = ctx.samples
        return {
            "encode_mb_per_s": (sum(s["encode_mb"]) / sum(s["encode_s"]), "MB/s"),
            "append_s": (statistics.median(s["append"]), "s"),
            "bytes_per_input_byte": (self.ratio, "ratio"),
        }


class Mutate(Workload):
    """Writes beside reads on one dataset encoded in set-up: a delete, a
    masked full scan checked against ``metadata_agg``, point lookups, an
    update, a merge and a delete-file fold; a rollback ends each round, so
    every round starts from the same state."""

    name = "mutate"
    bulk = "decode"
    op = "lookup"
    LOOKUPS = 4  # per round
    RANGE = 100  # docs per delete / update range

    def prepare(self, ctx) -> None:
        from rugo_spark.engine import encode_table_sorted
        from rugo_spark.manifest import snapshot_log

        # range-partitioned on doc_id: blocks hold disjoint id ranges, so a
        # range delete or update opens the same number of blocks at any seed
        self.ds = ctx.path("mutate")
        encode_table_sorted(_df(ctx, ctx.inputs.files), self.ds, key_col="doc_id",
                            num_partitions=12, size_col="n_tok")
        self.base = int(snapshot_log(self.ds)[-1]["id"])

    def _ranges(self, ctx):
        """Disjoint delete and update id ranges, outside the first input
        file, which is the merge source."""
        n = ctx.inputs.expect["n_rows"]
        first = n // len(ctx.inputs.files)
        a, b = ctx.rng.choice((n - first) // self.RANGE, 2, replace=False)
        return first + int(a) * self.RANGE, first + int(b) * self.RANGE

    def round(self, ctx) -> None:
        from rugo_spark.deletes import consolidate_delete_files
        from rugo_spark.engine import delete_where, merge_table, update_where
        from rugo_spark.manifest import rollback_to_snapshot

        e = ctx.inputs.expect
        ids = e["doc_ids"]
        d0, u0 = self._ranges(ctx)
        dl, dh = str(ids[d0]), str(ids[d0 + self.RANGE - 1])
        ctx.call("engine.delete_where",
                 lambda: delete_where(ctx.spark, self.ds, [("doc_id", ">=", dl), ("doc_id", "<=", dh)]),
                 lambda r: expect(r["n_deleted"] == self.RANGE, f"delete {r}"), sample="delete")
        live_rows = e["n_rows"] - self.RANGE
        live_tok = e["tok_sum"] - int(e["n_tok"][d0:d0 + self.RANGE].sum())
        live_list = int(e["list_len"].sum() - e["list_len"][d0:d0 + self.RANGE].sum())
        _full_scan(ctx, self.ds, live_rows, live_tok, live_list)
        _metadata_agg(ctx, self.ds, {"n_rows": live_rows, "n_tokens": live_tok}, 1)
        live = np.r_[0:d0, d0 + self.RANGE:e["n_rows"]]
        for i in ctx.rng.choice(live, self.LOOKUPS, replace=False):
            _lookup(ctx, self.ds, str(ids[i]), int(e["n_tok"][i]))
        ul, uh = str(ids[u0]), str(ids[u0 + self.RANGE - 1])
        ctx.call("engine.update_where",
                 lambda: update_where(ctx.spark, self.ds, [("doc_id", ">=", ul), ("doc_id", "<=", uh)],
                                      {"n_tok": "n_tok + 1"}),
                 lambda r: expect(r["n_updated"] == self.RANGE, f"update {r}"), sample="update")
        n_src = e["n_rows"] // len(ctx.inputs.files)
        ctx.call("engine.merge_table",
                 lambda: merge_table(_df(ctx, ctx.inputs.files[:1]), self.ds, key_col="doc_id",
                                     sort_key="doc_id", size_col="n_tok"),
                 lambda r: expect((r["n_replaced"], r["n_appended"]) == (n_src, n_src), f"merge {r}"),
                 sample="merge")
        ctx.call("deletes.consolidate_delete_files", lambda: consolidate_delete_files(self.ds),
                 lambda r: expect(r["files_after"] == 1, f"consolidate deletes {r}"))
        ctx.call("manifest.rollback_to_snapshot", lambda: rollback_to_snapshot(self.ds, self.base))
        _metadata_agg(ctx, self.ds, {"n_rows": e["n_rows"], "n_tokens": e["tok_sum"],
                                     "min_doc_id": e["min_doc_id"], "max_doc_id": e["max_doc_id"]}, 1)

    def named(self, ctx):
        s = ctx.samples
        out = {
            "scan_mb_per_s": (sum(s["decode_mb"]) / sum(s["decode_s"]), "MB/s"),
            "lookup_p50_ms": (statistics.median(s["lookup"]) * 1e3, "ms"),
            "lookup_samples": (len(s["lookup"]), "count"),
        }
        for k in ("delete", "update", "merge"):
            out[f"{k}_s"] = (statistics.median(s[k]), "s")
        return out


WORKLOADS = {w.name: w for w in (Ingest, Mutate)}

