#!/usr/bin/env python3
"""rugo_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload mutate --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones, measured with tracing off;
with ``--trace 1`` they are the per-layer ones (see ``README.md``).  The line
before it carries the workload's own figures under their own names.

Everything the run writes stays under ``perfbench/.work`` (Spark's local
dirs, the datasets, the event log) and ``perfbench/.cache`` (the generated
inputs, one directory per seed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import pyarrow.parquet as pq

import inputs
import procstat
from layers import dataset_probe, dedup_probe, kernel_probe
from samples import percentile
from spans import Spans, digest, read_event_log
from workloads import WORKLOADS, Ctx

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metric -> the span whose median duration it reports, and scale
SPAN_LAYERS = {
    "engine.decode_plan_ms": ("engine.decode_table", 1e3),
    "engine.lookup_exec_ms": ("engine.lookup_exec", 1e3),
    "engine.metadata_agg_ms": ("engine.metadata_agg", 1e3),
    "datasource.lookup_ms": ("datasource.lookup", 1e3),
    "manifest.completed_partitions_ms": ("manifest.completed_partitions", 1e3),
    "manifest.snapshot_log_ms": ("manifest.snapshot_log", 1e3),
    "manifest.consolidate_s": ("manifest.consolidate_manifest", 1.0),
    "deletes.load_masks_ms": ("deletes.load_masks", 1e3),
    "deletes.consolidate_ms": ("deletes.consolidate_delete_files", 1e3),
    "ops.dedup.lsh_s": ("ops.dedup.minhash_lsh_candidates", 1.0),
    "ops.dedup.clusters_s": ("ops.dedup.dedup_clusters", 1.0),
}
# digest keys reported as spark.<key>, summed over a traced round's spans
SPARK_PER_ROUND = ["python_worker_s", "to_python_mb", "from_python_mb", "executor_cpu_s", "gc_s",
                   "shuffle_write_mb", "shuffle_read_mb", "scan_input_mb", "driver_s"]


def load_benchmark() -> dict:
    """``BENCHMARK.json`` at the checkout root: the metrics' names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pick(vals: dict, listed: list[dict]) -> dict:
    """``name -> (value, unit)`` for every metric ``listed``; a listed
    metric the run did not produce is an error, not a gap."""
    missing = [m["name"] for m in listed if m["name"] not in vals]
    if missing:
        raise KeyError(f"metrics listed in BENCHMARK.json but not measured: {missing}")
    return {m["name"]: (vals[m["name"]], m["unit"]) for m in listed}


WARM_ROUNDS = 2  # set-up's discarded rounds; round time is flat after them


def cores() -> int:
    """``local[N]`` parallelism: half the CPUs this process may use (at
    most 2), leaving the rest to the JVM's GC and JIT threads and the host."""
    return max(1, min(2, len(os.sched_getaffinity(0)) // 2))


class Runner:
    def __init__(self, args, work: str, bench: dict):
        self.args = args
        self.bench = bench
        self.work = work
        self.spark = None
        self.ctx = None
        self.spans = Spans()
        self.log_dir = os.path.join(work, "eventlog")

    # ---------------------------------------------------------- session
    def start(self):
        from rugo_spark.datasource import register
        from rugo_spark.session import get_spark

        self.spark = get_spark(master=f"local[{cores()}]")
        register(self.spark)
        if self.ctx is not None:
            self.ctx.spark = self.spark

    def restart(self, event_log: bool) -> None:
        """Stop the context and start a new one in the same JVM, with Spark's
        event log on or off: SparkConf reads ``spark.*`` JVM system
        properties."""
        jvm = self.spark.sparkContext._jvm
        self.spark.stop()
        os.makedirs(self.log_dir, exist_ok=True)
        jvm.java.lang.System.setProperty("spark.eventLog.enabled", str(event_log).lower())
        jvm.java.lang.System.setProperty("spark.eventLog.dir", "file://" + self.log_dir)
        self.start()

    # ---------------------------------------------------------- rounds
    def rounds(self, wl, seconds: float, tag: str) -> list[dict]:
        """Closed loop for about ``seconds``: after the first round, start
        another while at least half a mean round's time is left.  Per round:
        wall and process-tree CPU seconds, and the workers' peak resident
        set at its end."""
        out = []
        t_end = time.perf_counter() + seconds
        while not out or t_end - time.perf_counter() > 0.5 * statistics.mean(r["wall"] for r in out):
            self.spans.round_id = f"{tag}-{len(out)}"
            c0, t0 = procstat.tree_cpu_s(), time.perf_counter()
            with self.spans.span("round"):
                wl.round(self.ctx)
            out.append({"id": self.spans.round_id, "wall": time.perf_counter() - t0,
                        "cpu": procstat.tree_cpu_s() - c0, "rss": procstat.max_worker_hwm_mb()})
            print(f"{self.spans.round_id}: wall {out[-1]['wall']:.2f} s, cpu {out[-1]['cpu']:.2f} s",
                  file=sys.stderr)
        self.spans.round_id = None
        return out

    def warm(self, wl, rounds: int) -> float:
        """Discarded rounds.  The first makes the first call of every
        operation and takes 1.5-3x a steady round; the second lets the
        JVM's JIT settle."""
        t0 = time.perf_counter()
        self.ctx.warm = True
        for i in range(rounds):
            t1 = time.perf_counter()
            with self.spans.span("warm"):
                wl.round(self.ctx)
            print(f"warm-{i}: wall {time.perf_counter() - t1:.2f} s", file=sys.stderr)
        self.ctx.warm = False
        return time.perf_counter() - t0

    # ---------------------------------------------------------- run
    def run(self, t_proc: float) -> dict:
        args = self.args
        wl = WORKLOADS[args.workload]()
        t_gen = procstat.boottime()
        inp = inputs.load("tokens", args.seed, os.path.join(HERE, ".cache"))
        gen_s = procstat.boottime() - t_gen

        t0 = time.perf_counter()
        self.start()
        start_s = time.perf_counter() - t0
        self.ctx = Ctx(self.spark, inp, self.work, self.spans, args.seed)
        with self.spans.span("prepare"):
            wl.prepare(self.ctx)
        prep_s = time.perf_counter() - t0 - start_s
        warm_s = self.warm(wl, WARM_ROUNDS)
        setup_s = procstat.boottime() - t_proc - gen_s
        print(f"setup {setup_s:.2f} s: inputs {gen_s:.2f} (excluded), session {start_s:.2f}, "
              f"prepare {prep_s:.2f}, warm {warm_s:.2f}", file=sys.stderr)

        if not args.trace:
            rounds = self.rounds(wl, args.seconds, "round")
            metrics = self.end_to_end(wl, rounds, setup_s)
        else:
            metrics = self.traced(wl, inp, start_s, warm_s)
        named = {k: {"value": v, "unit": u} for k, (v, u) in wl.named(self.ctx).items()}
        print(json.dumps({"workload": args.workload, "seed": args.seed, "named": named}))
        return {
            "correct": self.ctx.failed == 0,
            "attempted": self.ctx.attempted,
            "failed": self.ctx.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def end_to_end(self, wl, rounds: list[dict], setup_s: float) -> dict:
        s = self.ctx.samples
        vals = {
            "setup_s": setup_s,
            "round_s": statistics.median(r["wall"] for r in rounds),
            "cpu_s": statistics.median(r["cpu"] for r in rounds),
            "worker_rss_mb": statistics.median(r["rss"] for r in rounds),
            "bulk_mb_per_s": sum(s[wl.bulk + "_mb"]) / sum(s[wl.bulk + "_s"]),
            "op_ms": statistics.median(s[wl.op]) * 1e3,
        }
        return pick(vals, self.bench["end_to_end"])

    def traced(self, wl, inp, start_s: float, warm_s: float) -> dict:
        """Two halves, each after a context restart (same JVM) and a warm
        round: the first untraced, the second with the event log and job
        groups on; then the layer probes and the digest."""
        half = self.args.seconds / 2
        self.restart(event_log=False)
        self.warm(wl, 1)
        plain = self.rounds(wl, half, "plain")
        self.restart(event_log=True)
        self.warm(wl, 1)
        self.spans.sc = self.spark.sparkContext
        since = len(self.spans.records)
        traced = self.rounds(wl, half, "traced")
        vals = {"session.start_s": start_s, "session.warm_s": warm_s}
        with self.spans.span("probe.dataset"):
            vals.update(dataset_probe(self.ctx, wl.probe_dataset(self.ctx)))
        docs = inputs.load("docs", self.args.seed, os.path.join(HERE, ".cache"))
        with self.spans.span("probe.dedup"):
            vals.update(dedup_probe(self.ctx, docs))
        self.spans.sc = None
        self.spark.stop()  # closes the event log

        texts = pq.read_table(docs.files[0], columns=["text"])["text"].combine_chunks()
        vals.update(kernel_probe(pq.read_table(inp.files[0]), texts))

        recs = self.spans.records[since:]
        for metric, (name, scale) in SPAN_LAYERS.items():
            d = [r["end"] - r["start"] for r in recs if r["name"] == name]
            vals[metric] = statistics.median(d) * scale
        # the probe's 100 calls put 10 beyond the 90th percentile
        vals["engine.metadata_agg_p90_ms"] = percentile(
            [r["end"] - r["start"] for r in recs if r["name"] == "engine.metadata_agg"], 90) * 1e3

        table = digest(read_event_log(self.log_dir), recs)
        parents = {r["parent"] for r in recs}
        round_ids = {r["id"] for r in traced}
        leaves = [r for r in recs if r["id"] not in parents and r["round"] in round_ids]
        for k in SPARK_PER_ROUND:
            vals[f"spark.{k}"] = sum(table[r["id"]][k] for r in leaves) / len(traced)
        lookups = [table[r["id"]]["tasks"] for r in recs if r["name"] == "engine.lookup_exec"]
        vals["spark.lookup_tasks"] = statistics.mean(lookups)
        # Python-worker seconds against the task-slot seconds of a round:
        # how much of the round the library's Arrow-boundary code can move
        slot_s = sum(r["wall"] for r in traced) / len(traced) * cores()
        vals["spark.python_worker_pct"] = vals["spark.python_worker_s"] / slot_s * 100.0
        cpu_plain = statistics.median(r["cpu"] for r in plain)
        cpu_traced = statistics.median(r["cpu"] for r in traced)
        vals["trace.overhead_pct"] = (cpu_traced / cpu_plain - 1.0) * 100.0
        vals["trace.spans"] = len(recs)
        self.write_trace(recs, table)
        return pick(vals, self.bench["per_layer"])

    def write_trace(self, recs: list[dict], table: dict) -> None:
        out = os.path.join(HERE, ".work", "trace")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": [dict(r, spark=table.get(r["id"])) for r in recs]}, f, indent=1)


def shutdown() -> None:
    """Stop Spark, close the JVM, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in procstat.tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _env(work: str) -> None:
    """Pin the environment the JVM and its Python workers inherit, so that
    they import this checkout's ``rugo_spark`` and write only under
    ``work``: Spark's local dirs, Python's and Java's temp dirs, and no JVM
    perf-data file in /tmp."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts]))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)


def _clean_stale(base: str) -> None:
    """Remove work dirs of earlier runs whose process is gone."""
    for name in os.listdir(base):
        pid = name.removeprefix("run-")
        if name.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    t_proc = procstat.process_start()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, "rugo_spark", "__init__.py")):
        print(f"no rugo_spark package under {ROOT}; run from a source checkout", file=sys.stderr)
        return 2
    base = os.path.join(HERE, ".work")
    os.makedirs(base, exist_ok=True)
    _clean_stale(base)
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    try:
        result = Runner(args, work, load_benchmark()).run(t_proc)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
