"""Seeded benchmark inputs, written once per seed as many small parquet files.

The program under test receives only these files.  Many files matter: the
map-only encode turns each input split into one block, and one big file
gives two blocks, so a point lookup would decode half the table.  Spark packs
small files into 16 MB splits at 4 MB open cost each, so 48 files of ~1.1 MB
give 16 blocks of 4,500 docs.  72,000 docs (~122 MB as Arrow) is the most a
run can carry: every run of the benchmark, set-up and warm-up included, must
fit the time the benchmark is given, and a round of each workload already
takes 3-6 s at ``local[2]``.

Expected values for the correctness checks (row counts, token sums, n_tok
and token-list length per doc id, exact duplicates) are computed here with
pyarrow alone, never with the library being measured.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VERSION = "v1"  # part of the cache key: bump when generation changes

TOKEN_FILES = 48
TOKEN_DOCS_PER_FILE = 1500
APPEND_FILES = 3
APPEND_DOCS_PER_FILE = 200

DOC_FILES = 4
DOC_DOCS_PER_FILE = 500


@dataclass
class Inputs:
    files: list[str]
    extra_files: list[str] = field(default_factory=list)
    arrow_bytes: int = 0
    n_docs: int = 0
    expect: dict = field(default_factory=dict)


def _write_atomic(final: str, write) -> None:
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def _generate_tokens(out: str, seed: int) -> None:
    from rugo_spark.tokengen import token_batch

    for i in range(TOKEN_FILES):
        t = token_batch(TOKEN_DOCS_PER_FILE, seed=seed, start=i * TOKEN_DOCS_PER_FILE)
        pq.write_table(t, os.path.join(out, f"part-{i:03d}.parquet"))
    base = TOKEN_FILES * TOKEN_DOCS_PER_FILE
    os.makedirs(os.path.join(out, "extra"))
    for j in range(APPEND_FILES):
        t = token_batch(APPEND_DOCS_PER_FILE, seed=seed, start=base + j * APPEND_DOCS_PER_FILE)
        pq.write_table(t, os.path.join(out, "extra", f"append-{j:03d}.parquet"))


def _generate_docs(out: str, seed: int) -> None:
    from rugo_spark.docgen import doc_batch

    for i in range(DOC_FILES):
        t = doc_batch(DOC_DOCS_PER_FILE, seed=seed, start=i * DOC_DOCS_PER_FILE)
        pq.write_table(t, os.path.join(out, f"part-{i:03d}.parquet"))


def _parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def _token_expect(table: pa.Table) -> dict:
    return {
        "n_rows": table.num_rows,
        "tok_sum": int(pc.sum(table["n_tok"]).as_py()),
        "min_doc_id": pc.min(table["doc_id"]).as_py(),
        "max_doc_id": pc.max(table["doc_id"]).as_py(),
        "doc_ids": np.asarray(table["doc_id"].to_pylist()),
        "n_tok": table["n_tok"].to_numpy(),
        "list_len": pc.list_value_length(table["tokens"]).to_numpy(),
    }


def _doc_expect(table: pa.Table) -> dict:
    return {
        "n_rows": table.num_rows,
        "exact_dups": table.num_rows - len(pc.unique(table["text"])),
        "text_bytes": int(pc.sum(pc.binary_length(table["text"])).as_py()),
    }


def load(kind: str, seed: int, cache_root: str) -> Inputs:
    """Inputs of ``kind`` ('tokens' or 'docs') for ``seed``; generated on
    first use and reused by every later run with the same seed."""
    layout = {"tokens": f"{TOKEN_FILES}x{TOKEN_DOCS_PER_FILE}+{APPEND_FILES}x{APPEND_DOCS_PER_FILE}",
              "docs": f"{DOC_FILES}x{DOC_DOCS_PER_FILE}"}[kind]
    final = os.path.join(cache_root, f"{kind}-{VERSION}-{layout}-seed{seed}")
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        os.makedirs(cache_root, exist_ok=True)
        gen = {"tokens": _generate_tokens, "docs": _generate_docs}[kind]
        _write_atomic(final, lambda d: gen(d, seed))
    files = _parquet_files(final)
    table = pq.read_table(files)
    inp = Inputs(files=files, arrow_bytes=table.nbytes, n_docs=table.num_rows)
    if kind == "tokens":
        inp.extra_files = _parquet_files(os.path.join(final, "extra"))
        inp.expect = _token_expect(table)
        extra = pq.read_table(inp.extra_files)
        inp.expect["extra_rows"] = extra.num_rows
        inp.expect["extra_tok_sum"] = int(pc.sum(extra["n_tok"]).as_py())
    else:
        inp.expect = _doc_expect(table)
    return inp
