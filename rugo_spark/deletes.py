"""Row-level deletes: position-delete files (the Iceberg position-delete /
Delta deletion-vector analog — the reference engine has no delete surface,
so this extends beyond reference parity like the append/snapshot lifecycle).

One DELETE (or MERGE) commit writes ONE file under ``_deletes/`` holding,
for every affected block, the positions of its deleted rows.  Blocks and
sidecars are never touched — a delete is pure metadata, exactly like the
engine's other commits:

- ``delete-<fp>.json``: ``{"version": 1, "predicate": [...], "n_deleted":
  N, "entries": [{"pid", "n_rows", "n_deleted", "deleted_tokens", "enc",
  "data"}]}``.  ``data`` is a zstd-compressed base64 payload; ``enc`` is
  ``pos32`` (sorted uint32 positions — sparse deletes), ``bitmap`` (packed
  bits — dense deletes, caps at n_rows/8 bytes), or ``all`` (whole block
  deleted, no payload — the common shape for retention deletes, which lets
  a 100-TB "drop everything before T" commit stay kilobytes).

VISIBILITY is the same two-layer rule as append bands: a delete file is
visible iff referenced from (a) a ``_snapshots.json`` entry — plain
DELETEs commit by appending one — or (b) a COMPLETED append marker — a
MERGE's delete file rides the marker whose atomic flip already publishes
the merge's new rows, so updated rows disappear and their replacements
appear in the same rename.  An unreferenced file (crash between write and
commit) is invisible and harmless; re-running the operation recomputes it
deterministically.

Snapshot entries record the CUMULATIVE visible delete-file list (like
``ranges`` records the full pid set — self-healing, and time travel reads
one entry instead of replaying the log).  Masks from multiple files on
the same pid union; writers subtract already-visible positions so files
stay disjoint per pid and counts sum exactly.
"""
from __future__ import annotations

import base64
import json
import os

import numpy as np
import pyarrow as pa

DELETES_DIR = "_deletes"

_ZSTD = pa.Codec("zstd")


def encode_positions(positions: np.ndarray, n_rows: int) -> tuple[str, str]:
    """Pick the smallest of pos32 / bitmap / all for sorted uint32
    ``positions`` within a block of ``n_rows`` rows."""
    positions = np.asarray(positions, dtype=np.uint32)
    if len(positions) == n_rows:
        return "all", ""
    if len(positions) * 4 <= (n_rows + 7) // 8:
        raw = positions.astype("<u4").tobytes()
        enc = "pos32"
    else:
        bits = np.zeros(n_rows, dtype=bool)
        bits[positions] = True
        raw = np.packbits(bits).tobytes()
        enc = "bitmap"
    comp = len(raw).to_bytes(4, "little") + _ZSTD.compress(raw, asbytes=True)
    return enc, base64.b64encode(comp).decode()


def mask_entry(pid: int, positions: np.ndarray, n_rows: int, deleted_tokens: int) -> dict:
    """One delete-file entry: block ``pid``'s sorted deleted ``positions``
    (of ``n_rows``) in their smallest encoding, with the deleted row and
    token counts."""
    enc, data = encode_positions(positions, n_rows)
    return {
        "pid": int(pid), "n_rows": int(n_rows), "n_deleted": int(len(positions)),
        "deleted_tokens": int(deleted_tokens), "enc": enc, "data": data,
    }


def decode_positions(enc: str, data: str, n_rows: int) -> np.ndarray:
    """Inverse of :func:`encode_positions` → sorted uint32 positions."""
    if enc == "all":
        return np.arange(n_rows, dtype=np.uint32)
    comp = base64.b64decode(data)
    raw = _ZSTD.decompress(comp[4:], int.from_bytes(comp[:4], "little"), asbytes=True)
    if enc == "pos32":
        return np.frombuffer(raw, dtype="<u4").astype(np.uint32)
    if enc == "bitmap":
        bits = np.unpackbits(np.frombuffer(raw, dtype=np.uint8), count=n_rows)
        return np.nonzero(bits)[0].astype(np.uint32)
    raise ValueError(f"unknown delete position encoding {enc!r}")


def write_delete_file(
    out_dir: str, name: str, entries: list[dict], predicate: list | None
) -> str:
    """Atomic write of one delete commit file; returns its path.  The file
    is INVISIBLE until referenced by a snapshot entry or completed append
    marker — writing it is not the commit."""
    ddir = os.path.join(out_dir, DELETES_DIR)
    os.makedirs(ddir, exist_ok=True)
    payload = {
        "version": 1,
        "predicate": predicate,
        "n_deleted": int(sum(int(e["n_deleted"]) for e in entries)),
        "deleted_tokens": int(sum(int(e.get("deleted_tokens") or 0) for e in entries)),
        "entries": entries,
    }
    path = os.path.join(ddir, name)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    return path


def read_delete_file(out_dir: str, name: str) -> dict:
    path = os.path.join(out_dir, DELETES_DIR, name)
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"delete file {name} is referenced by {out_dir}'s snapshot log or "
            "an append marker but missing on disk — rows that should be "
            "deleted would resurface; restore the file or roll back past the "
            "deleting snapshot"
        ) from None
    except (json.JSONDecodeError, OSError) as e:
        raise IOError(f"corrupt delete file {path}: {e}") from e


def visible_delete_files(out_dir: str, snapshot_id: int | None = None) -> list[str]:
    """Names of delete files visible to a reader — current state (snapshot
    log ∪ completed append markers) or as-of ``snapshot_id`` (that entry's
    cumulative list)."""
    from rugo_spark import manifest as mf

    if snapshot_id is not None:
        log = mf.snapshot_log(out_dir, strict=True)
        entry = next((e for e in log if int(e["id"]) == int(snapshot_id)), None)
        if entry is None:
            raise ValueError(f"unknown snapshot_id {snapshot_id} for {out_dir}")
        return sorted(entry.get("delete_files") or [])
    # Current state = the LAST entry's list (cumulative — or exactly the
    # consolidated file after a replace-mode commit) plus completed-marker
    # files no entry has folded yet (the heal window: a marker flip whose
    # follow-up snapshot append crashed).  Files referenced only by OLDER
    # entries are history, not current state — that's what lets a
    # consolidation supersede its inputs without touching them.
    log = mf.snapshot_log(out_dir, strict=False)
    names: set[str] = set(log[-1].get("delete_files") or []) if log else set()
    in_any_entry: set[str] = set()
    for e in log:
        in_any_entry.update(e.get("delete_files") or [])
    for m in mf.append_reservations(out_dir):
        if m.get("complete"):
            names.update(
                n for n in (m.get("delete_files") or []) if n not in in_any_entry
            )
    return sorted(names)


def load_masks(out_dir: str, names: list[str]) -> dict[int, np.ndarray]:
    """pid → sorted uint32 deleted positions, unioned across files."""
    masks: dict[int, np.ndarray] = {}
    for name in names:
        payload = read_delete_file(out_dir, name)
        for e in payload.get("entries", []):
            pid = int(e["pid"])
            pos = decode_positions(e["enc"], e.get("data", ""), int(e["n_rows"]))
            if pid in masks:
                masks[pid] = np.union1d(masks[pid], pos).astype(np.uint32)
            else:
                masks[pid] = pos
    return masks


def load_raw(out_dir: str, names: list[str]) -> dict[int, list[tuple]]:
    """pid → [(enc, data_b64, n_rows), …] — the still-compressed mask
    entries, the right shape to BROADCAST to decode tasks (a bitmap stays
    zstd'd until the one task that reads its block)."""
    raw: dict[int, list[tuple]] = {}
    for name in names:
        payload = read_delete_file(out_dir, name)
        for e in payload.get("entries", []):
            raw.setdefault(int(e["pid"]), []).append(
                (e["enc"], e.get("data", ""), int(e["n_rows"]))
            )
    return raw


def union_positions(raw_entries: list[tuple]) -> np.ndarray:
    """Decode + union one pid's raw mask entries → sorted uint32."""
    arrs = [decode_positions(enc, data, n) for enc, data, n in raw_entries]
    if len(arrs) == 1:
        return arrs[0]
    out = arrs[0]
    for a in arrs[1:]:
        out = np.union1d(out, a)
    return out.astype(np.uint32)


def deleted_totals(out_dir: str, names: list[str]) -> tuple[int, int]:
    """(rows, tokens) deleted across ``names``.  Exact because writers keep
    files position-disjoint per pid."""
    rows = tokens = 0
    for name in names:
        payload = read_delete_file(out_dir, name)
        rows += int(payload.get("n_deleted") or 0)
        tokens += int(payload.get("deleted_tokens") or 0)
    return rows, tokens


def apply_mask(batches, positions: np.ndarray):
    """Drop ``positions`` (block-absolute row indices) from a stream of
    RecordBatches decoded WITHOUT stripe skipping (offsets must line up)."""
    off = 0
    for b in batches:
        n = b.num_rows
        lo = int(np.searchsorted(positions, off))
        hi = int(np.searchsorted(positions, off + n))
        if lo == hi:
            yield b
        elif hi - lo < n:  # whole-batch deletes yield nothing
            keep = np.ones(n, dtype=bool)
            keep[positions[lo:hi] - off] = False
            yield b.filter(pa.array(keep))
        off += n


def gc_orphans(out_dir: str) -> int:
    """Remove delete files referenced by NOTHING (crashed commits, rolled
    back merges).  Safe whenever the caller holds no open readers planned
    against the orphan (it was never visible)."""
    ddir = os.path.join(out_dir, DELETES_DIR)
    if not os.path.isdir(ddir):
        return 0
    from rugo_spark import manifest as mf

    referenced: set[str] = set()
    for e in mf.snapshot_log(out_dir, strict=False):
        referenced.update(e.get("delete_files") or [])
    for m in mf.append_reservations(out_dir):
        referenced.update(m.get("delete_files") or [])  # incomplete too: in-flight merge
    removed = 0
    for name in os.listdir(ddir):
        if name.endswith(".tmp"):
            continue
        if name not in referenced:
            try:
                os.remove(os.path.join(ddir, name))
                removed += 1
            except OSError:
                pass
    return removed


def consolidate_delete_files(out_dir: str) -> dict:
    """Union every visible position-delete file into ONE (the Iceberg
    rewrite-position-deletes analog).  Each DML commit adds a file that
    every reader must open and union forever; after thousands of commits
    the mask read, not the data, paces planning.  This folds them:

    1. Under the writer lock (all DML commits take it — the input set
       cannot move), read the visible files and union positions per pid.
       Files are position-disjoint per pid by construction (writers
       subtract already-visible positions), so unions concatenate and
       row/token totals sum exactly.
    2. Write one consolidated file (deterministic name from the input set
       — a re-run after a crash rewrites the same bytes).
    3. Commit a snapshot entry referencing EXACTLY the new file
       (``replace_delete_files``) — the atomic supersede point.  Older
       entries keep the inputs alive for time travel until
       ``expire_snapshots`` drops them; then the orphan GC reclaims.
    4. Strip the folded names from completed append markers (a merge's
       file rides its marker) so expiry actually orphans them.  A crash
       mid-strip is harmless: masks union idempotently, and the next
       consolidation strips the rest.

    Returns ``{"files_before", "files_after", "n_deleted",
    "snapshot_id"}``; fewer than two visible files is a no-op."""
    import hashlib

    from rugo_spark import manifest as mf

    with mf.writer_lock(out_dir):
        names = visible_delete_files(out_dir)
        if len(names) < 2:
            return {"files_before": len(names), "files_after": len(names),
                    "n_deleted": 0, "snapshot_id": None}
        per_pid: dict[int, dict] = {}
        for name in names:
            payload = read_delete_file(out_dir, name)
            for e in payload.get("entries", []):
                pid = int(e["pid"])
                cur = per_pid.setdefault(
                    pid, {"n_rows": int(e["n_rows"]), "raw": [], "tokens": 0}
                )
                if cur["n_rows"] != int(e["n_rows"]):
                    raise ValueError(
                        f"delete files disagree on pid {pid} row count "
                        f"({cur['n_rows']} vs {e['n_rows']}) — refusing to "
                        "consolidate inconsistent masks"
                    )
                cur["raw"].append((e["enc"], e.get("data", ""), int(e["n_rows"])))
                cur["tokens"] += int(e.get("deleted_tokens") or 0)
        entries = []
        for pid in sorted(per_pid):
            m = per_pid[pid]
            entries.append(
                mask_entry(pid, union_positions(m["raw"]), m["n_rows"], m["tokens"])
            )
        fp = hashlib.sha256("\n".join(names).encode()).hexdigest()[:16]
        new_name = f"delete-consolidated-{fp}.json"
        write_delete_file(out_dir, new_name, entries,
                          predicate=[["consolidates", names]])
        entry = mf.commit_snapshot(
            out_dir, "consolidate-deletes",
            extra={"consolidated_files": len(names)},
            replace_delete_files=[new_name],
        )
        # Strip folded names — and any name a snapshot entry already
        # references durably (the marker's copy is redundant once an entry
        # carries it; leaving it would resurrect the file into the visible
        # set after expiry drops the entries, blocking GC forever) — from
        # completed markers.
        folded = set(names)
        for e in mf.snapshot_log(out_dir, strict=False):
            folded.update(e.get("delete_files") or [])
        for m in mf.append_reservations(out_dir):
            have = m.get("delete_files") or []
            keep = [n for n in have if n not in folded]
            if m.get("complete") and len(keep) != len(have):
                path = m["_path"]
                clean = {k: v for k, v in m.items() if k != "_path"}
                if keep:
                    clean["delete_files"] = keep
                else:
                    clean.pop("delete_files", None)
                tmp = path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(clean, f)
                    f.flush()
                    os.fsync(f.fileno())
                os.replace(tmp, path)
        return {
            "files_before": len(names), "files_after": 1,
            "n_deleted": int(sum(e["n_deleted"] for e in entries)),
            "snapshot_id": int(entry["id"]) if entry else None,
        }
