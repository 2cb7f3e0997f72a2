"""Column rename / drop schema evolution — metadata-only, like Iceberg's.

Blocks are POSITIONAL: a stored column's identity is its position in the
append-only physical schema, and every persisted stats surface — sidecar
``codecs`` dicts, RGS2 stripe directories baked INTO block files, bloom
sidecars, job codec plans — is keyed by the column's WRITE-TIME (physical)
name.  Stripe directories are immutable, so a rename can never rewrite the
physical namespace; instead the dataset keeps the physical schema forever
and layers a LOGICAL view over it (the field-id indirection of Iceberg
``metadata.json``, flattened to names because our physical names are
already unique and append-only):

    _schema.json payload["column_view"] = [
        {"name": <physical>, "as": <logical, when renamed>, "dropped": bool},
        ...
    ]  # one entry per physical column, in physical (positional) order

- RENAME rewrites one payload entry.  Readers translate logical→physical
  at the API boundary (filters, projections, key columns), run the whole
  plan in physical terms — every pruning surface keeps biting — and alias
  the output back to logical names.
- DROP sets ``dropped``.  The physical column keeps its POSITION (decode
  alignment needs it); readers exclude it, and appends after the drop
  write an all-null placeholder at that position (nulls encode to almost
  nothing).  Re-adding the same logical name later makes a FRESH physical
  column — the dropped data never resurfaces (Iceberg field-id semantics).

Physical names are never reused and logical names stay unique, so the
name→name maps are bijective by construction (guarded at every mutation).
"""
from __future__ import annotations

import re

from rugo_spark import manifest as mf

VIEW_KEY = "column_view"


def column_view(payload: dict | None) -> list[dict] | None:
    """The dataset's column view, or None when evolution never touched it
    (physical == logical — the fast path every pre-evolution dataset
    keeps)."""
    if not payload:
        return None
    return payload.get(VIEW_KEY)


def _fresh_view(payload: dict) -> list[dict]:
    names = [f["name"] for f in payload["spark_schema"]["fields"]]
    return [{"name": n} for n in names]


def logical_name(entry: dict) -> str:
    return entry.get("as") or entry["name"]


def maps(view: list[dict]) -> tuple[dict, dict]:
    """(logical→physical, physical→logical) over NON-dropped columns."""
    l2p, p2l = {}, {}
    for e in view:
        if e.get("dropped"):
            continue
        ln = logical_name(e)
        l2p[ln] = e["name"]
        p2l[e["name"]] = ln
    return l2p, p2l


def live_physical(view: list[dict]) -> list[str]:
    """Physical names of non-dropped columns, in positional order."""
    return [e["name"] for e in view if not e.get("dropped")]


def translate_columns(columns: list | None, l2p: dict, what: str) -> list | None:
    if columns is None:
        return None
    out = []
    for c in columns:
        if c not in l2p:
            raise ValueError(
                f"unknown column {c!r} in {what}; this dataset's columns are "
                f"{sorted(l2p)} (renamed/dropped columns go by their current "
                "names)"
            )
        out.append(l2p[c])
    return out


def translate_filters(filters: list | None, l2p: dict) -> list | None:
    if not filters:
        return filters
    out = []
    for c, op, v in filters:
        if c not in l2p:
            raise ValueError(
                f"unknown column {c!r} in filters; this dataset's columns "
                f"are {sorted(l2p)}"
            )
        out.append((l2p[c], op, v))
    return out


def _identifier_in(expr: str, name: str) -> bool:
    return re.search(rf"(?<![A-Za-z0-9_`]){re.escape(name)}(?![A-Za-z0-9_])",
                     expr) is not None or f"`{name}`" in expr


def _guard_references(payload: dict, logical: str, action: str) -> None:
    """Refuse to rename/drop a column something else points at — a CHECK
    constraint or a persisted z-order spec would silently stop resolving."""
    for cname, expr in (payload.get("constraints") or {}).items():
        if _identifier_in(expr, logical):
            raise ValueError(
                f"cannot {action} {logical!r}: CHECK constraint {cname!r} "
                f"references it ({expr!r}); drop the constraint first and "
                "re-add it against the new name"
            )
    z = payload.get("zorder")
    if z and logical in (z.get("cols") or []):
        raise ValueError(
            f"cannot {action} {logical!r}: the persisted z-order spec "
            f"clusters on it ({z['cols']}); re-cluster (zorder_dataset) "
            "before evolving this column"
        )


def _guard_no_inflight_append(out_dir: str) -> None:
    """Refuse to evolve while an append session is in flight: an EVOLVING
    append's widen step read-modify-writes the same schema payload outside
    this module's lock, so a rename landing in that window could be
    silently lost.  Appends are short and evolution is rare — gating on
    the reservation marker is the honest fix."""
    stale = [m for m in mf.append_reservations(out_dir) if not m.get("complete")]
    if stale:
        raise ValueError(
            f"{out_dir} has {len(stale)} in-flight (or crashed) append "
            "session(s); wait for them — or reclaim_append a crashed one — "
            "before renaming/dropping columns"
        )


def _all_names(payload: dict, view: list[dict]) -> set[str]:
    """Every name that must stay unique: physical names (alive AND dropped
    — positions are permanent) plus current logical names."""
    out = {e["name"] for e in view}
    out.update(logical_name(e) for e in view if not e.get("dropped"))
    return out


def rename_column(out_dir: str, old: str, new: str) -> dict:
    """ALTER TABLE … RENAME COLUMN old TO new — one metadata write.  Takes
    the writer lock (a concurrent append must not race the payload
    rewrite).  Returns the updated view."""
    if old == new:
        raise ValueError("rename: old and new name are identical")
    with mf.writer_lock(out_dir):
        _guard_no_inflight_append(out_dir)
        payload = mf.read_schema_payload(out_dir)
        if payload is None:
            raise ValueError(f"{out_dir} is not an encoded dataset")
        view = column_view(payload) or _fresh_view(payload)
        l2p, _ = maps(view)
        if old not in l2p:
            raise ValueError(
                f"unknown column {old!r}; this dataset's columns are "
                f"{sorted(l2p)}"
            )
        # renaming a column BACK to its own physical name just clears the
        # alias — only OTHER columns' names (live, dropped, or historical)
        # collide
        if new != l2p[old] and new in _all_names(payload, view):
            raise ValueError(
                f"cannot rename to {new!r}: the name is already used by a "
                "live, dropped, or historical column (physical names are "
                "permanent — pick a fresh one)"
            )
        _guard_references(payload, old, "rename")
        for e in view:
            if not e.get("dropped") and logical_name(e) == old:
                if e["name"] == new:
                    e.pop("as", None)  # renamed back to its physical name
                else:
                    e["as"] = new
                break
        payload[VIEW_KEY] = view
        mf.write_schema_payload(out_dir, payload)
        return view


def drop_column(out_dir: str, name: str) -> dict:
    """ALTER TABLE … DROP COLUMN — one metadata write.  The physical
    column keeps its position (blocks are positional); readers hide it and
    appends write an all-null placeholder there.  Refuses to drop the last
    column, the dataset's size column, or anything a constraint/z-order
    spec references."""
    with mf.writer_lock(out_dir):
        _guard_no_inflight_append(out_dir)
        payload = mf.read_schema_payload(out_dir)
        if payload is None:
            raise ValueError(f"{out_dir} is not an encoded dataset")
        view = column_view(payload) or _fresh_view(payload)
        l2p, _ = maps(view)
        if name not in l2p:
            raise ValueError(
                f"unknown column {name!r}; this dataset's columns are "
                f"{sorted(l2p)}"
            )
        if len(l2p) == 1:
            raise ValueError("cannot drop the last remaining column")
        if payload.get("size_col") and l2p[name] == payload["size_col"]:
            raise ValueError(
                f"cannot drop {name!r}: it is the dataset's size column "
                "(token accounting derives from it)"
            )
        _guard_references(payload, name, "drop")
        phys = None
        for e in view:
            if not e.get("dropped") and logical_name(e) == name:
                e["dropped"] = True
                phys = e["name"]
                break
        # appends write an all-null placeholder at the dropped position —
        # the dataset schema must allow nulls there (old blocks holding
        # real values stay readable under the loosened nullability)
        import base64

        import pyarrow as pa

        for f in payload["spark_schema"]["fields"]:
            if f["name"] == phys:
                f["nullable"] = True
        arrow = pa.ipc.read_schema(
            pa.py_buffer(base64.b64decode(payload["arrow_schema_b64"]))
        )
        idx = arrow.get_field_index(phys)
        arrow = arrow.set(idx, arrow.field(idx).with_nullable(True))
        payload["arrow_schema_b64"] = base64.b64encode(
            arrow.serialize().to_pybytes()
        ).decode()
        payload[VIEW_KEY] = view
        mf.write_schema_payload(out_dir, payload)
        return view
