"""Test oracle for ``LakeTable.read_changes``: the net changes between two
snapshots computed in Python from two full time-travel reads, with the
classification rules ``read_changes`` documents (liveness + version
tuple; ``old_`` images only for a prior live row)."""

from __future__ import annotations

from web3research_etl_spark.lake.table import _DELETED_COL


def change_columns(table, to_id: int, include_payload: bool, include_before: bool) -> list[str]:
    snap = table.snapshot(to_id)
    key, vorder = set(snap["key"]), set(snap["version_order"])
    names = [f.name for f in table.schema(snap).fields]
    ver = [n for n in names if n in vorder]
    pay = [n for n in names if n not in key | vorder] if (include_payload or include_before) else []
    return (
        [n for n in names if n in key]
        + ["change_type"]
        + [f"new_{v}" for v in ver]
        + [f"old_{v}" for v in ver]
        + pay
        + ([f"old_{p}" for p in pay] if include_before else [])
    )


def _state(table, sid: int, states: dict | None) -> dict:
    if states is not None and sid in states:
        return states[sid]
    key = table.snapshot(sid)["key"]
    rows = table.read(snapshot_id=sid, include_deleted=True).collect()
    state = {tuple(r[k] for k in key): r.asDict() for r in rows}
    if states is not None:
        states[sid] = state
    return state


def oracle_changes(
    table,
    from_id: int,
    to_id: int,
    include_payload: bool = False,
    include_before: bool = False,
    states: dict | None = None,
) -> list[tuple]:
    """Sorted change rows (tuples in ``change_columns`` order).
    ``states`` memoizes each snapshot's read (snapshots are immutable)."""
    snap = table.snapshot(to_id)
    key, vorder = snap["key"], snap["version_order"]
    cols = change_columns(table, to_id, include_payload, include_before)
    old, new = _state(table, from_id, states), _state(table, to_id, states)
    out = []
    for k in set(old) | set(new):
        o, n = old.get(k), new.get(k)
        old_live = o is not None and not o[_DELETED_COL]
        new_live = n is not None and not n[_DELETED_COL]
        if new_live and not old_live:
            change = "insert"
        elif old_live and not new_live:
            change = "delete"
        elif old_live and new_live and any(o[v] != n[v] for v in vorder):
            change = "update"
        else:
            continue
        row = dict(zip(key, k), change_type=change)
        for c in cols:
            if c in row:
                continue
            if c.startswith("old_"):
                row[c] = o[c[4:]] if old_live else None
            elif c.startswith("new_"):
                row[c] = n[c[4:]] if n is not None else None
            else:
                row[c] = n[c] if n is not None else None
        out.append(tuple(row[c] for c in cols))
    return sorted(out, key=repr)
