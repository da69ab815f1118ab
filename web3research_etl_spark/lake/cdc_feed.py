"""Materialized CDC feed: the table's change stream as a tailable dir.

``read_changes`` answers "what changed between two snapshots" on
demand; a downstream *streaming* consumer instead wants a topic it can
tail. This module materializes exactly that: for every data snapshot
committed since the last publish, the per-snapshot diff
(``read_changes(parent, snap)`` + snapshot/epoch provenance) is written
as parquet under ``out_dir/s<snapshot>/`` — an append-only directory a
Structured Streaming file source consumes like a Kafka topic
(``spark.readStream.schema(feed_schema(table)).parquet(out_dir)``).

This is the pragmatic scale shape for lake CDC (Iceberg deployments
materialize change topics the same way): the diff is computed ONCE,
bucket-pruned, by the publisher — not recomputed by every consumer —
and the feed directory partitions naturally by snapshot so consumers
resume by file-source checkpoint alone. Compaction and clustering
commits change no row: they are skipped from manifest metadata, with
no Spark job and no directory. Inside ``run_sync`` the head snapshot's
diff is the sidecar pass's one shared change span (``change_span``),
read once for the feed, the view and the search index.

Delivery contract: at-least-once with idempotent payloads. The
publisher bumps its state file only AFTER a snapshot's directory is
fully written; a crash between the two republishes the same snapshot
into the same directory (overwrite). Consumers needing exactly-once
dedup on (snapshot_id, <key>) — which is exactly what the engine's own
merge does when the feed drives a downstream LakeTable.

Schema contract: the feed's column set is PINNED at first publish
(persisted in ``_feed_state.json``). A later table rename maps onto the
pinned names positionally, so historical and new feed files stay
readable under one schema; a payload column added after the pin is NOT
ridden along (logged) — start a new feed directory to widen the feed.

History contract: ``expire_snapshots`` on the source table may remove
the parent manifest a pending diff needs. ``publish_changes`` bridges
such a gap by publishing that snapshot's FULL state (live rows as
inserts, tombstones as deletes, epoch_id null) — idempotent under any
LWW/merging consumer, so the feed self-heals instead of wedging.
Retention on the feed side is ``expire_feed`` (CLI
``maintain --expire-feed``): prunes ``s<id>/`` dirs older than the
table's oldest retained snapshot. A tailing consumer's file-source
checkpoint must already be past pruned dirs — prune with at least the
table's own snapshot retention lag, never ahead of live consumers.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web3research_etl_spark.lake.change_span import ChangeSpan, SpanRead
from web3research_etl_spark.lake.table import REWRITE_OPERATIONS

_STATE_FILE = "_feed_state.json"
_log = logging.getLogger(__name__)


def _state_path(out_dir: str) -> str:
    return os.path.join(out_dir, _STATE_FILE)


def _load_state(out_dir: str) -> dict:
    try:
        with open(_state_path(out_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"published_through": None}


def _store_state(out_dir: str, state: dict) -> None:
    tmp = _state_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, _state_path(out_dir))


def feed_schema(table, payloads: bool = False, out_dir: str | None = None) -> T.StructType:
    """The feed's fixed schema: key columns + change_type + both sides'
    version columns (+ the newer side's payload columns when the feed
    was published with ``payloads=True``) + provenance.

    With ``out_dir``, the schema PINNED at first publish is returned
    (survives table renames — historical feed parquet keeps its original
    column names, ADVICE r02); without it, built from the table's
    current snapshot."""
    if out_dir is not None:
        state = _load_state(out_dir)
        if "schema_json" in state:
            return T.StructType.fromJson(json.loads(state["schema_json"]))
    key_fields, ver_fields, pay_fields = _feed_fields(table, table.current_snapshot(), payloads)
    return T.StructType(
        key_fields
        + [T.StructField("change_type", T.StringType(), False)]
        + [T.StructField(f"new_{f.name}", f.dataType, True) for f in ver_fields]
        + [T.StructField(f"old_{f.name}", f.dataType, True) for f in ver_fields]
        + [T.StructField(f.name, f.dataType, True) for f in pay_fields]
        + [
            T.StructField("snapshot_id", T.LongType(), False),
            T.StructField("epoch_id", T.LongType(), True),
        ]
    )


def _feed_fields(table, snap: dict, payloads: bool) -> tuple[list, list, list]:
    """(key, version, payload) fields of ``snap``'s schema in schema
    order — the order ``read_changes`` lays its columns out in."""
    key, vorder = set(snap["key"]), set(snap["version_order"])
    fields = table.schema(snap).fields
    return (
        [f for f in fields if f.name in key],
        [f for f in fields if f.name in vorder],
        [f for f in fields if f.name not in key | vorder] if payloads else [],
    )


def _epoch_of(snap: dict) -> Any:
    """The epoch marker this snapshot committed, if any, from its commit
    record (a commit adds at most one)."""
    added = snap["commit"]["epochs"]
    return added[-1] if added else None


def _span_read(table, snap: dict, payloads: bool) -> SpanRead:
    """The columns of ``read_changes(parent, snap, include_payload=
    payloads)``, in its order: what the feed publishes for ``snap``."""
    key_fields, ver_fields, pay_fields = _feed_fields(table, snap, payloads)
    names = (
        [f.name for f in key_fields]
        + ["change_type"]
        + [f"new_{f.name}" for f in ver_fields]
        + [f"old_{f.name}" for f in ver_fields]
        + [f.name for f in pay_fields]
    )
    return SpanRead({n: F.col(n) for n in names}, payload=payloads)


def feed_span_need(table, out_dir: str, payloads: bool = False) -> tuple:
    """(published-through marker, SpanRead) for ``change_span.open_span``."""
    read = _span_read(table, table.current_snapshot(), payloads)
    return _load_state(out_dir)["published_through"], read


def _full_state_changes(table, sid: int, payloads: bool) -> DataFrame:
    """Snapshot ``sid``'s FULL state expressed in feed-change shape: live
    rows as inserts, tombstones as deletes (their version rides as
    ``new_<col>``), ``old_<col>`` null. Used to bridge a history gap
    left by ``expire_snapshots`` — replaying it through any LWW consumer
    (``apply_feed`` / ``merge_changelog``) is idempotent, so at-least-
    once redelivery of already-seen keys is harmless by contract."""
    from web3research_etl_spark.lake.table import _DELETED_COL

    key_fields, ver_fields, pay_fields = _feed_fields(table, table.snapshot(sid), payloads)
    full = table.read(snapshot_id=sid, include_deleted=True)
    dead = F.coalesce(F.col(_DELETED_COL), F.lit(False))
    sel = [F.col(f.name) for f in key_fields]
    sel.append(F.when(dead, F.lit("delete")).otherwise(F.lit("insert")).alias("change_type"))
    sel += [F.col(f.name).alias(f"new_{f.name}") for f in ver_fields]
    sel += [F.lit(None).cast(f.dataType).alias(f"old_{f.name}") for f in ver_fields]
    sel += [F.when(~dead, F.col(f.name)).alias(f.name) for f in pay_fields]
    return full.select(*sel)


def _align_to_pinned(out: DataFrame, pinned: list[str]) -> DataFrame:
    """Map a freshly-computed diff onto the feed's pinned column names.

    - identical → as-is;
    - pinned ⊆ current (payload column ADDED since the pin) → select the
      pinned columns only, logging what was dropped;
    - same length (pure RENAME — field order is preserved by alter, and
      the feed column order derives deterministically from field order)
      → positional rename;
    - anything else → the feed cannot represent the evolution; raise.
    """
    cur = out.columns
    if cur == pinned:
        return out
    if set(pinned) <= set(cur):
        dropped = [c for c in cur if c not in set(pinned)]
        _log.warning(
            "feed schema pinned before column(s) %s existed; not riding them "
            "along — start a new feed dir to widen the feed", dropped
        )
        return out.select(*pinned)
    if len(cur) == len(pinned):
        return out.toDF(*pinned)
    raise ValueError(
        f"feed schema pinned as {pinned} cannot represent current diff "
        f"columns {cur}; start a new feed directory"
    )


def publish_changes(
    table, out_dir: str, payloads: bool = False, span: ChangeSpan | None = None
) -> dict:
    """Publish every not-yet-published data snapshot's diff to the feed.
    Only the published chain counts: write-audit-publish snapshots
    still staged are skipped, the same chain the view and index fold.

    ``payloads=True`` rides the newer side's data columns along with
    every insert/update row (null for deletes) — a feed a downstream
    mirror can replicate from (see ``apply_feed``).

    ``span`` (``lake/change_span.open_span``, as ``run_sync`` passes
    it) pins the pass to ``span.head``, and the head snapshot's diff
    is taken from the shared span read when it covers that snapshot.

    Returns {"published": [snapshot ids], "through": last_id,
    "gap_bridged": [ids published as full state]}. Compaction and
    clustering commits (``REWRITE_OPERATIONS``) are skipped from
    metadata, without a Spark job; other pure metadata snapshots
    (schema evolution) produce empty diffs. Neither publishes a
    directory — consumers never see them. A snapshot whose parent
    manifest was removed by ``expire_snapshots`` is bridged with a
    full-state publish instead of wedging the stream (ADVICE r02) —
    a rewrite commit included, since the expired parent's own changes
    were never published."""
    os.makedirs(out_dir, exist_ok=True)
    state = _load_state(out_dir)
    ids = table.snapshot_ids()
    listed = set(ids)
    start_after = state["published_through"]
    todo = [
        s for s in ids
        if (start_after is None or s > start_after) and (span is None or s <= span.head)
    ]
    published: list[int] = []
    bridged: list[int] = []
    for sid in todo:
        snap = table.snapshot(sid)
        if "staged" in snap:
            # WAP-staged: off the published chain until publish_staged
            # re-commits it under a new id (or abandon_staged drops it)
            continue
        parent = snap.get("parent")
        if parent is None or (snap["operation"] in REWRITE_OPERATIONS and parent in listed):
            # snapshot 0 is CREATE — empty table, nothing to diff; a
            # rewrite commit changes no row, and its listed parent was
            # published before it (or in this pass)
            state["published_through"] = sid
            _store_state(out_dir, state)
            continue
        try:
            chg = _span_read(table, snap, payloads).changes(table, parent, sid, span)
            epoch = _epoch_of(snap)
        except FileNotFoundError:
            # parent manifest expired (maintain --expire-keep) — the diff
            # is unrecoverable; bridge with this snapshot's full state
            _log.warning(
                "feed gap: snapshot %d's parent %s expired; publishing full "
                "state as inserts/deletes (idempotent for LWW consumers)",
                sid, parent,
            )
            chg = _full_state_changes(table, sid, payloads)
            epoch = None
            bridged.append(sid)
        out = chg.withColumn("snapshot_id", F.lit(sid).cast("long")).withColumn(
            "epoch_id",
            F.lit(int(epoch)).cast("long") if epoch is not None else F.lit(None).cast("long"),
        )
        if "columns" in state:
            out = _align_to_pinned(out, state["columns"])
        else:
            # first publish pins the feed's schema forever (rename-proof)
            state["columns"] = out.columns
            state["schema_json"] = out.schema.json()
        sdir = os.path.join(out_dir, f"s{sid:08d}")
        # persist: the emptiness probe and the write share ONE diff
        # computation (the full-outer bucket diff is the epoch's cost)
        out = out.persist()
        try:
            # overwrite => crash-idempotent: a republish lands
            # byte-equivalent rows in the same directory
            if not out.isEmpty():
                out.write.mode("overwrite").parquet(sdir)
                published.append(sid)
        finally:
            out.unpersist()
        state["published_through"] = sid
        _store_state(out_dir, state)
    return {
        "published": published,
        "through": state["published_through"],
        "gap_bridged": bridged,
    }


def expire_feed(table, out_dir: str) -> dict:
    """Feed retention: remove ``s<id>/`` dirs for snapshots older than
    the table's oldest retained snapshot — the feed analog of
    ``expire_snapshots``, bounding a long-running ``sync --feed``'s
    otherwise append-forever directory.

    Consumer contract: a tailing consumer's file-source checkpoint must
    already be PAST every pruned directory (prune lags table retention,
    and table retention is sized to consumer lag). A fresh consumer
    starting after a prune sees a feed whose earliest entries may begin
    mid-history; it should bootstrap from the table itself, then tail.
    """
    floor = min(table.snapshot_ids())
    removed: list[int] = []
    if not os.path.isdir(out_dir):
        return {"removed": removed, "floor": floor}
    for name in sorted(os.listdir(out_dir)):
        if not (name.startswith("s") and name[1:].isdigit()):
            continue
        sid = int(name[1:])
        if sid < floor:
            shutil.rmtree(os.path.join(out_dir, name))
            removed.append(sid)
    return {"removed": removed, "floor": floor}


def stream_feed(spark, table, out_dir: str, payloads: bool = False) -> DataFrame:
    """Tail the materialized feed as a Structured Streaming source.
    Reads with the feed's PINNED schema when one was persisted (so a
    table rename after the feed started cannot null out historical
    files), else the table's current feed schema."""
    return spark.readStream.schema(
        feed_schema(table, payloads=payloads, out_dir=out_dir)
    ).option("pathGlobFilter", "*.parquet").parquet(os.path.join(out_dir, "s*"))


def apply_feed(mirror, feed: DataFrame, epoch_id) -> dict:
    """Replicate a payload feed batch into a mirror LakeTable.

    Change rows map straight onto changelog ops (insert/update → U,
    delete → D) with the NEW-side version columns restored to their
    table names — deletes carry their tombstone's version, so LWW
    ordering in the mirror matches the source. Idempotent under the
    mirror's own epoch markers; applying every feed batch in snapshot
    order reproduces the source's live state exactly (test-pinned by
    content hash).
    """
    snap = mirror.current_snapshot()
    vorder = snap["version_order"]
    op = F.when(F.col("change_type") == "delete", F.lit("D")).otherwise(F.lit("U"))
    restored = feed.withColumn("op", op)
    for v in vorder:
        restored = restored.withColumn(v, F.col(f"new_{v}"))
    data_cols = [f.name for f in mirror.schema(snap).fields]
    return mirror.merge_changelog(restored.select("op", *data_cols), epoch_id=epoch_id)
