"""The fold protocol of every derived LakeTable, and the one change span
per sidecar pass its consumers share.

A derived table kept current from the base table (the grouped view,
both sides of the search index) is a :class:`Fold`: read its
consumed-through marker, skip when it is at the head, fold the base
table's changes from it to the head and commit them with the new
marker in one merge, and rebuild + reconcile when there is no marker
or its manifest expired. The CDC feed shares only the read: its target
is a directory with a JSON marker, and it bridges gaps per snapshot.

After an epoch, ``run_sync`` asks every consumer for its marker and the
columns it reads (a :class:`SpanRead`), reads the span most of them
reduce to ONCE — projected to the union of their columns and persisted
— and hands it to each. A consumer whose marker does not reduce to that
span's start (it lags, or was just created) reads its own span exactly
as it would alone. "Reduces to" is ``LakeTable.effective_span``:
markers that differ only by compaction/clustering commits diff the
same snapshot pair.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class SpanRead:
    """What one consumer reads from a change span: named column
    expressions over a ``read_changes`` frame (plain columns or values
    derived from them), and whether they need the payload and the
    before-images."""

    columns: dict[str, Column]
    payload: bool = False
    before: bool = False

    def changes(self, base, through: int, head: int, span: "ChangeSpan | None" = None) -> DataFrame:
        """The consumer's projected changes from ``through`` to ``head``:
        the shared span's rows when it covers them, else its own read."""
        if span is not None and span.covers(base, through, head):
            return span.df.select(*self.columns)
        return self.project(
            base.read_changes(
                through, head, include_payload=self.payload, include_before=self.before
            )
        )

    def project(self, changes: DataFrame) -> DataFrame:
        return changes.select(*[c.alias(n) for n, c in self.columns.items()])


@dataclass(frozen=True)
class ChangeSpan:
    """A persisted change frame for the base table's ``head`` whose
    effective snapshot pair is ``bounds``."""

    head: int
    bounds: tuple[int, int]
    df: DataFrame

    def covers(self, base, through: int, head: int) -> bool:
        return head == self.head and base.effective_span(through, head) == self.bounds


def open_span(base, head: int, needs: list[tuple[int | None, SpanRead]]) -> ChangeSpan | None:
    """Read, once, the span that the most ``(through, read)`` needs
    reduce to, projected to the union of their columns and persisted;
    the caller unpersists ``df`` when its pass ends. None when fewer
    than two needs share a non-empty span — a lone consumer reads its
    own span and gains nothing from a cached copy."""
    bounds = []
    for through, _ in needs:
        try:
            b = base.effective_span(through, head) if through is not None and through < head else None
        except FileNotFoundError:  # expired marker: that consumer rebuilds
            b = None
        bounds.append(b)
    shared = [b for b in bounds if b is not None]
    if not shared:
        return None
    best = max(set(shared), key=lambda b: (shared.count(b), b))
    users = [read for (_, read), b in zip(needs, bounds) if b == best]
    if len(users) < 2:
        return None
    columns: dict[str, Column] = {}
    for read in users:
        columns.update(read.columns)
    union = SpanRead(
        columns,
        payload=any(r.payload for r in users),
        before=any(r.before for r in users),
    )
    df = union.project(
        base.read_changes(
            best[0], best[1], include_payload=union.payload, include_before=union.before
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return ChangeSpan(head, best, df)


@dataclass(frozen=True)
class Fold:
    """A derived LakeTable folded from the base table's changes.
    ``marker``: the summary key holding the base snapshot consumed
    through. ``delta(changes, head)``: changelog rows (``op`` + table
    columns) for a span's ``read`` projection. ``full(head)``: the
    table's whole content at base snapshot ``head``."""

    table: Any
    marker: str
    read: SpanRead
    delta: Callable[[DataFrame, int], DataFrame]
    full: Callable[[int], DataFrame]

    def need(self) -> tuple[int | None, SpanRead]:
        """(consumed-through marker, SpanRead) for :func:`open_span`."""
        return self.table.current_snapshot()["summary"].get(self.marker), self.read

    def sync(self, base, span: ChangeSpan | None = None) -> dict:
        """Advance the table to the base head (``span.head`` if given).
        The epoch id is the head, so a re-run fold hits the epoch skip."""
        snap = self.table.current_snapshot()
        through = snap["summary"].get(self.marker)
        head = span.head if span is not None else base.current_snapshot()["snapshot_id"]
        if through is not None and head <= through:
            return {"skipped": True, "snapshot_id": snap["snapshot_id"]}
        changes = None
        if through is not None:
            try:
                changes = self.read.changes(base, through, head, span)
            except FileNotFoundError:  # the marker's manifest expired: rebuild
                pass
        rows = self._rebuild(snap, head) if changes is None else self.delta(changes, head)
        return self.table.merge_changelog(
            rows, epoch_id=head, summary_extra={self.marker: head}
        )

    def _rebuild(self, snap: dict, head: int) -> DataFrame:
        """``full(head)`` as upserts, plus deletes (versioned ``head``)
        for stored keys it lacks. Reads the whole base snapshot."""
        key = snap["key"]
        schema = self.table.schema(snap)
        want = self.full(head)
        gone = (
            self.table.read(snap["snapshot_id"])
            .select(*key)
            .join(want.select(*key), key, "left_anti")
            .select(
                F.lit("D").alias("op"),
                *key,
                *[F.lit(head).cast(schema[c].dataType).alias(c)
                  for c in snap["version_order"]],
            )
        )
        return want.withColumn("op", F.lit("U")).unionByName(gone, allowMissingColumns=True)
