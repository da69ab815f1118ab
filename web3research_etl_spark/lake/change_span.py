"""One change span per sidecar pass: the shared read of the fold protocol.

Every derived table kept current from the base table (the CDC feed,
the grouped view, both sides of the search index) follows one protocol:
read its consumed-through marker, fold the base table's changes from
that marker to the head, commit the fold together with the new marker,
and rebuild (or bridge) when the marker's manifest has expired. Only the
READ is shared here: after an epoch, ``run_sync`` asks every consumer
for its marker and the columns it reads (a :class:`SpanRead`), reads the
span most of them reduce to ONCE — projected to the union of their
columns and persisted — and hands it to each fold. A consumer whose
marker does not reduce to that span's start (it lags, or was just
created) reads its own span exactly as it would alone.

"Reduces to" is ``LakeTable.effective_span``: markers that differ only
by compaction/clustering commits diff the same snapshot pair, so the
feed's per-snapshot diff of an epoch's merge and the view's diff from
the previous epoch's merge across that epoch's compaction are one read.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame


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
