"""Incremental view maintenance (IVM) over the CDC change stream.

The reference's consumers re-aggregate ClickHouse tables from scratch;
here a downstream aggregate (a grouped count/sum "materialized view")
is maintained from `LakeTable.read_changes(..., include_before=True)`
deltas alone — the classic CDC-consumer pattern (Debezium before/after
images feeding a delta-apply). At 100 TB the win is structural: an
epoch that changed 10^6 rows updates the view with 10^6 delta rows and
a join against only the touched groups' current values — the base
table is never re-read.

Exactness: counts are integer; value sums must be maintained in an
EXACT additive type (decimal), never float — incremental (+new, -old)
float sums drift from a direct recompute, decimals cancel exactly. The
caller pre-rounds/casts its value column; `aggregate_deltas` is
type-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import materialize
from ..lake.change_span import ChangeSpan, SpanRead
from ..lake.table import LakeTable


def aggregate_deltas(
    changes: DataFrame, group_col: str, value_col: str | None = None
) -> DataFrame:
    """Per-group additive deltas from a change stream carrying
    before-images (``old_<col>``):

    - insert → (+1, +value) under the NEW group;
    - delete → (-1, -old value) under the OLD group;
    - update → both — which nets to a pure value delta when the group
      is unchanged, and correctly migrates the row's contribution when
      the update MOVED it between groups.

    One projection + explode (each change row yields ≤2 contribution
    structs) + one map-side-combinable groupBy — no join, no window.
    Returns (group, d_rows, d_value); d_value is null-safe (absent
    values contribute count only).
    """
    dv_new = F.col(value_col) if value_col else F.lit(0)
    dv_old = -F.col(f"old_{value_col}") if value_col else F.lit(0)
    plus = F.when(
        F.col("change_type").isin("insert", "update"),
        F.struct(
            F.col(group_col).alias("g"),
            F.lit(1).cast("bigint").alias("dn"),
            dv_new.alias("dv"),
        ),
    )
    minus = F.when(
        F.col("change_type").isin("delete", "update"),
        F.struct(
            F.col(f"old_{group_col}").alias("g"),
            F.lit(-1).cast("bigint").alias("dn"),
            dv_old.alias("dv"),
        ),
    )
    contrib = changes.select(F.explode(F.array(plus, minus)).alias("c")).filter(
        F.col("c").isNotNull()
    )
    return contrib.groupBy(F.col("c.g").alias(group_col)).agg(
        F.sum("c.dn").alias("d_rows"),
        F.sum("c.dv").alias("d_value"),
    )


def apply_aggregate_deltas(
    view: LakeTable, deltas: DataFrame, epoch_id: int,
    summary_extra: dict | None = None,
) -> dict:
    """Fold a delta batch into a materialized-view LakeTable with schema
    ``(group, n_rows, total_value, epoch)`` keyed by the group column
    with ``version_order=[epoch]``. Only TOUCHED groups are rewritten
    (the view table's bucketed copy-on-write merge); a group whose row
    count reaches zero is deleted. The equi-join against current view
    state is deltas-sized on one side and |groups| on the other — never
    the base table.

    The merge input (at most one row per group) is materialized once:
    the merge's bucket probe and its write would otherwise each re-run
    the delta aggregate, and with it the change span under it."""
    gcol, *_ = view.current_snapshot()["key"]
    cur = view.read().select(
        F.col(gcol),
        F.col("n_rows").alias("_cur_n"),
        F.col("total_value").alias("_cur_v"),
    )
    merged = (
        deltas.withColumnRenamed(deltas.columns[0], gcol)
        .join(cur, gcol, "left")
        .select(
            F.col(gcol),
            (F.coalesce("_cur_n", F.lit(0)) + F.col("d_rows")).alias("n_rows"),
            (
                F.coalesce(F.col("_cur_v"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("d_value"), F.lit(0).cast("decimal(18,2)"))
            ).cast("decimal(18,2)").alias("total_value"),
            F.lit(epoch_id).cast("bigint").alias("epoch"),
        )
    )
    ops = materialize(
        merged.select(
            F.when(F.col("n_rows") <= 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
            "*",
        )
    )
    return view.merge_changelog(ops, epoch_id=epoch_id, summary_extra=summary_extra)


def _span_read(group_col: str, value_expr) -> SpanRead:
    """The view's inputs from a change span: both images' group and
    value (``value_expr`` applied to each)."""
    return SpanRead(
        {
            "change_type": F.col("change_type"),
            group_col: F.col(group_col),
            f"old_{group_col}": F.col(f"old_{group_col}"),
            "_v": value_expr(F.col),
            "old__v": value_expr(lambda c: F.col(f"old_{c}")),
        },
        before=True,
    )


def view_span_need(view: LakeTable, group_col: str, value_expr) -> tuple:
    """(view_through marker, SpanRead) for ``change_span.open_span``."""
    through = view.current_snapshot()["summary"].get("view_through")
    return through, _span_read(group_col, value_expr)


def maintain_view(
    view: LakeTable,
    base: LakeTable,
    from_snapshot_id: int,
    to_snapshot_id: int,
    group_col: str,
    value_expr,
    epoch_id: int,
    summary_extra: dict | None = None,
    span: ChangeSpan | None = None,
) -> dict:
    """One IVM step: read the base table's net changes between two
    snapshots (before-images on), derive the value column via
    ``value_expr`` (a Column fn applied to both the new and the
    ``old_``-prefixed image — pass the rounding/decimal cast here so
    retraction cancels exactly), aggregate deltas, fold into the view.
    Folding a multi-epoch span in one step is exact: ``read_changes``
    returns NET changes, and additive deltas telescope. A ``span``
    that covers the two snapshots is read instead of ``read_changes``."""
    chg = _span_read(group_col, value_expr).changes(
        base, from_snapshot_id, to_snapshot_id, span
    )
    deltas = aggregate_deltas(chg, group_col, "_v")
    return apply_aggregate_deltas(view, deltas, epoch_id, summary_extra=summary_extra)


def _full_aggregate(base: LakeTable, group_col: str, value_expr) -> DataFrame:
    return (
        base.read()
        .select(F.col(group_col), value_expr(F.col).alias("_v"))
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("_v").cast("decimal(18,2)").alias("total_value"),
        )
    )


def refresh_view_full(
    view: LakeTable, base: LakeTable, group_col: str, value_expr, epoch_id: int
) -> dict:
    """Full (re)materialization: one base scan, then reconcile against
    the view's current rows so groups that vanished are DELETED, and
    record how far the view has consumed (``view_through`` in the
    commit summary). Used to bootstrap a fresh view and to recover when
    the incremental chain is broken (snapshot expiry removed the
    last-consumed manifest — same gap the CDC feed bridges with a
    full-state publish)."""
    through = base.current_snapshot()["snapshot_id"]
    gcol, *_ = view.current_snapshot()["key"]
    want = _full_aggregate(base, group_col, value_expr).withColumnRenamed(
        group_col, gcol
    )
    have = view.read().select(gcol)
    gone = have.join(want.select(gcol), gcol, "left_anti")
    rows = want.select(
        F.lit("U").alias("op"),
        gcol,
        "n_rows",
        "total_value",
        F.lit(epoch_id).cast("bigint").alias("epoch"),
    ).unionByName(
        gone.select(
            F.lit("D").alias("op"),
            gcol,
            F.lit(None).cast("bigint").alias("n_rows"),
            F.lit(None).cast("decimal(18,2)").alias("total_value"),
            F.lit(epoch_id).cast("bigint").alias("epoch"),
        )
    )
    return view.merge_changelog(
        rows, epoch_id=epoch_id, summary_extra={"view_through": through}
    )


def sync_view(
    view: LakeTable,
    base: LakeTable,
    group_col: str,
    value_expr,
    span: ChangeSpan | None = None,
) -> dict:
    """Advance the view to the base table's current snapshot — the call
    a streaming pipeline makes after each epoch's merge commit. The
    consumed-through marker lives in the VIEW's own commit summary, so
    the fold and its bookkeeping are one atomic commit: a crash between
    base-merge and view-fold just leaves a wider (still exact,
    telescoping) span for the next call. A missing manifest on the
    incremental path (snapshot expiry) falls back to a full refresh.
    Epoch ids are the base snapshot id folded through — re-running the
    same fold hits the idempotent-skip. A shared ``span``
    (``lake/change_span``) pins the fold to ``span.head`` and is read
    when the view's marker reduces to its start."""
    vsnap = view.current_snapshot()
    through = vsnap["summary"].get("view_through")
    cur = span.head if span is not None else base.current_snapshot()["snapshot_id"]
    if through is None:
        return refresh_view_full(view, base, group_col, value_expr, epoch_id=cur)
    if cur <= through:
        return {"skipped": True, "snapshot_id": vsnap["snapshot_id"]}
    try:
        return maintain_view(
            view, base, through, cur, group_col, value_expr,
            epoch_id=cur, summary_extra={"view_through": cur}, span=span,
        )
    except FileNotFoundError:
        return refresh_view_full(view, base, group_col, value_expr, epoch_id=cur)
