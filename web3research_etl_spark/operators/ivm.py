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
from ..lake.change_span import ChangeSpan, Fold, SpanRead
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


def view_fold(view: LakeTable, base: LakeTable, group_col: str, value_expr) -> Fold:
    """The grouped view as a :class:`Fold`: a materialized-view
    LakeTable with schema ``(group, n_rows, total_value, epoch)`` keyed
    by the group column with ``version_order=[epoch]``, marker
    ``view_through``. ``value_expr`` is a Column fn applied to both the
    new and the ``old_``-prefixed image — pass the rounding/decimal
    cast here so retraction cancels exactly.

    The delta rewrites only TOUCHED groups (the view table's bucketed
    copy-on-write merge); a group whose row count reaches zero is
    deleted. The equi-join against current view state is deltas-sized
    on one side and |groups| on the other — never the base table. The
    merge input (at most one row per group) is materialized once: the
    merge's bucket probe and its write would otherwise each re-run the
    delta aggregate, and with it the change span under it."""

    def delta(changes: DataFrame, head: int) -> DataFrame:
        gcol, *_ = view.current_snapshot()["key"]
        cur = view.read().select(
            F.col(gcol),
            F.col("n_rows").alias("_cur_n"),
            F.col("total_value").alias("_cur_v"),
        )
        merged = (
            aggregate_deltas(changes, group_col, "_v")
            .withColumnRenamed(group_col, gcol)
            .join(cur, gcol, "left")
            .select(
                F.col(gcol),
                (F.coalesce("_cur_n", F.lit(0)) + F.col("d_rows")).alias("n_rows"),
                (
                    F.coalesce(F.col("_cur_v"), F.lit(0).cast("decimal(18,2)"))
                    + F.coalesce(F.col("d_value"), F.lit(0).cast("decimal(18,2)"))
                ).cast("decimal(18,2)").alias("total_value"),
                F.lit(head).cast("bigint").alias("epoch"),
            )
        )
        return materialize(
            merged.select(
                F.when(F.col("n_rows") <= 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
                "*",
            )
        )

    def full(head: int) -> DataFrame:
        gcol, *_ = view.current_snapshot()["key"]
        return (
            base.read(head)
            .select(F.col(group_col).alias(gcol), value_expr(F.col).alias("_v"))
            .groupBy(gcol)
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("_v").cast("decimal(18,2)").alias("total_value"),
            )
            .withColumn("epoch", F.lit(head).cast("bigint"))
        )

    return Fold(view, "view_through", _span_read(group_col, value_expr), delta, full)


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
    """One IVM step between two explicit base snapshots, committed as
    ``epoch_id``: the view fold's delta over their net changes. Folding
    a multi-epoch span in one step is exact: ``read_changes`` returns
    NET changes, and additive deltas telescope. A ``span`` that covers
    the two snapshots is read instead of ``read_changes``."""
    fold = view_fold(view, base, group_col, value_expr)
    rows = fold.delta(fold.read.changes(base, from_snapshot_id, to_snapshot_id, span), epoch_id)
    return view.merge_changelog(rows, epoch_id=epoch_id, summary_extra=summary_extra)


def sync_view(
    view: LakeTable,
    base: LakeTable,
    group_col: str,
    value_expr,
    span: ChangeSpan | None = None,
) -> dict:
    """Advance the view to the base table's current snapshot — the call
    a streaming pipeline makes after each epoch's merge commit — through
    the shared fold protocol (``lake/change_span.Fold.sync``): skip at
    the head, fold the span incrementally, or rebuild when the view has
    no ``view_through`` marker or its manifest expired. A shared
    ``span`` pins the fold to ``span.head`` and is read when the view's
    marker reduces to its start."""
    return view_fold(view, base, group_col, value_expr).sync(base, span)
