"""Multi-table concurrent fan-out (SURVEY S7): one changelog micro-batch
→ N route tables, each with its OWN epoch commit marker.

The reference inserts 5 (eth) / 3 (btc) / 43 (tron) tables per block
batch with no cross-table atomicity (/root/reference/src/ch_eth/
init.rs:403-425, src/ch_tron/init.rs:826-998): a crash between table A's
insert and table B's leaves torn state, and the retry blindly re-inserts
A, leaning on ReplacingMergeTree background merges to eventually hide
the duplicates. Here the crash window is CLOSED by per-table idempotent
epoch markers: applying the same (batch, epoch) again skips every table
that already committed it and applies only the missing ones, so any
schedule of crashes + retries converges to the same per-table state
(pinned by tests/test_fanout.py's kill-between-commits test).

Scale shape: the discriminator is computed once; the batch is cached for
the duration of the fan-out (one micro-batch, not the stream — at 10^10
events a micro-batch is the unit that must fit the cluster's cache
anyway), and each route's merge scans the cached batch with a
route-pruned filter + projection. Routes commit sequentially from the
driver (the commit is metadata-only, milliseconds); the heavy work —
each route's LWW + bucketed write — is a separate Spark job whose tasks
use the whole cluster, which beats running R route-jobs concurrently
against the same executors (same total work, more memory pressure).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.operators.apply import apply_changelog_batch
from web3research_etl_spark.operators.dispatch import REST_ROUTE, dispatch_by_type


def apply_fanout_batch(
    tables: dict[str, LakeTable],
    batch: DataFrame,
    epoch_id: int,
    discriminator,
    routes: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
    registry: DataFrame | None = None,
    salt_partitions: int | str | None = None,
    on_route_committed: Callable[[str, dict], None] | None = None,
    apply_fn: Callable | None = None,
    write_mode: str | None = None,
) -> dict[str, dict]:
    """Apply one micro-batch to every route table, exactly-once per
    table. ``tables`` maps route name → LakeTable; ``routes`` maps route
    name → projection (identity when omitted); rows matching no route go
    to ``tables[REST_ROUTE]`` if present, else are dropped (the
    reference logs-and-drops, init.rs:818-820). Routes apply in sorted
    name order — determinism makes the crash-window tests exact.

    ``on_route_committed(route, result)`` fires after each table's
    commit (metrics hook; the crash test raises from it).

    ``apply_fn(table, df, epoch_id, registry=, salt_partitions=)``
    overrides the per-table apply — default is the
    full pages pipeline (apply_changelog_batch: registry sync + fused
    LWW + extraction); pass a thin ``merge_changelog`` wrapper for
    tables with a non-pages schema."""
    route_names = sorted(tables)
    projections = {
        r: (routes or {}).get(r, lambda df: df)
        for r in route_names
        if r != REST_ROUTE
    }
    cached = batch.persist()
    try:
        routed = dispatch_by_type(cached, discriminator, projections)
        results: dict[str, dict] = {}
        for r in route_names:
            if r not in routed:
                continue
            kwargs = dict(registry=registry, salt_partitions=salt_partitions)
            if write_mode is not None:
                # only forwarded when set so a custom apply_fn without
                # the kwarg keeps working in the default cow world
                kwargs["write_mode"] = write_mode
            res = (apply_fn or apply_changelog_batch)(
                tables[r],
                routed[r],
                epoch_id=epoch_id,
                **kwargs,
            )
            results[r] = res
            if on_route_committed is not None:
                on_route_committed(r, res)
        return results
    finally:
        cached.unpersist()


def check_fanout(
    tables: dict[str, LakeTable],
    changelog: DataFrame,
    discriminator,
    routes: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
    heal: bool = False,
    heal_epoch: int | None = None,
) -> dict[str, dict]:
    """Per-route reconcile (+ optional heal) across EVERY route table —
    the set-based analog of the reference's `check` healing all 5 tables
    of a block (/root/reference/src/ch_eth/sync.rs:100-115, 5× delete +
    5× insert per bad block): here each route gets one distributed
    reconcile plan over ITS changelog slice (sliced by the same
    discriminator the fan-out used, so expectations match what the apply
    path routed), and healing rides the same exactly-once merge.

    ``changelog`` may be the full history or a bounded slice (the
    ``check --since`` pattern); it is persisted once and every route's
    expected-state scan reads the cache. Returns
    {route: {"reconcile": {status: n}, "healed": bool}}. ``heal_epoch``
    defaults to each table's own synthetic heal epoch (idempotent across
    a crash-retry of the same sweep)."""
    from pyspark.sql import functions as F

    from web3research_etl_spark.operators.reconcile import (
        expected_state,
        heal as heal_table,
        reconcile,
    )

    route_names = sorted(tables)
    projections = {
        r: (routes or {}).get(r, lambda df: df)
        for r in route_names
        if r != REST_ROUTE
    }
    cached = changelog.persist()
    try:
        routed = dispatch_by_type(cached, discriminator, projections)
        out: dict[str, dict] = {}
        for r in route_names:
            if r not in routed:
                continue
            rep = reconcile(tables[r].read(), expected_state(routed[r]))
            counts = {
                row["status"]: row["n"]
                for row in rep.groupBy("status").agg(F.count("*").alias("n")).collect()
            }
            healed = False
            if heal and any(k != "ok" for k in counts):
                ep = heal_epoch if heal_epoch is not None else tables[
                    r
                ].synthetic_epoch_id("heal")
                heal_table(tables[r], routed[r], epoch_id=ep, report=rep)
                healed = True
            out[r] = {"reconcile": counts, "healed": healed}
        return out
    finally:
        cached.unpersist()


def run_fanout_sync(
    spark: SparkSession,
    source_dir: str,
    tables: dict[str, LakeTable],
    checkpoint_dir: str,
    discriminator,
    routes: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
    registry: DataFrame | None = None,
    salt_partitions: int | str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    processing_time: str = "5 seconds",
):
    """Streaming multi-table fan-out: the S7 pipeline end-to-end. Same
    exactly-once story as run_sync, but per TABLE: the streaming
    checkpoint replays un-acked batches and every route table skips the
    epochs it already holds."""
    from web3research_etl_spark.streaming.pipeline import stream_changelog

    stream = stream_changelog(spark, source_dir, max_files_per_trigger)

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        apply_fanout_batch(
            tables,
            batch_df,
            epoch_id=epoch_id,
            discriminator=discriminator,
            routes=routes,
            registry=registry,
            salt_partitions=salt_partitions,
        )

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
