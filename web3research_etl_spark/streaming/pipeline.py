"""Structured Streaming tail: changelog directory → lake table.

Spark re-expression of the reference's `sync` subcommand
(/root/reference/src/main.rs:55-75 → src/ch_eth/sync.rs): the WS
block-head subscription becomes a file-stream source (push→pull is
inherent to micro-batching), the per-block handler becomes
``foreachBatch`` calling the same batch-apply used by backfill, and
exactly-once comes from BOTH the streaming checkpoint (source offsets)
AND the sink's epoch commit markers — either alone survives a crash;
together they survive checkpoint loss + batch re-delivery.

``Trigger.AvailableNow`` bounds the stream for backfill-style runs (the
reference's `init` loop, src/ch_eth/init.rs:360) while unbounded
processing-time triggers tail forever (`sync`).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.operators.apply import apply_changelog_batch
from web3research_etl_spark.schemas import CHANGELOG_SCHEMA

# synthetic (out-of-band) epochs live at >= 1<<40 (LakeTable.
# synthetic_epoch_id); streaming bases are computed over the range below
_SYNTHETIC_FLOOR = 1 << 40


def _epoch_base(table: LakeTable, checkpoint_dir: str) -> int:
    """Per-query epoch-marker base, persisted INSIDE the checkpoint dir.

    The sink's exactly-once markers are integers in the table's commit
    summary; Structured Streaming's batch ids restart at 0 for every new
    checkpoint. Marking raw batch ids therefore conflates "this query
    re-delivered batch 7" (must skip) with "a NEW query's batch 7 against
    a table some earlier query already filled" (must apply) — the latter
    silently dropped the whole run (found by the feed-retention braid
    test: phase-2 sync with a fresh checkpoint applied nothing).

    The base is the same trick Delta's txn (appId, version) pair uses,
    flattened to the integer markers this lake stores: marker =
    base + batch_id, where base is allocated PAST every committed
    streaming epoch when the checkpoint is first created, then pinned in
    ``<checkpoint>/w3r_epoch_base.json``. A resume of the same
    checkpoint reuses the pinned base, so batch re-delivery after a
    crash still maps to the same marker and skips; a fresh checkpoint
    gets a disjoint range, so its batches apply. Synthetic heal/replay
    epochs (>= 1<<40) are excluded from the scan so one heal doesn't
    catapult the base. Single live writer-query per table as ever —
    concurrent base allocation is the multi-writer case OCC handles at
    commit, not here.
    """
    marker = os.path.join(checkpoint_dir, "w3r_epoch_base.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return int(json.load(f)["base"])
    streaming_epochs = [
        e for e in table.committed_epochs() if e < _SYNTHETIC_FLOOR
    ]
    base = (max(streaming_epochs) + 1) if streaming_epochs else 0
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"base": base}, f)
    os.replace(tmp, marker)
    return base


def stream_changelog(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over a changelog parquet directory (the file-stream
    stand-in for a Kafka/binlog source; swapping in Kafka is a
    format+options change, the pipeline below is source-agnostic)."""
    reader = (
        spark.readStream.schema(CHANGELOG_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(source_dir)


def run_sync(
    spark: SparkSession,
    source_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    ledger: LakeTable | None = None,
    registry: DataFrame | None = None,
    salt_partitions: int | str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    processing_time: str = "5 seconds",
    dedup_watermark: str | None = None,
    source: DataFrame | None = None,
    feed_dir: str | None = None,
    feed_payloads: bool = False,
    view: LakeTable | None = None,
    view_group: str | None = None,
    view_value=None,
    maintain_every: int | None = None,
    maintain_retain_last: int = 8,
    maintain_blooms: bool = False,
    maintain_min_groups: int = 2,
    maintain_expire_feed: bool = False,
    maintain_cluster_by: list[str] | None = None,
    maintain_cluster_files: int = 8,
    write_mode: str = "cow",
    sidecar_async: bool = False,
    search_index: dict | None = None,
    search_text_col: str = "text",
):
    """Start the streaming apply. With ``available_now`` the query drains
    everything present and stops (bounded backfill); otherwise it tails.

    ``feed_dir`` turns the pipeline into a CDC *producer* as well as a
    consumer: after each epoch's merge commits, the snapshot's
    incremental diff is published to the materialized change feed
    (lake/cdc_feed.publish_changes) for downstream consumers to tail.
    Publishing is outside the commit path — a crash after the merge but
    before the publish is healed by the next epoch's publish pass,
    which drains ALL unpublished snapshots (at-least-once feed,
    idempotent per-snapshot directories).

    ``dedup_watermark`` (e.g. ``"2 hours"``) inserts a
    dropDuplicatesWithinWatermark stage ahead of the sink: re-delivered
    events whose duplicate lands inside the horizon are dropped BEFORE
    the merge, so their payload bytes never reach the merge shuffle.
    Off by default — the merge's LWW apply is already idempotent, so
    this is purely a shuffle-volume optimization. Horizon choice: it
    MUST exceed the source's maximum event-time disorder — watermark
    semantics drop any row later than the horizon outright (standard
    Spark late-data policy, SURVEY T2), which would silence events the
    LWW backstop never sees. Size it to covered-lag + dup window; state
    stays bounded to one horizon of keys either way.

    ``view`` (+ ``view_group``, ``view_value``) maintains a grouped
    (count, decimal sum) materialized view INCREMENTALLY alongside the
    sink: after each epoch's merge commits, operators/ivm.sync_view
    folds the base table's net changes (before-images on) into the view
    — O(changed rows) per epoch, never a base re-scan. Like the feed,
    the fold sits outside the commit path: its consumed-through marker
    rides in the view's own commit summary, so a crash between merge
    and fold leaves a wider exact span for the next epoch; a chain
    broken by snapshot expiry self-heals with one full refresh.

    ``maintain_every`` closes the steady-state generation-pile loop
    in-stream: every N APPLIED (non-skipped) epochs, after that epoch's
    merge/feed/view complete, run compaction (``rewrite_small_files``),
    snapshot expiry (``expire_snapshots(retain_last=maintain_retain_last)``)
    and — with ``maintain_blooms`` — Bloom sidecars for any data file
    lacking one. Without it, an append-heavy tail accumulates one file
    generation per epoch per touched bucket and point-lookup pruning
    degrades linearly. Ordering matters and is fixed: the feed publishes
    BEFORE expiry (the wedge-proof publisher fast-forwards past expired
    gaps, but publishing first means it never has to), and blooms build
    AFTER compaction so fresh compacted files are immediately prunable.
    Size ``maintain_retain_last`` to consumer lag: expiry discards the
    history incremental readers (feed/view/read_changes) diff against.
    This in-line path is the single-process convenience; on a real
    cluster the same calls run out-of-band via ``maintain`` CLI under
    the lake's optimistic-concurrency commit (test_occ).

    ``maintain_expire_feed`` (with ``feed_dir``) extends each
    maintenance pass to the feed side: after snapshot expiry, CDC-feed
    snapshot directories older than the table's oldest retained
    snapshot are pruned (lake/cdc_feed.expire_feed) — so one
    long-running ``sync --feed --maintain-every N`` bounds BOTH the
    snapshot history and the feed directory without an operator cron.
    Runs after expiry by construction: the feed floor IS the
    post-expiry oldest snapshot, and publish-before-expire ordering
    guarantees every pruned directory was already published.

    ``write_mode="mor"`` applies each epoch as merge-on-read delta
    file groups (O(batch) written per epoch, no stored-state read —
    see LakeTable.merge_changelog). Pair it with ``maintain_every``:
    the periodic ``rewrite_small_files`` pass folds accumulated deltas
    back into base generations through the resolved read, bounding the
    per-read resolve cost to ``maintain_every`` generations.
    ``maintain_min_groups`` raises the per-bucket generation threshold
    the pass folds at (default 2 = fold any multi-group bucket): under
    steady MoR ingest set it to the resolve budget so cold buckets a
    couple of deltas deep aren't rewritten every pass.

    ``maintain_cluster_by`` (with ``maintain_every``) extends each
    maintenance pass with a z-order clustered rewrite of the named
    columns (``rewrite_clustered`` — VERDICT r4 next #7): a
    long-running ingest keeps NON-key file pruning fresh at the same
    cadence as compaction, instead of requiring an out-of-band
    ``maintain --cluster-by``. Runs right after compaction (so it
    clusters the folded generations, and Bloom sidecars — built last —
    cover the clustered files); under MoR the clustered-read carve-out
    applies as ever (delta'd buckets are never value-pruned until the
    next fold).

    ``search_index`` (an ``operators/search_ivm`` index dict from
    ``create_search_index``/``load_search_index``) keeps the inverted
    retrieval index current alongside the sink: after each epoch's
    merge, ``sync_search_index`` folds the base table's CDC span into
    the postings + doc-lengths LakeTables — O(changed docs) per epoch,
    same consumed-through/telescoping/self-heal contract as ``view``,
    and it rides the same sidecar thread under ``sidecar_async``.
    ``search_text_col`` names the tokenized column (default ``text``).

    One change span per pass: the feed, the view and both index tables
    each keep their own consumed-through marker (the view and the index
    fold through one ``lake/change_span.Fold`` protocol; the feed
    publishes per snapshot), but the sidecar pass reads the base
    table's change span ONCE — the span most markers reduce to,
    projected to the columns those consumers read and persisted — hands
    it to every consumer, and unpersists it when the pass ends. A
    consumer whose marker does not reduce to that span's start reads
    its own span. Markers reduce across compaction and clustering
    commits, which ``read_changes`` and the feed skip from manifest
    metadata, so the previous epoch's maintenance adds no read.

    ``sidecar_async=True`` moves the feed publish + view fold OFF the
    epoch critical path: they run in a background thread that OVERLAPS
    the next epoch's merge (VERDICT r4 next #2 — they were a fixed
    driver-serial slice per epoch). Safe by the same properties that
    make them crash-healing: both are idempotent, read immutable
    committed snapshots, and telescope across spans — a fold that
    observes a newer base snapshot simply consumes further and the next
    pass skips. Ordering is preserved where it matters: at most one
    sidecar thread is in flight (joined before the next spawns), and
    maintenance joins it first so publish-before-expire still holds.
    After ``awaitTermination`` one sidecar pass may still be in flight;
    the returned query carries ``w3r_join_sidecars()`` to drain it
    (bounded sync/backfill callers should call it; a tailing pipeline
    never needs to — the next epoch's pass heals).

    ``source`` overrides the default file-stream reader with any
    pre-built streaming DataFrame in CHANGELOG_SCHEMA shape — e.g.
    ``sources.kafka_wire.stream_changelog_wire`` (or a real
    ``format("kafka")`` load piped through ``decode_wire``). Everything
    from here down is transport-agnostic.

    Returns the StreamingQuery (caller awaits/stops it).
    """
    stream = (
        source
        if source is not None
        else stream_changelog(spark, source_dir, max_files_per_trigger)
    )
    if dedup_watermark is not None:
        from web3research_etl_spark.streaming.stateful import dedup_within_watermark

        stream = dedup_within_watermark(stream, watermark=dedup_watermark)

    applied_since_maintain = 0
    epoch_base = _epoch_base(table, checkpoint_dir)
    sidecar_state: dict = {"thread": None, "error": None}

    def _run_sidecars() -> None:
        from web3research_etl_spark.lake import cdc_feed
        from web3research_etl_spark.lake.change_span import open_span
        from web3research_etl_spark.operators import ivm, search_ivm

        span = None
        try:
            # the pass's one change-span read, shared by every consumer
            # whose marker reduces to its start (lake/change_span)
            needs = []
            if feed_dir is not None:
                needs.append(cdc_feed.feed_span_need(table, feed_dir, payloads=feed_payloads))
            if view is not None:
                needs.append(ivm.view_fold(view, table, view_group, view_value).need())
            if search_index is not None:
                folds = search_ivm.index_folds(search_index, table, search_text_col)
                needs += [f.need() for f in folds]
            if needs:
                span = open_span(table, table.current_snapshot()["snapshot_id"], needs)
            if feed_dir is not None:
                cdc_feed.publish_changes(table, feed_dir, payloads=feed_payloads, span=span)
            if view is not None:
                ivm.sync_view(view, table, view_group, view_value, span=span)
            if search_index is not None:
                search_ivm.sync_search_index(
                    search_index, table, text_col=search_text_col, span=span
                )
        except Exception as e:  # surfaced at the next join point
            sidecar_state["error"] = e
        finally:
            if span is not None:
                span.df.unpersist()

    def _join_sidecars() -> None:
        t = sidecar_state["thread"]
        if t is not None:
            t.join()
            sidecar_state["thread"] = None
        err = sidecar_state["error"]
        if err is not None:
            sidecar_state["error"] = None
            raise err

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal applied_since_maintain
        res = apply_changelog_batch(
            table,
            batch_df,
            epoch_id=epoch_base + epoch_id,
            ledger=ledger,
            registry=registry,
            salt_partitions=salt_partitions,
            write_mode=write_mode,
        )
        if sidecar_async:
            import threading

            # previous epoch's pass overlapped THIS epoch's merge; join
            # it (at most one in flight), then launch this epoch's
            _join_sidecars()
            t = threading.Thread(target=_run_sidecars, daemon=True)
            sidecar_state["thread"] = t
            t.start()
        else:
            _run_sidecars()
        if maintain_every and not res.get("skipped"):
            applied_since_maintain += 1
            if applied_since_maintain >= maintain_every:
                applied_since_maintain = 0
                # publish-before-expire: the in-flight sidecar pass (if
                # async) must land before maintenance expires snapshots
                _join_sidecars()
                table.rewrite_small_files(
                    target_min_files_per_bucket=max(1, maintain_min_groups - 1),
                    min_groups=maintain_min_groups,
                )
                if maintain_cluster_by:
                    table.rewrite_clustered(
                        maintain_cluster_by,
                        files_per_bucket=maintain_cluster_files,
                    )
                table.expire_snapshots(retain_last=maintain_retain_last)
                if maintain_expire_feed and feed_dir is not None:
                    from web3research_etl_spark.lake.cdc_feed import expire_feed

                    expire_feed(table, feed_dir)
                if maintain_blooms:
                    table.build_blooms()

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    q = writer.start()
    # drain hook for bounded runs: after awaitTermination one async
    # sidecar pass may still be in flight
    q.w3r_join_sidecars = _join_sidecars
    return q
