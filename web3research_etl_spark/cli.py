"""spark-submit entrypoint — the reference's CLI surface re-expressed.

Reference (/root/reference/src/main.rs:16-118): `init` (bounded
backfill), `sync` (unbounded tail), `check` (reconcile + heal). Ours:

    spark-submit --py-files web3research_etl_spark.zip -m ... cli.py \
        init  --source DIR --table DIR [--batch-files N]
        sync  --source DIR --table DIR --checkpoint DIR
        check --source DIR --table DIR [--heal]
        changes --table DIR --from-snapshot A [--to-snapshot B] [--out DIR]
        maintain --table DIR [--compact [--compact-min-groups G]]
                 [--vacuum-before TS] [--expire-keep N] [--remove-orphans]
                 [--rebucket N] [--expire-feed DIR] [--build-blooms]
                 [--cluster-by COL[,COL...] [--cluster-files-per-bucket K]]
        rollback --table DIR --to-snapshot ID   (reorg: restore state +
                 reopen the undone epochs for replay)
        wap   --table DIR (--list | --audit ID | --publish ID | --abandon ID)
        gen   --out DIR --events N          (synthetic changelog fixture)

    All changelog-consuming commands accept ``--source-format wire`` to
    read Kafka-wire-shaped records (sources/kafka_wire.py) instead of
    plain changelog parquet; ``--write-mode mor`` switches the merge to
    merge-on-read delta appends (pair with ``--maintain-every`` /
    ``--maintain-min-groups`` to bound read-side generations).

Also runnable locally: python -m web3research_etl_spark.cli ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F


def _common(sub: argparse.ArgumentParser) -> None:
    sub.add_argument("--table", required=True, help="lake table root dir")
    sub.add_argument("--source", required=True, help="changelog parquet dir")
    sub.add_argument(
        "--source-format",
        choices=["changelog", "wire"],
        default="changelog",
        help="'changelog': plain CHANGELOG_SCHEMA parquet dir (default); "
        "'wire': Kafka-wire-shaped records (sources/kafka_wire.py) — the "
        "broker-transport stand-in, decoded by the same decode_wire a real "
        "format('kafka') load would use",
    )
    sub.add_argument(
        "--salt-partitions",
        default=None,
        type=lambda v: v if v == "auto" else int(v),
        help="write-side skew salt: an int, or 'auto' to measure the "
        "batch's bucket histogram per epoch",
    )
    sub.add_argument("--no-registry", action="store_true")
    sub.add_argument(
        "--maintain-min-groups",
        type=int,
        default=2,
        help="per-bucket generation count at which --maintain-every's "
        "compaction folds a bucket (default 2 = any multi-group bucket; "
        "raise under --write-mode mor to amortize rewrites)",
    )

def _write_mode_flag(sub: argparse.ArgumentParser) -> None:
    # only on the subcommands that WRITE through merge_changelog
    # (init/sync) — check's heal is CoW by contract and replay/changes
    # don't merge, so offering the knob there would be a no-op flag
    # (ADVICE r03: flag ignored + env fatal made heal's effective write
    # mode surprising)
    sub.add_argument(
        "--write-mode",
        default="cow",
        choices=["cow", "mor"],
        help="merge strategy: cow (default) rewrites touched buckets per "
        "epoch; mor appends the epoch's winners as merge-on-read delta "
        "file groups (O(batch) write, resolved at read, folded back by "
        "--maintain-every compaction)",
    )


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="web3research_etl_spark")
    subs = p.add_subparsers(dest="cmd", required=True)

    def _dedup_flag(sub: argparse.ArgumentParser) -> None:
        sub.add_argument(
            "--dedup-watermark",
            default=None,
            metavar="DURATION",
            help="drop re-delivered events before the merge via "
            "dropDuplicatesWithinWatermark (e.g. '2 hours'). MUST exceed the "
            "source's max event-time disorder — later rows are dropped "
            "outright per watermark semantics. Off by default; the LWW merge "
            "stays the idempotency backstop either way.",
        )

    def _feed_flags(sub: argparse.ArgumentParser) -> None:
        sub.add_argument(
            "--feed",
            default=None,
            metavar="DIR",
            help="publish each epoch's incremental diff to this materialized "
            "CDC feed directory after the merge commits (lake/cdc_feed)",
        )
        sub.add_argument(
            "--feed-payloads",
            action="store_true",
            help="ride the new-side data columns along in the feed "
            "(replication-capable; see cdc_feed.apply_feed)",
        )

    def _search_index_flags(sub: argparse.ArgumentParser) -> None:
        sub.add_argument(
            "--search-index",
            default=None,
            metavar="DIR",
            help="maintain an inverted retrieval index (postings + doc "
            "lengths LakeTables under DIR) incrementally from each epoch's "
            "CDC span (operators/search_ivm) — created on first use, keyed "
            "by the table's key column",
        )
        sub.add_argument(
            "--search-text-col",
            default="text",
            help="tokenized column feeding the index (default: text)",
        )

    def _view_flags(sub: argparse.ArgumentParser) -> None:
        sub.add_argument(
            "--view",
            default=None,
            metavar="DIR",
            help="maintain a grouped materialized view table here, folded "
            "forward incrementally from each epoch's CDC deltas "
            "(operators/ivm.sync_view); created on first use",
        )
        sub.add_argument(
            "--view-group",
            default=None,
            metavar="COL",
            help="group-by column of the view (required with --view)",
        )
        sub.add_argument(
            "--view-value",
            default=None,
            metavar="COL",
            help="numeric column summed (round-2 decimal) per group; "
            "omitted = count-only view",
        )

    def _maintain_flags(p):
        p.add_argument(
            "--maintain-every",
            type=int,
            default=None,
            metavar="N",
            help="every N applied epochs: compact small files, expire "
            "snapshots, and (with --maintain-blooms) build Bloom sidecars "
            "in-stream",
        )
        p.add_argument(
            "--maintain-retain",
            type=int,
            default=8,
            metavar="K",
            help="snapshots retained by in-stream expiry (size to consumer "
            "lag: expiry discards the history incremental readers diff "
            "against)",
        )
        p.add_argument(
            "--maintain-blooms",
            action="store_true",
            help="also build per-file key Bloom sidecars at each in-stream "
            "maintenance pass",
        )
        p.add_argument(
            "--maintain-expire-feed",
            action="store_true",
            help="with --feed: each in-stream maintenance pass also prunes "
            "CDC-feed snapshot dirs older than the oldest retained table "
            "snapshot, so a long-running sync bounds both snapshot history "
            "and the feed directory (consumers' checkpoints must keep up "
            "with table retention)",
        )
        p.add_argument(
            "--maintain-cluster-by",
            default=None,
            metavar="COL[,COL...]",
            help="each in-stream maintenance pass also z-order-clusters "
            "these columns (rewrite_clustered), keeping NON-key file "
            "pruning fresh at the compaction cadence instead of via an "
            "out-of-band `maintain --cluster-by`",
        )
        p.add_argument(
            "--maintain-cluster-files",
            type=int,
            default=8,
            metavar="K",
            help="target clustered files per bucket for "
            "--maintain-cluster-by",
        )
        p.add_argument(
            "--async-sidecars",
            action="store_true",
            help="run the feed publish + view fold in a background thread "
            "overlapping the next epoch's merge (both are idempotent and "
            "crash-healing; maintenance joins the in-flight pass first so "
            "publish-before-expire ordering holds)",
        )

    init = subs.add_parser("init", help="bounded backfill (drain available changelog)")
    _common(init)
    init.add_argument("--batch-files", type=int, default=None, help="maxFilesPerTrigger")
    init.add_argument("--checkpoint", default=None)
    _write_mode_flag(init)
    _dedup_flag(init)
    _feed_flags(init)
    _view_flags(init)
    _search_index_flags(init)
    _maintain_flags(init)

    sync = subs.add_parser("sync", help="unbounded streaming tail")
    _common(sync)
    sync.add_argument("--checkpoint", required=True)
    sync.add_argument("--trigger", default="5 seconds")
    sync.add_argument("--batch-files", type=int, default=None)
    _write_mode_flag(sync)
    _dedup_flag(sync)
    _feed_flags(sync)
    _view_flags(sync)
    _search_index_flags(sync)
    _maintain_flags(sync)

    check = subs.add_parser("check", help="reconcile stored state vs changelog; optionally heal")
    _common(check)
    check.add_argument("--heal", action="store_true")
    check.add_argument("--epoch", type=int, default=None, help="heal epoch id")
    check.add_argument(
        "--since",
        type=int,
        default=None,
        help="bounded reconcile: verify only keys touched by events with "
        "event_seq >= SINCE — O(window) instead of O(history) (the "
        "reference checks the last 100k blocks). Orphan sweeps outside "
        "the window need an unwindowed check.",
    )

    replay = subs.add_parser(
        "replay",
        help="replay-convergence pass: rebuild from the changelog and "
        "content-hash compare against the live table",
    )
    _common(replay)
    replay.add_argument(
        "--apply-tail",
        action="store_true",
        help="first apply events past the table's committed source "
        "offsets to it (resume-from-checkpoint), then compare",
    )

    changes = subs.add_parser(
        "changes",
        help="incremental CDC read: net row-level changes between two "
        "snapshots (what a downstream consumer tails instead of "
        "re-diffing full states)",
    )
    changes.add_argument("--table", required=True, help="lake table root dir")
    changes.add_argument(
        "--from-snapshot", dest="from_snapshot", type=int, required=True
    )
    changes.add_argument(
        "--to-snapshot",
        dest="to_snapshot",
        type=int,
        default=None,
        help="defaults to the current snapshot",
    )
    changes.add_argument(
        "--out",
        default=None,
        help="write the change rows as parquet here (otherwise only "
        "per-type counts are printed)",
    )

    maintain = subs.add_parser(
        "maintain",
        help="table maintenance: compaction, tombstone vacuum, snapshot "
        "retention, orphan-file cleanup (the reference's OPTIMIZE/backup "
        "sidecars, scripts/optimize_db.py + scripts/backup_db.py)",
    )
    maintain.add_argument("--table", required=True, help="lake table root dir")
    maintain.add_argument(
        "--compact", action="store_true", help="rewrite fragmented buckets"
    )
    maintain.add_argument(
        "--compact-min-groups",
        type=int,
        default=2,
        help="fold a bucket only once it holds this many file groups "
        "(raise under write-mode mor to amortize rewrites; default 2)",
    )
    maintain.add_argument(
        "--vacuum-before",
        default=None,
        help="drop tombstones versioned before this timestamp "
        "(YYYY-MM-DD HH:MM:SS; only safe past the out-of-order window)",
    )
    maintain.add_argument(
        "--expire-keep",
        type=int,
        default=None,
        help="expire all but the newest N snapshots",
    )
    maintain.add_argument(
        "--remove-orphans",
        action="store_true",
        help="delete unreferenced data files older than --orphan-grace",
    )
    maintain.add_argument("--orphan-grace", type=float, default=3600.0)
    maintain.add_argument(
        "--rebucket",
        type=int,
        default=None,
        help="rewrite the table under a new bucket count "
        "(partition-spec evolution)",
    )
    maintain.add_argument(
        "--expire-feed",
        default=None,
        metavar="FEED_DIR",
        help="prune CDC-feed snapshot dirs older than the table's oldest "
        "retained snapshot (consumers' checkpoints must be past them)",
    )
    maintain.add_argument(
        "--cluster-by",
        default=None,
        metavar="COL[,COL...]",
        help="z-order clustered rewrite: band each bucket's files by an "
        "interleaved-bit z-value over these columns and record per-file "
        "per-column [min,max] stats, so range scans on NON-key columns "
        "prune files (Iceberg/Delta OPTIMIZE ZORDER analog)",
    )
    maintain.add_argument(
        "--cluster-files-per-bucket",
        type=int,
        default=4,
        help="target z-band file count per bucket for --cluster-by",
    )
    maintain.add_argument(
        "--build-blooms",
        action="store_true",
        help="write per-data-file key Bloom sidecars (point-lookup file "
        "skipping when leading-key ranges overlap)",
    )
    maintain.add_argument(
        "--bloom-bits",
        type=int,
        default=1 << 16,
        help="bits per Bloom sidecar (size ~10x expected keys per file)",
    )

    rollback = subs.add_parser(
        "rollback",
        help="roll the table back to a prior snapshot (metadata-only "
        "commit; restores the data state AND the committed-epochs ledger "
        "so the undone epochs replay — the epoch-granularity reorg path "
        "next to check --heal's key-granularity one)",
    )
    rollback.add_argument("--table", required=True, help="lake table root dir")
    rollback.add_argument(
        "--to-snapshot", type=int, required=True, metavar="ID",
        help="target snapshot id (see the table's metadata/v*.json; must "
        "not be expired)",
    )

    wap = subs.add_parser(
        "wap",
        help="write-audit-publish staging control: list staged snapshots, "
        "audit one's pending diff, fast-forward publish it, or abandon it. "
        "Stage with LakeTable.merge_changelog(stage_wap_id=...) — one "
        "batch per wap_id, since sequential epochs staged against the "
        "same published head would fork rather than chain",
    )
    wap.add_argument("--table", required=True, help="lake table root dir")
    wap_action = wap.add_mutually_exclusive_group(required=True)
    wap_action.add_argument(
        "--list", action="store_true", help="print unpublished staged snapshots"
    )
    wap_action.add_argument(
        "--audit", metavar="WAP_ID",
        help="print the staged diff's per-change_type row counts (the "
        "full diff is LakeTable.audit_staged for programmatic rules)",
    )
    wap_action.add_argument(
        "--publish", metavar="WAP_ID",
        help="fast-forward the staged snapshot into the published chain "
        "(refuses if the head moved since staging)",
    )
    wap_action.add_argument(
        "--abandon", metavar="WAP_ID",
        help="drop the staged snapshot; its files become orphans for "
        "maintain --remove-orphans",
    )

    gen = subs.add_parser("gen", help="write a deterministic synthetic changelog")
    gen.add_argument("--out", required=True)
    gen.add_argument("--events", type=int, required=True)
    gen.add_argument("--files", type=int, default=8)
    gen.add_argument("--seed", type=int, default=42)
    gen.add_argument(
        "--format",
        choices=["changelog", "wire"],
        default="changelog",
        help="emit plain changelog parquet (default) or Kafka-wire records",
    )
    return p


def _read_changelog(spark, args):
    """Batch read of the changelog in whichever transport format the
    caller chose (wire records decode through the same codec the
    streaming path uses)."""
    df = spark.read.parquet(args.source)
    if getattr(args, "source_format", "changelog") == "wire":
        from web3research_etl_spark.sources.kafka_wire import decode_wire

        df = decode_wire(df)
    return df


def _open_table(spark, path: str):
    import os

    from web3research_etl_spark.lake.table import LakeTable
    from web3research_etl_spark.schemas import PAGES_KEY, PAGES_SCHEMA, PAGES_VERSION_ORDER

    if os.path.exists(os.path.join(path, "metadata")):
        return LakeTable.load(spark, path)
    return LakeTable.create(
        spark, path, PAGES_SCHEMA, key=PAGES_KEY, version_order=PAGES_VERSION_ORDER
    )


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from web3research_etl_spark.session import get_spark

    spark = get_spark(app_name=f"w3r-etl-{args.cmd}")

    if args.cmd == "gen":
        from web3research_etl_spark.changelog import write_changelog_dir

        if args.format == "wire":
            import shutil
            import tempfile

            from web3research_etl_spark.sources.kafka_wire import write_wire_dir

            tmp = tempfile.mkdtemp(prefix="w3r_gen_")
            try:
                df = write_changelog_dir(
                    spark, tmp, args.events, files_per_batch=args.files, seed=args.seed
                )
                write_wire_dir(df, args.out)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            n = spark.read.parquet(args.out).count()
        else:
            df = write_changelog_dir(
                spark, args.out, args.events, files_per_batch=args.files, seed=args.seed
            )
            n = df.count()
        print(json.dumps({"written": n, "path": args.out, "format": args.format}))
        return 0

    if args.cmd == "changes":
        table = _open_table(spark, args.table)
        to_id = (
            args.to_snapshot
            if args.to_snapshot is not None
            else table.current_snapshot()["snapshot_id"]
        )
        chg = table.read_changes(args.from_snapshot, to_id)
        if args.out:
            chg.write.parquet(args.out)
            chg = spark.read.parquet(args.out)  # count what was written
        counts = {
            r["change_type"]: r["n"]
            for r in chg.groupBy("change_type").agg(F.count("*").alias("n")).collect()
        }
        print(
            json.dumps(
                {
                    "from_snapshot": args.from_snapshot,
                    "to_snapshot": to_id,
                    "changes": counts,
                    "out": args.out,
                }
            )
        )
        return 0

    if args.cmd == "maintain":
        from web3research_etl_spark.lake.table import LakeTable

        table = LakeTable.load(spark, args.table)
        report: dict = {}
        if args.rebucket is not None:
            report["rebucket"] = table.rebucket(args.rebucket)
        if args.compact:
            report["compact"] = table.rewrite_small_files(
                target_min_files_per_bucket=max(1, args.compact_min_groups - 1),
                min_groups=args.compact_min_groups,
            )
        if args.cluster_by:
            report["cluster"] = table.rewrite_clustered(
                [c.strip() for c in args.cluster_by.split(",") if c.strip()],
                files_per_bucket=args.cluster_files_per_bucket,
            )
        if args.vacuum_before:
            report["vacuum"] = table.vacuum_tombstones(args.vacuum_before)
        if args.expire_keep is not None:
            report["expire"] = table.expire_snapshots(retain_last=args.expire_keep)
        if args.remove_orphans:
            res = table.remove_orphan_files(grace_seconds=args.orphan_grace)
            report["orphans"] = {"data_files_removed": res["data_files_removed"]}
        if args.expire_feed is not None:
            from web3research_etl_spark.lake.cdc_feed import expire_feed

            report["expire_feed"] = expire_feed(table, args.expire_feed)
        if args.build_blooms:
            report["blooms"] = table.build_blooms(m_bits=args.bloom_bits)
        if not report:
            print("nothing to do: pass --compact / --vacuum-before / "
                  "--expire-keep / --remove-orphans / --rebucket / "
                  "--expire-feed / --build-blooms", file=sys.stderr)
            return 2
        print(json.dumps(report))
        return 0

    if args.cmd == "rollback":
        from web3research_etl_spark.lake.table import LakeTable

        table = LakeTable.load(spark, args.table)
        print(json.dumps(table.rollback_to(args.to_snapshot)))
        return 0

    if args.cmd == "wap":
        from web3research_etl_spark.lake.table import LakeTable

        table = LakeTable.load(spark, args.table)
        if args.list:
            print(json.dumps({"staged": table.staged_snapshots()}))
        elif args.audit:
            counts = {
                r["change_type"]: r["n"]
                for r in table.audit_staged(args.audit)
                .groupBy("change_type")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            print(json.dumps({"wap_id": args.audit, "changes": counts}))
        elif args.publish:
            print(json.dumps({"publish": table.publish_staged(args.publish)}))
        else:
            print(json.dumps({"abandon": table.abandon_staged(args.abandon)}))
        return 0

    from web3research_etl_spark.registry import default_registry

    table = _open_table(spark, args.table)
    registry = None if args.no_registry else default_registry(spark)

    if args.cmd in ("init", "sync"):
        import tempfile

        from web3research_etl_spark.streaming.pipeline import run_sync

        checkpoint = args.checkpoint or tempfile.mkdtemp(prefix="w3r_ckpt_")
        view = view_value = None
        if getattr(args, "view", None):
            from pyspark.sql import types as T

            from web3research_etl_spark.lake.table import LakeTable

            if not args.view_group:
                print("--view requires --view-group", file=sys.stderr)
                return 2
            if os.path.exists(os.path.join(args.view, "metadata")):
                view = LakeTable.load(spark, args.view)
            else:
                gtype = next(
                    f.dataType
                    for f in table.schema().fields
                    if f.name == args.view_group
                )
                view = LakeTable.create(
                    spark,
                    args.view,
                    T.StructType(
                        [
                            T.StructField(args.view_group, gtype, True),
                            T.StructField("n_rows", T.LongType(), True),
                            T.StructField("total_value", T.DecimalType(18, 2), True),
                            T.StructField("epoch", T.LongType(), True),
                        ]
                    ),
                    key=[args.view_group],
                    version_order=["epoch"],
                    n_buckets=4,
                )
            vcol = args.view_value
            if vcol:
                view_value = lambda col: F.round(col(vcol), 2).cast("decimal(18,2)")  # noqa: E731
            else:
                view_value = lambda col: F.lit(0).cast("decimal(18,2)")  # noqa: E731
        search_index = None
        if getattr(args, "search_index", None):
            from web3research_etl_spark.operators.search_ivm import (
                create_search_index,
                load_search_index,
            )

            if os.path.exists(os.path.join(args.search_index, "postings", "metadata")):
                search_index = load_search_index(spark, args.search_index)
            else:
                tkey = table.current_snapshot()["key"]
                if len(tkey) != 1:
                    print(
                        "--search-index requires a single-column table key",
                        file=sys.stderr,
                    )
                    return 2
                id_type = next(
                    f.dataType.simpleString()
                    for f in table.schema().fields
                    if f.name == tkey[0]
                )
                search_index = create_search_index(
                    spark, args.search_index, id_name=tkey[0], id_type=id_type
                )
        source_stream = None
        if getattr(args, "source_format", "changelog") == "wire":
            from web3research_etl_spark.sources.kafka_wire import stream_changelog_wire

            source_stream = stream_changelog_wire(
                spark, args.source, max_files_per_trigger=args.batch_files
            )
        q = run_sync(
            spark,
            args.source,
            table,
            checkpoint,
            source=source_stream,
            registry=registry,
            salt_partitions=args.salt_partitions,
            available_now=(args.cmd == "init"),
            max_files_per_trigger=args.batch_files,
            processing_time=getattr(args, "trigger", "5 seconds"),
            dedup_watermark=getattr(args, "dedup_watermark", None),
            feed_dir=getattr(args, "feed", None),
            feed_payloads=getattr(args, "feed_payloads", False),
            view=view,
            view_group=getattr(args, "view_group", None),
            view_value=view_value,
            maintain_every=getattr(args, "maintain_every", None),
            maintain_retain_last=getattr(args, "maintain_retain", 8),
            maintain_blooms=getattr(args, "maintain_blooms", False),
            maintain_min_groups=getattr(args, "maintain_min_groups", 2),
            maintain_expire_feed=getattr(args, "maintain_expire_feed", False),
            maintain_cluster_by=(
                getattr(args, "maintain_cluster_by", None).split(",")
                if getattr(args, "maintain_cluster_by", None)
                else None
            ),
            maintain_cluster_files=getattr(args, "maintain_cluster_files", 8),
            write_mode=getattr(args, "write_mode", "cow"),
            sidecar_async=getattr(args, "async_sidecars", False),
            search_index=search_index,
            search_text_col=getattr(args, "search_text_col", "text"),
        )
        if args.cmd == "init":
            q.awaitTermination()
            q.w3r_join_sidecars()
            # the epoch list grows with history: print its size and end
            epochs = table.committed_epochs()
            print(
                json.dumps(
                    {
                        "rows": table.read().count(),
                        "snapshot": table.current_snapshot()["snapshot_id"],
                        "epochs": len(epochs),
                        "last_epoch": max(epochs, default=None),
                    }
                )
            )
        else:
            q.awaitTermination()
        return 0

    if args.cmd == "replay":
        # The reference's `check` walks block-by-block
        # (/root/reference/src/ch_eth/check.rs:61-63); this is the
        # set-based equivalent with the north rule's convergence check:
        # a fresh rebuild from the changelog must content-hash equal the
        # live table produced by any schedule of epochs.
        import shutil
        import tempfile

        from web3research_etl_spark.ledger import resume_offsets
        from web3research_etl_spark.operators.apply import apply_changelog_batch

        changelog = _read_changelog(spark, args)
        if args.apply_tail:
            offsets = resume_offsets(table)
            if not offsets:
                # No committed offsets: the whole changelog is the tail.
                print(
                    "warning: table has no source offsets; treating the entire "
                    "changelog as the tail",
                    file=sys.stderr,
                )
                tail_df = changelog
            else:
                tail = None
                for part, off in offsets.items():
                    cond = (F.col("source_partition") == part) & (F.col("event_seq") > off)
                    tail = cond if tail is None else (tail | cond)
                seen = F.col("source_partition").isin(list(offsets))
                tail_df = changelog.filter(tail | ~seen)
            apply_changelog_batch(
                table,
                tail_df,
                epoch_id=table.synthetic_epoch_id("replay-tail"),
                registry=registry,
            )
        scratch_dir = tempfile.mkdtemp(prefix="w3r_replay_")
        try:
            from web3research_etl_spark.lake.table import LakeTable
            from web3research_etl_spark.schemas import (
                PAGES_KEY,
                PAGES_SCHEMA,
                PAGES_VERSION_ORDER,
            )

            scratch = LakeTable.create(
                spark,
                f"{scratch_dir}/pages",
                PAGES_SCHEMA,
                key=PAGES_KEY,
                version_order=PAGES_VERSION_ORDER,
                n_buckets=table.current_snapshot()["n_buckets"],
            )
            apply_changelog_batch(scratch, changelog, epoch_id=0, registry=registry)
            live_hash, replay_hash = table.state_hash(), scratch.state_hash()
        finally:
            shutil.rmtree(scratch_dir, ignore_errors=True)
        converged = live_hash == replay_hash
        print(
            json.dumps(
                {"live": live_hash, "replayed": replay_hash, "converged": converged}
            )
        )
        return 0 if converged else 2

    if args.cmd == "check":
        from web3research_etl_spark.operators.reconcile import (
            expected_state,
            heal,
            reconcile,
            reconcile_window,
        )

        changelog = _read_changelog(spark, args)
        if args.since is not None:
            # bounded mode: both the expected state and any heal operate
            # on the window slice only (O(window), not O(history))
            changelog = changelog.filter(F.col("event_seq") >= args.since)

            def _report():
                # include_deleted: tombstones must be visible or a key
                # deleted by an event outranking the window winner would
                # read as 'missing' and heal would resurrect it
                return reconcile_window(table.read(include_deleted=True), changelog)
        else:

            def _report():
                return reconcile(table.read(), expected_state(changelog))

        report = _report()
        counts = {
            r["status"]: r["n"]
            for r in report.groupBy("status").agg(F.count("*").alias("n")).collect()
        }
        print(json.dumps({"reconcile": counts, "since": args.since}))
        if args.heal and any(k != "ok" for k in counts):
            epoch = args.epoch if args.epoch is not None else table.synthetic_epoch_id("heal")
            res = heal(table, changelog, epoch_id=epoch, report=report)
            after_counts = {
                r["status"]: r["n"]
                for r in _report().groupBy("status").agg(F.count("*").alias("n")).collect()
            }
            print(json.dumps({"healed": not res.get("skipped", False), "after": after_counts}))
        return 0

    return 1


if __name__ == "__main__":
    sys.exit(main())
