"""The CDC apply operator: one micro-batch of changelog events → one
atomic lake-table commit.

This is the Spark re-expression of the reference's per-block pipeline
(fetch → flatten → dedup-by-sink → insert,
/root/reference/src/ch_eth/init.rs:360-449) with the defect classes
fixed: dedup happens BEFORE the write (LWW agg), the commit is atomic,
and re-delivered epochs are skipped via commit markers instead of
relying on background merges.

Stage order per batch (order chosen for scale):
1. epoch already committed? → skip (exactly-once under retries);
2. registry sync: ALTER the table for any payload versions seen;
3. payload parse (from_json, registry types) — JVM-side;
4. ONE fused LWW pass inside the merge resolves batch-internal
   duplicates AND batch-vs-stored conflicts together (two-phase hash
   agg + semi-join — map-side combine, skew-proof, payload bytes cross
   at most one shuffle; see operators/lww.py). A separate pre-dedup of
   the batch would shuffle the payloads a second time for nothing;
5. HTML→text extraction (Arrow pandas UDF) runs as the merge's
   post-dedup transform — once per SURVIVING key, not once per event,
   and only where no already-extracted text exists (rows that lost to
   stored state never reach the UDF);
6. bucketed copy-on-write write (touched buckets only, optional salt)
   and ONE manifest claim, which also carries the epoch's per-partition
   source lineage (ledger.py) — no second commit, so no crash window
   between the data and its resume offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web3research_etl_spark.functions.extract import extract_text_udf
from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.ledger import ledger_rows_for_batch
from web3research_etl_spark.registry import (
    parse_payload,
    registry_changes,
    sync_table_schema,
)

_CORE_COLS = ["op", "url", "warc_ts", "event_seq", "html", "lang"]


def apply_changelog_batch(
    table: LakeTable,
    batch: DataFrame,
    epoch_id: int,
    ledger: LakeTable | None = None,
    registry: DataFrame | None = None,
    salt_partitions: int | str | None = None,
    write_mode: str = "cow",
) -> dict:
    """Apply one micro-batch exactly-once. Returns merge stats.

    ``salt_partitions="auto"`` measures the batch's bucket histogram and
    salts the write shuffle only when a hot domain actually skews it
    (operators/skew.py).

    ``write_mode="mor"`` appends the batch's winners as merge-on-read
    delta file groups instead of rewriting touched buckets — see
    LakeTable.merge_changelog. The extract-at-write text UDF then runs
    on batch winners only (stored rows are never rewritten), shrinking
    per-epoch UDF work along with the write amplification.

    ``batch`` needs CHANGELOG_SCHEMA's ``source_partition``: the data
    commit records the batch's per-partition lineage. ``ledger`` is
    deprecated and ignored (``ledger.resume_offsets(table)`` reads it)."""
    if epoch_id in table.committed_epochs():
        return {"skipped": True, "epoch_id": epoch_id}

    if salt_partitions == "auto":
        from web3research_etl_spark.operators.skew import choose_salt_partitions

        snap = table.current_snapshot()
        salt_partitions = choose_salt_partitions(
            batch, snap["key"], snap["n_buckets"]
        )

    # one job: per-partition lineage, carrying the max payload version
    sources = ledger_rows_for_batch(batch)
    versions = [s.pop("max_payload_version", None) for s in sources]
    extra_cols: list[str] = []
    if registry is not None:
        max_v = max((v for v in versions if v is not None), default=None)
        if max_v is not None:
            # one registry collect per batch, shared by ALTER and parse
            changes = registry_changes(registry, max_v)
            sync_table_schema(table, changes)
            batch = parse_payload(batch, changes)
            table_cols = {f.name for f in table.schema().fields}
            extra_cols = [
                c
                for c in batch.columns
                if c in table_cols and c not in set(_CORE_COLS) | {"text"}
            ]

    # No batch-level cache here: merge_changelog caches the batch∪stored
    # union itself (the thing its LWW plan scans repeatedly); the only
    # other batch consumers — the touched-bucket probe and the lineage
    # aggregate — read one or two skinny columns that parquet column
    # pruning makes cheap to rescan.
    projected = batch.select(*_CORE_COLS, *extra_cols)

    def _extract_at_write(staged):
        # Merge pre-write hook — runs inside the write stage, after the
        # bucket repartition (pinned parallelism, output never crosses
        # a shuffle; see LakeTable._write_data_files). Batch-origin
        # winners have text NULL (the changelog never ships extracted
        # text); stored-origin winners already carry it; tombstones
        # have html nulled already.
        #
        # Single-consumer, single-pass: a filter/union branch split here
        # would make Spark evaluate the whole upstream pipeline once PER
        # BRANCH (no cross-branch subtree reuse — measured ~2× epoch
        # cost), and a when() guard alone would not help because pandas
        # UDFs are lifted into their own ArrowEvalPython node and run
        # for every row. Instead the UDF's INPUT is null-gated: rows
        # that already have text ship NULL html across Arrow — bytes
        # only cross, and regexes only run, for rows that actually need
        # extraction.
        gated = F.when(F.col("text").isNull(), F.col("html"))
        return staged.withColumn(
            "text", F.coalesce(F.col("text"), extract_text_udf(gated))
        )

    return table.merge_changelog(
        projected.withColumn("text", F.lit(None).cast("string")),
        epoch_id=epoch_id,
        salt_partitions=salt_partitions,
        pre_write_transform=_extract_at_write,
        write_mode=write_mode,
        sources=sources,
    )
