"""Per-partition source lineage (FIXTURES.md §4).

The reference resumes from ``SELECT max(number) FROM blocks``
(/root/reference/src/ch_eth/sync.rs:341-343): a resume point taken from
the data itself cannot disagree with it. Ours keeps that per source
partition: each applied epoch's ONE data commit records the batch's
per-partition rows (``commit.sources``) and the cumulative
``summary.source_offsets`` — so there is no crash window between data
and lineage, ``rollback_to`` rewinds the offsets, and a WAP-staged
merge's offsets bind only when it publishes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.schemas import LEDGER_SCHEMA


def open_ledger(spark: SparkSession, path: str) -> LakeTable:
    """Deprecated: lineage rides in the data table's manifests and no
    engine path writes this table any more. Kept so existing callers
    that still open one keep working."""
    if os.path.exists(os.path.join(path, "metadata")):
        return LakeTable.load(spark, path)
    return LakeTable.create(spark, path, LEDGER_SCHEMA, key=[], n_buckets=1)


def ledger_rows_for_batch(batch: DataFrame) -> list[dict]:
    """One aggregation over the micro-batch, collected (one Spark job):
    one lineage row per source partition, plus ``max_payload_version``
    when the batch carries ``payload_version`` — the registry's input,
    so the registry path needs no job of its own. Map-side combine keeps
    this a cheap pass over skinny columns."""
    aggs = [
        F.max("event_seq").alias("max_event_seq"),
        F.max("warc_ts").cast("string").alias("watermark_ts"),  # JSON-safe
        F.count("*").alias("rows_in"),
        F.sum(F.when(F.col("op") != "D", 1).otherwise(0)).alias("rows_upserted"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("rows_deleted"),
    ]
    if "payload_version" in batch.columns:
        aggs.append(F.max("payload_version").alias("max_payload_version"))
    return [r.asDict() for r in batch.groupBy("source_partition").agg(*aggs).collect()]


def resume_offsets(table: LakeTable) -> dict[int, int]:
    """source_partition → max committed event_seq (the restart point),
    read from the head manifest — no Spark job."""
    offsets = table.current_snapshot()["summary"].get("source_offsets", {})
    return {int(p): o for p, o in offsets.items()}
