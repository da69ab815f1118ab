"""Declared StructTypes for every engine table.

The reference keeps two hand-synced declarations per table (SQL DDL +
Rust struct, e.g. /root/reference/src/ch_eth/init.rs:144-341 and
src/ch_eth/schema.rs:5-29). Here each table has ONE StructType constant;
DDL strings for the lake layer are derived from it, never duplicated.

Shapes follow FIXTURES.md / BASELINE.json input_hint.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# pages — the converged target table (input_hint shape + LWW version cols).
# MERGE key: url. LWW order: (warc_ts, event_seq) — the Spark expression of
# ReplacingMergeTree "last row per ORDER BY key wins"
# (/root/reference/src/ch_eth/init.rs:169-170).
# ---------------------------------------------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        # LWW minor version (tiebreak within equal warc_ts); kept in-table so
        # merges against existing state stay totally ordered.
        T.StructField("event_seq", T.LongType(), False),
    ]
)

PAGES_KEY = ["url"]
PAGES_VERSION_ORDER = ["warc_ts", "event_seq"]  # major, minor — both DESC

# ---------------------------------------------------------------------------
# pages_changelog — the CDC input stream (binlog/WAL-tail analog of the
# reference's block subscription, /root/reference/src/ch_eth/sync.rs:127-129).
# ---------------------------------------------------------------------------
CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),  # 'I' | 'U' | 'D'
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("event_seq", T.LongType(), False),
        T.StructField("html", T.BinaryType(), True),  # null for 'D'
        T.StructField("lang", T.StringType(), True),  # null for 'D'
        T.StructField("payload_version", T.IntegerType(), False),
        T.StructField("payload", T.StringType(), True),  # JSON extras per version
        T.StructField("source_partition", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# schema_registry — evolution fixture (FIXTURES.md §3). The reference has no
# evolution mechanism (SURVEY.md §1.4); this is the north-rule addition.
# ---------------------------------------------------------------------------
REGISTRY_SCHEMA = T.StructType(
    [
        T.StructField("payload_version", T.IntegerType(), False),
        T.StructField("column_name", T.StringType(), False),
        T.StructField("column_type", T.StringType(), False),  # Spark DDL type
        T.StructField("change", T.StringType(), False),  # add | rename | widen
        T.StructField("renamed_from", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# lineage_ledger — the table shape of the deprecated ``ledger.open_ledger``.
# No engine path writes it: per-partition lineage now rides in each data
# commit's manifest (FIXTURES.md §4, ledger.py).
# ---------------------------------------------------------------------------
LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.LongType(), False),
        T.StructField("source_partition", T.IntegerType(), False),
        T.StructField("max_event_seq", T.LongType(), True),
        T.StructField("watermark_ts", T.TimestampType(), True),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_upserted", T.LongType(), False),
        T.StructField("rows_deleted", T.LongType(), False),
        T.StructField("committed_at_snapshot", T.LongType(), False),
    ]
)


def ddl(schema: T.StructType) -> str:
    """Spark DDL string for a StructType (single source of truth)."""
    return schema.simpleString()[len("struct<") : -1]
