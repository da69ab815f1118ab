"""Reconcile-and-heal: set-based verification of stored state against
the source of truth.

The reference walks the last 100 000 blocks ONE KEY AT A TIME with four
point queries each (health_check, /root/reference/src/ch_eth/sync.rs:157-327,
interval window :348-352). That is O(window) round-trips; here it is ONE
distributed plan: recompute the expected converged state from the
changelog (or any source range), full-outer-join it to the stored table
on the key, and classify each key as ok / missing / divergent / orphan.
Healing applies the diff back through the same exactly-once merge path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.operators.lww import lww_dedup_agg


def expected_state(changelog: DataFrame) -> DataFrame:
    """Converged state implied by a changelog slice: LWW winner per key,
    deletes removed (the DuckDB-oracle semantics, SURVEY.md §5)."""
    win = lww_dedup_agg(
        changelog.select("op", "url", "warc_ts", "event_seq", "html", "lang"),
        key=["url"],
        version_order=["warc_ts", "event_seq"],
    )
    return win.filter(F.col("op") != "D").drop("op")


def reconcile(stored: DataFrame, expected: DataFrame, key: str = "url") -> DataFrame:
    """Full-outer compare on key + version columns.

    status ∈ {'ok', 'missing' (expected but not stored — reference
    sync.rs:170-174 insert path), 'divergent' (stored version ≠ expected
    — reference hash-mismatch delete+reinsert, sync.rs:181-201),
    'orphan' (stored but not expected — deleted upstream)}.
    """
    s = stored.select(
        F.col(key), F.col("warc_ts").alias("stored_ts"), F.col("event_seq").alias("stored_seq")
    )
    e = expected.select(
        F.col(key), F.col("warc_ts").alias("expected_ts"), F.col("event_seq").alias("expected_seq")
    )
    joined = s.join(e, key, "full_outer")
    return joined.select(
        key,
        "stored_seq",
        "expected_seq",
        F.when(F.col("expected_seq").isNull(), F.lit("orphan"))
        .when(F.col("stored_seq").isNull(), F.lit("missing"))
        .when(
            (F.col("stored_seq") != F.col("expected_seq"))
            | (F.col("stored_ts") != F.col("expected_ts")),
            F.lit("divergent"),
        )
        .otherwise(F.lit("ok"))
        .alias("status"),
    )


def reconcile_window(
    stored: DataFrame, changelog_window: DataFrame, key: str = "url"
) -> DataFrame:
    """Bounded reconcile — the reference checks only the last 100 000
    blocks (src/ch_eth/sync.rs:348-352); the unwindowed reconcile
    recomputes expected state from the ENTIRE changelog, O(history) per
    check and unusable at 10^10 events. This verifies exactly the keys
    touched by a changelog SLICE.

    Cost model: O(|window|) to compute window winners (one LWW pass on
    the slice) plus one scan of the stored table joined to those winners
    — the winner side is typically small enough to broadcast, so the
    stored side is never shuffled. No full-history replay.

    Semantics per window-touched key (window winner W, stored row S):
    - S at or past W's version → 'ok'  (a post-window event may have
      advanced S; the window can't distinguish, and doesn't need to —
      it verifies W was APPLIED, not that S is the global winner);
    - no S and W is an upsert → 'missing';
    - S older than W and W is an upsert → 'divergent';
    - S older than W and W is a delete → 'orphan' (the key should have
      been tombstoned; heal()'s orphan branch synthesizes the delete).
    Keys untouched by the window are invisible — true orphan sweeps
    need the unwindowed check; that blindness is the price of O(window).

    Pass ``stored = table.read(include_deleted=True)`` so the table's
    TOMBSTONES are visible (the `_deleted` flag is honored when
    present). Without them, a key deleted by a post-window (or
    out-of-window) event that outranks W would look 'missing', and a
    heal would resurrect it against LWW order (ADVICE r02). With them:
    - tombstone at-or-past W → 'ok' (the delete outranks the window
      winner — nothing to heal);
    - tombstone behind an upsert W → 'missing' (W should have
      resurrected the key; read() hides it, so heal re-applies W);
    - tombstone and W is a delete → 'ok' (dead as expected; version
      skew between two deletes is immaterial to live state).
    """
    win = lww_dedup_agg(
        changelog_window.select("op", "url", "warc_ts", "event_seq", "html", "lang"),
        key=[key],
        version_order=["warc_ts", "event_seq"],
    ).select(
        key,
        "op",
        F.col("warc_ts").alias("expected_ts"),
        F.col("event_seq").alias("expected_seq"),
    )
    from web3research_etl_spark.lake.table import _DELETED_COL

    dead = (
        F.coalesce(F.col(_DELETED_COL), F.lit(False))
        if _DELETED_COL in stored.columns
        else F.lit(False)
    )
    s = stored.select(
        F.col(key),
        F.col("warc_ts").alias("stored_ts"),
        F.col("event_seq").alias("stored_seq"),
        dead.alias("_stored_dead"),
    )
    joined = win.join(s, key, "left_outer")
    stored_behind = (F.col("stored_ts") < F.col("expected_ts")) | (
        (F.col("stored_ts") == F.col("expected_ts"))
        & (F.col("stored_seq") < F.col("expected_seq"))
    )
    return joined.select(
        key,
        "stored_seq",
        "expected_seq",
        F.when(F.col("stored_seq").isNull() & (F.col("op") != "D"), F.lit("missing"))
        .when(F.col("stored_seq").isNull(), F.lit("ok"))  # deleted as expected
        .when(F.col("_stored_dead") & (F.col("op") == "D"), F.lit("ok"))
        .when(F.col("_stored_dead") & stored_behind, F.lit("missing"))
        .when(F.col("_stored_dead"), F.lit("ok"))  # newer tombstone outranks W
        .when(stored_behind & (F.col("op") == "D"), F.lit("orphan"))
        .when(stored_behind, F.lit("divergent"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )


def heal(
    table: LakeTable,
    changelog: DataFrame,
    epoch_id,
    report: DataFrame | None = None,
) -> dict:
    """Repair stored state to match the changelog-implied state.

    One merge containing, for every non-ok key: the expected winner row
    (upsert) or a delete for orphans. Uses the same exactly-once merge,
    so healing is itself idempotent and atomic (unlike the reference's
    non-atomic 5×delete + 5×insert, sync.rs:100-115).
    """
    exp = expected_state(changelog)
    rep = report if report is not None else reconcile(table.read(), exp)
    bad = rep.filter(F.col("status") != "ok")
    fix_upserts = exp.join(
        bad.filter(F.col("status") != "orphan").select("url"), "url", "left_semi"
    ).withColumn("op", F.lit("U"))
    # orphans: synthesize a delete newer than anything stored for the key
    orphans = (
        table.read()
        .join(bad.filter(F.col("status") == "orphan").select("url"), "url", "left_semi")
        .select(
            F.lit("D").alias("op"),
            "url",
            F.col("warc_ts"),
            (F.col("event_seq") + F.lit(1)).alias("event_seq"),
            F.lit(None).cast("binary").alias("html"),
            F.lit(None).cast("string").alias("lang"),
        )
    )
    fixes = fix_upserts.select("op", "url", "warc_ts", "event_seq", "html", "lang").unionByName(
        orphans
    )
    from web3research_etl_spark.functions.extract import extract_text_udf

    fixes = fixes.withColumn(
        "text", F.when(F.col("op") != "D", extract_text_udf(F.col("html")))
    )
    # MATERIALIZE the fix batch (it is small — only non-ok keys) before
    # feeding it back into a merge on the same table: its lineage holds
    # the stored-table read TWICE (reconcile + orphan branch), and on a
    # merge-on-read table each of those is a multi-generation union +
    # resolve whose shared subtrees the merge's own read would nest
    # again — the write plan's printed tree grows exponentially and can
    # OOM the driver before a single task runs (found by
    # test_heal_repairs_mor_table at 4 delta generations).
    from web3research_etl_spark.checkpoint import materialize

    fixes = materialize(fixes)
    # force_replace: the changelog is the source of truth even when the
    # stored version is numerically newer (reorg semantics). Healing is
    # CoW by contract — force_replace must rewrite the stored losers, a
    # read-free MoR delta can't — so write_mode is pinned here, whatever
    # mode the table's ingest merges use.
    return table.merge_changelog(
        fixes, epoch_id=epoch_id, force_replace=True, write_mode="cow"
    )
