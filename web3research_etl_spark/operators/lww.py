"""Last-writer-wins dedup — the engine's core operator.

Spark expression of ClickHouse ``ReplacingMergeTree ORDER BY (key...)``
(/root/reference/src/ch_eth/init.rs:169-170): keep exactly one row per
key, the one with the greatest version tuple. Two implementations with
identical semantics (tested equal):

- :func:`lww_dedup_window` — the textbook ``row_number() OVER
  (PARTITION BY key ORDER BY version DESC) = 1`` (north-star wording).
  Full shuffle + per-key sort; a hot key's rows all land on one reducer
  and every payload byte crosses the shuffle AND the sort.
- :func:`lww_dedup_agg` — two-phase hash-agg + semi-join. Phase 1
  aggregates only the version tuple (fixed-size buffer → HashAggregate
  with map-side combine: a key with millions of duplicate events ships
  O(map tasks) rows through the shuffle, not O(rows); payload columns
  are parquet-pruned out of the scan). Phase 2 semi-joins the winning
  versions back, so large payloads (html binary) cross exactly one
  shuffle and are never sorted. This is the scale path and the default
  used by the merge sink.

(A one-phase ``max_by(payload_struct, version_struct)`` looks simpler
but Spark plans it as SortAggregate when the payload struct contains
binary — externally sorting every payload byte; measured 10×+ slower
on 4 KB pages.)

Exact ties — the same (key, version) emitted more than once, e.g. an
at-least-once source re-delivering a batch — are collapsed without
pushing payloads through any aggregate: phase 1 counts the rows
carrying each key's winning version (counts keep the aggregate a true
HashAggregate — long buffers; note that ``max(struct(...))`` or
``first(binary)`` buffers are non-mutable and silently demote the whole
aggregate to SortAggregate, which is why dropDuplicates over payload
columns is never used on the main path — verified by the plan tests).
Unique-winner keys (the overwhelming majority) need no post-join dedup
at all; only the tied sliver takes a broadcast side path +
dropDuplicates confined to those rows. The contract is the usual CDC
one: the version tuple totally orders a key's DISTINCT events, so rows
tying on (key, version) are re-deliveries of one event and
content-identical — whichever copy survives, the result is the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_N_COL = "_lww_n"


def lww_dedup_window(
    df: DataFrame, key: list[str], version_order: list[str]
) -> DataFrame:
    w = Window.partitionBy(*key).orderBy(*[F.col(c).desc() for c in version_order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_dedup_agg(
    df: DataFrame,
    key: list[str],
    version_order: list[str],
    persist_tracker: list | None = None,
    materialize_best: bool = False,
) -> DataFrame:
    """Two-phase LWW dedup; see module docstring.

    persist_tracker: when a list is passed, the skinny phase-1
    aggregate is persisted (it has two consumers — the clean-winner set
    and the broadcast tie set — which would otherwise each re-run the
    full scan+agg) and appended to the list; the CALLER unpersists
    after its terminal action. ~70 bytes/key, nothing like the payload
    caches this engine deliberately avoids.

    materialize_best: same double-consumer problem, solved without an
    unpersist obligation — the skinny aggregate is cut via
    checkpoint.materialize(eager=False) (localCheckpoint, or a durable
    checkpoint under W3R_CHECKPOINT_DIR), so it computes once and both
    consumers read the stored copy. Not lazy: with AQE on (the session
    default) its shuffle stage runs when this function is called — one
    Spark job per call, at call time — and the rest on the caller's
    first action. For call sites that hand the returned frame to
    arbitrary downstream readers (the MoR resolved read) where no caller
    owns a terminal action to unpersist after.
    """
    vcols = [F.col(c) for c in version_order]
    join_cols = key + version_order

    # Phase 1a: rows per (key, version) — count() keeps the buffer a
    # mutable long ⇒ HashAggregate with map-side combine over the raw
    # (possibly hot-key-skewed) data. Phase 1b: max version per key over
    # the already-collapsed per-version rows; the struct-max buffer
    # demotes 1b to SortAggregate, but its input is one skinny row per
    # DISTINCT (key, version) — the heavy reduction already happened
    # hash-side in 1a.
    per_version = df.groupBy(*key, *version_order).agg(F.count("*").alias(_N_COL))
    best = (
        per_version.groupBy(*key)
        .agg(F.max(F.struct(*vcols, F.col(_N_COL))).alias("_v"))
        .select(
            *key,
            *[F.col(f"_v.{c}").alias(c) for c in version_order],
            F.col(f"_v.{_N_COL}").alias(_N_COL),
        )
    )
    if persist_tracker is not None:
        # `best` has two consumers (clean winner set, broadcast tie
        # set); uncached, each re-runs the full phase-1 scan+agg —
        # measured as back-to-back duplicate stages per epoch. ~70
        # bytes/key, nothing like the payload caches this engine
        # deliberately avoids.
        from pyspark import StorageLevel

        best = best.persist(StorageLevel.MEMORY_AND_DISK)
        persist_tracker.append(best)
    elif materialize_best:
        from web3research_etl_spark.checkpoint import materialize

        best = materialize(best, eager=False)
    clean = best.filter(F.col(_N_COL) == 1).drop(_N_COL)
    ties = best.filter(F.col(_N_COL) > 1).drop(_N_COL)

    out = df.join(clean.hint("SHUFFLE_HASH"), join_cols, "left_semi")
    # Tie path: re-delivered (key, version) pairs — a bounded sliver of
    # any batch, so broadcast is safe; the payload dropDuplicates (a
    # SortAggregate over binary) runs on only these rows.
    tied_rows = df.join(F.broadcast(ties), join_cols, "left_semi").dropDuplicates(key)
    return out.unionByName(tied_rows)
