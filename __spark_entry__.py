"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 (or a
training-data-pipeline addition) expressed over the driver-provided
testdata tables, with a DuckDB-equivalent in ``oracle_sql()``.
Implementations live in web3research_etl_spark/; this module wires them
to the (spark, sf_dir) harness.

Parity conventions (so the order-insensitive value-hash matches):
- every computed column aliased identically on both sides;
- timestamps surfaced as floor-epoch bigints;
- double aggregates rounded; hashes via the md5-int60 trick
  (conv(substr(md5(x),1,15),16,10) — bit-identical in both engines).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# The CDC family treats `events` as a changelog (reference: block stream →
# table rows; here: event stream → per-url page state). Same derivation on
# both engines:
_CHANGELOG_SQL = """
    SELECT 'https://site-' || CAST(user_id % 20 AS VARCHAR)
               || '/p' || CAST(event_id % 211 AS VARCHAR) AS url,
           CASE WHEN event_type = 'error' THEN 'D'
                WHEN event_type IN ('click', 'view') THEN 'U'
                ELSE 'I' END AS op,
           ts, event_id, event_type, value, user_id
    FROM events
"""


def _events_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.concat(
            F.lit("https://site-"),
            (F.col("user_id") % 20).cast("string"),
            F.lit("/p"),
            (F.col("event_id") % 211).cast("string"),
        ).alias("url"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .when(F.col("event_type").isin("click", "view"), F.lit("U"))
        .otherwise(F.lit("I"))
        .alias("op"),
        "ts",
        "event_id",
        "event_type",
        "value",
        "user_id",
    )


def _query_scratch_dir(prefix: str) -> str:
    """Scratch dir owned by the query's lifetime: queries that run a
    real lake merge need their files to OUTLIVE the callable (the driver
    collects the returned DataFrame afterwards), so cleanup is deferred
    to process exit instead of a finally block — and results never round-
    trip through the driver as collected rows."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=f"{prefix}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _EVENTS_STATE_SCHEMA():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("event_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )


_LWW_ORACLE_CORE = f"""
    WITH changelog AS ({_CHANGELOG_SQL}),
    ranked AS (
      SELECT url, op, event_id, event_type, value,
             row_number() OVER (PARTITION BY url
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM changelog
    )
"""


# ---------------------------------------------------------------------------
# CDC / ingest operators (SURVEY §2.2-2.5, §2.7)
# ---------------------------------------------------------------------------


def q_cdc_lww_converged(spark, sf_dir):
    """LWW converged state via window row_number (SURVEY A3; north-star
    wording). ReplacingMergeTree keep-last semantics."""
    ch = _events_changelog(spark, sf_dir)
    w = W.partitionBy("url").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ch.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "url",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 2).alias("last_value"),
        )
    )


def q_cdc_lww_agg(spark, sf_dir):
    """Same converged state via max_by partial aggregation — the scale
    path (map-side combine, hot keys pre-reduced before the shuffle)."""
    ch = _events_changelog(spark, sf_dir)
    payload = F.struct("op", "event_id", "event_type", "value")
    version = F.struct("ts", "event_id")
    return (
        ch.groupBy("url")
        .agg(F.max_by(payload, version).alias("w"))
        .filter(F.col("w.op") != "D")
        .select(
            "url",
            F.col("w.event_id").alias("last_event_id"),
            F.col("w.event_type").alias("last_event_type"),
            F.round(F.col("w.value"), 2).alias("last_value"),
        )
    )


def q_cdc_merge_state(spark, sf_dir):
    """The engine's MERGE itself under the oracle gate: apply the
    events-derived changelog through a REAL lake table (bucketed CoW
    merge, fused LWW, tombstones, epoch marker) and read back the
    converged state — must equal the pure-SQL LWW oracle. This is the
    ReplacingMergeTree-parity proof as a driver query, not only a
    pytest."""
    from web3research_etl_spark.lake.table import LakeTable

    ch = _events_changelog(spark, sf_dir).select(
        "op", "url", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "event_type", "value",
    )
    d = _query_scratch_dir("drv_merge")
    t = LakeTable.create(
        spark, f"{d}/t", _EVENTS_STATE_SCHEMA(),
        key=["url"], version_order=["ts", "event_id"], n_buckets=8,
    )
    t.merge_changelog(ch, epoch_id=0)
    # Returned lazily — the scratch dir outlives this call (atexit-owned),
    # so the driver can collect the DataFrame itself; never .collect()
    # table-sized results onto the driver here (VERDICT r01).
    return t.read().select(
        "url",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
    )


def q_cdc_mor_state(spark, sf_dir):
    """Merge-on-read delta path (Iceberg v2 analog) under the oracle
    gate: the same events changelog applied as THREE ``write_mode="mor"``
    epochs — each an O(batch) delta append with NO stored-state read —
    split per key across epochs so the final state genuinely depends on
    cross-generation (version, seq) resolution; a mid-stream compaction
    (rewrite_small_files) folds the first generations into a new base;
    the returned state reads through the base⊕delta LWW resolve. Must
    equal the exact pure-SQL LWW oracle the CoW merge is held to —
    write-path-independence of the converged state is the MoR
    correctness contract."""
    from web3research_etl_spark.lake.table import LakeTable

    ch = _events_changelog(spark, sf_dir).select(
        "op", "url", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "event_type", "value",
    )
    d = _query_scratch_dir("drv_mor")
    t = LakeTable.create(
        spark, f"{d}/t", _EVENTS_STATE_SCHEMA(),
        key=["url"], version_order=["ts", "event_id"], n_buckets=8,
    )
    for i in range(3):
        t.merge_changelog(
            ch.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
            epoch_id=i,
            write_mode="mor",
        )
        if i == 1:
            t.rewrite_small_files()
    return t.read().select(
        "url",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
    )


_FANOUT_ROUTES = ["click", "view", "purchase"]


def q_fanout_merge_state(spark, sf_dir):
    """Multi-table fan-out (SURVEY S7) under the oracle gate: one
    changelog batch dispatched by event_type into three route tables +
    a _rest table (reference: 5/43 concurrent per-block inserts,
    /root/reference/src/ch_eth/init.rs:403-425), each a REAL LakeTable
    merge with its own epoch marker; reads back per-route converged
    key counts. LWW is per (route, url) because each route table
    converges independently — the oracle partitions its window the same
    way."""
    from web3research_etl_spark.lake.table import LakeTable
    from web3research_etl_spark.operators.dispatch import REST_ROUTE
    from web3research_etl_spark.operators.fanout import apply_fanout_batch

    ch = _events_changelog(spark, sf_dir).select(
        "op", "url", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "event_type", "value",
    )
    d = _query_scratch_dir("drv_fanout")
    tables = {
        r: LakeTable.create(
            spark, f"{d}/{r}", _EVENTS_STATE_SCHEMA(),
            key=["url"], version_order=["ts", "event_id"], n_buckets=8,
        )
        for r in [*_FANOUT_ROUTES, REST_ROUTE]
    }

    def _merge_fn(table, df, epoch_id, registry=None, salt_partitions=None):
        return table.merge_changelog(df, epoch_id=epoch_id, salt_partitions=salt_partitions)

    apply_fanout_batch(
        tables, ch, epoch_id=0, discriminator=F.col("event_type"),
        apply_fn=_merge_fn,
    )
    parts = [
        t.read().select(F.lit(r).alias("route"), "url", "event_id")
        for r, t in tables.items()
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy("route").agg(
        F.count("*").alias("n_keys"), F.max("event_id").alias("max_event_id")
    )


def _two_epoch_state_table(spark, sf_dir):
    """Shared scaffold: the events changelog applied as TWO epochs
    (even event_ids, then odd) into a real LakeTable; returns the table
    plus the snapshot ids after each epoch. LWW is associative over a
    total version order, so LWW(LWW(evens), odds) == LWW(all) — which
    is what lets pure-SQL oracles check time travel and the
    incremental diff."""
    from web3research_etl_spark.lake.table import LakeTable

    ch = _events_changelog(spark, sf_dir).select(
        "op", "url", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "event_type", "value",
    )
    d = _query_scratch_dir("drv_tt")
    t = LakeTable.create(
        spark, f"{d}/t", _EVENTS_STATE_SCHEMA(),
        key=["url"], version_order=["ts", "event_id"], n_buckets=8,
    )
    ra = t.merge_changelog(ch.filter(F.col("event_id") % 2 == 0), epoch_id=0)
    rb = t.merge_changelog(ch.filter(F.col("event_id") % 2 == 1), epoch_id=1)
    return t, ra["snapshot_id"], rb["snapshot_id"]


def q_cdc_time_travel(spark, sf_dir):
    """Time travel (SURVEY S10/T6 family; Iceberg snapshot-as-of): read
    the table AS OF the snapshot committed by epoch 0 — after epoch 1
    has already been applied on top. Must equal the pure-SQL LWW over
    the even-event prefix: proves snapshots are immutable and
    point-in-time reads see exactly the committed state."""
    t, snap_a, _ = _two_epoch_state_table(spark, sf_dir)
    return t.read(snapshot_id=snap_a).select(
        "url",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
    )


def q_cdc_changes_between(spark, sf_dir):
    """Incremental CDC read (Iceberg incremental-scan analog): the net
    row-level changes between epoch 0's and epoch 1's snapshots, via
    LakeTable.read_changes — metadata-pruned to buckets whose file
    groups differ, then one full-outer key join classifying
    insert/update/delete by the version tuple. The oracle recomputes
    both states from the raw changelog and diffs them."""
    t, snap_a, snap_b = _two_epoch_state_table(spark, sf_dir)
    chg = t.read_changes(snap_a, snap_b)
    return chg.select("url", "change_type", "new_event_id", "old_event_id")


def q_cdc_rollback_replay(spark, sf_dir):
    """Snapshot rollback + replay reconvergence (SURVEY P11 at epoch
    granularity; Iceberg rollback_to_snapshot): apply two epochs, ROLL
    BACK to the epoch-0 snapshot — which restores both the data state
    and the committed-epochs ledger, REOPENING epoch 1 — then replay
    epoch 1's changelog and read the head. Must equal the pure-SQL LWW
    over the FULL changelog: the replay-convergence property of the
    north rule, exercised through the reorg path instead of a clean
    run. The rollback commit is metadata-only (the target's file groups
    re-listed under a new snapshot id; no data movement), and the
    ledger rewind is what makes the replay exactly-once-correct rather
    than exactly-once-blocked."""
    from web3research_etl_spark.lake.table import LakeTable  # noqa: F401

    t, snap_a, snap_b = _two_epoch_state_table(spark, sf_dir)
    res = t.rollback_to(snap_a)
    assert res["reopened_epochs"] == [1], res
    ch = _events_changelog(spark, sf_dir).select(
        "op", "url", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "event_type", "value",
    )
    replay = t.merge_changelog(ch.filter(F.col("event_id") % 2 == 1), epoch_id=1)
    assert replay["skipped"] is False, replay
    return t.read().select(
        "url",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
    )


def q_cdc_wap_publish(spark, sf_dir):
    """Write-audit-publish staging (Iceberg wap.id) under the oracle
    gate: epoch 0 merges normally; epoch 1 merges with
    ``stage_wap_id`` — a full CoW merge whose snapshot stays INVISIBLE
    to readers and to the epoch ledger; the audit surface
    (``audit_staged`` = read_changes from the staged snapshot's
    parent) yields exactly the diff publish will apply; then
    ``publish_staged`` fast-forwards it (one metadata commit, zero
    data movement). Returns the audit diff, checked against the same
    two-state SQL oracle as cdc_changes_between — and the query
    asserts the publish actually bound the epoch marker, so the audit
    gate composes with exactly-once instead of weakening it."""
    from web3research_etl_spark.lake.table import LakeTable

    ch = _events_changelog(spark, sf_dir).select(
        "op", "url", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", "event_type", "value",
    )
    d = _query_scratch_dir("drv_wap")
    t = LakeTable.create(
        spark, f"{d}/t", _EVENTS_STATE_SCHEMA(),
        key=["url"], version_order=["ts", "event_id"], n_buckets=8,
    )
    t.merge_changelog(ch.filter(F.col("event_id") % 2 == 0), epoch_id=0)
    t.merge_changelog(
        ch.filter(F.col("event_id") % 2 == 1), epoch_id=1, stage_wap_id="audit-1"
    )
    assert 1 not in t.committed_epochs()  # staged ≠ committed
    audit = t.audit_staged("audit-1").select(
        "url", "change_type", "new_event_id", "old_event_id"
    )
    pub = t.publish_staged("audit-1")
    assert pub["already_published"] is False and 1 in t.committed_epochs()
    # the staged manifest outlives publish, so the lazily-returned audit
    # DataFrame still resolves when the driver collects it
    return audit


def q_cdc_feed(spark, sf_dir):
    """The materialized CDC feed under the oracle gate: publish both
    epochs' per-snapshot diffs (lake/cdc_feed.publish_changes — each
    computed bucket-pruned, once, by the publisher) and read the feed
    back. Epoch 0's entry is the even-events converged state as
    inserts; epoch 1's is the incremental diff with tombstone-versioned
    deletes. The oracle reconstructs both from the raw changelog."""
    from web3research_etl_spark.lake.cdc_feed import feed_schema, publish_changes

    t, _, _ = _two_epoch_state_table(spark, sf_dir)
    d = _query_scratch_dir("drv_feed")
    publish_changes(t, f"{d}/feed")
    df = spark.read.schema(feed_schema(t)).parquet(f"{d}/feed/s*")
    return df.select(
        "url", "change_type", "new_event_id", "old_event_id", "snapshot_id", "epoch_id"
    )


def q_cdc_ivm_event_type(spark, sf_dir):
    """Incremental view maintenance: a per-event-type (count, decimal
    sum) materialized view folded forward from CDC deltas ONLY — epoch
    0's changes bootstrap it from empty, epoch 1's before/after images
    (read_changes include_before) retract old contributions and add new
    ones, including rows whose event_type MOVED between groups. The
    oracle recomputes the aggregate from scratch over the final LWW
    state: equality proves delta maintenance is exact (decimal sums —
    float deltas would drift). At 100 TB the view update is
    O(changed rows), never a base-table scan."""
    from web3research_etl_spark.lake.table import LakeTable
    from web3research_etl_spark.operators.ivm import maintain_view

    t, snap_a, snap_b = _two_epoch_state_table(spark, sf_dir)
    d = _query_scratch_dir("drv_ivm")
    view = LakeTable.create(
        spark,
        f"{d}/view",
        spark.createDataFrame(
            [], "event_type string, n_rows bigint, total_value decimal(18,2), epoch bigint"
        ).schema,
        key=["event_type"],
        version_order=["epoch"],
        n_buckets=2,
    )
    vexpr = lambda col: F.round(col("value"), 2).cast("decimal(18,2)")  # noqa: E731
    base0 = t.snapshot(snap_a)["parent"]
    maintain_view(view, t, base0, snap_a, "event_type", vexpr, 0)
    maintain_view(view, t, snap_a, snap_b, "event_type", vexpr, 1)
    return view.read().select("event_type", "n_rows", "total_value")


def q_cdc_range_scan(spark, sf_dir):
    """Leading-key range scan served by manifest file stats: hash
    bucketing can't prune buckets for a range, but every data file's
    [min, max] of the leading key (recorded from its parquet footer at
    write time — the ClickHouse sparse-primary-index analog) skips
    disjoint files before Spark lists them; the residual range filter
    pushes into the pruned scan. Oracle: the LWW state filtered to the
    same inclusive range."""
    t, _, _ = _two_epoch_state_table(spark, sf_dir)
    lo, hi = "https://site-1", "https://site-12/zzzz"
    return t.read_for_key_range(lo, hi).select(
        "url",
        F.col("event_id").alias("last_event_id"),
        F.round("value", 2).alias("last_value"),
    )


def q_cdc_zorder_scan(spark, sf_dir):
    """Secondary-column range scan served by Z-ORDER clustered file
    stats (Iceberg/Delta OPTIMIZE ZORDER analog; the reference's
    multi-column ClickHouse ORDER BY sparse index): after
    rewrite_clustered(["value", "url"]) every bucket's files cover
    disjoint z-bands, and read_for_column_range prunes files whose
    per-column [min, max] manifest stats are disjoint from the range —
    on a NON-key column, which leading-key stats can't serve. The
    result is layout-independent (clustering is physical): oracle =
    the LWW state filtered to the same inclusive value range."""
    t, _, _ = _two_epoch_state_table(spark, sf_dir)
    t.rewrite_clustered(["value", "url"], files_per_bucket=4)
    return t.read_for_column_range("value", 25.0, 60.0).select(
        "url",
        F.col("event_id").alias("last_event_id"),
        F.round("value", 2).alias("last_value"),
    )


def q_cdc_tombstones(spark, sf_dir):
    """Keys whose LWW winner is a delete — the tombstone set."""
    ch = _events_changelog(spark, sf_dir)
    w = W.partitionBy("url").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ch.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "D"))
        .select("url", F.col("event_id").alias("delete_event_id"))
    )


def q_cdc_reconcile_status(spark, sf_dir):
    """Reconciliation report (reference health_check set-based —
    SURVEY J3): stored = converged state of a 70% prefix of the
    changelog, expected = converged state of all of it."""
    ch = _events_changelog(spark, sf_dir)

    def conv(df):
        w = W.partitionBy("url").orderBy(F.col("ts").desc(), F.col("event_id").desc())
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") != "D"))
            .select("url", "event_id")
        )

    stored = conv(ch.filter(F.col("event_id") % 10 < 7))
    expected = conv(ch)
    j = stored.select("url", F.col("event_id").alias("stored_id")).join(
        expected.select("url", F.col("event_id").alias("expected_id")),
        "url",
        "full_outer",
    )
    status = (
        F.when(F.col("expected_id").isNull(), F.lit("orphan"))
        .when(F.col("stored_id").isNull(), F.lit("missing"))
        .when(F.col("stored_id") != F.col("expected_id"), F.lit("divergent"))
        .otherwise(F.lit("ok"))
    )
    return j.select(status.alias("status")).groupBy("status").agg(
        F.count("*").alias("n")
    )


def q_cdc_resume_offsets(spark, sf_dir):
    """Per-source-partition resume point (SURVEY A1: max(number) probe,
    generalized per partition — the lineage-ledger read path)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("source_partition", (F.col("event_id") % 8).cast("int"))
        .groupBy("source_partition")
        .agg(
            F.max("event_id").alias("max_offset"),
            F.count("*").alias("rows_seen"),
        )
    )


def q_cdc_presence_probe(spark, sf_dir):
    """Emptiness probe (SURVEY A2) set-based: one pass, per-entity
    counts by type instead of N point queries."""
    ev = _t(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in ["click", "view", "purchase", "signup", "error"]
    ]
    return ev.groupBy("user_id").agg(*aggs)


def q_cdc_point_lookup(spark, sf_dir):
    """Point lookup by key (SURVEY S9) + hex digest (SURVEY F1)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") % 997 == 0).select(
        "event_id",
        "user_id",
        "event_type",
        F.md5(F.col("event_type")).alias("type_hex"),
    )


_BLOOM_PROBE_URLS = [
    "https://site-1/p7",
    "https://site-3/p101",
    "https://site-7/p42",
    "https://site-12/p160",
    "https://site-19/p5",
    "https://site-999/p0",  # absent by construction (sites run 0..19)
]


def q_cdc_bloom_lookup(spark, sf_dir):
    """Bloom-sidecar point lookup (SURVEY S9 at CDC steady state): the
    LWW state lands as THREE interleaved append generations (every
    generation spans the whole url range, so leading-key [min,max]
    stats can never skip between them — the append-heavy shape a CDC
    bucket has before compaction), ``build_blooms`` writes per-file key
    Bloom sidecars, and ``read_for_keys`` serves a fixed probe set
    through bucket + range + bloom pruning. Absent keys (tombstoned or
    never written) must return nothing — a bloom false negative would
    silently drop a live row, so the oracle is the pure-SQL LWW state
    filtered to the same IN list."""
    from web3research_etl_spark.lake.table import LakeTable

    ch = _events_changelog(spark, sf_dir)
    w = W.partitionBy("url").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    state = (
        ch.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("url", "ts", "event_id", "event_type", "value")
    )
    d = _query_scratch_dir("drv_bloom")
    t = LakeTable.create(
        spark, f"{d}/t", _EVENTS_STATE_SCHEMA(),
        key=["url"], version_order=["ts", "event_id"], n_buckets=4,
    )
    for g in range(3):
        t.append(state.filter(F.col("event_id") % 3 == g))
    t.build_blooms()
    return t.read_for_keys(_BLOOM_PROBE_URLS).select(
        "url",
        F.col("event_id").alias("last_event_id"),
        F.round("value", 2).alias("last_value"),
    )


def q_events_json_extract(spark, sf_dir):
    """JSON payload parse (SURVEY F3 / registry payload path): extract
    props.k, aggregate per event_type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
    )


def q_events_sessionize(spark, sf_dir):
    """Sessionization: new session when gap > 1800 s (stateful-stream
    analog expressed as window lag + running sum)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the fixtures; session tz is pinned UTC so
    # ntz→timestamp→long matches DuckDB's naive epoch()
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("ns", new_sess)
    return sess.groupBy("user_id").agg(
        F.sum("ns").alias("n_sessions"), F.count("*").alias("n_events")
    )


def q_events_asof_join(spark, sf_dir):
    """As-of join (Spark lacks a native one): for each purchase, the
    most recent prior view by the same user — conditional running max
    window, no applyInPandas needed."""
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prior_view = F.max(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("asof_ts", prior_view)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.floor(F.col("asof_ts").cast("timestamp").cast("double"))
            .cast("bigint")
            .alias("asof_view_epoch"),
        )
    )


def q_topk_per_user(spark, sf_dir):
    """Top-3 events by value per user (top-k per group window)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", "rk", "event_id", F.round("value", 2).alias("value"))
    )


# ---------------------------------------------------------------------------
# batch / relational operators (SURVEY §2.3-2.6 Spark expressions)
# ---------------------------------------------------------------------------


def q_q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf_dir):
    """Multi-way join + agg; dimension tables broadcast (reference has
    no real joins — SURVEY §2.3; this is the Spark-native expression)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


def q_rollup_sales(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
        )
    )


def _messy_urls(ev):
    """Deterministic messy-URL fixture derived from events (upper-case
    scheme/host, default ports, fragments) — same construction in the
    oracle SQL."""
    return F.concat(
        F.when(F.col("event_id") % 2 == 0, F.lit("HTTPS://Site-")).otherwise(
            F.lit("https://site-")
        ),
        (F.col("user_id") % 20).cast("string"),
        F.lit(".Example.COM"),
        F.when(F.col("event_id") % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Path/p"),
        (F.col("event_id") % 97).cast("string"),
        F.when(
            F.col("event_id") % 5 == 0,
            F.concat(F.lit("#frag"), (F.col("event_id") % 7).cast("string")),
        ).otherwise(F.lit("")),
    )


def q_url_canonical_domains(spark, sf_dir):
    """URL canonicalization + per-domain rollup (Common-Crawl dedup
    prep; operators/text.py:canonical_url — portable anchored regexes,
    no backreferences, so the identical pipeline runs in DuckDB)."""
    from web3research_etl_spark.operators.text import canonical_url, url_domain

    ev = _t(spark, sf_dir, "events")
    canon = canonical_url(_messy_urls(ev))
    return (
        ev.select(canon.alias("url"))
        .select("url", url_domain(F.col("url")).alias("domain"))
        .groupBy("domain")
        .agg(F.count("*").alias("n"), F.countDistinct("url").alias("n_urls"))
    )


def q_distinct_users_per_type(spark, sf_dir):
    """Distinct aggregation (SURVEY §2.4 notes the reference has none;
    Spark plans it as two-phase partial-distinct before the shuffle)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def q_event_value_percentiles(spark, sf_dir):
    """Exact percentiles (order statistics with linear interpolation —
    Spark `percentile` ≡ DuckDB `quantile_cont`) per event type."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.count("*").alias("n"),
    )


def q_grouping_sets_sales(spark, sf_dir):
    """Arbitrary GROUPING SETS (beyond rollup/cube) via the SQL API —
    one-dimension marginals in a single pass."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


def q_cube_sales(spark, sf_dir):
    """CUBE aggregation (all grouping-set combinations — SURVEY §2.4:
    free in Spark, absent in the reference)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_price",
        )
    )


def q_events_running_30min(spark, sf_dir):
    """RANGE-frame window (time-interval frame, not row-count): per
    user, running sum of value over the trailing 30 minutes."""
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-1800, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("run_sum_30m"),
    )


def q_customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q_parts_by_brand_broadcast(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(F.col("p_size") >= 20)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------


def q_doc_token_counts(spark, sf_dir):
    from web3research_etl_spark.operators.text import doc_token_counts

    return doc_token_counts(_t(spark, sf_dir, "documents"))


def q_doc_quality(spark, sf_dir):
    from web3research_etl_spark.operators.text import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def q_doc_lang_id(spark, sf_dir):
    from web3research_etl_spark.operators.text import lang_id_sql

    return lang_id_sql(_t(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark, sf_dir):
    from web3research_etl_spark.operators.text import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


def q_doc_keyword_search(spark, sf_dir):
    """Conjunctive inverted-index search: docs containing ALL of three
    whole tokens, with summed term frequency (operators/search.py —
    scan-fused contains() pre-filter, explode only on candidates)."""
    from web3research_etl_spark.operators.search import keyword_search

    return keyword_search(
        _t(spark, sf_dir, "documents"), ["merge", "spark", "window"]
    )


def q_doc_phrase_search(spark, sf_dir):
    """Exact-phrase search over positional postings (late r5): docs
    whose token stream contains "value table" CONSECUTIVELY, with the
    occurrence count — the decontamination/entity-lookup operator where
    conjunctive keyword search over-matches. Scan-fused contains()
    pre-filter per term (plan-asserted in tests), one posexplode of the
    candidates, n-1 skinny (doc_id, pos) equi-joins for adjacency."""
    from web3research_etl_spark.operators.search import phrase_search

    return phrase_search(_t(spark, sf_dir, "documents"), "value table")


def q_doc_term_stats(spark, sf_dir):
    """Per-token document/collection frequency (the inverted index's
    df/cf statistics table), long tail bounded by min_df."""
    from web3research_etl_spark.operators.search import term_stats

    return term_stats(_t(spark, sf_dir, "documents"), min_df=5)


def q_doc_bm25(spark, sf_dir):
    """BM25 ranking of the conjunctive keyword-search candidates
    (operators/search.bm25_rank). Deterministic across engines: every
    float input is an exact integer (tf/df/N/token counts), per-term
    partials sum as FIXED columns (never a float agg across rows), one
    terminal round(…, 6); the DuckDB oracle evaluates the structurally
    identical expression tree with every literal forced to DOUBLE."""
    from web3research_etl_spark.operators.search import bm25_rank

    return bm25_rank(
        _t(spark, sf_dir, "documents"), ["merge", "spark", "window"]
    )


def q_kmv_distinct_users(spark, sf_dir):
    """KMV bottom-k distinct-count sketch over event users
    (operators/sketch.py): shuffles only per-partition-distinct 8-byte
    hashes instead of every key — the 100-TB answer to "how many
    distinct users/URLs". Estimate is deterministic (md5-int60 hash +
    one IEEE-754 division), so it is hash-gated, not rows-only."""
    from web3research_etl_spark.operators.sketch import kmv_distinct_estimate

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_key")
    )
    return kmv_distinct_estimate(ev, "user_key", k=512)


def q_doc_bm25_indexed(spark, sf_dir):
    """BM25 served FROM THE INDEX (operators/search.bm25_rank_indexed —
    VERDICT r4 next #3): candidates from postings rows, df from the
    term-stats table, doc length from the per-posting denormalized dl,
    corpus constants from the doc-lengths side. Zero corpus scans at
    scoring time (the index build is the one corpus pass, amortized
    over every query; tests/test_search_index.py pins the persisted-
    LakeTable variant with file-skipped token reads and a plan free of
    the documents scan). Float-identical to the direct path by
    construction — same exact-integer inputs, same expression tree —
    so the oracle is the standard direct-form BM25 SQL."""
    from web3research_etl_spark.operators.search import (
        bm25_rank_indexed,
        corpus_stats_from_lengths,
        doc_lengths,
        indexed_postings,
        term_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return bm25_rank_indexed(
        indexed_postings(docs),
        term_stats(docs, min_df=1),
        corpus_stats_from_lengths(doc_lengths(docs)),
        ["scan", "filter"],
    )


def q_doc_keyword_indexed(spark, sf_dir):
    """Conjunctive keyword search served from postings rows alone
    (operators/search.keyword_search_indexed): same result contract as
    doc_keyword_search, no text column anywhere in the query plan."""
    from web3research_etl_spark.operators.search import (
        indexed_postings,
        keyword_search_indexed,
    )

    docs = _t(spark, sf_dir, "documents")
    return keyword_search_indexed(indexed_postings(docs), ["batch", "join"])


def q_doc_postings_incremental(spark, sf_dir):
    """Incremental inverted-index maintenance from the CDC stream
    (operators/search_ivm — VERDICT r4 next #4): the even half of the
    corpus is merged as epoch 1 and BOOTSTRAPS the index; epoch 2
    merges the odd half and DELETES every doc_id % 10 == 0, and one
    incremental fold (read_changes with before-images → posting upserts
    + tombstones for dead (token, doc) pairs) advances the index — no
    corpus re-scan. Returned: term stats derived from the live postings
    (df = live pair count, cf = Σtf). The oracle recomputes them from
    scratch over the FINAL corpus (everything except doc_id % 10 == 0):
    equality proves the delta fold is exact, deletes included.

    Gate wall-time note: like cdc_ivm_event_type, the measured seconds
    are the END-TO-END pipeline built inside the query — two
    merge_changelog epochs into a fresh LakeTable, the bootstrap index
    build (the one amortized corpus pass), and two index syncs — not
    the fold itself. The incremental fold reads only epoch-2 deltas;
    its cost is O(changed docs), which is the property that matters at
    10^10 docs where a rebuild is a full corpus scan."""
    from web3research_etl_spark.lake.table import LakeTable
    from web3research_etl_spark.operators.search_ivm import (
        create_search_index,
        index_term_stats,
        sync_search_index,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = _query_scratch_dir("drv_pidx")
    base = LakeTable.create(
        spark,
        f"{d}/docs",
        spark.createDataFrame([], "doc_id long, text string, ver long").schema,
        key=["doc_id"],
        version_order=["ver"],
        n_buckets=4,
    )
    base.merge_changelog(
        docs.filter(F.col("doc_id") % 2 == 0).select(
            F.lit("U").alias("op"), "doc_id", "text",
            F.lit(1).cast("long").alias("ver"),
        ),
        epoch_id=1,
    )
    idx = create_search_index(spark, f"{d}/idx", "doc_id", "bigint")
    sync_search_index(idx, base)  # bootstrap build over the even half
    batch2 = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select(
            F.lit("U").alias("op"), "doc_id", "text",
            F.lit(2).cast("long").alias("ver"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                F.lit("D").alias("op"),
                "doc_id",
                F.lit(None).cast("string").alias("text"),
                F.lit(2).cast("long").alias("ver"),
            )
        )
    )
    base.merge_changelog(batch2, epoch_id=2)
    sync_search_index(idx, base)  # the incremental fold (incl. deletes)
    return index_term_stats(idx, min_df=5)


def q_exact_dedup(spark, sf_dir):
    from web3research_etl_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark, sf_dir):
    from web3research_etl_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=12, threshold=0.2, max_bucket_size=100
    )


def q_ngram_jaccard_lsh(spark, sf_dir):
    """The 100-TB Jaccard path: MinHash-LSH candidates first, exact
    shingle-set Jaccard only on candidate pairs (operators/dedup.py:
    ngram_jaccard_via_lsh; same params as minhash_lsh_candidates so the
    candidate CTE in the oracle is shared)."""
    from web3research_etl_spark.operators.dedup import ngram_jaccard_via_lsh

    # NOTE: no min_est sketch prefilter here — with 2 rows/band every
    # banded candidate already has est ≥ 0.25, so a prefilter below that
    # prunes nothing (measured: only adds plan weight). min_est earns
    # its keep at higher num_hashes (finer estimates), not at 8.
    return ngram_jaccard_via_lsh(
        _t(spark, sf_dir, "documents"), k=12, threshold=0.2,
        num_hashes=8, bands=4,
    )


def q_minhash_signatures(spark, sf_dir):
    from web3research_etl_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_t(spark, sf_dir, "documents"), k=12, num_hashes=8)


def q_minhash_lsh_candidates(spark, sf_dir):
    from web3research_etl_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"), k=12, num_hashes=8, bands=4
    )


def q_simhash(spark, sf_dir):
    from web3research_etl_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"), bits=16, k=12)


def q_embedding_near_dups(spark, sf_dir):
    from web3research_etl_spark.operators.dedup import embedding_near_dups

    return embedding_near_dups(_t(spark, sf_dir, "embeddings"), threshold=0.2)


def q_ann_brute_topk(spark, sf_dir):
    from web3research_etl_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return brute_force_topk(emb, list(qv), k=10)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN (the scale path next to ann_brute_topk): deterministic
    codebook, codegen'd narrow-projection cell assignment, n_probe cell
    prune, exact re-rank — oracle-checkable end to end."""
    from web3research_etl_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    return ivf_topk(emb, qv, n_centroids=16, n_probe=4, k=10)


def q_ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF ANN over a TRAINED codebook (VERDICT r02 next #7): 2 Lloyd's
    iterations from the deterministic first-8 init, per-iteration means
    rounded to 6 decimals so the DuckDB oracle's replay of the SAME
    iterations lands on bit-identical centroids (double summation order
    differs across engines; rounding absorbs the ~1e-15 skew). Cell
    assignment is the codegen-safe array-fold path (ivf_assign_array)."""
    from web3research_etl_spark.operators.similarity import (
        ivf_topk_trained,
        kmeans_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    cents = kmeans_centroids(emb, dim=64, n_centroids=8, n_iters=2, round_to=6)
    return ivf_topk_trained(emb, qv, cents, n_probe=3, k=10)


def q_ann_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH ANN. Oracle-checked: the signature math is
    md5-int60-derived integer plane components times float32→double
    embedding values, summed in a fixed left-fold order — the same
    bit-identical-across-engines recipe as the cosine oracles, so the
    DuckDB replica reproduces every sign bit (and the driver-side qsig
    in lsh_topk equals the vec_id=0 row's column-side signature).
    Recall vs brute force is additionally pinned by
    tests/test_training_ops.py."""
    from web3research_etl_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    return lsh_topk(emb, qv, dim=64, k=10, n_planes=8, max_hamming=3)


def q_ann_int8_topk(spark, sf_dir):
    """Scalar-quantized (int8) ANN: 4×-smaller codes, integer dot
    products (operators/similarity.quantized_int8 / int8_topk). The
    score's inputs (dot, both squared norms) are exact integers, so the
    DuckDB oracle — which re-derives the corpus AND query quantization
    from the same rows — is hash-exact; recall vs the float brute force
    is pinned in tests/test_search_sketch.py."""
    from web3research_etl_spark.operators.similarity import int8_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    return int8_topk(emb, qv, k=10)


def q_events_windowed_rates(spark, sf_dir):
    """Tumbling-window event rates — the batch expression of the
    streaming watermark+window aggregation (streaming/stateful.py uses
    the same F.window over readStream; hypertable-rollup analog)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("long").alias("bucket_epoch"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_clickers_minus_buyers(spark, sf_dir):
    """Distinct set difference (SURVEY §2.5 set ops): (user, day) pairs
    with a click but no purchase that day."""
    ev = _t(spark, sf_dir, "events")
    day = F.to_date(F.col("ts").cast("timestamp")).cast("string").alias("day")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id", day)
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id", day)
    return clickers.subtract(buyers)


def q_dispatch_fanout(spark, sf_dir):
    """Type-dispatch router (SURVEY P8: the reference's 39-way contract
    dispatch, src/ch_tron/init.rs:373-821) + multi-table fan-out (S7):
    one pass tags the route, each route gets its own projection, one
    action per route — here folded to per-route counts so the result is
    one DataFrame."""
    from web3research_etl_spark.operators.dispatch import REST_ROUTE, dispatch_by_type

    ev = _t(spark, sf_dir, "events")
    routed = dispatch_by_type(
        ev,
        "event_type",
        {
            "click": lambda d: d.select("event_id", "user_id"),
            "view": lambda d: d.select("event_id", "value"),
            "purchase": lambda d: d.select(
                "event_id", F.round("value", 2).alias("amount")
            ),
        },
    )
    parts = [
        df.agg(F.count("*").alias("n")).select(F.lit(name).alias("route"), "n")
        for name, df in routed.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    _ = REST_ROUTE
    return out


def q_outlinks_explode(spark, sf_dir):
    """Nested array<struct> end-to-end (SURVEY §1.1/§1.3 — the
    reference's Nested(...) columns, src/ch_tron/schema.rs:165-170, and
    its per-log/withdrawal explodes, P3/P4): build a deterministic
    outlinks array<struct<href,anchor>> per event, explode it, and
    aggregate per target href. The struct is constructed and unpacked
    natively (transform/sequence/explode — all codegen, no UDF); the
    DuckDB oracle replicates with list_transform + unnest over structs."""
    ev = _t(spark, sf_dir, "events")
    n = (F.col("event_id") % 4).cast("int")
    links = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.struct(
                F.concat(
                    F.lit("https://out-"),
                    ((F.col("event_id") * 7 + i) % 50).cast("string"),
                ).alias("href"),
                F.concat(F.lit("a"), i.cast("string")).alias("anchor"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<href:string,anchor:string>>"))
    ex = ev.select("user_id", links.alias("outlinks")).select(
        "user_id", F.explode("outlinks").alias("l")
    )
    return ex.groupBy(F.col("l.href").alias("href")).agg(
        F.count("*").cast("bigint").alias("n_links"),
        F.countDistinct("user_id").cast("bigint").alias("n_src_users"),
        F.countDistinct(F.col("l.anchor")).cast("bigint").alias("n_anchors"),
    )


def q_map_type_rollup(spark, sf_dir):
    """MapType end-to-end (SURVEY §1.3 — the reference's
    ``Map(String,Int64)`` columns, src/ch_tron/schema.rs:173): build a
    map<string,bigint> of per-user event-type counts with
    map_from_entries over a sorted entry array, prune it with
    map_filter, fold map_values with a higher-order aggregate, and
    probe a key with try_element_at — all native map expressions
    (codegen'd, no UDF); the output is projected flat so the oracle is
    plain relational SQL over the same grouped counts."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    hot = m.select(
        "user_id",
        "type_counts",
        F.map_filter("type_counts", lambda k, v: v >= 3).alias("hot"),
    )
    fold = lambda col: F.aggregate(  # noqa: E731 — local SQL-shaped lambda
        F.map_values(col), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )
    return hot.select(
        "user_id",
        F.size("hot").cast("int").alias("n_hot_types"),
        F.coalesce(F.try_element_at("hot", F.lit("click")), F.lit(0))
        .cast("bigint")
        .alias("hot_clicks"),
        fold("hot").alias("hot_total"),
        fold("type_counts").alias("all_total"),
    )


def q_kafka_wire_roundtrip(spark, sf_dir):
    """Kafka-wire source codec under the oracle gate (SURVEY §2.1
    sources; the broker-shaped transport in sources/kafka_wire.py).
    Spark derives a changelog from events, serializes it to Kafka wire
    records (key/value bytes, JSON payload, base64 binary transit) and
    decodes it back; the DuckDB oracle runs ONLY the derivation. A
    hash match therefore proves the encode→decode roundtrip is the
    identity on every column — url, op, timestamp, binary html, nulls
    on deletes, partition/offset metadata."""
    from web3research_etl_spark.sources.kafka_wire import decode_wire, encode_wire

    ev = _t(spark, sf_dir, "events")
    ch = ev.select(
        F.when(F.col("event_type") == "error", F.lit("D"))
        .when(F.col("event_type").isin("click", "view"), F.lit("U"))
        .otherwise(F.lit("I"))
        .alias("op"),
        F.concat(
            F.lit("https://site-"),
            (F.col("user_id") % 20).cast("string"),
            F.lit("/p"),
            (F.col("event_id") % 211).cast("string"),
        ).alias("url"),
        F.col("ts").cast("timestamp").alias("warc_ts"),
        F.col("event_id").alias("event_seq"),
        # null html on deletes — the wire codec must preserve nulls too
        F.when(
            F.col("event_type") != "error",
            F.concat(
                F.lit("<p>"), F.col("event_type"), F.lit(" "),
                F.col("event_id").cast("string"), F.lit("</p>"),
            ).cast("binary"),
        ).alias("html"),
        F.lit("en").alias("lang"),
        F.lit(1).cast("int").alias("payload_version"),
        F.col("event_type").alias("payload"),
        (F.col("event_id") % 8).cast("int").alias("source_partition"),
    )
    back = decode_wire(encode_wire(ch))
    return back.select(
        "url",
        "op",
        F.col("warc_ts").cast("long").alias("warc_epoch"),
        "event_seq",
        F.col("html").cast("string").alias("html_str"),
        "lang",
        "payload",
        "source_partition",
    )


def q_hex_roundtrip(spark, sf_dir):
    """Hex-string → integer parse (SURVEY F2, JVM-side conv): encode
    event_id to hex and parse it back; rows where the roundtrip fails
    would diverge from the oracle."""
    from web3research_etl_spark.functions.encode import hex_to_long

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.hex(F.col("event_id")).alias("h"),
        hex_to_long(F.hex(F.col("event_id"))).alias("parsed"),
    )


def q_doc_b58_fingerprint(spark, sf_dir):
    """Base58Check document fingerprint (SURVEY F4). Rows-only: the
    4-byte checksum is a double-sha256 over RAW BYTES and this DuckDB's
    sha256() only accepts VARCHAR, so the checksum isn't SQL-expressible;
    the kernel is pinned by known-vector unit tests instead. The base58
    conversion itself IS oracle-gated — see doc_b58_plain."""
    from web3research_etl_spark.functions.encode import b58check_udf

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        b58check_udf(0)(F.unhex(F.md5("text"))).alias("b58_fp"),
    )


def q_doc_b58_plain(spark, sf_dir):
    """Plain base58 (bitcoin alphabet) of the md5 digest — the same
    pandas-UDF kernel as the Base58Check fingerprint minus the binary
    checksum, which makes the whole base-256→base-58 conversion
    (including leading-zero-byte → '1' padding) checkable against a
    DuckDB recursive-CTE long division over a two-limb UHUGEINT."""
    from web3research_etl_spark.functions.encode import b58encode_udf

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        b58encode_udf(F.unhex(F.md5("text"))).alias("b58"),
    )


def q_media_metadata(spark, sf_dir):
    from web3research_etl_spark.operators.multimodal import attach_media

    return attach_media(_t(spark, sf_dir, "documents")).drop("media")


def q_media_resize(spark, sf_dir):
    """Image-resize plumbing (mapInPandas, stubbed kernel): metadata of
    the resized blobs — binary column dropped so the value-hash compares
    engine-neutral metadata."""
    from web3research_etl_spark.operators.multimodal import attach_media, resize_images

    return resize_images(
        attach_media(_t(spark, sf_dir, "documents")), width=8, height=6
    ).drop("resized")


def q_frame_sample(spark, sf_dir):
    from web3research_etl_spark.operators.multimodal import attach_media, frame_sample_plan

    return frame_sample_plan(attach_media(_t(spark, sf_dir, "documents")), every_n=10)


def q_dup_clusters(spark, sf_dir):
    """Candidate pairs → duplicate CLUSTERS: connected components over
    the minhash-LSH pair graph (same params as the oracled
    minhash_lsh_candidates query, so the oracle reuses its CTEs), every
    document assigned a cluster id (min reachable doc_id), canonical
    keeper flagged. operators/cluster.py — iterative min-label
    propagation with pointer jumping; the DuckDB oracle computes the
    same fixpoint as a recursive reachability CTE."""
    from web3research_etl_spark.operators.cluster import dup_clusters
    from web3research_etl_spark.operators.dedup import minhash_lsh_candidates

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, k=12, num_hashes=8, bands=4).select(
        "doc_a", "doc_b"
    )
    return dup_clusters(docs, pairs)


def q_doc_sample_frac(spark, sf_dir):
    """Deterministic keyed-hash corpus sample (operators/sample.py):
    membership is a pure function of doc_id — reproducible across
    partitionings, retries, and engines (no RNG)."""
    from web3research_etl_spark.operators.sample import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.2, salt="corpus").select(
        "doc_id", "lang", "source"
    )


def q_doc_sample_stratified(spark, sf_dir):
    """Exactly-k-per-stratum deterministic sample: hash-rank row_number
    within each lang (the reservoir-sampling equivalent that a replayed
    micro-batch reproduces bit-identically)."""
    from web3research_etl_spark.operators.sample import stratified_topk

    docs = _t(spark, sf_dir, "documents")
    return stratified_topk(docs, "lang", "doc_id", k=25, salt="corpus").select(
        "lang", "doc_id", "sample_rank"
    )


def q_corpus_curation(spark, sf_dir):
    """End-to-end curation funnel over the corpus — quality gate →
    exact dedup (keep min doc per content hash) → language ID → per-
    predicted-language corpus stats. Composes three oracled operators
    into the one query a training-data pipeline actually runs; all
    JVM-side expressions, two shuffles (dedup groupBy + final agg)."""
    from web3research_etl_spark.operators.dedup import exact_dedup
    from web3research_etl_spark.operators.text import lang_id_sql, quality_score

    docs = _t(spark, sf_dir, "documents")
    q = (
        quality_score(docs)
        .filter(F.col("passes_quality") == 1)
        .select("doc_id", "n_tokens")
    )
    keep = exact_dedup(docs).select(F.col("keep_doc_id").alias("doc_id"))
    lang = lang_id_sql(docs).select("doc_id", "lang_pred")
    kept = q.join(keep, "doc_id").join(lang, "doc_id")
    return kept.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
    )


def q_doc_shard_assign(spark, sf_dir):
    """Deterministic global shuffle + shard export order (operators/
    sample.py:shard_assign): shard = keyed-hash mod 8, pos = hash-rank
    within shard — one global pseudorandom permutation of the corpus,
    materialized per shard (ONE shuffle, no global sort), bit-identical
    on any cluster size/partitioning/engine. Payload columns ride
    through: the export writer consumes (shard, pos, payload) directly,
    no join-back."""
    from web3research_etl_spark.operators.sample import shard_assign

    return shard_assign(_t(spark, sf_dir, "documents"), "doc_id", 8, salt="ep0")


def q_incremental_dedup(spark, sf_dir):
    """Incremental dedup of a NEW batch against the EXISTING corpus
    (operators/dedup.py:dedup_against_corpus) — the per-crawl operation
    of a standing ingest: LSH band buckets joined new×corpus only (no
    corpus×corpus, no new×new), exact shingle Jaccard on candidates.
    Split: doc_id % 5 == 0 plays the incoming batch, the rest the
    standing corpus (built here via minhash_band_buckets, i.e. the
    persisted-index path a LakeTable would serve)."""
    from web3research_etl_spark.operators.dedup import (
        dedup_against_corpus,
        minhash_band_buckets,
    )

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
    idx = minhash_band_buckets(corpus, k=12, num_hashes=8, bands=4)
    return dedup_against_corpus(
        new, corpus, k=12, threshold=0.2, num_hashes=8, bands=4,
        corpus_index=idx,
    )


def q_doc_pack_chunks(spark, sf_dir):
    """Sequence packing for LLM training (concatenate-then-chunk at a
    512-token budget, per-language streams): one shuffle on the shard
    column, per-shard running offsets, exact integer chunk ids."""
    from web3research_etl_spark.operators.text import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), target_tokens=512)


def q_doc_segment_dedup(spark, sf_dir):
    """C4-style cross-corpus span dedup (operators/curate.py): every
    10-word segment kept exactly once corpus-wide (smallest
    (doc_id, seg_idx) occurrence wins), per-doc cleaned text
    re-assembled in order. One explode + one hash-keyed min-agg + one
    join back — no global windows."""
    from web3research_etl_spark.operators.curate import segment_dedup

    return segment_dedup(_t(spark, sf_dir, "documents"), seg_words=10)


def q_doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing any overlapping 8-word
    n-gram with the held-out eval slice (doc_id % 37 == 0) are
    flagged. The eval side's distinct hashes broadcast — corpus text
    bytes never shuffle."""
    from web3research_etl_spark.operators.curate import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    corpus = docs.filter(F.col("doc_id") % 37 != 0)
    return decontaminate(corpus, bench, n=8)


def q_doc_repetition_stats(spark, sf_dir):
    """Gopher-style repetition gates: duplicate-word fraction +
    top-bigram frequency fraction per doc, with flag thresholds."""
    from web3research_etl_spark.operators.curate import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def q_doc_pii_scrub(spark, sf_dir):
    """PII scrubbing parity check: deterministic synthetic PII
    (email / phone / IPv4 derived from doc_id) is appended to each
    doc, then scrubbed with the RE2∩Java-regex common-subset patterns
    in operators/curate.py. The value-hash compare against DuckDB
    proves the regex semantics match byte-for-byte — the property
    that matters when the scrub runs on 100 TB and the audit runs
    elsewhere."""
    from web3research_etl_spark.operators.curate import pii_counts, scrub_pii

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    synth = F.concat(
        F.col("text"),
        F.when(
            d % 3 != 2,
            F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit(" call +1 555 0"),
                F.lpad((d % 1000).cast("string"), 3, "0"),
                F.lit(" 9012"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 != 0,
            F.concat(F.lit(" host 10.0."), (d % 256).cast("string"), F.lit(".77")),
        ).otherwise(F.lit("")),
    )
    withs = docs.select("doc_id", synth.alias("synth"))
    return withs.select(
        "doc_id",
        *pii_counts(F.col("synth")),
        scrub_pii(F.col("synth")).alias("scrubbed"),
    )


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: LWW-converged CDC state on sf0.001."""
    return q_cdc_lww_converged(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order IS the driver's gate roster: the correctness gate
    runs the FIRST 50 entries, so dict position is managed deliberately
    (VERDICT r03 next #2; rotation machinery = this docstring +
    tests/test_gate_roster.py + the COVERAGE.md ledger). Round-5
    window = 23 queries on code ACTIVELY CHANGED this round (the
    cdc_*/lake set — the commit path's footer-stats read moved to an
    executor-side Spark job, so every merge/append/compact/feed path
    re-certifies; the search family, whose term handling and NULL-key
    sketch semantics changed; and the 3 operators WRITTEN this round:
    BM25/keyword served from the index + incremental postings
    maintenance) + the 25 queries rotated out in r4 (last driver-green
    r1–r3 — the longest-unrecertified set, per the "no query goes >2
    rounds without recertification" rule) + 2 LakeTable-persisting
    operators (incremental_dedup's band index rides the append path the
    stats refactor touched; dup_clusters is the heaviest operator in
    the roster). Rotated OUT: 28 r4-certified queries on code untouched
    this round (dedup/ANN/media/encode/curation families) — all still
    oracle-checked locally every round (tools/oracle_check.py).
    Rotation log: COVERAGE.md §gate-status."""
    return {
        # -- r5 gate window, part 1: actively-changed code paths (23) --
        # lake commit internals changed (executor-side footer stats):
        # the full cdc_*/lake family re-certifies
        "cdc_lww_converged": q_cdc_lww_converged,
        "cdc_lww_agg": q_cdc_lww_agg,
        "cdc_merge_state": q_cdc_merge_state,
        "cdc_mor_state": q_cdc_mor_state,
        "fanout_merge_state": q_fanout_merge_state,
        "cdc_time_travel": q_cdc_time_travel,
        "cdc_changes_between": q_cdc_changes_between,
        "cdc_feed": q_cdc_feed,
        "cdc_ivm_event_type": q_cdc_ivm_event_type,
        "cdc_range_scan": q_cdc_range_scan,
        "cdc_zorder_scan": q_cdc_zorder_scan,
        "cdc_reconcile_status": q_cdc_reconcile_status,
        "cdc_resume_offsets": q_cdc_resume_offsets,
        "cdc_presence_probe": q_cdc_presence_probe,
        "cdc_point_lookup": q_cdc_point_lookup,
        "cdc_bloom_lookup": q_cdc_bloom_lookup,
        # search/sketch semantics changed (term dedupe, NULL-key fix)
        "doc_keyword_search": q_doc_keyword_search,
        "doc_term_stats": q_doc_term_stats,
        "doc_bm25": q_doc_bm25,
        "kmv_distinct_users": q_kmv_distinct_users,
        # WRITTEN this round (query-through-the-index + incremental
        # postings maintenance — certified in the round that wrote them)
        "doc_bm25_indexed": q_doc_bm25_indexed,
        "doc_keyword_indexed": q_doc_keyword_indexed,
        "doc_postings_incremental": q_doc_postings_incremental,
        # -- part 2: the longest-unrecertified set (25 — rotated out in
        #    r4, last driver-green r1–r3) ----------------------------
        "revenue_by_nation": q_revenue_by_nation,
        "events_json_extract": q_events_json_extract,
        "topk_per_user": q_topk_per_user,
        "q1_pricing_summary": q_q1_pricing_summary,
        "rollup_sales": q_rollup_sales,
        "cube_sales": q_cube_sales,
        "grouping_sets_sales": q_grouping_sets_sales,
        "event_value_percentiles": q_event_value_percentiles,
        "distinct_users_per_type": q_distinct_users_per_type,
        "url_canonical_domains": q_url_canonical_domains,
        "events_running_30min": q_events_running_30min,
        "customers_without_orders": q_customers_without_orders,
        "parts_by_brand_broadcast": q_parts_by_brand_broadcast,
        "doc_token_counts": q_doc_token_counts,
        "doc_quality": q_doc_quality,
        "doc_lang_id": q_doc_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "events_windowed_rates": q_events_windowed_rates,
        "clickers_minus_buyers": q_clickers_minus_buyers,
        "media_metadata": q_media_metadata,
        "events_sessionize": q_events_sessionize,
        "events_asof_join": q_events_asof_join,
        "exact_dedup": q_exact_dedup,
        "simhash": q_simhash,
        "cdc_tombstones": q_cdc_tombstones,
        # -- part 3: LakeTable-persisting operators riding the changed
        #    append/commit path (2) ---------------------------------
        "incremental_dedup": q_incremental_dedup,
        "dup_clusters": q_dup_clusters,
        # -- rotated out of the r5 window (all driver-green in r4 on
        #    code untouched this round; still locally oracle-checked
        #    every round via tools/oracle_check.py) ------------------
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_candidates": q_minhash_lsh_candidates,
        "ngram_jaccard_lsh": q_ngram_jaccard_lsh,
        "embedding_near_dups": q_embedding_near_dups,
        "ann_brute_topk": q_ann_brute_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_kmeans_topk": q_ann_ivf_kmeans_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_int8_topk": q_ann_int8_topk,
        "media_resize": q_media_resize,
        "frame_sample": q_frame_sample,
        "dispatch_fanout": q_dispatch_fanout,
        "kafka_wire_roundtrip": q_kafka_wire_roundtrip,
        "map_type_rollup": q_map_type_rollup,
        "hex_roundtrip": q_hex_roundtrip,
        "outlinks_explode": q_outlinks_explode,
        # doc_b58_fingerprint stays the ONE registered rows-only query
        # (Base58Check checksum = double-sha256 over RAW BYTES; DuckDB's
        # sha256() only accepts VARCHAR, so no faithful oracle exists —
        # kernel pinned by known-vector unit tests, base58 itself
        # hash-gated via doc_b58_plain)
        "doc_b58_fingerprint": q_doc_b58_fingerprint,
        "doc_b58_plain": q_doc_b58_plain,
        "doc_sample_frac": q_doc_sample_frac,
        "doc_sample_stratified": q_doc_sample_stratified,
        "corpus_curation": q_corpus_curation,
        "doc_shard_assign": q_doc_shard_assign,
        "doc_pack_chunks": q_doc_pack_chunks,
        "doc_segment_dedup": q_doc_segment_dedup,
        "doc_decontaminate": q_doc_decontaminate,
        "doc_repetition_stats": q_doc_repetition_stats,
        "doc_pii_scrub": q_doc_pii_scrub,
        # -- NEW in r5 (post-gate-freeze, seated OUTSIDE the window so
        #    the pinned roster stands; locally oracle-checked; r6-window
        #    candidates) ---------------------------------------------
        "cdc_rollback_replay": q_cdc_rollback_replay,
        "cdc_wap_publish": q_cdc_wap_publish,
        "doc_phrase_search": q_doc_phrase_search,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# shared SQL fragments
_SHINGLES_CTE = r"""
    docs_s AS (
      SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS s
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(length(s) - 11, 1) + 1),
               i -> substring(s, CAST(i AS INT), 12)))) AS shingle
      FROM docs_s
    )
"""

_H60 = "CAST(('0x' || substring(md5({x}), 1, 15)) AS BIGINT)"

# PII regexes, imported so the Spark operator and the DuckDB oracle
# share one source of truth (RE2 ∩ java.util.regex common subset).
from web3research_etl_spark.operators.curate import (  # noqa: E402
    EMAIL_RE as _PII_EMAIL,
    IPV4_RE as _PII_IPV4,
    PHONE_RE as _PII_PHONE,
)


def _simhash_oracle(bits: int = 16) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
        WITH {_SHINGLES_CTE},
        hashed AS (SELECT doc_id, {_H60.format(x='shingle')} AS h FROM sh),
        v AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v
    """


def _minhash_oracle(num_hashes: int = 8) -> str:
    parts = []
    for i in range(num_hashes):
        h = _H60.format(x="shingle || '#%d'" % i)
        parts.append(f"min({h}) AS mh{i}")
    mins = ", ".join(parts)
    return f"""
        WITH {_SHINGLES_CTE}
        SELECT doc_id, {mins} FROM sh GROUP BY doc_id
    """


def _lsh_pairs_ctes(num_hashes: int, bands: int, max_bucket_size: int) -> str:
    """Shared WITH-clause body: shingles → minhash sig → md5 banding →
    capped buckets → distinct candidate `pairs` (exact DuckDB replica of
    operators/dedup.py:minhash_lsh_candidates — banding is pure md5 over
    the minhash values, no RNG, so candidate sets are deterministic)."""
    rows_per_band = num_hashes // bands
    mins = ", ".join(
        f"min({_H60.format(x=f'''shingle || '#{i}' ''')}) AS mh{i}"
        for i in range(num_hashes)
    )
    band_selects = []
    for bd in range(bands):
        cols = ", ".join(
            f"CAST(mh{bd * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, md5(concat_ws(':', '{bd}', {cols})) AS bucket FROM sig"
        )
    banded = "\n          UNION ALL ".join(band_selects)
    return f"""{_SHINGLES_CTE},
        sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
        banded AS (
          {banded}
        ),
        buckets AS (SELECT DISTINCT doc_id, bucket FROM banded),
        ok AS (SELECT bucket FROM buckets GROUP BY bucket
               HAVING count(*) <= {max_bucket_size}),
        kept AS (SELECT b.doc_id, b.bucket FROM buckets b JOIN ok USING (bucket)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM kept a JOIN kept b
            ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        )"""


def _minhash_lsh_oracle(
    num_hashes: int = 8, bands: int = 4, max_bucket_size: int = 200
) -> str:
    matches = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""
        WITH {_lsh_pairs_ctes(num_hashes, bands, max_bucket_size)}
        SELECT p.doc_a, p.doc_b,
               round(({matches}) / {float(num_hashes)}, 6) AS est_jaccard
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b
    """


def _ngram_jaccard_lsh_oracle(
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int = 200,
    threshold: float = 0.2,
    min_est: float | None = None,
) -> str:
    """DuckDB replica of operators/dedup.py:ngram_jaccard_via_lsh —
    exact shingle-set Jaccard restricted to LSH candidate pairs,
    optionally sketch-prefiltered on the minhash estimate."""
    if min_est is None:
        verified = "pairs"
    else:
        matches = " + ".join(
            f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
            for i in range(num_hashes)
        )
        verified = f"""(
          SELECT p.doc_a, p.doc_b FROM pairs p
          JOIN sig sa ON sa.doc_id = p.doc_a
          JOIN sig sb ON sb.doc_id = p.doc_b
          WHERE ({matches}) / {float(num_hashes)} >= {min_est})"""
    return f"""
        WITH {_lsh_pairs_ctes(num_hashes, bands, max_bucket_size)},
        sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
        inter AS (
          SELECT p.doc_a, p.doc_b, count(*) AS n_common
          FROM {verified} p
          JOIN sh a ON a.doc_id = p.doc_a
          JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
          GROUP BY 1, 2)
        SELECT i.doc_a, i.doc_b,
               round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE n_common / (sa.set_size + sb.set_size - n_common) >= {threshold}
    """


def _incremental_dedup_oracle(
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int = 200,
    threshold: float = 0.2,
) -> str:
    """DuckDB replica of operators/dedup.py:dedup_against_corpus with
    the driver split (doc_id % 5 == 0 = incoming batch): the operator's
    contract is 'global LSH banding restricted to cross-side pairs', so
    the oracle reuses the exact global CTEs (`kept` buckets over new ∪
    corpus, same combined bucket cap) and only the pair join changes."""
    return f"""
        WITH {_lsh_pairs_ctes(num_hashes, bands, max_bucket_size)},
        xpairs AS (
          SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
          FROM kept n JOIN kept c ON n.bucket = c.bucket
          WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0),
        sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
        inter AS (
          SELECT p.new_doc, p.corpus_doc, count(*) AS n_common
          FROM xpairs p
          JOIN sh a ON a.doc_id = p.new_doc
          JOIN sh b ON b.doc_id = p.corpus_doc AND b.shingle = a.shingle
          GROUP BY 1, 2)
        SELECT i.new_doc, i.corpus_doc,
               round(n_common / (sn.set_size + sc.set_size - n_common), 6) AS jaccard
        FROM inter i
        JOIN sizes sn ON sn.doc_id = i.new_doc
        JOIN sizes sc ON sc.doc_id = i.corpus_doc
        WHERE n_common / (sn.set_size + sc.set_size - n_common) >= {threshold}
    """


_COSINE = """
    list_sum(list_transform(range(1, 65),
        i -> CAST({a}[CAST(i AS INT)] AS DOUBLE) * CAST({b}[CAST(i AS INT)] AS DOUBLE)))
"""


def _ann_lsh_oracle(
    n_planes: int = 8, dim: int = 64, max_hamming: int = 3, k: int = 10
) -> str:
    """DuckDB replica of operators/similarity.py:lsh_topk — hyperplane
    signatures from md5-int60 plane components (integers, exact in
    double), per-plane dot as a left-fold over dimensions (list_sum ==
    Spark's chained +), signature bits from dot > 0, Hamming prune,
    exact-cosine re-rank. The query vector is the vec_id=0 embedding, so
    its signature row doubles as qsig."""
    comp = (
        "CAST(("
        + _H60.format(x="CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)")
        + " % 2001 - 1000) AS DOUBLE)"
    )
    return f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        plane_comp AS (
          SELECT p, d, {comp} AS comp
          FROM range(0, {n_planes}) tp(p), range(0, {dim}) td(d)),
        planes AS (
          SELECT p, list(comp ORDER BY d) AS cl FROM plane_comp GROUP BY p),
        dots AS (
          SELECT e.vec_id, pl.p,
                 list_sum(list_transform(range(1, {dim + 1}),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * pl.cl[CAST(i AS INT)])) AS dot
          FROM embeddings e CROSS JOIN planes pl),
        sigs AS (
          SELECT vec_id,
                 CAST(sum(CASE WHEN dot > 0
                               THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
                      AS BIGINT) AS sig
          FROM dots GROUP BY vec_id),
        qsig AS (SELECT sig AS qs FROM sigs WHERE vec_id = 0)
        SELECT e.vec_id,
               round({_cos_expr('e.embedding', 'q.qe')}, 6) AS cosine
        FROM embeddings e, sigs s, q, qsig
        WHERE s.vec_id = e.vec_id
          AND bit_count(xor(s.sig, qsig.qs)) <= {max_hamming}
        ORDER BY cosine DESC, e.vec_id ASC
        LIMIT {k}
    """


def _cos_expr(a: str, b: str) -> str:
    dot = _COSINE.format(a=a, b=b)
    na = _COSINE.format(a=a, b=a)
    nb = _COSINE.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def _ann_ivf_kmeans_oracle(
    n_centroids: int = 8,
    n_iters: int = 2,
    n_probe: int = 3,
    k: int = 10,
    dim: int = 64,
    round_to: int = 6,
) -> str:
    """DuckDB replay of operators/similarity.py:kmeans_centroids +
    ivf_topk_trained: the SAME deterministic first-N init, the SAME
    Lloyd's iterations (argmax-cosine assignment with ties to the lower
    centroid id; elementwise means rounded to ``round_to`` decimals —
    the rounding is what makes the two engines' order-dependent double
    sums land on identical centroids), then probe + exact re-rank."""

    def _assign(cent: str, out: str) -> str:
        return f"""
        {out} AS (
          SELECT vec_id, embedding, cid FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cos_expr('e.embedding', 'c.cvec')} DESC,
                              c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN {cent} c) WHERE rn = 1)"""

    ctes = [
        f"""q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        cent0 AS (
          SELECT vec_id AS cid,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
          FROM embeddings WHERE vec_id < {n_centroids})"""
    ]
    for it in range(n_iters):
        ctes.append(_assign(f"cent{it}", f"asg{it + 1}"))
        ctes.append(f"""
        m{it + 1} AS (
          SELECT cid, i AS pos,
                 round(avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)),
                       {round_to}) AS m
          FROM asg{it + 1}, range(1, {dim + 1}) t(i) GROUP BY cid, i),
        nc{it + 1} AS (
          SELECT cid, list(m ORDER BY pos) AS cvec FROM m{it + 1} GROUP BY cid),
        cent{it + 1} AS (
          -- empty cells keep their previous centroid
          SELECT c.cid, COALESCE(n.cvec, c.cvec) AS cvec
          FROM cent{it} c LEFT JOIN nc{it + 1} n ON n.cid = c.cid)""")
    ctes.append(f"""
        probe AS (
          SELECT cid FROM cent{n_iters} c, q
          ORDER BY {_cos_expr('c.cvec', 'q.qe')} DESC, cid ASC LIMIT {n_probe})""")
    ctes.append(_assign(f"cent{n_iters}", "fin"))
    return f"""
        WITH {','.join(ctes)}
        SELECT f.vec_id, round({_cos_expr('f.embedding', 'q.qe')}, 6) AS cosine
        FROM fin f, q
        WHERE f.cid IN (SELECT cid FROM probe)
        ORDER BY cosine DESC, f.vec_id ASC LIMIT {k}
    """


def oracle_sql() -> dict[str, str]:
    lww = _LWW_ORACLE_CORE
    return {
        "cdc_lww_converged": f"""
            {lww}
            SELECT url, event_id AS last_event_id, event_type AS last_event_type,
                   round(value, 2) AS last_value
            FROM ranked WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_lww_agg": f"""
            {lww}
            SELECT url, event_id AS last_event_id, event_type AS last_event_type,
                   round(value, 2) AS last_value
            FROM ranked WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_ivm_event_type": f"""
            {lww}
            SELECT event_type,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS total_value
            FROM ranked WHERE rn = 1 AND op <> 'D'
            GROUP BY event_type
        """,
        "cdc_range_scan": f"""
            {lww}
            SELECT url, event_id AS last_event_id, round(value, 2) AS last_value
            FROM ranked
            WHERE rn = 1 AND op <> 'D'
              AND url >= 'https://site-1' AND url <= 'https://site-12/zzzz'
        """,
        "cdc_zorder_scan": f"""
            {lww}
            SELECT url, event_id AS last_event_id, round(value, 2) AS last_value
            FROM ranked
            WHERE rn = 1 AND op <> 'D'
              AND value >= 25.0 AND value <= 60.0
        """,
        "fanout_merge_state": f"""
            WITH changelog AS ({_CHANGELOG_SQL}),
            routed AS (
              SELECT *, CASE WHEN event_type IN ('click','view','purchase')
                             THEN event_type ELSE '_rest' END AS route
              FROM changelog),
            ranked AS (
              SELECT route, url, op, event_id,
                     row_number() OVER (PARTITION BY route, url
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM routed)
            SELECT route, count(*) AS n_keys, max(event_id) AS max_event_id
            FROM ranked WHERE rn = 1 AND op <> 'D' GROUP BY route
        """,
        "cdc_time_travel": f"""
            WITH changelog AS ({_CHANGELOG_SQL}),
            ranked AS (
              SELECT url, op, event_id, event_type, value,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM changelog WHERE event_id % 2 = 0
            )
            SELECT url, event_id AS last_event_id, event_type AS last_event_type,
                   round(value, 2) AS last_value
            FROM ranked WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_changes_between": f"""
            WITH changelog AS ({_CHANGELOG_SQL}),
            a_ranked AS (
              SELECT url, op, event_id,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM changelog WHERE event_id % 2 = 0
            ),
            a_live AS (SELECT url, event_id FROM a_ranked WHERE rn = 1 AND op <> 'D'),
            b_ranked AS (
              SELECT url, op, event_id,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM changelog
            ),
            -- the full-changelog winner INCLUDING deletes: the lake keeps
            -- the tombstone's version, and read_changes surfaces it as
            -- new_event_id on delete rows (b's events are a superset of
            -- a's, so every a-key has a b winner — LEFT JOIN suffices)
            b_win AS (SELECT url, op, event_id FROM b_ranked WHERE rn = 1)
            SELECT b.url AS url,
                   CASE WHEN a.url IS NULL THEN 'insert'
                        WHEN b.op = 'D' THEN 'delete'
                        ELSE 'update' END AS change_type,
                   b.event_id AS new_event_id,
                   a.event_id AS old_event_id
            FROM b_win b LEFT JOIN a_live a ON a.url = b.url
            WHERE (a.url IS NULL AND b.op <> 'D')
               OR (a.url IS NOT NULL AND (b.op = 'D' OR a.event_id <> b.event_id))
        """,
        "cdc_feed": f"""
            WITH changelog AS ({_CHANGELOG_SQL}),
            a_ranked AS (
              SELECT url, op, event_id,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM changelog WHERE event_id % 2 = 0
            ),
            a_live AS (SELECT url, event_id FROM a_ranked WHERE rn = 1 AND op <> 'D'),
            b_ranked AS (
              SELECT url, op, event_id,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM changelog
            ),
            b_win AS (SELECT url, op, event_id FROM b_ranked WHERE rn = 1)
            -- snapshot 1 = epoch 0's merge: everything live after the
            -- even-events prefix arrives as inserts (empty table before)
            SELECT url, 'insert' AS change_type, event_id AS new_event_id,
                   CAST(NULL AS BIGINT) AS old_event_id,
                   CAST(1 AS BIGINT) AS snapshot_id, CAST(0 AS BIGINT) AS epoch_id
            FROM a_live
            UNION ALL
            -- snapshot 2 = epoch 1's merge: the incremental diff, with
            -- deletes carrying their tombstone's version
            SELECT b.url AS url,
                   CASE WHEN a.url IS NULL THEN 'insert'
                        WHEN b.op = 'D' THEN 'delete'
                        ELSE 'update' END AS change_type,
                   b.event_id AS new_event_id,
                   a.event_id AS old_event_id,
                   CAST(2 AS BIGINT) AS snapshot_id, CAST(1 AS BIGINT) AS epoch_id
            FROM b_win b LEFT JOIN a_live a ON a.url = b.url
            WHERE (a.url IS NULL AND b.op <> 'D')
               OR (a.url IS NOT NULL AND (b.op = 'D' OR a.event_id <> b.event_id))
        """,
        "cdc_merge_state": f"""
            {lww}
            SELECT url, event_id AS last_event_id, event_type AS last_event_type,
                   round(value, 2) AS last_value
            FROM ranked WHERE rn = 1 AND op <> 'D'
        """,
        # MoR converged state must be write-path-independent: same oracle
        "cdc_mor_state": f"""
            {lww}
            SELECT url, event_id AS last_event_id, event_type AS last_event_type,
                   round(value, 2) AS last_value
            FROM ranked WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_tombstones": f"""
            {lww}
            SELECT url, event_id AS delete_event_id
            FROM ranked WHERE rn = 1 AND op = 'D'
        """,
        "cdc_reconcile_status": f"""
            WITH changelog AS ({_CHANGELOG_SQL}),
            conv_all AS (
              SELECT url, event_id FROM (
                SELECT url, op, event_id,
                       row_number() OVER (PARTITION BY url ORDER BY ts DESC, event_id DESC) rn
                FROM changelog) WHERE rn = 1 AND op <> 'D'
            ),
            conv_stored AS (
              SELECT url, event_id FROM (
                SELECT url, op, event_id,
                       row_number() OVER (PARTITION BY url ORDER BY ts DESC, event_id DESC) rn
                FROM changelog WHERE event_id % 10 < 7) WHERE rn = 1 AND op <> 'D'
            )
            SELECT status, count(*) AS n FROM (
              SELECT CASE WHEN e.url IS NULL THEN 'orphan'
                          WHEN s.url IS NULL THEN 'missing'
                          WHEN s.event_id <> e.event_id THEN 'divergent'
                          ELSE 'ok' END AS status
              FROM conv_stored s FULL OUTER JOIN conv_all e ON s.url = e.url
            ) GROUP BY status
        """,
        "cdc_resume_offsets": """
            SELECT CAST(event_id % 8 AS INT) AS source_partition,
                   max(event_id) AS max_offset, count(*) AS rows_seen
            FROM events GROUP BY 1
        """,
        "cdc_presence_probe": """
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
            FROM events GROUP BY user_id
        """,
        "cdc_point_lookup": """
            SELECT event_id, user_id, event_type, md5(event_type) AS type_hex
            FROM events WHERE event_id % 997 = 0
        """,
        "cdc_bloom_lookup": f"""
            {lww}
            SELECT url, event_id AS last_event_id, round(value, 2) AS last_value
            FROM ranked WHERE rn = 1 AND op <> 'D'
              AND url IN ({", ".join(f"'{u}'" for u in _BLOOM_PROBE_URLS)})
        """,
        "events_json_extract": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "events_sessionize": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts)))
                            OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                          OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS ns
              FROM events)
            SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions, count(*) AS n_events
            FROM g GROUP BY user_id
        """,
        "events_asof_join": """
            WITH x AS (
              SELECT event_id, user_id, event_type,
                     max(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_ts
              FROM events)
            SELECT event_id, user_id,
                   CAST(floor(epoch(asof_ts)) AS BIGINT) AS asof_view_epoch
            FROM x WHERE event_type = 'purchase'
        """,
        "topk_per_user": """
            SELECT user_id, CAST(rk AS INTEGER) AS rk, event_id, round(value, 2) AS value FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id) AS rk
              FROM events) WHERE rk <= 3
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_lineitems
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "rollup_sales": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "grouping_sets_sales": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """,
        "url_canonical_domains": """
            WITH m AS (
              SELECT (CASE WHEN event_id % 2 = 0 THEN 'HTTPS://Site-'
                           ELSE 'https://site-' END)
                     || CAST(user_id % 20 AS VARCHAR) || '.Example.COM'
                     || (CASE WHEN event_id % 3 = 0 THEN ':443' ELSE '' END)
                     || '/Path/p' || CAST(event_id % 97 AS VARCHAR)
                     || (CASE WHEN event_id % 5 = 0
                         THEN '#frag' || CAST(event_id % 7 AS VARCHAR)
                         ELSE '' END) AS u
              FROM events),
            c1 AS (SELECT regexp_replace(u, '#.*$', '') AS u FROM m),
            c2 AS (SELECT CASE
                     WHEN regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1) = ''
                       THEN u
                     ELSE lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1))
                          || regexp_replace(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', '')
                   END AS u FROM c1),
            c3 AS (SELECT CASE
                     WHEN regexp_extract(u, '^https://([^/:]*):443(/|$)', 1) <> ''
                       THEN 'https://' || regexp_extract(u, '^https://([^/:]*):443(/|$)', 1)
                            || regexp_replace(u, '^https://[^/:]*:443', '')
                     ELSE u END AS u FROM c2),
            c4 AS (SELECT CASE
                     WHEN regexp_extract(u, '^http://([^/:]*):80(/|$)', 1) <> ''
                       THEN 'http://' || regexp_extract(u, '^http://([^/:]*):80(/|$)', 1)
                            || regexp_replace(u, '^http://[^/:]*:80', '')
                     ELSE u END AS u FROM c3)
            SELECT regexp_extract(u, '^[a-z][a-z0-9+.-]*://([^/:]*)', 1) AS domain,
                   count(*) AS n, count(DISTINCT u) AS n_urls
            FROM c4 GROUP BY domain
        """,
        "distinct_users_per_type": """
            SELECT event_type, count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "event_value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.95), 4) AS p95,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "cube_sales": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   round(sum(l_extendedprice), 2) AS sum_price
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "events_running_30min": """
            SELECT event_id, user_id,
                   round(sum(value) OVER (
                     PARTITION BY user_id
                     ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                     RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW), 2)
                     AS run_sum_30m
            FROM events
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "parts_by_brand_broadcast": """
            SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_size >= 20 GROUP BY p_brand
        """,
        "doc_token_counts": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
                   CAST(length(text) AS INTEGER) AS n_chars_actual
            FROM documents
        """,
        "doc_quality": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
                   round(len(regexp_extract_all(text, '[.,;:!?]'))
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   round(len(regexp_extract_all(text, '[0-9]'))
                         / greatest(length(text), 1), 6) AS digit_ratio,
                   round(length(text)
                         / greatest(len(regexp_extract_all(text, '\S+')), 1), 6) AS mean_token_len,
                   CAST(len(regexp_extract_all(text, '\S+')) >= 5
                        AND len(regexp_extract_all(text, '[.,;:!?]'))
                            / greatest(length(text), 1) < 0.2
                        AND len(regexp_extract_all(text, '[0-9]'))
                            / greatest(length(text), 1) < 0.3 AS INT) AS passes_quality
            FROM documents
        """,
        "doc_lang_id": r"""
            WITH c AS (
              SELECT doc_id, lang,
                     len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|for)\b')) AS c_en,
                     len(regexp_extract_all(text, '(?i)\b(der|die|und|das|ist|nicht|mit|ein)\b')) AS c_de,
                     len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est|une|pour|dans)\b')) AS c_fr,
                     len(regexp_extract_all(text, '(?i)\b(el|los|las|es|una|por|para|con)\b')) AS c_es,
                     len(regexp_extract_all(text, '(的|是|了|在|和|不|有|我)')) AS c_zh
              FROM documents)
            SELECT doc_id, lang,
                   CASE
                     WHEN c_en >= greatest(c_de, c_fr, c_es, c_zh, 1) THEN 'en'
                     WHEN c_de >= greatest(c_fr, c_es, c_zh, 1) THEN 'de'
                     WHEN c_fr >= greatest(c_es, c_zh, 1) THEN 'fr'
                     WHEN c_es >= greatest(c_zh, 1) THEN 'es'
                     WHEN c_zh >= 1 THEN 'zh'
                     ELSE 'und' END AS lang_pred
            FROM c
        """,
        "doc_fingerprint": f"""
            WITH {_SHINGLES_CTE}
            SELECT d.doc_id, md5(d.text) AS md5_fp, m.shingle_fp
            FROM documents d JOIN (
              SELECT doc_id, min({_H60.format(x='shingle')}) AS shingle_fp
              FROM sh GROUP BY doc_id) m ON d.doc_id = m.doc_id
        """,
        "exact_dedup": """
            SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "ngram_jaccard": f"""
            WITH {_SHINGLES_CTE},
            sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
            ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
            sh2 AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN ok USING (shingle)),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM sh2 a JOIN sh2 b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_common / (sa.set_size + sb.set_size - n_common) >= 0.2
        """,
        "minhash_signatures": _minhash_oracle(8),
        "simhash": _simhash_oracle(16),
        "embedding_near_dups": f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({_cos_expr('a.embedding', 'b.embedding')}, 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {_cos_expr('a.embedding', 'b.embedding')} >= 0.2
        """,
        "ann_brute_topk": f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round({_cos_expr('embeddings.embedding', 'q.qe')}, 6) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "ann_ivf_topk": f"""
            WITH cent AS (
              SELECT vec_id AS centroid_id, embedding AS centroid
              FROM embeddings WHERE vec_id < 16),
            q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            probe AS (
              SELECT centroid_id FROM cent, q
              ORDER BY {_cos_expr('cent.centroid', 'q.qe')} DESC, centroid_id ASC
              LIMIT 4),
            scored AS (
              SELECT e.vec_id, e.embedding, c.centroid_id,
                     row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_cos_expr('e.embedding', 'c.centroid')} DESC,
                                c.centroid_id ASC) AS rn
              FROM embeddings e CROSS JOIN cent c)
            SELECT s.vec_id, round({_cos_expr('s.embedding', 'q.qe')}, 6) AS cosine
            FROM scored s, q
            WHERE s.rn = 1 AND s.centroid_id IN (SELECT centroid_id FROM probe)
            ORDER BY cosine DESC, s.vec_id ASC LIMIT 10
        """,
        "ann_ivf_kmeans_topk": _ann_ivf_kmeans_oracle(
            n_centroids=8, n_iters=2, n_probe=3, k=10
        ),
        "ann_lsh_topk": _ann_lsh_oracle(n_planes=8, dim=64, max_hamming=3, k=10),
        "events_windowed_rates": """
            SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_epoch,
                   event_type, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "clickers_minus_buyers": """
            SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
            FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
            FROM events WHERE event_type = 'purchase'
        """,
        "dispatch_fanout": """
            SELECT 'click' AS route, count(*) AS n FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT 'view', count(*) FROM events WHERE event_type = 'view'
            UNION ALL
            SELECT 'purchase', count(*) FROM events WHERE event_type = 'purchase'
            UNION ALL
            SELECT '_rest', count(*) FROM events
            WHERE event_type NOT IN ('click', 'view', 'purchase')
               OR event_type IS NULL
        """,
        # kafka_wire_roundtrip: the oracle is ONLY the derivation — the
        # Spark side additionally pushes the rows through the Kafka-wire
        # encode→decode, so a hash match proves the codec is the
        # identity (incl. base64 binary transit and null html on D).
        "kafka_wire_roundtrip": """
            SELECT 'https://site-' || CAST(user_id % 20 AS VARCHAR)
                     || '/p' || CAST(event_id % 211 AS VARCHAR) AS url,
                   CASE WHEN event_type = 'error' THEN 'D'
                        WHEN event_type IN ('click', 'view') THEN 'U'
                        ELSE 'I' END AS op,
                   CAST(floor(epoch(ts)) AS BIGINT) AS warc_epoch,
                   event_id AS event_seq,
                   CASE WHEN event_type <> 'error'
                        THEN '<p>' || event_type || ' '
                             || CAST(event_id AS VARCHAR) || '</p>'
                        END AS html_str,
                   'en' AS lang,
                   event_type AS payload,
                   CAST(event_id % 8 AS INTEGER) AS source_partition
            FROM events
        """,
        "hex_roundtrip": """
            SELECT event_id, upper(to_hex(event_id)) AS h,
                   CAST(('0x' || to_hex(event_id)) AS BIGINT) AS parsed
            FROM events
        """,
        # doc_b58_fingerprint intentionally omitted: the Base58Check
        # checksum is double-sha256 over raw bytes and DuckDB's sha256()
        # only accepts VARCHAR → rows-only; the kernel is pinned by
        # known-vector unit tests (tests/test_dispatch_and_encode.py).
        # The base58 conversion itself is oracled by doc_b58_plain:
        "doc_b58_plain": """
            WITH RECURSIVE src AS (SELECT doc_id, md5(text) AS h FROM documents),
            n0 AS (
              SELECT doc_id,
                     CAST(CAST(('0x' || substring(h, 1, 16)) AS UBIGINT) AS UHUGEINT)
                       * CAST(18446744073709551616 AS UHUGEINT)
                     + CAST(CAST(('0x' || substring(h, 17, 16)) AS UBIGINT) AS UHUGEINT)
                       AS n,
                     (length(h) - length(ltrim(h, '0'))) // 2 AS lead_zero_bytes
              FROM src),
            div(doc_id, n, digits) AS (
              SELECT doc_id, n, '' FROM n0
              UNION ALL
              SELECT doc_id, n // 58,
                     substring('123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz',
                               CAST(n % 58 AS INT) + 1, 1) || digits
              FROM div WHERE n > 0),
            best AS (
              SELECT doc_id, digits,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY length(digits) DESC) AS rn
              FROM div)
            SELECT b.doc_id,
                   repeat('1', CAST(n0.lead_zero_bytes AS INT)) || b.digits AS b58
            FROM best b JOIN n0 ON n0.doc_id = b.doc_id
            WHERE b.rn = 1
        """,
        "media_metadata": """
            SELECT doc_id, 'image/fake' AS media_type,
                   CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                   md5(text) AS content_hash
            FROM documents
        """,
        "media_resize": """
            SELECT doc_id, 8 AS width, 6 AS height,
                   CAST(least(octet_length(encode(text)), 8 * 6 * 3) AS INT)
                     AS n_bytes_out
            FROM documents
        """,
        "frame_sample": """
            SELECT doc_id, CAST(unnest(range(0, (octet_length(encode(text)) % 100) + 1, 10)) AS INT) AS frame_no
            FROM documents
        """,
        "minhash_lsh_candidates": _minhash_lsh_oracle(num_hashes=8, bands=4),
        "ngram_jaccard_lsh": _ngram_jaccard_lsh_oracle(
            num_hashes=8, bands=4, threshold=0.2
        ),
        "incremental_dedup": _incremental_dedup_oracle(
            num_hashes=8, bands=4, threshold=0.2
        ),
        "map_type_rollup": """
            WITH per AS (
              SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY user_id, event_type)
            SELECT user_id,
                   CAST(count(*) FILTER (WHERE n >= 3) AS INT) AS n_hot_types,
                   CAST(coalesce(max(CASE WHEN event_type = 'click' AND n >= 3
                                          THEN n END), 0) AS BIGINT) AS hot_clicks,
                   CAST(coalesce(sum(n) FILTER (WHERE n >= 3), 0) AS BIGINT)
                     AS hot_total,
                   CAST(sum(n) AS BIGINT) AS all_total
            FROM per GROUP BY user_id
        """,
        "outlinks_explode": """
            WITH ex AS (
              SELECT user_id,
                     unnest(list_transform(
                       range(1, CAST(event_id % 4 AS INT) + 1),
                       i -> {'href': 'https://out-'
                                      || CAST((event_id * 7 + i) % 50 AS VARCHAR),
                             'anchor': 'a' || CAST(i AS VARCHAR)})) AS l
              FROM events
            )
            SELECT struct_extract(l, 'href') AS href,
                   CAST(count(*) AS BIGINT) AS n_links,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_src_users,
                   CAST(count(DISTINCT struct_extract(l, 'anchor')) AS BIGINT)
                     AS n_anchors
            FROM ex GROUP BY struct_extract(l, 'href')
        """,
        # min-reachable-id fixpoint == connected component min: the
        # recursive CTE closes reachability over the symmetric LSH pair
        # graph, exactly the fixpoint the Spark label propagation finds
        "dup_clusters": f"""
            WITH RECURSIVE {_lsh_pairs_ctes(8, 4, 200)},
            edges AS (
              SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION
              SELECT doc_b AS u, doc_a AS v FROM pairs
            ),
            reach(node, lab) AS (
              SELECT u, u FROM edges
              UNION
              SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.lab
            ),
            cc AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node)
            SELECT d.doc_id,
                   CAST(coalesce(cc.comp, d.doc_id) AS BIGINT) AS cluster_id,
                   CAST(coalesce(cc.comp, d.doc_id) = d.doc_id AS INT)
                     AS is_canonical
            FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
        """,
        "doc_shard_assign": f"""
            SELECT doc_id, text, lang, source, n_chars,
                   {_H60.format(x="concat_ws(':', 'ep0', CAST(doc_id AS VARCHAR))")} % 8
                     AS shard,
                   CAST(row_number() OVER (
                     PARTITION BY {_H60.format(x="concat_ws(':', 'ep0', CAST(doc_id AS VARCHAR))")} % 8
                     ORDER BY {_H60.format(x="concat_ws(':', 'ep0:order', CAST(doc_id AS VARCHAR))")} ASC,
                              doc_id ASC) AS INT) AS pos
            FROM documents
        """,
        "doc_sample_frac": f"""
            SELECT doc_id, lang, source FROM documents
            WHERE {_H60.format(x="concat_ws(':', 'corpus', CAST(doc_id AS VARCHAR))")}
                  < {int(0.2 * float(1 << 60))}
        """,
        "doc_sample_stratified": f"""
            SELECT lang, doc_id, sample_rank FROM (
              SELECT lang, doc_id,
                     CAST(row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {_H60.format(x="concat_ws(':', 'corpus', CAST(doc_id AS VARCHAR))")} ASC,
                                doc_id ASC) AS INT) AS sample_rank
              FROM documents)
            WHERE sample_rank <= 25
        """,
        "corpus_curation": r"""
            WITH q AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER)
                       AS n_tokens
              FROM documents
              WHERE len(regexp_extract_all(text, '\S+')) >= 5
                AND len(regexp_extract_all(text, '[.,;:!?]'))
                    / greatest(length(text), 1) < 0.2
                AND len(regexp_extract_all(text, '[0-9]'))
                    / greatest(length(text), 1) < 0.3
            ),
            keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
            c AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|for)\b')) AS c_en,
                     len(regexp_extract_all(text, '(?i)\b(der|die|und|das|ist|nicht|mit|ein)\b')) AS c_de,
                     len(regexp_extract_all(text, '(?i)\b(le|la|les|et|est|une|pour|dans)\b')) AS c_fr,
                     len(regexp_extract_all(text, '(?i)\b(el|los|las|es|una|por|para|con)\b')) AS c_es,
                     len(regexp_extract_all(text, '(的|是|了|在|和|不|有|我)')) AS c_zh
              FROM documents),
            lang AS (
              SELECT doc_id,
                     CASE
                       WHEN c_en >= greatest(c_de, c_fr, c_es, c_zh, 1) THEN 'en'
                       WHEN c_de >= greatest(c_fr, c_es, c_zh, 1) THEN 'de'
                       WHEN c_fr >= greatest(c_es, c_zh, 1) THEN 'fr'
                       WHEN c_es >= greatest(c_zh, 1) THEN 'es'
                       WHEN c_zh >= 1 THEN 'zh'
                       ELSE 'und' END AS lang_pred
              FROM c)
            SELECT lang_pred, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
            FROM q JOIN keep USING (doc_id) JOIN lang USING (doc_id)
            GROUP BY lang_pred
        """,
        "doc_pack_chunks": r"""
            WITH toks AS (
              SELECT lang AS shard, doc_id,
                     CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
                       AS n_tokens
              FROM documents
            ),
            offs AS (
              SELECT shard, doc_id, n_tokens,
                     CAST(SUM(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id) - n_tokens
                       AS BIGINT) AS start_off
              FROM toks
            )
            SELECT shard, start_off // 512 AS chunk_id,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
                   MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
            FROM offs GROUP BY shard, chunk_id
        """,
        "doc_segment_dedup": f"""
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            segs AS (
              SELECT doc_id, CAST(t.i AS INTEGER) AS seg_idx,
                     array_to_string(
                       ws[CAST(t.i*10+1 AS BIGINT):CAST(t.i*10+10 AS BIGINT)],
                       ' ') AS seg
              FROM w, UNNEST(range(CAST(ceil(len(ws)/10.0) AS BIGINT))) AS t(i)
            ),
            occ AS (
              SELECT doc_id, seg_idx, seg,
                     {_H60.format(x='seg')} AS seg_hash,
                     doc_id*1000000 + seg_idx AS occ_key
              FROM segs),
            keep AS (SELECT seg_hash, min(occ_key) AS keep_key
                     FROM occ GROUP BY seg_hash)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_segs,
                   CAST(count(*) - sum(CASE WHEN occ_key = keep_key
                                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dropped,
                   coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
                              FILTER (WHERE occ_key = keep_key), '')
                     AS cleaned_text
            FROM occ JOIN keep USING (seg_hash)
            GROUP BY doc_id
        """,
        "doc_decontaminate": f"""
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            grams AS (
              SELECT DISTINCT doc_id,
                {_H60.format(x="array_to_string(ws[CAST(t.i AS BIGINT):CAST(t.i+7 AS BIGINT)], ' ')")}
                  AS gram_hash
              FROM w, UNNEST(range(1, len(ws) - 6)) AS t(i)
            ),
            bench AS (SELECT DISTINCT gram_hash FROM grams
                      WHERE doc_id % 37 = 0),
            hits AS (
              SELECT g.doc_id, count(DISTINCT g.gram_hash) AS n_hits
              FROM grams g JOIN bench b USING (gram_hash)
              WHERE g.doc_id % 37 != 0
              GROUP BY g.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(coalesce(h.n_hits, 0) > 0 AS INT) AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 37 != 0
        """,
        "doc_repetition_stats": r"""
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents),
            base AS (SELECT doc_id, len(ws) AS n_words,
                            len(list_distinct(ws)) AS n_distinct
                     FROM w),
            bg AS (
              SELECT doc_id,
                     ws[CAST(t.i AS BIGINT)] || ' ' ||
                       ws[CAST(t.i+1 AS BIGINT)] AS bigram
              FROM w, UNNEST(range(1, len(ws))) AS t(i)
            ),
            top AS (SELECT doc_id, max(cnt) AS top_n FROM (
                      SELECT doc_id, bigram, count(*) AS cnt
                      FROM bg GROUP BY 1, 2) GROUP BY doc_id),
            j AS (
              SELECT b.doc_id,
                     CAST(b.n_words AS BIGINT) AS n_words,
                     round((b.n_words - b.n_distinct)
                           / greatest(b.n_words, 1), 6) AS dup_word_frac,
                     CAST(coalesce(t.top_n, 0) AS BIGINT) AS top_bigram_n,
                     round(coalesce(t.top_n, 0)
                           / greatest(b.n_words - 1, 1), 6) AS top_bigram_frac
              FROM base b LEFT JOIN top t USING (doc_id))
            SELECT *, CAST(dup_word_frac > 0.5
                           OR top_bigram_frac > 0.18 AS INT) AS flagged
            FROM j
        """,
        "doc_pii_scrub": f"""
            WITH s AS (
              SELECT doc_id,
                text ||
                CASE WHEN doc_id % 3 != 2
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com' ELSE '' END ||
                CASE WHEN doc_id % 2 = 0
                     THEN ' call +1 555 0'
                          || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || ' 9012' ELSE '' END ||
                CASE WHEN doc_id % 5 != 0
                     THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.77' ELSE '' END
                AS synth
              FROM documents),
            r AS (SELECT doc_id, synth,
                         regexp_replace(synth, '{_PII_EMAIL}', '<EMAIL>', 'g')
                           AS after_email
                  FROM s),
            r2 AS (SELECT *,
                          regexp_replace(after_email, '{_PII_PHONE}',
                                         '<PHONE>', 'g') AS after_phone
                   FROM r)
            SELECT doc_id,
              CAST(len(regexp_extract_all(synth, '{_PII_EMAIL}')) AS BIGINT)
                AS n_email,
              CAST(len(regexp_extract_all(after_email, '{_PII_PHONE}'))
                AS BIGINT) AS n_phone,
              CAST(len(regexp_extract_all(after_phone, '{_PII_IPV4}'))
                AS BIGINT) AS n_ip,
              regexp_replace(after_phone, '{_PII_IPV4}', '<IP>', 'g')
                AS scrubbed
            FROM r2
        """,
        # tokenization twin of operators/search.TOKEN_SPLIT_PATTERN —
        # a bare character class, identical semantics in RE2 and Java
        "doc_keyword_search": """
            WITH cand AS (
              SELECT doc_id, lower(text) AS lt FROM documents
              WHERE contains(lower(text), 'merge')
                AND contains(lower(text), 'spark')
                AND contains(lower(text), 'window')),
            tok0 AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lt, '[^a-z0-9]+')) AS token
              FROM cand)
            SELECT doc_id,
                   count(DISTINCT token) AS n_terms_matched,
                   count(*) AS tf_sum
            FROM tok0
            WHERE token IN ('merge', 'spark', 'window')
            GROUP BY doc_id
            HAVING count(DISTINCT token) = 3
        """,
        "doc_term_stats": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+'))
                       AS token
              FROM documents)
            SELECT token, count(DISTINCT doc_id) AS df, count(*) AS cf
            FROM tok WHERE token <> ''
            GROUP BY token HAVING count(DISTINCT doc_id) >= 5
        """,
        # BM25: same tokenizer as doc_keyword_search; all float inputs
        # are exact integers and the expression tree (association,
        # operand order, one terminal round) mirrors bm25_rank exactly —
        # the numeric literals (0.5, 1.0, 1.2, 2.2, 0.75) all convert to
        # the identical doubles Spark's lit() ships
        "doc_bm25": """
            WITH c AS (
              SELECT CAST(count(*) AS DOUBLE) AS n,
                     CAST(sum(len(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> ''))) AS DOUBLE) AS tot
              FROM documents),
            d0 AS (SELECT CAST(count(*) AS DOUBLE) AS df0 FROM documents
                   WHERE contains(lower(text), 'merge')
                     AND list_contains(regexp_split_to_array(lower(text),
                         '[^a-z0-9]+'), 'merge')),
            d1 AS (SELECT CAST(count(*) AS DOUBLE) AS df1 FROM documents
                   WHERE contains(lower(text), 'spark')
                     AND list_contains(regexp_split_to_array(lower(text),
                         '[^a-z0-9]+'), 'spark')),
            d2 AS (SELECT CAST(count(*) AS DOUBLE) AS df2 FROM documents
                   WHERE contains(lower(text), 'window')
                     AND list_contains(regexp_split_to_array(lower(text),
                         '[^a-z0-9]+'), 'window')),
            cand AS (
              SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(lower(text),
                  '[^a-z0-9]+'), x -> x <> '')) AS DOUBLE) AS dl,
                CAST(len(list_filter(regexp_split_to_array(lower(text),
                  '[^a-z0-9]+'), x -> x = 'merge')) AS DOUBLE) AS tf0,
                CAST(len(list_filter(regexp_split_to_array(lower(text),
                  '[^a-z0-9]+'), x -> x = 'spark')) AS DOUBLE) AS tf1,
                CAST(len(list_filter(regexp_split_to_array(lower(text),
                  '[^a-z0-9]+'), x -> x = 'window')) AS DOUBLE) AS tf2
              FROM documents
              WHERE contains(lower(text), 'merge')
                AND contains(lower(text), 'spark')
                AND contains(lower(text), 'window'))
            SELECT doc_id,
              round(
                ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0)
                  * (tf0 * 2.2)
                  / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (tot / n))))
                + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0)
                  * (tf1 * 2.2)
                  / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (tot / n))))
                + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0)
                  * (tf2 * 2.2)
                  / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (tot / n))))
              , 6) AS bm25
            FROM cand, c, d0, d1, d2
            WHERE tf0 > 0 AND tf1 > 0 AND tf2 > 0
        """,
        # int8 scalar quantization re-derived per row IN SQL (round() =
        # HALF-AWAY in both engines); dot and squared norms are exact
        # integers, so the one float normalization step is hash-exact
        "ann_int8_topk": """
            WITH p AS (
              SELECT embedding AS qe,
                     list_aggregate(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE))), 'max') AS qma
              FROM embeddings WHERE vec_id = 0),
            q8 AS (
              SELECT list_transform(qe, x -> CASE WHEN qma = 0
                       THEN CAST(0 AS BIGINT)
                       ELSE CAST(round(CAST(x AS DOUBLE) * 127.0 / qma)
                                 AS BIGINT) END) AS q8v
              FROM p),
            d AS (
              SELECT vec_id, embedding,
                     list_aggregate(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE))), 'max') AS ma
              FROM embeddings),
            d8 AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CASE WHEN ma = 0
                       THEN CAST(0 AS BIGINT)
                       ELSE CAST(round(CAST(x AS DOUBLE) * 127.0 / ma)
                                 AS BIGINT) END) AS d8v
              FROM d),
            scored AS (
              SELECT vec_id,
                     CAST(list_sum(list_transform(range(1, len(d8v) + 1),
                       i -> d8v[CAST(i AS INT)] * q8v[CAST(i AS INT)]))
                       AS BIGINT) AS qdot,
                     CAST(list_sum(list_transform(d8v, x -> x * x))
                       AS BIGINT) AS dn2,
                     CAST(list_sum(list_transform(q8v, x -> x * x))
                       AS BIGINT) AS qn2
              FROM d8, q8)
            SELECT vec_id, qdot,
                   CASE WHEN dn2 = 0 OR qn2 = 0 THEN -2.0
                        ELSE round(CAST(qdot AS DOUBLE)
                                   / sqrt(CAST(dn2 AS DOUBLE)
                                          * CAST(qn2 AS DOUBLE)), 6)
                   END AS qcosine
            FROM scored
            ORDER BY qcosine DESC, vec_id
            LIMIT 10
        """,
        # the INDEXED operators compute the same values from postings
        # rows instead of the raw text, so their oracles are the same
        # direct-form SQL the scan operators use — equality proves the
        # index path changes the ACCESS PATH, never the answer
        "doc_bm25_indexed": """
            WITH c AS (
              SELECT CAST(count(*) AS DOUBLE) AS n,
                     CAST(sum(len(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> ''))) AS DOUBLE) AS tot
              FROM documents),
            d0 AS (SELECT CAST(count(*) AS DOUBLE) AS df0 FROM documents
                   WHERE list_contains(regexp_split_to_array(lower(text),
                         '[^a-z0-9]+'), 'scan')),
            d1 AS (SELECT CAST(count(*) AS DOUBLE) AS df1 FROM documents
                   WHERE list_contains(regexp_split_to_array(lower(text),
                         '[^a-z0-9]+'), 'filter')),
            cand AS (
              SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(lower(text),
                  '[^a-z0-9]+'), x -> x <> '')) AS DOUBLE) AS dl,
                CAST(len(list_filter(regexp_split_to_array(lower(text),
                  '[^a-z0-9]+'), x -> x = 'scan')) AS DOUBLE) AS tf0,
                CAST(len(list_filter(regexp_split_to_array(lower(text),
                  '[^a-z0-9]+'), x -> x = 'filter')) AS DOUBLE) AS tf1
              FROM documents
              WHERE contains(lower(text), 'scan')
                AND contains(lower(text), 'filter'))
            SELECT doc_id,
              round(
                ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0)
                  * (tf0 * 2.2)
                  / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (tot / n))))
                + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0)
                  * (tf1 * 2.2)
                  / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * (dl / (tot / n))))
              , 6) AS bm25
            FROM cand, c, d0, d1
            WHERE tf0 > 0 AND tf1 > 0
        """,
        "doc_keyword_indexed": """
            WITH tok0 AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text),
                            '[^a-z0-9]+')) AS token
              FROM documents)
            SELECT doc_id,
                   count(DISTINCT token) AS n_terms_matched,
                   count(*) AS tf_sum
            FROM tok0
            WHERE token IN ('batch', 'join')
            GROUP BY doc_id
            HAVING count(DISTINCT token) = 2
        """,
        # incremental index == scratch recompute over the FINAL corpus:
        # epoch 1 inserted the even half, epoch 2 inserted the odd half
        # and deleted every doc_id % 10 == 0, so the surviving corpus is
        # exactly documents WHERE doc_id % 10 <> 0
        "doc_postings_incremental": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text),
                            '[^a-z0-9]+')) AS token
              FROM documents WHERE doc_id % 10 <> 0)
            SELECT token, count(DISTINCT doc_id) AS df, count(*) AS cf
            FROM tok WHERE token <> ''
            GROUP BY token HAVING count(DISTINCT doc_id) >= 5
        """,
        # KMV bottom-k sketch: hash = the md5-int60 trick; the estimator
        # is one double division + round, deterministic IEEE-754 in both
        # engines, so est_distinct hash-matches exactly. NULL keys are
        # excluded on BOTH engines (COUNT DISTINCT semantics; also the
        # engines disagree on NULL sort position — Spark first, DuckDB
        # last — so an unfiltered NULL would hash-diverge, ADVICE r4).
        "kmv_distinct_users": """
            WITH h AS (
              SELECT DISTINCT
                CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                     AS BIGINT) AS h
              FROM events
              WHERE user_id IS NOT NULL),
            bottom AS (SELECT h FROM h ORDER BY h LIMIT 512),
            agg AS (SELECT count(*) AS k_used, max(h) AS kth_min_hash
                    FROM bottom)
            SELECT k_used, kth_min_hash,
                   CASE WHEN k_used < 512 THEN k_used
                        ELSE CAST(round((CAST(k_used AS DOUBLE) - 1)
                                        * 1152921504606846976.0
                                        / CAST(kth_min_hash AS DOUBLE))
                                  AS BIGINT)
                   END AS est_distinct
            FROM agg
        """,
        # rollback + replay must land on the same converged state as a
        # clean end-to-end run: the FULL-changelog LWW oracle (identical
        # to cdc_merge_state's — write-path/reorg independence of the
        # converged state is exactly the contract under test)
        "cdc_rollback_replay": f"""
            {lww}
            SELECT url, event_id AS last_event_id, event_type AS last_event_type,
                   round(value, 2) AS last_value
            FROM ranked WHERE rn = 1 AND op <> 'D'
        """,
        # the WAP audit diff is read_changes(parent, staged) — the same
        # two-state diff cdc_changes_between pins, because a staged merge
        # must produce byte-identical changes to an unstaged one
        "cdc_wap_publish": f"""
            WITH changelog AS ({_CHANGELOG_SQL}),
            a_ranked AS (
              SELECT url, op, event_id,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM changelog WHERE event_id % 2 = 0
            ),
            a_live AS (SELECT url, event_id FROM a_ranked WHERE rn = 1 AND op <> 'D'),
            b_ranked AS (
              SELECT url, op, event_id,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM changelog
            ),
            b_win AS (SELECT url, op, event_id FROM b_ranked WHERE rn = 1)
            SELECT b.url AS url,
                   CASE WHEN a.url IS NULL THEN 'insert'
                        WHEN b.op = 'D' THEN 'delete'
                        ELSE 'update' END AS change_type,
                   b.event_id AS new_event_id,
                   a.event_id AS old_event_id
            FROM b_win b LEFT JOIN a_live a ON a.url = b.url
            WHERE (a.url IS NULL AND b.op <> 'D')
               OR (a.url IS NOT NULL AND (b.op = 'D' OR a.event_id <> b.event_id))
        """,
        # exact-phrase adjacency over the shared tokenizer: DuckDB's
        # parallel unnest zips (token, position) exactly like Spark's
        # posexplode over the same filtered split
        "doc_phrase_search": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(lower(text),
                       '[^a-z0-9]+'), x -> x <> '')) AS token,
                     unnest(range(len(list_filter(regexp_split_to_array(
                       lower(text), '[^a-z0-9]+'), x -> x <> '')))) AS pos
              FROM documents
              WHERE contains(lower(text), 'value')
                AND contains(lower(text), 'table')
            )
            SELECT a.doc_id AS doc_id, count(*) AS n_occurrences
            FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            WHERE a.token = 'value' AND b.token = 'table'
            GROUP BY a.doc_id
        """,
    }
