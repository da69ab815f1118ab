"""Materialized CDC feed: per-snapshot diffs published once, tailed by
a Structured Streaming consumer, crash-idempotent republish."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from web3research_etl_spark.lake.cdc_feed import (
    apply_feed,
    feed_schema,
    publish_changes,
    stream_feed,
)
from web3research_etl_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("event_seq", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _table(spark, d):
    return LakeTable.create(
        spark,
        os.path.join(d, "t"),
        SCHEMA,
        key=["url"],
        version_order=["warc_ts", "event_seq"],
        n_buckets=4,
    )


def _batch(spark, rows):
    df = spark.createDataFrame(
        rows, "op string, url string, ts_s long, event_seq long, v string"
    )
    return df.select(
        "op", "url", F.timestamp_seconds("ts_s").alias("warc_ts"), "event_seq", "v"
    )


def test_publish_and_stream_feed(spark, tmp_path):
    t = _table(spark, tmp_path)
    feed = f"{tmp_path}/feed"
    r1 = t.merge_changelog(
        _batch(spark, [("I", "a", 100, 1, "a1"), ("I", "b", 100, 2, "b1")]), epoch_id=7
    )
    r2 = t.merge_changelog(
        _batch(spark, [("U", "a", 200, 3, "a2"), ("D", "b", 200, 4, None)]), epoch_id=8
    )

    rep = publish_changes(t, feed)
    assert rep["published"] == [r1["snapshot_id"], r2["snapshot_id"]]
    assert rep["through"] == t.current_snapshot()["snapshot_id"]

    # epoch provenance travels with every change row
    rows = spark.read.schema(feed_schema(t)).parquet(f"{feed}/s*").collect()
    by = {(r["snapshot_id"], r["url"]): r for r in rows}
    assert by[(r1["snapshot_id"], "a")]["change_type"] == "insert"
    assert by[(r1["snapshot_id"], "a")]["epoch_id"] == 7
    assert by[(r2["snapshot_id"], "a")]["change_type"] == "update"
    assert by[(r2["snapshot_id"], "b")]["change_type"] == "delete"
    assert by[(r2["snapshot_id"], "b")]["epoch_id"] == 8

    # streaming consumer: tail the feed like a topic
    q = (
        stream_feed(spark, t, feed)
        .writeStream.format("memory")
        .queryName("feed_tail")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["snapshot_id"], r["url"], r["change_type"])
        for r in spark.sql("SELECT * FROM feed_tail").collect()
    }
    assert got == {
        (r1["snapshot_id"], "a", "insert"),
        (r1["snapshot_id"], "b", "insert"),
        (r2["snapshot_id"], "a", "update"),
        (r2["snapshot_id"], "b", "delete"),
    }

    # incremental: a later epoch publishes ONLY its own snapshot
    r3 = t.merge_changelog(_batch(spark, [("I", "c", 300, 5, "c1")]), epoch_id=9)
    rep2 = publish_changes(t, feed)
    assert rep2["published"] == [r3["snapshot_id"]]

    # re-publish with no new snapshots is a no-op
    assert publish_changes(t, feed)["published"] == []


def test_publish_crash_idempotent_and_skips_metadata_snapshots(spark, tmp_path):
    t = _table(spark, tmp_path)
    feed = f"{tmp_path}/feed"
    t.merge_changelog(_batch(spark, [("I", "a", 100, 1, "a1")]), epoch_id=0)
    publish_changes(t, feed)
    before = {
        (r["snapshot_id"], r["url"], r["change_type"])
        for r in spark.read.schema(feed_schema(t)).parquet(f"{feed}/s*").collect()
    }

    # simulate a publisher crash before the state bump: forget state,
    # republish — overwrite lands the same rows, no duplicates on disk
    os.remove(f"{feed}/_feed_state.json")
    publish_changes(t, feed)
    after = {
        (r["snapshot_id"], r["url"], r["change_type"])
        for r in spark.read.schema(feed_schema(t)).parquet(f"{feed}/s*").collect()
    }
    assert after == before

    # schema evolution commits a snapshot but rewrites no data files —
    # the feed must stay silent for it
    t.alter([{"change": "add", "name": "extra", "type": "string"}])
    rep = publish_changes(t, feed)
    assert rep["published"] == []
    assert rep["through"] == t.current_snapshot()["snapshot_id"]


def test_feed_skips_staged_wap_snapshots(spark, tmp_path):
    """A write-audit-publish snapshot still staged is off the published
    chain: the feed must not publish it (an abandoned stage would leave
    rows a mirror has but the source never got), and publishing the
    stage puts its diff in the feed exactly once."""
    t = _table(spark, tmp_path)
    feed = f"{tmp_path}/feed"
    r1 = t.merge_changelog(
        _batch(spark, [("I", "a", 100, 1, "a1"), ("I", "b", 100, 2, "b1")]), epoch_id=1
    )["snapshot_id"]
    publish_changes(t, feed)
    epoch2 = [("U", "a", 200, 3, "a2"), ("I", "c", 200, 4, "c1")]

    staged = t.merge_changelog(_batch(spark, epoch2), epoch_id=2, stage_wap_id="w2")
    assert publish_changes(t, feed)["published"] == []
    t.abandon_staged("w2")
    assert not os.path.exists(f"{feed}/s{staged['snapshot_id']:08d}")

    t.merge_changelog(_batch(spark, epoch2), epoch_id=2, stage_wap_id="w2b")
    assert publish_changes(t, feed)["published"] == []
    pub = t.publish_staged("w2b")["snapshot_id"]
    assert publish_changes(t, feed)["published"] == [pub]
    rows = spark.read.schema(feed_schema(t)).parquet(f"{feed}/s*").collect()
    assert sorted((r["snapshot_id"], r["url"], r["change_type"]) for r in rows) == [
        (r1, "a", "insert"),
        (r1, "b", "insert"),
        (pub, "a", "update"),
        (pub, "c", "insert"),
    ]


def test_payload_feed_replicates_to_mirror(spark, tmp_path):
    """The full replication loop: source merges (inserts, updates, a
    delete, a stale update, a post-delete re-insert) → payload feed →
    apply_feed into a mirror table per snapshot → mirror live state
    content-hash EQUALS the source's. Deletes order correctly because
    the feed carries the tombstone's version."""
    import glob

    src = _table(spark, f"{tmp_path}/src")
    feed = f"{tmp_path}/feed"
    src.merge_changelog(
        _batch(spark, [("I", "a", 100, 1, "a1"), ("I", "b", 100, 2, "b1")]), epoch_id=0
    )
    src.merge_changelog(
        _batch(
            spark,
            [
                ("U", "a", 200, 3, "a2"),
                ("D", "b", 200, 4, None),
                ("U", "a", 50, 0, "stale"),  # loses LWW: must not surface
            ],
        ),
        epoch_id=1,
    )
    src.merge_changelog(
        _batch(spark, [("I", "b", 300, 5, "b-back"), ("I", "c", 300, 6, "c1")]),
        epoch_id=2,
    )
    publish_changes(src, feed, payloads=True)

    mirror = LakeTable.create(
        spark, f"{tmp_path}/mirror", SCHEMA, key=["url"],
        version_order=["warc_ts", "event_seq"], n_buckets=4,
    )
    schema = feed_schema(src, payloads=True)
    batch_dirs = sorted(glob.glob(f"{feed}/s*"))
    assert len(batch_dirs) == 3
    for i, sdir in enumerate(batch_dirs):
        apply_feed(mirror, spark.read.schema(schema).parquet(sdir), epoch_id=i)
    assert mirror.state_hash() == src.state_hash()
    got = {(r["url"], r["v"]) for r in mirror.read().collect()}
    assert got == {("a", "a2"), ("b", "b-back"), ("c", "c1")}

    # feed redelivery is a no-op under the mirror's epoch markers
    h = mirror.state_hash()
    r = apply_feed(mirror, spark.read.schema(schema).parquet(batch_dirs[-1]), epoch_id=2)
    assert r.get("skipped") and mirror.state_hash() == h


def test_run_sync_publishes_feed_and_mirror_converges(spark, tmp_path):
    """Pipeline-level CDC production: run_sync(feed_dir=...) publishes
    each epoch's diff right after its merge commits; a mirror table
    replicated purely from the payload feed converges to the live
    table's content hash."""
    import glob

    from web3research_etl_spark.changelog import write_changelog_dir
    from web3research_etl_spark.schemas import (
        PAGES_KEY,
        PAGES_SCHEMA,
        PAGES_VERSION_ORDER,
    )
    from web3research_etl_spark.streaming.pipeline import run_sync

    write_changelog_dir(spark, f"{tmp_path}/ch", 2000, files_per_batch=4)
    t = LakeTable.create(
        spark, f"{tmp_path}/pages", PAGES_SCHEMA, key=PAGES_KEY,
        version_order=PAGES_VERSION_ORDER, n_buckets=8,
    )
    q = run_sync(
        spark,
        f"{tmp_path}/ch",
        t,
        f"{tmp_path}/ckpt",
        available_now=True,
        max_files_per_trigger=2,  # force multiple epochs
        feed_dir=f"{tmp_path}/feed",
        feed_payloads=True,
    )
    q.awaitTermination(300)

    batch_dirs = sorted(glob.glob(f"{tmp_path}/feed/s*"))
    assert len(batch_dirs) >= 2  # one per epoch's merge snapshot

    mirror = LakeTable.create(
        spark, f"{tmp_path}/mirror", PAGES_SCHEMA, key=PAGES_KEY,
        version_order=PAGES_VERSION_ORDER, n_buckets=8,
    )
    schema = feed_schema(t, payloads=True)
    for i, sdir in enumerate(batch_dirs):
        apply_feed(mirror, spark.read.schema(schema).parquet(sdir), epoch_id=i)
    assert mirror.state_hash() == t.state_hash()


def test_feed_bridges_expired_history_gap(spark, tmp_path):
    """expire_snapshots removes the parent manifest a pending diff needs;
    the publisher must BRIDGE (full-state publish: live rows as inserts,
    tombstones as deletes) instead of wedging on FileNotFoundError
    (ADVICE r02 medium). A mirror replicated from the bridged feed still
    converges to the source's content hash."""
    import glob

    src = _table(spark, f"{tmp_path}/src")
    feed = f"{tmp_path}/feed"
    src.merge_changelog(
        _batch(spark, [("I", "a", 100, 1, "a1"), ("I", "b", 100, 2, "b1")]), epoch_id=0
    )
    src.merge_changelog(
        _batch(spark, [("U", "a", 200, 3, "a2"), ("D", "b", 200, 4, None)]), epoch_id=1
    )
    src.merge_changelog(_batch(spark, [("I", "c", 300, 5, "c1")]), epoch_id=2)
    # history walks away before the feed ever published
    src.expire_snapshots(retain_last=2)

    rep = publish_changes(src, feed, payloads=True)
    assert rep["gap_bridged"] == [min(src.snapshot_ids())]
    assert rep["through"] == src.current_snapshot()["snapshot_id"]

    mirror = LakeTable.create(
        spark, f"{tmp_path}/mirror", SCHEMA, key=["url"],
        version_order=["warc_ts", "event_seq"], n_buckets=4,
    )
    schema = feed_schema(src, payloads=True, out_dir=feed)
    for i, sdir in enumerate(sorted(glob.glob(f"{feed}/s*"))):
        apply_feed(mirror, spark.read.schema(schema).parquet(sdir), epoch_id=i)
    assert mirror.state_hash() == src.state_hash()
    # the bridge carried b's tombstone: b must NOT be resurrected
    assert mirror.read().filter(F.col("url") == "b").count() == 0
    # and the stream is not wedged: a later epoch publishes normally
    src.merge_changelog(_batch(spark, [("I", "d", 400, 7, "d1")]), epoch_id=3)
    rep2 = publish_changes(src, feed, payloads=True)
    assert rep2["gap_bridged"] == [] and len(rep2["published"]) == 1


def test_feed_pinned_schema_survives_rename(spark, tmp_path):
    """The feed's schema is pinned at first publish: a table rename after
    that maps new diffs onto the pinned names, so one schema reads BOTH
    eras of feed files with no silent nulls (ADVICE r02 low)."""
    t = _table(spark, tmp_path)
    feed = f"{tmp_path}/feed"
    t.merge_changelog(_batch(spark, [("I", "a", 100, 1, "a1")]), epoch_id=0)
    publish_changes(t, feed, payloads=True)

    t.alter([{"change": "rename", "name": "seq_no", "renamed_from": "event_seq"}])
    post = spark.createDataFrame(
        [("U", "a", 200, 2, "a2")], "op string, url string, ts_s long, seq_no long, v string"
    ).select("op", "url", F.timestamp_seconds("ts_s").alias("warc_ts"), "seq_no", "v")
    t.merge_changelog(post, epoch_id=1)
    publish_changes(t, feed, payloads=True)

    pinned = feed_schema(t, payloads=True, out_dir=feed)
    assert "new_event_seq" in pinned.fieldNames()  # pre-rename names pinned
    rows = spark.read.schema(pinned).parquet(f"{feed}/s*").collect()
    assert len(rows) == 2
    # no silent nulls: every change row's new-side version survived
    assert all(r["new_event_seq"] is not None for r in rows)
    assert {r["change_type"] for r in rows} == {"insert", "update"}


def test_expire_feed_retention_and_consumer_resume(spark, tmp_path):
    """maintain --expire-feed prunes feed dirs older than the table's
    oldest retained snapshot; a tailing consumer whose checkpoint is past
    the pruned dirs keeps consuming new publishes."""
    from web3research_etl_spark.lake.cdc_feed import expire_feed

    t = _table(spark, tmp_path)
    feed = f"{tmp_path}/feed"
    for i, (url, seq) in enumerate([("a", 1), ("b", 2), ("c", 3)]):
        t.merge_changelog(_batch(spark, [("I", url, 100 * (i + 1), seq, url)]), epoch_id=i)
    publish_changes(t, feed)

    # consumer drains everything, checkpointed (file sink: supports resume)
    ckpt = f"{tmp_path}/consumer_ckpt"
    sink = f"{tmp_path}/consumer_sink"
    q = (
        stream_feed(spark, t, feed)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 3

    t.expire_snapshots(retain_last=1)
    rep = expire_feed(t, feed)
    floor = min(t.snapshot_ids())
    assert rep["floor"] == floor and all(s < floor for s in rep["removed"])
    assert len(rep["removed"]) == 2

    # new epoch publishes; the resumed consumer sees ONLY it, no errors
    t.merge_changelog(_batch(spark, [("I", "d", 400, 9, "d1")]), epoch_id=9)
    publish_changes(t, feed)
    q2 = (
        stream_feed(spark, t, feed)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    got = {r["url"] for r in spark.read.parquet(sink).collect()}
    assert got == {"a", "b", "c", "d"}  # old rows in sink + only 'd' new


def test_feed_over_mor_source_replicates_correctly(spark, tmp_path):
    """A source written merge-on-read must publish the SAME feed
    semantics as a CoW source: per-snapshot diffs are computed through
    the resolved base⊕delta read (a delta tombstone diffs as a delete,
    a delta update as an update), a mid-stream compaction publishes
    nothing (metadata-equivalent rewrite), and a mirror replaying the
    feed content-hash-equals the MoR source."""
    import glob

    src = _table(spark, f"{tmp_path}/src_mor")
    feed = f"{tmp_path}/feed_mor"
    src.merge_changelog(
        _batch(spark, [("I", "a", 100, 1, "a1"), ("I", "b", 100, 2, "b1")]),
        epoch_id=0, write_mode="mor",
    )
    src.merge_changelog(
        _batch(spark, [("U", "a", 200, 3, "a2"), ("D", "b", 200, 4, None)]),
        epoch_id=1, write_mode="mor",
    )
    src.rewrite_small_files()  # fold deltas mid-history
    src.merge_changelog(
        _batch(spark, [("I", "b", 300, 5, "b-back")]), epoch_id=2, write_mode="mor"
    )
    publish_changes(src, feed, payloads=True)

    batch_dirs = sorted(glob.glob(f"{feed}/s*"))
    # 3 data snapshots publish; the compaction snapshot must not
    assert len(batch_dirs) == 3

    mirror = LakeTable.create(
        spark, f"{tmp_path}/mirror_mor", SCHEMA, key=["url"],
        version_order=["warc_ts", "event_seq"], n_buckets=4,
    )
    schema = feed_schema(src, payloads=True)
    for i, sdir in enumerate(batch_dirs):
        apply_feed(mirror, spark.read.schema(schema).parquet(sdir), epoch_id=i)
    assert mirror.state_hash() == src.state_hash()
    got = {(r["url"], r["v"]) for r in mirror.read().collect()}
    assert got == {("a", "a2"), ("b", "b-back")}
