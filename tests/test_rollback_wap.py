"""Snapshot rollback + write-audit-publish (WAP) staging.

Rollback is the snapshot-granularity reorg path (the reference's
delete-then-reinsert reorg, src/ch_eth/sync.rs:100-115, undoes KEYS;
rollback_to undoes EPOCHS): it must restore both the data state and
the idempotence ledger so replaying the undone changelog reconverges
bit-for-bit. WAP is Iceberg's wap.id staging: a merge lands invisibly,
gets audited, then fast-forwards into the published chain — the audit
gate composing with (not weakening) exactly-once.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web3research_etl_spark.lake.table import CommitConflictError, LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("event_seq", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _table(spark, d, n_buckets=4):
    return LakeTable.create(
        spark,
        os.path.join(d, "t"),
        SCHEMA,
        key=["url"],
        version_order=["warc_ts", "event_seq"],
        n_buckets=n_buckets,
    )


def _batch(spark, rows):
    df = spark.createDataFrame(
        [(op, u, ts, seq, v) for (op, u, ts, seq, v) in rows],
        "op string, url string, ts_s long, event_seq long, v string",
    )
    return df.select(
        "op",
        "url",
        F.timestamp_seconds("ts_s").alias("warc_ts"),
        "event_seq",
        "v",
    )


EPOCHS = {
    1: [("I", "a", 100, 1, "a1"), ("I", "b", 100, 2, "b1")],
    2: [("U", "a", 200, 3, "a2"), ("I", "c", 200, 4, "c1")],
    3: [("D", "b", 300, 5, None), ("U", "c", 300, 6, "c2")],
    4: [("I", "d", 400, 7, "d1"), ("U", "a", 400, 8, "a3")],
}


def _apply(t, spark, epochs, ids=None):
    for e in epochs:
        t.merge_changelog(_batch(spark, EPOCHS[e]), epoch_id=e if ids is None else ids[e])


def test_rollback_restores_state_and_reopens_epochs(spark, tmp_table_dir):
    _check_rollback(spark, f"{tmp_table_dir}/a", {1: 1, 2: 2, 3: 3, 4: 4}, [1, 2], [3, 4])
    # reopened epochs sort numerically, not as strings ([1, 10, 2])
    _check_rollback(spark, f"{tmp_table_dir}/b", {1: 0, 2: 1, 3: 2, 4: 10}, [1], [1, 2, 10])


def _check_rollback(spark, d, ids, kept, reopened):
    """Apply EPOCHS under epoch ``ids``, roll back to after ``kept``."""
    undone = [e for e in EPOCHS if e not in kept]
    t = _table(spark, d)
    _apply(t, spark, kept, ids)
    s2 = t.current_snapshot()["snapshot_id"]
    h2 = t.state_hash()
    _apply(t, spark, undone, ids)
    head = t.current_snapshot()["snapshot_id"]
    h4 = t.state_hash()
    assert h4 != h2

    res = t.rollback_to(s2)
    assert res["skipped"] is False
    assert res["rolled_back_to"] == s2
    assert res["reopened_epochs"] == reopened
    assert t.state_hash() == h2
    # history is append-only: the undone head still time-travels
    assert t.state_hash(head) == h4

    # the idempotence ledger rewound WITH the data: already-applied
    # epochs still skip, the undone ones re-apply and reconverge
    r = t.merge_changelog(_batch(spark, EPOCHS[kept[-1]]), epoch_id=ids[kept[-1]])
    assert r["skipped"] is True
    _apply(t, spark, undone, ids)
    assert t.state_hash() == h4


def test_rollback_emits_inverse_cdc(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1, 2])
    s2 = t.current_snapshot()["snapshot_id"]
    _apply(t, spark, [3, 4])
    head = t.current_snapshot()["snapshot_id"]
    rb = t.rollback_to(s2)["snapshot_id"]

    forward = {
        (r["url"], r["change_type"])
        for r in t.read_changes(s2, head).collect()
    }
    inverse = {
        (r["url"], r["change_type"])
        for r in t.read_changes(head, rb).collect()
    }
    flip = {"insert": "delete", "delete": "insert", "update": "update"}
    assert inverse == {(u, flip[c]) for (u, c) in forward}


def test_rollback_to_current_is_noop_and_staged_target_rejected(
    spark, tmp_table_dir
):
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1])
    cur = t.current_snapshot()["snapshot_id"]
    assert t.rollback_to(cur)["skipped"] is True

    t.merge_changelog(_batch(spark, EPOCHS[2]), epoch_id=2, stage_wap_id="w")
    sid = t.staged_snapshots()[0]["snapshot_id"]
    with pytest.raises(ValueError, match="staged"):
        t.rollback_to(sid)


def test_rollback_after_schema_evolution_keeps_live_schema(
    spark, tmp_table_dir
):
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1])
    s1 = t.current_snapshot()["snapshot_id"]
    t.alter([{"change": "add", "name": "lang", "type": "string"}])
    t.merge_changelog(
        _batch(spark, EPOCHS[2]).withColumn("lang", F.lit("en")), epoch_id=2
    )
    t.rollback_to(s1)
    # Iceberg semantics: the snapshot moved, the schema did not — the
    # restored (pre-alter) files null-fill the added column
    rows = {(r["url"], r["v"], r["lang"]) for r in t.read().collect()}
    assert rows == {("a", "a1", None), ("b", "b1", None)}


def test_wap_stage_audit_publish(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1])
    pre_hash = t.state_hash()
    pre_head = t.current_snapshot()["snapshot_id"]

    r = t.merge_changelog(
        _batch(spark, EPOCHS[2]), epoch_id=2, stage_wap_id="w2"
    )
    staged_id = r["snapshot_id"]
    # invisible until publish: reads, head, and the epoch ledger all
    # still see the pre-stage state
    assert t.state_hash() == pre_hash
    assert t.current_snapshot()["snapshot_id"] == pre_head
    assert 2 not in t.committed_epochs()
    assert t.staged_snapshots() == [
        {"snapshot_id": staged_id, "wap_id": "w2", "parent": pre_head}
    ]

    # audit surface: the post-publish table and the exact diff
    staged_rows = {
        (r["url"], r["v"]) for r in t.read_staged("w2").collect()
    }
    assert staged_rows == {("a", "a2"), ("b", "b1"), ("c", "c1")}
    audit = {
        (r["url"], r["change_type"]) for r in t.audit_staged("w2").collect()
    }
    assert audit == {("a", "update"), ("c", "insert")}

    pub = t.publish_staged("w2")
    assert pub["already_published"] is False
    assert {(r["url"], r["v"]) for r in t.read().collect()} == staged_rows
    assert 2 in t.committed_epochs()
    # retried publish is the idempotent no-op
    assert t.publish_staged("w2")["already_published"] is True
    # and the epoch marker now guards a replay of the same batch
    assert t.merge_changelog(_batch(spark, EPOCHS[2]), epoch_id=2)["skipped"]


def test_wap_publish_conflicts_when_head_moves(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1])
    t.merge_changelog(_batch(spark, EPOCHS[2]), epoch_id=2, stage_wap_id="w")
    staged_id = t.staged_snapshots()[0]["snapshot_id"]

    # a normal commit lands while the audit is pending: it must claim
    # ABOVE the staged id (OCC re-claim), and publish must then refuse
    _apply(t, spark, [3])
    assert t.current_snapshot()["snapshot_id"] > staged_id
    with pytest.raises(CommitConflictError, match="head moved"):
        t.publish_staged("w")

    # abandon: manifest gone, files orphan, published state untouched
    h = t.state_hash()
    res = t.abandon_staged("w")
    assert res["orphaned_files"] > 0
    assert t.staged_snapshots() == []
    gc = t.remove_orphan_files(grace_seconds=0.0)
    assert gc["data_files_removed"] >= res["orphaned_files"]
    assert t.state_hash() == h
    with pytest.raises(KeyError):
        t.publish_staged("w")


def test_wap_epoch_binds_at_publish_not_stage(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1])
    t.merge_changelog(_batch(spark, EPOCHS[2]), epoch_id=2, stage_wap_id="w")
    # the same epoch arriving through the normal path is NOT skipped —
    # staging never committed it
    r = t.merge_changelog(_batch(spark, EPOCHS[2]), epoch_id=2)
    assert r["skipped"] is False
    # now the staged copy is redundant: publish resolves to a no-op
    # through the ledger instead of double-applying
    assert t.publish_staged("w")["already_published"] is True


def test_wap_publishes_epochless_staged_merge_on_table_with_history(
    spark, tmp_table_dir
):
    """A staged merge without an epoch marker adds no epoch, so its
    idempotence check must not read the parent's cumulative epochs as
    its own — that reported already_published and dropped the batch."""
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1, 2])
    t.merge_changelog(_batch(spark, EPOCHS[3]), stage_wap_id="no-epoch")
    staged_rows = {(r["url"], r["v"]) for r in t.read_staged("no-epoch").collect()}
    pub = t.publish_staged("no-epoch")
    assert pub["already_published"] is False
    assert {(r["url"], r["v"]) for r in t.read().collect()} == staged_rows
    assert staged_rows == {("a", "a2"), ("c", "c2")}


def test_wap_staged_mor_merge(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1])
    t.merge_changelog(
        _batch(spark, EPOCHS[2]),
        epoch_id=2,
        stage_wap_id="m",
        write_mode="mor",
    )
    assert {(r["url"], r["v"]) for r in t.read_staged("m").collect()} == {
        ("a", "a2"),
        ("b", "b1"),
        ("c", "c1"),
    }
    t.publish_staged("m")
    assert {(r["url"], r["v"]) for r in t.read().collect()} == {
        ("a", "a2"),
        ("b", "b1"),
        ("c", "c1"),
    }


def test_expired_staged_snapshot_fails_publish_cleanly(spark, tmp_table_dir):
    """A staged snapshot left unpublished past snapshot retention is
    expired like any other history; a later publish must fail with the
    clear not-found error (and the published chain is untouched)."""
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1])
    t.merge_changelog(_batch(spark, EPOCHS[2]), epoch_id=2, stage_wap_id="stale")
    # bury the staged snapshot under newer published history, then expire
    _apply(t, spark, [3, 4])
    h = t.state_hash()
    t.expire_snapshots(retain_last=2)
    with pytest.raises(KeyError, match="stale"):
        t.publish_staged("stale")
    assert t.state_hash() == h


def test_rollback_over_mor_deltas(spark, tmp_table_dir):
    """Rollback restores a snapshot whose file groups include MoR delta
    generations: the resolved read after rollback equals the original
    resolved state at that snapshot (seq-based LWW tie-break intact)."""
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1])
    t.merge_changelog(_batch(spark, EPOCHS[2]), epoch_id=2, write_mode="mor")
    s2 = t.current_snapshot()["snapshot_id"]
    h2 = t.state_hash()
    t.merge_changelog(_batch(spark, EPOCHS[3]), epoch_id=3, write_mode="mor")
    t.merge_changelog(_batch(spark, EPOCHS[4]), epoch_id=4)
    assert t.state_hash() != h2
    t.rollback_to(s2)
    assert t.state_hash() == h2
    # replay through mixed write modes reconverges
    t.merge_changelog(_batch(spark, EPOCHS[3]), epoch_id=3, write_mode="mor")
    t.merge_changelog(_batch(spark, EPOCHS[4]), epoch_id=4)
    assert {(r["url"], r["v"]) for r in t.read().collect()} == {
        ("a", "a3"), ("c", "c2"), ("d", "d1"),
    }


def test_rollback_search_index_self_heals(spark, tmp_table_dir):
    """A derived index whose base ROLLED BACK must converge to the
    restored corpus: the fold sees the rollback commit as an ordinary
    newer snapshot and read_changes hands it the inverse span."""
    from pyspark.sql import types as T

    from web3research_etl_spark.operators.search_ivm import (
        create_search_index,
        index_postings_df,
        sync_search_index,
    )
    from web3research_etl_spark.operators.search import indexed_postings

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ver", T.LongType()),
        ]
    )
    base = LakeTable.create(
        spark, f"{tmp_table_dir}/docs", schema,
        key=["doc_id"], version_order=["ver"], n_buckets=4,
    )

    def ep(rows, e, v):
        df = spark.createDataFrame(
            rows, "op string, doc_id long, text string"
        ).withColumn("ver", F.lit(v).cast("long"))
        base.merge_changelog(df, epoch_id=e)

    idx = create_search_index(spark, f"{tmp_table_dir}/idx", "doc_id", "bigint")
    ep([("U", 1, "alpha beta"), ("U", 2, "beta gamma")], 1, 1)
    s1 = base.current_snapshot()["snapshot_id"]
    sync_search_index(idx, base)
    ep([("U", 1, "delta only"), ("D", 2, None), ("U", 3, "epsilon")], 2, 2)
    sync_search_index(idx, base)

    base.rollback_to(s1)
    sync_search_index(idx, base)  # folds the INVERSE span
    got = sorted(
        (r.token, r.doc_id, r.tf) for r in index_postings_df(idx).collect()
    )
    want = sorted(
        (r.token, r.doc_id, r.tf)
        for r in indexed_postings(base.read().select("doc_id", "text")).collect()
    )
    assert got == want and got


def test_commit_record_describes_only_its_own_commit(spark, tmp_table_dir):
    """``summary`` is cumulative state; ``commit`` is one commit's record
    and is never carried into a child: a compaction holds no earlier
    merge's timings, rollback or publish provenance."""
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1])
    s1 = t.current_snapshot()["snapshot_id"]
    t.merge_changelog(_batch(spark, EPOCHS[2]), epoch_id=2, write_mode="mor")
    s2 = t.current_snapshot()["snapshot_id"]
    t.rollback_to(s1)
    _apply(t, spark, [3])
    staged_id = t.merge_changelog(
        _batch(spark, EPOCHS[4]), stage_wap_id="w", write_mode="mor"
    )["snapshot_id"]
    t.publish_staged("w")
    assert t.rewrite_small_files()["skipped"] is False

    snaps = [t.snapshot(i) for i in t.snapshot_ids()]
    published = [s for s in snaps if "staged" not in s]
    assert [s["operation"] for s in published] == [
        "create", "merge", "merge-delta", "rollback", "merge", "merge-delta", "compact",
    ]
    assert [t.added_epochs(s) for s in published] == [[], [1], [2], [], [3], [], []]
    rollback, publish = published[3], published[5]
    assert rollback["commit"] == {
        "epochs": [], "rolled_back_to": s1, "rolled_back_from": s2,
    }
    assert publish["commit"]["published_from_wap"] == {
        "wap_id": "w", "staged_snapshot_id": staged_id,
    }
    for s in snaps:
        rec = s["commit"]
        assert ("merge_timings" in rec) == s["operation"].startswith("merge")
        assert ("published_from_wap" in rec) == (s is publish)
        assert ("rolled_back_to" in rec) == (s is rollback)
        assert set(s["summary"]) == {"committed_epochs"}
    assert published[-1]["summary"]["committed_epochs"] == [1, 3]


def test_published_epochless_wap_is_no_longer_listed_and_retries_clean(
    spark, tmp_table_dir
):
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1, 2])
    t.merge_changelog(_batch(spark, EPOCHS[3]), stage_wap_id="w")
    assert t.publish_staged("w")["already_published"] is False
    assert t.staged_snapshots() == []
    head = t.current_snapshot()["snapshot_id"]
    assert t.publish_staged("w") == {"already_published": True, "snapshot_id": head}
    assert t.current_snapshot()["snapshot_id"] == head


def test_expiry_retains_published_history_past_pending_stages(spark, tmp_table_dir):
    """retain_last counts published snapshots only; a pending stage is
    kept while the snapshot it was staged on is kept."""
    t = _table(spark, tmp_table_dir)
    _apply(t, spark, [1, 2])
    t.merge_changelog(_batch(spark, EPOCHS[3]), epoch_id=3, stage_wap_id="a")
    t.merge_changelog(_batch(spark, EPOCHS[4]), epoch_id=4, stage_wap_id="b")
    t.expire_snapshots(retain_last=2)
    kept = [t.snapshot(i) for i in t.snapshot_ids()]
    assert len([s for s in kept if "staged" not in s]) == 2
    assert [s["wap_id"] for s in t.staged_snapshots()] == ["a", "b"]
    assert t.publish_staged("a")["already_published"] is False
    assert 3 in t.committed_epochs()
