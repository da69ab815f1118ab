"""Merge-on-read delta path: write_mode="mor" appends per-bucket delta
file groups instead of rewriting touched buckets; readers resolve
base ⊕ deltas by (version_order…, seq); compaction folds deltas back.

The governing invariant everywhere: a MoR table's RESOLVED state is
byte-identical to the state a CoW table reaches from the same
changelog — before compaction, after compaction, after vacuum,
after rebucket, through point lookups and CDC reads.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web3research_etl_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("event_seq", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _table(spark, d, name="t", n_buckets=4):
    return LakeTable.create(
        spark,
        os.path.join(d, name),
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


def _delta_groups(t):
    return [fg for fg in t.current_snapshot()["file_groups"] if fg.get("delta")]


# deterministic multi-epoch changelog: inserts, in-place updates,
# out-of-order stragglers, deletes, delete-then-reinsert, re-delivery
EPOCHS = [
    [("I", f"u{i}", 100 + i, i, f"a{i}") for i in range(20)],
    [("U", f"u{i}", 300 + i, 100 + i, f"b{i}") for i in range(0, 20, 2)]
    + [("D", "u1", 500, 200, None), ("D", "u3", 500, 201, None)],
    # stale straggler for u0 (loses), resurrection of u1 (wins), exact
    # re-delivery of u4's epoch-2 update (content-identical tie)
    [("U", "u0", 50, 0, "stale"), ("I", "u1", 900, 300, "reborn"),
     ("U", "u4", 304, 104, "b4")],
]


def _apply_all(t, spark, mode):
    for i, rows in enumerate(EPOCHS):
        t.merge_changelog(_batch(spark, rows), epoch_id=i + 1, write_mode=mode)


def _live_state(t):
    return {tuple(r) for r in t.read().select("url", "warc_ts", "event_seq", "v").collect()}


def _full_state(t):
    return {
        tuple(r)
        for r in t.read(include_deleted=True)
        .select("url", "warc_ts", "event_seq", "v", "_deleted")
        .collect()
    }


def test_mor_matches_cow_state(spark, tmp_table_dir):
    cow = _table(spark, tmp_table_dir, "cow")
    mor = _table(spark, tmp_table_dir, "mor")
    _apply_all(cow, spark, "cow")
    _apply_all(mor, spark, "mor")
    assert _delta_groups(mor), "mor path must produce delta file groups"
    assert not _delta_groups(cow)
    assert _full_state(mor) == _full_state(cow)
    assert mor.state_hash() == cow.state_hash()
    # sanity on the actual values: stale straggler lost, u1 resurrected
    live = {r[0]: r[3] for r in _live_state(mor)}
    assert live["u0"] == "b0" and live["u1"] == "reborn"
    assert "u3" not in live


def test_mor_delta_overrides_base_without_reading_it(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    t.merge_changelog(_batch(spark, [("I", "a", 100, 1, "a1")]), epoch_id=1, write_mode="cow")
    t.merge_changelog(
        _batch(spark, [("U", "a", 200, 2, "a2"), ("U", "a", 50, 0, "stale")]),
        epoch_id=2,
        write_mode="mor",
    )
    rows = t.read().collect()
    assert [(r["url"], r["v"]) for r in rows] == [("a", "a2")]
    # the stale batch row must lose INSIDE the delta (batch-level LWW),
    # and the base row loses at resolve time
    assert len(_delta_groups(t)) >= 1


def test_mor_tombstone_suppresses_base_row(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    t.merge_changelog(_batch(spark, [("I", "a", 100, 1, "a1"), ("I", "b", 100, 2, "b1")]),
                      epoch_id=1, write_mode="cow")
    t.merge_changelog(_batch(spark, [("D", "a", 200, 3, None)]), epoch_id=2, write_mode="mor")
    assert {r["url"] for r in t.read().collect()} == {"b"}
    # tombstone visible with include_deleted, carrying its version
    dead = t.read(include_deleted=True).filter(F.col("_deleted")).collect()
    assert [(r["url"], r["event_seq"]) for r in dead] == [("a", 3)]


def test_mor_epoch_idempotency(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    r1 = t.merge_changelog(_batch(spark, [("I", "a", 100, 1, "a1")]), epoch_id=1, write_mode="mor")
    assert not r1["skipped"]
    r2 = t.merge_changelog(_batch(spark, [("I", "a", 999, 9, "ghost")]), epoch_id=1, write_mode="mor")
    assert r2["skipped"]
    assert [(r["url"], r["v"]) for r in t.read().collect()] == [("a", "a1")]


def test_compaction_folds_deltas(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    _apply_all(t, spark, "mor")
    before_live = _live_state(t)
    before_full = _full_state(t)
    h = t.state_hash()
    res = t.rewrite_small_files()
    assert not res["skipped"]
    assert _delta_groups(t) == [], "compaction must fold every delta group"
    assert _live_state(t) == before_live
    assert _full_state(t) == before_full
    assert t.state_hash() == h
    # post-compaction, further mor epochs stack fresh deltas on the new base
    t.merge_changelog(_batch(spark, [("U", "u0", 1000, 400, "c0")]), epoch_id=10, write_mode="mor")
    assert {r["v"] for r in t.read().filter(F.col("url") == "u0").collect()} == {"c0"}


def test_mor_point_lookup_and_blooms(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    _apply_all(t, spark, "mor")
    t.build_blooms()  # raw per-file keys — must not resolve deltas
    got = {(r["url"], r["v"]) for r in t.read_for_keys(["u0", "u1", "u3"]).collect()}
    assert got == {("u0", "b0"), ("u1", "reborn")}  # u3 deleted
    # deleted key surfaces with include_deleted
    got_d = {r["url"] for r in t.read_for_keys(["u3"], include_deleted=True).collect()}
    assert got_d == {"u3"}


def test_mor_read_changes_classification(spark, tmp_table_dir):
    cow = _table(spark, tmp_table_dir, "cow")
    mor = _table(spark, tmp_table_dir, "mor")
    _apply_all(cow, spark, "cow")
    _apply_all(mor, spark, "mor")

    def chg(t):
        sids = t.snapshot_ids()
        df = t.read_changes(sids[1], sids[-1])  # across epochs 2..3
        return {
            (r["url"], r["change_type"], r["new_event_seq"])
            for r in df.collect()
        }

    assert chg(mor) == chg(cow)


def test_mor_time_travel_resolves_per_snapshot(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    t.merge_changelog(_batch(spark, [("I", "a", 100, 1, "a1")]), epoch_id=1, write_mode="mor")
    s1 = t.current_snapshot()["snapshot_id"]
    t.merge_changelog(_batch(spark, [("U", "a", 200, 2, "a2")]), epoch_id=2, write_mode="mor")
    assert [r["v"] for r in t.read(s1).collect()] == ["a1"]
    assert [r["v"] for r in t.read().collect()] == ["a2"]


def test_mor_vacuum_and_rebucket_preserve_state(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    _apply_all(t, spark, "mor")
    live = _live_state(t)
    t.vacuum_tombstones(older_than_ts="2100-01-01")  # all tombstones old enough
    assert _live_state(t) == live
    assert t.read(include_deleted=True).filter(F.col("_deleted")).count() == 0
    t2 = _table(spark, tmp_table_dir, "t2", n_buckets=4)
    _apply_all(t2, spark, "mor")
    h = t2.state_hash()
    t2.rebucket(8)
    assert t2.state_hash() == h
    assert _delta_groups(t2) == []


def test_mor_force_replace_rejected(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    with pytest.raises(ValueError, match="force_replace"):
        t.merge_changelog(
            _batch(spark, [("I", "a", 100, 1, "a1")]),
            epoch_id=1, write_mode="mor", force_replace=True,
        )


def test_cow_merge_folds_existing_deltas_for_touched_buckets(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir, n_buckets=1)  # one bucket → always touched
    t.merge_changelog(_batch(spark, [("I", "a", 100, 1, "a1"), ("I", "b", 100, 2, "b1")]),
                      epoch_id=1, write_mode="mor")
    t.merge_changelog(_batch(spark, [("U", "a", 200, 3, "a2")]), epoch_id=2, write_mode="mor")
    assert _delta_groups(t)
    t.merge_changelog(_batch(spark, [("U", "b", 300, 4, "b2")]), epoch_id=3, write_mode="cow")
    assert _delta_groups(t) == [], "CoW rewrite of a touched bucket must fold its deltas"
    assert {(r["url"], r["v"]) for r in t.read().collect()} == {("a", "a2"), ("b", "b2")}


def test_mor_schema_evolution_across_deltas(spark, tmp_table_dir):
    t = _table(spark, tmp_table_dir)
    t.merge_changelog(_batch(spark, [("I", "a", 100, 1, "a1")]), epoch_id=1, write_mode="mor")
    t.alter([{"change": "add", "name": "lang", "type": "string"}])
    b2 = _batch(spark, [("U", "a", 200, 2, "a2"), ("I", "c", 200, 3, "c1")]).withColumn(
        "lang", F.lit("en")
    )
    t.merge_changelog(b2, epoch_id=2, write_mode="mor")
    rows = {(r["url"], r["v"], r["lang"]) for r in t.read().collect()}
    assert rows == {("a", "a2", "en"), ("c", "c1", "en")}
    # pre-alter delta files align through the field-id map (null lang)
    t.alter([{"change": "rename", "name": "page_url", "renamed_from": "url"}])
    rows2 = {(r["page_url"], r["lang"]) for r in t.read().collect()}
    assert rows2 == {("a", "en"), ("c", "en")}


def test_mor_streaming_sync_with_auto_compaction(spark, tmp_table_dir):
    """End-to-end: run_sync(write_mode='mor', maintain_every=2) over a
    file changelog equals a CoW run of the same source, and the
    in-stream compaction actually folds deltas along the way."""
    from web3research_etl_spark.changelog import generate_changelog
    from web3research_etl_spark.streaming.pipeline import run_sync
    from web3research_etl_spark.registry import default_registry
    from web3research_etl_spark.schemas import PAGES_KEY, PAGES_SCHEMA, PAGES_VERSION_ORDER

    src = os.path.join(tmp_table_dir, "src")
    generate_changelog(spark, 4000, seed=7).repartition(6).write.mode(
        "overwrite"
    ).parquet(src)
    reg = default_registry(spark)

    results = {}
    for mode in ("cow", "mor"):
        tdir = os.path.join(tmp_table_dir, f"sync_{mode}")
        table = LakeTable.create(
            spark, tdir, PAGES_SCHEMA, key=PAGES_KEY,
            version_order=PAGES_VERSION_ORDER, n_buckets=4,
        )
        q = run_sync(
            spark, src, table,
            checkpoint_dir=os.path.join(tmp_table_dir, f"ckpt_{mode}"),
            registry=reg,
            available_now=True,
            max_files_per_trigger=2,
            write_mode=mode,
            maintain_every=2 if mode == "mor" else None,
        )
        q.awaitTermination()
        results[mode] = table.state_hash()
    assert results["mor"] == results["cow"]


def test_compaction_min_groups_amortizes(spark, tmp_table_dir):
    """min_groups raises the per-bucket fold threshold: a bucket two
    generations deep is left alone at min_groups=4 (the MoR
    amortization knob) and folded once it crosses the threshold."""
    t = _table(spark, tmp_table_dir, n_buckets=1)
    t.merge_changelog(_batch(spark, [("I", "a", 100, 1, "a1")]), epoch_id=1, write_mode="mor")
    t.merge_changelog(_batch(spark, [("U", "a", 200, 2, "a2")]), epoch_id=2, write_mode="mor")
    res = t.rewrite_small_files(target_min_files_per_bucket=3, min_groups=4)
    assert res["skipped"], "2 generations must not fold at min_groups=4"
    assert _delta_groups(t)
    t.merge_changelog(_batch(spark, [("U", "a", 300, 3, "a3")]), epoch_id=3, write_mode="mor")
    t.merge_changelog(_batch(spark, [("U", "a", 400, 4, "a4")]), epoch_id=4, write_mode="mor")
    res = t.rewrite_small_files(target_min_files_per_bucket=3, min_groups=4)
    assert not res["skipped"]
    assert _delta_groups(t) == []
    assert [(r["url"], r["v"]) for r in t.read().collect()] == [("a", "a4")]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="min_groups"):
        t.rewrite_small_files(min_groups=1)


def test_compacted_mor_read_plan_is_shuffle_free(spark, tmp_table_dir):
    """The MoR read price is paid ONLY while deltas are outstanding: a
    read over delta'd buckets needs the resolve shuffle (Exchange in the
    plan), and after compaction the read is a plain whole-stage-codegen
    parquet scan with NO Exchange — a fully-maintained MoR table reads
    exactly like a CoW table."""
    t = _table(spark, tmp_table_dir)
    _apply_all(t, spark, "mor")
    plan_delta = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan_delta
    t.rewrite_small_files()
    plan_base = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_base
    assert "WholeStageCodegen" in plan_base or "*(1)" in plan_base


def test_heal_repairs_mor_table(spark, tmp_table_dir):
    """reconcile + heal over a table with outstanding delta groups:
    reconcile reads the RESOLVED state, and heal's force_replace merge
    (CoW-only by contract) folds the touched buckets' deltas while
    repairing — stored state converges to the changelog-implied state
    even when the damage sits under a delta generation."""
    from web3research_etl_spark.changelog import generate_changelog
    from web3research_etl_spark.operators.reconcile import (
        expected_state,
        heal,
        reconcile,
    )
    from web3research_etl_spark.schemas import PAGES_KEY, PAGES_SCHEMA, PAGES_VERSION_ORDER

    ch = generate_changelog(spark, 1500).cache()
    try:
        t = LakeTable.create(
            spark, os.path.join(tmp_table_dir, "heal_mor"), PAGES_SCHEMA,
            key=PAGES_KEY, version_order=PAGES_VERSION_ORDER, n_buckets=4,
        )
        for i in range(3):
            t.merge_changelog(
                ch.filter(F.pmod(F.col("event_seq"), F.lit(3)) == i)
                .withColumn("op", F.col("op")),
                epoch_id=i, write_mode="mor",
            )
        assert _delta_groups(t)
        # corrupt: drop two stored keys via a bogus high-version delete
        # (collected to literals first — feeding the table's own resolved
        # read back into a merge is the recursive-lineage antipattern)
        victims = t.read().select("url", "warc_ts", "event_seq").limit(2).collect()
        bogus = spark.createDataFrame(
            [("D", r["url"], r["warc_ts"], r["event_seq"] + 10**6, None, None)
             for r in victims],
            "op string, url string, warc_ts timestamp, event_seq long, "
            "html binary, lang string",
        )
        t.merge_changelog(bogus, epoch_id=50, write_mode="mor")
        victims = [r["url"] for r in victims]
        rep = reconcile(t.read(), expected_state(ch))
        assert rep.filter(F.col("status") != "ok").count() >= 2
        heal(t, ch, epoch_id=99)
        rep2 = reconcile(t.read(), expected_state(ch))
        assert rep2.filter(F.col("status") != "ok").count() == 0
    finally:
        ch.unpersist()
