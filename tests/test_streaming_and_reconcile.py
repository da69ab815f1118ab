"""Streaming tail + reconcile/heal end-to-end (reference `sync`/`check`).
"""

import pytest
from pyspark.sql import functions as F

from web3research_etl_spark.changelog import generate_changelog
from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.operators.apply import apply_changelog_batch
from web3research_etl_spark.operators.reconcile import expected_state, heal, reconcile
from web3research_etl_spark.schemas import PAGES_KEY, PAGES_SCHEMA, PAGES_VERSION_ORDER
from web3research_etl_spark.streaming.pipeline import run_sync

N = 2000


def _lineage(t):
    """(epoch, per-partition source row) of every commit record."""
    out = []
    for i in t.snapshot_ids():
        c = t.snapshot(i)["commit"]
        out += [(e, s) for e in c["epochs"] for s in c.get("sources", [])]
    return out


def _new_table(spark, d, name, n_buckets=8):
    return LakeTable.create(
        spark, f"{d}/{name}", PAGES_SCHEMA, key=PAGES_KEY,
        version_order=PAGES_VERSION_ORDER, n_buckets=n_buckets,
    )


@pytest.fixture(scope="module")
def ch_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream") / "changelog")
    generate_changelog(spark, N).repartition(6).write.mode("overwrite").parquet(d)
    return d


def test_streaming_matches_batch(spark, tmp_table_dir, ch_dir):
    ch = spark.read.parquet(ch_dir)

    t_stream = _new_table(spark, tmp_table_dir, "stream")
    q = run_sync(
        spark, ch_dir, t_stream, f"{tmp_table_dir}/ckpt",
        available_now=True, max_files_per_trigger=2,
    )
    q.awaitTermination()

    t_batch = _new_table(spark, tmp_table_dir, "batch")
    apply_changelog_batch(t_batch, ch, epoch_id=0)
    assert t_stream.state_hash() == t_batch.state_hash()
    # multiple micro-batches actually happened (maxFilesPerTrigger=2, 6 files)
    assert len(t_stream.committed_epochs()) >= 3
    # every epoch's commit recorded its source lineage
    assert {e for e, _ in _lineage(t_stream)} == t_stream.committed_epochs()


def test_streaming_restart_is_exactly_once(spark, tmp_table_dir, ch_dir):
    """Kill the checkpoint after a full drain, rerun from scratch: sink
    epoch markers are keyed by Spark epoch ids which restart at 0 — but
    the re-delivered batches are the SAME data, so LWW + force of the
    idempotent merge keeps the state identical."""
    t = _new_table(spark, tmp_table_dir, "restart")
    q = run_sync(spark, ch_dir, t, f"{tmp_table_dir}/ckpt1", available_now=True)
    q.awaitTermination()
    h1 = t.state_hash()
    # same checkpoint → no new data → no-op
    q = run_sync(spark, ch_dir, t, f"{tmp_table_dir}/ckpt1", available_now=True)
    q.awaitTermination()
    assert t.state_hash() == h1


def test_sync_dedup_watermark_same_state_fewer_rows(spark, tmp_table_dir, ch_dir):
    """run_sync(dedup_watermark=...) drops re-delivered events before
    the merge: final state is IDENTICAL (LWW is the backstop either
    way), but fewer rows reach the sink — the lineage's rows_in, counted
    at the sink's mouth, is the shuffle-volume receipt. The generator
    emits ~5% duplicate events, so the delta must be positive.

    The horizon must exceed the source's max event-time disorder
    (watermark semantics drop later rows outright — see run_sync's
    docstring); the fixture spans ~33h with unordered file pickup, so
    48h makes nothing late while duplicates (adjacent by construction)
    are still all caught."""
    t_plain = _new_table(spark, tmp_table_dir, "nodedup")
    run_sync(
        spark, ch_dir, t_plain, f"{tmp_table_dir}/ck_plain",
        available_now=True, max_files_per_trigger=2,
    ).awaitTermination()

    t_dedup = _new_table(spark, tmp_table_dir, "dedup")
    run_sync(
        spark, ch_dir, t_dedup, f"{tmp_table_dir}/ck_dedup",
        available_now=True, max_files_per_trigger=2,
        dedup_watermark="48 hours",
    ).awaitTermination()

    assert t_plain.state_hash() == t_dedup.state_hash()
    rows_plain = sum(s["rows_in"] for _, s in _lineage(t_plain))
    rows_dedup = sum(s["rows_in"] for _, s in _lineage(t_dedup))
    assert rows_dedup < rows_plain  # duplicates died before the merge
    # the deduped run saw at most one copy of every event
    assert rows_dedup >= N


def test_reconcile_statuses(spark, tmp_table_dir, ch_dir):
    ch = spark.read.parquet(ch_dir)
    t = _new_table(spark, tmp_table_dir, "recon")
    apply_changelog_batch(t, ch, epoch_id=0)
    # pristine table ⇒ all ok
    rep = reconcile(t.read(), expected_state(ch))
    assert rep.filter(F.col("status") != "ok").count() == 0

    # corrupt: drop some keys (missing) and merge a bogus newer row (divergent)
    victims = t.read().limit(5).select("url").collect()
    missing_urls = [r["url"] for r in victims[:3]]
    divergent_url = victims[3]["url"]
    fake = t.read().filter(F.col("url") == divergent_url).select(
        F.lit("U").alias("op"), "url", "warc_ts",
        (F.col("event_seq") + 10_000).alias("event_seq"), "html", "text", "lang",
    )
    t.merge_changelog(fake, epoch_id=9001)
    del_batch = t.read().filter(F.col("url").isin(missing_urls)).select(
        F.lit("D").alias("op"), "url", "warc_ts",
        (F.col("event_seq") + 10_000).alias("event_seq"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
    t.merge_changelog(del_batch, epoch_id=9002)

    rep2 = reconcile(t.read(), expected_state(ch))
    bad = {r["url"]: r["status"] for r in rep2.filter(F.col("status") != "ok").collect()}
    assert set(bad.values()) == {"missing", "divergent"}
    assert bad[divergent_url] == "divergent"
    assert all(bad[u] == "missing" for u in missing_urls)

    # heal converges back to oracle state
    heal(t, ch, epoch_id=9003)
    rep3 = reconcile(t.read(), expected_state(ch))
    assert rep3.filter(F.col("status") != "ok").count() == 0


def test_heal_removes_orphans(spark, tmp_table_dir, ch_dir):
    ch = spark.read.parquet(ch_dir)
    t = _new_table(spark, tmp_table_dir, "orphan")
    apply_changelog_batch(t, ch, epoch_id=0)
    ghost = spark.createDataFrame(
        [("I", "https://ghost.example.com/x", 1, "g")],
        "op string, url string, event_seq long, v string",
    ).select(
        "op", "url", F.timestamp_seconds(F.lit(2_000_000_000)).alias("warc_ts"),
        "event_seq", F.lit(b"<p>ghost</p>").alias("html"),
        F.lit("ghost").alias("text"), F.lit("en").alias("lang"),
    )
    t.merge_changelog(ghost, epoch_id=9004)
    rep = reconcile(t.read(), expected_state(ch))
    assert rep.filter(F.col("status") == "orphan").count() == 1
    heal(t, ch, epoch_id=9005)
    assert t.read().filter(F.col("url") == "https://ghost.example.com/x").count() == 0
    assert reconcile(t.read(), expected_state(ch)).filter(F.col("status") != "ok").count() == 0


def test_reconcile_window_bounded(spark, tmp_table_dir, ch_dir):
    """Bounded reconcile (reference: last-100k-blocks window): catches
    corruption on keys touched inside the window, is blind to keys
    outside it (documented trade), and a windowed heal fixes exactly the
    in-window damage."""
    from web3research_etl_spark.operators.reconcile import reconcile_window

    ch = spark.read.parquet(ch_dir)
    t = _new_table(spark, tmp_table_dir, "window")
    apply_changelog_batch(t, ch, epoch_id=0)

    cutoff = int(N * 0.7)
    window = ch.filter(F.col("event_seq") >= cutoff)
    window_urls = {r["url"] for r in window.select("url").distinct().collect()}

    exp = expected_state(ch)
    stored_rows = t.read().select("url", "warc_ts", "event_seq").collect()
    in_win = next(r for r in stored_rows if r["url"] in window_urls)
    out_win = next(r for r in stored_rows if r["url"] not in window_urls)

    # corrupt both: force-replace with a stale version (stored falls behind)
    def corrupt(url, epoch):
        stale = (
            t.read()
            .filter(F.col("url") == url)
            .select(
                F.lit("U").alias("op"), "url",
                F.timestamp_seconds(F.lit(1)).alias("warc_ts"),
                F.lit(0).cast("long").alias("event_seq"),
                "html", "text", "lang",
            )
        )
        t.merge_changelog(stale, epoch_id=epoch, force_replace=True)

    corrupt(in_win["url"], 9101)
    corrupt(out_win["url"], 9102)

    rep = reconcile_window(t.read(), window)
    bad = {r["url"]: r["status"] for r in rep.filter(F.col("status") != "ok").collect()}
    assert bad.get(in_win["url"]) == "divergent"
    assert out_win["url"] not in bad  # window blindness, by design

    # windowed heal repairs the in-window key only
    heal(t, window, epoch_id=9103, report=rep)
    rep2 = reconcile_window(t.read(), window)
    assert rep2.filter(F.col("status") != "ok").count() == 0

    # the out-of-window corruption is still there — full check sees it
    full = reconcile(t.read(), expected_state(ch))
    still_bad = {r["url"] for r in full.filter(F.col("status") != "ok").collect()}
    assert out_win["url"] in still_bad and in_win["url"] not in still_bad


def test_reconcile_window_missing_and_orphan(spark, tmp_table_dir, ch_dir):
    """Window statuses: a key whose window winner is an upsert but was
    never stored → missing; stored row older than a window delete winner
    → orphan (heal must tombstone it)."""
    from web3research_etl_spark.operators.reconcile import reconcile_window

    ch = spark.read.parquet(ch_dir)
    t = _new_table(spark, tmp_table_dir, "winmo")
    apply_changelog_batch(t, ch, epoch_id=0)

    # missing: drop one stored key entirely (tombstone via force_replace D)
    victim = t.read().limit(1).collect()[0]
    del_row = spark.createDataFrame(
        [("D", victim["url"], victim["event_seq"] + 1)],
        "op string, url string, event_seq long",
    ).select(
        "op", "url", F.lit(victim["warc_ts"]).alias("warc_ts"), "event_seq",
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
    t.merge_changelog(del_row, epoch_id=9201, force_replace=True)

    # a window slice containing only that key's true events
    window = ch.filter(F.col("url") == victim["url"])
    rep = reconcile_window(t.read(), window)
    row = rep.collect()[0]
    # the key's LWW winner decides the expectation
    winner_is_delete = (
        expected_state(window).filter(F.col("url") == victim["url"]).count() == 0
    )
    assert row["status"] == ("ok" if winner_is_delete else "missing")

    # orphan: synthesize a window whose winner is a delete NEWER than stored
    victim2 = t.read().limit(1).collect()[0]
    win_del = spark.createDataFrame(
        [("D", victim2["url"], victim2["event_seq"] + 10)],
        "op string, url string, event_seq long",
    ).select(
        "op", "url",
        F.lit(victim2["warc_ts"]).alias("warc_ts"), "event_seq",
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("lang"),
    )
    rep2 = reconcile_window(t.read(), win_del)
    assert rep2.collect()[0]["status"] == "orphan"
    heal(t, win_del, epoch_id=9202, report=rep2)
    assert t.read().filter(F.col("url") == victim2["url"]).count() == 0


def test_windowed_heal_does_not_resurrect_deleted_keys(spark, tmp_table_dir, ch_dir):
    """ADVICE r02 medium: a key deleted by an event OUTRANKING the window
    winner must reconcile 'ok' when the stored side carries tombstones
    (read(include_deleted=True), as the CLI now passes) — and a windowed
    heal must leave it deleted, not resurrect the stale window winner."""
    from web3research_etl_spark.operators.reconcile import reconcile_window

    ch = spark.read.parquet(ch_dir)
    t = _new_table(spark, tmp_table_dir, "wintomb")
    apply_changelog_batch(t, ch, epoch_id=0)

    victim = t.read().limit(1).collect()[0]
    # a delete newer than every event in the upcoming window
    del_row = spark.createDataFrame(
        [("D", victim["url"], victim["event_seq"] + 1000)],
        "op string, url string, event_seq long",
    ).select(
        "op", "url", F.lit(victim["warc_ts"]).alias("warc_ts"), "event_seq",
        F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
    t.merge_changelog(del_row, epoch_id=9301)
    assert t.read().filter(F.col("url") == victim["url"]).count() == 0

    window = ch.filter(F.col("url") == victim["url"])
    rep = reconcile_window(t.read(include_deleted=True), window)
    assert {r["status"] for r in rep.collect()} <= {"ok"}

    # tombstone-blind stored side WOULD have healed; tombstone-aware is a no-op
    heal(t, window, epoch_id=9302, report=rep)
    assert t.read().filter(F.col("url") == victim["url"]).count() == 0


def test_sync_in_stream_maintenance(spark, tmp_table_dir, ch_dir):
    """run_sync(maintain_every=2, maintain_blooms=True): the tail
    compacts + expires + blooms itself every 2 applied epochs. The
    converged state must be byte-identical to the unmaintained run
    (maintenance is physical-layout-only), the steady-state generation
    pile must actually be bounded (compaction ran), snapshots expired
    to the retain window, and every live data file must carry a bloom
    sidecar — the lookup path is prunable immediately after the drain."""
    import os

    from web3research_etl_spark.lake.table import _BLOOM_SUFFIX

    t = _new_table(spark, tmp_table_dir, "maint")
    q = run_sync(
        spark, ch_dir, t, f"{tmp_table_dir}/ckpt_maint",
        available_now=True, max_files_per_trigger=1,  # 6 files -> 6 epochs
        maintain_every=2, maintain_retain_last=2, maintain_blooms=True,
    )
    q.awaitTermination()

    plain = _new_table(spark, tmp_table_dir, "maint_ref")
    apply_changelog_batch(plain, spark.read.parquet(ch_dir), epoch_id=0)
    assert t.state_hash() == plain.state_hash()

    snap = t.current_snapshot()
    # compaction ran on the final maintenance pass: one file per bucket
    assert all(len(fg["paths"]) == 1 for fg in snap["file_groups"])
    # expiry bounded history to the retain window
    assert len(t.snapshot_ids()) <= 2
    # every live file has a bloom sidecar, and lookups still serve
    for fg in snap["file_groups"]:
        for p in fg["paths"]:
            assert os.path.exists(os.path.join(t.path, p + _BLOOM_SUFFIX))
    some = [r["url"] for r in t.read().limit(3).collect()]
    assert t.read_for_keys(some).count() == len(some)
