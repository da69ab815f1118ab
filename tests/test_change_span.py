"""Change spans: ``read_changes`` against a full-state oracle under any
schedule of merges and maintenance, compaction/clustering commits
skipped from metadata (no Spark job), and ``run_sync``'s one shared
span per sidecar pass folding the feed, view and search index exactly
as each fold does alone."""

import glob
import os
import shutil
import tempfile
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests._changes_oracle import change_columns, oracle_changes
from web3research_etl_spark.lake import change_span
from web3research_etl_spark.lake.cdc_feed import feed_schema, publish_changes
from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.operators import search_ivm

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("event_seq", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)
COMBOS = [(False, False), (True, False), (False, True), (True, True)]


def _table(spark, d):
    return LakeTable.create(
        spark,
        os.path.join(d, "t"),
        SCHEMA,
        key=["url"],
        version_order=["warc_ts", "event_seq"],
        n_buckets=2,
    )


def _batch(spark, rows):
    df = spark.createDataFrame(
        rows, "op string, url string, ts_s long, event_seq long, v string"
    )
    return df.select(
        "op", "url", F.timestamp_seconds("ts_s").alias("warc_ts"), "event_seq", "v"
    )


class _Events:
    """Changelog events under the CDC contract: a version (warc_ts,
    event_seq) names one event, so a re-delivered tie is the identical
    row. ``stale`` events carry a warc_ts older than every ``new`` one."""

    def __init__(self):
        self.seq = 0
        self.sent: list[tuple] = []

    def make(self, kind: str, key: int, ts: int) -> tuple:
        if kind == "redeliver" and self.sent:
            return self.sent[(key * 7 + ts) % len(self.sent)]
        self.seq += 1
        url = f"k{key}"
        ts_s = ts if kind == "stale" else 100 + self.seq
        if kind == "delete":
            ev = ("D", url, ts_s, self.seq, None)
        else:
            ev = ("U", url, ts_s, self.seq, f"{url}:{ts_s}:{self.seq}")
        self.sent.append(ev)
        return ev


_event = st.tuples(
    st.sampled_from(["new", "stale", "delete", "redeliver"]),
    st.integers(min_value=0, max_value=5),
    st.integers(min_value=1, max_value=4),
)
_step = st.one_of(
    st.tuples(st.sampled_from(["cow", "mor"]), st.lists(_event, min_size=1, max_size=5)),
    st.just(("compact",)),
    st.just(("cluster",)),
    st.tuples(st.just("expire"), st.integers(min_value=2, max_value=4)),
)


def _assert_changes(t, a, b, states):
    for include_payload, include_before in COMBOS:
        df = t.read_changes(a, b, include_payload=include_payload, include_before=include_before)
        assert df.columns == change_columns(t, b, include_payload, include_before)
        got = sorted((tuple(r) for r in df.collect()), key=repr)
        want = oracle_changes(t, a, b, include_payload, include_before, states=states)
        assert got == want, (a, b, include_payload, include_before)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(steps=st.lists(_step, min_size=3, max_size=5))
def test_read_changes_matches_oracle_under_any_schedule(spark, steps):
    """After every step of a schedule over CoW and MoR merges (stale
    versions, tombstones, re-delivered ties), compaction, clustering and
    expiry, ``read_changes`` from the oldest retained snapshot and from
    the previous step's head equals the full-state diff."""
    d = tempfile.mkdtemp(prefix="span_prop_")
    try:
        t = _table(spark, d)
        events = _Events()
        heads = [t.current_snapshot()["snapshot_id"]]
        states: dict = {}
        for epoch, step in enumerate(steps):
            if step[0] in ("cow", "mor"):
                rows = [events.make(*e) for e in step[1]]
                t.merge_changelog(_batch(spark, rows), epoch_id=epoch, write_mode=step[0])
            elif step[0] == "compact":
                t.rewrite_small_files()
            elif step[0] == "cluster":
                t.rewrite_clustered(["event_seq"], files_per_bucket=2)
            else:
                before = t.snapshot_ids()
                t.expire_snapshots(retain_last=step[1])
                gone = sorted(set(before) - set(t.snapshot_ids()))
                if gone:
                    with pytest.raises(FileNotFoundError):
                        t.read_changes(gone[-1], t.current_snapshot()["snapshot_id"])
            head = t.current_snapshot()["snapshot_id"]
            heads.append(head)
            ids = set(t.snapshot_ids())
            anchors = {min(ids), heads[-2]}
            for a in sorted(x for x in anchors if x in ids and x < head):
                _assert_changes(t, a, head, states)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_rewrite_only_span_runs_no_spark_job(spark, tmp_table_dir):
    """A span of only compaction/clustering commits is empty from
    manifest metadata alone: ``read_changes`` runs 0 Spark jobs, and so
    does a feed publish of those commits."""
    t = _table(spark, tmp_table_dir)
    feed = f"{tmp_table_dir}/feed"
    t.merge_changelog(
        _batch(spark, [("I", "a", 100, 1, "a1"), ("I", "b", 100, 2, "b1")]), epoch_id=0
    )
    t.merge_changelog(
        _batch(spark, [("U", "a", 200, 3, "a2"), ("D", "b", 200, 4, None)]),
        epoch_id=1,
        write_mode="mor",
    )
    before = t.current_snapshot()["snapshot_id"]
    publish_changes(t, feed)
    t.rewrite_small_files()
    t.rewrite_clustered(["event_seq"], files_per_bucket=2)
    head = t.current_snapshot()["snapshot_id"]
    assert head == before + 2
    assert t.effective_span(before, head) is None

    sc = spark.sparkContext
    sc.setJobGroup("rewrite_only_span", "read_changes over compact+cluster")
    try:
        chg = t.read_changes(before, head, include_payload=True, include_before=True)
        rep = publish_changes(t, feed)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("rewrite_only_span") == []
    assert rep == {"published": [], "through": head, "gap_bridged": []}
    assert chg.collect() == []

    # a span starting before the rewrites diffs from the rewritten
    # snapshot, and still equals the full-state diff
    t.merge_changelog(_batch(spark, [("I", "c", 300, 5, "c1")]), epoch_id=2, write_mode="mor")
    last = t.current_snapshot()["snapshot_id"]
    assert t.effective_span(before, last) == (head, last)
    _assert_changes(t, before, last, {})


def _write_changelog_files(spark, path: str, n_files: int) -> None:
    """``n_files`` changelog parquet files whose mtimes order them, so a
    one-file-per-trigger stream reads them in the same order every run."""
    from web3research_etl_spark.changelog import generate_changelog

    generate_changelog(spark, 300, n_partitions=n_files).write.parquet(path)
    files = sorted(glob.glob(f"{path}/*.parquet"))
    for i, f in enumerate(files):
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def _sync_all(spark, d: str, ch_dir: str, n_files: int) -> dict:
    """One run_sync with every sidecar and maintenance after each epoch;
    returns the derived outputs and the base table's read_changes calls."""
    from web3research_etl_spark.schemas import PAGES_KEY, PAGES_SCHEMA, PAGES_VERSION_ORDER
    from web3research_etl_spark.streaming.pipeline import run_sync

    base = LakeTable.create(
        spark, f"{d}/base", PAGES_SCHEMA, key=PAGES_KEY,
        version_order=PAGES_VERSION_ORDER, n_buckets=4,
    )
    view = LakeTable.create(
        spark,
        f"{d}/view",
        T.StructType(
            [
                T.StructField("lang", T.StringType(), True),
                T.StructField("n_rows", T.LongType(), True),
                T.StructField("total_value", T.DecimalType(18, 2), True),
                T.StructField("epoch", T.LongType(), True),
            ]
        ),
        key=["lang"],
        version_order=["epoch"],
        n_buckets=2,
    )
    idx = search_ivm.create_search_index(
        spark, f"{d}/idx", id_name="url", id_type="string", n_buckets=2
    )
    calls = []
    original = LakeTable.read_changes

    def counted(self, *a, **k):
        if self.path == base.path:
            calls.append(a[:2])
        return original(self, *a, **k)

    LakeTable.read_changes = counted
    try:
        q = run_sync(
            spark, ch_dir, base, f"{d}/ckpt",
            available_now=True, max_files_per_trigger=1, write_mode="mor",
            feed_dir=f"{d}/feed", feed_payloads=True,
            view=view, view_group="lang",
            view_value=lambda col: F.length(col("text")).cast("decimal(18,2)"),
            search_index=idx, search_text_col="text",
            maintain_every=1,
        )
        q.awaitTermination()
        q.w3r_join_sidecars()
    finally:
        LakeTable.read_changes = original
    assert len(base.committed_epochs()) == n_files
    schema = feed_schema(base, payloads=True, out_dir=f"{d}/feed")
    feed = {
        os.path.basename(p): sorted(
            (tuple(r) for r in spark.read.schema(schema).parquet(p).collect()), key=repr
        )
        for p in sorted(glob.glob(f"{d}/feed/s*"))
    }
    return {
        "feed": feed,
        "view": sorted(tuple(r) for r in view.read().collect()),
        "postings": sorted(tuple(r) for r in idx["postings"].read().collect()),
        "lengths": sorted(tuple(r) for r in idx["lengths"].read().collect()),
        "base": base.state_hash(),
        "base_ops": [base.snapshot(i)["operation"] for i in base.snapshot_ids()],
        "calls": calls,
    }


def test_run_sync_shared_span_equals_each_fold_alone(spark, tmp_table_dir, monkeypatch):
    """The sidecar pass reads one change span per epoch and hands it to
    the feed, the view and both index tables; the feed directories, view
    rows and index after N epochs equal those of the same run in which
    every fold reads its own span."""
    n_files = 3
    ch_dir = f"{tmp_table_dir}/ch"
    _write_changelog_files(spark, ch_dir, n_files)

    shared = _sync_all(spark, f"{tmp_table_dir}/shared", ch_dir, n_files)
    monkeypatch.setattr(change_span, "open_span", lambda *a, **k: None)
    alone = _sync_all(spark, f"{tmp_table_dir}/alone", ch_dir, n_files)

    assert "compact" in shared["base_ops"]  # spans crossed maintenance
    for part in ("feed", "view", "postings", "lengths", "base"):
        assert shared[part] == alone[part], part
    assert len(shared["feed"]) == n_files
    assert sum(r[1] for r in shared["view"]) > 0
    assert all(isinstance(r[2], Decimal) for r in shared["view"])
    # the first pass bootstraps (feed diff, view refresh, index rebuild);
    # every later pass reads the base table's span once, where each fold
    # alone reads it once per consumer (feed, view, postings, lengths)
    assert len(shared["calls"]) == n_files
    assert len(alone["calls"]) == 1 + 4 * (n_files - 1)
