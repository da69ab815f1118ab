"""CLI end-to-end (the reference's init/sync/check surface) and
physical-plan quality gates (the 100-TB checklist: pushdown, pruning,
no payload sorts, broadcast where intended)."""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = "/root/repo"


def _run_cli(*args: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-m", "web3research_etl_spark.cli", *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=420,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "8", "PYTHONPATH": REPO},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc.stdout


@pytest.mark.slow
def test_cli_init_then_check(tmp_path):
    out = _run_cli("gen", "--out", f"{tmp_path}/ch", "--events", "3000")
    assert json.loads(out.strip().splitlines()[-1])["written"] >= 3000

    out = _run_cli(
        "init", "--source", f"{tmp_path}/ch", "--table", f"{tmp_path}/pages",
        "--ledger", f"{tmp_path}/ledger",
    )
    stats = json.loads(out.strip().splitlines()[-1])
    assert stats["rows"] > 0 and stats["epochs"]

    out = _run_cli("check", "--source", f"{tmp_path}/ch", "--table", f"{tmp_path}/pages")
    rec = json.loads(out.strip().splitlines()[0])["reconcile"]
    assert set(rec) == {"ok"}

    # replay-convergence pass (north rule): fresh rebuild content-hash
    # equals the live table
    out = _run_cli(
        "replay", "--source", f"{tmp_path}/ch", "--table", f"{tmp_path}/pages",
        "--ledger", f"{tmp_path}/ledger", "--apply-tail",
    )
    rep = json.loads(out.strip().splitlines()[-1])
    assert rep["converged"] and rep["live"] == rep["replayed"]

    # divergent source → non-zero exit, converged false
    _run_cli("gen", "--out", f"{tmp_path}/ch2", "--events", "4000")
    proc = subprocess.run(
        [sys.executable, "-m", "web3research_etl_spark.cli", "replay",
         "--source", f"{tmp_path}/ch2", "--table", f"{tmp_path}/pages"],
        capture_output=True, text=True, cwd=REPO, timeout=420,
        env={**__import__("os").environ, "SPARK_GRAFT_CPUS": "8", "PYTHONPATH": REPO},
    )
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert not json.loads(proc.stdout.strip().splitlines()[-1])["converged"]


# ---------------------------------------------------------------------------
# plan-quality gates
# ---------------------------------------------------------------------------


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_no_payload_sort(plan: str) -> None:
    # the payload must never appear in any Sort node (SortMergeJoin or
    # SortAggregate over html would externally sort every payload byte)
    for seg in plan.split("Sort [")[1:]:
        sort_keys = seg.split("]", 1)[0]
        assert "html" not in sort_keys


def _lww_test_input(spark):
    from web3research_etl_spark.changelog import generate_changelog

    return generate_changelog(spark, 1000).select(
        "op", "url", "warc_ts", "event_seq", "html", "lang"
    )


def test_lww_shuffle_hash_plan(spark):
    """Default (scale) path: the clean-winner semi-join is a
    ShuffledHashJoin (no driver-side winner materialization), phase-1a
    runs as a true HashAggregate (count buffers — map-side combine over
    skewed keys), the tie sliver joins by broadcast, and html never
    appears among any Sort's keys."""
    from web3research_etl_spark.operators.lww import lww_dedup_agg

    plan = _physical_plan(lww_dedup_agg(_lww_test_input(spark), ["url"], ["warc_ts", "event_seq"]))
    assert "ShuffledHashJoin" in plan and "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan  # the tie-sliver path
    assert "HashAggregate" in plan  # phase-1a count agg
    _assert_no_payload_sort(plan)


def test_lake_read_filter_pushdown(spark, tmp_table_dir):
    """A key-equality filter on a lake read must reach the parquet scan
    (PushedFilters), not run post-scan only."""
    from pyspark.sql import types as T

    from web3research_etl_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("event_seq", T.LongType(), False),
        ]
    )
    t = LakeTable.create(
        spark, f"{tmp_table_dir}/t", schema, key=["url"],
        version_order=["warc_ts", "event_seq"], n_buckets=4,
    )
    rows = spark.createDataFrame(
        [("I", f"u{i}", i) for i in range(100)], "op string, url string, event_seq long"
    ).select("op", "url", F.timestamp_seconds(F.lit(1) + F.col("event_seq")).alias("warc_ts"), "event_seq")
    t.merge_changelog(rows, epoch_id=1)
    plan = _physical_plan(t.read().filter(F.col("url") == "u5"))
    assert "PushedFilters: [" in plan and "u5" in plan


def test_small_dim_join_is_broadcast(spark):
    """revenue_by_nation must broadcast the dimension tables."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    df = entry.queries()["revenue_by_nation"](spark, "/root/testdata/sf0.001")
    plan = _physical_plan(df)
    assert "BroadcastHashJoin" in plan


def test_scan_prunes_columns(spark):
    """Token counting must read only the needed columns from parquet."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    df = entry.queries()["doc_token_counts"](spark, "/root/testdata/sf0.001")
    plan = _physical_plan(df)
    scan = plan[plan.index("FileScan") :]
    head = scan[:400]
    assert "text" in head and "lang" not in head and "source" not in head

@pytest.mark.slow
def test_cli_changes_between_snapshots(spark, tmp_path):
    """`changes` subcommand: incremental diff between two snapshots,
    counts and optional parquet sink, cross-checked against the
    in-process read_changes result."""
    from pyspark.sql import types as T

    from web3research_etl_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("event_seq", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = LakeTable.create(
        spark, f"{tmp_path}/t", schema, key=["url"],
        version_order=["warc_ts", "event_seq"], n_buckets=4,
    )

    def batch(rows):
        df = spark.createDataFrame(
            rows, "op string, url string, ts_s long, event_seq long, v string"
        )
        return df.select(
            "op", "url", F.timestamp_seconds("ts_s").alias("warc_ts"), "event_seq", "v"
        )

    r1 = t.merge_changelog(
        batch([("I", "a", 100, 1, "a1"), ("I", "b", 100, 2, "b1")]), epoch_id=0
    )
    r2 = t.merge_changelog(
        batch([("U", "a", 200, 3, "a2"), ("D", "b", 200, 4, None), ("I", "c", 200, 5, "c1")]),
        epoch_id=1,
    )
    out = _run_cli(
        "changes", "--table", f"{tmp_path}/t",
        "--from-snapshot", str(r1["snapshot_id"]),
        "--to-snapshot", str(r2["snapshot_id"]),
        "--out", f"{tmp_path}/diff",
    )
    rep = json.loads(out.strip().splitlines()[-1])
    assert rep["changes"] == {"insert": 1, "update": 1, "delete": 1}
    sunk = spark.read.parquet(f"{tmp_path}/diff")
    assert {(r["url"], r["change_type"]) for r in sunk.collect()} == {
        ("a", "update"), ("b", "delete"), ("c", "insert"),
    }
    # --to-snapshot defaults to current
    out = _run_cli(
        "changes", "--table", f"{tmp_path}/t", "--from-snapshot", str(r1["snapshot_id"])
    )
    rep2 = json.loads(out.strip().splitlines()[-1])
    assert rep2["to_snapshot"] == r2["snapshot_id"] and rep2["changes"] == rep["changes"]


def test_cli_maintain_expire_and_orphans(spark, tmp_path):
    """`maintain` subcommand: compaction + snapshot retention + orphan
    cleanup in one invocation, reported as JSON."""
    from pyspark.sql import types as T

    from web3research_etl_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("event_seq", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = LakeTable.create(
        spark, f"{tmp_path}/t", schema, key=["url"],
        version_order=["warc_ts", "event_seq"], n_buckets=4,
    )

    def batch(rows):
        df = spark.createDataFrame(
            rows, "op string, url string, ts_s long, event_seq long, v string"
        )
        return df.select(
            "op", "url", F.timestamp_seconds("ts_s").alias("warc_ts"), "event_seq", "v"
        )

    t.merge_changelog(batch([("I", "a", 100, 1, "a1")]), epoch_id=0)
    t.merge_changelog(batch([("U", "a", 200, 2, "a2")]), epoch_id=1)
    t.merge_changelog(batch([("I", "b", 300, 3, "b1")]), epoch_id=2)
    pre = t.state_hash()

    out = _run_cli(
        "maintain", "--table", f"{tmp_path}/t",
        "--expire-keep", "2", "--remove-orphans", "--orphan-grace", "0",
    )
    rep = json.loads(out.strip().splitlines()[-1])
    assert rep["expire"]["skipped"] is False
    assert rep["orphans"]["data_files_removed"] == 0  # nothing dangling
    t2 = LakeTable.load(spark, f"{tmp_path}/t")
    assert t2.state_hash() == pre
    assert {0, 1, 2} <= t2.committed_epochs()

    # z-order clustered rewrite through the CLI: physical-only (state
    # hash unchanged), commits a "cluster" snapshot with per-column stats
    out = _run_cli(
        "maintain", "--table", f"{tmp_path}/t",
        "--cluster-by", "event_seq,v", "--cluster-files-per-bucket", "2",
    )
    rep = json.loads(out.strip().splitlines()[-1])
    assert rep["cluster"]["skipped"] is False
    assert rep["cluster"]["cluster_by"] == ["event_seq", "v"]
    t3 = LakeTable.load(spark, f"{tmp_path}/t")
    assert t3.state_hash() == pre
    assert t3.current_snapshot()["operation"] == "cluster"


def test_cli_rollback_and_wap(spark, tmp_path):
    """`rollback` and `wap` subcommands: the reorg/audit control plane
    as spark-submit-able commands, reported as JSON."""
    from pyspark.sql import types as T

    from web3research_etl_spark.lake.table import LakeTable

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("event_seq", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = LakeTable.create(
        spark, f"{tmp_path}/t", schema, key=["url"],
        version_order=["warc_ts", "event_seq"], n_buckets=4,
    )

    def batch(rows):
        df = spark.createDataFrame(
            rows, "op string, url string, ts_s long, event_seq long, v string"
        )
        return df.select(
            "op", "url", F.timestamp_seconds("ts_s").alias("warc_ts"), "event_seq", "v"
        )

    t.merge_changelog(batch([("I", "a", 100, 1, "a1")]), epoch_id=0)
    s0 = t.current_snapshot()["snapshot_id"]
    h0 = t.state_hash()
    t.merge_changelog(batch([("U", "a", 200, 2, "a2")]), epoch_id=1)

    out = _run_cli("rollback", "--table", f"{tmp_path}/t", "--to-snapshot", str(s0))
    rep = json.loads(out.strip().splitlines()[-1])
    assert rep["rolled_back_to"] == s0 and rep["reopened_epochs"] == [1]
    t2 = LakeTable.load(spark, f"{tmp_path}/t")
    assert t2.state_hash() == h0 and 1 not in t2.committed_epochs()

    # stage through the API, then drive the audit gate via the CLI
    t2.merge_changelog(
        batch([("U", "a", 200, 2, "a2"), ("I", "b", 200, 3, "b1")]),
        epoch_id=1, stage_wap_id="gate",
    )
    rep = json.loads(
        _run_cli("wap", "--table", f"{tmp_path}/t", "--list").strip().splitlines()[-1]
    )
    assert [s["wap_id"] for s in rep["staged"]] == ["gate"]
    rep = json.loads(
        _run_cli("wap", "--table", f"{tmp_path}/t", "--audit", "gate")
        .strip().splitlines()[-1]
    )
    assert rep["changes"] == {"update": 1, "insert": 1}
    rep = json.loads(
        _run_cli("wap", "--table", f"{tmp_path}/t", "--publish", "gate")
        .strip().splitlines()[-1]
    )
    assert rep["publish"]["already_published"] is False
    t3 = LakeTable.load(spark, f"{tmp_path}/t")
    assert 1 in t3.committed_epochs()
    assert {(r["url"], r["v"]) for r in t3.read().collect()} == {
        ("a", "a2"), ("b", "b1"),
    }
