"""Manifest file stats + data skipping on point lookups.

The reference serves point lookups from ClickHouse's sparse primary
index (granule min/max over ORDER BY key — src/ch_eth/init.rs:169-170,
sync.rs:164-169). The Spark-native analog: every freshly written data
file records the [min, max] of its leading key column in the snapshot
manifest (read from the parquet FOOTER — no data scan), and
``read_for_keys`` skips files whose range cannot contain any probed
key, on top of the existing bucket pruning. Bounds-based skipping must
be conservative: no stats → always scan.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from web3research_etl_spark.lake.table import LakeTable

DDL = "url string, ts bigint, v double"


def _create(spark, path, n_buckets=1):
    return LakeTable.create(
        spark,
        path,
        spark.createDataFrame([], DDL).schema,
        key=["url"],
        version_order=["ts"],
        n_buckets=n_buckets,
    )


def _append(t, spark, rows):
    t.append(spark.createDataFrame(rows, DDL))


def test_stats_recorded_in_manifest(spark, tmp_table_dir):
    t = _create(spark, f"{tmp_table_dir}/t")
    _append(t, spark, [(f"a{i:03d}", 1, 0.5) for i in range(20)])
    snap = t.current_snapshot()
    stats = [fg.get("stats") for fg in snap["file_groups"]]
    assert all(s for s in stats)
    for fg in snap["file_groups"]:
        for p in fg["paths"]:
            lo, hi = fg["stats"][p]
            assert lo == "a000" and hi == "a019"


def test_point_lookup_skips_disjoint_files(spark, tmp_table_dir):
    """One bucket, three appended generations with disjoint key ranges:
    a probe inside one range must scan exactly that generation's file."""
    t = _create(spark, f"{tmp_table_dir}/t", n_buckets=1)
    for prefix in ("a", "m", "z"):
        _append(t, spark, [(f"{prefix}{i:03d}", 1, 0.5) for i in range(50)])
    snap = t.current_snapshot()
    total = sum(len(fg["paths"]) for fg in snap["file_groups"])
    assert total >= 3
    pruned = t._prune_groups_for_lookup(snap, {0: {"m025"}})
    assert sum(len(fg["paths"]) for fg in pruned) == 1
    lo, hi = next(iter(pruned))["stats"][pruned[0]["paths"][0]]
    assert lo <= "m025" <= hi
    # and the lookup itself is right
    rows = t.read_for_keys(["m025"]).collect()
    assert [r["url"] for r in rows] == ["m025"]


def test_prune_never_loses_rows(spark, tmp_table_dir):
    t = _create(spark, f"{tmp_table_dir}/t", n_buckets=2)
    keys = [f"k{i:03d}" for i in range(60)]
    for lo in range(0, 60, 20):
        _append(t, spark, [(k, 1, 0.5) for k in keys[lo : lo + 20]])
    got = {r["url"] for r in t.read_for_keys(keys).collect()}
    assert got == set(keys)
    # multi-key probes spanning generations also survive
    probe = [keys[0], keys[25], keys[59]]
    assert {r["url"] for r in t.read_for_keys(probe).collect()} == set(probe)


def test_manifest_without_stats_still_scans(spark, tmp_table_dir):
    """Pre-feature manifests (no ``stats``) must scan everything."""
    t = _create(spark, f"{tmp_table_dir}/t")
    _append(t, spark, [(f"a{i}", 1, 0.5) for i in range(10)])
    snap = t.current_snapshot()
    mpath = t._snap_path(snap["snapshot_id"])
    raw = json.load(open(mpath))
    for fg in raw["file_groups"]:
        fg.pop("stats", None)
    os.unlink(mpath)
    with open(mpath, "w") as f:
        json.dump(raw, f)
    t2 = LakeTable.load(spark, t.path)
    assert {r["url"] for r in t2.read_for_keys(["a3"]).collect()} == {"a3"}


def test_int_leading_key_stats(spark, tmp_table_dir):
    t = LakeTable.create(
        spark,
        f"{tmp_table_dir}/t",
        spark.createDataFrame([], "seq bigint, v double, ts bigint").schema,
        key=["seq"],
        version_order=["ts"],
        n_buckets=1,
    )
    t.append(spark.createDataFrame([(i, 0.5, 1) for i in range(100, 200)],
                                   "seq bigint, v double, ts bigint"))
    t.append(spark.createDataFrame([(i, 0.5, 1) for i in range(900, 950)],
                                   "seq bigint, v double, ts bigint"))
    snap = t.current_snapshot()
    pruned = t._prune_groups_for_lookup(snap, {0: {925}})
    assert sum(len(fg["paths"]) for fg in pruned) == 1
    assert [r["seq"] for r in t.read_for_keys([925]).collect()] == [925]
    # type-mismatched probe value (str vs int stats) falls back to scan-all
    loose = t._prune_groups_for_lookup(snap, {0: {"925"}})
    assert sum(len(fg["paths"]) for fg in loose) == sum(
        len(fg["paths"]) for fg in snap["file_groups"]
    )


def test_merge_and_compact_keep_stats(spark, tmp_table_dir):
    t = _create(spark, f"{tmp_table_dir}/t", n_buckets=2)
    batch = spark.createDataFrame(
        [("U", f"k{i:02d}", 1, 0.5) for i in range(30)], "op string, " + DDL
    )
    t.merge_changelog(batch, epoch_id=0)
    _append(t, spark, [(f"q{i}", 1, 0.5) for i in range(5)])
    t.rewrite_small_files()
    snap = t.current_snapshot()
    assert all(fg.get("stats") for fg in snap["file_groups"])
    # every live path has a stats row
    for fg in snap["file_groups"]:
        assert set(fg["stats"]) == set(fg["paths"])


def test_range_scan_skips_and_is_exact(spark, tmp_table_dir):
    t = _create(spark, f"{tmp_table_dir}/t", n_buckets=2)
    for prefix in ("a", "m", "z"):
        _append(t, spark, [(f"{prefix}{i:03d}", 1, 0.5) for i in range(40)])
    got = sorted(r["url"] for r in t.read_for_key_range("m000", "m999").collect())
    assert got == [f"m{i:03d}" for i in range(40)]
    # the pruned scan read fewer files than the table holds
    snap = t.current_snapshot()
    total = sum(len(fg["paths"]) for fg in snap["file_groups"])
    kept = [
        p
        for fg in snap["file_groups"]
        for p in fg["paths"]
        if (mm := (fg.get("stats") or {}).get(p)) is None
        or not (mm[1] < "m000" or mm[0] > "m999")
    ]
    assert len(kept) < total
    # open-ended sides
    assert t.read_for_key_range("z000", None).count() == 40
    assert t.read_for_key_range(None, "a999").count() == 40
    assert t.read_for_key_range(None, None).count() == t.read().count()


def test_merge_records_driver_serial_timings(spark, tmp_table_dir):
    """Every merge commit persists its driver-serial breakdown
    (merge_timings: probe/plan/write/stats ms + files written) in the
    snapshot's commit record — the per-epoch Amdahl term bench.py reads back
    for the serial-adjusted scaling efficiency (VERDICT r4 next #2).
    Pinned so the instrumentation cannot silently vanish."""
    import pyspark.sql.functions as F

    t = _create(spark, f"{tmp_table_dir}/t", n_buckets=2)
    batch = spark.createDataFrame(
        [("u1", 1, 0.5), ("u2", 1, 0.5)], DDL
    ).withColumn("op", F.lit("U"))
    t.merge_changelog(batch, epoch_id=1)
    snap = t.current_snapshot()
    mt = snap["commit"].get("merge_timings")
    assert mt is not None
    for k in ("probe_ms", "plan_ms", "write_ms", "stats_ms", "files"):
        assert k in mt and mt[k] >= 0
    # MoR path records them too (no probe — read-free delta append)
    t2 = _create(spark, f"{tmp_table_dir}/t2", n_buckets=2)
    t2.merge_changelog(batch, epoch_id=1, write_mode="mor")
    mt2 = t2.current_snapshot()["commit"].get("merge_timings")
    assert mt2 is not None and "probe_ms" not in mt2 and mt2["files"] >= 1
