"""Epoch-id type integrity (regression for the replay-tail epoch
corruption defect).

One write with a string epoch breaks sorted() over the pages table's
committed_epochs (and, while lineage lived in a parquet ledger, poisoned
every later ledger read). Two layers enforce int epochs:

1. LakeTable.append / merge_changelog raise TypeError on non-int epochs;
2. cli replay --apply-tail / check --heal derive integer synthetic
   epochs via LakeTable.synthetic_epoch_id.

The e2e test replays a REAL tail (table offsets behind the source)
through the CLI and proves resume/init still work after it.
"""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from web3research_etl_spark.changelog import write_changelog_dir
from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.ledger import resume_offsets
from web3research_etl_spark.operators.apply import apply_changelog_batch
from web3research_etl_spark.schemas import PAGES_KEY, PAGES_SCHEMA, PAGES_VERSION_ORDER


def _mk_table(spark, root):
    return LakeTable.create(
        spark, f"{root}/pages", PAGES_SCHEMA, key=PAGES_KEY,
        version_order=PAGES_VERSION_ORDER, n_buckets=4,
    )


def test_string_epoch_rejected(spark, tmp_table_dir):
    t = _mk_table(spark, tmp_table_dir)
    ch = write_changelog_dir(spark, f"{tmp_table_dir}/ch", 200)
    with pytest.raises(TypeError, match="epoch_id must be an int"):
        t.merge_changelog(ch, epoch_id="replay-tail-3")
    with pytest.raises(TypeError, match="epoch_id must be an int"):
        t.append(ch, epoch_id="heal-1")
    # bool is an int subclass but never a sane epoch — rejected too
    with pytest.raises(TypeError):
        t.merge_changelog(ch, epoch_id=True)


def test_synthetic_epoch_ids_are_int_and_distinct(spark, tmp_table_dir):
    t = _mk_table(spark, tmp_table_dir)
    heal0 = t.synthetic_epoch_id("heal")
    tail0 = t.synthetic_epoch_id("replay-tail")
    assert isinstance(heal0, int) and isinstance(tail0, int)
    assert heal0 != tail0
    ch = write_changelog_dir(spark, f"{tmp_table_dir}/ch", 200)
    t.merge_changelog(ch, epoch_id=heal0)
    # after a commit the next synthetic epoch differs (snapshot advanced)
    assert t.synthetic_epoch_id("heal") != heal0
    with pytest.raises(ValueError):
        t.synthetic_epoch_id("nonsense")


@pytest.mark.slow
def test_replay_apply_tail_keeps_ledger_readable(spark, tmp_table_dir):
    """Real-tail scenario: the table knows only a prefix of the
    changelog; `replay --apply-tail` must (a) converge and (b) leave the
    offsets and epochs type-clean so resume/check keep working after."""
    from web3research_etl_spark.cli import main as cli_main
    from web3research_etl_spark.registry import default_registry

    full_dir = f"{tmp_table_dir}/ch_full"
    part_dir = f"{tmp_table_dir}/ch_part"
    write_changelog_dir(spark, full_dir, 2000, files_per_batch=8)
    # prefix = first half of the range-partitioned files (low event_seq)
    os.makedirs(part_dir)
    files = sorted(glob.glob(f"{full_dir}/part-*.parquet"))
    assert len(files) == 8
    for f_ in files[:4]:
        shutil.copy(f_, part_dir)

    t = _mk_table(spark, tmp_table_dir)
    reg = default_registry(spark)
    prefix = spark.read.parquet(part_dir)
    apply_changelog_batch(t, prefix, epoch_id=0, registry=reg)
    offs_before = resume_offsets(t)
    assert offs_before  # the table has real offsets, strictly behind full

    rc = cli_main([
        "replay", "--source", full_dir, "--table", f"{tmp_table_dir}/pages",
        "--apply-tail",
    ])
    assert rc == 0  # tail applied → converged

    # the offsets must have advanced past the prefix
    offs_after = resume_offsets(t)
    assert offs_after and all(
        offs_after[p] >= offs_before.get(p, -1) for p in offs_after
    )
    max_seq = spark.read.parquet(full_dir).agg(F.max("event_seq")).collect()[0][0]
    assert max(offs_after.values()) == max_seq

    # committed_epochs stays sortable (all ints)
    epochs = t.committed_epochs()
    assert all(isinstance(e, int) for e in epochs)
    assert sorted(epochs)  # no TypeError

    # a follow-up check over the full source sees a converged table
    rc = cli_main([
        "check", "--source", full_dir, "--table", f"{tmp_table_dir}/pages",
    ])
    assert rc == 0
