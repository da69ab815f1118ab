"""Source lineage rides in the data commit: one manifest per applied
epoch carries the batch's per-partition facts (``commit.sources``) and
the cumulative resume point (``summary.source_offsets``), so a crash,
a rollback or a WAP stage can never split the data from its offsets."""

import pytest
from pyspark.sql import functions as F

from web3research_etl_spark.changelog import write_changelog_dir
from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.ledger import ledger_rows_for_batch, open_ledger, resume_offsets
from web3research_etl_spark.operators.apply import apply_changelog_batch
from web3research_etl_spark.registry import default_registry, registry_changes, sync_table_schema
from web3research_etl_spark.schemas import PAGES_KEY, PAGES_SCHEMA, PAGES_VERSION_ORDER

N = 400


@pytest.fixture(scope="module")
def ch_dir(tmp_path_factory, spark):
    d = str(tmp_path_factory.mktemp("lineage") / "ch")
    write_changelog_dir(spark, d, N, n_source_partitions=4)
    return d


def _table(spark, root, name="pages"):
    return LakeTable.create(
        spark, f"{root}/{name}", PAGES_SCHEMA, key=PAGES_KEY,
        version_order=PAGES_VERSION_ORDER, n_buckets=4,
    )


def _halves(spark, ch_dir):
    ch = spark.read.parquet(ch_dir)
    return ch.filter(F.col("event_seq") < N // 2), ch.filter(F.col("event_seq") >= N // 2)


def _offsets(df):
    rows = df.groupBy("source_partition").agg(F.max("event_seq").alias("m")).collect()
    return {r["source_partition"]: r["m"] for r in rows}


def test_crash_after_data_claim_keeps_offsets(spark, tmp_table_dir, ch_dir, monkeypatch):
    """The process dies right after the apply's first manifest claim;
    the retry of the same epoch is skipped, and the offsets are there
    anyway because they were claimed with the data."""
    t = _table(spark, tmp_table_dir)
    batch, _ = _halves(spark, ch_dir)
    real_commit = LakeTable._commit

    class Crash(RuntimeError):
        pass

    def commit_then_die(self, snap):
        real_commit(self, snap)
        monkeypatch.setattr(LakeTable, "_commit", real_commit)
        raise Crash("process died after the claim")

    monkeypatch.setattr(LakeTable, "_commit", commit_then_die)
    with pytest.raises(Crash):
        apply_changelog_batch(t, batch, epoch_id=0)
    assert apply_changelog_batch(t, batch, epoch_id=0).get("skipped")
    assert resume_offsets(t) == _offsets(batch)


def test_rollback_rewinds_offsets(spark, tmp_table_dir, ch_dir):
    t = _table(spark, tmp_table_dir)
    first, second = _halves(spark, ch_dir)
    apply_changelog_batch(t, first, epoch_id=0)
    s0, offs0 = t.current_snapshot()["snapshot_id"], resume_offsets(t)
    assert offs0 == _offsets(first)
    apply_changelog_batch(t, second, epoch_id=1)
    assert resume_offsets(t) != offs0
    t.rollback_to(s0)
    assert resume_offsets(t) == offs0


def test_staged_offsets_bind_only_at_publish(spark, tmp_table_dir, ch_dir):
    t = _table(spark, tmp_table_dir)
    first, second = _halves(spark, ch_dir)
    apply_changelog_batch(t, first, epoch_id=0)
    offs0 = resume_offsets(t)
    rows = second.select("op", "url", "warc_ts", "event_seq", "html", "lang")
    sources = ledger_rows_for_batch(second.drop("payload_version"))

    t.merge_changelog(rows, epoch_id=1, stage_wap_id="w1", sources=sources)
    assert resume_offsets(t) == offs0
    t.abandon_staged("w1")
    assert resume_offsets(t) == offs0

    t.merge_changelog(rows, epoch_id=1, stage_wap_id="w2", sources=sources)
    assert resume_offsets(t) == offs0
    t.publish_staged("w2")
    both = spark.read.parquet(ch_dir)
    assert resume_offsets(t) == _offsets(both)
    assert t.current_snapshot()["commit"]["sources"] == sources


def test_mor_apply_with_registry_is_one_claim(spark, tmp_table_dir, ch_dir, monkeypatch):
    """Steady state (schema already synced): one MoR apply with a
    registry claims exactly one manifest, reads the head manifest 5
    times (6 while the write re-read it), runs no ledger job — even when handed the deprecated
    ``ledger`` — and its manifest records the batch's lineage."""
    t = _table(spark, tmp_table_dir)
    reg = default_registry(spark)
    first, second = _halves(spark, ch_dir)
    apply_changelog_batch(t, first, epoch_id=0, registry=reg, write_mode="mor")
    sync_table_schema(t, registry_changes(reg, 99))
    ledger = open_ledger(spark, f"{tmp_table_dir}/ledger")

    claims, reads = [], []
    real_commit, real_current = LakeTable._commit, LakeTable.current_snapshot

    def counting_commit(self, snap):
        claims.append(self.path)
        return real_commit(self, snap)

    def counting_current(self):
        reads.append(self.path)
        return real_current(self)

    monkeypatch.setattr(LakeTable, "_commit", counting_commit)
    monkeypatch.setattr(LakeTable, "current_snapshot", counting_current)
    sc = spark.sparkContext
    sc.setJobGroup("lineage_mor_apply", "one MoR apply with a registry")
    try:
        res = apply_changelog_batch(
            t, second, epoch_id=1, ledger=ledger, registry=reg, write_mode="mor"
        )
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("lineage_mor_apply")

    assert not res["skipped"]
    assert claims == [t.path]
    assert reads == [t.path] * 5
    # 15 at every parallelism measured (2, 4, 8 cores); the ledger
    # append's 3 jobs (18 before) must not come back
    assert len(jobs) <= 15, jobs
    assert ledger.snapshot_ids() == [0]
    sources = t.current_snapshot()["commit"]["sources"]
    assert sum(s["rows_in"] for s in sources) == second.count()
    assert {s["source_partition"] for s in sources} == set(_offsets(second))
