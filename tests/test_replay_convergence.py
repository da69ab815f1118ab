"""North-rule end-to-end properties (SURVEY.md §5):

1. full run vs chunked run vs duplicated-epoch run all converge to the
   identical final state (content hash) — the reference's idempotent-
   replay invariant (/root/reference/src/ch_eth/init.rs:169,
   scripts/optimize_db.py:27) upgraded to exactly-once;
2. final state matches an independent DuckDB LWW oracle;
3. schema evolution mid-stream (payload v1→v2→v3) lands adds/renames/
   widens correctly;
4. resume-from-checkpoint: replay starting from a mid-run snapshot's
   ledger offsets reconverges.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from web3research_etl_spark.changelog import generate_changelog
from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.ledger import open_ledger, resume_offsets
from web3research_etl_spark.operators.apply import apply_changelog_batch
from web3research_etl_spark.registry import default_registry
from web3research_etl_spark.schemas import PAGES_KEY, PAGES_SCHEMA, PAGES_VERSION_ORDER

N_EVENTS = 3000


@pytest.fixture(scope="module")
def changelog_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ch") / "changelog.parquet")
    generate_changelog(spark, N_EVENTS).write.mode("overwrite").parquet(p)
    return p


def _new_table(spark, d, name):
    return LakeTable.create(
        spark,
        f"{d}/{name}",
        PAGES_SCHEMA,
        key=PAGES_KEY,
        version_order=PAGES_VERSION_ORDER,
        n_buckets=8,
    )


def _run(spark, d, name, ch, epochs):
    """epochs: list of (epoch_id, filter_expr) — applied in order."""
    t = _new_table(spark, d, name)
    for epoch_id, cond in epochs:
        apply_changelog_batch(t, ch.filter(cond), epoch_id=epoch_id)
    return t


def test_replay_and_duplicate_convergence(spark, tmp_table_dir, changelog_path):
    ch = spark.read.parquet(changelog_path)
    third = N_EVENTS // 3
    chunks = [
        (0, F.col("event_seq") < third),
        (1, (F.col("event_seq") >= third) & (F.col("event_seq") < 2 * third)),
        (2, F.col("event_seq") >= 2 * third),
    ]
    t_full = _run(spark, tmp_table_dir, "full", ch, [(0, F.lit(True))])
    t_chunked = _run(spark, tmp_table_dir, "chunked", ch, chunks)
    # duplicated-batch re-delivery: every chunk applied twice
    t_dup = _run(
        spark, tmp_table_dir, "dup", ch, [c for pair in zip(chunks, chunks) for c in pair]
    )
    h_full, h_chunked, h_dup = (
        t_full.state_hash(),
        t_chunked.state_hash(),
        t_dup.state_hash(),
    )
    assert h_full == h_chunked == h_dup


def test_final_state_matches_duckdb_oracle(spark, tmp_table_dir, changelog_path):
    ch = spark.read.parquet(changelog_path)
    t = _run(spark, tmp_table_dir, "oracle", ch, [(0, F.lit(True))])
    got = sorted(
        (r["url"], r["event_seq"], r["lang"]) for r in t.read().collect()
    )
    expected = sorted(
        duckdb.sql(
            f"""
            SELECT url, event_seq, lang FROM (
              SELECT url, event_seq, lang, op,
                     row_number() OVER (PARTITION BY url
                                        ORDER BY warc_ts DESC, event_seq DESC) rn
              FROM parquet_scan('{changelog_path}/*.parquet')
            ) WHERE rn = 1 AND op <> 'D'
            """
        ).fetchall()
    )
    assert got == expected


def test_schema_evolution_mid_stream(spark, tmp_table_dir, changelog_path):
    ch = spark.read.parquet(changelog_path)
    reg = default_registry(spark)
    t = _new_table(spark, tmp_table_dir, "evo")
    # three epochs in payload_version order: v1-only, v2, v3
    for epoch, v in [(0, 1), (1, 2), (2, 3)]:
        apply_changelog_batch(
            t, ch.filter(F.col("payload_version") == v), epoch_id=epoch, registry=reg
        )
    cols = dict(t.read().dtypes)
    assert cols["content_len"] == "bigint"  # widened
    assert "http_status" in cols and "fetch_status" not in cols  # renamed
    # v3 rows carry http_status; surviving v1/v2-era rows readable (nulls ok)
    latest = t.read().filter(F.col("http_status").isNotNull())
    assert latest.count() > 0


def test_nested_array_struct_evolution_and_merge(spark, tmp_table_dir, changelog_path):
    """v4 adds `outlinks array<struct<href,anchor>>` (SURVEY §1.1/§1.3:
    the reference's Nested(...) columns, src/ch_tron/schema.rs:165-170).
    The nested column must land via the registry ALTER, parse from the
    JSON payload, survive the LWW merge (newer outlinks win), read back
    through the old-file cast path, and explode."""
    ch = spark.read.parquet(changelog_path)
    reg = default_registry(spark)
    t = _new_table(spark, tmp_table_dir, "nested")
    # epoch 0: plain v3 history (files WITHOUT the outlinks column)
    apply_changelog_batch(
        t, ch.filter(F.col("payload_version") == 3), epoch_id=0, registry=reg
    )

    def v4_batch(base, tag):
        n = (F.col("event_seq") % 3).cast("int")  # 0..2 links; empties covered
        links = F.when(n > 0, F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.struct(
                F.concat(
                    F.lit(f"https://out-{tag}.example.com/"),
                    ((F.col("event_seq") + i) % 7).cast("string"),
                ).alias("href"),
                F.concat(F.lit(tag), i.cast("string")).alias("anchor"),
            ),
        )).otherwise(F.array().cast("array<struct<href:string,anchor:string>>"))
        return base.withColumn("payload_version", F.lit(4)).withColumn(
            "payload",
            F.to_json(
                F.struct(
                    F.length(F.col("html")).cast("long").alias("content_len"),
                    links.alias("outlinks"),
                )
            ),
        )

    live = t.read().limit(8).select("url", "event_seq").collect()
    base = ch.join(
        spark.createDataFrame([(r["url"],) for r in live], "url string"), "url", "left_semi"
    ).filter(F.col("op") != "D")
    # epoch 1: v4 rows strictly newer than anything stored → must win
    newer = base.withColumn("event_seq", F.col("event_seq") + F.lit(10_000_000)).withColumn(
        "warc_ts", F.timestamp_seconds(F.lit(2_000_000_000) + F.col("event_seq"))
    )
    apply_changelog_batch(t, v4_batch(newer, "w"), epoch_id=1, registry=reg)
    # epoch 2: v4 rows OLDER than stored → must lose, outlinks kept from winner
    apply_changelog_batch(
        t,
        v4_batch(
            base.withColumn("event_seq", F.col("event_seq") - F.lit(1_000_000)), "l"
        ),
        epoch_id=2,
        registry=reg,
    )

    cols = dict(t.read().dtypes)
    assert cols["outlinks"] == "array<struct<href:string,anchor:string>>"
    got = t.read().join(
        spark.createDataFrame([(r["url"],) for r in live], "url string"), "url", "left_semi"
    )
    # every winner is a "w"-tagged v4 row; losers never overwrote
    anchors = (
        got.select(F.explode("outlinks").alias("l"))
        .select(F.col("l.anchor").alias("anchor"))
        .collect()
    )
    assert anchors and all(r["anchor"].startswith("w") for r in anchors)
    # href structure survived the merge round-trip
    assert all(
        "out-w.example.com" in x["l"]["href"]
        for x in got.select(F.explode("outlinks").alias("l")).collect()
    )
    # rows that predate v4 read back with null outlinks (old-file cast path)
    old_rows = t.read().filter(F.col("outlinks").isNull())
    assert old_rows.count() > 0


def test_map_column_evolution_and_merge(spark, tmp_table_dir, changelog_path):
    """v5 adds `headers map<string,string>` (SURVEY §1.3: the
    reference's Map(String, ...) columns, src/ch_tron/schema.rs:173).
    The map column must land via the registry ALTER, parse from the
    JSON payload (from_json map DDL), survive the LWW merge (the newer
    row's whole map wins), read back through the old-file cast path,
    and answer native map expressions (try_element_at / map_keys)."""
    ch = spark.read.parquet(changelog_path)
    reg = default_registry(spark)
    t = _new_table(spark, tmp_table_dir, "mapcol")
    # epoch 0: plain v3 history (files WITHOUT the headers column)
    apply_changelog_batch(
        t, ch.filter(F.col("payload_version") == 3), epoch_id=0, registry=reg
    )

    def v5_batch(base, tag):
        headers = F.create_map(
            F.lit("server"), F.lit(f"{tag}-nginx"),
            F.lit("etag"), F.concat(F.lit(tag), F.col("event_seq").cast("string")),
        )
        return base.withColumn("payload_version", F.lit(5)).withColumn(
            "payload",
            F.to_json(
                F.struct(
                    F.length(F.col("html")).cast("long").alias("content_len"),
                    headers.alias("headers"),
                )
            ),
        )

    live = t.read().limit(8).select("url", "event_seq").collect()
    base = ch.join(
        spark.createDataFrame([(r["url"],) for r in live], "url string"), "url", "left_semi"
    ).filter(F.col("op") != "D")
    # epoch 1: v5 rows strictly newer than anything stored → must win
    newer = base.withColumn("event_seq", F.col("event_seq") + F.lit(10_000_000)).withColumn(
        "warc_ts", F.timestamp_seconds(F.lit(2_000_000_000) + F.col("event_seq"))
    )
    apply_changelog_batch(t, v5_batch(newer, "w"), epoch_id=1, registry=reg)
    # epoch 2: v5 rows OLDER than stored → must lose, headers kept from winner
    apply_changelog_batch(
        t,
        v5_batch(
            base.withColumn("event_seq", F.col("event_seq") - F.lit(1_000_000)), "l"
        ),
        epoch_id=2,
        registry=reg,
    )

    cols = dict(t.read().dtypes)
    assert cols["headers"] == "map<string,string>"
    got = t.read().join(
        spark.createDataFrame([(r["url"],) for r in live], "url string"), "url", "left_semi"
    )
    servers = [
        r["server"]
        for r in got.select(
            F.try_element_at("headers", F.lit("server")).alias("server")
        ).collect()
    ]
    assert servers and all(s == "w-nginx" for s in servers)
    # map structure survived: both keys present on every winner
    keysets = got.select(F.array_sort(F.map_keys("headers")).alias("ks")).collect()
    assert all(list(r["ks"]) == ["etag", "server"] for r in keysets)
    # rows that predate v5 read back with null headers (old-file cast path)
    assert t.read().filter(F.col("headers").isNull()).count() > 0


def test_resume_from_ledger_offsets(spark, tmp_table_dir, changelog_path):
    ch = spark.read.parquet(changelog_path)
    half = N_EVENTS // 2
    d = tmp_table_dir
    t = _new_table(spark, d, "resume")
    ledger = open_ledger(spark, f"{d}/resume_ledger")
    apply_changelog_batch(t, ch.filter(F.col("event_seq") < half), 0, ledger=ledger)
    offs = resume_offsets(ledger)
    assert offs and all(v < half for v in offs.values())
    # resume: per-partition tail strictly after the recorded offsets
    tail_conds = [
        (F.col("source_partition") == p) & (F.col("event_seq") > o)
        for p, o in offs.items()
    ]
    cond = tail_conds[0]
    for c in tail_conds[1:]:
        cond = cond | c
    apply_changelog_batch(t, ch.filter(cond), 1, ledger=ledger)

    t_ref = _run(spark, d, "resume_ref", ch, [(0, F.lit(True))])
    assert t.state_hash() == t_ref.state_hash()


def test_evolution_out_of_order_epochs(spark, tmp_table_dir, changelog_path):
    """Regression: a v3 batch followed by another v3 batch must not re-add
    a column under its pre-rename name (net-diff sync, not change replay)."""
    ch = spark.read.parquet(changelog_path)
    reg = default_registry(spark)
    t = _new_table(spark, tmp_table_dir, "evo_ooo")
    v3 = ch.filter(F.col("payload_version") == 3)
    apply_changelog_batch(t, v3.filter(F.col("event_seq") % 2 == 0), 0, registry=reg)
    apply_changelog_batch(t, v3.filter(F.col("event_seq") % 2 == 1), 1, registry=reg)
    # mixed-version batch after full evolution
    apply_changelog_batch(t, ch.filter(F.col("payload_version") == 1).limit(50), 2, registry=reg)
    cols = [c for c, _ in t.read().dtypes]
    assert cols.count("http_status") == 1 and "fetch_status" not in cols
    assert t.read().count() > 0


def test_registry_resolved_once_per_batch(spark, tmp_table_dir, changelog_path, monkeypatch):
    """One registry collect per batch: apply_changelog_batch hands the
    same change list to the ALTER and to the payload parse (each collect
    of the registry DataFrame is a Spark job)."""
    import web3research_etl_spark.operators.apply as apply_mod
    import web3research_etl_spark.registry as registry_mod

    real, calls = registry_mod.registry_changes, []

    def counting(registry, up_to_version):
        calls.append(up_to_version)
        return real(registry, up_to_version)

    monkeypatch.setattr(apply_mod, "registry_changes", counting)
    monkeypatch.setattr(registry_mod, "registry_changes", counting)
    ch = spark.read.parquet(changelog_path)
    t = _new_table(spark, tmp_table_dir, "reg_once")
    batch = ch.filter((F.col("payload_version") == 3) & (F.col("event_seq") % 10 == 0))
    apply_changelog_batch(t, batch, epoch_id=0, registry=default_registry(spark))
    assert calls == [3]
    cols = t.schema().fieldNames()
    assert "http_status" in cols and "fetch_status" not in cols
