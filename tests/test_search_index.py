"""Query-through-the-persisted-index (search.bm25_rank_indexed /
keyword_search_indexed) and incremental index maintenance from the CDC
stream (operators/search_ivm) — VERDICT r4 next #3/#4.

The two contracts pinned here:
1. indexed results are FLOAT-IDENTICAL (==, not approx) to the
   direct-scan operators, which are themselves oracle-gated — so the
   index path inherits the DuckDB-parity guarantee transitively;
2. an index maintained incrementally across N epochs of
   inserts/updates/deletes equals a from-scratch rebuild of the final
   corpus, row for row.
"""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.operators.search import (
    bm25_rank,
    bm25_rank_indexed,
    corpus_stats_from_lengths,
    doc_lengths,
    indexed_postings,
    keyword_search,
    keyword_search_indexed,
    read_postings_for_terms,
    term_stats,
)
from web3research_etl_spark.operators.search_ivm import (
    create_search_index,
    index_corpus_stats,
    index_postings_df,
    index_term_stats,
    sync_search_index,
)

TERMS = ["merge", "spark", "window"]


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the merge joins the spark window plan"),
        (2, "merge merge spark"),
        (3, "window spark merge window"),
        (4, "nothing relevant here"),
        (5, "sparkly windows merged"),
        (6, "Merge SPARK Window"),
        (7, ""),  # zero-token doc: counts toward N, never a candidate
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _index_frames(docs):
    return (
        indexed_postings(docs),
        term_stats(docs, min_df=1),
        corpus_stats_from_lengths(doc_lengths(docs)),
    )


def test_indexed_bm25_equals_direct_bitwise(docs):
    pidx, ts, cs = _index_frames(docs)
    direct = {r.doc_id: r.bm25 for r in bm25_rank(docs, TERMS).collect()}
    indexed = {
        r.doc_id: r.bm25
        for r in bm25_rank_indexed(pidx, ts, cs, TERMS).collect()
    }
    assert indexed == direct and indexed  # == : same doubles, bit for bit


def test_indexed_keyword_search_equals_direct(docs):
    direct = {
        r.doc_id: (r.n_terms_matched, r.tf_sum)
        for r in keyword_search(docs, TERMS).collect()
    }
    indexed = {
        r.doc_id: (r.n_terms_matched, r.tf_sum)
        for r in keyword_search_indexed(indexed_postings(docs), TERMS).collect()
    }
    assert indexed == direct and indexed


def test_corpus_stats_count_zero_token_docs(docs):
    row = corpus_stats_from_lengths(doc_lengths(docs)).collect()[0]
    assert row.n_docs == 7  # doc 7 has no tokens but IS a document
    assert row.total_tokens == 7 + 3 + 4 + 3 + 3 + 3 + 0


def test_bm25_over_persisted_index_no_corpus_scan(spark, tmp_table_dir):
    # the 10^10-doc story end-to-end: documents live in parquet; the
    # index is a z-order-clustered LakeTable; the QUERY plan reads only
    # token-pruned postings files — the documents parquet never appears
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pidx = indexed_postings(docs)
    t = LakeTable.create(
        spark,
        f"{tmp_table_dir}/postings",
        T.StructType(
            [
                T.StructField("token", T.StringType()),
                T.StructField("doc_id", T.LongType()),
                T.StructField("tf", T.LongType()),
                T.StructField("dl", T.LongType()),
            ]
        ),
        key=["token", "doc_id"],
        n_buckets=8,
    )
    t.append(pidx.select("token", "doc_id", "tf", "dl"))
    t.rewrite_clustered(["token"], files_per_bucket=6)

    ts = term_stats(docs, min_df=1)
    cs = corpus_stats_from_lengths(doc_lengths(docs))
    # stats sides collected once at index time in this test; the query
    # itself reads ONLY the postings table
    ts_rows = ts.filter(F.col("token").isin(TERMS)).collect()
    ts_small = spark.createDataFrame(ts_rows, ts.schema)
    cs_small = spark.createDataFrame(cs.collect(), cs.schema)

    pruned = read_postings_for_terms(t, TERMS)
    got = bm25_rank_indexed(pruned, ts_small, cs_small, TERMS)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan

    direct = {r.doc_id: r.bm25 for r in bm25_rank(docs, TERMS).collect()}
    indexed = {r.doc_id: r.bm25 for r in got.collect()}
    assert indexed == direct and indexed

    # and the term reads actually SKIP files (not just filter rows)
    snap = t.current_snapshot()
    _, kept, total = t._prune_groups_for_column_range(
        snap, "token", "merge", "merge"
    )
    assert total >= 24 and kept <= total // 3


def _apply_epoch(base, spark, rows, epoch, ver):
    df = spark.createDataFrame(
        rows, "op string, doc_id long, text string"
    ).withColumn("ver", F.lit(ver).cast("long"))
    base.merge_changelog(df, epoch_id=epoch)


@pytest.fixture()
def base_docs_table(spark, tmp_table_dir):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ver", T.LongType()),
        ]
    )
    return LakeTable.create(
        spark,
        f"{tmp_table_dir}/docs",
        schema,
        key=["doc_id"],
        version_order=["ver"],
        n_buckets=4,
    )


def _live_postings(index):
    return sorted(
        (r.token, r.doc_id, r.tf, r.dl)
        for r in index_postings_df(index).collect()
    )


def test_incremental_index_equals_rebuild(spark, tmp_table_dir, base_docs_table):
    base = base_docs_table
    idx = create_search_index(spark, f"{tmp_table_dir}/idx", "doc_id", "bigint")

    # epoch 1: inserts (bootstrap fold = full build of 3 docs)
    _apply_epoch(base, spark, [
        ("U", 1, "alpha beta gamma"),
        ("U", 2, "beta beta delta"),
        ("U", 3, "gamma alpha"),
    ], epoch=1, ver=1)
    sync_search_index(idx, base)

    # epoch 2: update doc 2 (loses 'delta', gains 'omega'), delete doc 3,
    # insert doc 4
    _apply_epoch(base, spark, [
        ("U", 2, "beta omega"),
        ("D", 3, None),
        ("U", 4, "delta delta alpha"),
    ], epoch=2, ver=2)
    r2 = sync_search_index(idx, base)
    assert not r2["postings"].get("skipped")

    # epoch 3: update doc 1 to EMPTY text (all pairs die, dl -> 0),
    # re-insert doc 3
    _apply_epoch(base, spark, [
        ("U", 1, ""),
        ("U", 3, "omega"),
    ], epoch=3, ver=3)
    sync_search_index(idx, base)

    # incremental result == from-scratch rebuild of the final corpus
    idx2 = create_search_index(spark, f"{tmp_table_dir}/idx2", "doc_id", "bigint")
    sync_search_index(idx2, base)  # bootstrap = full build
    assert _live_postings(idx) == _live_postings(idx2)

    # and == the direct in-memory computation over the final live docs
    live = base.read().select("doc_id", "text")
    want = sorted(
        (r.token, r.doc_id, r.tf, r.dl)
        for r in indexed_postings(live).collect()
    )
    assert _live_postings(idx) == want

    # spot-check semantics: doc 2's 'delta' pair is gone, doc 1 empty
    toks = {(t, d) for (t, d, _, _) in _live_postings(idx)}
    assert ("delta", 2) not in toks and ("omega", 2) in toks
    assert not any(d == 1 for (_, d) in toks)
    # lengths: zero-token doc 1 still counts toward N
    stats = index_corpus_stats(idx).collect()[0]
    assert stats.n_docs == 4  # docs 1(empty), 2, 3, 4
    assert stats.total_tokens == 0 + 2 + 1 + 3

    # idempotent re-sync: nothing to fold
    r = sync_search_index(idx, base)
    assert r["postings"]["skipped"] and r["lengths"]["skipped"]


def test_incremental_index_serves_identical_bm25(spark, tmp_table_dir, base_docs_table):
    base = base_docs_table
    idx = create_search_index(spark, f"{tmp_table_dir}/idx", "doc_id", "bigint")
    _apply_epoch(base, spark, [
        ("U", 1, "merge spark window"),
        ("U", 2, "merge merge spark window spark"),
        ("U", 3, "spark only here"),
    ], epoch=1, ver=1)
    sync_search_index(idx, base)
    _apply_epoch(base, spark, [
        ("U", 3, "window merge spark added"),
        ("U", 4, "merge spark window window"),
    ], epoch=2, ver=2)
    sync_search_index(idx, base)

    live = base.read().select("doc_id", "text")
    direct = {r.doc_id: r.bm25 for r in bm25_rank(live, TERMS).collect()}
    indexed = {
        r.doc_id: r.bm25
        for r in bm25_rank_indexed(
            index_postings_df(idx),
            index_term_stats(idx),
            index_corpus_stats(idx),
            TERMS,
        ).collect()
    }
    assert indexed == direct and len(indexed) == 4


def test_multi_epoch_span_telescopes(spark, tmp_table_dir, base_docs_table):
    # sync called once over THREE base epochs must equal per-epoch syncs
    base = base_docs_table
    _apply_epoch(base, spark, [("U", 1, "a b c")], epoch=1, ver=1)
    _apply_epoch(base, spark, [("U", 1, "c d"), ("U", 2, "a")], epoch=2, ver=2)
    _apply_epoch(base, spark, [("D", 2, None), ("U", 3, "b d")], epoch=3, ver=3)

    lazy = create_search_index(spark, f"{tmp_table_dir}/lazy", "doc_id", "bigint")
    sync_search_index(lazy, base)  # one fold over everything (bootstrap)

    eager = create_search_index(spark, f"{tmp_table_dir}/eager", "doc_id", "bigint")
    # replay: bootstrap at epoch-1 state via time travel is not needed —
    # fold after rebuilding each prefix is covered above; here assert
    # the INCREMENTAL path over a widened span: bootstrap on epoch 1's
    # snapshot... simplest honest check: eager syncs now (bootstrap),
    # then base advances twice more and ONE sync folds both epochs.
    _apply_epoch(base, spark, [("U", 4, "e f")], epoch=4, ver=4)
    _apply_epoch(base, spark, [("U", 4, "f g"), ("D", 1, None)], epoch=5, ver=5)
    sync_search_index(eager, base)
    sync_search_index(lazy, base)   # folds epochs 4+5 incrementally
    assert _live_postings(lazy) == _live_postings(eager)
    live = base.read().select("doc_id", "text")
    want = sorted(
        (r.token, r.doc_id, r.tf, r.dl)
        for r in indexed_postings(live).collect()
    )
    assert _live_postings(lazy) == want


def test_index_self_heals_after_snapshot_expiry(spark, tmp_table_dir, base_docs_table):
    """Snapshot expiry breaking the incremental chain falls back to one
    rebuild per side — including deleting the rows of docs that vanished
    meanwhile."""
    base = base_docs_table
    idx = create_search_index(spark, f"{tmp_table_dir}/idx", "doc_id", "bigint")
    _apply_epoch(base, spark, [
        ("U", 1, "alpha beta"),
        ("U", 2, "beta gamma"),
        ("U", 3, "gamma delta"),
    ], epoch=1, ver=1)
    sync_search_index(idx, base)
    _apply_epoch(base, spark, [("D", 2, None)], epoch=2, ver=2)
    _apply_epoch(base, spark, [("U", 3, "omega")], epoch=3, ver=3)
    base.expire_snapshots(retain_last=1)

    r = sync_search_index(idx, base)
    assert not r["postings"].get("skipped") and not r["lengths"].get("skipped")
    fresh = create_search_index(spark, f"{tmp_table_dir}/fresh", "doc_id", "bigint")
    sync_search_index(fresh, base)
    assert _live_postings(idx) == _live_postings(fresh)

    def lengths(index):
        return sorted((x.doc_id, x.dl) for x in index["lengths"].read().collect())

    assert lengths(idx) == lengths(fresh) == [(1, 2), (3, 1)]
    assert not any(d == 2 for (_, d, _, _) in _live_postings(idx))


def test_run_sync_maintains_search_index_in_stream(spark, tmp_table_dir):
    """run_sync(search_index=...) folds the index after every
    micro-batch, in the same sidecar braid as feed/view: the final
    index equals a from-scratch build of the converged table (url-keyed
    pages corpus, multiple epochs)."""
    from web3research_etl_spark.changelog import generate_changelog
    from web3research_etl_spark.schemas import (
        PAGES_KEY,
        PAGES_SCHEMA,
        PAGES_VERSION_ORDER,
    )
    from web3research_etl_spark.streaming.pipeline import run_sync

    ch_dir = f"{tmp_table_dir}/ch"
    generate_changelog(spark, 800).repartition(4).write.parquet(ch_dir)
    base = LakeTable.create(
        spark, f"{tmp_table_dir}/base", PAGES_SCHEMA,
        key=PAGES_KEY, version_order=PAGES_VERSION_ORDER, n_buckets=4,
    )
    idx = create_search_index(
        spark, f"{tmp_table_dir}/idx", id_name="url", id_type="string"
    )
    q = run_sync(
        spark, ch_dir, base, f"{tmp_table_dir}/ckpt",
        available_now=True, max_files_per_trigger=2,
        search_index=idx, search_text_col="text",
    )
    q.awaitTermination()
    assert len(base.committed_epochs()) >= 2  # several folds, not one

    live = base.read().select("url", "text")
    want = sorted(
        (r.token, r.url, r.tf, r.dl)
        for r in indexed_postings(live, id_col="url").collect()
    )
    got = sorted(
        (r.token, r.url, r.tf, r.dl)
        for r in index_postings_df(idx).collect()
    )
    assert got == want and got
    # consumed-through marker rode each fold's commit
    assert (
        idx["postings"].current_snapshot()["summary"]["index_through"]
        == base.current_snapshot()["snapshot_id"]
    )
    # and the stats side agrees with the converged corpus
    n_docs = index_corpus_stats(idx).collect()[0]["n_docs"]
    assert n_docs == live.count()


def test_phrase_search_indexed_equals_direct_no_corpus_scan(spark, tmp_table_dir):
    """Phrase search served from a persisted token-z-ordered positional
    postings LakeTable: row-identical to the direct-scan operator, with
    no documents scan in the plan and file-skipping on token."""
    from web3research_etl_spark.operators.search import (
        phrase_search,
        phrase_search_indexed,
        positional_postings,
        read_postings_for_terms,
    )

    p = f"{tmp_table_dir}/docs"
    spark.createDataFrame(
        [(i, "alpha beta gamma alpha beta" if i % 3 == 0 else "beta alpha delta")
         for i in range(120)],
        "doc_id long, text string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)

    pp = positional_postings(docs)
    t = LakeTable.create(
        spark, f"{tmp_table_dir}/pidx",
        T.StructType([
            T.StructField("token", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("pos", T.IntegerType()),
        ]),
        key=["token", "doc_id", "pos"],
        n_buckets=8,
    )
    t.append(pp.select("token", "doc_id", "pos"))
    t.rewrite_clustered(["token"], files_per_bucket=4)

    pruned = read_postings_for_terms(t, ["alpha", "beta"])
    got = phrase_search_indexed(pruned, "alpha beta")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "docs" not in plan  # no corpus scan anywhere in the plan

    direct = sorted(
        (r.doc_id, r.n_occurrences) for r in phrase_search(docs, "alpha beta").collect()
    )
    served = sorted((r.doc_id, r.n_occurrences) for r in got.collect())
    assert served == direct and served

    # the term reads skip files, not just filter rows
    snap = t.current_snapshot()
    _, kept, total = t._prune_groups_for_column_range(snap, "token", "alpha", "alpha")
    assert kept < total
