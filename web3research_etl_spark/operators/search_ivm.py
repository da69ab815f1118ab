"""Incremental maintenance of the persisted inverted index from the
lake table's CDC stream (VERDICT r4 next #4).

``operators/search.py`` builds the index (postings + doc lengths) as a
full-corpus pass; at 10^10 documents a standing index must instead
ride the change feed the ingest pipeline already produces. This module
folds ``LakeTable.read_changes`` spans into two index LakeTables the
same way ``operators/ivm.sync_view`` folds a grouped aggregate:

- ``postings``  (token, <id>, tf, dl, ver) — key [token, <id>]; one
  row per live (token, document) pair, ``dl`` denormalized for
  join-free BM25 scoring (search.bm25_rank_indexed);
- ``lengths``   (<id>, dl, ver) — key [<id>]; per-document token
  length INCLUDING zero-token docs, the corpus-constants side
  (N = live rows, total_tokens = sum dl).

Fold semantics per span (before-images do the work):
- insert → new postings rows (op U) + a lengths row;
- delete → tombstone every (token, id) pair of the BEFORE image and
  the lengths row;
- update → upsert the AFTER image's pairs, tombstone before-image
  pairs absent from the after image (delete+insert, computed as one
  anti-join on the span's changed docs only — never against the
  standing index).

Each index table is a ``lake/change_span.Fold`` with its own
consumed-through marker (``index_through`` in its commit summary), so
the fold and its bookkeeping commit atomically per table; a crash
between the two tables' folds just leaves one of them a wider
(telescoping, still exact) span to catch up on the next call. A broken
incremental chain (snapshot expiry removed the from-manifest) self-heals
with one full rebuild + reconcile — the same protocol the IVM view
runs.

LWW versioning: every fold stamps its rows with ``ver`` = the base
snapshot id folded through. Spans are strictly increasing, so replaying
a fold hits the idempotent epoch skip, and out-of-order folds cannot
resurrect stale rows.

Reference parity note: the reference has no search index at all; this
is the engine's own standing-derived-table machinery (cdc feed → IVM)
applied to the retrieval index a training-data pipeline keeps next to
the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web3research_etl_spark.lake.change_span import ChangeSpan, Fold, SpanRead
from web3research_etl_spark.lake.table import LakeTable
from web3research_etl_spark.operators.search import doc_lengths, doc_tokens, indexed_postings

_THROUGH = "index_through"


def create_search_index(
    spark: SparkSession,
    path: str,
    id_name: str = "doc_id",
    id_type: str = "bigint",
    n_buckets: int = 8,
) -> dict:
    """Create the two empty index LakeTables under ``path``. ``id_name``
    / ``id_type`` mirror the BASE table's key column (url:string for the
    pages table, doc_id:bigint for the documents corpus)."""
    id_field = T.StructField(id_name, _parse(id_type))
    postings_schema = T.StructType(
        [
            T.StructField("token", T.StringType()),
            id_field,
            T.StructField("tf", T.LongType()),
            T.StructField("dl", T.LongType()),
            T.StructField("ver", T.LongType()),
        ]
    )
    lengths_schema = T.StructType(
        [
            id_field,
            T.StructField("dl", T.LongType()),
            T.StructField("ver", T.LongType()),
        ]
    )
    return {
        "postings": LakeTable.create(
            spark,
            f"{path}/postings",
            postings_schema,
            key=["token", id_name],
            version_order=["ver"],
            n_buckets=n_buckets,
        ),
        "lengths": LakeTable.create(
            spark,
            f"{path}/lengths",
            lengths_schema,
            key=[id_name],
            version_order=["ver"],
            n_buckets=n_buckets,
        ),
        "id_name": id_name,
    }


def load_search_index(spark: SparkSession, path: str) -> dict:
    postings = LakeTable.load(spark, f"{path}/postings")
    return {
        "postings": postings,
        "lengths": LakeTable.load(spark, f"{path}/lengths"),
        "id_name": postings.current_snapshot()["key"][1],
    }


def _parse(ddl: str) -> T.DataType:
    return T.StructType.fromDDL(f"x {ddl}")[0].dataType


def sync_search_index(
    index: dict, base: LakeTable, text_col: str = "text", span: ChangeSpan | None = None
) -> dict:
    """Advance both index tables to the base table's current snapshot —
    the call a pipeline makes after each epoch's merge (or on any
    cadence; spans telescope). Returns per-table fold results. A shared
    ``span`` (``lake/change_span``) pins both folds to ``span.head`` and
    is read by each side whose marker reduces to its start."""
    postings, lengths = index_folds(index, base, text_col)
    return {"postings": postings.sync(base, span), "lengths": lengths.sync(base, span)}


def index_folds(index: dict, base: LakeTable, text_col: str = "text") -> list[Fold]:
    """The postings and lengths tables as two Folds over one
    span read (the key and both images' text). Their rebuild reads the
    base snapshot at the fold's head — at scale the whole corpus, so
    only a fresh index or a broken chain takes it."""
    id_col = index["id_name"]
    read = SpanRead(
        {n: F.col(n) for n in [id_col, "change_type", text_col, f"old_{text_col}"]},
        payload=True,
        before=True,
    )

    def docs(head: int) -> DataFrame:
        return base.read(head).select(id_col, text_col)

    return [
        Fold(
            index["postings"], _THROUGH, read,
            lambda chg, head: _postings_delta(chg, text_col, id_col, head),
            lambda head: _with_ver(
                indexed_postings(docs(head), text_col=text_col, id_col=id_col), head
            ),
        ),
        Fold(
            index["lengths"], _THROUGH, read,
            lambda chg, head: _lengths_delta(chg, text_col, id_col, head),
            lambda head: _with_ver(
                doc_lengths(docs(head), text_col=text_col, id_col=id_col), head
            ),
        ),
    ]


def _with_ver(df: DataFrame, ver: int) -> DataFrame:
    return df.withColumn("ver", F.lit(ver).cast("long"))


def _with_op_ver(df: DataFrame, op: str, ver: int) -> DataFrame:
    return _with_ver(df.withColumn("op", F.lit(op)), ver)


def _postings_delta(
    chg: DataFrame, text_col: str, id_col: str, ver: int
) -> DataFrame:
    """U rows for every (token, id) pair of the span's after-images,
    D rows for before-image pairs absent from the after image. Both
    sides cover only the span's CHANGED documents — the anti-join never
    touches the standing index."""
    new_side = chg.filter(F.col("change_type") != "delete").select(
        id_col, text_col
    )
    old_side = chg.filter(F.col("change_type") != "insert").select(
        id_col, F.col(f"old_{text_col}").alias(text_col)
    )
    newp = indexed_postings(new_side, text_col=text_col, id_col=id_col)
    old_pairs = (
        doc_tokens(old_side, text_col=text_col, keep=(id_col,))
        .select("token", id_col)
        .distinct()
    )
    dead = old_pairs.join(
        newp.select("token", id_col), ["token", id_col], "left_anti"
    )
    return _with_op_ver(newp, "U", ver).unionByName(
        _with_op_ver(
            dead.withColumn("tf", F.lit(None).cast("long")).withColumn(
                "dl", F.lit(None).cast("long")
            ),
            "D",
            ver,
        )
    )


def _lengths_delta(
    chg: DataFrame, text_col: str, id_col: str, ver: int
) -> DataFrame:
    ups = doc_lengths(
        chg.filter(F.col("change_type") != "delete").select(id_col, text_col),
        text_col=text_col,
        id_col=id_col,
    )
    dels = chg.filter(F.col("change_type") == "delete").select(
        id_col, F.lit(None).cast("long").alias("dl")
    )
    return _with_op_ver(ups, "U", ver).unionByName(
        _with_op_ver(dels, "D", ver)
    )


def index_postings_df(index: dict) -> DataFrame:
    """The live postings in bm25_rank_indexed's input shape."""
    return index["postings"].read().select(
        "token", index["id_name"], "tf", "dl"
    )


def index_term_stats(index: dict, min_df: int = 1) -> DataFrame:
    """(token, df, cf) from the live postings — the term-stats side of
    the index, derived rather than separately maintained (one combinable
    agg over the skinny postings table; df = live pair count because
    (token, id) is the table key)."""
    return (
        index["postings"]
        .read()
        .groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("cf"),
        )
        .filter(F.col("df") >= min_df)
    )


def index_corpus_stats(index: dict) -> DataFrame:
    """One row (n_docs, total_tokens) from the lengths table."""
    return index["lengths"].read().agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )
