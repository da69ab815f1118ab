"""Inverted-index construction and conjunctive keyword search over the
documents corpus — the "grep the crawl" operators a training-data
pipeline runs for corpus exploration, targeted extraction ("all docs
mentioning X and Y") and building retrieval indexes.

Tokenization is deliberately engine-portable: ``split(lower(text),
'[^a-z0-9]+')`` uses only a character class (RE2 ∩ Java-regex common
subset, same trick as operators/curate.py's PII patterns), so the
DuckDB oracle tokenizes byte-identically and every operator here is
hash-gated, not rows-only.

Scale shape at 10^10 documents:
- ``keyword_search`` pre-filters with scan-fused ``contains()`` on the
  RAW text — a conservative superset of the token predicate (substring
  ⊇ word) that Catalyst pushes into the scan, so the explode (the
  expensive 1→n_tokens row amplification) runs only on candidate
  documents, and only candidate (doc_id, token) pairs — two skinny
  columns — ever cross the shuffle. Payload text never shuffles.
- ``postings``/``term_stats`` are one explode + one combinable
  aggregation: map-side combine collapses a token's per-partition
  occurrences before the exchange, so shuffle volume is
  per-partition-DISTINCT tokens, not token occurrences. The index build
  is the classic MapReduce inverted-index shape — embarrassingly
  partition-parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# one token grammar for index build and search (and the DuckDB oracle)
TOKEN_SPLIT_PATTERN = "[^a-z0-9]+"


def _normalize_terms(terms: list[str]) -> list[str]:
    """Validate + dedupe a query's term list (order-preserving).

    Raised early because both failure modes are silent downstream: an
    empty list builds an invalid filter (bm25) or matches nothing
    meaningful, and a DUPLICATED term makes keyword_search's
    countDistinct(token) == len(terms) conjunction unsatisfiable — every
    query with a repeated word returned empty (ADVICE r4)."""
    import re

    if not terms:
        raise ValueError("terms must be a non-empty list of tokens")
    for t in terms:
        if not re.fullmatch("[a-z0-9]+", t):
            raise ValueError(f"term {t!r} is not a lowercase alnum token")
    return list(dict.fromkeys(terms))


def doc_tokens(
    docs: DataFrame, text_col: str = "text", keep: tuple = ("doc_id",)
) -> DataFrame:
    """(*keep, token) — one row per token OCCURRENCE per document.
    Two-stage projection (the operators/text.exploded_shingles lesson:
    no expensive expression inside a per-element lambda — split runs
    once per doc, the explode is pure row amplification)."""
    staged = docs.select(
        *keep, F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_PATTERN).alias("__t")
    )
    return staged.select(*keep, F.explode("__t").alias("token")).filter(
        F.col("token") != ""
    )


def postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The inverted index: (token, <id>, tf) — one row per distinct
    (token, document) pair with its in-document term frequency. Write
    it bucketed/sorted by token and lookups are a metadata-pruned
    single-bucket read (LakeTable with key=[token, id_col]).
    ``id_col`` names the document key (doc_id for the documents corpus,
    url for the pages table)."""
    return (
        doc_tokens(docs, text_col=text_col, keep=(id_col,))
        .groupBy("token", id_col)
        .agg(F.count("*").alias("tf"))
    )


def term_stats(
    docs: DataFrame, min_df: int = 2, text_col: str = "text"
) -> DataFrame:
    """Per-token corpus statistics: document frequency (docs containing
    the token) and collection frequency (total occurrences) — the df/cf
    table BM25/TF-IDF scoring reads, and the vocabulary report corpus
    curation eyeballs. ``min_df`` bounds the long unique-token tail
    (typos, ids) out of the result."""
    return (
        doc_tokens(docs, text_col=text_col)
        .groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count("*").alias("cf"),
        )
        .filter(F.col("df") >= min_df)
    )


def bm25_rank(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranking of the conjunctive-match candidates for ``terms`` —
    the scoring step after :func:`keyword_search`'s retrieval step.

    Returns (doc_id, bm25) where bm25 = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1 − b + b·len/avgdl)), idf(t) = ln((N − df + 0.5)/(df +
    0.5) + 1) — the Robertson plus-one form (always positive).

    Determinism (the oracle contract): the per-term partial scores are
    SUMMED AS FIXED COLUMNS in term order, never float-aggregated across
    rows (float addition is not associative; an agg's order depends on
    partitioning), every input to the float math is an exact integer
    (tf, df, N, doc/corpus token counts), and the final score carries
    one terminal round(…, 6). The DuckDB oracle evaluates the
    structurally identical expression tree.

    Scale shape: corpus statistics (N, total tokens, AND every term's
    df as conditional sums sharing one per-row split) reduce to ONE
    aggregation pass over the corpus and ONE broadcast row — two corpus
    scans total including the candidate pass, independent of term
    count; candidates pivot to one row per doc (fixed term columns,
    scan-fused contains() pre-filter so only they pay the split); the
    stats row cross-joins in as a broadcast. Payload text never
    shuffles, and nothing here explodes rows at all."""
    terms = _normalize_terms(terms)

    def _toklen(col: Column) -> Column:
        # length in TOKENIZER tokens (size of the split minus empties) —
        # must agree with doc_tokens, not with \S+ word counting
        return F.size(
            F.filter(
                F.split(F.lower(col), TOKEN_SPLIT_PATTERN), lambda x: x != ""
            )
        ).cast("bigint")

    # one-row corpus stats: N docs, total token count (avgdl = total/N
    # evaluated INSIDE the score expression so both engines divide the
    # same exact integers) AND every term's document frequency — ONE
    # aggregation pass over the corpus (conditional sums share the
    # per-row split), not one scan per term; with 3 terms this takes
    # bm25_rank from 5 corpus scans to 2 (stats + candidates)
    split_col = F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_PATTERN)
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(_toklen(F.col(text_col))).alias("total_tokens"),
        *[
            F.sum(F.array_contains(split_col, t).cast("bigint")).alias(
                f"df_{i}"
            )
            for i, t in enumerate(terms)
        ],
    )

    # candidate docs: conjunctive pre-filter, then per-term tf pivot +
    # doc length — one combinable aggregation, fixed columns
    pre = docs
    for t in terms:
        pre = pre.filter(F.contains(F.lower(F.col(text_col)), F.lit(t)))
    staged = pre.select(
        id_col, _toklen(F.col(text_col)).alias("dl"),
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_PATTERN).alias("__t"),
    )
    tf_cols = [
        F.size(F.filter("__t", lambda x: x == F.lit(t)))
        .cast("bigint")
        .alias(f"tf_{i}")
        for i, t in enumerate(terms)
    ]
    cand = staged.select(id_col, "dl", *tf_cols).filter(
        " AND ".join(f"tf_{i} > 0" for i in range(len(terms)))
    )

    scored = cand.crossJoin(F.broadcast(stats))
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast(
        "double"
    )
    parts = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        dfv = F.col(f"df_{i}").cast("double")
        n = F.col("n_docs").cast("double")
        idf = F.log((n - dfv + F.lit(0.5)) / (dfv + F.lit(0.5)) + F.lit(1.0))
        denom = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
        )
        parts.append(idf * (tf * F.lit(k1 + 1.0)) / denom)
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    return scored.select(id_col, F.round(total, 6).alias("bm25"))


def keyword_search(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Conjunctive (AND) keyword search: documents containing EVERY term
    in ``terms`` as a whole token, with the summed term frequency.

    Returns (doc_id, n_terms_matched, tf_sum) — n_terms_matched always
    equals len(terms) on output rows; it is kept so relaxing to
    disjunction is a one-line filter change for callers.

    ``terms`` must already be in token form (lowercase alphanumeric) —
    raise early otherwise, a mixed-case term would silently match
    nothing."""
    terms = _normalize_terms(terms)
    # scan-fused conservative pre-filter: substring containment is a
    # superset of whole-token match, evaluated on the raw text inside
    # the scan stage — non-candidate docs never reach the explode
    pre = docs
    for t in terms:
        pre = pre.filter(F.contains(F.lower(F.col(text_col)), F.lit(t)))
    tok = doc_tokens(pre, text_col=text_col, keep=(id_col,)).filter(
        F.col("token").isin(list(terms))
    )
    return (
        tok.groupBy(id_col)
        .agg(
            F.countDistinct("token").alias("n_terms_matched"),
            F.count("*").alias("tf_sum"),
        )
        .filter(F.col("n_terms_matched") == len(terms))
    )


# ---------------------------------------------------------------------------
# Query-through-the-index operators (VERDICT r4 next #3)
#
# bm25_rank/keyword_search above scan the raw corpus per query — correct
# and 2-scan-efficient as direct queries, but at 10^10 documents a
# per-query corpus scan is the one thing an inverted index exists to
# avoid. The operators below serve the SAME results from the persisted
# index tables this module already builds: candidates come from the
# postings rows for the query's terms (file-skipped by token when the
# postings LakeTable is z-order-clustered on token), df/cf from the
# term-stats table, doc length from a per-posting denormalized ``dl``
# (the classic impact-ordered-postings trick: +8 bytes per posting buys
# scoring with ZERO joins against corpus-sized tables). The corpus
# payload is never touched at query time.
# ---------------------------------------------------------------------------


def doc_lengths(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, dl) — per-document length in TOKENIZER tokens, including
    zero-token documents (they count toward N/avgdl exactly as the
    direct path's corpus aggregate counts them). Computed with the same
    split-size expression bm25_rank uses, so both paths feed identical
    exact integers into the float math."""
    return docs.select(
        id_col,
        F.size(
            F.filter(
                F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_PATTERN),
                lambda x: x != "",
            )
        )
        .cast("bigint")
        .alias("dl"),
    )


def corpus_stats_from_lengths(lengths: DataFrame) -> DataFrame:
    """One row (n_docs, total_tokens) from a (doc_id, dl) frame — the
    BM25 corpus constants, derivable from the persisted doc-lengths
    side of the index without touching payload text."""
    return lengths.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )


def indexed_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The scoring-ready inverted index: (token, doc_id, tf, dl) —
    :func:`postings` with the document's token length denormalized onto
    every posting. One extra join at BUILD time (amortized over every
    query) so query-time scoring needs no corpus-sized join at all."""
    return postings(docs, text_col=text_col, id_col=id_col).join(
        doc_lengths(docs, text_col=text_col, id_col=id_col), id_col
    )


def keyword_search_indexed(
    postings_df: DataFrame, terms: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """:func:`keyword_search`, served from the index: same
    (doc_id, n_terms_matched, tf_sum) result, computed from postings
    rows alone. ``postings_df`` is any frame with (token, doc_id, tf) —
    typically :func:`read_postings_for_terms` over the persisted
    z-ordered postings LakeTable, where the term filter becomes
    file-level skipping instead of a corpus scan."""
    terms = _normalize_terms(terms)
    return (
        postings_df.filter(F.col("token").isin(list(terms)))
        .groupBy(id_col)
        .agg(
            F.countDistinct("token").alias("n_terms_matched"),
            F.sum("tf").alias("tf_sum"),
        )
        .filter(F.col("n_terms_matched") == len(terms))
    )


def bm25_rank_indexed(
    postings_df: DataFrame,
    term_stats_df: DataFrame,
    corpus_stats_df: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`bm25_rank`, served from the index: float-identical
    (doc_id, bm25) scores with ZERO corpus scans at query time.

    Inputs: ``postings_df`` (token, doc_id, tf, dl) — see
    :func:`indexed_postings`; ``term_stats_df`` (token, df, …) built
    with ``min_df=1`` (a thresholded stats table would under-count df
    for rare terms and silently change scores); ``corpus_stats_df`` one
    row (n_docs, total_tokens) — see :func:`corpus_stats_from_lengths`.

    Determinism: every float input is the same exact integer the direct
    path derives from the raw text (tf = in-doc occurrences, df = docs
    containing the token, dl/total = tokenizer lengths), and the score
    expression tree is copied from :func:`bm25_rank` operand-for-operand
    (fixed per-term columns summed in term order, one terminal
    round(…, 6)) — so direct, indexed, and the DuckDB oracle agree
    bit-for-bit, which the tests assert with == not approx.

    Scale shape: the term filter touches only the query's postings
    (file-skipped by token on a z-ordered postings table); the pivot to
    one row per candidate doc shuffles skinny (doc_id, tf, dl) rows; the
    stats side reduces to ONE broadcast row (term df pivot × corpus
    constants). Nothing corpus-sized moves."""
    terms = _normalize_terms(terms)

    # one broadcast stats row: corpus constants × per-term df pivot
    ts_row = term_stats_df.filter(F.col("token").isin(list(terms))).agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("token") == F.lit(t), F.col("df"))),
                F.lit(0).cast("long"),
            ).alias(f"df_{i}")
            for i, t in enumerate(terms)
        ]
    )
    stats = corpus_stats_df.crossJoin(ts_row)

    # candidates: postings for the query's terms, pivoted to one row per
    # doc with fixed per-term tf columns; conjunctive = every tf present
    cand = (
        postings_df.filter(F.col("token").isin(list(terms)))
        .groupBy(id_col)
        .agg(
            *[
                F.max(
                    F.when(F.col("token") == F.lit(t), F.col("tf"))
                ).alias(f"tf_{i}")
                for i, t in enumerate(terms)
            ],
            F.max("dl").alias("dl"),
        )
        .filter(" AND ".join(f"tf_{i} IS NOT NULL" for i in range(len(terms))))
    )

    scored = cand.crossJoin(F.broadcast(stats))
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast(
        "double"
    )
    parts = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        dfv = F.col(f"df_{i}").cast("double")
        n = F.col("n_docs").cast("double")
        idf = F.log((n - dfv + F.lit(0.5)) / (dfv + F.lit(0.5)) + F.lit(1.0))
        denom = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
        )
        parts.append(idf * (tf * F.lit(k1 + 1.0)) / denom)
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    return scored.select(id_col, F.round(total, 6).alias("bm25"))


def read_postings_for_terms(table, terms: list[str]) -> DataFrame:
    """Token-pruned read of a persisted postings LakeTable: one
    file-skipped column-range read per term (the z-order clustered
    per-column stats path, LakeTable.read_for_column_range), unioned.
    Terms are disjoint point predicates so the union has no overlap.
    On a table without column stats every leg degrades to a full scan
    with the residual filter — conservative, never wrong."""
    terms = _normalize_terms(terms)
    out = None
    for t in terms:
        leg = table.read_for_column_range("token", t, t)
        out = leg if out is None else out.unionByName(leg)
    return out


def positional_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(token, <id>, pos) — one row per token OCCURRENCE with its
    0-based position in the tokenizer stream. Positions are counted
    over NON-empty tokens (the split pattern emits a leading '' for
    text starting with punctuation), so adjacency means "next word",
    matching what a phrase query needs. Same two-stage projection as
    :func:`doc_tokens`: split+filter run once per document, posexplode
    is pure row amplification."""
    staged = docs.select(
        id_col,
        F.filter(
            F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_PATTERN),
            lambda x: x != "",
        ).alias("__t"),
    )
    return staged.select(id_col, F.posexplode("__t").alias("pos", "token"))


def _phrase_terms(phrase: str) -> list[str]:
    """Tokenize a phrase query with the corpus tokenizer (NOT
    deduplicated — a phrase legitimately repeats words)."""
    import re

    terms = [t for t in re.split(TOKEN_SPLIT_PATTERN, phrase.lower()) if t]
    if not terms:
        raise ValueError("phrase must contain at least one alnum token")
    return terms


def phrase_search(
    docs: DataFrame, phrase: str, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-phrase search: (<id>, n_occurrences) for documents whose
    token stream contains the phrase's tokens CONSECUTIVELY — the
    operator a decontamination pass runs for benchmark passages and a
    corpus-exploration pass runs for multi-word entities, where
    conjunctive :func:`keyword_search` over-matches (terms anywhere in
    the document).

    Plan shape: scan-fused ``contains()`` pre-filters on the raw text
    for every term (substring ⊇ token ⊇ phrase member — conservative,
    pushed into the parquet scan), then ONE positional-postings
    explode of the surviving docs filtered to the phrase's terms. The
    n-way adjacency is n-1 equi-joins on ``(<id>, pos)`` with the i-th
    term's positions shifted by -i: only skinny (id, pos) pairs
    shuffle, never text. A repeated term in the phrase joins the same
    skinny side twice — no special case. Single-term phrases reduce to
    an occurrence count."""
    terms = _phrase_terms(phrase)
    pre = docs
    for t in set(terms):
        pre = pre.filter(F.contains(F.lower(F.col(text_col)), F.lit(t)))
    pp = positional_postings(pre, text_col=text_col, id_col=id_col).filter(
        F.col("token").isin(list(set(terms)))
    )
    start = pp.filter(F.col("token") == terms[0]).select(id_col, "pos")
    for i, t in enumerate(terms[1:], 1):
        nxt = pp.filter(F.col("token") == t).select(
            id_col, (F.col("pos") - i).alias("pos")
        )
        start = start.join(nxt, [id_col, "pos"])
    return start.groupBy(id_col).agg(F.count("*").alias("n_occurrences"))


def phrase_search_indexed(
    pos_postings_df: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`phrase_search`, served from a persisted positional
    postings table with ZERO corpus scans at query time.

    ``pos_postings_df`` is any frame with (token, <id>, pos) —
    typically :func:`read_postings_for_terms` over a positional
    postings LakeTable z-ordered on token, where the per-term filter
    becomes file-level skipping. Results are row-identical to the
    direct-scan operator (both consume the same tokenizer stream).

    Scale shape: only the phrase's terms' occurrence rows are read
    (file-skipped by token); adjacency is the same n-1 skinny
    (<id>, pos) equi-joins; nothing corpus-sized moves. The positional
    table is one posexplode bigger than the tf-postings table (a row
    per occurrence, not per pair) — the standard positional-index
    trade, paid at build time."""
    terms = _phrase_terms(phrase)
    pp = pos_postings_df.filter(F.col("token").isin(list(set(terms))))
    start = pp.filter(F.col("token") == terms[0]).select(id_col, "pos")
    for i, t in enumerate(terms[1:], 1):
        nxt = pp.filter(F.col("token") == t).select(
            id_col, (F.col("pos") - i).alias("pos")
        )
        start = start.join(nxt, [id_col, "pos"])
    return start.groupBy(id_col).agg(F.count("*").alias("n_occurrences"))
