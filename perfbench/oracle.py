"""Correctness gate: independent recomputations the engine's outputs must
equal. Runs outside every timed region. Each function returns
``(compared, mismatches)`` — the items it checked and how many differed.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def lww_live(files: list[str]) -> pa.Table:
    """Last-writer-wins live state of a changelog, by DuckDB
    ``row_number()`` over (warc_ts, event_seq) descending per url."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            SELECT url, epoch_us(warc_ts) AS ts, event_seq, lang, html
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY url ORDER BY warc_ts DESC, event_seq DESC) AS rn
              FROM read_parquet({_sql_list(files)}))
            WHERE rn = 1 AND op <> 'D'
            """
        ).arrow()
    finally:
        con.close()


def _digest(b: bytes | None) -> str | None:
    return None if b is None else hashlib.md5(b).hexdigest()


def _by_url(t: pa.Table) -> dict:
    cols = t.to_pydict()
    return {
        u: (ts, seq, lang, _digest(h))
        for u, ts, seq, lang, h in zip(
            cols["url"], cols["ts"], cols["event_seq"], cols["lang"], cols["html"]
        )
    }


def check_base(engine: pa.Table, oracle: pa.Table) -> tuple[int, int]:
    """Live keys, versions, lang and html digest per url."""
    e, o = _by_url(engine), _by_url(oracle)
    keys = e.keys() | o.keys()
    return len(keys), sum(1 for k in keys if e.get(k) != o.get(k))


class ReferenceText:
    """``extract_text_bytes`` (the golden-fixture reference extractor),
    memoised by html digest: the gate extracts the same pages for the
    search oracle, the text check and the space baseline."""

    def __init__(self):
        self._memo: dict = {}

    def texts(self, htmls: list) -> list:
        from web3research_etl_spark.functions.extract import extract_text_bytes

        out = []
        for h in htmls:
            d = _digest(h)
            if d not in self._memo:
                self._memo[d] = extract_text_bytes(h)
            out.append(self._memo[d])
        return out


def check_text(engine: pa.Table, reference: ReferenceText) -> tuple[int, int]:
    """Each stored ``text`` equals the reference extractor on its html."""
    want = reference.texts(engine.column("html").to_pylist())
    got = engine.column("text").to_pylist()
    return engine.num_rows, sum(1 for a, b in zip(got, want) if a != b)


def check_lookups(results: list[tuple[str, list]], oracle: pa.Table) -> tuple[int, int]:
    """Each point lookup returned exactly the oracle's live version."""
    o = _by_url(oracle)
    bad = 0
    for key, rows in results:
        want = o.get(key)
        got = [(r["ts"], r["event_seq"]) for r in rows]
        if got != ([] if want is None else [(want[0], want[1])]):
            bad += 1
    return len(results), bad


def check_view(view_rows: list[dict], engine: pa.Table) -> tuple[int, int]:
    """Grouped view (lang → n_rows, sum of content_len) against a
    recompute over the live base."""
    want: dict = {}
    cols = engine.to_pydict()
    for lang, v in zip(cols["lang"], cols["content_len"]):
        n, s = want.get(lang, (0, 0))
        want[lang] = (n + 1, s + (v or 0))
    got = {r["lang"]: (r["n_rows"], int(r["total_value"])) for r in view_rows}
    keys = want.keys() | got.keys()
    return len(keys), sum(1 for k in keys if want.get(k) != got.get(k))


_TOKEN_SPLIT = re.compile("[^a-z0-9]+")  # operators/search.TOKEN_SPLIT_PATTERN


class SearchOracle:
    """Keyword and BM25 top-k recomputed in Python over live (url, text)
    rows, with the tokenizer and score formula of operators/search."""

    def __init__(self, urls: list[str], texts: list[str], k1: float = 1.2, b: float = 0.75):
        self.tf = {
            u: Counter(t for t in _TOKEN_SPLIT.split((x or "").lower()) if t)
            for u, x in zip(urls, texts)
        }
        self.k1, self.b = k1, b
        self.n_docs = len(self.tf)
        self.total = sum(sum(c.values()) for c in self.tf.values())

    def top_k(self, kind: str, terms: list[str], k: int) -> list[tuple]:
        hits = {u: c for u, c in self.tf.items() if all(c[t] for t in terms)}
        if kind == "keyword":
            scored = [(u, sum(c[t] for t in terms)) for u, c in hits.items()]
        else:
            n = float(self.n_docs)
            avgdl = float(self.total) / n
            dfs = [float(sum(1 for c in self.tf.values() if c[t])) for t in terms]
            scored = []
            for u, c in hits.items():
                dl = float(sum(c.values()))
                score = 0.0
                for t, dfv in zip(terms, dfs):
                    tf = float(c[t])
                    idf = math.log((n - dfv + 0.5) / (dfv + 0.5) + 1.0)
                    denom = tf + self.k1 * (1.0 - self.b + self.b * (dl / avgdl))
                    score = score + idf * (tf * (self.k1 + 1.0)) / denom
                scored.append((u, score))
        scored.sort(key=lambda r: (-r[1], r[0]))
        return scored[:k]


def check_search(measured: list[tuple], oracle: SearchOracle, k: int) -> tuple[int, int]:
    """Each measured top-k list (kind, terms, [(url, score)]) against the
    oracle: same urls in the same order, scores within 1e-6 (the engine
    rounds BM25 to 6 places)."""
    bad = 0
    for kind, terms, got in measured:
        want = oracle.top_k(kind, terms, k)
        same = len(got) == len(want) and all(
            gu == wu and abs(gs - ws) <= 1e-6 for (gu, gs), (wu, ws) in zip(got, want)
        )
        bad += not same
    return len(measured), bad


def parquet_bytes(table: pa.Table, path: str) -> int:
    """Bytes of ``table`` written once as zstd parquet."""
    pq.write_table(table, path, compression="zstd")
    return os.path.getsize(path)
