"""The benchmark's two workloads, driven through the engine's public API.

Every run has the same timed phases, so every workload reports every
end-to-end metric:

- **setup**: Spark session, changelog generation, pre-population and
  derived-table bootstrap, and the untimed warm-up calls of the serve
  phase (``setup_s``);
- **ingest**: ``run_sync`` over the changelog (``events_per_s``,
  ``epoch_ms_p50``);
- **serve** (traced runs only): one closed-loop client issuing point
  lookups, then top-k keyword / BM25 queries;
- **check** (traced runs only): ``reconcile_window`` + ``heal`` + a
  confirming reconcile over the one changelog file ingest skipped.

Serve and check run only in the traced run, which reports them as
per-layer metrics. Search and check do not fit a run of about a minute
(a scan of every page per query, a copy-on-write rewrite of the table per
heal), and lookup latency moved 200-320 ms between otherwise steady runs
on a shared 4-core host, wider than any bound the benchmark may set.

The workloads differ in input shape and table configuration, so each
stresses other layers:

- ``backfill``: a bounded ``available_now`` drain of ~4 KB pages into a
  fresh copy-on-write table in two large triggers, registry and ledger
  on, no sidecars. Extraction, the LWW merge and the bucketed write do
  the work.
- ``tail``: the long-running ``sync`` shape. A pre-populated table takes
  one-file triggers as merge-on-read deltas with the CDC feed and the
  grouped view folded inline and maintenance after every epoch.
  Per-epoch fixed costs dominate. Its lookups read compacted base files
  and the epoch's delta generation.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

from perfbench import oracle
from perfbench.inputs import (
    ChangelogSpec,
    check_fingerprint,
    fingerprint,
    load_fingerprints,
    write_changelog,
)
from perfbench.stats import percentile


@dataclass(frozen=True)
class Workload:
    name: str
    changelog: ChangelogSpec
    tail: bool  # closed-loop triggers on a running query (else bounded drains)
    prepop_files: int  # leading files applied during setup
    files_per_trigger: int


WORKLOADS = {
    "backfill": Workload(
        name="backfill",
        changelog=ChangelogSpec(events=25000, files=5, domains=50),
        tail=False,
        prepop_files=0,
        files_per_trigger=2,
    ),
    "tail": Workload(
        name="tail",
        changelog=ChangelogSpec(events=3000, files=12, domains=5),
        tail=True,
        prepop_files=6,
        files_per_trigger=1,
    ),
}

N_BUCKETS = 16  # LakeTable.create's default, as the CLI creates tables
TOP_K = 10
SEARCH_WORDS = ["tail", "content", "title", "rev", "page", "friends"]
LOOKUPS = 15
WARM_LOOKUPS = 12
SEARCHES = 2
TAIL_MIN_EPOCHS = 2  # fed even past the deadline: a median of two epochs, not one
TAIL_MAINTAIN_EVERY = 1


def _view_value(col):
    from pyspark.sql import functions as F

    return F.round(col("content_len"), 2).cast("decimal(18,2)")


def progress_dicts(query) -> list[dict]:
    """Completed triggers that applied data, as plain dicts."""
    import json

    progress = (json.loads(p.json) for p in query.recentProgress)
    return [d for d in progress if d["numInputRows"]]


def dir_bytes(*paths: str) -> int:
    total = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Run:
    """State of one benchmark run: session, directories, spans, tallies."""

    def __init__(self, spark, work: str, wl: Workload, seed: int, seconds: float, tracer):
        self.spark = spark
        self.work = work
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.gate: dict = {}
        self.samples: dict[str, list[float]] = {}
        self.values: dict[str, float] = {}
        self.roles: dict[str, str] = {}
        self.memory = None  # PeakMemory, paused while the gate runs
        self.extractor = oracle.ReferenceText()

    def pause_memory(self, paused: bool) -> None:
        if self.memory is not None:
            self.memory.active = not paused

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def timed(self, name: str, trace=None, fn=None):
        """Run ``fn`` as one attempted operation inside a span; an
        exception counts as a failed operation and is re-raised."""
        self.attempted += 1
        try:
            with self.tracer.span(name, trace=trace) as s:
                out = fn()
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}")
            raise
        return out, (s["end"] - s["start"])

    def gate_check(self, name: str, result: tuple[int, int]) -> None:
        compared, bad = result
        self.gate[name] = {"compared": compared, "mismatches": bad}
        self.attempted += compared
        self.failed += bad


# ----------------------------------------------------------------- setup
def generate_inputs(run: Run) -> tuple[list[str], float]:
    t0 = time.perf_counter()
    files = write_changelog(run.spark, run.path("changelog"), run.wl.changelog, run.seed)
    return files, time.perf_counter() - t0


def _read_files(run: Run, files: list[str]):
    from web3research_etl_spark.schemas import CHANGELOG_SCHEMA

    return run.spark.read.schema(CHANGELOG_SCHEMA).parquet(*files)


def _new_table(run: Run, name: str):
    from web3research_etl_spark.lake.table import LakeTable
    from web3research_etl_spark.schemas import PAGES_KEY, PAGES_SCHEMA, PAGES_VERSION_ORDER

    t = LakeTable.create(
        run.spark,
        run.path(name),
        PAGES_SCHEMA,
        key=PAGES_KEY,
        version_order=PAGES_VERSION_ORDER,
        n_buckets=N_BUCKETS,
    )
    run.roles[t.path] = "pages"
    return t


def _new_ledger(run: Run, name: str):
    from web3research_etl_spark.ledger import open_ledger

    led = open_ledger(run.spark, run.path(name))
    run.roles[led.path] = "ledger"
    return led


def warm_up(run: Run, files: list[str], registry) -> None:
    """One small epoch on a throwaway table, so the first measured
    trigger does not pay the JVM's and the Python workers' first-call
    costs (~5 s of a ~13 s first trigger)."""
    from pyspark.sql import functions as F

    from web3research_etl_spark.operators.apply import apply_changelog_batch

    table = _new_table(run, "warm")
    ledger = _new_ledger(run, "warm_ledger")
    batch = _read_files(run, files[:1]).filter(F.pmod("event_seq", F.lit(8)) == 0)
    apply_changelog_batch(table, batch, 0, ledger=ledger, registry=registry)


class Sidecars:
    """The tail's derived tables: the CDC feed and a grouped view."""

    def __init__(self, run: Run, table):
        from pyspark.sql import types as T

        from web3research_etl_spark.lake.table import LakeTable

        self.feed_dir = run.path("feed")
        self.view = LakeTable.create(
            run.spark,
            run.path("view"),
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
            n_buckets=4,
        )
        run.roles[self.view.path] = "view"
        self.paths = [self.feed_dir, self.view.path]

    def bootstrap(self, table) -> None:
        from web3research_etl_spark.lake.cdc_feed import publish_changes
        from web3research_etl_spark.operators.ivm import sync_view

        publish_changes(table, self.feed_dir)
        sync_view(self.view, table, "lang", _view_value)


# ---------------------------------------------------------------- ingest
def events_in(files: list[str]) -> int:
    """Changelog events in ``files`` (a trigger's numInputRows counts
    every re-scan of the batch, not events)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def drain(run: Run, source: str, files: list[str], registry) -> tuple:
    """Bounded backfill: fresh table per drain, repeated until the run's
    seconds are used (at least one drain)."""
    from web3research_etl_spark.streaming.pipeline import run_sync

    t_start = time.perf_counter()
    events, wall, progress, i = 0, 0.0, [], 0
    while True:
        table = _new_table(run, f"pages{i}")
        ledger = _new_ledger(run, f"ledger{i}")

        def go():
            q = run_sync(
                run.spark,
                source,
                table,
                run.path(f"ckpt{i}"),
                ledger=ledger,
                registry=registry,
                available_now=True,
                max_files_per_trigger=run.wl.files_per_trigger,
            )
            q.awaitTermination()
            q.w3r_join_sidecars()
            return q

        q, dt = run.timed("ingest.drain", trace=f"drain{i}", fn=go)
        progress += progress_dicts(q)
        events += events_in(files)
        wall += dt
        i += 1
        if time.perf_counter() - t_start >= run.seconds:
            return table, ledger, progress, events, wall


def trigger_end(progress: dict) -> float:
    """Wall-clock end of a trigger (epoch seconds): its start timestamp
    plus its ``triggerExecution``, both as the JVM recorded them."""
    from datetime import datetime

    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + progress["durationMs"]["triggerExecution"] / 1e3


def _wait_batches(q, n: int, timeout: float = 170.0) -> dict:
    """Wait for the ``n``-th data trigger to commit; return its progress.
    Polls every 0.1 s: each poll is a JVM round trip, and the commit time
    comes from the progress itself, not from when the poll saw it."""
    deadline = time.perf_counter() + timeout
    while True:
        done = progress_dicts(q)
        if len(done) >= n:
            return done[n - 1]
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if time.perf_counter() > deadline:
            raise TimeoutError(f"batch {n} not committed in {timeout} s")
        time.sleep(0.1)


def tail(run: Run, table, ledger, registry, sidecars: Sidecars, files: list[str]):
    """Closed-loop tail: move one changelog file into the watched
    directory, wait for its trigger to commit, repeat until the seconds
    are used (at least ``TAIL_MIN_EPOCHS`` triggers)."""
    from web3research_etl_spark.streaming.pipeline import run_sync

    source = run.path("source")
    os.makedirs(source)
    fed: list[str] = []

    def go():
        q = run_sync(
            run.spark,
            source,
            table,
            run.path("ckpt"),
            ledger=ledger,
            registry=registry,
            available_now=False,
            processing_time="200 milliseconds",
            max_files_per_trigger=run.wl.files_per_trigger,
            write_mode="mor",
            feed_dir=sidecars.feed_dir,
            view=sidecars.view,
            view_group="lang",
            view_value=_view_value,
            maintain_every=TAIL_MAINTAIN_EVERY,
        )
        try:
            while len(fed) < len(files) and (
                len(fed) < TAIL_MIN_EPOCHS or time.time() - t0 < run.seconds
            ):
                dst = os.path.join(source, os.path.basename(files[len(fed)]))
                os.replace(files[len(fed)], dst)
                fed.append(dst)
                last = _wait_batches(q, len(fed))
            return q, trigger_end(last) - t0  # query start to last commit
        finally:
            q.stop()

    t0 = time.time()
    (q, wall), _ = run.timed("ingest.tail", trace="tail", fn=go)
    return progress_dicts(q), events_in(fed), wall, fed


# ----------------------------------------------------------------- serve
def _hot_and_cold_keys(files: list[str], spec: ChangelogSpec, rng: random.Random):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    urls = pq.ParquetDataset(files).read(columns=["url"]).column("url")
    counts = sorted(
        pc.value_counts(urls).to_pylist(), key=lambda r: (-r["counts"], r["values"])
    )
    hot = [r["values"] for r in counts[:20]]
    cold = [
        f"https://site-{rng.randrange(spec.domains)}.example.com/page/{rng.randrange(spec.pages_per_domain)}"
        for _ in range(50)
    ]
    return hot, cold


def _queries(run: Run, rng: random.Random) -> list[tuple[str, list[str]]]:
    out = []
    for j in range(SEARCHES):
        kind = "keyword" if j % 2 == 0 else "bm25"
        out.append((kind, [rng.choice(SEARCH_WORDS), str(rng.randrange(run.wl.changelog.pages_per_domain))]))
    return out


def direct_search(docs, kind: str, terms: list[str]):
    from pyspark.sql import functions as F

    from web3research_etl_spark.operators.search import bm25_rank, keyword_search

    if kind == "keyword":
        r = keyword_search(docs, terms, id_col="url").select("url", F.col("tf_sum").alias("score"))
    else:
        r = bm25_rank(docs, terms, id_col="url").select("url", F.col("bm25").alias("score"))
    return r.orderBy(F.desc("score"), "url").limit(TOP_K)


def serve(run: Run, table, files: list[str]):
    """Closed loop, one client: point lookups alternating hot and cold
    keys, then top-k searches alternating keyword and BM25, scanning the
    table's text. Untimed calls of each shape run first, until the JIT
    has compiled the read path (the first ~10 lookups of a fresh JVM run
    up to 2x slower)."""
    from pyspark.sql import functions as F

    rng = random.Random(run.seed)
    hot, cold = _hot_and_cold_keys(files, run.wl.changelog, rng)
    keys = [rng.choice(hot) if i % 2 == 0 else rng.choice(cold) for i in range(LOOKUPS)]
    queries = _queries(run, rng)

    def lookup(key):
        df = table.read_for_keys([key])
        rows = df.select("url", F.unix_micros("warc_ts").alias("ts"), "event_seq").collect()
        return df, [r.asDict() for r in rows]

    def search(kind, terms):
        q = direct_search(table.read().select("url", "text"), kind, terms)
        return [tuple(r) for r in q.collect()]

    t0 = time.perf_counter()
    for i in range(WARM_LOOKUPS):
        lookup(cold[-1 - i])
    for kind in sorted({k for k, _ in queries}):
        search(kind, ["page", "0"])
    run.values["serve_warm_s"] = time.perf_counter() - t0

    lookups, searches = [], []
    for i, key in enumerate(keys):
        (df, rows), dt = run.timed("serve.lookup", trace=f"lookup{i}", fn=lambda: lookup(key))
        run.sample("lookup_ms", dt * 1e3)
        lookups.append((key, rows))
        run.sample("files_per_lookup", len(df.inputFiles()))
    for j, (kind, terms) in enumerate(queries):
        res, dt = run.timed(f"serve.search.{kind}", trace=f"search{j}", fn=lambda: search(kind, terms))
        run.sample("search_ms", dt * 1e3)
        searches.append((kind, terms, res))
    return lookups, searches


# ----------------------------------------------------------------- check
def check(run: Run, table, slice_files: list[str]) -> tuple[int, int]:
    from pyspark.sql import functions as F

    from web3research_etl_spark.operators.reconcile import heal, reconcile_window

    window = _read_files(run, slice_files)

    def non_ok(rep) -> int:
        return sum(
            r["n"]
            for r in rep.groupBy("status").agg(F.count("*").alias("n")).collect()
            if r["status"] != "ok"
        )

    def go():
        with run.tracer.span("check.reconcile", trace="check"):
            rep = reconcile_window(table.read(include_deleted=True), window)
            before = non_ok(rep)
        with run.tracer.span("check.heal", trace="check"):
            heal(table, window, epoch_id=table.synthetic_epoch_id("heal"), report=rep)
        with run.tracer.span("check.confirm", trace="check"):
            after = non_ok(reconcile_window(table.read(include_deleted=True), window))
        return before, after

    (before, after), dt = run.timed("check", trace="check", fn=go)
    run.values["check_s"] = dt
    return before, after


# ------------------------------------------------------------------ gate
def _live_arrow(table):
    from pyspark.sql import functions as F

    return (
        table.read()
        .select(
            "url", F.unix_micros("warc_ts").alias("ts"), "event_seq", "lang", "content_len", "html", "text"
        )
        .toArrow()
    )


def gate_serve(run: Run, lookups, searches, applied: list[str]) -> None:
    """Lookups and searches against oracles of the state they read
    (ingest applied, the slice not yet healed)."""
    live = oracle.lww_live(applied)
    run.gate_check("lookups", oracle.check_lookups(lookups, live))
    if searches:
        texts = run.extractor.texts(live.column("html").to_pylist())
        docs = oracle.SearchOracle(live.column("url").to_pylist(), texts)
        run.gate_check("search", oracle.check_search(searches, docs, TOP_K))


def gate_sidecars(run: Run, table, sidecars: Sidecars) -> None:
    live = _live_arrow(table)
    run.gate_check("view", oracle.check_view([r.asDict() for r in sidecars.view.read().collect()], live))


def gate_final(run: Run, table, applied: list[str], derived_paths: list[str]) -> None:
    live = _live_arrow(table)
    want = oracle.lww_live(applied)
    run.gate_check("base", oracle.check_base(live, want))
    run.gate_check("text", oracle.check_text(live, run.extractor))
    import pyarrow as pa

    want = want.append_column(
        "text", pa.array(run.extractor.texts(want.column("html").to_pylist()), pa.string())
    )
    oracle_bytes = oracle.parquet_bytes(want, run.path("oracle.parquet"))
    run.values["space_amp"] = dir_bytes(table.path, *derived_paths) / oracle_bytes


# ------------------------------------------------------------------- run
def _extract_rows(run: Run) -> int:
    """Rows the traced extraction UDF has seen so far (0 when untraced)."""
    path = run.values.get("extract_counts_path")
    if not path or not os.path.exists(path):
        return 0
    with open(path) as f:
        return sum(int(x) for x in f.read().split())


def run_workload(run: Run, session_s: float) -> None:
    """Setup (after the session), then the timed phases and the gate;
    results land in ``run.values``, ``run.samples`` and ``run.gate``."""
    from web3research_etl_spark.registry import default_registry

    wl = run.wl
    files, gen_s = generate_inputs(run)
    t_fp = time.perf_counter()
    run.values["fingerprint"] = fingerprint(files)
    check_fingerprint(wl.name, run.seed, run.values["fingerprint"], load_fingerprints())
    fp_s = time.perf_counter() - t_fp
    slice_files = files[-1:]
    registry = default_registry(run.spark)
    t_setup = time.perf_counter()
    sidecars = None
    if wl.tail:
        table = _new_table(run, "pages")
        ledger = _new_ledger(run, "ledger")
        from web3research_etl_spark.operators.apply import apply_changelog_batch

        with run.tracer.span("setup.prepopulate"):
            apply_changelog_batch(
                table, _read_files(run, files[: wl.prepop_files]), 0, ledger=ledger, registry=registry
            )
        sidecars = Sidecars(run, table)
        with run.tracer.span("setup.bootstrap"):
            sidecars.bootstrap(table)
        tail_files = files[wl.prepop_files : -1]
    else:
        with run.tracer.span("setup.warm_up"):
            warm_up(run, files, registry)
        source = run.path("changelog")
        slice_dir = run.path("slice")
        os.makedirs(slice_dir)
        moved = os.path.join(slice_dir, os.path.basename(slice_files[0]))
        os.replace(slice_files[0], moved)
        slice_files = [moved]
    run.values["setup_s"] = session_s + gen_s + (time.perf_counter() - t_setup)
    run.values["session_start_s"] = session_s
    run.values["changelog_gen_s"] = gen_s
    run.values["fingerprint_s"] = fp_s

    extract_rows_before = _extract_rows(run)
    if wl.tail:
        progress, events, wall, fed = tail(run, table, ledger, registry, sidecars, tail_files)
        applied = files[: wl.prepop_files] + fed
    else:
        applied = files[:-1]
        table, ledger, progress, events, wall = drain(run, source, applied, registry)
    run.values["events_per_s"] = events / wall
    run.values["events"] = events
    run.values["ingest_s"] = wall
    run.values["progress"] = progress
    for d in progress:
        run.sample("epoch_ms", d["durationMs"]["triggerExecution"])
    run.values["extract_rows_ingest"] = _extract_rows(run) - extract_rows_before

    run.values["ingest_files"] = applied[wl.prepop_files :]

    run.pause_memory(True)
    if sidecars:
        gate_sidecars(run, table, sidecars)
    if run.tracer.traced:
        run.pause_memory(False)
        lookups, searches = serve(run, table, applied)
        run.pause_memory(True)
        gate_serve(run, lookups, searches, applied)
        run.pause_memory(False)
        non_ok_before, non_ok_after = check(run, table, slice_files)
        run.values["non_ok_before"] = non_ok_before
        run.gate_check("reconcile_after_heal", (1, int(non_ok_after != 0)))
        applied = applied + slice_files
    run.pause_memory(True)
    gate_final(run, table, applied, sidecars.paths if sidecars else [])
    run.values["table"] = table


def summarize(run: Run) -> tuple[dict, dict]:
    """End-to-end metrics, and every percentile with its sample count."""
    percentiles = {
        f"{name}_p{q}": percentile(run.samples.get(name, []), q / 100)
        for name in ("epoch_ms", "lookup_ms", "search_ms")
        for q in (50, 90)
    }
    metrics = {
        "setup_s": run.values["setup_s"],
        "events_per_s": run.values["events_per_s"],
        "epoch_ms_p50": percentiles["epoch_ms_p50"]["value"],
        "space_amp": run.values["space_amp"],
        "peak_rss_mb": run.values["peak_rss_mb"],
    }
    return metrics, percentiles

