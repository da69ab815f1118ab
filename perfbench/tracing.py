"""The traced run: wrappers around the engine's public functions and the
per-layer metrics computed from their spans and the Spark event log.

Layers are named by module. Wrappers are installed on the attribute
where each function is looked up at call time:

- ``streaming/pipeline.py`` binds ``apply_changelog_batch`` at import,
  so that name is patched in the pipeline module;
- the sidecar folds are imported lazily inside ``run_sync``, so their
  module attributes are patched;
- ``LakeTable`` methods are patched on the class and named by the role
  of the table they act on (pages, ledger, view, postings, lengths);
- ``DataStreamWriter.foreachBatch`` wraps the batch function so each
  trigger's work hangs under one ``pipeline.batch`` span.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import pandas as pd  # resolves the UDF's type hints below

from perfbench.eventlog import parse_event_log_file
from perfbench.spans import SPAN_PROPERTY
from perfbench.stats import self_times

UNITS = {
    # end to end
    "setup_s": "s",
    "events_per_s": "ev/s",
    "epoch_ms_p50": "ms",
    "space_amp": "ratio",
    "peak_rss_mb": "MiB",
    # per layer
    "pipeline.triggers": "count",
    "pipeline.trigger_ms_p50": "ms",
    "pipeline.overhead_ms_p50": "ms",
    "pipeline.span_coverage": "ratio",
    "apply.ms_p50": "ms",
    "apply.self_ms_p50": "ms",
    "registry.sync_ms_p50": "ms",
    "ledger.append_ms_p50": "ms",
    "table.merge_ms_p50": "ms",
    "table.merge_task_ms": "ms",
    "table.merge_cpu_ms": "ms",
    "table.merge_shuffle_bytes": "bytes",
    "table.merge_spill_bytes": "bytes",
    "table.merge_skew": "ratio",
    "table.write_amp": "ratio",
    "extract.pages_per_s": "pages/s",
    "extract.rows": "count",
    "extract.useful_ratio": "ratio",
    "table.current_snapshot_calls_per_epoch": "count",
    "table.current_snapshot_ms_p50": "ms",
    "table.manifest_bytes": "bytes",
    "table.read_for_keys_ms_p50": "ms",
    "table.files_read_per_lookup": "count",
    "table.bytes_read_per_lookup": "bytes",
    "search.keyword_ms_p50": "ms",
    "search.bm25_ms_p50": "ms",
    "search.bytes_read_per_query": "bytes",
    "reconcile.window_ms": "ms",
    "reconcile.heal_ms": "ms",
    "reconcile.non_ok_keys": "count",
    "reconcile.check_s": "s",
    "session.start_s": "s",
    "changelog.gen_s": "s",
    "eventlog.task_coverage": "ratio",
}


def job_tagger(spark):
    sc = spark.sparkContext

    def tag(value):
        sc.setLocalProperty(SPAN_PROPERTY, value)

    return tag


def _counting_extract(original, path: str):
    """A pandas UDF equal to ``original`` that also appends the number of
    non-null inputs of each Arrow batch to ``path`` (from the worker)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    inner = original.func

    @F.pandas_udf(T.StringType())
    def extract_text_counted(html: pd.Series) -> pd.Series:
        with open(path, "a") as f:
            f.write(f"{int(html.notna().sum())}\n")
        return inner(html)

    return extract_text_counted


def install(tracer, run) -> None:
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    import web3research_etl_spark.functions.extract as extract_mod
    import web3research_etl_spark.lake.cdc_feed as cdc_feed
    import web3research_etl_spark.operators.apply as apply_mod
    import web3research_etl_spark.operators.ivm as ivm
    import web3research_etl_spark.operators.reconcile as reconcile
    import web3research_etl_spark.streaming.pipeline as pipeline
    from web3research_etl_spark.lake.table import LakeTable

    def role(self, *a, **k):
        return run.roles.get(self.path, "other")

    tracer.patch(pipeline, "apply_changelog_batch", "apply")
    tracer.patch(apply_mod, "sync_table_schema", "registry.sync")
    tracer.patch(apply_mod, "parse_payload", "registry.parse")
    tracer.patch(apply_mod, "ledger_rows_for_batch", "ledger.rows")
    tracer.patch(
        LakeTable,
        "append",
        lambda self, *a, **k: "ledger.append" if role(self) == "ledger" else f"table.append:{role(self)}",
    )
    tracer.patch(LakeTable, "merge_changelog", lambda self, *a, **k: f"table.merge:{role(self)}")
    tracer.patch(LakeTable, "read_changes", lambda self, *a, **k: f"table.read_changes:{role(self)}")
    tracer.patch(LakeTable, "current_snapshot", "table.current_snapshot", tag_jobs=False)
    for m in ("rewrite_small_files", "rewrite_clustered", "expire_snapshots", "build_blooms"):
        tracer.patch(LakeTable, m, f"table.maintain.{m}")
    tracer.patch(cdc_feed, "publish_changes", "cdc_feed.publish")
    tracer.patch(ivm, "sync_view", "ivm.sync_view")
    tracer.patch(reconcile, "reconcile_window", "reconcile.window")
    tracer.patch(reconcile, "heal", "reconcile.heal")

    counts = run.path("extract_counts.txt")
    run.values["extract_counts_path"] = counts
    counted = _counting_extract(extract_mod.extract_text_udf, counts)
    for mod in (apply_mod, extract_mod):
        tracer.replace(mod, "extract_text_udf", counted)

    original_fb = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        def traced(df, batch_id):
            with tracer.span("pipeline.batch", trace=f"batch{batch_id}", batch_id=batch_id):
                return func(df, batch_id)

        return original_fb(self, traced)

    tracer.replace(DataStreamWriter, "foreachBatch", foreach_batch)


# ------------------------------------------------------------- metrics
def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _extract_rate(files: list[str], limit: int = 2000, reps: int = 3) -> float:
    """Single-core pages/s of the extraction UDF's Python function on the
    workload's own pages (in this Python process, no Spark)."""
    import pyarrow.parquet as pq

    from web3research_etl_spark.functions.extract import extract_text_udf

    html = pq.ParquetDataset(files).read(columns=["html"]).column("html").drop_null()
    series = pd.Series(html.slice(0, limit).to_pylist())
    rates = []
    for _ in range(reps):
        t0 = time.perf_counter()
        extract_text_udf.func(series)
        rates.append(len(series) / (time.perf_counter() - t0))
    return statistics.median(rates)


def layer_metrics(run) -> dict:
    """Per-layer metrics of a traced run (called after Spark stopped, so
    the event log is complete)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    spans = run.tracer.spans
    by_id = {s["id"]: s for s in spans}
    (log,) = glob.glob(os.path.join(run.work, "eventlog", "*"))
    ev = parse_event_log_file(log)
    selft = self_times(spans)

    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid):
        todo, out = [sid], []
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children.get(x, []))
        return out

    def spark_of(sid, key):
        return sum(ev["spans"].get(str(x), {}).get(key, 0) for x in subtree(sid))

    def batch_of(s):
        while s is not None:
            if s["name"] == "pipeline.batch":
                return s
            s = by_id.get(s["parent"])
        return None

    batches = [s for s in spans if s["name"] == "pipeline.batch"]
    n_batches = max(1, len(batches))

    def in_batches(name):
        return [s for s in spans if s["name"] == name and batch_of(s) is not None]

    def ms(s):
        return (s["end"] - s["start"]) * 1e3

    def named(name):
        return [s for s in spans if s["name"] == name]

    progress = run.values["progress"]
    by_batch = {b["batch_id"]: b for b in batches}
    coverage = []
    for p in progress:
        d = p["durationMs"]
        b = by_batch.get(p["batchId"])
        inner = 0.0 if b is None else sum(selft[x] for x in subtree(b["id"]) if x != b["id"]) * 1e3
        stream = sum(v for k, v in d.items() if k not in ("addBatch", "triggerExecution"))
        coverage.append((inner + stream) / d["triggerExecution"])

    merges = in_batches("table.merge:pages")
    ingest_files = run.values["ingest_files"]
    changelog_bytes = sum(os.path.getsize(f) for f in ingest_files)
    ops = pq.ParquetDataset(ingest_files).read(columns=["op"]).column("op")
    upserts = int(pc.sum(pc.not_equal(ops, "D")).as_py())
    extract_rows_ingest = run.values["extract_rows_ingest"]

    base_meta = os.path.join(run.values["table"].path, "metadata")
    manifests = sorted(glob.glob(os.path.join(base_meta, "v*.json")))
    lookups = named("serve.lookup")
    cov = ev["coverage"]

    per_layer = {
        "pipeline.triggers": len(progress),
        "pipeline.trigger_ms_p50": _median(p["durationMs"]["triggerExecution"] for p in progress),
        "pipeline.overhead_ms_p50": _median(
            p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0) for p in progress
        ),
        "pipeline.span_coverage": min(coverage) if coverage else 0.0,
        "apply.ms_p50": _median(ms(s) for s in in_batches("apply")),
        "apply.self_ms_p50": _median(selft[s["id"]] * 1e3 for s in in_batches("apply")),
        "registry.sync_ms_p50": _median(ms(s) for s in in_batches("registry.sync")),
        "ledger.append_ms_p50": _median(ms(s) for s in in_batches("ledger.append")),
        "table.merge_ms_p50": _median(ms(s) for s in merges),
        "table.merge_task_ms": _median(spark_of(s["id"], "task_ms") for s in merges),
        "table.merge_cpu_ms": _median(spark_of(s["id"], "cpu_ms") for s in merges),
        "table.merge_shuffle_bytes": _median(
            spark_of(s["id"], "shuffle_read_bytes") + spark_of(s["id"], "shuffle_write_bytes")
            for s in merges
        ),
        "table.merge_spill_bytes": _median(spark_of(s["id"], "spill_bytes") for s in merges),
        "table.merge_skew": _median(
            ev["spans"].get(str(s["id"]), {}).get("widest_stage_skew", 1.0) for s in merges
        ),
        "table.write_amp": sum(spark_of(s["id"], "output_bytes") for s in merges) / changelog_bytes,
        "extract.pages_per_s": _extract_rate(ingest_files),
        "extract.rows": extract_rows_ingest,
        "extract.useful_ratio": extract_rows_ingest / upserts if upserts else 0.0,
        "table.current_snapshot_calls_per_epoch": len(in_batches("table.current_snapshot")) / n_batches,
        "table.current_snapshot_ms_p50": _median(ms(s) for s in in_batches("table.current_snapshot")),
        "table.manifest_bytes": os.path.getsize(manifests[-1]) if manifests else 0,
        "table.read_for_keys_ms_p50": _median(ms(s) for s in lookups),
        "table.files_read_per_lookup": _median(run.samples.get("files_per_lookup", [])),
        "table.bytes_read_per_lookup": _median(spark_of(s["id"], "input_bytes") for s in lookups),
        "search.keyword_ms_p50": _median(ms(s) for s in named("serve.search.keyword")),
        "search.bm25_ms_p50": _median(ms(s) for s in named("serve.search.bm25")),
        "search.bytes_read_per_query": _median(
            spark_of(s["id"], "input_bytes")
            for s in named("serve.search.keyword") + named("serve.search.bm25")
        ),
        "reconcile.window_ms": sum(ms(s) for s in named("check.reconcile")),
        "reconcile.heal_ms": sum(ms(s) for s in named("check.heal")),
        "reconcile.non_ok_keys": run.values["non_ok_before"],
        "reconcile.check_s": run.values["check_s"],
        "session.start_s": run.values["session_start_s"],
        "changelog.gen_s": run.values["changelog_gen_s"],
        "eventlog.task_coverage": cov["tasks_attributed"] / cov["tasks"] if cov["tasks"] else 0.0,
    }

    # layers only the tail runs; kept in the run record, not in per_layer
    maint = [s for s in spans if s["name"].startswith("table.maintain.") and batch_of(s)]
    passes: dict = {}
    for s in maint:
        passes.setdefault(batch_of(s)["id"], []).append(s)
    tail_only = {
        "table.read_changes_calls_per_epoch": len(
            [s for s in spans if s["name"].startswith("table.read_changes:") and batch_of(s)]
        )
        / n_batches,
        "table.read_changes_ms_p50": _median(
            ms(s) for s in spans if s["name"].startswith("table.read_changes:") and batch_of(s)
        ),
        "cdc_feed.publish_ms_p50": _median(ms(s) for s in in_batches("cdc_feed.publish")),
        "ivm.sync_view_ms_p50": _median(ms(s) for s in in_batches("ivm.sync_view")),
        "table.maintain_ms": _median(sum(ms(s) for s in p) for p in passes.values()),
        "table.maintain_bytes_rewritten": _median(
            sum(spark_of(s["id"], "output_bytes") for s in p) for p in passes.values()
        ),
    }

    table = {}
    for s in spans:
        row = table.setdefault(
            s["name"],
            {"calls": 0, "ms": [], "self_ms": [], "task_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0},
        )
        row["calls"] += 1
        row["ms"].append(ms(s))
        row["self_ms"].append(selft[s["id"]] * 1e3)
        own = ev["spans"].get(str(s["id"]), {})
        for k in ("task_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            row[k] += own.get(k, 0)
    for row in table.values():
        row["total_ms"] = sum(row["ms"])
        row["total_self_ms"] = sum(row.pop("self_ms"))
        row["ms_p50"] = _median(row.pop("ms"))
    in_epoch_self: dict = {}
    for s in spans:
        b = batch_of(s)
        if b is not None and s is not b:
            in_epoch_self[s["name"]] = in_epoch_self.get(s["name"], 0.0) + selft[s["id"]] * 1e3
    return {
        "per_layer": per_layer,
        "tail_only": tail_only if run.wl.tail else {},
        "spans_by_name": table,
        "epoch_self_ms_by_name": dict(sorted(in_epoch_self.items(), key=lambda kv: -kv[1])),
        "trigger_coverage": coverage,
        "eventlog_coverage": cov,
        "spans": spans,
    }
