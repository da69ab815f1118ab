"""Fast tests of the benchmark's own helpers (no Spark session).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import inputs, oracle
from perfbench.eventlog import parse_event_log
from perfbench.procmem import tree_memory
from perfbench.spans import Tracer
from perfbench.stats import MIN_BEYOND, percentile, quantile, self_times, union_length


# ------------------------------------------------------------ percentiles
def test_quantile_interpolates_like_numpy():
    assert quantile([1, 2, 3, 4], 0.5) == 2.5
    assert quantile([10], 0.9) == 10
    assert quantile([0, 10], 0.9) == pytest.approx(9.0)


def test_median_always_reported():
    p = percentile([5.0, 1.0, 3.0], 0.5)
    assert p == {"value": 3.0, "n": 3, "beyond": 1}


def test_p90_needs_ten_samples_beyond_it():
    short = list(range(100))  # p90 = 89.1: 10 samples (90..99) lie beyond
    assert percentile(short, 0.9)["value"] == pytest.approx(89.1)
    assert percentile(short, 0.9)["beyond"] == MIN_BEYOND
    assert percentile(short[:91], 0.9)["value"] is None  # p90 = 81: only 82..90 beyond
    assert percentile(short[:91], 0.9)["beyond"] == MIN_BEYOND - 1


def test_percentile_of_nothing():
    assert percentile([], 0.5) == {"value": None, "n": 0, "beyond": 0}


# -------------------------------------------------------------- self time
def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_covered_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past parent
        {"id": 5, "parent": 2, "start": 1.5, "end": 2.0},
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (5 + 1))  # children cover [1,6] and [9,10]
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[3] == pytest.approx(3)
    assert st[5] == pytest.approx(0.5)


def test_tracer_nests_spans_and_inherits_trace():
    tags = []
    clock = iter(range(100))
    tr = Tracer(set_job_tag=tags.append, clock=lambda: next(clock))
    with tr.span("outer", trace="epoch7"):
        with tr.span("inner"):
            pass
        with tr.span("quiet", tag_jobs=False):
            pass
    inner, quiet, outer = tr.spans
    assert inner["parent"] == outer["id"] and inner["trace"] == "epoch7"
    assert quiet["parent"] == outer["id"]
    # job tag set to each span on entry and restored to the parent on exit
    assert tags == [str(outer["id"]), str(inner["id"]), str(outer["id"]), None]


def test_tracer_patch_wraps_and_restores():
    class Box:
        def work(self, x):
            return x * 2

    tr = Tracer()
    original = Box.__dict__["work"]
    tr.patch(Box, "work", lambda self, x: f"box.work:{x}")
    assert Box().work(3) == 6
    assert [s["name"] for s in tr.spans] == ["box.work:3"]
    tr.unpatch_all()
    assert Box.__dict__["work"] is original


def test_tracer_records_failed_span():
    tr = Tracer()
    with pytest.raises(ValueError):
        with tr.span("boom"):
            raise ValueError("x")
    assert tr.spans[0]["error"] == "ValueError"


# -------------------------------------------------------------- event log
def _task(stage, run_ms, cpu_ns=0, spill=0, sw=0, sr=0, out=0, metrics=True):
    e = {"Event": "SparkListenerTaskEnd", "Stage ID": stage}
    if metrics:
        e["Task Metrics"] = {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Input Metrics": {"Bytes Read": 10},
            "Output Metrics": {"Bytes Written": out},
        }
    return json.dumps(e)


def _stage(stage, span):
    props = {"perfbench.span": span} if span else {}
    return json.dumps(
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage}, "Properties": props}
    )


def test_event_log_charges_tasks_to_the_submitting_span():
    lines = [
        json.dumps({"Event": "SparkListenerLogStart"}),
        _stage(0, "7"),
        _task(0, 100, cpu_ns=50_000_000, sw=30),
        _task(0, 300, spill=5, sw=20),
        _stage(1, "7"),
        _task(1, 10, sr=50, out=99),
        _task(1, 10),
        _task(1, 10),
        _stage(2, None),  # untagged: stream bookkeeping
        _task(2, 40),
        _task(2, 40, metrics=False),
        "",
    ]
    ev = parse_event_log(lines)
    s = ev["spans"]["7"]
    assert s["tasks"] == 5
    assert s["task_ms"] == 430
    assert s["cpu_ms"] == pytest.approx(50.0)
    assert s["gc_ms"] == 5
    assert s["shuffle_write_bytes"] == 50 and s["shuffle_read_bytes"] == 50
    assert s["spill_bytes"] == 5
    assert s["output_bytes"] == 99
    # widest stage is stage 1 (3 tasks, all equal)
    assert s["widest_stage_tasks"] == 3 and s["widest_stage_skew"] == 1.0
    assert ev["coverage"] == {"tasks": 7, "tasks_with_metrics": 6, "tasks_attributed": 5}


# ------------------------------------------------------------ fingerprint
def _changelog(path, rows):
    t = pa.table(
        {
            "op": [r[0] for r in rows],
            "url": [r[1] for r in rows],
            "event_seq": pa.array([r[2] for r in rows], pa.int64()),
            "html": pa.array([r[3] for r in rows], pa.binary()),
        }
    )
    pq.write_table(t, path)
    return path


def test_fingerprint_is_order_independent_and_sensitive(tmp_path):
    rows = [("I", "u1", 1, b"<p>a</p>"), ("U", "u1", 2, b"<p>b</p>"), ("D", "u2", 3, None)]
    a = inputs.fingerprint([_changelog(str(tmp_path / "a.parquet"), rows)])
    b = inputs.fingerprint([_changelog(str(tmp_path / "b.parquet"), rows[::-1])])
    assert a == b
    assert a["rows"] == 3 and a["urls"] == 2
    assert a["ops"] == {"I": 1, "U": 1, "D": 1}
    assert a["html_bytes"] == 16
    changed = rows[:1] + [("U", "u1", 2, b"<p>c</p>")] + rows[2:]
    c = inputs.fingerprint([_changelog(str(tmp_path / "c.parquet"), changed)])
    assert c["html_sha256"] != a["html_sha256"]


def test_check_fingerprint_accepts_match_and_rejects_drift():
    fp = {"rows": 3, "urls": 2, "ops": {"I": 1, "U": 1, "D": 1}, "html_bytes": 16, "html_sha256": "ab"}
    recorded = {"workloads": {"tail": {"5": fp}}}
    inputs.check_fingerprint("tail", 5 + inputs.PINNED, fp, recorded)  # seed maps mod PINNED
    with pytest.raises(inputs.InputDrift, match="input changed"):
        inputs.check_fingerprint("tail", 5, dict(fp, rows=4), recorded)
    with pytest.raises(inputs.InputDrift, match="no fingerprint"):
        inputs.check_fingerprint("tail", 6, fp, recorded)


def test_recorded_fingerprints_cover_every_pinned_seed():
    data = inputs.load_fingerprints()
    assert data["pinned_seeds"] == inputs.PINNED
    from perfbench.workloads import WORKLOADS

    for name in WORKLOADS:
        assert sorted(data["workloads"][name], key=int) == [str(s) for s in range(inputs.PINNED)]


# ---------------------------------------------------------------- oracles
def test_lww_live_picks_newest_version_and_drops_deletes(tmp_path):
    import datetime as dt

    ts = [dt.datetime(2024, 1, 1, 0, 0, s) for s in range(4)]
    t = pa.table(
        {
            "op": ["I", "U", "I", "D"],
            "url": ["a", "a", "b", "b"],
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "event_seq": pa.array([1, 2, 3, 4], pa.int64()),
            "lang": ["en", "de", "fr", None],
            "html": pa.array([b"1", b"2", b"3", None], pa.binary()),
        }
    )
    path = str(tmp_path / "cl.parquet")
    pq.write_table(t, path)
    live = oracle.lww_live([path])
    assert live.column("url").to_pylist() == ["a"]
    assert live.column("event_seq").to_pylist() == [2]
    assert live.column("lang").to_pylist() == ["de"]


def test_search_oracle_keyword_and_bm25_order():
    docs = oracle.SearchOracle(
        ["u1", "u2", "u3"],
        ["Tail 7 tail", "tail 7", "content only"],
    )
    assert docs.top_k("keyword", ["tail", "7"], 10) == [("u1", 3), ("u2", 2)]
    ranked = docs.top_k("bm25", ["tail", "7"], 10)
    assert [u for u, _ in ranked] == ["u1", "u2"]
    assert ranked[0][1] > ranked[1][1] > 0
    assert oracle.check_search([("bm25", ["tail", "7"], ranked)], docs, 10) == (1, 0)
    assert oracle.check_search([("keyword", ["tail", "7"], [("u2", 2)])], docs, 10) == (1, 1)


def test_tree_memory_counts_this_process():
    procs = tree_memory(os.getpid())
    assert procs[os.getpid()][1] > 1 << 20


def test_benchmark_json_matches_the_metrics_the_runs_print():
    from perfbench.tracing import UNITS

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["end_to_end"] + bench["per_layer"]
    assert {m["name"]: m["unit"] for m in declared} == UNITS
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_trigger_end_is_start_plus_trigger_execution():
    from perfbench.workloads import trigger_end

    progress = {"timestamp": "2024-01-01T00:00:10.250Z", "durationMs": {"triggerExecution": 1500}}
    assert trigger_end(progress) == pytest.approx(1704067211.75)
