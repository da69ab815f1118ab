"""Spark event-log parsing: task metrics per benchmark span.

The traced run enables the event log (uncompressed, not rolled) in its
own session conf. Stages carry the submitting thread's local properties,
so ``perfbench.span`` on ``SparkListenerStageSubmitted`` names the span
whose call launched the stage; every ``SparkListenerTaskEnd`` of that
stage is charged to it. Tasks of untagged stages (stream bookkeeping,
session start) are counted in coverage but charged to no span.
"""

from __future__ import annotations

import json
import statistics

from perfbench.spans import SPAN_PROPERTY

_ZERO = {
    "tasks": 0,
    "task_ms": 0,
    "cpu_ms": 0.0,
    "gc_ms": 0,
    "shuffle_read_bytes": 0,
    "shuffle_write_bytes": 0,
    "spill_bytes": 0,
    "input_bytes": 0,
    "output_bytes": 0,
}


def parse_event_log(lines) -> dict:
    """Return ``{"spans": {span_id: metrics}, "coverage": {...}}``.

    Per span: summed task metrics plus ``widest_stage_skew`` (max ÷
    median task run time of the span's stage with the most tasks)."""
    stage_span: dict[int, str] = {}
    stage_tasks: dict[int, list[int]] = {}
    per_span: dict[str, dict] = {}
    total = with_metrics = attributed = 0
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerStageSubmitted":
            span = (e.get("Properties") or {}).get(SPAN_PROPERTY)
            if span:
                stage_span[e["Stage Info"]["Stage ID"]] = span
        elif kind == "SparkListenerTaskEnd":
            total += 1
            m = e.get("Task Metrics")
            if not m:
                continue
            with_metrics += 1
            span = stage_span.get(e["Stage ID"])
            if span is None:
                continue
            attributed += 1
            agg = per_span.setdefault(span, dict(_ZERO))
            rd = m.get("Shuffle Read Metrics", {})
            agg["tasks"] += 1
            agg["task_ms"] += m.get("Executor Run Time", 0)
            agg["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            agg["gc_ms"] += m.get("JVM GC Time", 0)
            agg["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            agg["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            agg["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            agg["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            stage_tasks.setdefault(e["Stage ID"], []).append(
                m.get("Executor Run Time", 0)
            )
    for span, agg in per_span.items():
        stages = [s for s, sp in stage_span.items() if sp == span and s in stage_tasks]
        widest = max(stages, key=lambda s: (len(stage_tasks[s]), s), default=None)
        if widest is not None:
            runs = stage_tasks[widest]
            med = statistics.median(runs)
            agg["widest_stage_tasks"] = len(runs)
            agg["widest_stage_skew"] = max(runs) / med if med > 0 else 1.0
    return {
        "spans": per_span,
        "coverage": {
            "tasks": total,
            "tasks_with_metrics": with_metrics,
            "tasks_attributed": attributed,
        },
    }


def parse_event_log_file(path: str) -> dict:
    with open(path) as f:
        return parse_event_log(f)
