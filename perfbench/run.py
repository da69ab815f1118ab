"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill|tail --seed N --seconds S --trace 0|1

Run from the repository root. Everything the run writes stays under
``.perfbench/`` there: the lake tables (deleted at the end) and, per run,
``.perfbench/out/<workload>-seed<N>-trace<T>.json`` with the full record
(percentiles with sample counts, gate results, and for traced runs the
spans and the per-layer table). The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Exits non-zero, printing no result, when the engine cannot be imported
or the generated input differs from its recorded fingerprint.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Two task threads: the JVM's own threads, the Python workers and the
# benchmark's driver need the other cores, and local[4] oversubscribed a
# shared 4-core host. Backfill applied about 1.2k ev/s at either setting.
CORES = min(2, os.cpu_count() or 1)
DRIVER_MEM = "2g"  # the driver JVM's heap, fixed (-Xms = -Xmx)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--record-fingerprints",
        action="store_true",
        help="generate this workload's input for every pinned seed and record "
        "its fingerprint in perfbench/fingerprints.json; run nothing else",
    )
    return p.parse_args(argv)


def _session_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # The whole heap from the start: G1 otherwise grows it when its
        # collections take long, which depends on the host's load, and the
        # JVM's peak footprint swung between 1.6 and 2.2 GiB across
        # identical runs.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and every process it started, and wait."""
    from pyspark import SparkContext

    from perfbench.procmem import children_map

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while True:
        left = children_map().get(os.getpid(), [])
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.2)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import web3research_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import inputs, tracing
    from perfbench.workloads import WORKLOADS, Run, run_workload, summarize

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench", "work")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            # every JVM (the spark-submit launcher too): temp files in the
            # checkout, no perf-data file in /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        }
    )
    from perfbench.procmem import PeakMemory
    from perfbench.spans import Tracer

    spark = None
    try:
        with PeakMemory() as memory:
            from web3research_etl_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark(
                app_name=f"perfbench-{wl.name}",
                master=f"local[{CORES}]",
                shuffle_partitions=CORES,
                extra_conf=_session_conf(work, traced),
            )
            session_s = time.perf_counter() - t0
            tracer = Tracer(tracing.job_tagger(spark) if traced else None)
            run = Run(spark, work, wl, args.seed, args.seconds, tracer)
            run.memory = memory
            if args.record_fingerprints:
                inputs.record_fingerprints(spark, work, wl.name, wl.changelog)
                return 0
            if traced:
                tracing.install(tracer, run)
            try:
                run_workload(run, session_s)
            finally:
                tracer.unpatch_all()
        run.values["peak_rss_mb"] = memory.peak_bytes / 2**20
        run.values["peak_rss_mb_by_command"] = {k: v / 2**20 for k, v in memory.peak_by_command.items()}
        e2e, percentiles = summarize(run)
        _stop_spark(spark)
        spark = None
        if traced:
            layers = tracing.layer_metrics(run)
    finally:
        if spark is not None:
            _stop_spark(spark)
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "generator_seed": inputs.generator_seed(args.seed),
        "seconds": args.seconds,
        "trace": args.trace,
        "end_to_end": e2e,
        "percentiles": percentiles,
        "samples": run.samples,
        "gate": run.gate,
        "errors": run.errors,
        "values": {k: v for k, v in run.values.items() if isinstance(v, (int, float, dict)) and k != "progress"},
    }
    units = tracing.UNITS
    if traced:
        detail["layers"] = layers
        metrics = layers["per_layer"]
    else:
        metrics = e2e
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: detail[k] for k in ("end_to_end", "percentiles", "gate")}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
