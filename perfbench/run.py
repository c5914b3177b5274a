"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (``event_store`` or ``query_mix``)
against the engine in this checkout at ``SPARK_GRAFT_CPUS`` = the CPUs this
process may use, checks the engine's outputs, and prints as its last line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a traced run
with ``--trace 1``. The line before it (``# context {...}``) records what
explains noise without re-running: load averages, GC time, CPU counts,
sample counts and tail percentiles. Both are also saved under
``perfbench/.work/results/`` for ``perfbench/report.py``.

    python3 perfbench/run.py --write-benchmark-json

rewrites ``BENCHMARK.json`` from :mod:`perfbench.metrics`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_SECONDS = 30


def _workload_class(name: str):
    if name == "event_store":
        from perfbench.w_store import EventStore
        return EventStore
    from perfbench.w_query import QueryMix
    return QueryMix


class OpMarker:
    """Marks the start of each workload operation. Traced, it tags the
    current thread's spans and Spark jobs (``setJobGroup``) with the
    operation; untraced, it does nothing."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.spark = None

    def __call__(self, op: str | None) -> None:
        if self.tracer is None:
            return
        self.tracer.set_op(op)
        sc = self.spark.sparkContext
        if op is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(op, op)


def _install_tracing(tracer, workload: str, marker: OpMarker, commits: list):
    from perfbench import trace

    patcher = trace.install(tracer, workload)
    trace.observe_commits(tracer, patcher, commits)
    if workload == "event_store":
        # requests run on the HTTP server's thread: tag them there, from
        # the operation id the client sends in a header
        from moisturizer_spark import service
        from perfbench.w_store import OP_HEADER

        inner = vars(service._Handler)["_handle"]

        def handle(self, method, _inner=inner):
            marker(self.headers.get(OP_HEADER))
            try:
                return _inner(self, method)
            finally:
                marker(None)

        patcher.replace(service._Handler, "_handle", handle)
    return patcher


def _files_per_table(wl) -> float:
    """Mean data files per type table at the end of an ``event_store`` run."""
    from perfbench import gen

    tables = [wl.registry.table(t) for t in (gen.HOT_TYPE,) + gen.TAIL_TYPES]
    counts = [t.file_stats()[0] for t in tables if t.exists()]
    return sum(counts) / max(len(counts), 1)


def run(args) -> int:
    from perfbench import common

    load_setup, ticks_setup = common.load1(), common.cpu_ticks()
    dirs = common.RunDirs(args.workload, args.seed)
    try:
        return _run(args, dirs, load_setup, ticks_setup)
    finally:
        dirs.close()


def _run(args, dirs, load_setup: float, ticks_setup: tuple[int, int]) -> int:
    from perfbench import common, layers, metrics
    from perfbench.trace import Tracer, event_log_by_group

    tracer = Tracer() if args.trace else None
    marker = OpMarker(tracer)
    commits: list[dict] = []
    patcher = _install_tracing(tracer, args.workload, marker, commits) if tracer else None
    spark = None
    memory = common.PeakMemory()
    try:
        spark = common.start_spark(dirs, trace=bool(args.trace))
        marker.spark = spark
        wl = _workload_class(args.workload)(spark, dirs, args.seed, args.seconds, tracer)
        wl.setup()
        if tracer is not None and wl.name == "query_mix":
            for step in ("build", "plan", "exec"):
                setattr(wl, f"_{step}", tracer.wrap(getattr(wl, f"_{step}"), f"workload.{step}"))
        load_measure, ticks_measure = common.load1(), common.cpu_ticks()
        gc0 = common.gc_ms(spark)
        setup_s = common.process_age_s()
        t0 = time.perf_counter()
        wl.run(marker)
        measured_s = time.perf_counter() - t0
        ticks_end = common.cpu_ticks()
        gc_measured = common.gc_ms(spark) - gc0
        peak_pss = memory.stop()
        wl.check()
        if tracer is not None and wl.name == "event_store":
            files_per_table = _files_per_table(wl)
        if hasattr(wl, "close"):
            wl.close()
    finally:
        memory.stop()
        if spark is not None:
            common.stop_spark(spark)
        if patcher is not None:
            patcher.restore()

    light, heavy = wl.light_ms, wl.heavy_ms
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": wl.throughput(),
        "light_ms": statistics.median(light),
        "heavy_ms": statistics.median(heavy),
        "peak_pss_mb": peak_pss,
    }
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "load1_setup_start": load_setup, "load1_measure_start": load_measure,
        "steal_share_setup": common.steal_share(ticks_setup, ticks_measure),
        "steal_share_measured": common.steal_share(ticks_measure, ticks_end),
        "gc_ms_measured": gc_measured, "measured_s": measured_s,
        "light_samples": len(light), "heavy_samples": len(heavy),
        "light_tail_ms": common.tail(light), "heavy_tail_ms": common.tail(heavy),
        **wl.context(),
        "failures": wl.failures[:20],
    }
    result = {"context": context, "end_to_end": e2e}
    if tracer is not None:
        groups = event_log_by_group(dirs.path("eventlog"))
        per_layer = dict.fromkeys((n for n, _u, _b in metrics.PER_LAYER), 0.0)
        if wl.name == "event_store":
            per_layer.update(layers.store_layers(wl, tracer.spans, groups, commits,
                                                 files_per_table))
            phases = {"bulk": ("ingest:", len(wl.batch_ms)), "point": ("crud:", len(wl.ops))}
        else:
            per_layer.update(layers.query_layers(wl, tracer.spans, groups))
            phases = {"pass": ("query:", len(wl.passes))}
        result["per_layer"] = per_layer
        result["self_s_per_op"] = {
            phase: layers.module_self_per_op(
                [s for s in tracer.spans if s.op is not None and s.op.startswith(prefix)],
                max(n, 1))
            for phase, (prefix, n) in phases.items()}

    units = {n: u for n, u, *_ in metrics.END_TO_END + metrics.PER_LAYER}
    shown = result["per_layer"] if tracer is not None else e2e
    line = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }
    results = os.path.join(HERE, ".work", "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-trace{args.trace}-seed{args.seed}")
    if tracer is not None:
        tracer.dump(stem + "-spans.jsonl")
    with open(stem + ".json", "w") as fh:
        json.dump({**result, "result": line}, fh, indent=1, default=str)
    print("# context " + json.dumps(context, default=str))
    print(json.dumps(line))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("event_store", "query_mix"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-benchmark-json", action="store_true")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.write_benchmark_json:
        from perfbench import metrics

        metrics.write_benchmark_json(os.path.join(ROOT, "BENCHMARK.json"), RUN_SECONDS)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "moisturizer_spark", "__init__.py")):
        print(f"perfbench: no moisturizer_spark package in {ROOT}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
