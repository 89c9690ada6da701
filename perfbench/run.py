"""Benchmark of the engine: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1``, run from the root of a checkout.

Workloads (``BENCHMARK.json`` records why each was chosen):

* ``batch-short``: closed loop, one client, the 28 planning-bound batch
  queries on seeded sf0.02 TPC-H-shaped tables (``perfbench/batch.py``);
* ``stream-orders``: open loop, two streaming queries fed by a separate
  generator process (``perfbench/stream.py``).

Every run: seeded inputs → three session set-ups (each is the package
import time plus a session build and one warm-up query; the first also
launches the JVM; the median is ``setup_s``) → the timed workload → the
oracle check → teardown. All files live in a fresh directory under
``.perfbench_tmp/`` in the checkout, removed at exit; one that survives
counts as a failure.

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` is a separate
run that also turns on Spark's event log and spans around the package's
public functions, and prints the per-layer metrics, each layer's self time
and the tracing overhead instead.

Stdout: one JSON record with provenance and every end-to-end figure (unit
and sample count), including the per-workload figures (``query_s.*`` and
``pass_s``; ``q4``/``q5`` latency and ``catchup_rows_per_s``), peak RSS and
``failed_frac``; then, as the last line, ``{"correct", "attempted",
"failed", "metrics"}``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import batch, datagen, measure, stream, trace  # noqa: E402

SF = 0.02
SETUPS = 3
CORES = 4
WARM_UP_QUERY = "q1_expensive_orders"
WORKLOADS = {"batch-short": batch, "stream-orders": stream}

# Names, units and directions of the metrics, and why each workload was
# chosen, are in BENCHMARK.json. Both workloads report the same end-to-end
# names: a query on batch-short is an input file's trip to the sinks on
# stream-orders. The tail is p80, the highest percentile with about ten
# samples beyond it in one run (28 queries; 90 trips of an input file to
# a sink: 30 files to q4, 60 to q5).
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

_STREAM_MOVES = {
    "batches": "latency_ms.p50 on stream-orders: more batches in the window = cheaper batches",
    "batch_rows.p50": "throughput_per_s on stream-orders",
    "trigger_ms.p50": "latency_ms.p50 on stream-orders",
    "trigger_ms.p90": "latency_ms.p80 on stream-orders",
    "addBatch_ms.p50": "throughput_per_s (its per-row part) and latency_ms.p50 on stream-orders",
    "queryPlanning_ms.p50": "latency_ms.p50 on stream-orders; throughput_per_s once, in the first batch",
    "latestOffset_ms.p50": "latency_ms.p50 on stream-orders; barely throughput_per_s",
    "walCommit_ms.p50": "latency_ms.p50 on stream-orders; barely throughput_per_s",
    "commitOffsets_ms.p50": "latency_ms.p50 on stream-orders; barely throughput_per_s",
    "state_rows.end": "latency_ms.p80 and mem_live_mb on stream-orders",
    "state_bytes.end": "latency_ms.p80 and mem_live_mb on stream-orders",
    "state_commit_ms.p50": "latency_ms.p50 on stream-orders",
    "state_update_ms.p50": "throughput_per_s on stream-orders",
    "rows_dropped_by_watermark": "correctness on stream-orders: stays 0",
}
_SELF_LAYERS = (
    "bench", "session", "plans", "sources.parquet", "sources.json_serde", "operators",
    "catalyst", "exec", "streaming", "sources.sinks", "gen",
)

# The end-to-end metric each per-layer metric should move, and on which
# workload. BENCHMARK.json's schema has no field for it, so it is kept here
# and printed with every traced run.
MOVES = {
    "session.get_spark_s": "setup_s on all workloads",
    "plans.build_s.sum": "latency_ms.p50 on batch-short",
    "sources.parquet.load_table.calls": "latency_ms.p50 on batch-short; flat on stream-orders",
    "sources.parquet.load_table_s.sum": "latency_ms.p50 on batch-short; flat on stream-orders",
    "catalyst.analysis_ms.sum": "latency_ms.p50 on batch-short",
    "catalyst.optimization_ms.sum": "latency_ms.p50 on batch-short",
    "catalyst.planning_ms.sum": "latency_ms.p50 on batch-short",
    "exec.s.sum": "latency_ms.p80 on batch-short; throughput_per_s on stream-orders",
    "exec.jobs": "latency_ms.p50 on both workloads",
    "exec.stages": "latency_ms.p50 on both workloads",
    "exec.tasks": "latency_ms.p50 on both workloads",
    "exec.task_run_ms.sum": "throughput_per_s on both workloads",
    "exec.task_wait_ms.sum": "latency_ms.p80 on both workloads",
    "exec.busy_frac": "low on batch-short: fixed cost dominates latency_ms.p50",
    "exec.gc_ms.sum": "latency_ms.p80 and mem_live_mb on both workloads",
    "exec.shuffle_write_bytes": "throughput_per_s on both workloads",
    "exec.shuffle_read_bytes": "throughput_per_s on both workloads",
    "exec.spill_bytes": "latency_ms.p80 and mem_live_mb on both workloads",
    **{f"streaming.{q}.{name}": moves for q in stream.QUERIES for name, moves in _STREAM_MOVES.items()},
    **{f"sources.sinks.{q}.write_ms.p50": "latency_ms.p50 on stream-orders" for q in stream.QUERIES},
    "gen.lag_ms.max": "run validity on stream-orders: the generator kept its schedule",
    "gen.records": "run validity on stream-orders: input volume",
    "sources.file_stream.backlog_files.max": "latency_ms.p80 on stream-orders; growth means the rate is unsustainable",
    "sources.file_stream.backlog_files.end": "run validity on stream-orders: above .max/2 means a growing backlog",
    **{f"self_s.{layer}": "the layer's own share of the traced run's time" for layer in _SELF_LAYERS},
    "trace.overhead_ms.p50": "none: measured cost of tracing one batch-short query",
    "trace.span_cost_ms.per_batch_est": "none: estimated cost of tracing one stream-orders micro-batch",
}


@dataclass
class Context:
    workload: str
    seed: int
    seconds: int
    tracer: trace.Tracer | None
    scratch: measure.Scratch
    data_dir: str = ""


def _setups(ctx: Context, imports_s: float):
    """Set up ``SETUPS`` times and return the last session and the set-up
    times. Each time is the package's import time (paid once per process,
    so added to every sample) plus a session build and one warm-up query.
    The first set-up also launches the JVM. The others stop the session and
    build a new one (a new SparkContext) in the same JVM; relaunching the
    JVM each time would cost more of the run's time budget than the timed
    window itself. The median is therefore a set-up in a running JVM."""
    from kafka_streams_playground_spark.plans import REGISTRY

    def warm_up(spark):
        batch._noop(REGISTRY[WARM_UP_QUERY].fn(spark, ctx.data_dir))

    times = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, took = measure.start_session(warm_up, ctx.tracer)
        times.append(imports_s + took)
    return spark, times


def _exec_layers(ctx: Context, app_id: str, result: dict, cores: int) -> dict[str, float]:
    """Execution metrics from the event log of a stopped session, over the
    traced units of work (``<workload>/<pass>/<query>`` or
    ``<workload>/<q>/<batchId>``)."""
    log = trace.find_event_log(os.path.join(ctx.scratch.path, "events"), app_id)
    run_ids = result["layers"].get("run_ids", {})
    groups = trace.read_event_log(log, run_ids, keep=lambda g: g.startswith(ctx.workload + "/"))
    total = lambda k: sum(g.get(k, 0.0) for g in groups.values())  # noqa: E731
    exec_s = total("exec_s")
    return {
        "exec.s.sum": exec_s,
        "exec.jobs": total("jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.task_run_ms.sum": total("task_run_ms"),
        "exec.task_wait_ms.sum": total("task_wait_ms"),
        "exec.busy_frac": total("task_run_ms") / (cores * exec_s * 1000.0) if exec_s else 0.0,
        "exec.gc_ms.sum": total("gc_ms"),
        "exec.shuffle_write_bytes": total("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": total("shuffle_read_bytes"),
        "exec.spill_bytes": total("spill_bytes"),
    }


def _layer_metrics(ctx: Context, result: dict, exec_layers: dict) -> dict[str, float]:
    tracer = ctx.tracer
    out = dict.fromkeys(MOVES, 0.0)
    out.update(exec_layers)
    get_spark = tracer.durations("session.get_spark")
    out["session.get_spark_s"] = measure.median(get_spark)
    if ctx.workload == "stream-orders":
        out.update(stream.layer_metrics(ctx, result, tracer))
    else:
        for phase, ms in result["layers"]["catalyst"].items():
            out[f"catalyst.{phase}_ms.sum"] = ms
        out["trace.overhead_ms.p50"] = measure.percentile(result["layers"]["overhead_s"], 50) * 1000.0
    out["plans.build_s.sum"] = sum(tracer.durations("plans.build"))
    loads = tracer.durations("sources.parquet.load_table")
    out["sources.parquet.load_table.calls"] = len(loads)
    out["sources.parquet.load_table_s.sum"] = sum(loads)
    for layer, secs in trace.self_times(tracer.spans).items():
        if f"self_s.{layer}" in out:
            out[f"self_s.{layer}"] = secs
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import kafka_streams_playground_spark.plans  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    imports_s = time.time() - PROCESS_START

    cores = min(CORES, len(os.sched_getaffinity(0)))
    started = measure.utc_now()
    ctx = Context(args.workload, args.seed, args.seconds, trace.Tracer() if args.trace else None, measure.Scratch())
    module = WORKLOADS[args.workload]
    spark = None
    marks = [("start", time.time())]
    try:
        measure.spark_env(ctx.scratch, cores, event_log=bool(args.trace))
        ctx.data_dir = datagen.write_tables(ctx.scratch.sub("data"), args.seed, SF)
        if hasattr(module, "prepare"):
            module.prepare(ctx)
        marks.append(("inputs", time.time()))
        spark, setup_times = _setups(ctx, imports_s)
        marks.append(("setups", time.time()))
        if ctx.tracer is not None:
            trace.instrument(ctx.tracer)
        result = module.run(spark, ctx)
        marks.append(("workload", time.time()))
        mem_mb = measure.peak_rss_mb(measure.jvm_pid())
        prov = measure.provenance(args.workload, args.seed, spark)
        app_id = spark.sparkContext.applicationId
        measure.stop_jvm()  # the event log is complete only once the session stops
        spark = None
        exec_layers = _exec_layers(ctx, app_id, result, cores) if ctx.tracer is not None else {}
    finally:
        if spark is not None:
            measure.stop_jvm()
        ctx.scratch.close()
    leftover = ctx.scratch.leftover
    marks.append(("teardown", time.time()))

    setup_s = measure.median(setup_times)
    metrics = {"setup_s": setup_s, "mem_peak_mb": mem_mb, **result["metrics"]}
    failed = result["failed"] + int(leftover)
    record = {
        "provenance": {**prov, "cores": cores, "sf": SF, "trace": args.trace, "utc_start": started},
        "setup_s": {"value": setup_s, "unit": "s", "n": len(setup_times), "samples": setup_times},
        "mem_peak_mb": {"value": mem_mb, "unit": "MB", "n": 1},
        "failed_frac": {"value": failed / result["attempted"], "unit": "ratio",
                        "failed": failed, "attempted": result["attempted"]},
        **result["record"],
        "scratch_left_over": leftover,
        "phases_s": {name: t - marks[i][1] for i, (name, t) in enumerate(marks[1:])},
    }
    if ctx.tracer is None:
        out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in SPEC["end_to_end"]}
    else:
        layers = _layer_metrics(ctx, result, exec_layers)
        record["end_to_end_traced"] = metrics
        out = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in SPEC["per_layer"]}
        record["per_layer_moves"] = MOVES
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
