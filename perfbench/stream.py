"""Open-loop streaming workload: two streaming queries in one session read
Kafka-shaped files that a separate generator process writes on a fixed
schedule.

* ``q4``: ``deserialize_json`` → explode products → 10 s ``tumbling_count``
  per user (update mode) → ``upsert_foreach_batch_writer`` keyed on
  (user, window).
* ``q5``: orders and payments through ``deserialize_json`` → stream-static
  join to ``customer`` plus a broadcast discount dim from ``nation`` →
  ``interval_join`` with PAID payments within 30 s →
  ``idempotent_foreach_batch_writer``.

Phase one (catch-up) drains a backlog written before the queries start,
at most ``FILES_PER_TRIGGER`` files per source per micro-batch (the
file-source analogue of Kafka's ``maxOffsetsPerTrigger``). The backlog is
one capped batch, so catch-up time runs from query start to the commit of
that batch: start-up plus one large batch. ``catchup_split`` reports how it
divides between the time to the first trigger, the sink's ``addBatch``
(the per-row work) and the rest of the trigger. Phase two (steady) lasts
``--seconds``, with the generator writing one file per topic every
``streamgen.TICK_S`` seconds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import Counter
from datetime import datetime

from perfbench import measure, streamgen, trace

FILES_PER_TRIGGER = 30
WATERMARK = "15 seconds"
WINDOW = "10 seconds"
JOIN_UPPER = "30 seconds"
DRAIN_TIMEOUT_S = 60.0
QUERIES = ("q4", "q5")
TOPICS = {"q4": ("orders",), "q5": ("orders", "payments")}


def _schemas():
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    topic = StructType([
        StructField("key", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", StringType()),
    ])
    order = StructType([
        StructField("orderId", StringType()),
        StructField("user", StringType()),
        StructField("amount", DoubleType()),
        StructField("products", ArrayType(StringType())),
    ])
    payment = StructType([
        StructField("paymentId", StringType()),
        StructField("orderId", StringType()),
        StructField("amount", DoubleType()),
        StructField("status", StringType()),
    ])
    return topic, order, payment


def build(spark, ctx, gen_dir: str, sinks: dict[str, str]):
    """The two streaming plans and their foreachBatch writers, built only
    from the package's public functions."""
    from pyspark.sql import functions as F

    from kafka_streams_playground_spark.operators.aggregations import tumbling_count
    from kafka_streams_playground_spark.operators.joins import (
        enrich_join,
        global_lookup_join,
        interval_join,
    )
    from kafka_streams_playground_spark.operators.stateless import explode_list, with_computed
    from kafka_streams_playground_spark.sources.json_serde import deserialize_json
    from kafka_streams_playground_spark.sources.parquet import load_table
    from kafka_streams_playground_spark.sources.sinks import (
        idempotent_foreach_batch_writer,
        upsert_foreach_batch_writer,
    )

    topic_schema, order_schema, payment_schema = _schemas()

    def read(topic: str, schema):
        raw = (
            spark.readStream.schema(topic_schema)
            .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
            .parquet(os.path.join(gen_dir, topic))
        )
        return deserialize_json(raw, schema, keep_cols=("ts",)).withWatermark("ts", WATERMARK)

    orders4 = read("orders", order_schema)
    per_user = tumbling_count(
        explode_list(orders4, "products", "product", "user", "ts"), "ts", WINDOW, F.col("user")
    )
    q4 = per_user.select("user", F.unix_timestamp("window.start").alias("window_start"), "cnt")

    orders5 = read("orders", order_schema).select(
        F.col("orderId").alias("order_id"), "user", "amount", F.col("ts").alias("order_ts")
    )
    payments = read("payments", payment_schema).select(
        F.col("paymentId").alias("payment_id"),
        F.col("orderId").alias("pay_order_id"),
        "status",
        F.col("ts").alias("pay_ts"),
    )
    customer = load_table(spark, ctx.data_dir, "customer").select("c_custkey", "c_nationkey")
    discounts = load_table(spark, ctx.data_dir, "nation").select(
        "n_nationkey",
        "n_name",
        (F.lit(1.0) - F.lit(0.01) * (F.col("n_nationkey") % 5)).alias("discount_mult"),
    )
    enriched = enrich_join(orders5, customer, on=orders5["user"].cast("long") == customer["c_custkey"])
    priced = with_computed(
        global_lookup_join(enriched, discounts, key_extractor="c_nationkey", dim_key="n_nationkey"),
        "discounted_amount",
        F.floor(F.col("amount") * F.col("discount_mult") * 100 + 0.5) / 100,
    )
    paid = interval_join(
        priced,
        payments,
        left_key="order_id",
        right_key="pay_order_id",
        left_ts="order_ts",
        right_ts="pay_ts",
        lower="0 seconds",
        upper=JOIN_UPPER,
        extra_condition=payments["status"] == "PAID",
    )
    q5 = paid.select(
        "order_id",
        "payment_id",
        "user",
        F.col("n_name").alias("nation"),
        "discounted_amount",
        F.unix_millis("pay_ts").alias("paid_ms"),
    )
    writers = {
        "q4": upsert_foreach_batch_writer(sinks["q4"], ["user", "window_start"], seq_col="cnt"),
        "q5": idempotent_foreach_batch_writer(sinks["q5"]),
    }
    return {"q4": (q4, "update"), "q5": (q5, "append")}, writers


def traced_writer(tracer, prefix: str, fn):
    """Wrap a foreachBatch function in a ``sources.sinks`` span whose trace
    id is the micro-batch's."""

    def write(df, batch_id):
        with tracer.span("sources.sinks.write", trace=f"{prefix}/{batch_id}"):
            fn(df, batch_id)

    return write


def _generator(gen_dir: str, seed: int, phase: str, data_dir: str, steady_ticks: int, start: float = 0.0):
    return subprocess.Popen(
        [
            sys.executable,
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "streamgen.py"),
            "--out", gen_dir, "--seed", str(seed), "--phase", phase, "--data", data_dir,
            "--steady-ticks", str(steady_ticks), "--start", repr(start),
        ]
    )


def _wait(proc, timeout: float) -> None:
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("generator did not finish in time") from None
    if rc != 0:
        raise RuntimeError(f"generator exited with {rc}")


def _manifest(gen_dir: str, phase: str) -> tuple[list[dict], list[dict]]:
    """The generator's (files, ticks) records of one phase."""
    with open(os.path.join(gen_dir, "truth", f"{phase}_manifest.json")) as f:
        m = json.load(f)
    return m["files"], m["ticks"]


def _committed(checkpoint: str, files: list[str]) -> float | None:
    """Commit time of the batch that consumed the last of ``files``, or
    None while any of them is not yet committed."""
    if not os.path.isdir(os.path.join(checkpoint, "commits")):
        return None
    batches = trace.source_files(checkpoint)
    commits = trace.commit_times(checkpoint)
    times = [commits.get(batches.get(f, -1)) for f in files]
    return None if any(t is None for t in times) else max(times)


def _wait_committed(queries, checkpoints, files_by_q, timeout: float) -> dict[str, float]:
    deadline = time.time() + timeout
    done: dict[str, float] = {}
    while len(done) < len(files_by_q):
        for q, files in files_by_q.items():
            if q in done:
                continue
            if queries[q].exception() is not None:
                raise RuntimeError(f"{q} failed: {queries[q].exception()}")
            t = _committed(checkpoints[q], files)
            if t is not None:
                done[q] = t
        if time.time() > deadline:
            raise RuntimeError(f"input not committed within {timeout:.0f} s: {sorted(set(files_by_q) - set(done))}")
        time.sleep(0.1)
    return done


def _stop(queries, idle_timeout: float = 15.0) -> None:
    """Stop the queries once no micro-batch is running (a trailing batch
    without new files may still run to advance the watermark), so no sink
    write is cut off."""
    deadline = time.time() + idle_timeout
    for query in queries:
        while query.isActive and query.status["isTriggerActive"] and time.time() < deadline:
            time.sleep(0.05)
        query.stop()


def _files(manifest: list[dict], topics) -> list[str]:
    return [f"{m['topic']}/{m['file']}" for m in manifest if m["topic"] in topics]


def _progress(query) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in query.recentProgress]


def check_sinks(spark, ctx, gen_dir: str, sinks: dict[str, str]) -> tuple[int, int, dict]:
    """Compare the final sinks with DuckDB over the generator's typed copy of
    the records. Returns (valid records, failures, detail): a failure is a
    sink row missing or wrong against the oracle, or a malformed record's id
    found in a sink."""
    import duckdb

    from kafka_streams_playground_spark.sources.sinks import read_table_version
    from tools.check_correctness import _norm_rows

    truth = os.path.join(gen_dir, "truth")
    con = duckdb.connect()
    for topic in ("orders", "payments"):
        con.execute(
            f"CREATE VIEW {topic} AS SELECT * FROM read_parquet('{truth}/*_{topic}.parquet')"
        )
    for table in ("customer", "nation"):
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{ctx.data_dir}/{table}.parquet')"
        )
    oracles = {
        "q4": f"""
            SELECT o.user, CAST(o.ts_ms // 10000 * 10 AS BIGINT) AS window_start,
                   CAST(SUM(len(o.products)) AS BIGINT) AS cnt
            FROM orders o WHERE o.valid GROUP BY 1, 2""",
        "q5": f"""
            SELECT o.order_id, p.payment_id, o.user, n.n_name AS nation,
                   FLOOR(o.amount * (1.0 - 0.01 * (n.n_nationkey % 5)) * 100 + 0.5) / 100
                       AS discounted_amount,
                   p.ts_ms AS paid_ms
            FROM orders o
            JOIN customer c ON CAST(o.user AS BIGINT) = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN payments p ON p.order_id = o.order_id
             AND p.ts_ms BETWEEN o.ts_ms AND o.ts_ms + {streamgen.JOIN_WINDOW_MS}
             AND p.status = 'PAID'
            WHERE o.valid AND p.valid""",
    }
    got = {
        "q4": read_table_version(spark, sinks["q4"]).toPandas(),
        "q5": spark.read.parquet(sinks["q5"]).drop("batch_id").toPandas(),
    }
    failures, detail = 0, {}
    for q, sql in oracles.items():
        want = con.execute(sql).df()
        a = Counter(_norm_rows(list(got[q].columns), list(got[q].itertuples(index=False, name=None))))
        b = Counter(_norm_rows(list(want.columns), list(want.itertuples(index=False, name=None))))
        wrong = sum(((a - b) + (b - a)).values())
        failures += wrong
        detail[q] = {"sink_rows": len(got[q]), "oracle_rows": len(want), "rows_wrong": wrong}
    bad_orders = {r[0] for r in con.execute("SELECT order_id FROM orders WHERE NOT valid").fetchall()}
    bad_pays = {r[0] for r in con.execute("SELECT payment_id FROM payments WHERE NOT valid").fetchall()}
    leaked = len(set(got["q5"]["order_id"]) & bad_orders) + len(set(got["q5"]["payment_id"]) & bad_pays)
    failures += leaked
    detail["malformed_in_sinks"] = leaked
    valid = con.execute(
        "SELECT (SELECT count(*) FROM orders WHERE valid) + (SELECT count(*) FROM payments WHERE valid)"
    ).fetchone()[0]
    con.close()
    return int(valid), failures, detail


def _pct(values: list[float], q: float) -> float:
    return measure.percentile(values, q) if values else 0.0


def streaming_layers(q: str, progress: list[dict]) -> dict[str, float]:
    """Per-query micro-batch metrics from the progress events."""
    dur = lambda k: [p.get("durationMs", {}).get(k, 0) for p in progress]  # noqa: E731
    ops = lambda p: p.get("stateOperators") or []  # noqa: E731
    last = progress[-1] if progress else {}
    pre = f"streaming.{q}."
    return {
        pre + "batches": len(progress),
        pre + "batch_rows.p50": _pct([p.get("numInputRows", 0) for p in progress], 50),
        pre + "trigger_ms.p50": _pct(dur("triggerExecution"), 50),
        pre + "trigger_ms.p90": _pct(dur("triggerExecution"), 90),
        pre + "addBatch_ms.p50": _pct(dur("addBatch"), 50),
        pre + "queryPlanning_ms.p50": _pct(dur("queryPlanning"), 50),
        pre + "latestOffset_ms.p50": _pct(dur("latestOffset"), 50),
        pre + "walCommit_ms.p50": _pct(dur("walCommit"), 50),
        pre + "commitOffsets_ms.p50": _pct(dur("commitOffsets"), 50),
        pre + "state_rows.end": sum(o.get("numRowsTotal", 0) for o in ops(last)),
        pre + "state_bytes.end": sum(o.get("memoryUsedBytes", 0) for o in ops(last)),
        pre + "state_commit_ms.p50": _pct([sum(o.get("commitTimeMs", 0) for o in ops(p)) for p in progress], 50),
        pre + "state_update_ms.p50": _pct([sum(o.get("allUpdatesTimeMs", 0) for o in ops(p)) for p in progress], 50),
        pre + "rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for p in progress for o in ops(p)
        ),
    }


def catchup_split(progress: list[dict], t_start: float, last_batch: int) -> dict[str, float]:
    """Where one query's catch-up time went, from its progress events:
    query start to its first trigger, then, over the batches up to
    ``last_batch`` (the one holding the backlog's last file), the sink's
    ``addBatch`` time and the rest of each trigger (planning, offsets,
    write-ahead log, commit)."""
    backlog = [p for p in progress if p["batchId"] <= last_batch]
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1000.0  # noqa: E731
    return {
        "batches": len(backlog),
        "to_first_trigger": _epoch(backlog[0]["timestamp"]) - t_start if backlog else 0.0,
        "addBatch": sum(dur(p, "addBatch") for p in backlog),
        "other": sum(dur(p, "triggerExecution") - dur(p, "addBatch") for p in backlog),
    }


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def backlog_series(written: list[float], commits: list[tuple[float, int]], at: list[float]) -> list[int]:
    """Files written minus files committed at each time in ``at``;
    ``commits`` holds (commit time, files in that batch)."""
    return [
        sum(1 for w in written if w <= t) - sum(n for c, n in commits if c <= t) for t in at
    ]


def run(spark, ctx) -> dict:
    tracer = ctx.tracer
    gen_dir = ctx.scratch.sub("gen")
    sinks = {q: os.path.join(ctx.scratch.sub("sinks"), q) for q in QUERIES}
    checkpoints = {q: os.path.join(ctx.scratch.sub("checkpoints"), q) for q in QUERIES}
    steady_ticks = int(ctx.seconds / streamgen.TICK_S)
    backlog, backlog_tick_log = _manifest(gen_dir, "backlog")

    plans, writers = (
        build(spark, ctx, gen_dir, sinks)
        if tracer is None
        else _traced_build(spark, ctx, gen_dir, sinks, tracer)
    )
    queries = {}
    t_start = time.time()
    for q, (df, mode) in plans.items():
        fn = writers[q] if tracer is None else traced_writer(tracer, f"{ctx.workload}/{q}", writers[q])
        queries[q] = (
            df.writeStream.queryName(q)
            .option("checkpointLocation", checkpoints[q])
            .outputMode(mode)
            .foreachBatch(fn)
            .start()
        )
    gen = None
    try:
        caught_up = _wait_committed(
            queries, checkpoints, {q: _files(backlog, TOPICS[q]) for q in QUERIES}, DRAIN_TIMEOUT_S
        )
        catchup_s = max(caught_up.values()) - t_start
        start = time.time() + 2.0
        gen = _generator(gen_dir, ctx.seed, "steady", ctx.data_dir, steady_ticks, start)
        _wait(gen, ctx.seconds + 30.0)
        t_gen_done = time.time()
        steady, steady_tick_log = _manifest(gen_dir, "steady")
        _wait_committed(
            queries, checkpoints, {q: _files(steady, TOPICS[q]) for q in QUERIES}, DRAIN_TIMEOUT_S
        )
        progress = {q: _progress(queries[q]) for q in QUERIES}
        t_drained = time.time()
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        _stop(queries.values())
    t_stopped = time.time()

    manifest = {f"{m['topic']}/{m['file']}": m for m in backlog + steady}
    maps = {q: (trace.source_files(checkpoints[q]), trace.commit_times(checkpoints[q])) for q in QUERIES}
    split = {q: catchup_split(progress[q], t_start, max(maps[q][0][f] for f in _files(backlog, TOPICS[q])))
             for q in QUERIES}
    latency: dict[str, list[float]] = {}
    for q in QUERIES:
        batches, commits = maps[q]
        latency[q] = [
            (commits[batches[f]] - manifest[f]["due"]) * 1000.0 for f in _files(steady, TOPICS[q])
        ]
    valid, failed, detail = check_sinks(spark, ctx, gen_dir, sinks)
    mem_mb = measure.live_mb(spark)
    backlog_records = sum(m["records"] for m in backlog)
    pooled = measure.summary(latency["q4"] + latency["q5"])
    record = {
        f"{q}.latency_ms.{k}": {"value": s[k], "unit": "ms", "n": s["n"]}
        for q, s in ((q, measure.summary(latency[q])) for q in QUERIES)
        for k in ("p50", "p90")
    }
    record.update({
        "catchup_rows_per_s": {"value": backlog_records / catchup_s, "unit": "rows/s", "n": 1},
        "catchup_s": {"value": catchup_s, "unit": "s", "n": 1},
        "catchup_split_s": split,
        "backlog_records": backlog_records,
        "steady_files": len(steady),
        "sinks": detail,
        "steps_s": {"catch_up_and_steady": t_gen_done - t_start, "drain": t_drained - t_gen_done,
                    "stop": t_stopped - t_drained, "check": time.time() - t_stopped},
    })
    layers = {"progress": progress, "manifests": (backlog, steady),
              "ticks": backlog_tick_log + steady_tick_log, "maps": maps,
              "run_ids": {str(queries[q].runId): f"{ctx.workload}/{q}" for q in QUERIES}}
    return {
        "attempted": valid,
        "failed": failed,
        "metrics": {
            "mem_live_mb": mem_mb,
            "latency_ms.p50": pooled["p50"],
            "latency_ms.p80": pooled["p80"],
            "throughput_per_s": backlog_records / catchup_s,
        },
        "record": record,
        "layers": layers,
    }


def _traced_build(spark, ctx, gen_dir, sinks, tracer):
    tracer.trace = f"{ctx.workload}/build"
    with tracer.span("plans.build"):
        return build(spark, ctx, gen_dir, sinks)


def prepare(ctx) -> None:
    """Write the backlog before any session starts (generator work is not
    part of set-up time)."""
    gen_dir = ctx.scratch.sub("gen")
    _wait(
        _generator(gen_dir, ctx.seed, "backlog", ctx.data_dir, int(ctx.seconds / streamgen.TICK_S)),
        120.0,
    )


def layer_metrics(ctx, result: dict, spans_tracer) -> dict[str, float]:
    """Streaming, sink and generator metrics of a traced run, plus spans
    for each micro-batch and generator tick."""
    info = result["layers"]
    out: dict[str, float] = {}
    backlog, steady = info["manifests"]
    files = backlog + steady
    written = {f"{m['topic']}/{m['file']}": m["written"] for m in files}
    for q in QUERIES:
        progress = info["progress"][q]
        out.update(streaming_layers(q, progress))
        prefix = f"{ctx.workload}/{q}"
        batch_spans = {}
        for p in progress:
            start = _epoch(p["timestamp"])
            end = start + p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
            batch_spans[f"{prefix}/{p['batchId']}"] = spans_tracer.add("streaming.batch", start, end, f"{prefix}/{p['batchId']}")
        for s in spans_tracer.spans:
            if s.name == "sources.sinks.write" and s.trace in batch_spans:
                s.parent = batch_spans[s.trace]
        writes = [(s.end - s.start) * 1000.0 for s in spans_tracer.spans
                  if s.name == "sources.sinks.write" and s.trace.startswith(prefix + "/")]
        out[f"sources.sinks.{q}.write_ms.p50"] = _pct(writes, 50)
    # Backlog per progress event of the steady phase: files written minus
    # files committed, over the files each query reads, sampled at each
    # event's end; ``.end`` is the last sample before the generator stopped.
    steady_start = min((m["due"] for m in steady), default=0.0)
    steady_end = max((m["written"] for m in steady), default=0.0)
    backlog_max, backlog_end = 0, 0
    for q in QUERIES:
        batches, commits = info["maps"][q]
        per_batch = Counter(batches[f] for f in batches)
        mine = [written[f] for f in written if f.split("/")[0] in TOPICS[q]]
        at = [
            _epoch(p["timestamp"]) + p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
            for p in info["progress"][q]
        ]
        at = [t for t in at if steady_start <= t <= steady_end]
        series = backlog_series(mine, [(commits[b], n) for b, n in per_batch.items() if b in commits], at)
        if series:
            backlog_max = max(backlog_max, max(series))
            backlog_end = max(backlog_end, series[-1])
    out["sources.file_stream.backlog_files.max"] = backlog_max
    out["sources.file_stream.backlog_files.end"] = backlog_end
    # An estimate, not a measurement: while the queries run, the sink-write
    # spans are the only ones recorded, so tracing costs their number per
    # micro-batch times the cost of one span, timed apart from the run.
    live = sum(1 for s in spans_tracer.spans if s.name == "sources.sinks.write")
    batches = sum(len(info["progress"][q]) for q in QUERIES)
    out["trace.span_cost_ms.per_batch_est"] = live / max(batches, 1) * trace.span_cost_s() * 1000.0
    lags = [(m["written"] - m["due"]) * 1000.0 for m in steady]
    out["gen.lag_ms.max"] = max(lags, default=0.0)
    out["gen.records"] = sum(m["records"] for m in files)
    for t in info["ticks"]:
        spans_tracer.add("gen.tick", t["start"], t["end"], f"{ctx.workload}/gen/{t['tick']}")
    return out
