"""Closed-loop batch workload: one client runs the registered queries one at
a time, ``spark.catalog.clearCache()`` before each, each forced end to end
with the noop sink (the unit of work of ``bench.py``)."""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import measure, trace

# The seven reference topologies plus the 21 TPC-H-shaped ``q_*`` queries.
BATCH_SHORT = (
    "q1_expensive_orders",
    "q2_order_projection",
    "q3_products_by_first_letter",
    "q4_products_per_user_10s",
    "q5_paid_orders",
    "orders_products_array",
    "join_left_interval_unpaid",
    "q_shipping_priority_top10",
    "q_local_supplier_volume",
    "q_market_share_promo_asia",
    "q_returned_item_top_customers",
    "q_volume_shipping_pair",
    "q_product_type_profit",
    "q_late_shipment_priority",
    "q_supplier_cnt_by_part",
    "q_dormant_rich_customers",
    "q_min_cost_supplier",
    "q_order_priority_checking",
    "q_forecast_revenue",
    "q_important_stock",
    "q_cust_order_distribution",
    "q_promo_revenue",
    "q_top_supplier",
    "q_small_qty_revenue",
    "q_large_volume_customers",
    "q_disjunctive_revenue",
    "q_dominant_part_suppliers",
    "q_waiting_suppliers",
)

WARM_UP_THREADS = 4


def pass_orders(seed: int, n_passes: int) -> list[list[str]]:
    """The query order of each pass, reshuffled per pass from the seed."""
    rng = random.Random(seed)
    out = []
    for _ in range(n_passes):
        order = list(BATCH_SHORT)
        rng.shuffle(order)
        out.append(order)
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_query(spark, spec, data_dir: str) -> float:
    spark.catalog.clearCache()
    t0 = time.time()
    _noop(spec.fn(spark, data_dir))
    return time.time() - t0


def run_query_traced(spark, spec, data_dir: str, tracer, group: str, analysis: list[float]) -> float:
    """The unit of work of ``run_query`` with spans for its layers:
    ``plans`` (``spec.fn``, with the package's load and operator calls
    nested inside) and ``exec`` (the noop write). The write plans and runs
    the query once, as untraced; its Catalyst phases come from a listener
    afterwards (``add_catalyst_spans``). Appends the analysis milliseconds
    of the returned plan to ``analysis``."""
    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(group, group)
    tracer.trace = group
    t0 = time.time()
    with tracer.span("bench.query"):
        with tracer.span("plans.build"):
            df = spec.fn(spark, data_dir)
        analysis.append(trace.analysis_ms(df))
        with tracer.span("exec.run"):
            _noop(df)
    return time.time() - t0


def add_catalyst_spans(tracer, group: str, phases) -> dict[str, float]:
    """Record each listener phase as a ``catalyst`` span under the span of
    ``group`` that contains it; returns milliseconds per phase."""
    out = dict.fromkeys(trace.CatalystListener.PHASES, 0.0)
    for phase, start, end in phases:
        tracer.add(f"catalyst.{phase}", start, end, group, trace.innermost(tracer.spans, group, start, end))
        out[phase] += (end - start) * 1000.0
    return out


def _warm_and_collect(spark, spec, data_dir: str):
    df = spec.fn(spark, data_dir)
    _noop(df)
    return df.toPandas()


def check_oracles(spark, data_dir: str, names) -> dict[str, str]:
    """Run each query once into the noop sink and once collecting its
    output, and compare the output with its DuckDB oracle using the
    type-strict canonical form of ``tools/check_correctness.py``; returns
    ``{name: reason}`` for the queries that do not match. This pass is also
    the warm-up: the noop write compiles the code the timed passes run
    (without it the first timed pass runs about a fifth slower than the
    second, and spreads more). It runs ``WARM_UP_THREADS`` queries at a
    time, as concurrent jobs of the one session, so the warm-up costs less
    of the run than the timed passes."""
    import duckdb

    from kafka_streams_playground_spark.plans import REGISTRY
    from tools.check_correctness import _norm_rows

    spark.catalog.clearCache()
    with ThreadPoolExecutor(max_workers=WARM_UP_THREADS) as pool:
        outputs = {name: pool.submit(_warm_and_collect, spark, REGISTRY[name], data_dir) for name in names}
    spark.catalog.clearCache()
    con = duckdb.connect()
    for f in os.listdir(data_dir):
        table = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{os.path.join(data_dir, f)}')")
    bad = {}
    for name, output in outputs.items():
        try:
            s = output.result()
            d = con.execute(REGISTRY[name].oracle).df()
            if sorted(s.columns) != sorted(d.columns):
                bad[name] = f"columns {sorted(s.columns)} != {sorted(d.columns)}"
            elif _norm_rows(list(s.columns), list(s.itertuples(index=False, name=None))) != _norm_rows(
                list(d.columns), list(d.itertuples(index=False, name=None))
            ):
                bad[name] = f"values differ ({len(s)} vs {len(d)} rows)"
        except Exception as e:  # noqa: BLE001 - a failing query is a reported result
            bad[name] = f"{type(e).__name__}: {e}"
    con.close()
    return bad


def run(spark, ctx) -> dict:
    """The oracle pass (untimed; it doubles as the warm-up), then whole
    passes in seeded order until ``ctx.seconds`` have elapsed. Latency is
    pooled over queries × passes. In a traced run every query runs twice in
    a row, traced and untraced in alternating order, and the paired
    difference is the tracing overhead."""
    from kafka_streams_playground_spark.plans import REGISTRY

    tracer, data = ctx.tracer, ctx.data_dir
    passes = pass_orders(ctx.seed, 1000)
    t0 = time.time()
    if tracer is not None:
        tracer.enabled = False  # spans cover the timed executions only
    bad = check_oracles(spark, data, passes[0])
    oracle_pass_s = time.time() - t0

    query_s: dict[str, list[float]] = {n: [] for n in BATCH_SHORT}
    pass_s, overhead_s, errors = [], [], {}
    catalyst = {"analysis": [], "optimization": 0.0, "planning": 0.0}
    listener = trace.CatalystListener(spark) if tracer is not None else None
    t_start = time.time()
    for p, order in enumerate(passes[1:]):
        if time.time() - t_start >= ctx.seconds:
            break
        pass_start = time.time()
        for i, name in enumerate(order):
            spec = REGISTRY[name]
            try:
                if tracer is None:
                    query_s[name].append(run_query(spark, spec, data))
                    continue
                took, group = {}, f"{ctx.workload}/{p}/{name}"
                for traced in (True, False) if (p + i) % 2 == 0 else (False, True):
                    tracer.enabled = traced
                    if traced:
                        listener.flush()  # no earlier execution is recorded
                        listener.recording = True
                        took[traced] = run_query_traced(spark, spec, data, tracer, group, catalyst["analysis"])
                        listener.flush()
                        listener.recording = False
                        for phase, ms in add_catalyst_spans(tracer, group, listener.take()).items():
                            catalyst[phase] += ms
                    else:
                        spark.sparkContext.setJobGroup("untraced", "untraced")
                        took[traced] = run_query(spark, spec, data)
                tracer.enabled = True
                query_s[name].append(took[True])
                overhead_s.append(took[True] - took[False])
            except Exception as e:  # noqa: BLE001 - counted as a failed execution
                errors.setdefault(name, f"{type(e).__name__}: {e}")
                query_s[name].append(float("nan"))
        pass_s.append(time.time() - pass_start)
    window_s = time.time() - t_start
    mem_mb = measure.live_mb(spark)

    executions = sum(len(v) for v in query_s.values())
    failed = sum(len(v) for n, v in query_s.items() if n in bad or n in errors)
    lat = measure.summary([t for n, v in query_s.items() if n not in errors for t in v], 1000.0)
    return {
        "attempted": executions,
        "failed": failed,
        "metrics": {
            "mem_live_mb": mem_mb,
            "latency_ms.p50": lat["p50"],
            "latency_ms.p80": lat["p80"],
            "throughput_per_s": executions / window_s,
        },
        "record": {
            "query_s.p50": {"value": lat["p50"] / 1000, "unit": "s", "n": lat["n"]},
            "query_s.p90": {"value": lat["p90"] / 1000, "unit": "s", "n": lat["n"]},
            "pass_s": {"value": measure.median(pass_s), "unit": "s", "n": len(pass_s)},
            "oracle_pass_s": {"value": oracle_pass_s, "unit": "s", "n": 1},
            "query_s.by_query": query_s,
            "oracle_failures": bad,
            "errors": errors,
        },
        "layers": {
            "catalyst": {**catalyst, "analysis": sum(catalyst["analysis"])},
            "overhead_s": overhead_s,
        },
    }
