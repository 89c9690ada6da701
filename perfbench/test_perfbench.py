"""Tests of the benchmark's helpers (no Spark session needed):
``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import batch, datagen, measure, stream, streamgen, trace  # noqa: E402


# --- percentile rule and sample counts --------------------------------------


def test_percentile_is_nearest_rank():
    values = list(range(1, 11))  # 1..10
    assert measure.percentile(values, 50) == 5
    assert measure.percentile(values, 90) == 9
    assert measure.percentile(values, 100) == 10
    assert measure.percentile(values, 0) == 1
    assert measure.percentile([7.0], 90) == 7.0
    assert measure.percentile([3, 1, 2], 50) == 2  # order of input does not matter


def test_percentile_of_no_samples_raises():
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_summary_scales_and_counts():
    s = measure.summary([0.1 * i for i in range(1, 101)], 1000.0)
    assert s["n"] == 100
    assert s["p50"] == pytest.approx(5000.0)
    assert s["p80"] == pytest.approx(8000.0)
    assert s["p90"] == pytest.approx(9000.0)


# --- self time ---------------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        trace.Span(1, "plans.build", 0.0, 10.0, None, "t"),
        trace.Span(2, "sources.parquet.load_table", 1.0, 4.0, 1, "t"),
        trace.Span(3, "sources.parquet.load_table", 3.0, 5.0, 1, "t"),  # overlaps span 2
        trace.Span(4, "operators.enrich_join", 9.0, 12.0, 1, "t"),  # runs past its parent
        trace.Span(5, "exec.run", 20.0, 21.5, None, "t"),
    ]
    got = trace.self_times(spans)
    assert got["plans"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got["sources.parquet"] == pytest.approx(3.0 + 2.0)
    assert got["operators"] == pytest.approx(3.0)
    assert got["exec"] == pytest.approx(1.5)


def test_tracer_nests_spans_and_skips_when_disabled():
    t = trace.Tracer()
    wrapped = t.wrap("operators.f", lambda x: x + 1)
    with t.span("plans.build", trace="w/0/q"):
        assert wrapped(1) == 2
    t.enabled = False
    assert wrapped(2) == 3
    names = {s.name: s for s in t.spans}
    assert set(names) == {"plans.build", "operators.f"}
    assert names["operators.f"].parent == names["plans.build"].id
    assert names["operators.f"].trace == names["plans.build"].trace == "w/0/q"


def test_catalyst_phases_become_spans_under_the_span_that_ran_them():
    t = trace.Tracer()
    t.add("bench.query", 0.0, 10.0, "w/0/q")
    run = t.add("exec.run", 4.0, 10.0, "w/0/q", parent=1)
    t.add("exec.run", 4.0, 10.0, "w/0/other")  # another trace is never a parent
    got = batch.add_catalyst_spans(t, "w/0/q", [("optimization", 4.5, 4.75), ("planning", 4.75, 5.0)])
    assert got == {"optimization": pytest.approx(250.0), "planning": pytest.approx(250.0)}
    spans = {s.name: s for s in t.spans}
    assert spans["catalyst.planning"].parent == run
    assert trace.self_times(t.spans)["exec"] == pytest.approx(6.0 + 6.0 - 0.5)


def test_union_seconds():
    assert trace.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.union_seconds([]) == 0


# --- files to micro-batches from a checkpoint --------------------------------


def _write(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines))


def _file_entry(topic: str, name: str, log_offset: int) -> str:
    return json.dumps({"path": f"file:///x/gen/{topic}/{name}", "timestamp": 1, "batchId": log_offset})


def test_source_files_maps_log_offsets_to_batches(tmp_path):
    cp = str(tmp_path)
    meta = json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}})
    # Batch 0 reads log offset 0 of both sources; batch 1 has no new files
    # (a watermark-only batch); batch 2 reads offset 1 of source 0 only.
    _write(f"{cp}/offsets/0", ["v1", meta, '{"logOffset":0}', '{"logOffset":0}'])
    _write(f"{cp}/offsets/1", ["v1", meta, '{"logOffset":0}', '{"logOffset":0}'])
    _write(f"{cp}/offsets/2", ["v1", meta, '{"logOffset":1}', '{"logOffset":0}'])
    _write(f"{cp}/sources/0/0", ["v1", _file_entry("orders", "t0.parquet", 0)])
    _write(f"{cp}/sources/0/1", ["v1", _file_entry("orders", "t1.parquet", 1),
                                 _file_entry("orders", "t2.parquet", 1)])
    _write(f"{cp}/sources/1/0", ["v1", _file_entry("payments", "t0.parquet", 0)])
    for b in range(3):
        _write(f"{cp}/commits/{b}", ["v1", "{}"])
    assert trace.source_files(cp) == {
        "orders/t0.parquet": 0,
        "orders/t1.parquet": 2,
        "orders/t2.parquet": 2,
        "payments/t0.parquet": 0,
    }
    assert set(trace.commit_times(cp)) == {0, 1, 2}


def test_source_files_reads_compacted_log_and_skips_unplanned(tmp_path):
    cp = str(tmp_path)
    meta = json.dumps({"batchWatermarkMs": 0})
    _write(f"{cp}/offsets/0", ["v1", meta, '{"logOffset":0}'])
    _write(f"{cp}/sources/0/1.compact", ["v1", _file_entry("orders", "a.parquet", 0),
                                         _file_entry("orders", "b.parquet", 1)])
    # Offset 1 is logged but no batch has reached it yet.
    assert trace.source_files(cp) == {"orders/a.parquet": 0}


def test_source_files_before_first_batch(tmp_path):
    assert trace.source_files(str(tmp_path)) == {}


def test_catchup_split():
    progress = [
        {"batchId": 0, "timestamp": "2024-01-01T00:00:02.000Z",
         "durationMs": {"triggerExecution": 5000, "addBatch": 4000}},
        {"batchId": 1, "timestamp": "2024-01-01T00:00:07.000Z",
         "durationMs": {"triggerExecution": 3000, "addBatch": 2500}},
        {"batchId": 2, "timestamp": "2024-01-01T00:00:10.000Z",
         "durationMs": {"triggerExecution": 1000, "addBatch": 900}},
    ]
    t_start = stream._epoch("2024-01-01T00:00:00.500Z")
    got = stream.catchup_split(progress, t_start, last_batch=1)
    assert got == {"batches": 2, "to_first_trigger": pytest.approx(1.5),
                   "addBatch": pytest.approx(6.5), "other": pytest.approx(1.5)}


def test_backlog_series():
    written = [1.0, 2.0, 3.0, 4.0]
    commits = [(2.5, 2), (4.5, 2)]
    assert stream.backlog_series(written, commits, [0.5, 2.0, 3.0, 4.6]) == [0, 2, 1, 0]


# --- event log attribution ---------------------------------------------------


def _event_log(path: str) -> None:
    run_id = "11111111-2222-3333-4444-555555555555"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "batch-short/0/q1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1010}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1015, "Finish Time": 1100},
         "Task Metrics": {"Executor Run Time": 80, "JVM GC Time": 5,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
                          "Memory Bytes Spilled": 2, "Disk Bytes Spilled": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1200},
        # A second job of the same group overlapping the first.
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1100, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "batch-short/0/q1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1300},
        # A streaming micro-batch job: grouped by runId + batch id.
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2000, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": run_id, "streaming.sql.batchId": "7"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3, "Submission Time": 2000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Launch Time": 2050, "Finish Time": 2100},
         "Task Metrics": {"Executor Run Time": 30}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2500},
        # Untraced work is ignored by the filter.
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 3000, "Stage IDs": [4],
         "Properties": {"spark.jobGroup.id": "untraced"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task Info": {"Launch Time": 3000, "Finish Time": 3100}, "Task Metrics": {"Executor Run Time": 99}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 3100},
    ]
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(e) for e in events))


def test_event_log_attributes_by_job_group(tmp_path):
    path = str(tmp_path / "local-1")
    _event_log(path)
    run_ids = {"11111111-2222-3333-4444-555555555555": "stream-orders/q4"}
    groups = trace.read_event_log(path, run_ids, keep=lambda g: g != "untraced")
    assert set(groups) == {"batch-short/0/q1", "stream-orders/q4/7"}
    q1 = groups["batch-short/0/q1"]
    assert q1["jobs"] == 2 and q1["stages"] == 1 and q1["tasks"] == 1
    assert q1["task_run_ms"] == 80 and q1["gc_ms"] == 5 and q1["task_wait_ms"] == 5
    assert q1["shuffle_read_bytes"] == 7 and q1["shuffle_write_bytes"] == 11 and q1["spill_bytes"] == 3
    assert q1["exec_s"] == pytest.approx(0.3)  # union of [1000,1200] and [1100,1300] ms
    q4 = groups["stream-orders/q4/7"]
    assert q4["task_wait_ms"] == 50 and q4["exec_s"] == pytest.approx(0.5)


# --- input determinism -------------------------------------------------------


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d in ("orders", "payments"):
        for name in sorted(os.listdir(os.path.join(root, d))):
            with open(os.path.join(root, d, name), "rb") as f:
                out[f"{d}/{name}"] = f.read()
    for name in ("backlog_orders.parquet", "backlog_payments.parquet"):
        with open(os.path.join(root, "truth", name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    return datagen.write_tables(str(tmp_path_factory.mktemp("fixture")), 1, 0.001)


def test_generator_is_deterministic_per_seed(tmp_path, monkeypatch, fixture_dir):
    monkeypatch.setattr(streamgen, "BACKLOG_TICKS", 6)
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        streamgen.run_phase(str(tmp_path / name), seed, "backlog", fixture_dir, 4, 0.0)
    a, b, c = (_tree_bytes(str(tmp_path / n)) for n in "abc")
    assert len(a) == 2 * 6 + 2
    assert a == b
    assert a != c


def test_fixture_orders_follow_the_fixture_mapping(fixture_dir):
    import pyarrow.parquet as pq

    fx = streamgen.fixture_orders(fixture_dir)
    li = pq.read_table(f"{fixture_dir}/lineitem.parquet").to_pydict()
    by_order: dict[int, list] = {}
    for k, p, st in zip(li["l_orderkey"], li["l_partkey"], li["l_linestatus"]):
        by_order.setdefault(k, []).append((f"p{p}", st))
    keys = sorted(by_order)
    assert len(fx["products"]) == len(keys) and fx["n_users"] == datagen.table_rows(0.001)["customer"]
    for i in (0, len(keys) // 2, len(keys) - 1):
        rows = by_order[keys[i]]
        assert fx["products"][i] == [p for p, _ in rows]
        assert fx["paid"][i] == (rows[0][1] == "F")


def test_generated_records_have_the_declared_traffic(fixture_dir):
    fx = streamgen.fixture_orders(fixture_dir)
    recs = streamgen.make_records(3, 400, fx)
    orders, pays = recs["orders"], recs["payments"]
    n = len(orders["value"])
    assert n == 400 * int(streamgen.RATE * streamgen.TICK_S)
    assert orders["products"][len(fx["products"]) + 1] == fx["products"][1]  # cycles the fixture
    bad = ~orders["valid"]
    assert 0.005 < bad.mean() < 0.016  # 1 in 97
    for v, ok in zip(orders["value"][:500], orders["valid"][:500]):
        if ok:
            assert json.loads(v)["orderId"]
        else:
            with pytest.raises(json.JSONDecodeError):
                json.loads(v)
    # Out-of-order records: event time earlier than the tick's start, by less
    # than the maximum shift.
    tick_start = streamgen.T0_MS + orders["tick"] * int(streamgen.TICK_S * 1000)
    early = tick_start - orders["ts_ms"]
    assert 0.03 < (early > 0).mean() < 0.07
    assert early.max() < streamgen.OUT_OF_ORDER_MAX_MS
    # One payment per order, except those due after the last tick.
    assert len(set(pays["order_id"])) == len(pays["order_id"]) > 0.9 * n
    assert (pays["tick"][1:] >= pays["tick"][:-1]).all()
    assert 0.45 < sum(st == "PAID" for st in pays["status"]) / len(pays["status"]) < 0.55


def test_batch_order_is_deterministic_per_seed():
    assert batch.pass_orders(1, 3) == batch.pass_orders(1, 3)
    assert batch.pass_orders(1, 3) != batch.pass_orders(2, 3)
    for order in batch.pass_orders(1, 3):
        assert sorted(order) == sorted(batch.BATCH_SHORT)


# --- BENCHMARK.json and the metrics the benchmark prints ----------------------


def test_every_per_layer_metric_says_what_it_should_move():
    from perfbench import run

    assert set(run.MOVES) == {m["name"] for m in run.SPEC["per_layer"]}
    assert {w["name"] for w in run.SPEC["workloads"]} == set(run.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in run.SPEC["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
