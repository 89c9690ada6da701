"""Open-loop generator of Kafka-shaped records for the ``stream-orders``
workload.

It runs as its own single-threaded process, so a slow engine never slows
the schedule. Each tick writes one parquet file per topic (``key`` string,
``ts`` timestamp, ``value`` JSON string) and renames it atomically into
``{out}/orders`` or ``{out}/payments``, where Spark's file-stream source
picks it up. The two topics follow the reference's ``Order`` and
``Payment`` records:

* orders: ``{"orderId", "user", "amount", "products"}``;
* payments: ``{"paymentId", "orderId", "amount", "status"}``.

Where the traffic mix comes from. The records are the seeded fixture
tables (``perfbench/datagen.py``) replayed through the repository's mapping
of the reference onto them (``FIXTURES.md`` §B, ``plans/topologies.py``):

* an order is an ``orders`` row with at least one ``lineitem``: ``amount``
  is ``o_totalprice`` and ``products`` are its lineitems' ``l_partkey``
  (``orders_products_array``), so products per order follow the fixtures
  (1-15, mean 4; the sf0.1 fixture has mean 4.08);
* each order has one payment, keyed by its orderId as in the reference;
  its ``status`` is PAID when the order's first lineitem has
  ``l_linestatus = 'F'``, the mapping ``q5_paid_orders`` uses (half the
  lineitems, in the fixtures and here);
* ``MALFORMED_SHARE`` is the corrupted slice of ``json_roundtrip_events``
  (``event_id % 97 == 0``), the repository's own malformed-JSON test.

``RATE`` is the low end of the 500-4 000 records/s at which the
reference's Q4 shape, run as a live stream on ``local[4]``, kept similar
micro-batch latency. Three dimensions have no source in the repository:
its fixtures have uniform customer keys (at sf0.1 at most 24 orders per
customer, mean 10) and an ``events`` stream in event-time order, and the
reference's join window (5 min) is longer than a run. So these values are
arbitrary choices:

* ``ZIPF_A``: user skew, which sets q4's state and sink rows per window;
* ``OUT_OF_ORDER_SHARE`` / ``OUT_OF_ORDER_MAX_MS``: records moved back in
  event time (below the watermark delay, so none is dropped), which
  re-open closed q4 windows;
* ``LATE_PAY_SHARE`` and the 30 s ``JOIN_WINDOW_MS``: payments beyond the
  join window, which set q5's matches and join state.

Every value is derived from the seed and tick index, never from the clock,
so one seed always gives byte-identical records.

At the end of a phase the generator writes the typed copy of its records
(the oracle's input, not parsed from JSON) and a manifest with each file's
due time, write time and record count to ``{out}/truth``.

Run: ``python3 perfbench/streamgen.py --out DIR --data FIXTURE_DIR --seed N
--phase backlog`` then ``--phase steady --start EPOCH_S``.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z: event time of tick 0
TICK_S = 0.5
RATE = 500  # orders per second of event time, each with one payment
BACKLOG_TICKS = 30
MALFORMED_SHARE = 1 / 97
# Arbitrary (see above):
ZIPF_A = 1.3
OUT_OF_ORDER_SHARE = 0.05
OUT_OF_ORDER_MAX_MS = 8_000  # must stay below the queries' watermark delay
LATE_PAY_SHARE = 0.1  # payments beyond the join window
JOIN_WINDOW_MS = 30_000

TOPIC_SCHEMA = pa.schema([
    ("key", pa.string()),
    ("ts", pa.timestamp("ms", tz="UTC")),
    ("value", pa.string()),
])


def _finish(rng: np.random.Generator, ts_ms: np.ndarray, values: list[str]):
    """Move a share of event times back (out-of-order arrival) and truncate
    a share of values (malformed JSON); returns (ts_ms, values, valid)."""
    n = len(values)
    late = rng.random(n) < OUT_OF_ORDER_SHARE
    ts_ms = ts_ms - np.where(late, rng.integers(1_000, OUT_OF_ORDER_MAX_MS, n), 0)
    bad = rng.random(n) < MALFORMED_SHARE
    values = [v[: len(v) // 2] if b else v for v, b in zip(values, bad)]
    return ts_ms, values, ~bad


def fixture_orders(data_dir: str) -> dict:
    """The fixture orders a stream replays: per ``orders`` row with at least
    one ``lineitem``, its amount, products and PAID flag; plus the number
    of customers (the user keys)."""
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet"), columns=["o_orderkey", "o_totalprice"])
    li = pq.read_table(
        os.path.join(data_dir, "lineitem.parquet"), columns=["l_orderkey", "l_partkey", "l_linestatus"]
    )
    key = li["l_orderkey"].to_numpy()
    rows = np.argsort(key, kind="stable")
    keys, first, counts = np.unique(key[rows], return_index=True, return_counts=True)
    parts = li["l_partkey"].to_numpy()[rows]
    status = li["l_linestatus"].to_numpy(zero_copy_only=False)[rows]
    price = dict(zip(orders["o_orderkey"].to_numpy(), orders["o_totalprice"].to_numpy()))
    return {
        "n_users": pq.ParquetFile(os.path.join(data_dir, "customer.parquet")).metadata.num_rows,
        "amount": np.array([price[k] for k in keys]),
        "products": [[f"p{p}" for p in parts[i : i + n]] for i, n in zip(first, counts)],
        "paid": status[first] == "F",
    }


def make_records(seed: int, n_ticks: int, fixture: dict) -> dict[str, dict]:
    """All records of ticks ``0..n_ticks-1`` as columns per topic, each with
    a ``tick`` column saying which tick's file carries the record. Order
    ``i`` replays fixture order ``i`` (cycling when the run needs more)."""
    rng = np.random.default_rng([seed, 2])
    tick_ms = int(TICK_S * 1000)
    per_tick = int(RATE * TICK_S)
    n = n_ticks * per_tick
    tick = np.repeat(np.arange(n_ticks), per_tick)
    o_ts0 = T0_MS + tick * tick_ms + rng.integers(0, tick_ms, n)
    n_users = fixture["n_users"]
    users = rng.permutation(n_users)[(rng.zipf(ZIPF_A, n) - 1) % n_users]
    src = np.arange(n) % len(fixture["amount"])
    amount = fixture["amount"][src]
    products = [fixture["products"][i] for i in src]
    order_ids = [f"o{i}" for i in range(n)]
    o_values = [
        json.dumps(
            {"orderId": oid, "user": str(u), "amount": float(a), "products": ps},
            separators=(",", ":"),
        )
        for oid, u, a, ps in zip(order_ids, users, amount, products)
    ]
    o_ts, o_values, o_valid = _finish(rng, o_ts0, o_values)

    outside = rng.random(n) < LATE_PAY_SHARE
    delay = np.where(
        outside,
        rng.integers(JOIN_WINDOW_MS + 1_000, JOIN_WINDOW_MS + 15_000, n),
        rng.integers(0, JOIN_WINDOW_MS + 1, n),
    )
    p_ts = o_ts0 + delay
    p_tick = (p_ts - T0_MS) // tick_ms
    paid = np.flatnonzero(p_tick < n_ticks)
    paid = paid[np.argsort(p_tick[paid], kind="stable")]
    p_ts, p_tick = p_ts[paid], p_tick[paid]
    status = np.where(fixture["paid"][src[paid]], "PAID", "PENDING")
    pay_ids = [f"y{i}" for i in range(len(paid))]
    p_values = [
        json.dumps(
            {"paymentId": pid, "orderId": order_ids[o], "amount": float(amount[o]), "status": s},
            separators=(",", ":"),
        )
        for pid, o, s in zip(pay_ids, paid, status)
    ]
    p_ts, p_values, p_valid = _finish(rng, p_ts, p_values)
    return {
        "orders": {
            "tick": tick, "key": order_ids, "ts_ms": o_ts, "value": o_values,
            "valid": o_valid, "order_id": order_ids, "user": [str(u) for u in users],
            "amount": amount, "products": products,
        },
        "payments": {
            "tick": p_tick, "key": [order_ids[o] for o in paid], "ts_ms": p_ts,
            "value": p_values, "valid": p_valid, "payment_id": pay_ids,
            "order_id": [order_ids[o] for o in paid], "amount": amount[paid],
            "status": list(status),
        },
    }


TRUTH_COLUMNS = {
    "orders": ("order_id", "user", "amount", "products", "ts_ms", "valid"),
    "payments": ("payment_id", "order_id", "amount", "status", "ts_ms", "valid"),
}


def ticks_slice(cols: dict, lo: int, hi: int) -> slice:
    """The records of ticks ``lo..hi-1`` (``tick`` is sorted)."""
    return slice(*np.searchsorted(cols["tick"], [lo, hi]))


def run_phase(out: str, seed: int, phase: str, data_dir: str, steady_ticks: int, start: float) -> None:
    records = make_records(seed, BACKLOG_TICKS + steady_ticks, fixture_orders(data_dir))
    lo, hi = (0, BACKLOG_TICKS) if phase == "backlog" else (BACKLOG_TICKS, BACKLOG_TICKS + steady_ticks)
    staging = os.path.join(out, "staging")
    truth = os.path.join(out, "truth")
    for d in (staging, truth, *(os.path.join(out, t) for t in records)):
        os.makedirs(d, exist_ok=True)
    files, ticks = [], []
    for k in range(lo, hi):
        due = start + (k - lo) * TICK_S if phase == "steady" else time.time()
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        begin = time.time()
        for topic, cols in records.items():
            rows = ticks_slice(cols, k, k + 1)
            table = pa.table(
                [cols["key"][rows], pa.array(cols["ts_ms"][rows], TOPIC_SCHEMA.field("ts").type),
                 cols["value"][rows]],
                schema=TOPIC_SCHEMA,
            )
            name = f"t{k:06d}.parquet"
            tmp = os.path.join(staging, f"{topic}-{name}")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(out, topic, name))
            files.append({"file": name, "topic": topic, "tick": k, "due": due,
                          "written": time.time(), "records": table.num_rows})
        ticks.append({"tick": k, "start": begin, "end": time.time()})
    for topic, cols in records.items():
        rows = ticks_slice(cols, lo, hi)
        pq.write_table(
            pa.table({c: cols[c][rows] for c in TRUTH_COLUMNS[topic]}),
            os.path.join(truth, f"{phase}_{topic}.parquet"),
        )
    with open(os.path.join(truth, f"{phase}_manifest.json"), "w") as f:
        json.dump({"files": files, "ticks": ticks}, f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--phase", choices=("backlog", "steady"), required=True)
    ap.add_argument("--data", required=True, help="directory of the seeded fixture tables")
    ap.add_argument("--steady-ticks", type=int, required=True)
    ap.add_argument("--start", type=float, default=0.0, help="epoch seconds of the first steady tick")
    a = ap.parse_args()
    run_phase(a.out, a.seed, a.phase, a.data, a.steady_ticks, a.start)


if __name__ == "__main__":
    main()
