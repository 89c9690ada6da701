"""Watermark-LATENESS adversarial probes (VERDICT r13 item 4).

The split sweeps in tests/test_split_boundaries.py vary WHERE a
micro-batch boundary lands; tools/lateness_audit.py sweeps the whole
watermarked query family under a late burst at fixture scale. These
tests pin the AXIS ITSELF on tiny synthetic feeds — deterministic,
seconds-fast, and independent of fixture luck:

- ``split_late_segments`` delivers the late burst strictly last and
  rejects vacuous predicates (all-late / none-late);
- a watermarked tumbling aggregate DROPS a burst beyond the horizon
  (result == feed-without-burst) and KEEPS one inside it
  (result == full feed) — Spark's documented drop contract, both sides;
- a 0-second-watermark session window (the ``_append_session_windows``
  shape) drops a late bridge row, SPLITTING the session it would have
  merged — the sharpest observable consequence of a late drop, since
  the output changes shape rather than just count.

All synthetic event times sit on a 2024 grid, never at epoch 0 (Spark's
initial watermark value silently drops origin rows — round-12 finding).
"""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

# Opt-in audit sweep (see pytest.ini): the split/lateness replays are
# the round-close adversarial axes, not part of the default (driver-
# window-sized) verification run.
pytestmark = pytest.mark.slowaudit

from kafka_streams_playground_spark.streaming.replay import (
    replay_segments,
    run_to_completion,
    split_late_segments,
    split_segments,
)

T0 = datetime(2024, 3, 1, 12, 0, 0)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [(u, T0 + timedelta(seconds=s), float(v)) for u, s, v in rows],
        "user_id string, ts timestamp, value double",
    )


def _replay_late(spark, df, cuts, late_pred, tmp_path, name):
    segments = split_late_segments(df, ["ts", "user_id"], cuts, late_pred)
    return replay_segments(segments, str(tmp_path / name))


def test_split_late_segments_rejects_vacuous_predicates(spark):
    df = _mk_events(spark, [("a", 0, 1), ("a", 10, 2), ("b", 20, 3)])
    with pytest.raises(ValueError, match="no rows"):
        split_late_segments(df, ["ts"], (1,), F.lit(False))
    with pytest.raises(ValueError, match="every row"):
        split_late_segments(df, ["ts"], (1,), F.lit(True))


def test_late_segment_is_delivered_last(spark, tmp_path):
    """The burst rows land in the final segment regardless of event time."""
    df = _mk_events(spark, [("a", 0, 1), ("b", 100, 2), ("c", 200, 3), ("d", 300, 4)])
    d = str(tmp_path / "feed")
    late_a = F.col("user_id") == "a"
    replay_segments(split_late_segments(df, ["ts", "user_id"], (1,), late_a), d)
    import os

    segs = sorted(p for p in os.listdir(d) if p.startswith("seg"))
    assert len(segs) == 3  # 2 on-time (cut at 1 of 3 on-time rows) + late
    last = spark.read.parquet(os.path.join(d, segs[-1]))
    assert [r.user_id for r in last.collect()] == ["a"]


def _tumbling_counts(spark, sdf, delay, mode="append"):
    agg = (
        sdf.withWatermark("ts", delay)
        .groupBy(F.window("ts", "10 seconds"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.unix_timestamp("window.start").alias("w"), "user_id", "cnt")
    )
    return run_to_completion(agg, output_mode=mode)


# Spark's late-input filter for windowed aggregations, empirically
# pinned here (and relied on by tools/lateness_audit.py's
# far-below-threshold bursts): batch N drops an input row iff its
# WINDOW END — tumbling: window close; session: event time + gap — is
# below the watermark reported for batch N-1 (i.e. computed from data
# through batch N-2). Two consequences the tests respect: the filter
# runs one batch behind the eviction watermark, and a session row gets
# one gap's grace beyond its event time. A burst is guaranteed-dropped
# only if (event time + window length/gap) < max(event time through the
# second-to-last on-time batch) - delay.


def test_late_burst_beyond_horizon_is_dropped(spark, tmp_path):
    """On-time rows span [3600 s, 7200 s]; the burst's event times sit at
    the span ORIGIN (novel key uE, window [T0, T0+10)); delay 60 s. When
    the burst arrives (batch 2) the lagged filter watermark is batch 0's
    max - 60 s = 3545 s — far above the burst — so the rows must drop:
    the drained result equals the same streamed pipeline over the feed
    with the burst deleted."""
    on_time = [("u1", 3600, 1), ("u1", 3605, 1), ("u2", 5400, 1), ("u2", 7200, 1)]
    burst = [("uE", 0, 9), ("uE", 7, 9)]
    full = _mk_events(spark, on_time + burst)
    pred = F.col("value") == 9.0
    sdf = _replay_late(spark, full, (2,), pred, tmp_path, "drop")
    got = {tuple(r) for r in _tumbling_counts(spark, sdf, "60 seconds").collect()}
    # expected: identical streamed pipeline (same append gating), burst deleted
    reduced = split_segments(_mk_events(spark, on_time), ["ts", "user_id"], (2,))
    rdf = replay_segments(reduced, str(tmp_path / "reduced"))
    want = {tuple(r) for r in _tumbling_counts(spark, rdf, "60 seconds").collect()}
    assert got == want
    assert not any(u == "uE" for _, u, _c in got)  # the novel late key vanished


def test_late_burst_within_horizon_is_kept(spark, tmp_path):
    """Same feed, delay 4 hours > the whole span: the displaced burst is
    late but INSIDE the horizon — nothing may be dropped. Update mode
    (append would emit nothing on either side: no window closes under a
    horizon longer than the span); the final state per group is the
    max-cnt row of the drain."""
    on_time = [("u1", 3600, 1), ("u1", 3605, 1), ("u2", 5400, 1), ("u2", 7200, 1)]
    burst = [("uE", 0, 9), ("uE", 7, 9)]
    full = _mk_events(spark, on_time + burst)
    pred = F.col("value") == 9.0
    sdf = _replay_late(spark, full, (2,), pred, tmp_path, "keep")
    drained = _tumbling_counts(spark, sdf, "4 hours", mode="update")
    from kafka_streams_playground_spark.streaming.replay import latest_update_state

    final = latest_update_state(drained, ["w", "user_id"], F.col("cnt"))
    got = {tuple(r) for r in final.collect()}
    want_df = full.groupBy(F.window("ts", "10 seconds"), "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    ).select(F.unix_timestamp("window.start").alias("w"), "user_id", "cnt")
    want = {tuple(r) for r in want_df.collect()}
    assert got == want  # burst folded exactly as if on time


def _sessionize(spark, sdf, gap_s, max_real_s):
    sess = (
        sdf.withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", f"{gap_s} seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    drained = run_to_completion(sess, output_mode="append")
    return drained.filter(
        F.unix_timestamp("session_window.start")
        <= F.unix_timestamp(F.lit(T0 + timedelta(seconds=max_real_s)))
    )


# u1's events at 0/300/600 s chain into ONE session under a 360 s gap
# only through the 300 s bridge; u2@1200 lifts the lagged filter
# watermark far above the bridge's session end (300+360=660 < 1200)
# before the late batch runs, so a late bridge MUST drop.
_SESS_GAP = 360
_SESS_ROWS = [("u1", 0, 1), ("u1", 300, 1), ("u1", 600, 1), ("u2", 1200, 1)]
_SESS_SENTINEL = 1200 + _SESS_GAP + 1


def test_session_late_bridge_row_drop_splits_session(spark, tmp_path):
    """The ``_append_session_windows`` shape (0-second watermark, flush
    sentinel) under a late bridge row: the t+300 bridge delivered after
    the watermark has passed its session end is dropped, so u1's single
    3-event session splits into TWO 1-event islands — the drop's
    consequence is structural, not just a smaller count."""
    feed = _mk_events(spark, _SESS_ROWS).unionByName(
        _mk_events(spark, [("u2", _SESS_SENTINEL, -1)])
    )
    pred = (F.col("ts") == F.lit(T0 + timedelta(seconds=300))).cast("boolean")
    # on-time order: t0, t600, u2@1200, sentinel — one row per micro-batch
    sdf = _replay_late(spark, feed, (1, 2, 3), pred, tmp_path, "sess")
    real = _sessionize(spark, sdf, _SESS_GAP, 1200)
    got = sorted(int(r["n"]) for r in real.filter(F.col("user_id") == "u1").collect())
    assert got == [1, 1]  # two single-event islands, bridge dropped
    assert [int(r["n"]) for r in real.filter(F.col("user_id") == "u2").collect()] == [1]


def test_session_bridge_on_time_merges(spark, tmp_path):
    """Control for the test above: same feed delivered fully in order
    (bridge on time) yields ONE 3-event u1 session."""
    feed = _mk_events(spark, _SESS_ROWS).unionByName(
        _mk_events(spark, [("u2", _SESS_SENTINEL, -1)])
    )
    ordered = split_segments(feed, ["ts", "user_id"], (1, 2, 3))
    sdf = replay_segments(ordered, str(tmp_path / "ord"))
    real = _sessionize(spark, sdf, _SESS_GAP, 1200)
    assert [int(r["n"]) for r in real.filter(F.col("user_id") == "u1").collect()] == [3]
    assert [int(r["n"]) for r in real.filter(F.col("user_id") == "u2").collect()] == [1]
