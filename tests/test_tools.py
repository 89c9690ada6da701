"""Tests for the repo tools the per-round process leans on: the rotation
audit's artifact parsing (a silent mis-parse would mis-drive a whole
round's slot allocation — ADVICE r10) and bench_diff's common-set math."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def test_rotation_audit_parses_flat_and_wrapped_shapes(tmp_path, spark):
    """last_driver_round must read the flat driver shape AND both wrapper
    shapes in the repo ('queries', and CORRECTNESS_LOCAL.json's 'results'
    — the shape ADVICE r10 flagged as silently mis-parsed), and must take
    the max round per query. The 'results' file carries the provenance
    block check_correctness.py --json stamps it with, which dates it."""
    from tools.check_correctness import provenance
    from tools.rotation_audit import last_driver_round

    row = {"rows_match": True, "schema_match": True, "hash_match": True}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_a": row, "q_b": row})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"queries": {"q_a": row}})
    )
    prov = provenance(spark, 12.34, 1, 0)
    if os.path.isdir(os.path.join(REPO, ".git")):  # a SHA needs a git checkout
        assert len(prov["git_sha"]) == 40 and isinstance(prov["git_dirty"], bool)
    assert prov["utc"].endswith("+00:00") and prov["nproc"] >= 1
    assert prov["spark"] == spark.version
    assert (prov["wall_s"], prov["ok"], prov["fail"]) == (12.3, 1, 0)
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"sf_dir": "sf", "provenance": prov, "results": {"q_c": row}})
    )
    last = last_driver_round(str(tmp_path))
    assert last == {"q_a": 2, "q_b": 1, "q_c": 3}


def test_rotation_audit_runs_against_repo():
    """The tool must run end-to-end against the real repo artifacts and
    report a driver row for every query it can (the round-9 invariant:
    zero never-checked among pre-existing queries)."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "rotation_audit.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    first = out.stdout.splitlines()[0]
    assert first.startswith("registry: ")
    # "registry: N queries; driver rows found for M" with M <= N and the
    # gap exactly the queries born this round (slotted, not yet driven)
    n = int(first.split()[1])
    m = int(first.rstrip().rsplit(" ", 1)[-1])
    assert 0 < m <= n


def test_bench_diff_common_set_ratio(tmp_path):
    """bench_diff must compare only the common set and exit nonzero past
    the threshold."""
    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps({"queries": {"a": 1.0, "b": 2.0, "gone": 9.0}}))
    new.write_text(json.dumps({"queries": {"a": 2.0, "b": 4.0, "born": 1.0}}))
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "bench_diff.py"),
            str(old),
            str(new),
            "--threshold",
            "1.5",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    # common set {a, b}: 3.0 -> 6.0 = x2.0 > 1.5 threshold
    assert r.returncode == 1, (r.stdout, r.stderr)
    assert "x2.0" in r.stdout.replace("×", "x") or "2.0" in r.stdout


def test_bench_exclusions_all_have_reasons():
    """Every bench exclusion must carry a documented reason (the judge
    audits the exclusion map by name); stream_* twins are excluded as a
    class with the memory-sink reason."""
    import bench
    from kafka_streams_playground_spark.plans import REGISTRY

    names, excluded = bench.bench_names(REGISTRY)
    assert set(names).isdisjoint(excluded)
    assert len(names) + len(excluded) == len(REGISTRY)
    for n, reason in excluded.items():
        assert isinstance(reason, str) and len(reason) > 10, n
    for n in REGISTRY:
        if n.startswith("stream_"):
            assert n in excluded


def test_split_replay_audit_config_tracks_registry():
    """Rot guards for tools/split_replay_audit.py: the delivery-contract
    map covers every fixture table (a new table without an order contract
    would crash the audit mid-run), and the ORDER_FREE / expected-
    divergence lists name only registered streaming queries (a renamed
    query must not silently drop out of the scrambled-order pass)."""
    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.sources.parquet import TABLES
    from tools.split_replay_audit import (
        EXPECTED_DIVERGENT,
        ORDER_COLS,
        ORDER_FREE,
    )

    assert set(TABLES) <= set(ORDER_COLS)
    stream_names = {n for n in REGISTRY if n.startswith("stream_")}
    assert set(ORDER_FREE) <= stream_names
    assert set(EXPECTED_DIVERGENT) <= stream_names
    assert len(set(ORDER_FREE)) == len(ORDER_FREE)  # no duplicates


def test_split_replay_audit_reader_drains_three_segments(spark, sf_dir, tmp_path):
    """Rot guard for the audit's reader, which the default suite never runs
    otherwise: a fixture table served by make_split_reader replays as three
    segment files and drains to exactly the table's rows."""
    from kafka_streams_playground_spark.sources.parquet import load_table
    from kafka_streams_playground_spark.streaming.replay import run_to_completion
    from tools.split_replay_audit import make_split_reader

    sdf = make_split_reader(str(tmp_path))(spark, sf_dir, "nation")
    drained = run_to_completion(sdf, output_mode="append")
    (feed_dir,) = os.listdir(tmp_path)
    segs = [d for d in os.listdir(tmp_path / feed_dir) if d.startswith("seg")]
    assert len(segs) == 3
    got = sorted(tuple(r) for r in drained.collect())
    assert len(got) == 25
    assert got == sorted(tuple(r) for r in load_table(spark, sf_dir, "nation").collect())
