"""Rotation audit: which queries are stalest under the driver's 50-slot cap.

The driver's correctness harness checks only the FIRST 50 registry entries
(see plans/registry.py::DRIVER_PRIORITY); everything else relies on the
committed local replica. This tool reads every CORRECTNESS_r*.json in the
repo root, computes each registered query's most recent driver round, and
prints the staleness cohorts the next round's rotation should draw from —
the computation rounds 9/10 did by hand.

Usage: python tools/rotation_audit.py [--repo DIR]

Output: per-cohort query lists (stalest first), plus never-driver-checked
queries (should be empty from round 9 onward) and currently-slotted
queries with their last driver round.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def last_driver_round(repo: str) -> dict[str, int]:
    last: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", f)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(f) as fh:
            doc = json.load(fh)
        # the artifact is a flat {query_name: {rows_match, ...}} map; be
        # tolerant of the two wrapper shapes in the repo ('queries', and
        # CORRECTNESS_LOCAL.json's 'results' — ADVICE r10) if the driver
        # ever adopts one
        rows = doc
        for wrapper in ("queries", "results"):
            if isinstance(doc.get(wrapper), dict):
                rows = doc[wrapper]
                break
        parsed = [name for name, val in rows.items() if isinstance(val, dict)]
        for name in parsed:
            last[name] = max(last.get(name, 0), rnd)
        if parsed:
            # a round file none of whose names are registered means the
            # shape changed — warn loudly instead of silently recording
            # bogus names (ADVICE r10)
            try:
                from kafka_streams_playground_spark.plans import REGISTRY

                if not any(n in REGISTRY for n in parsed):
                    print(
                        f"WARNING: {os.path.basename(f)} yielded no registered "
                        f"query names — unrecognized artifact shape?",
                        file=sys.stderr,
                    )
            except ImportError:
                pass
    return last


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    args = ap.parse_args()

    from kafka_streams_playground_spark.plans import DRIVER_PRIORITY, REGISTRY

    last = last_driver_round(args.repo)
    cohorts: dict[int, list[str]] = defaultdict(list)
    never: list[str] = []
    for name in REGISTRY:
        if name in last:
            cohorts[last[name]].append(name)
        else:
            never.append(name)

    slotted = set(DRIVER_PRIORITY)
    print(f"registry: {len(REGISTRY)} queries; driver rows found for {len(last)}")
    if never:
        unslotted_never = [n for n in never if n not in slotted]
        print(f"\nNEVER driver-checked ({len(never)}):")
        for n in never:
            mark = "" if n in slotted else "  <-- NOT slotted this round"
            print(f"  {n}{mark}")
        if unslotted_never:
            print("  ^ new queries must hold a slot in their birth round")
    print("\ncohorts by last driver round (stalest first):")
    for rnd in sorted(cohorts):
        names = cohorts[rnd]
        pending = [n for n in names if n not in slotted]
        print(f"  r{rnd}: {len(names)} queries, {len(pending)} not in the current 50")
        for n in pending:
            print(f"     {n}")
    in_slots = sorted(
        ((last.get(n, 0), n) for n in DRIVER_PRIORITY), key=lambda t: t[0]
    )
    print("\ncurrently slotted (last driver round -> query):")
    for rnd, n in in_slots:
        print(f"  r{rnd or '-'}: {n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
