"""Order-alternating A/B harness for runtime-settable Spark confs.

Round-14 lesson (OPTIMIZATION_r14.md "Measurement integrity"): this
sandbox's throughput drifts ~2x across windows and a same-session A/B that
runs arm B after arm A is warm-JVM-biased — the SHJ experiment's initial
+win reversed under order reversal. This harness makes the kept/revert
decision mechanical:

* Both arms run in ONE session, interleaved per query, and the arm order
  ALTERNATES each repetition (A,B / B,A / A,B ...), so JVM warmup and
  machine drift hit both arms symmetrically.
* Arm B's confs are applied via ``spark.conf.set`` before each timed run
  and arm A's (captured baseline values) restored for its runs — only
  runtime-settable SQL confs can be tested (that covers every candidate in
  VERDICT r14 items 3/8: shuffle partitions, AQE coalescing knobs,
  preferSortMergeJoin, SHJ thresholds).
* Per query it reports min and median per arm, split by order position,
  plus the decision signal: B beats A on the MIN across alternated reps.

Usage:
  python tools/ab_compare.py --conf k=v [--conf k=v ...] \
         [--reps 4] [--top N | query ...]

Timing methodology matches bench.py exactly: clearCache before every run,
fn() + noop write inside the timed window.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    confs: dict[str, str] = {}
    reps = 4
    names: list[str] = []
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--conf":
            k, _, v = args[i + 1].partition("=")
            confs[k] = v
            i += 2
        elif a == "--reps":
            reps = int(args[i + 1])
            if reps < 2:
                raise SystemExit("--reps must be >= 2 (order must alternate)")
            i += 2
        elif a == "--top":
            n = int(args[i + 1])
            i += 2
            with open(
                os.path.join(
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "BENCH_LOCAL.json",
                )
            ) as f:
                bm = json.load(f)["queries"]
            names += sorted(bm, key=bm.get, reverse=True)[:n]
        else:
            names.append(a)
            i += 1
    if not confs:
        raise SystemExit("need at least one --conf k=v (arm B)")
    if not names:
        raise SystemExit("need at least one query (or --top N)")

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.session import get_spark

    spark = get_spark("ab-compare")
    spark.sparkContext.setLogLevel("ERROR")

    # Arm A = the session's current values for the tested keys.
    base: dict[str, str | None] = {}
    for k in confs:
        try:
            base[k] = spark.conf.get(k)
        except Exception:
            base[k] = None  # unset: arm A unsets it again
    print(f"arm A (baseline): { {k: base[k] for k in confs} }")
    print(f"arm B (candidate): {confs}")

    def apply(arm: str) -> None:
        vals = confs if arm == "B" else base
        for k, v in vals.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    def run_once(name: str) -> float:
        spark.catalog.clearCache()
        t0 = time.time()
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # Warm the JVM/footers once (outside any timed arm).
    apply("A")
    run_once(names[0])

    times: dict[str, dict[str, list[float]]] = {n: {"A": [], "B": []} for n in names}
    for r in range(reps):
        order = ("A", "B") if r % 2 == 0 else ("B", "A")
        for name in names:
            for arm in order:
                apply(arm)
                times[name][arm].append(run_once(name))
    apply("A")  # leave the session as we found it

    print(f"\n{'query':42s} {'A_min':>7s} {'B_min':>7s} {'A_med':>7s} {'B_med':>7s} "
          f"{'d_min':>7s} {'verdict':>8s}")
    tot_a = tot_b = 0.0
    for name in names:
        a, b = times[name]["A"], times[name]["B"]
        amin, bmin = min(a), min(b)
        amed, bmed = statistics.median(a), statistics.median(b)
        tot_a += amin
        tot_b += bmin
        d = bmin - amin
        verdict = "B" if d < -0.05 and bmed < amed else ("A" if d > 0.05 and bmed > amed else "~")
        print(f"{name:42s} {amin:7.2f} {bmin:7.2f} {amed:7.2f} {bmed:7.2f} "
              f"{d:+7.2f} {verdict:>8s}")
    print(f"\n{'TOTAL (sum of per-arm mins)':42s} {tot_a:7.2f} {tot_b:7.2f} "
          f"{'':7s} {'':7s} {tot_b - tot_a:+7.2f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
