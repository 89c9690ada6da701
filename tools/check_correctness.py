"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB over the same
parquet fixtures, then compares row count, sorted column names, and an
order-insensitive value multiset (floats rounded to 6 significant-ish
decimals to absorb cross-engine double noise the queries already round away).

Driver fidelity (round-2 lesson): the driver fetches the DuckDB side into
PANDAS, which coerces HUGEINT (DuckDB's SUM(integer) result type) to
float64 — so an uncast integer SUM hashes as ``9995613.0`` against Spark's
int64 ``9995613`` and FAILS the driver even though ``fetchall()`` (Python
ints) would pass. This replica therefore (a) fetches the oracle via
``.df()`` (same pandas coercions as the driver) and (b) compares cells
TYPE-STRICTLY: an integer cell never equals its float representation.
ADVICE r2 (medium): the earlier fetchall+lax compare let exactly that
drift pass locally while the driver failed it.

Usage: python tools/check_correctness.py [--json OUT.json] [sf_dir] [query ...]

``--json`` additionally writes a per-query result map in the driver's
CORRECTNESS shape (rows_match/schema_match/hash_match/rows/err) — committed
per round as ``CORRECTNESS_LOCAL.json`` so queries past the driver's 50-query
cap still have an inspectable hard-signal record. Its ``provenance`` block
dates the map: git SHA and dirty flag, UTC time, CPU count, Spark version,
wall seconds and OK/FAIL counts (:func:`provenance`).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm_cell(v):
    """Canonicalize a cell to a (type-tag, value) pair so that int vs float
    representation differences FAIL the compare (the driver's behavior)."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, (float, np.floating)):
        # pandas renders missing ints as NaN; treat any NaN as null so a
        # nullable-int column with NULLs still compares against Spark None.
        if math.isnan(float(v)):
            return None
        return ("f", round(float(v), 6))
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (np.ndarray, list, tuple, dict, set)):
        # Driver fidelity (round-4 lesson): the driver's canonicalizer does
        # pandas sort_values → factorize over every column, which CRASHES on
        # array/struct/map cells ("unhashable type: numpy.ndarray"). The old
        # str(v) fallthrough here let index_inverted_postings pass locally
        # while the driver errored. Any non-scalar cell is a hard failure.
        raise TypeError(
            f"driver-hostile output cell type {type(v).__name__}: emit a "
            "'|'-joined string instead (orders_products_array pattern)"
        )
    return ("s", str(v))


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def provenance(spark, wall_s: float, n_ok: int, n_fail: int) -> dict:
    """The stamp a ``--json`` result map carries: perfbench's provenance
    (git SHA and dirty flag, nproc, Spark and library versions) plus the
    UTC time, the sweep's wall seconds and its OK/FAIL counts."""
    from perfbench import measure

    stamp = measure.provenance("correctness", None, spark)
    del stamp["seed"]
    return {**stamp, "utc": measure.utc_now(), "wall_s": round(wall_s, 1), "ok": n_ok, "fail": n_fail}


def main() -> int:
    import duckdb

    from kafka_streams_playground_spark.plans import REGISTRY
    from kafka_streams_playground_spark.session import get_spark

    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    started = time.time()
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    from kafka_streams_playground_spark.sources.parquet import TABLES

    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = []
    results: dict[str, dict] = {}
    for name, spec in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        results[name] = rec
        # Per-query cache scope (ADVICE r6): queries that persist an internal
        # index (LSH signatures, support edges, KMV sketches, skew counts)
        # must not accumulate cached partitions across the ~200-query sweep —
        # that inflates memory pressure and timing variance. bench.py already
        # clears per run; the replica clears per query for the same reason.
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            s_cols = sorted(sdf.columns)
            # toPandas() — NOT collect(): the driver canonicalizes the Spark
            # side through pandas too, so a nullable long column with NULLs
            # becomes float64 on BOTH sides and still matches.
            spdf = sdf.toPandas()
            s_rows = [tuple(t) for t in spdf.itertuples(index=False, name=None)]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            rec["err"] = f"spark: {e}"
            failures.append(name)
            continue
        rec["spark_rows"] = len(s_rows)
        if spec.oracle is None:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            # .df() (pandas) — NOT fetchall(): the driver's canonicalizer is
            # pandas-based, so HUGEINT→float64 coercion must be visible here.
            ddf = con.execute(spec.oracle).df()
            d_cols = sorted(ddf.columns)
            d_rows = [tuple(t) for t in ddf.itertuples(index=False, name=None)]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            rec["err"] = f"duckdb: {e}"
            failures.append(name)
            continue
        rec["oracle_rows"] = len(d_rows)
        rec["schema_match"] = s_cols == d_cols
        rec["rows_match"] = len(s_rows) == len(d_rows)
        ok = True
        if not rec["schema_match"]:
            print(f"FAIL  {name}: columns spark={s_cols} duckdb={d_cols}")
            ok = False
        elif not rec["rows_match"]:
            print(f"FAIL  {name}: rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
            ok = False
        else:
            try:
                ns = _norm_rows(sorted(sdf.columns), s_rows)
                nd = _norm_rows(d_cols, d_rows)
            except TypeError as e:
                print(f"FAIL  {name}: {e}")
                rec["err"] = f"canonicalize: {e}"
                failures.append(name)
                continue
            rec["hash_match"] = ns == nd
            if ns != nd:
                diff = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b][:3]
                print(f"FAIL  {name}: value mismatch at sorted-rows {diff}")
                for i in diff[:2]:
                    print(f"      spark : {ns[i]}")
                    print(f"      duckdb: {nd[i]}")
                ok = False
        if ok:
            print(f"OK    {name}: {len(s_rows)} rows [{time.time()-t0:.1f}s]")
        else:
            failures.append(name)

    if json_out:
        with open(json_out, "w") as f:
            prov = provenance(spark, time.time() - started, len(results) - len(failures), len(failures))
            json.dump({"sf_dir": sf_dir, "provenance": prov, "results": results}, f, indent=1)
        print(f"wrote {json_out} ({len(results)} queries)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
