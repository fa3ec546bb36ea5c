"""Registry correctness sweep on a BARE session at sf0.01.

Replicates the driver's comparison (rows+schema+value equality,
order-insensitive) for every registered query in registration order,
or for just the named ones (the fast loop while working on a few).
Prints one status line per query (with the mismatch or error detail)
and a one-line JSON summary; exits 1 when any query is not a match.

Usage:  python full_registry_sweep.py [<query> ...]
        SPARK_GRAFT_SWEEP_SF=/root/testdata/sf0.01 to override the SF.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))


def main() -> None:
    sf = os.environ.get("SPARK_GRAFT_SWEEP_SF", "/root/testdata/sf0.01")

    from pyspark.sql import SparkSession

    from bigdata_20251_steam_spark.plans import QUERIES
    from oracle_harness import compare, duckdb_run

    unknown = [n for n in sys.argv[1:] if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    chosen = [QUERIES[n] for n in sys.argv[1:]] or list(QUERIES.values())

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n_match = 0
    t_start = time.time()
    for q in chosen:
        t0 = time.time()
        try:
            got = q.fn(spark, sf)
            exp = duckdb_run(q.oracle, sf)
            compare(got, exp, q.name)
            status, detail = "match", f"rows={len(exp)}"
            n_match += 1
        except AssertionError as e:
            status, detail = "MISMATCH", str(e)[:300]
        except Exception as e:  # noqa: BLE001 — sweep must finish
            status, detail = "ERROR", f"{type(e).__name__}: {e}"[:300]
        print(q.name, status, f"{time.time() - t0:.2f}s", detail, flush=True)

    print(json.dumps({
        "sf": sf,
        "total": len(chosen),
        "match": n_match,
        "fail": len(chosen) - n_match,
        "wall_sec": round(time.time() - t_start, 1),
    }))
    spark.stop()
    if n_match != len(chosen):
        raise SystemExit(1)


if __name__ == "__main__":
    main()
