"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": <sf>}

Each query is timed end-to-end: plan, execute, and the full-column
xxhash64 fold of ``tools.harness.hashfold`` (which says why not
``count()``).  The first execution of any plan pays whole-stage-codegen
compilation + JVM JIT (~5-10x the steady-state time), so each query
runs three times and the minimum is reported — that is the engine's
throughput, not the JIT's.  ``value`` is the sum of per-query best
times across the headline suite.
"""

from __future__ import annotations

import json
import os

from tools.harness import best_of, cpus, hashfold, session


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bigdata_20251_steam_spark.plans import QUERIES

    spark = session("bench", cpus())
    headline = [q for q in QUERIES.values() if q.headline]

    # Warmup: run the first headline query once to absorb JVM/codegen startup.
    if headline:
        hashfold(headline[0].fn(spark, sf_dir))

    times = {
        q.name: round(best_of(3, lambda: hashfold(q.fn(spark, sf_dir))), 4)
        for q in headline
    }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": round(sum(times.values()), 4),
                "unit": "sec",
                "queries": times,
                "sf": sf_val,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
