"""Per-query timing: individual registered queries, min-of-N each, with
the bench's reduction (the full-column xxhash64 fold) AND with the noop
sink, which runs the whole plan and writes nothing.

Usage:
    python -m tools.measure_queries --names q5_region_revenue,dedup_components \
        --sf-dir /root/testdata/sf0.1 --runs 3
    python -m tools.measure_queries --headline ...   # all headline queries

Prints one JSON line per query and a final summary line, e.g.
    {"name": "q5_region_revenue", "hashfold_sec": 1.02, "noop_sec": 0.97}

This is measurement tooling only — bench.py remains the driver contract.
"""

from __future__ import annotations

import argparse
import json
import os

from tools.harness import best_of, cpus, hashfold, session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", default="")
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--skip-noop", action="store_true")
    args = ap.parse_args()

    from bigdata_20251_steam_spark.plans import QUERIES

    spark = session("measure", cpus())
    sc = spark.sparkContext

    if args.headline:
        names = [q.name for q in QUERIES.values() if q.headline]
    else:
        names = [n for n in args.names.split(",") if n]

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warmup for JVM/codegen startup.
    q0 = QUERIES[names[0]]
    sc.setJobDescription(f"warmup:{q0.name}")
    hashfold(q0.fn(spark, args.sf_dir))

    results = {}
    for name in names:
        q = QUERIES[name]
        sc.setJobDescription(f"hashfold:{name}")
        rec = {
            "name": name,
            "hashfold_sec": round(
                best_of(args.runs, lambda: hashfold(q.fn(spark, args.sf_dir))), 4
            ),
        }
        if not args.skip_noop:
            sc.setJobDescription(f"noop:{name}")
            rec["noop_sec"] = round(
                best_of(args.runs, lambda: noop(q.fn(spark, args.sf_dir))), 4
            )
        results[name] = rec
        print(json.dumps(rec), flush=True)

    print(json.dumps({
        "total_hashfold_sec": round(sum(r["hashfold_sec"] for r in results.values()), 4),
        "n": len(results),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
