"""Per-query measurement harness for the optimization rounds (guide §1).

Times individual registered queries with the bench's exact reduction
(full-column xxhash64 fold) AND the noop sink (guide §1.4), min-of-N
each, and dumps ``explain("formatted")`` for every measured query to
``plans/<tag>/<name>_<suffix>.txt``.

Usage:
    python measure_queries.py --names q5_region_revenue,dedup_components \
        --sf-dir /root/testdata/sf0.1 --runs 3 --plan-dir plans/run1 \
        --suffix before
    python measure_queries.py --headline ...   # all headline queries

The r17 before/after dumps made this way are in ``plans/r17/`` at
commit 462c6b7.

Prints one JSON line per query and a final summary line, e.g.
    {"name": "q5_region_revenue", "hashfold_sec": 1.02, "noop_sec": 0.97}

This is measurement tooling only — bench.py remains the driver contract.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", default="")
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-dir", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--skip-noop", action="store_true")
    args = ap.parse_args()

    from bigdata_20251_steam_spark.plans import QUERIES
    from bigdata_20251_steam_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="measure",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": cpus},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    if args.headline:
        names = [q.name for q in QUERIES.values() if q.headline]
    else:
        names = [n for n in args.names.split(",") if n]

    if args.plan_dir:
        os.makedirs(args.plan_dir, exist_ok=True)

    def hashfold(df) -> None:
        row = df.select(F.xxhash64(*df.columns).alias("_h")).agg(
            F.bit_xor("_h"), F.count(F.lit(1))
        ).first()
        assert row[1] >= 0

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warmup for JVM/codegen startup.
    q0 = QUERIES[names[0]]
    spark.sparkContext.setJobDescription(f"warmup:{q0.name}")
    hashfold(q0.fn(spark, args.sf_dir))

    results = {}
    for name in names:
        q = QUERIES[name]
        if args.plan_dir:
            import io
            from contextlib import redirect_stdout

            df = q.fn(spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(args.plan_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(buf.getvalue())
        best_h = best_n = float("inf")
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"hashfold:{name}")
            t0 = time.perf_counter()
            hashfold(q.fn(spark, args.sf_dir))
            best_h = min(best_h, time.perf_counter() - t0)
            if not args.skip_noop:
                spark.sparkContext.setJobDescription(f"noop:{name}")
                t0 = time.perf_counter()
                noop(q.fn(spark, args.sf_dir))
                best_n = min(best_n, time.perf_counter() - t0)
        rec = {"name": name, "hashfold_sec": round(best_h, 4)}
        if not args.skip_noop:
            rec["noop_sec"] = round(best_n, 4)
        results[name] = rec
        print(json.dumps(rec), flush=True)

    print(json.dumps({
        "total_hashfold_sec": round(sum(r["hashfold_sec"] for r in results.values()), 4),
        "n": len(results),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
