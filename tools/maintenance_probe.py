"""Maintenance-op scale probe (r14, r13 verdict #5): time
compact_ivfadc_index and retrain_ivfadc_on_drift at 1x / 16x / 64x of
the sf0.1 embeddings so the "bounded per-cell job" claim is MEASURED,
not asserted.

Per multiple: materialize N x the sf0.1 embeddings with
``tools.harness.replicate`` (vec_id shifted, vector values unchanged —
per-cell distortion is then multiple-invariant, so the SAME top-3 cells
drift at every size with |cell| growing linearly: exactly the
bounded-per-cell-job question),
build the epoch-segmented store the streaming ingest accretes (4
(cluster, epoch) dynamic-overwrite generations, written directly —
the probe times MAINTENANCE, not micro-batch machinery), then time:

  1. compact_ivfadc_index  (size-targeted, max_concurrent_cells=4)
  2. retrain_ivfadc_on_drift of the top-3 most-drifted cells
     (threshold = 4th-highest per-cell mean_err, the registered
     capstone's rule)

Prints one JSON line per multiple:
  {"mult": m, "rows": n, "compact_sec": s, "cells_compacted": k,
   "retrain_sec": s, "retrained_cells": [...], "retrain_rows": n}

Usage:  python -m tools.maintenance_probe [multiples...]   (default: 1 16 64)
Quiet box required — wall-clock numbers feed SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

from tools.harness import cpus, replicate, session

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EPOCHS = 4


def main() -> None:
    mults = [int(a) for a in sys.argv[1:]] or [1, 16, 64]

    spark = session(
        "maintenance_probe", cpus(), 32, bare=True,
        conf={"spark.driver.memory": "12g"},
    )

    from bigdata_20251_steam_spark.operators import similarity as sim
    from bigdata_20251_steam_spark.plans.extension_queries import (
        _IVFADC_CENTS,
        _IVFADC_CODEBOOKS,
    )

    for mult in mults:
        work = tempfile.mkdtemp(prefix=f"maint_probe_{mult}x_")
        try:
            replicate(spark, BASE_SF, work, mult, tables=("embeddings",))
            emb = spark.read.parquet(os.path.join(work, "embeddings.parquet"))
            n = emb.count()

            # epoch-segmented store: 4 dynamic-overwrite generations,
            # the streaming ingest's layout without its trigger loop
            store = os.path.join(work, "index")
            for e in range(EPOCHS):
                coded = sim.ivfadc_encode(
                    emb.filter(F.col("vec_id") % EPOCHS == e),
                    _IVFADC_CENTS,
                    _IVFADC_CODEBOOKS,
                )
                (
                    coded.withColumn("epoch", F.lit(e))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("cluster", "epoch")
                    .parquet(store)
                )

            t0 = time.time()
            compacted = sim.compact_ivfadc_index(
                spark, store, max_concurrent_cells=4
            )
            compact_sec = time.time() - t0

            rep = sorted(
                (
                    (int(r["mean_err"]), int(r["cluster"]))
                    for r in sim.ivfadc_distortion_report(
                        emb, _IVFADC_CENTS, _IVFADC_CODEBOOKS
                    ).collect()
                ),
                reverse=True,
            )
            thr = rep[3][0] if len(rep) > 3 else -1
            t0 = time.time()
            overrides = sim.retrain_ivfadc_on_drift(
                spark, store, emb, _IVFADC_CENTS, _IVFADC_CODEBOOKS,
                max_mean_err=thr,
            )
            retrain_sec = time.time() - t0
            cells = sorted(overrides)
            retrain_rows = (
                spark.read.schema(
                    "vec_id bigint, codes array<int>, cluster int"
                )
                .parquet(store)
                .filter(F.col("cluster").isin(cells))
                .count()
            )
            print(json.dumps({
                "mult": mult,
                "rows": n,
                "compact_sec": round(compact_sec, 2),
                "cells_compacted": len(compacted),
                "retrain_sec": round(retrain_sec, 2),
                "retrained_cells": cells,
                "retrain_rows": retrain_rows,
            }), flush=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
