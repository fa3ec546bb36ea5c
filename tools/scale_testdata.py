"""Materialize a data-dominated benchmark set: N x the sf0.1 fact tables.

At sf0.1 on a warm JVM the headline times are dominated by fixed
per-query overhead (scheduling, codegen) and VM jitter, so small deltas
are mostly noise.  This writes N key-shifted replicas of every fact
table with ``tools.harness.replicate`` (which says how keys and document
text are shifted); dimension tables are copied unchanged — facts grow,
dims don't.

Usage: python -m tools.scale_testdata [N_COPIES] [SRC_SF_DIR] [OUT_DIR]
Defaults: 4 /root/testdata/sf0.1 /tmp/sf0.1x4
"""

from __future__ import annotations

import sys

from tools.harness import cpus, replicate, session


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sf0.1x4"
    spark = session("scale-testdata", cpus("*"), 32)
    replicate(spark, src, out, n)
    print(f"wrote {n}x {src} -> {out}")
    spark.stop()


if __name__ == "__main__":
    main()
