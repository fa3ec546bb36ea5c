"""Determinism audit: every registered query must be partition-count
invariant.

The round-2 peak_activity incident: a query can pass a single oracle
run and still flip low-order float digits run-to-run, because Spark's
partial-aggregation order follows the partition layout.  This audit
runs every `queries()` entry under two different
``spark.sql.shuffle.partitions`` settings and requires EXACT equality
(atol=0) — any difference is an order-sensitive float composition that
will eventually disagree with the driver's oracle.  Both runs are put in
the oracle comparison's canonical order (``tests.oracle_harness._canon``).

Prints each partition-order-sensitive or failing query and a one-line
JSON summary; exits 1 on any issue.

Usage:  python -m tools.determinism_audit
        SPARK_GRAFT_SWEEP_SF=/root/testdata/sf0.01 to override the SF.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

from tools.harness import session


def main() -> None:
    if len(sys.argv) != 1:
        raise SystemExit("usage: python -m tools.determinism_audit")
    sf = os.environ.get("SPARK_GRAFT_SWEEP_SF", "/root/testdata/sf0.01")
    from bigdata_20251_steam_spark.plans import QUERIES
    from tests.oracle_harness import _canon

    spark = session("determinism_audit", 16)
    t0 = time.time()
    bad = []
    for name, q in QUERIES.items():
        runs = []
        for parts in ("16", "48"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            try:
                runs.append(_canon(q.fn(spark, sf).toPandas()))
            except Exception as ex:  # noqa: BLE001 — audit must not abort
                runs.append(f"ERR {ex}")
        a, b = runs
        if isinstance(a, str) or isinstance(b, str):
            bad.append((name, "error"))
            print("ERROR:", name, (a if isinstance(a, str) else b)[:300])
            continue
        ok = list(a.columns) == list(b.columns) and len(a) == len(b)
        if ok:
            for c in a.columns:
                x, y = a[c], b[c]
                if str(x.dtype).startswith("float"):
                    ok &= bool(
                        np.allclose(
                            x.astype(float), y.astype(float),
                            rtol=0, atol=0, equal_nan=True,
                        )
                    )
                else:
                    ok &= bool(x.astype(str).equals(y.astype(str)))
        if not ok:
            bad.append((name, "partition-order-sensitive"))
            print("NONDETERMINISTIC:", name)
    print(json.dumps({
        "sf_dir": sf,
        "audited": len(QUERIES),
        "shuffle_partition_settings": [16, 48],
        "issues": [list(x) for x in bad],
        "wall_sec": round(time.time() - t0, 1),
    }))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
