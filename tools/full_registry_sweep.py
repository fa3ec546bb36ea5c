"""Registry correctness sweep on a BARE session at sf0.01.

Replicates the driver's comparison (rows+schema+value equality,
order-insensitive) for every registered query in registration order,
or for just the named ones (the fast loop while working on a few).
Prints one status line per query — the first 12 hex digits of the
sha256 of its oracle text, total seconds, then the split into building
the frame (``q.fn``; a streaming query runs here), the DuckDB oracle,
and collecting and comparing, then the mismatch or error detail — and a
one-line JSON summary whose ``oracle_sha256`` digests every oracle text
(``json.dumps(sorted(oracle_map().items()))``); exits 1 when any query
is not a match.  Diffing two sweeps' digests names every oracle whose
text moved.

Usage:  python -m tools.full_registry_sweep [<query> ...]
        SPARK_GRAFT_SWEEP_SF=/root/testdata/sf0.01 to override the SF.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

from tools.harness import session


def main() -> None:
    sf = os.environ.get("SPARK_GRAFT_SWEEP_SF", "/root/testdata/sf0.01")

    from bigdata_20251_steam_spark.plans import QUERIES, oracle_map
    from tests.oracle_harness import compare, duckdb_run

    unknown = [n for n in sys.argv[1:] if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    chosen = [QUERIES[n] for n in sys.argv[1:]] or list(QUERIES.values())

    spark = session("full_registry_sweep", 16, bare=True)

    n_match = 0
    t_start = time.time()
    for q in chosen:
        t0 = time.time()
        split = []
        try:
            got = q.fn(spark, sf)
            split.append(time.time())
            exp = duckdb_run(q.oracle, sf)
            split.append(time.time())
            compare(got, exp, q.name)
            split.append(time.time())
            status, detail = "match", f"rows={len(exp)}"
            n_match += 1
        except AssertionError as e:
            status, detail = "MISMATCH", str(e)[:300]
        except Exception as e:  # noqa: BLE001 — sweep must finish
            status, detail = "ERROR", f"{type(e).__name__}: {e}"[:300]
        laps = [b - a for a, b in zip([t0, *split], split)]
        parts = " ".join(
            f"{k}={v:.2f}s" for k, v in zip(("build", "oracle", "compare"), laps)
        )
        sha = hashlib.sha256((q.oracle or "").encode()).hexdigest()[:12]
        print(q.name, status, f"sha={sha}", f"{time.time() - t0:.2f}s", parts,
              detail, flush=True)

    print(json.dumps({
        "sf": sf,
        "total": len(chosen),
        "match": n_match,
        "fail": len(chosen) - n_match,
        "wall_sec": round(time.time() - t_start, 1),
        "oracle_sha256": hashlib.sha256(
            json.dumps(sorted(oracle_map().items())).encode()
        ).hexdigest(),
    }))
    spark.stop()
    if n_match != len(chosen):
        raise SystemExit(1)


if __name__ == "__main__":
    main()
