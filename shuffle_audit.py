"""Shuffle-volume audit: per-headliner exchange bytes as a tracked
regression metric (round 10).

Wall-clock regressions at sf0.1 are mostly VM noise (BENCH_BASE.md's
±10% box), but SHUFFLE VOLUME is deterministic for a fixed plan and is
the thing that actually becomes the bottleneck at 100 TB: a plan change
that doubles exchange bytes can hide inside bench noise locally and
still double cluster cost at scale.  This audit pins it: each headline
query runs once under its own job group (thread-local, so only its own
jobs are tagged), then Spark's public REST status API
(``/api/v1/applications/{id}/jobs`` + ``/stages``) attributes stages to
queries and sums

  - ``shuffleWriteBytes`` / ``shuffleRecordsWritten`` — what crosses
    the wire (the number to minimize),
  - ``shuffleReadBytes``,
  - ``diskBytesSpilled`` + ``memoryBytesSpilled`` — partitions that
    outgrew executor memory (must stay 0 at bench SF),
  - ``inputBytes`` and completed-stage count for context.

SKIPPED stages (reused exchanges) contribute 0, so exchange REUSE shows
up as a reduction — which is the correct accounting.  Streaming
queries are excluded (micro-batch jobs run on the stream-execution
thread, outside the caller's job group); the headline suite is batch.

r11 (verdict #4): the audit is a DIFFED REGRESSION GATE, not just a
snapshot — after writing SHUFFLE_r{N}.json it loads the most recent
committed prior round's artifact and fails loudly (exit 1) on

  - any NEW spill (prior rounds pin zero spill at bench SF), or
  - a carried headliner whose shuffle_write_bytes grew more than
    +20% AND more than 256 KiB absolute (the absolute floor keeps
    KB-scale rank-exchange queries from tripping on framing noise),

unless the query is in ``SHUFFLE_WHITELIST`` with a written reason
(the plan-audit convention).  New headliners are reported as baseline
rows, never violations.  The full diff table lands in the artifact's
``diff`` section.

Usage:  python shuffle_audit.py <round>      -> SHUFFLE_r{N}.json
        SPARK_GRAFT_SF_DIR to override the SF (default sf0.1).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time
import urllib.request

#: Grow-tolerance for carried headliners: BOTH must be exceeded.
GROWTH_PCT = 0.20
GROWTH_ABS_BYTES = 256 * 1024

#: query -> reason for an ACCEPTED shuffle growth this round (cleared
#: each round once the baseline artifact absorbs the new volume).
SHUFFLE_WHITELIST: dict[str, str] = {}


def diff_vs_previous(
    cur: dict[str, dict[str, int]],
    prev: dict[str, dict[str, int]],
    whitelist: dict[str, str] | None = None,
) -> tuple[dict[str, dict], list[str]]:
    """Per-headliner diff of two audit ``queries`` sections.

    Returns (diff_rows, violations).  A row's status is one of
    ``ok`` / ``new`` / ``removed`` / ``whitelisted: <reason>`` /
    ``VIOLATION: <what>``; violations lists the offending names."""
    wl = whitelist or {}
    rows: dict[str, dict] = {}
    violations: list[str] = []
    for name in sorted(set(cur) | set(prev)):
        c, p = cur.get(name), prev.get(name)
        if p is None:
            rows[name] = {
                "cur_write_bytes": c["shuffle_write_bytes"],
                "status": "new",
            }
            continue
        if c is None:
            rows[name] = {
                "prev_write_bytes": p["shuffle_write_bytes"],
                "status": "removed",
            }
            continue
        pb = p["shuffle_write_bytes"]
        cb = c["shuffle_write_bytes"]
        spill = c["disk_spill_bytes"] + c["memory_spill_bytes"]
        delta = cb - pb
        pct = (delta / pb) if pb else (1.0 if delta else 0.0)
        row = {
            "prev_write_bytes": pb,
            "cur_write_bytes": cb,
            "delta_bytes": delta,
            "delta_pct": round(pct * 100, 1),
        }
        problems = []
        if spill:
            problems.append(f"new spill ({spill:,} bytes)")
        if delta > GROWTH_ABS_BYTES and cb > pb * (1 + GROWTH_PCT):
            problems.append(
                f"shuffle bytes +{pct * 100:.0f}% (+{delta:,})"
            )
        if problems:
            reason = wl.get(name)
            if reason:
                row["status"] = f"whitelisted: {reason}"
            else:
                row["status"] = "VIOLATION: " + "; ".join(problems)
                violations.append(name)
        else:
            row["status"] = "ok"
        rows[name] = row
    return rows, violations


def _previous_artifact(here: str, rnd: int) -> tuple[int, dict] | None:
    """Most recent committed SHUFFLE_r{M}.json with M < rnd."""
    best = None
    for p in glob.glob(os.path.join(here, "SHUFFLE_r*.json")):
        m = re.search(r"SHUFFLE_r(\d+)\.json$", p)
        if m and int(m.group(1)) < rnd:
            if best is None or int(m.group(1)) > best[0]:
                best = (int(m.group(1)), p)
    if best is None:
        return None
    with open(best[1]) as f:
        return best[0], json.load(f)


def main() -> None:
    if len(sys.argv) != 2 or not sys.argv[1].isdigit():
        raise SystemExit("usage: python shuffle_audit.py <round-number>")
    rnd = int(sys.argv[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from bigdata_20251_steam_spark.plans import QUERIES
    from bigdata_20251_steam_spark.plans.extension_queries import (
        _staged_ivfadc_index_dir,
        _staged_ivfadc_meta_index_dir,
    )
    from bigdata_20251_steam_spark.session import get_spark

    spark = get_spark(app_name="shuffle_audit", master="local[32]",
                      extra_conf={"spark.sql.shuffle.partitions": "32"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    t0 = time.time()

    # the stored IVFADC indexes are written once per SF dir and then read
    # by the pruned-probe headliners; stage them here, outside every job
    # group, so a cold temp dir does not bill the one-off encode to them
    _staged_ivfadc_index_dir(spark, sf_dir)
    _staged_ivfadc_meta_index_dir(spark, sf_dir)
    headline = [q for q in QUERIES.values() if q.headline]
    for q in headline:
        sc.setJobGroup(q.name, q.name)
        df = q.fn(spark, sf_dir)
        # same full-column fold as bench.py: no pruning, every column
        # computed, so the audited plan is the benched plan
        df.select(F.xxhash64(*df.columns).alias("_h")).agg(
            F.bit_xor("_h"), F.count(F.lit(1))
        ).collect()
        sc.setJobGroup("", "")

    ui = sc.uiWebUrl
    app = sc.applicationId
    jobs = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/jobs?status=succeeded")
    )
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages")
    )
    by_stage = {s["stageId"]: s for s in stages}
    names = {q.name for q in headline}
    out: dict[str, dict[str, int]] = {}
    for j in jobs:
        g = j.get("jobGroup")
        if g not in names:
            continue
        acc = out.setdefault(
            g,
            {
                "shuffle_write_bytes": 0,
                "shuffle_write_records": 0,
                "shuffle_read_bytes": 0,
                "disk_spill_bytes": 0,
                "memory_spill_bytes": 0,
                "input_bytes": 0,
                "stages_complete": 0,
                "stages_skipped": 0,
            },
        )
        for sid in j["stageIds"]:
            s = by_stage.get(sid)
            if s is None:
                continue
            if s["status"] == "SKIPPED":
                acc["stages_skipped"] += 1
                continue
            acc["stages_complete"] += 1
            acc["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
            acc["shuffle_write_records"] += s.get("shuffleWriteRecords", 0)
            acc["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
            acc["disk_spill_bytes"] += s.get("diskBytesSpilled", 0)
            acc["memory_spill_bytes"] += s.get("memoryBytesSpilled", 0)
            acc["input_bytes"] += s.get("inputBytes", 0)

    missing = sorted(names - set(out))
    prev = _previous_artifact(os.path.dirname(os.path.abspath(__file__)), rnd)
    if prev is not None:
        base_round, base = prev
        diff, diff_violations = diff_vs_previous(
            out, base.get("queries", {}), SHUFFLE_WHITELIST
        )
    else:
        base_round, diff, diff_violations = None, {}, []
    artifact = {
        "round": rnd,
        "sf": sf_dir,
        "queries": dict(sorted(out.items())),
        "missing": missing,  # should be [] — loud if attribution broke
        "baseline_round": base_round,
        "diff": diff,
        "diff_violations": diff_violations,
        "growth_gate": {
            "pct": GROWTH_PCT,
            "abs_bytes": GROWTH_ABS_BYTES,
            "whitelist": SHUFFLE_WHITELIST,
        },
        "total_shuffle_write_bytes": sum(
            v["shuffle_write_bytes"] for v in out.values()
        ),
        "total_spill_bytes": sum(
            v["disk_spill_bytes"] + v["memory_spill_bytes"]
            for v in out.values()
        ),
        "wall_sec": round(time.time() - t0, 1),
    }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"SHUFFLE_r{rnd:02d}.json"
    )
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(
        f"wrote {path}: {len(out)} queries, "
        f"{artifact['total_shuffle_write_bytes']:,} shuffle bytes written, "
        f"{artifact['total_spill_bytes']:,} spill bytes"
        + (f", MISSING {missing}" if missing else "")
    )
    if base_round is not None:
        n_ok = sum(1 for r in diff.values() if r["status"] == "ok")
        n_new = sum(1 for r in diff.values() if r["status"] == "new")
        print(
            f"diff vs SHUFFLE_r{base_round:02d}: {n_ok} ok, {n_new} new, "
            f"{len(diff_violations)} violations"
        )
        for name in diff_violations:
            print(f"  {name}: {diff[name]['status']}")
    spark.stop()
    sys.exit(1 if (missing or diff_violations) else 0)


if __name__ == "__main__":
    main()
