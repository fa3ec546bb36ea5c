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

The audit is a DIFFED REGRESSION GATE, not just a snapshot: it diffs
against the committed baseline ``SHUFFLE_r18.json`` and fails loudly
(exit 1) on

  - any NEW spill (prior rounds pin zero spill at bench SF), or
  - a carried headliner whose shuffle_write_bytes grew more than
    +20% AND more than 256 KiB absolute (the absolute floor keeps
    KB-scale rank-exchange queries from tripping on framing noise),

unless the query is in ``SHUFFLE_WHITELIST`` with a written reason
(the plan-audit convention).  New headliners are reported as baseline
rows, never violations.

It writes no file: it prints one line per query (its diff status and
shuffle bytes written) and a one-line JSON whose ``queries`` section
has the baseline's shape.  A change that accepts new shuffle volume
re-baselines by redirecting that JSON line into ``SHUFFLE_r18.json``.

Usage:  python -m tools.shuffle_audit
        SPARK_GRAFT_SF_DIR to override the SF (default sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

from tools.harness import hashfold, session

#: The committed per-headliner baseline the audit diffs against.
BASELINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "SHUFFLE_r18.json",
)

#: Grow-tolerance for carried headliners: BOTH must be exceeded.
GROWTH_PCT = 0.20
GROWTH_ABS_BYTES = 256 * 1024

#: query -> reason for an ACCEPTED shuffle growth (cleared once the
#: baseline absorbs the new volume).
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


def main() -> None:
    if len(sys.argv) != 1:
        raise SystemExit("usage: python -m tools.shuffle_audit")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bigdata_20251_steam_spark.plans import QUERIES
    from bigdata_20251_steam_spark.plans.extension_queries import (
        _staged_ivfadc_index_dir,
        _staged_ivfadc_meta_index_dir,
    )

    # the baseline was measured at local[32]
    spark = session("shuffle_audit", 32)
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
        # bench.py's fold, so the audited plan is the benched plan
        hashfold(q.fn(spark, sf_dir))
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
    with open(BASELINE) as f:
        baseline = json.load(f)["queries"]
    diff, violations = diff_vs_previous(out, baseline, SHUFFLE_WHITELIST)
    for name, row in diff.items():
        print(name, row["status"],
              f"write_bytes={row.get('cur_write_bytes', 0):,}",
              f"delta_pct={row.get('delta_pct', '-')}", flush=True)
    statuses = [r["status"] for r in diff.values()]
    print(json.dumps({
        "sf": sf_dir,
        "baseline": os.path.basename(BASELINE),
        "ok": statuses.count("ok"),
        "new": statuses.count("new"),
        "diff_violations": violations,
        "missing": missing,  # should be [] — loud if attribution broke
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
        "queries": dict(sorted(out.items())),
    }))
    spark.stop()
    sys.exit(1 if (missing or violations) else 0)


if __name__ == "__main__":
    main()
