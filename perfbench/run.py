"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads:

- ``serving_queries``: every ``reference_queries`` registration with a
  SQL oracle (the dashboard and demo surface), on seeded tables a fifth of
  sf0.1 (``batch.py``).
- ``streaming_ingest``: three dual-sink streaming queries (``stream.py``).

The run generates its inputs from the seed, sets up a session fitted to
the machine ``SETUPS`` times, verifies outputs, measures for about
``--seconds`` and prints a report line and then the result line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
and the spans are written to ``.perfbench_out/``.  The report line of a
traced run carries its end-to-end numbers too: their difference from an
untraced run is the tracing overhead.  All scratch files live under
``.perfbench_work/`` and are removed at exit.  ``layers.json`` maps each
layer metric to the end-to-end metric it should move.

The CPU-bound times (set-ups, serving queries, the streaming drain) are
reported net of the CPU time the hypervisor gave to other guests while
they ran (``sparkobs.stolen_share``); the report line keeps the wall
figures beside them.  Streaming latency waits on a trigger clock and
stays a wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serving_queries", "streaming_ingest")
#: Session set-ups per run; ``setup_s`` is their median.  The first also
#: launches the JVM and is reported apart as ``session.cold_start_s``; the
#: others restart the session in that JVM after the workload has run.
SETUPS = 5
#: A run that has not finished by then stops its JVM and exits non-zero.
DEADLINE_S = 170.0

END_TO_END = ("setup_s", "latency_p50_s", "latency_p90_s", "throughput_per_s")
PER_LAYER = (
    "session.start_s", "session.warmup_s", "session.cold_start_s",
    "session.jvm_peak_rss_mb",
    "plans.construct_s", "plans.eager_jobs", "plans.analysis_ms",
    "plans.optimization_ms", "plans.planning_ms",
    "operators.exec_s", "operators.jobs", "operators.stages", "operators.tasks",
    "operators.executor_run_s", "operators.executor_cpu_s", "operators.jvm_gc_s",
    "operators.core_busy_frac", "operators.shuffle_write_bytes",
    "operators.shuffle_read_bytes", "operators.spill_bytes", "operators.input_bytes",
    "sources.latest_offset_ms", "sources.get_batch_ms", "sources.input_rows",
    "sources.backlog_files_end",
    "streaming.batches", "streaming.rows_per_batch", "streaming.trigger_ms",
    "streaming.query_planning_ms", "streaming.commit_ms",
    "sinks.add_batch_ms", "sinks.add_batch_ms_growth", "sinks.bronze_files",
    "sinks.bronze_bytes", "sinks.serving_bytes",
)
UNITS = {
    "setup_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
    "throughput_per_s": "1/s", "sinks.add_batch_ms_growth": "ms/1k_rows",
}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    data_dir: str
    tracer: object
    spark: object = None
    queries: dict = field(default_factory=dict)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under ``work``."""
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _watchdog() -> threading.Timer:
    def fire() -> None:
        from perfbench import sparkobs

        print(f"perfbench: run exceeded {DEADLINE_S:.0f}s, aborting", file=sys.stderr,
              flush=True)
        try:
            sparkobs.kill_jvm()
        finally:
            os._exit(3)

    t = threading.Timer(DEADLINE_S, fire)
    t.daemon = True
    t.start()
    return t


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bigdata_20251_steam_spark")):
        raise SystemExit(f"perfbench: no bigdata_20251_steam_spark package under {ROOT}")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    watchdog = _watchdog()
    try:
        return _run(args, work)
    finally:
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)


def _set_up(ctx, i: int, master: str, conf: dict, spark=None):
    """Set-up ``i``: ``get_spark`` plus the warm-up job.

    A set-up given the previous ``spark`` stops it first and starts a new
    session in the same JVM.  Returns the session, the start and warm-up
    times net of stolen CPU time, and the wall time of both.
    """
    from bigdata_20251_steam_spark.session import get_spark

    from perfbench import sparkobs

    if spark is not None:
        # every later set-up starts from a collected heap
        spark.sparkContext._jvm.System.gc()
        spark.stop()
    rid = f"{ctx.workload}/setup{i}"
    with ctx.tracer.span("setup", "bench", rid):
        ticks = sparkobs.cpu_ticks()
        t0 = time.perf_counter()
        with ctx.tracer.span("get_spark", "session", rid):
            spark = get_spark(app_name=f"perfbench-{ctx.workload}", master=master,
                              extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with ctx.tracer.span("warm_up", "session", rid):
            sparkobs.warm_up(spark)
        t2 = time.perf_counter()
    kept = 1 - sparkobs.stolen_share(ticks, sparkobs.cpu_ticks())
    return spark, (t1 - t0) * kept, (t2 - t1) * kept, t2 - t0


def _run(args, work: str) -> int:
    from statistics import median

    from bigdata_20251_steam_spark.plans import QUERIES

    from perfbench import batch, inputs, sparkobs, stream
    from perfbench.tracing import Tracer

    # numpy seed sequences take non-negative integers
    ctx = Context(args.workload, args.seed % 2**64, args.seconds, bool(args.trace), work,
                  os.path.join(work, "data"), Tracer(bool(args.trace)), queries=QUERIES)
    tg = time.perf_counter()
    if ctx.workload == "serving_queries":
        inputs.write_tables(ctx.data_dir, ctx.seed, batch.SERVING_ROWS)
    gen_s = time.perf_counter() - tg
    master, conf = sparkobs.session_conf(work)
    ticks = sparkobs.cpu_ticks()
    spark = None
    try:
        spark, start, warm, wall = _set_up(ctx, 0, master, conf)
        starts, warms, walls = [start], [warm], [wall]
        ctx.spark = spark

        if ctx.workload == "streaming_ingest":
            out = stream.run(ctx)
        else:
            out = batch.run(ctx)

        # The other set-ups run after the workload, once the JVM has
        # finished compiling what the first one loaded.
        for i in range(1, SETUPS):
            spark, start, warm, wall = _set_up(ctx, i, master, conf, spark)
            starts.append(start)
            warms.append(warm)
            walls.append(wall)
        setups = [a + b for a, b in zip(starts, warms)]
        e2e = {"setup_s": median(setups), **out["e2e"]}
        layers = {}
        if ctx.trace:
            # a layer the workload never calls did no work: it reads 0
            layers = {k: 0 for k in PER_LAYER}
            layers.update(out["layers"])
            layers.update({
                "session.start_s": median(starts),
                "session.warmup_s": median(warms),
                "session.cold_start_s": setups[0],
                "session.jvm_peak_rss_mb": sparkobs.jvm_peak_rss_mb(),
            })
        report = {
            "workload": ctx.workload, "seed": ctx.seed, "seconds": ctx.seconds,
            "trace": ctx.trace, "conf": sparkobs.effective_conf(spark),
            "end_to_end": e2e,
            "setups_s": setups,
            "setups_wall_s": walls,
            # machine noise: CPU time taken by other guests during the run
            "host_steal_frac": sparkobs.steal_frac(ticks, sparkobs.cpu_ticks()),
            "input_gen_s": gen_s,
            "failed_ops_frac": out["failed"] / max(1, out["attempted"]),
            "ops_attempted": out["attempted"],
            **out["report"],
        }
        if ctx.trace:
            summary = ctx.tracer.summary()
            report["trace"] = summary
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(
                os.path.join(out_dir, f"trace-{ctx.workload}-seed{ctx.seed}.json"),
                {"report": report, "per_layer": layers},
            )
    finally:
        sparkobs.shutdown(spark)

    names = PER_LAYER if ctx.trace else END_TO_END
    values = layers if ctx.trace else e2e
    result = {
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {n: {"value": float(values[n]), "unit": unit_of(n)} for n in names},
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
