"""Session set-up fitted to the machine, and Spark's public observability.

Everything here reads Spark from outside the library: the session comes
from ``session.get_spark``; per-layer numbers come from job groups, the
REST status API (``/api/v1/applications/<id>/jobs`` and ``/stages``),
``QueryExecution.tracker()`` phases and ``StreamingQueryProgress``.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request

#: Stage fields summed per job group, as named in the REST stage records.
STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "shuffleWriteBytes", "shuffleReadBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "inputBytes",
)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters from ``/proc/stat`` (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two reads."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def stolen_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time the guest wanted between two reads that went to
    other guests: steal over busy plus steal time.

    A vCPU accrues steal only while it is runnable and the host runs
    something else, so ``wall * (1 - share)`` is the wall time the same work
    takes when the vCPUs are not taken away.
    """
    d = [b - a for a, b in zip(before, after)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]  # user nice system irq softirq steal
    return d[7] / wanted if wanted else 0.0


def session_conf(work: str) -> tuple[str, dict[str, str]]:
    """Master and extra conf: one task slot per core, heap below MemAvailable."""
    n = cores()
    heap_mb = max(1024, min(4096, mem_available_mb() // 4))
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.maxResultSize": f"{heap_mb // 2}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    return f"local[{n}]", conf


#: Conf keys echoed in the benchmark's report, to show the effective set-up.
REPORTED_CONF = (
    "spark.master", "spark.sql.shuffle.partitions", "spark.default.parallelism",
    "spark.driver.memory", "spark.sql.adaptive.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
)


def effective_conf(spark) -> dict[str, str]:
    conf = dict(spark.sparkContext.getConf().getAll())
    return {k: conf.get(k, spark.conf.get(k, None)) for k in REPORTED_CONF}


def warm_up(spark) -> None:
    """A fixed first job: the class loading and code generation users pay once."""
    from pyspark.sql import functions as F

    df = spark.range(200_000).select((F.col("id") % 97).alias("k"), "id")
    df.groupBy("k").agg(F.sum("id").alias("s")).agg(F.bit_xor(F.xxhash64("k", "s"))).collect()


def jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return None if gw is None else getattr(gw, "proc", None)


def jvm_peak_rss_mb() -> float:
    proc = jvm_proc()
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def shutdown(spark) -> None:
    """Stop the session and wait for the gateway JVM (and its workers) to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = jvm_proc()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def kill_jvm() -> None:
    proc = jvm_proc()
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait(timeout=30)


def tracker_phases_ms(df) -> dict[str, int]:
    """Force analysis, optimization and planning; return each phase in ms."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().durationMs())
    return out


class StageLedger:
    """Sums REST stage metrics per job group, read once at the end of a run."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def by_group(self) -> dict[str, dict[str, float]]:
        # the listener bus is asynchronous: give late events a moment
        time.sleep(0.5)
        jobs = self._get("jobs")
        stages = {s["stageId"]: s for s in self._get("stages")
                  if s.get("status") != "SKIPPED"}
        out: dict[str, dict[str, float]] = {}
        for j in jobs:
            acc = out.setdefault(j.get("jobGroup") or "", {
                "jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS},
            })
            acc["jobs"] += 1
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None:
                    continue
                acc["stages"] += 1
                for k in STAGE_FIELDS:
                    acc[k] += s.get(k, 0)
        return out


def operator_metrics(groups: list[dict[str, float]], exec_wall_s: float,
                     n_cores: int) -> dict[str, float]:
    """The ``operators.*`` layer metrics from summed stage records."""
    tot = {k: sum(g.get(k, 0) for g in groups)
           for k in ("jobs", "stages", *STAGE_FIELDS)}
    run_s = tot["executorRunTime"] / 1000.0
    return {
        "operators.exec_s": exec_wall_s,
        "operators.jobs": tot["jobs"],
        "operators.stages": tot["stages"],
        "operators.tasks": tot["numTasks"],
        "operators.executor_run_s": run_s,
        "operators.executor_cpu_s": tot["executorCpuTime"] / 1e9,
        "operators.jvm_gc_s": tot["jvmGcTime"] / 1000.0,
        "operators.core_busy_frac": (run_s / (exec_wall_s * n_cores)
                                     if exec_wall_s > 0 else 0.0),
        "operators.shuffle_write_bytes": tot["shuffleWriteBytes"],
        "operators.shuffle_read_bytes": tot["shuffleReadBytes"],
        "operators.spill_bytes": tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
        "operators.input_bytes": tot["inputBytes"],
    }
