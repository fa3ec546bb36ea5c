"""The ``streaming_ingest`` workload: three dual-sink queries fed by files.

One ``dual_sink_writer`` query per topic (``reviews_pipeline``,
``charts_pipeline``, ``players_pipeline``) reads Kafka-wire JSON files
through ``streaming.engine.file_stream``, appends the parsed rows to a
bronze parquet table and overwrites a serving snapshot recomputed over
all of bronze.

- Warm-up: a few files, drained with ``processAllAvailable()``.
- Steady phase (open loop): a generator thread writes one file per topic
  every ``FILE_INTERVAL_S`` on a fixed schedule, for ``--seconds`` rounded
  up to whole trigger intervals and started just after a trigger.  A
  file's latency runs from when it was due to the commit of the
  micro-batch that put it into serving (its batch id comes from the
  checkpoint's file-source log, the commit time from the commit log).
- Drain phase: a pre-written backlog processed with ``availableNow``;
  its rate is backlog rows over the span from the first drain batch's
  start to the last one's end (query start-up is reported apart), net of
  the CPU time other guests took during the drain.

After each phase every serving snapshot is checked against the batch
pipeline over the same files, and bronze must hold every row written.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from . import sparkobs
from .inputs import TOPICS, StreamRecords, wire_lines

#: Rows per generated file; one file per topic every ``FILE_INTERVAL_S``
#: gives offered rates of 200 reviews/s, 40 game-info rows/s and 200
#: player counts/s, well below what the drain phase sustains.
ROWS_PER_FILE = {"reviews": 50, "charts": 10, "players": 50}
FILE_INTERVAL_S = 0.25
WARMUP_FILES = 2
DRAIN_FILES = 12
#: Drain files carry this many times the steady rows, so the drain
#: measures processing rather than per-batch overhead.
DRAIN_ROWS_SCALE = 8
DRAIN_MAX_FILES_PER_TRIGGER = 4
#: Steady-phase trigger interval.  Spark fires processing-time triggers on
#: multiples of the interval since the epoch.  A micro-batch of the three
#: queries costs about 2 s on 4 cores, whatever its rows, so a shorter
#: interval keeps every query busy back to back and a slower machine then
#: lengthens every batch and the files each one waits for.  With 3 s each
#: query idles part of every interval: the phase runs below capacity.
TRIGGER_S = 3
TRIGGER = {"processingTime": f"{TRIGGER_S} seconds"}
#: Micro-batch phases in the order MicroBatchExecution runs them, with
#: the layer each belongs to.
BATCH_PHASES = (
    ("latestOffset", "sources"), ("walCommit", "streaming"),
    ("getBatch", "sources"), ("queryPlanning", "streaming"),
    ("addBatch", "sinks"), ("commitOffsets", "streaming"),
)


def steady_files(seconds: float) -> int:
    """Files per topic in the steady phase: ``seconds`` in whole trigger intervals."""
    return math.ceil(max(seconds, 1) / TRIGGER_S) * round(TRIGGER_S / FILE_INTERVAL_S)


def _wire_schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType([
        StructField("key", StringType()),
        StructField("value", StringType()),
        StructField("timestamp", LongType()),
    ])


def _pipelines():
    from pyspark.sql import functions as F

    from bigdata_20251_steam_spark.operators.core import (
        activity_windows, explode_counts, sentiment_windows,
    )
    from bigdata_20251_steam_spark.streaming.pipelines import (
        charts_pipeline, players_pipeline, reviews_pipeline,
    )

    return {
        "reviews": (reviews_pipeline, lambda b: sentiment_windows(
            b, ts_col="timestamp", flag_col=F.col("recommended"),
            quality_col="weighted_vote_score", window_duration="1 hour")),
        "charts": (charts_pipeline, lambda b: explode_counts(b, F.col("genres"), "genre")),
        "players": (players_pipeline, lambda b: activity_windows(
            b, "timestamp", "appid", "player_count")),
    }


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log."""
    log = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if name.startswith(".") or name.endswith(".crc"):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    return {int(n): os.stat(os.path.join(d, n)).st_mtime
            for n in os.listdir(d) if n.isdigit()}


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Generator(threading.Thread):
    """Writes one file per topic at ``t0 + i * interval``, whatever Spark does."""

    def __init__(self, stream: StreamingIngest, first_seq: int, n: int, t0: float):
        super().__init__(daemon=True)
        self.s, self.first_seq, self.n, self.t0 = stream, first_seq, n, t0
        self.stop_flag = threading.Event()
        self.written: list[tuple[str, int, float, float, float]] = []
        self.error: str | None = None

    def run(self) -> None:
        try:
            for i in range(self.n):
                due = self.t0 + i * FILE_INTERVAL_S
                if self.stop_flag.wait(max(0.0, due - time.time())):
                    return
                seq = self.first_seq + i
                for topic in TOPICS:
                    start = time.time()
                    self.s.write_file(topic, seq)
                    self.written.append((topic, seq, due, start, time.time()))
        except Exception:
            self.error = traceback.format_exc(limit=3)


class StreamingIngest:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.root = os.path.join(ctx.work, "stream")
        self.records = StreamRecords(ctx.seed, ROWS_PER_FILE)
        self.drain_records = StreamRecords(
            ctx.seed, {t: n * DRAIN_ROWS_SCALE for t, n in ROWS_PER_FILE.items()})
        self.payloads: dict[tuple[str, int], list] = {}
        self.pipes = _pipelines()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.progress: dict[str, list[dict]] = {t: [] for t in TOPICS}
        self.warm_last = {t: -1 for t in TOPICS}
        self.run_ids: set[str] = set()
        self.construct_s = 0.0
        self.rows_written = {t: 0 for t in TOPICS}
        self.phase_s: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark as ``phase``."""
        now = time.perf_counter()
        self.phase_s[phase] = now - self._t
        self._t = now

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def d(self, topic: str, kind: str) -> str:
        return os.path.join(self.root, kind, topic)

    def prepare(self, seqs, records: StreamRecords) -> None:
        for topic in TOPICS:
            os.makedirs(self.d(topic, "in"), exist_ok=True)
            for s in seqs:
                self.payloads[(topic, s)] = records.payloads(topic, s)

    def write_file(self, topic: str, seq: int) -> None:
        d = self.d(topic, "in")
        rows = self.payloads[(topic, seq)]
        tmp = os.path.join(d, f".part-{seq:06d}.json.tmp")
        with open(tmp, "w") as f:
            f.write(wire_lines(rows, int(time.time() * 1000)))
        os.replace(tmp, os.path.join(d, f"part-{seq:06d}.json"))
        self.rows_written[topic] += len(rows)

    # -- queries ------------------------------------------------------------
    def start(self, trigger: dict, max_files: int | None) -> dict:
        from bigdata_20251_steam_spark.streaming.engine import (
            DualSinkPaths, dual_sink_writer, file_stream,
        )

        sc = self.spark.sparkContext
        if self.ctx.trace:
            sc.setJobGroup("pb:stream:c", "construct")
        queries = {}
        for topic in TOPICS:
            pipeline, serving_agg = self.pipes[topic]
            t0 = time.perf_counter()
            raw = file_stream(self.spark, self.d(topic, "in"), _wire_schema(),
                              fmt="json", max_files_per_trigger=max_files)
            bronze = pipeline(raw)["bronze"]
            self.construct_s += time.perf_counter() - t0
            paths = DualSinkPaths(self.d(topic, "bronze"), self.d(topic, "serving"),
                                  self.d(topic, "ckpt"))
            q = dual_sink_writer(bronze, paths, serving_agg, trigger=trigger)
            self.run_ids.add(str(q.runId))
            queries[topic] = q
        if self.ctx.trace:
            sc.setJobGroup("", "")
        return queries

    def _collect_progress(self, queries: dict, phase: str) -> None:
        for topic, q in queries.items():
            self.progress[topic].extend(
                {**p, "phase": phase} for p in _progress(q)
                if p.get("numInputRows", 0) > 0 and p["batchId"] > self.warm_last[topic]
            )

    def _first_failure(self, queries: dict) -> str | None:
        for topic, q in queries.items():
            exc = q.exception()
            if exc is not None:
                return f"{topic} query failed: {exc}"
            if not q.isActive:
                return f"{topic} query stopped early"
        return None

    @staticmethod
    def _process_all(queries: dict) -> list[str]:
        """``processAllAvailable()`` on every query at once; returns the errors.

        Each call waits for a trigger that finds no new data after the call,
        so one after another they would wait a trigger interval each.
        """
        def one(topic, q):
            try:
                q.processAllAvailable()
                return None
            except Exception:
                return f"{topic}: {traceback.format_exc(limit=3)}"

        with ThreadPoolExecutor(max_workers=len(queries)) as pool:
            futs = [pool.submit(one, t, q) for t, q in queries.items()]
            return [e for e in (f.result() for f in futs) if e]

    def drain_and_stop(self, queries: dict) -> None:
        """``processAllAvailable()`` on every query, then ``stop()`` them all."""
        try:
            for err in self._process_all(queries):
                self._fail(f"drain {err}")
        finally:
            for q in queries.values():
                q.stop()
        self._collect_progress(queries, "steady")

    # -- checks -------------------------------------------------------------
    def _check_topic(self, phase: str, topic: str) -> list[str]:
        """Serving snapshot against the batch pipeline, bronze against the rows written."""
        from tests.oracle_harness import compare

        pipeline, serving_agg = self.pipes[topic]
        errors = []
        try:
            raw = self.spark.read.schema(_wire_schema()).json(self.d(topic, "in"))
            golden = serving_agg(pipeline(raw)["bronze"]).toPandas()
            compare(self.spark.read.parquet(self.d(topic, "serving")), golden,
                    f"{phase}/{topic}/serving")
        except Exception:
            errors.append(f"{phase}/{topic} serving: {traceback.format_exc(limit=3)}")
        try:
            n = self.spark.read.parquet(self.d(topic, "bronze")).count()
            if n != self.rows_written[topic]:
                errors.append(f"{phase}/{topic} bronze rows {n} != "
                              f"{self.rows_written[topic]} written")
        except Exception:
            errors.append(f"{phase}/{topic} bronze: {traceback.format_exc(limit=3)}")
        return errors

    def check(self, phase: str) -> None:
        """Check the three topics at once (two operations each)."""
        with self.ctx.tracer.span("verify", "check", f"streaming/{phase}"), \
                ThreadPoolExecutor(max_workers=len(TOPICS)) as pool:
            futs = [pool.submit(self._check_topic, phase, t) for t in TOPICS]
            for fut in futs:
                self.attempted += 2
                for err in fut.result():
                    self._fail(err)

    # -- phases -------------------------------------------------------------
    def steady(self, seconds: float) -> dict:
        n_files = steady_files(seconds)
        first = WARMUP_FILES
        self.prepare(range(first + n_files), self.records)
        self.mark("prepare")
        # the warm-up files are there before the queries start, so their
        # first micro-batch takes them without waiting for a trigger
        for seq in range(WARMUP_FILES):
            for topic in TOPICS:
                self.write_file(topic, seq)
        queries = self.start(TRIGGER, None)
        errors = self._process_all(queries)
        if errors:
            for err in errors:
                self._fail(f"warm-up {err}")
            for q in queries.values():
                q.stop()
            return {"written": [], "wall": 0.0, "backlog_files_end": 0}
        # warm-up batches are not measured
        self.warm_last = {t: max((p["batchId"] for p in _progress(q)), default=-1)
                          for t, q in queries.items()}
        self.mark("warm_up")
        # the first file lands just after a trigger, on every run
        t0 = (math.floor(time.time() / TRIGGER_S) + 1) * TRIGGER_S + FILE_INTERVAL_S / 2
        gen = Generator(self, first, n_files, t0)
        t0 = time.perf_counter()
        gen.start()
        failure = None
        while gen.is_alive():
            gen.join(0.25)
            failure = failure or self._first_failure(queries)
            if failure:
                gen.stop_flag.set()
        gen.join()
        wall = time.perf_counter() - t0
        logged = set()
        for topic in TOPICS:
            logged |= {(topic, f) for f in _file_batches(self.d(topic, "ckpt"))}
        backlog = sum(1 for t, s, *_ in gen.written
                      if (t, f"part-{s:06d}.json") not in logged)
        if failure:
            self._fail(failure)
        if gen.error:
            self._fail(f"generator: {gen.error}")
        self.mark("generate")
        self.drain_and_stop(queries)
        self.mark("drain_and_stop")
        return {"written": gen.written, "wall": wall, "backlog_files_end": backlog}

    def latencies(self, written) -> tuple[list[float], list[float]]:
        lat, late = [], []
        batches = {t: _file_batches(self.d(t, "ckpt")) for t in TOPICS}
        commits = {t: _commit_times(self.d(t, "ckpt")) for t in TOPICS}
        for topic, seq, due, start, _end in written:
            self.attempted += 1
            b = batches[topic].get(f"part-{seq:06d}.json")
            if b is None or b not in commits[topic]:
                self._fail(f"{topic} file {seq} never committed")
                continue
            lat.append(commits[topic][b] - due)
            late.append(start - due)
        return lat, late

    def drain(self) -> dict:
        first = WARMUP_FILES + steady_files(self.ctx.seconds)
        before = dict(self.rows_written)
        self.prepare(range(first, first + DRAIN_FILES), self.drain_records)
        for seq in range(first, first + DRAIN_FILES):
            for topic in TOPICS:
                self.write_file(topic, seq)
        rows = sum(self.rows_written[t] - before[t] for t in TOPICS)
        from bigdata_20251_steam_spark.streaming.engine import await_streams

        ticks = sparkobs.cpu_ticks()
        t0 = time.perf_counter()
        queries = self.start({"availableNow": True}, DRAIN_MAX_FILES_PER_TRIGGER)
        try:
            await_streams(list(queries.values()), mode="all", timeout=60)
        except Exception:
            self._fail(f"drain: {traceback.format_exc(limit=3)}")
        wall = time.perf_counter() - t0
        kept = 1 - sparkobs.stolen_share(ticks, sparkobs.cpu_ticks())
        self._collect_progress(queries, "drain")
        # processing window: first drain batch start to last drain batch end
        spans = [(_epoch(p["timestamp"]),
                  _epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000)
                 for ps in self.progress.values() for p in ps if p["phase"] == "drain"]
        busy = max(e for _, e in spans) - min(b for b, _ in spans) if spans else wall
        for topic in TOPICS:
            batches = _file_batches(self.d(topic, "ckpt"))
            commits = _commit_times(self.d(topic, "ckpt"))
            for seq in range(first, first + DRAIN_FILES):
                self.attempted += 1
                if batches.get(f"part-{seq:06d}.json") not in commits:
                    self._fail(f"{topic} drain file {seq} never committed")
        return {"rows": rows, "wall": wall, "busy": busy, "net_busy": busy * kept}

    # -- per-layer ------------------------------------------------------------
    def trace_batches(self) -> None:
        tr = self.ctx.tracer
        for topic, ps in self.progress.items():
            for p in ps:
                d = p["durationMs"]
                start = _epoch(p["timestamp"])
                rid = f"{topic}/batch{p['batchId']}"
                top = tr.add("microbatch", "streaming", start,
                             start + d.get("triggerExecution", 0) / 1000.0, rid)
                t = start
                for key, layer in BATCH_PHASES:
                    ms = d.get(key, 0)
                    tr.add(key, layer, t, t + ms / 1000.0, rid, parent=top)
                    t += ms / 1000.0

    def layer_metrics(self, steady: dict, drain: dict) -> dict:
        allp = [p for ps in self.progress.values() for p in ps]

        def med(key: str) -> float:
            v = [p["durationMs"].get(key, 0) for p in allp]
            return float(np.median(v)) if v else 0.0

        # growth of the serving recompute with bronze size, at the steady rate
        slopes = []
        for ps in self.progress.values():
            seen, xs, ys = 0, [], []
            for p in ps:
                if p["phase"] == "steady":
                    xs.append(seen / 1000.0)
                    ys.append(p["durationMs"].get("addBatch", 0))
                seen += p["numInputRows"]
            if len(xs) >= 3 and max(xs) > min(xs):
                slopes.append(float(np.polyfit(xs, ys, 1)[0]))
        rows = [p["numInputRows"] for p in allp]
        commit = [p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
                  for p in allp]
        bronze = [_dir_stats(self.d(t, "bronze")) for t in TOPICS]
        serving = [_dir_stats(self.d(t, "serving")) for t in TOPICS]
        groups = sparkobs.StageLedger(self.spark).by_group()
        construct = groups.get("pb:stream:c", {})
        m = {
            "plans.construct_s": self.construct_s,
            "plans.eager_jobs": construct.get("jobs", 0),
            "plans.analysis_ms": 0,
            "plans.optimization_ms": 0,
            "plans.planning_ms": 0,
            "sources.latest_offset_ms": med("latestOffset"),
            "sources.get_batch_ms": med("getBatch"),
            "sources.input_rows": sum(rows),
            "sources.backlog_files_end": steady["backlog_files_end"],
            "streaming.batches": len(allp),
            "streaming.rows_per_batch": float(np.mean(rows)) if rows else 0.0,
            "streaming.trigger_ms": med("triggerExecution"),
            "streaming.query_planning_ms": med("queryPlanning"),
            "streaming.commit_ms": float(np.median(commit)) if commit else 0.0,
            "sinks.add_batch_ms": med("addBatch"),
            "sinks.add_batch_ms_growth": float(np.mean(slopes)) if slopes else 0.0,
            "sinks.bronze_files": sum(f for f, _ in bronze),
            "sinks.bronze_bytes": sum(b for _, b in bronze),
            "sinks.serving_bytes": sum(b for _, b in serving),
        }
        m.update(sparkobs.operator_metrics(
            [g for k, g in groups.items() if k in self.run_ids],
            steady["wall"] + drain["wall"], sparkobs.cores()))
        return m


def run(ctx) -> dict:
    s = StreamingIngest(ctx)
    steady = s.steady(ctx.seconds)
    lat, late = s.latencies(steady["written"])
    s.check("steady")
    s.mark("check_steady")
    drain = s.drain()
    s.mark("drain")
    s.check("drain")
    s.mark("check_drain")
    offered = {t: ROWS_PER_FILE[t] / FILE_INTERVAL_S for t in TOPICS}
    e2e = {
        "latency_p50_s": float(np.percentile(lat, 50)) if lat else float("nan"),
        "latency_p90_s": float(np.percentile(lat, 90)) if lat else float("nan"),
        "throughput_per_s": (drain["rows"] / drain["net_busy"]
                             if drain["net_busy"] > 0 else 0.0),
    }
    report = {
        "offered_rows_per_s": offered,
        "trigger": TRIGGER,
        "steady_files": len(steady["written"]),
        "steady_wall_s": steady["wall"],
        "latency_samples": len(lat),
        "generator_lateness_p50_s": float(np.percentile(late, 50)) if late else None,
        "generator_lateness_p90_s": float(np.percentile(late, 90)) if late else None,
        "generator_lateness_max_s": max(late) if late else None,
        "backlog_files_end": steady["backlog_files_end"],
        "drain_rows": drain["rows"],
        "drain_wall_s": drain["wall"],
        "drain_busy_s": drain["busy"],
        # the drain rate with the stolen time left in
        "wall_drain_rows_per_s": drain["rows"] / drain["busy"] if drain["busy"] > 0 else 0.0,
        "phase_s": s.phase_s,
        # the names layers.json cites for the same numbers
        "stream_latency_p50_s": e2e["latency_p50_s"],
        "stream_latency_p90_s": e2e["latency_p90_s"],
        "stream_drain_rows_per_s": e2e["throughput_per_s"],
        "errors": s.errors[:10],
    }
    layers = {}
    if ctx.trace:
        s.trace_batches()
        for topic, seq, due, start, end in steady["written"]:
            ctx.tracer.add("gen.write", "load", start, end, f"{topic}/file{seq}")
        layers = s.layer_metrics(steady, drain)
    return {"e2e": e2e, "layers": layers, "report": report,
            "attempted": s.attempted, "failed": s.failed}
