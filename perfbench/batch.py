"""The ``serving_queries`` workload: the dashboard and demo queries.

The queries are every ``reference_queries`` registration with a SQL
oracle.  Each query is one operation: ``q.fn(spark, data_dir)`` builds
the plan and a full-column xxhash64 fold (as in ``bench.py``) reduces
every output column to one row.  A closed loop with one client runs the
queries in registry order, one pass after another.

Before timing, each query runs once against its DuckDB oracle with the
comparison of ``tests/oracle_harness.py``, and then once more the way the
timed loop runs it, to warm the JVM.  Every repetition after the
verification must reproduce the verified fold.

A query's latency is its wall time net of the CPU time the hypervisor
gave to other guests while it ran (``sparkobs.stolen_share``).  The work
is driver-bound, so steal lengthens it one for one, and on a shared host
it swings from run to run.  The wall figures are in the report line.
"""

from __future__ import annotations

import gc
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from . import sparkobs
from .inputs import SF01_ROWS

#: Row counts: a fifth of sf0.1.  Serving latency is driver-bound (plan
#: construction, eager jobs, scheduling) at either size; the smaller one
#: keeps the verification pass and a timed pass near 20 s each.
SERVING_ROWS = {k: v // 5 for k, v in SF01_ROWS.items()}


def serving_names(queries) -> list[str]:
    """Every ``reference_queries`` registration that has a SQL oracle."""
    return [q.name for q in queries.values()
            if q.fn.__module__.endswith(".reference_queries") and q.oracle]


#: Queries verified at a time.  The verification pass runs cold and is
#: bound by the driver (planning, code generation), so overlapping
#: queries shortens it.  None of these queries touches shared session
#: state: no temp views, UDF registrations or checkpoint directories.
VERIFY_THREADS = 4


def _reduction(df):
    from pyspark.sql import functions as F

    return df.select(F.xxhash64(*df.columns).alias("_h")).agg(
        F.bit_xor("_h"), F.count(F.lit(1))
    )


def _oracle(sql: str, data_dir: str):
    """``tests/oracle_harness.duckdb_run`` with DuckDB held to two threads,
    so the oracles can run beside the verification pass without starving it."""
    import duckdb

    from bigdata_20251_steam_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect(config={"threads": 2})
    try:
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


class _Collected:
    """Hands ``compare`` rows that were already collected."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _check_rows(got, expected, name: str) -> int:
    """``tests/oracle_harness.compare``; returns the rounding ties it forgave.

    Both engines round float outputs to 6 decimals.  A cell one unit apart
    in the sixth decimal is a HALF_UP tie that Spark and DuckDB break
    differently; such cells are counted and reported instead of failing
    the query.  Any other difference raises ``AssertionError``.
    """
    from tests.oracle_harness import _canon, compare

    try:
        compare(_Collected(got), expected, name)
        return 0
    except AssertionError:
        g, e = _canon(got), _canon(expected)
        if list(g.columns) != list(e.columns) or len(g) != len(e):
            raise
        ties = 0
        for col in g.columns:
            for i, (gv, ev) in enumerate(zip(g[col], e[col])):
                if (isinstance(gv, float) and isinstance(ev, float) and gv != ev
                        and abs(gv - ev) < 1.5e-6
                        and abs(round(gv * 1e6) - round(ev * 1e6)) == 1):
                    g.at[i, col] = ev
                    ties += 1
        compare(_Collected(g), e, name)
        return ties


def _pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


class BatchWorkload:
    def __init__(self, ctx, names: list[str]):
        self.ctx = ctx
        self.rounding_ties = 0
        self.spark = ctx.spark
        self.queries = [ctx.queries[n] for n in names]
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.folds: dict[str, tuple] = {}
        self.timed_folds: list[tuple[int, str, tuple]] = []

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    # -- verification (untimed; also the warm-up pass) ---------------------
    def _verify_one(self, q, oracle) -> tuple[list, tuple | None, int, str | None]:
        """Verify one query; returns (spans, fold, rounding ties, error).

        The result is cached while ``toPandas`` collects it for the oracle
        comparison, so the fold reads the verified rows.  The generated
        inputs keep every float sum exact, so a fold does not depend on the
        plan shape that computed it.
        """
        if self.ctx.trace:
            self.spark.sparkContext.setJobGroup("pb:verify", "pb:verify")
        spans, t = [], time.time()

        def mark(name: str, layer: str) -> None:
            nonlocal t
            now = time.time()
            spans.append((name, layer, t, now))
            t = now

        try:
            df = q.fn(self.spark, self.ctx.data_dir).persist()
            mark("q.fn", "plans")
            try:
                got = df.toPandas()
                mark("collect", "operators")
                expected = oracle.result()
                mark("oracle.wait", "check")
                ties = _check_rows(got, expected, q.name)
                mark("compare", "check")
                fold = tuple(_reduction(df).collect()[0])
                mark("reduce", "operators")
            finally:
                df.unpersist()
            return spans, fold, ties, None
        except Exception:
            return spans, None, 0, traceback.format_exc(limit=3)

    def verify(self) -> None:
        """Check every query against its oracle and record its verified fold.

        The DuckDB oracles run ahead in a worker thread; ``VERIFY_THREADS``
        queries are verified at a time.
        """
        ctx = self.ctx
        with ThreadPoolExecutor(max_workers=1) as oracle_pool, \
                ThreadPoolExecutor(max_workers=VERIFY_THREADS) as pool:
            oracles = {q.name: oracle_pool.submit(_oracle, q.oracle, ctx.data_dir)
                       for q in self.queries}
            futs = {q.name: pool.submit(self._verify_one, q, oracles[q.name])
                    for q in self.queries}
            for name, fut in futs.items():
                self.attempted += 1
                spans, fold, ties, err = fut.result()
                rid = f"{ctx.workload}/verify/{name}"
                if spans:
                    top = ctx.tracer.add("verify", "bench", spans[0][2], spans[-1][3], rid)
                    for sname, layer, a, b in spans:
                        ctx.tracer.add(sname, layer, a, b, rid, parent=top)
                self.rounding_ties += ties
                if err is None:
                    self.folds[name] = fold
                else:
                    self._fail(f"verify {name}: {err}")

    def warm(self, queries) -> None:
        """One untimed pass over ``queries`` as the timed loop runs them.

        After the verification pass a query's first run from this loop
        takes a tenth to a quarter longer than its second, by an amount that
        varies from run to run; more runs on the pool threads do not remove
        it.  Each warm run must give the verified fold.
        """
        if self.ctx.trace:
            self.spark.sparkContext.setJobGroup("pb:warm", "pb:warm")
        for q in queries:
            self.attempted += 1
            with self.ctx.tracer.span("warm", "bench", f"{self.ctx.workload}/warm/{q.name}"):
                try:
                    row = tuple(_reduction(q.fn(self.spark, self.ctx.data_dir)).collect()[0])
                except Exception:
                    self._fail(f"warm {q.name}: {traceback.format_exc(limit=3)}")
                    continue
            if row != self.folds[q.name]:
                self._fail(f"warm {q.name}: fold {row} != verified {self.folds[q.name]}")

    # -- timed closed loop --------------------------------------------------
    def _run_one(self, q, p: int, phases: dict) -> tuple[float, float, tuple]:
        """One timed query: its wall time, that time net of steal, its fold."""
        ctx = self.ctx
        sc = self.spark.sparkContext
        tr = ctx.tracer
        rid = f"{ctx.workload}/{p}/{q.name}"
        ticks = sparkobs.cpu_ticks()
        t0 = time.perf_counter()
        with tr.span("query", "bench", rid):
            if ctx.trace:
                sc.setJobGroup(f"pb:{p}:{q.name}:c", "construct")
            with tr.span("q.fn", "plans", rid):
                tc = time.perf_counter()
                df = q.fn(self.spark, ctx.data_dir)
                red = _reduction(df)
                phases["construct_s"] += time.perf_counter() - tc
            if ctx.trace:
                with tr.span("plan", "plans", rid):
                    for k, v in sparkobs.tracker_phases_ms(red).items():
                        phases[f"{k}_ms"] = phases.get(f"{k}_ms", 0) + v
                sc.setJobGroup(f"pb:{p}:{q.name}:x", "execute")
            with tr.span("reduce", "operators", rid):
                tx = time.perf_counter()
                row = tuple(red.collect()[0])
                phases["exec_s"] += time.perf_counter() - tx
        dt = time.perf_counter() - t0
        return dt, dt * (1 - sparkobs.stolen_share(ticks, sparkobs.cpu_ticks())), row

    def timed(self, seconds: float, queries) -> dict:
        """Whole passes over ``queries``: one, then more while another would
        end inside ``seconds`` at the last pass's pace."""
        ctx = self.ctx
        lat: list[tuple[str, float, float]] = []
        pass_s: list[float] = []
        pass_phases: list[dict] = []
        # start every run from the same heap state
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        start = time.perf_counter()
        p = 0
        while queries and (p == 0 or time.perf_counter() - start + pass_s[-1] <= seconds):
            phases = {"construct_s": 0.0, "exec_s": 0.0}
            t0 = time.perf_counter()
            for q in queries:
                self.attempted += 1
                try:
                    dt, net, row = self._run_one(q, p, phases)
                    lat.append((q.name, dt, net))
                    self.timed_folds.append((p, q.name, row))
                except Exception:
                    self._fail(f"{ctx.workload}/{p}/{q.name}: "
                               f"{traceback.format_exc(limit=3)}")
            pass_s.append(time.perf_counter() - t0)
            pass_phases.append(phases)
            p += 1
        if ctx.trace:
            self.spark.sparkContext.setJobGroup("", "")
        wall = time.perf_counter() - start
        return {"lat": lat, "pass_s": pass_s, "phases": pass_phases,
                "passes": p, "wall": wall}

    def check_folds(self) -> None:
        """Every timed repetition must reproduce its query's verified fold."""
        for p, name, row in self.timed_folds:
            want = self.folds.get(name)
            if want is not None and row != want:
                self._fail(f"{self.ctx.workload}/{p}/{name}: fold {row} != verified {want}")


def run(ctx) -> dict:
    """Verify every query, run one warm pass, then time whole passes."""
    wl = BatchWorkload(ctx, serving_names(ctx.queries))
    t0 = time.perf_counter()
    wl.verify()
    verify_s = time.perf_counter() - t0
    verified = [q for q in wl.queries if q.name in wl.folds]
    t0 = time.perf_counter()
    wl.warm(verified)
    warm_s = time.perf_counter() - t0
    t = wl.timed(ctx.seconds, verified)
    wl.check_folds()
    lat = [net for _, _, net in t["lat"]]
    raw = [dt for _, dt, _ in t["lat"]]
    e2e = {
        "latency_p50_s": _pct(lat, 50) if lat else float("nan"),
        "latency_p90_s": _pct(lat, 90) if lat else float("nan"),
        "throughput_per_s": len(lat) / sum(lat) if lat else 0.0,
    }
    per_query: dict[str, list[float]] = {}
    for name, _, net in t["lat"]:
        per_query.setdefault(name, []).append(net)
    report = {
        # the names layers.json cites for the same numbers
        "query_latency_p50_s": e2e["latency_p50_s"],
        "query_latency_p90_s": e2e["latency_p90_s"],
        "queries_per_s": e2e["throughput_per_s"],
        "suite_s": float(np.median(t["pass_s"])) if t["pass_s"] else None,
        "verify_s": verify_s,
        "warm_s": warm_s,
        "rounding_ties": wl.rounding_ties,
        "passes": t["passes"],
        "latency_samples": len(lat),
        "pass_s": t["pass_s"],
        "query_median_s": {n: float(np.median(v)) for n, v in per_query.items()},
        # the same figures with the stolen time left in
        "wall_latency_p50_s": _pct(raw, 50) if raw else None,
        "wall_latency_p90_s": _pct(raw, 90) if raw else None,
        "wall_queries_per_s": len(raw) / t["wall"] if t["wall"] > 0 else 0.0,
        "errors": wl.errors[:10],
    }
    layers = {}
    if ctx.trace:
        layers = _batch_layers(ctx, t)
    return {"e2e": e2e, "layers": layers, "report": report,
            "attempted": wl.attempted, "failed": wl.failed}


def _batch_layers(ctx, t: dict) -> dict:
    """Per-pass ``plans.*`` and ``operators.*`` numbers, median over passes."""
    groups = sparkobs.StageLedger(ctx.spark).by_group()
    per_pass = []
    for p, ph in enumerate(t["phases"]):
        c = [g for k, g in groups.items() if k.startswith(f"pb:{p}:") and k.endswith(":c")]
        x = [g for k, g in groups.items() if k.startswith(f"pb:{p}:") and k.endswith(":x")]
        m = {
            "plans.construct_s": ph["construct_s"],
            "plans.eager_jobs": sum(g["jobs"] for g in c),
            "plans.analysis_ms": ph.get("analysis_ms", 0),
            "plans.optimization_ms": ph.get("optimization_ms", 0),
            "plans.planning_ms": ph.get("planning_ms", 0),
        }
        m.update(sparkobs.operator_metrics(x, ph["exec_s"], sparkobs.cores()))
        per_pass.append(m)
    return {k: float(np.median([m[k] for m in per_pass])) for k in per_pass[0]}
