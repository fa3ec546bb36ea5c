"""The ``tools`` package: the N-x replica builder and the ``-m`` entry
points the audits run through."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

from bigdata_20251_steam_spark.sources.batch import load_table

from .conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]


def _grams(text: str) -> set[tuple[str, ...]]:
    words = text.split()
    return {tuple(words[i:i + 3]) for i in range(len(words) - 2)}


def test_replicate_doubles_facts_and_keeps_replicas_apart(spark, tmp_path):
    """mult 2 at sf0.001: fact tables double and dimensions are copied
    unchanged; shifted keys stay unique and family joins double (each
    replica joins within itself); no word 3-gram of a replica-1
    document occurs in its replica-0 document, so replicas are not
    near-duplicates of each other."""
    from tools.harness import DIMENSIONS, KEY_FAMILIES, hashfold, replicate

    out = str(tmp_path / "x2")
    replicate(spark, SF_SMOKE, out, 2)

    def base(t):
        return load_table(spark, SF_SMOKE, t)

    def rep(t):
        return load_table(spark, out, t)

    facts = {t for family in KEY_FAMILIES.values() for t in family}
    for t in facts:
        assert rep(t).count() == 2 * base(t).count(), t
    for t in DIMENSIONS:
        assert hashfold(rep(t)) == hashfold(base(t)), t

    for t, key in [("documents", "doc_id"), ("embeddings", "vec_id"),
                   ("events", "event_id"), ("orders", "o_orderkey")]:
        df = rep(t)
        assert df.select(key).distinct().count() == df.count(), key

    def joined(load, left, right, lk, rk):
        return load(left).join(load(right), F.col(lk) == F.col(rk)).count()

    for join in [("orders", "lineitem", "o_orderkey", "l_orderkey"),
                 ("customer", "orders", "c_custkey", "o_custkey")]:
        n = joined(base, *join)
        assert n > 0 and joined(rep, *join) == 2 * n, join

    offset = base("documents").agg(F.max("doc_id")).first()[0] + 1
    text = {r["doc_id"]: r["text"] for r in rep("documents").collect()}
    compared = 0
    for doc_id, t0 in text.items():
        if doc_id >= offset or t0 is None or len(t0.split()) < 3:
            continue
        assert not _grams(text[doc_id + offset]) & _grams(t0), doc_id
        compared += 1
    assert compared > 0


def _tool(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", *args],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_SWEEP_SF": SF_SMOKE},
        capture_output=True,
        text=True,
        timeout=900,
    )


def test_sweep_runs_as_a_module_from_the_repo_root():
    run = _tool("tools.full_registry_sweep", "q1_pricing_summary")
    assert run.returncode == 0, run.stdout[-2000:] + run.stderr[-2000:]
    assert '"match": 1' in run.stdout


def test_sweep_rejects_an_unknown_name_before_a_session_starts():
    run = _tool("tools.full_registry_sweep", "no_such_query")
    assert run.returncode != 0
    assert "unknown queries" in run.stderr
    # a JVM start prints Spark's log-level banner
    assert "Setting default log level" not in run.stderr
