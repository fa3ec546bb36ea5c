"""Robustness surfaces: pandas_udf/JVM float parity, PERMISSIVE JSON
degradation, checkpoint restart-resume (exactly-once replay)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from bigdata_20251_steam_spark.operators.similarity import (
    _as_double,
    cosine,
    pandas_cosine_udf,
)
from bigdata_20251_steam_spark.schemas import PLAYER_COUNT_SCHEMA
from bigdata_20251_steam_spark.sources.batch import load_table, parse_json_records
from bigdata_20251_steam_spark.streaming.engine import (
    DualSinkPaths,
    dual_sink_writer,
    file_stream,
)

from .conftest import SF_SMOKE


def test_pandas_udf_matches_jvm_cosine(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(50)
    qv = emb.filter(F.col("vec_id") == 0).select(
        _as_double(F.col("embedding")).alias("v")
    ).collect()[0]["v"]
    v = _as_double(F.col("embedding"))
    both = emb.filter(F.col("vec_id") > 0).select(
        cosine(F.array(*[F.lit(float(x)) for x in qv]), v).alias("jvm"),
        pandas_cosine_udf(qv)(v).alias("py"),
    )
    # identical fp composition on both paths -> near-exact agreement
    bad = both.filter(F.abs(F.col("jvm") - F.col("py")) > 1e-12)
    assert bad.count() == 0


def test_permissive_json_degrades_to_null(spark):
    # The reference parse stage never crashes on malformed messages —
    # undeclared fields are dropped, corrupt rows become null structs
    # (kafka-spark-configmap.yaml:58-65 semantics).
    rows = [
        (json.dumps({"appid": 1, "player_count": 5, "timestamp": "2026-01-01T00:00:00"}),),
        ("{not valid json at all",),
        (json.dumps({"appid": "wrong-type!", "player_count": 2, "timestamp": "t"}),),
        (None,),
    ]
    raw = spark.createDataFrame(rows, "value string")
    parsed = parse_json_records(raw, PLAYER_COUNT_SCHEMA)
    got = parsed.collect()
    assert len(got) == 4  # no rows lost, no exception
    assert got[0]["appid"] == 1 and got[0]["player_count"] == 5
    assert got[1]["appid"] is None  # corrupt -> null fields
    assert got[2]["appid"] is None and got[2]["player_count"] == 2  # partial
    assert got[3]["appid"] is None


def test_checkpoint_restart_resume(spark, tmp_path):
    # A restarted dual-sink query must process ONLY new files: bronze ends
    # up with each input row exactly once (A10 checkpoint semantics).
    events = load_table(spark, SF_SMOKE, "events").select("user_id", "value", "ts")
    src = str(tmp_path / "src")
    events.limit(100).write.parquet(src)

    paths = DualSinkPaths(
        bronze_dir=str(tmp_path / "bronze"),
        serving_dir=str(tmp_path / "serving"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    agg = lambda df: df.groupBy("user_id").agg(F.count("*").alias("n"))  # noqa: E731

    stream = file_stream(spark, src, events.schema)
    q = dual_sink_writer(stream, paths, agg)
    q.awaitTermination()
    n1 = spark.read.parquet(paths.bronze_dir).count()
    assert n1 == 100

    # append new input, restart from the SAME checkpoint
    events.limit(150).write.mode("append").parquet(src)
    stream2 = file_stream(spark, src, events.schema)
    q2 = dual_sink_writer(stream2, paths, agg)
    q2.awaitTermination()

    bronze = spark.read.parquet(paths.bronze_dir)
    assert bronze.count() == 250  # 100 old (not reprocessed) + 150 new
    serving = spark.read.parquet(paths.serving_dir)
    total = serving.agg(F.sum("n")).collect()[0][0]
    assert total == 250  # serving snapshot covers all bronze exactly once


def test_idempotent_epoch_append_replay(spark, tmp_path):
    """A replayed epoch must not duplicate bronze rows (exactly-once)."""
    from bigdata_20251_steam_spark.streaming.engine import idempotent_epoch_append

    bronze = str(tmp_path / "bronze")
    batch0 = spark.range(0, 100).select(F.col("id"))
    idempotent_epoch_append(batch0, bronze, epoch_id=0)
    # crash-replay of epoch 0: same data written again
    idempotent_epoch_append(batch0, bronze, epoch_id=0)
    assert spark.read.parquet(bronze).count() == 100  # not 200
    # next epoch is additive
    idempotent_epoch_append(spark.range(100, 150), bronze, epoch_id=1)
    got = spark.read.parquet(bronze)
    assert got.count() == 150
    assert got.select("epoch").distinct().count() == 2


def test_dual_sink_exactly_once_matches_plain(spark, tmp_path):
    events = load_table(spark, SF_SMOKE, "events").select("user_id", "value", "ts")
    src = str(tmp_path / "src")
    events.limit(200).write.parquet(src)
    agg = lambda df: df.groupBy("user_id").agg(F.count("*").alias("n"))  # noqa: E731

    paths = DualSinkPaths(
        bronze_dir=str(tmp_path / "bronze"),
        serving_dir=str(tmp_path / "serving"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q = dual_sink_writer(
        file_stream(spark, src, events.schema), paths, agg, exactly_once=True
    )
    q.awaitTermination()
    bronze = spark.read.parquet(paths.bronze_dir)
    assert bronze.count() == 200
    assert "epoch" in bronze.columns  # partition column surfaces to readers
    serving = spark.read.parquet(paths.serving_dir)
    assert serving.agg(F.sum("n")).collect()[0][0] == 200
    assert "epoch" not in serving.columns  # dropped before the agg


def test_quarantine_invalid_splits_with_reasons(spark):
    from bigdata_20251_steam_spark.operators.ingest import quarantine_invalid

    df = spark.createDataFrame(
        [
            (1, 10.0, "click"),
            (2, -5.0, "click"),        # bad value
            (3, 20.0, None),           # bad type
            (4, -1.0, None),           # bad value AND type
        ],
        "event_id long, value double, event_type string",
    )
    valid, quarantined = quarantine_invalid(
        df,
        {
            "value_non_negative": F.col("value") >= 0,
            "event_type_present": F.col("event_type").isNotNull(),
        },
    )
    assert [r["event_id"] for r in valid.orderBy("event_id").collect()] == [1]
    q = {r["event_id"]: r["failed_rules"] for r in quarantined.collect()}
    assert q[2] == ["value_non_negative"]
    assert q[3] == ["event_type_present"]
    assert q[4] == ["event_type_present", "value_non_negative"]


def test_quarantine_invalid_null_rule_result_quarantines(spark):
    """A rule that evaluates to NULL (e.g. comparison on a null column)
    must QUARANTINE the row, not silently admit it to valid."""
    from bigdata_20251_steam_spark.operators.ingest import quarantine_invalid

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -1.0)],
        "event_id long, value double",
    )
    valid, quarantined = quarantine_invalid(
        df, {"value_non_negative": F.col("value") >= 0}
    )
    assert [r["event_id"] for r in valid.orderBy("event_id").collect()] == [1]
    q = {r["event_id"]: r["failed_rules"] for r in quarantined.collect()}
    assert q == {2: ["value_non_negative"], 3: ["value_non_negative"]}


def test_bronze_schema_evolution_merge(spark, tmp_path):
    """Bronze must survive producer-side schema ADDITIONS: old files lack
    the new column, mergeSchema reads the union with nulls backfilled."""
    bronze = str(tmp_path / "bronze")
    spark.createDataFrame(
        [(1, 10.0)], "event_id long, value double"
    ).write.parquet(bronze)
    # a later epoch starts shipping a new column
    spark.createDataFrame(
        [(2, 20.0, "eu-west")], "event_id long, value double, region string"
    ).write.mode("append").parquet(bronze)
    merged = spark.read.option("mergeSchema", True).parquet(bronze)
    got = {r["event_id"]: r["region"] for r in merged.collect()}
    assert got == {1: None, 2: "eu-west"}
    assert set(merged.columns) == {"event_id", "value", "region"}


def test_shuffle_diff_gate_catches_injected_regression():
    """r11 (verdict #4): the shuffle audit is a diffed regression gate.
    Injected regressions must trip it; noise inside the two-sided
    tolerance (20% AND 256 KiB) must not; the reasons-required
    whitelist downgrades a named growth; new headliners baseline
    quietly."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo")
    from tools.shuffle_audit import diff_vs_previous

    def q(wb, spill=0):
        return {
            "shuffle_write_bytes": wb,
            "disk_spill_bytes": spill,
            "memory_spill_bytes": 0,
        }

    prev = {
        "a": q(10_000_000),
        "b": q(100_000),
        "c": q(5_000_000),
        "gone": q(1),
    }
    cur = {
        "a": q(13_000_000),        # +30%, +3 MB -> violation
        "b": q(140_000),           # +40% but only +40 KB -> ok (abs floor)
        "c": q(5_100_000, spill=7),  # new spill -> violation
        "brand_new": q(9_999_999),   # no baseline -> "new", not a violation
    }
    rows, viol = diff_vs_previous(cur, prev)
    assert viol == ["a", "c"]
    assert rows["a"]["status"].startswith("VIOLATION: shuffle bytes +30%")
    assert rows["c"]["status"].startswith("VIOLATION: new spill")
    assert rows["b"]["status"] == "ok"
    assert rows["brand_new"]["status"] == "new"
    assert rows["gone"]["status"] == "removed"
    # a written reason converts the failure into a visible acceptance
    rows2, viol2 = diff_vs_previous(
        cur, prev, {"a": "bucketed join re-keyed; absorbed as baseline",
                    "c": "known sf bump"}
    )
    assert viol2 == []
    assert rows2["a"]["status"].startswith("whitelisted: bucketed")
    # growth just UNDER both gates passes without a reason
    rows3, viol3 = diff_vs_previous({"a": q(11_900_000)}, {"a": q(10_000_000)})
    assert viol3 == [] and rows3["a"]["status"] == "ok"
