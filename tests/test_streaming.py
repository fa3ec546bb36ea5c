"""Streaming layer tests: batch/stream parity, dual-sink, watermarks.

Input data is derived deterministically from the driver testdata (events
table) mapped into the reference's Kafka-shaped JSON records — no
synthesized distributions.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from bigdata_20251_steam_spark.functions.timeutil import epoch_seconds
from bigdata_20251_steam_spark.sources.batch import load_table
from bigdata_20251_steam_spark.streaming.engine import (
    DualSinkPaths,
    dual_sink_writer,
    file_stream,
    run_available_now,
)
from bigdata_20251_steam_spark.streaming.pipelines import (
    charts_pipeline,
    players_pipeline,
    reviews_pipeline,
)

from .conftest import SF_SMOKE

RAW_SCHEMA = StructType([StructField("value", StringType(), True)])


def _review_json_df(spark):
    """events -> game_comments-shaped JSON records (A9: to_json(struct))."""
    events = load_table(spark, SF_SMOKE, "events")
    return events.select(
        F.to_json(
            F.struct(
                F.col("user_id").cast("string").alias("app_id"),
                F.col("event_id").cast("string").alias("review_id"),
                F.lit("76561190000000000").alias("author_steamid"),
                F.lit("english").alias("language"),
                (F.col("event_type") != "error").alias("voted_up"),
                F.lit(1).alias("votes_up"),
                F.col("value").alias("weighted_vote_score"),
                epoch_seconds("ts").alias("timestamp_created"),
                F.lit("ok").alias("review_text"),
            )
        ).alias("value")
    )


def test_reviews_pipeline_batch_stream_parity(spark, tmp_path):
    raw = _review_json_df(spark)
    src = str(tmp_path / "raw")
    raw.write.parquet(src)

    batch_out = reviews_pipeline(spark.read.parquet(src), watermark=None)
    stream_raw = file_stream(spark, src, RAW_SCHEMA)
    stream_out = reviews_pipeline(stream_raw, watermark="10 minutes")

    got = run_available_now(stream_out["analytics"], "complete").toPandas()
    exp = batch_out["analytics"].toPandas()
    key = ["window_start", "recommended"]
    got = got.sort_values(key, ignore_index=True)
    exp = exp.sort_values(key, ignore_index=True)
    assert got.shape == exp.shape
    assert (got["total_reviews"] == exp["total_reviews"]).all()
    assert (got["avg_quality"] - exp["avg_quality"]).abs().max() < 1e-9

    bombs = run_available_now(stream_out["review_bomb"], "complete")
    assert bombs.count() == batch_out["review_bomb"].count()


def test_players_pipeline_stream(spark, tmp_path):
    events = load_table(spark, SF_SMOKE, "events")
    raw = events.select(
        F.to_json(
            F.struct(
                F.col("user_id").cast("int").alias("appid"),
                F.col("value").cast("int").alias("player_count"),
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias(
                    "timestamp"
                ),
            )
        ).alias("value")
    )
    src = str(tmp_path / "raw")
    raw.write.parquet(src)

    stream_out = players_pipeline(file_stream(spark, src, RAW_SCHEMA))
    got = run_available_now(stream_out["activity"], "complete")
    batch_out = players_pipeline(spark.read.parquet(src), watermark=None)
    assert got.count() == batch_out["activity"].count()


def test_charts_pipeline_explode_semantics(spark, tmp_path):
    """Pin explode vs explode_outer: null/empty genre arrays drop rows
    (SURVEY.md §7 risk #5; reference uses plain explode at
    kafka-spark-configmap.yaml:182)."""
    records = [
        {"appid": 1, "name": "a", "type": "game", "genres": ["Action", "Indie"],
         "timestamp_scraped": "2026-01-02T10:15:30.123456"},
        {"appid": 2, "name": "b", "type": "game", "genres": [],
         "timestamp_scraped": "2026-01-02T10:15:30.123456"},
        {"appid": 3, "name": "c", "type": "game", "genres": None,
         "timestamp_scraped": "2026-01-02T10:15:30.123456"},
        {"appid": 4, "name": "d", "type": "dlc", "genres": ["Action"],
         "timestamp_scraped": "2026-01-02T10:15:30.123456"},
    ]
    raw = spark.createDataFrame(
        [(json.dumps(r),) for r in records], schema=RAW_SCHEMA
    )
    out = charts_pipeline(raw)
    counts = {r["genre"]: r["total"] for r in out["genre_counts"].collect()}
    assert counts == {"Action": 2, "Indie": 1}  # appids 2,3 contribute nothing
    # ISO-8601 microsecond strings cast cleanly (B3)
    ts = out["bronze"].select("timestamp").collect()[0][0]
    assert ts is not None and ts.microsecond == 123456


def test_dual_sink_writer_incremental(spark, tmp_path):
    """foreachBatch dual sink: bronze appends, serving snapshot overwrites,
    checkpoint makes the second run process only new files."""
    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    first, second = events.filter("event_id % 2 = 0"), events.filter(
        "event_id % 2 = 1"
    )
    first.write.parquet(src)

    paths = DualSinkPaths(
        bronze_dir=str(tmp_path / "bronze"),
        serving_dir=str(tmp_path / "serving"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    def serving_agg(bronze):
        return bronze.groupBy("event_type").agg(F.count("*").alias("n"))

    schema = events.schema
    q = dual_sink_writer(file_stream(spark, src, schema), paths, serving_agg)
    q.awaitTermination()
    n1 = spark.read.parquet(paths.bronze_dir).count()
    assert n1 == first.count()

    # drop new files in, resume from checkpoint
    second.write.mode("append").parquet(src)
    q = dual_sink_writer(file_stream(spark, src, schema), paths, serving_agg)
    q.awaitTermination()
    bronze = spark.read.parquet(paths.bronze_dir)
    assert bronze.count() == events.count()  # appended exactly once
    serving = spark.read.parquet(paths.serving_dir)
    exp = events.groupBy("event_type").agg(F.count("*").alias("n"))
    assert {tuple(r) for r in serving.collect()} == {
        tuple(r) for r in exp.collect()
    }


@pytest.mark.parametrize("exactly_once", [False, True])
def test_dual_sink_writer_partitioned_bronze(spark, tmp_path, exactly_once):
    """``partition_cols``: bronze is date-partitioned, the partition column
    surfaces to readers, the serving snapshot equals the batch aggregate,
    and the schema-first bronze re-read each epoch agrees with an
    inferring read of the same directory."""
    events = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "ts", "event_type", "value")
        .withColumn("day", F.to_date("ts"))
    )
    assert events.select("day").distinct().count() > 1
    src = str(tmp_path / "src")
    # two source files, one per micro-batch, so the second epoch
    # re-reads a bronze table the first one wrote
    events.filter("event_id % 2 = 0").coalesce(1).write.parquet(src)
    events.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    paths = DualSinkPaths(
        bronze_dir=str(tmp_path / "bronze"),
        serving_dir=str(tmp_path / "serving"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    reads = []

    def serving_agg(bronze):
        reads.append(bronze)
        return bronze.groupBy("day", "event_type").agg(F.count("*").alias("n"))

    q = dual_sink_writer(
        file_stream(spark, src, events.schema, max_files_per_trigger=1),
        paths,
        serving_agg,
        partition_cols=("day",),
        exactly_once=exactly_once,
    )
    q.awaitTermination()
    assert len(reads) == 2

    layout = paths.bronze_dir
    if exactly_once:
        layout = f"{layout}/epoch=1"
    assert any(p.startswith("day=") for p in os.listdir(layout))
    inferred = spark.read.parquet(paths.bronze_dir)
    assert "day" in inferred.columns
    if exactly_once:
        inferred = inferred.drop("epoch")
    schema_first = reads[-1]
    assert [(f.name, f.dataType) for f in schema_first.schema] == [
        (f.name, f.dataType) for f in inferred.schema
    ]
    assert sorted(schema_first.collect()) == sorted(inferred.collect())
    assert schema_first.count() == events.count()

    serving = spark.read.parquet(paths.serving_dir)
    assert sorted(serving.collect()) == sorted(serving_agg(events).collect())


def _small_epochs(spark, tmp_path, exactly_once=False):
    """Four small source files streamed two per trigger through a dual
    sink: returns (query, paths, source rows, serving_agg)."""
    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src = str(tmp_path / "src")
    for i in range(4):
        part = events.filter(F.col("event_id") % 4 == i).coalesce(1)
        part.write.mode("append").parquet(src)
    paths = DualSinkPaths(
        bronze_dir=str(tmp_path / "bronze"),
        serving_dir=str(tmp_path / "serving"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    def serving_agg(bronze):
        return bronze.groupBy("event_type").agg(
            F.count("*").alias("n"), F.max("value").alias("top")
        )

    q = dual_sink_writer(
        file_stream(spark, src, events.schema, max_files_per_trigger=2),
        paths,
        serving_agg,
        exactly_once=exactly_once,
    )
    q.awaitTermination()
    assert [p.numInputRows > 0 for p in q.recentProgress] == [True, True]
    return q, paths, events, serving_agg


def _part_files(directory):
    return sorted(
        os.path.relpath(os.path.join(root, n), directory)
        for root, _, names in os.walk(directory)
        for n in names
        if n.startswith("part-")
    )


def _assert_serving_matches(spark, paths, events, serving_agg):
    serving = spark.read.parquet(paths.serving_dir)
    assert sorted(serving.collect()) == sorted(serving_agg(events).collect())


@pytest.mark.parametrize("exactly_once", [False, True])
def test_dual_sink_small_epoch_writes_one_bronze_file(spark, tmp_path, exactly_once):
    """A multi-file micro-batch smaller than one advisory partition is
    appended as one task: one bronze part file per epoch, on the plain
    append and on the epoch-keyed one."""
    _, paths, events, serving_agg = _small_epochs(spark, tmp_path, exactly_once)
    files = _part_files(paths.bronze_dir)
    assert len(files) == 2
    if exactly_once:
        assert sorted(f.split(os.sep)[0] for f in files) == ["epoch=0", "epoch=1"]
    assert spark.read.parquet(paths.bronze_dir).count() == events.count()
    _assert_serving_matches(spark, paths, events, serving_agg)


def test_dual_sink_small_epoch_runs_two_single_stage_jobs(spark, tmp_path):
    """Each small epoch runs the bronze write and the serving write and
    nothing else: bronze below one advisory partition is aggregated in
    one task, so no shuffle-map job (nor a job with a skipped map stage)
    runs.  A streaming query's jobs carry its runId as job group."""
    q, *_ = _small_epochs(spark, tmp_path)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(str(q.runId))
    assert len(jobs) == 2 * 2
    assert [len(tracker.getJobInfo(j).stageIds) for j in jobs] == [1] * len(jobs)


def test_dual_sink_large_epochs_keep_their_splits(spark, tmp_path):
    """With the advisory partition size below every micro-batch and the
    bronze table, nothing is coalesced: bronze keeps one part file per
    input split, and serving still equals the batch aggregate."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "1b")
    try:
        _, paths, events, serving_agg = _small_epochs(spark, tmp_path)
    finally:
        spark.conf.unset(key)
    assert len(_part_files(paths.bronze_dir)) == 4
    _assert_serving_matches(spark, paths, events, serving_agg)


def test_dual_sink_unknown_size_batch_keeps_its_partitions(spark, tmp_path):
    """A ``rate`` micro-batch reports no size estimate, so its bronze
    append keeps the source's partitioning."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 30)
        .option("numPartitions", 3)
        .load()
    )
    paths = DualSinkPaths(
        bronze_dir=str(tmp_path / "bronze"),
        serving_dir=str(tmp_path / "serving"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    def serving_agg(bronze):
        return bronze.groupBy((F.col("value") % 3).alias("k")).count()

    q = dual_sink_writer(stream, paths, serving_agg, trigger={"once": True})
    q.awaitTermination()
    assert len(_part_files(paths.bronze_dir)) == 3
    bronze = spark.read.parquet(paths.bronze_dir)
    assert bronze.count() == 30
    _assert_serving_matches(spark, paths, bronze, serving_agg)


def test_watermark_append_mode_drops_open_windows(spark, tmp_path):
    """Append mode emits only windows closed by the final watermark (G6).

    With a single availableNow batch the watermark ends at max(ts) - delay,
    so the trailing window(s) stay open and are not emitted."""
    events = load_table(spark, SF_SMOKE, "events").select("ts", "value")
    src = str(tmp_path / "src")
    events.write.parquet(src)

    stream = file_stream(spark, src, spark.read.parquet(src).schema)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.end").alias("window_end"), "n")
    )
    got = run_available_now(agg, "append", checkpoint_dir=str(tmp_path / "ck"))
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    emitted_ends = [r["window_end"] for r in got.collect()]
    total_windows = (
        events.groupBy(F.window("ts", "1 hour")).count().count()
    )
    assert len(emitted_ends) < total_windows  # at least the last window held back
    import datetime

    watermark = max_ts - datetime.timedelta(minutes=10)
    assert all(e <= watermark for e in emitted_ends)


def test_await_streams_all_mode(spark, tmp_path):
    """A6: concurrent queries supervised to completion."""
    from pyspark.sql import functions as F

    from bigdata_20251_steam_spark.streaming.engine import await_streams, file_stream

    src = str(tmp_path / "src")
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).write.parquet(src)
    schema = "id long, k long"
    q1 = (
        file_stream(spark, src, spark.createDataFrame([], schema).schema)
        .groupBy("k").count()
        .writeStream.format("memory").queryName("aw_a")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q2 = (
        file_stream(spark, src, spark.createDataFrame([], schema).schema)
        .writeStream.format("memory").queryName("aw_b")
        .outputMode("append").trigger(availableNow=True).start()
    )
    done = await_streams([q1, q2], mode="all", timeout=120)
    assert len(done) == 2
    assert spark.table("aw_a").count() == 7
    assert spark.table("aw_b").count() == 100


def test_await_streams_failure_stops_siblings(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bigdata_20251_steam_spark.streaming.engine import await_streams, file_stream

    src = str(tmp_path / "src")
    spark.range(0, 10).write.parquet(src)
    schema = spark.createDataFrame([], "id long").schema

    def boom(batch_df, epoch_id):
        raise ValueError("injected failure")

    bad = (
        file_stream(spark, src, schema)
        .writeStream.foreachBatch(boom)
        .trigger(availableNow=True).start()
    )
    # sibling keeps running until supervised shutdown
    healthy = (
        file_stream(spark, src, schema)
        .writeStream.format("memory").queryName("aw_sib")
        .outputMode("append").trigger(processingTime="1 second").start()
    )
    with pytest.raises(StreamingQueryException):
        await_streams([bad, healthy], mode="all", timeout=120)
    assert not healthy.isActive  # no leaked stream after sibling failure


def test_await_streams_timeout_stops_all(spark, tmp_path):
    from bigdata_20251_steam_spark.streaming.engine import await_streams, file_stream

    src = str(tmp_path / "src")
    spark.range(0, 10).write.parquet(src)
    schema = spark.createDataFrame([], "id long").schema
    q = (
        file_stream(spark, src, schema)
        .writeStream.format("memory").queryName("aw_t")
        .outputMode("append").trigger(processingTime="1 second").start()
    )
    with pytest.raises(TimeoutError):
        await_streams([q], mode="all", timeout=2)
    assert not q.isActive


def test_await_streams_any_mode(spark, tmp_path):
    from bigdata_20251_steam_spark.streaming.engine import await_streams, file_stream

    src = str(tmp_path / "src")
    spark.range(0, 10).write.parquet(src)
    schema = spark.createDataFrame([], "id long").schema
    fast = (
        file_stream(spark, src, schema)
        .writeStream.format("memory").queryName("aw_fast")
        .outputMode("append").trigger(availableNow=True).start()
    )
    slow = (
        file_stream(spark, src, schema)
        .writeStream.format("memory").queryName("aw_slow")
        .outputMode("append").trigger(processingTime="1 second").start()
    )
    first = await_streams([fast, slow], mode="any", timeout=120)
    assert first is fast
    assert not slow.isActive  # 'any' shuts the rest down cleanly


def test_dedup_stream_drops_redelivered_records(spark, tmp_path):
    """dropDuplicatesWithinWatermark: at-least-once -> exactly-once bronze."""
    import datetime as dt

    from pyspark.sql import functions as F

    from bigdata_20251_steam_spark.streaming.engine import (
        dedup_stream,
        file_stream,
        run_available_now,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 10.0),
        (2, base + dt.timedelta(seconds=30), 20.0),
        (1, base, 10.0),                              # redelivery of id 1
        (3, base + dt.timedelta(seconds=60), 30.0),
        (2, base + dt.timedelta(seconds=30), 20.0),   # redelivery of id 2
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double"
    ).write.parquet(src)
    stream = file_stream(
        spark, src, spark.createDataFrame([], "event_id long, ts timestamp, value double").schema
    )
    deduped = dedup_stream(stream, key_cols=("event_id",), ts_col="ts",
                           delay="5 minutes")
    got = run_available_now(deduped, output_mode="append").collect()
    assert sorted(r["event_id"] for r in got) == [1, 2, 3]
    assert {r["event_id"]: r["value"] for r in got} == {1: 10.0, 2: 20.0, 3: 30.0}


def test_dedup_stream_batch_fallback(spark):
    """Kappa replay: the same call works on a batch frame via dropDuplicates."""
    import datetime as dt

    from bigdata_20251_steam_spark.streaming.engine import dedup_stream

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, base, 1.0), (1, base, 1.0), (2, base, 2.0)],
        "event_id long, ts timestamp, value double",
    )
    got = dedup_stream(df, key_cols=("event_id",), ts_col="ts")
    assert sorted(r["event_id"] for r in got.collect()) == [1, 2]


def test_stateful_window_agg_checkpoint_resume(spark, tmp_path):
    """A watermarked windowed agg must RESUME from checkpointed state:
    windows spanning the restart emit once with counts from both runs."""
    import datetime as dt

    from bigdata_20251_steam_spark.streaming.engine import file_stream

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp, value double"

    def run_once():
        stream = file_stream(spark, src, spark.createDataFrame([], schema).schema)
        agg = (
            stream.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "10 minutes").alias("w"), "user_id")
            .agg(F.count("*").alias("n"))
            .select(
                F.col("w.start").alias("ws"), "user_id", "n"
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: two events in window A; window stays OPEN (no later watermark)
    spark.createDataFrame(
        [(1, base + dt.timedelta(minutes=1), 1.0),
         (1, base + dt.timedelta(minutes=2), 1.0)], schema
    ).write.parquet(src)
    run_once()
    # run 2: one MORE event in window A plus a far-future event that
    # advances the watermark past A, forcing A to close and emit
    spark.createDataFrame(
        [(1, base + dt.timedelta(minutes=3), 1.0),
         (9, base + dt.timedelta(hours=2), 1.0)], schema
    ).write.mode("append").parquet(src)
    run_once()

    got = {
        (r["ws"], r["user_id"]): r["n"]
        for r in spark.read.parquet(sink).collect()
    }
    # the restart-spanning window counts events from BOTH runs exactly
    # once — state was restored from the checkpoint, not recomputed
    assert got[(base, 1)] == 3, got


def test_streaming_asof_enrich_batch_stream_parity(spark):
    """scd_asof_enrich on a STREAM must equal the batch asof_join
    (backward direction), restricted to matched facts (inner)."""
    from bigdata_20251_steam_spark.operators.relational_ext import (
        asof_join,
        scd_asof_enrich,
    )
    from bigdata_20251_steam_spark.plans.streaming_queries import (
        q_streaming_asof_enrich,
    )

    ev = load_table(spark, SF_SMOKE, "events")
    good = (
        ev.filter(F.col("event_type") != "error")
        .groupBy("user_id", F.col("ts").alias("valid_from"))
        .agg(F.max("value").alias("value"))
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )

    def rows(df):
        return {
            (r["event_id"], r["matched_value"], r["matched_ts"])
            for r in df.collect()
        }

    batch_window = rows(
        asof_join(
            err, good, key="user_id", left_ts="ts", right_ts="valid_from",
            value_cols=("value",),
        ).filter(F.col("matched_ts").isNotNull())
    )
    batch_scd = rows(
        scd_asof_enrich(
            err, good, key="user_id", fact_ts="ts",
            valid_from="valid_from", value_cols=("value",),
        )
    )
    streamed = {
        (r["event_id"], r["matched_value"], r["matched_ts"])
        for r in q_streaming_asof_enrich(spark, SF_SMOKE)
        .withColumn("matched_value", F.col("matched_value").cast("double"))
        .collect()
    }
    assert batch_scd == batch_window
    # streaming rounds matched_value to 6dp; round the batch sides too
    assert streamed == {
        (e, None if v is None else round(v, 6), t) for e, v, t in batch_scd
    }


def test_streaming_curation_epoch_replay_is_idempotent(spark):
    """r6 verdict #4 'Done' criterion: replaying a committed epoch
    through idempotent_epoch_append (the at-least-once crash case) must
    leave the streaming curation pipeline's result bit-identical."""
    from bigdata_20251_steam_spark.plans.streaming_queries import (
        _streaming_curation_result,
    )

    from .conftest import SF_SMOKE

    base = sorted(
        map(tuple, _streaming_curation_result(spark, SF_SMOKE).collect())
    )
    replayed = sorted(
        map(
            tuple,
            _streaming_curation_result(
                spark, SF_SMOKE, replay_epoch=0
            ).collect(),
        )
    )
    assert base == replayed
    assert base, "pipeline produced no per-source rows"


def test_streaming_curation_matches_batch_with_normalized_dups(
    spark, tmp_path, monkeypatch
):
    """r7 advice: the capstone's arrival-order claim was untested because
    the synthetic corpus holds no normalized duplicates with distinct
    doc_ids.  This fixture has them — including the adversarial corner
    where the CANONICAL (lowest-doc_id) copy is benchmark-contaminated
    while a higher-doc_id duplicate is clean: the batch pipeline dedups
    to the canonical copy and then decontaminates it away (the key
    dies); a first-arrival ingest dedup could keep the clean copy
    instead.  Stream and batch pipelines must agree row-for-row."""
    import tempfile

    from bigdata_20251_steam_spark.plans.extension_queries import (
        q_curation_pipeline_end_to_end,
    )
    from bigdata_20251_steam_spark.plans.streaming_queries import (
        _streaming_curation_result,
    )

    rows = []
    # doc 7 is in the benchmark set (doc_id % 10 == 7); doc 12 is its
    # normalized duplicate (case/punctuation differ) — the corner above
    rows.append((7, "Secret Benchmark Answer Seven", "en", "a"))
    rows.append((12, "secret benchmark answer seven!!", "en", "a"))
    # clean canonical duplicate pair: lowest doc_id must survive
    rows.append((3, "common crawl page alpha body text", "en", "a"))
    rows.append((9, "Common   CRAWL page alpha body text.", "en", "a"))
    # byte-identical duplicate pair
    rows.append((4, "exact duplicate text body here", "en", "b"))
    rows.append((8, "exact duplicate text body here", "en", "b"))
    # a NULL-text document (unkeyable by content, never contaminated)
    rows.append((6, None, "en", "b"))
    # filler singletons so quality/mix/budget stages bind per source
    for i in range(13, 60):
        if i % 10 == 7 or i in {d for d, *_ in rows}:
            continue
        src = "a" if i % 2 else "b"
        rows.append(
            (i, f"the quick document number {i} talks about topic {i % 5} "
                f"and is of ordinary quality with some words", "en", src)
        )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    d = str(tmp_path / "dupfix")
    # the stream stages its copy under the temp dir, keyed by this SF
    # path; stage it inside tmp_path so pytest's retention removes it
    # (a shared temp dir would keep one copy per run: nothing evicts
    # another run's SF tag)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df.withColumn("n_chars", F.length("text")).write.parquet(
        f"{d}/documents.parquet"
    )
    batch = sorted(
        map(tuple, q_curation_pipeline_end_to_end(spark, d).collect())
    )
    stream = sorted(map(tuple, _streaming_curation_result(spark, d).collect()))
    assert batch == stream
    assert batch, "fixture produced no per-source rows"


def test_streaming_min_by_dedup_recovers_late_lower_doc_id(spark, tmp_path):
    """Stage-A semantics across MICRO-BATCH boundaries: a lower-doc_id
    duplicate arriving in a LATER micro-batch must still reach bronze
    (the stateful min_by re-emits the key when its minimum improves) —
    the exact case first-arrival dropDuplicates loses, because it drops
    the late canonical copy at ingest with no way to recover it."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_20251_steam_spark.functions.hashing import md5_long, md5_long_lo
    from bigdata_20251_steam_spark.operators import dedup as dd
    from bigdata_20251_steam_spark.streaming.engine import (
        file_stream,
        idempotent_epoch_append,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from pyspark.sql.window import Window

    src = str(tmp_path / "arrivals")
    _os.makedirs(src)
    t1 = pa.table(
        {"doc_id": [12, 20], "source": ["a", "a"],
         "text": ["dup text body", "unique one"]}
    )
    t2 = pa.table(
        {"doc_id": [5, 21], "source": ["a", "a"],
         "text": ["Dup   TEXT body!!", "unique two"]}
    )
    pq.write_table(t1, f"{src}/b1.parquet")
    pq.write_table(t2, f"{src}/b2.parquet")
    # file source processes oldest-modified first; pin the order
    _os.utime(f"{src}/b1.parquet", (1_700_000_000, 1_700_000_000))
    _os.utime(f"{src}/b2.parquet", (1_700_000_600, 1_700_000_600))

    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("source", StringType(), True),
            StructField("text", StringType(), True),
        ]
    )
    stream = file_stream(spark, src, schema, max_files_per_trigger=1)
    norm = dd.normalized_text(F.col("text"))
    agg = (
        stream.withColumn("_h1", md5_long(norm))
        .withColumn("_h2", md5_long_lo(norm))
        .groupBy("_h1", "_h2")
        .agg(
            F.min_by(F.struct("doc_id", "source", "text"), F.col("doc_id")).alias("_r")
        )
        .select(
            F.col("_r.doc_id").alias("doc_id"),
            F.col("_r.source").alias("source"),
            F.col("_r.text").alias("text"),
            "_h1",
            "_h2",
        )
    )
    bronze = str(tmp_path / "bronze")
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(
            lambda b, e: idempotent_epoch_append(b, bronze, e)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    corpus = spark.read.parquet(bronze)
    # both emissions of the dup key are in bronze: batch 1's min (12),
    # then batch 2's improved min (5) — group on the content key (raw
    # texts differ; only the normalized form is equal)
    by_key = {}
    for r in corpus.collect():
        by_key.setdefault((r["_h1"], r["_h2"]), []).append(r["doc_id"])
    multi = [sorted(v) for v in by_key.values() if len(v) > 1]
    assert multi == [[5, 12]], by_key
    # the tail re-key picks the canonical lowest doc_id per key
    w = Window.partitionBy("_h1", "_h2").orderBy("doc_id")
    winners = sorted(
        r["doc_id"]
        for r in corpus.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    )
    assert winners == [5, 20, 21], winners


def test_bounded_dedup_state_evicts_and_tail_cleans_late_dups(spark, tmp_path):
    """streaming_curation_bounded_state's stage-A contract, pinned on a
    multi-batch skewed-arrival fixture: (a) an in-watermark duplicate is
    dropped by the state store; (b) the state for a key is EVICTED once
    the watermark passes its first sighting plus the delay (bounded
    state — the metrics must show removed rows); (c) a duplicate
    arriving after eviction passes through ingest but the batch tail's
    lowest-doc_id re-key still dedups it (the safety net)."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_20251_steam_spark.functions.hashing import md5_long, md5_long_lo
    from bigdata_20251_steam_spark.operators import dedup as dd
    from bigdata_20251_steam_spark.streaming.engine import (
        file_stream,
        idempotent_epoch_append,
    )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )
    from pyspark.sql.window import Window

    src = str(tmp_path / "arrivals")
    _os.makedirs(src)
    import datetime as _dt

    def ts(s):
        return _dt.datetime(2024, 1, 1, 0, 0, 0) + _dt.timedelta(seconds=s)

    batches = [
        # b1: first sighting of the dup key + a singleton
        {"doc_id": [10, 30], "text": ["boilerplate page", "single one"],
         "arrival_ts": [ts(1000), ts(1000)]},
        # b2: in-watermark duplicate (5 s later, delay is 10 s) — dropped
        {"doc_id": [11], "text": ["Boilerplate   PAGE!!"],
         "arrival_ts": [ts(1005)]},
        # b3: watermark pusher — raises the watermark past the dup key's
        # expiry (1000 + 10)...
        {"doc_id": [31], "text": ["single two"], "arrival_ts": [ts(1500)]},
        # b4: ...and a second pusher, because state eviction runs at
        # batch COMMIT with that batch's watermark (computed from the
        # PREVIOUS batch's max event time): the key is evicted at the
        # end of this batch, not during b3
        {"doc_id": [32], "text": ["single three"], "arrival_ts": [ts(1600)]},
        # b5: late duplicate, after eviction — passes through ingest
        {"doc_id": [12], "text": ["boilerplate page"],
         "arrival_ts": [ts(2000)]},
    ]
    for i, b in enumerate(batches):
        t = pa.table(
            {"doc_id": pa.array(b["doc_id"], pa.int64()),
             "text": pa.array(b["text"], pa.string()),
             "arrival_ts": pa.array(b["arrival_ts"],
                                    pa.timestamp("us", tz="UTC"))}
        )
        p = f"{src}/b{i}.parquet"
        pq.write_table(t, p)
        _os.utime(p, (1_700_000_000 + 600 * i,) * 2)

    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
            StructField("arrival_ts", TimestampType(), True),
        ]
    )
    stream = file_stream(spark, src, schema, max_files_per_trigger=1)
    norm = dd.normalized_text(F.col("text"))
    deduped = (
        stream.withColumn("_h1", md5_long(norm))
        .withColumn("_h2", md5_long_lo(norm))
        .withWatermark("arrival_ts", "10 seconds")
        .dropDuplicatesWithinWatermark(["_h1", "_h2"])
        .select("doc_id", "text", "_h1", "_h2")
    )
    bronze = str(tmp_path / "bronze")
    progresses = []
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(lambda b, e: idempotent_epoch_append(b, bronze, e))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p and p.get("stateOperators")]

    corpus = spark.read.parquet(bronze)
    got = sorted(r["doc_id"] for r in corpus.collect())
    # 11 dropped in-watermark; 12 re-admitted after state eviction
    assert got == [10, 12, 30, 31, 32], got
    # state rows were removed by the watermark at least once (bounded
    # state — the whole point of the variant)
    removed = sum(
        int(so.get("numRowsRemoved", 0))
        for p in progresses
        for so in p["stateOperators"]
    )
    assert removed >= 1, progresses
    # the batch tail's lowest-doc_id re-key cleans the late duplicate
    w = Window.partitionBy("_h1", "_h2").orderBy("doc_id")
    winners = sorted(
        r["doc_id"]
        for r in corpus.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    )
    assert winners == [10, 30, 31, 32], winners


def test_bounded_state_pipeline_e2e_real_event_time(spark, tmp_path):
    """The REGISTERED bounded-state curation pipeline driven end-to-end
    under real event time (r8 verdict #7): five epochs march the
    watermark forward, an in-watermark duplicate is dropped by the
    state store, the duplicate key's state is EVICTED (metrics), TWO
    late duplicates arriving after eviction pass through ingest (sink
    row counts prove they reached bronze), and the batch tail's re-key
    cleans them — so the pipeline's final frame is identical to the
    same pipeline over the duplicate-free corpus, except the raw
    counts, which must show exactly the three duplicate arrivals."""
    import os as _os

    import datetime as _dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_20251_steam_spark.plans.streaming_queries import (
        _streaming_curation_result,
    )

    def ts(s):
        return _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc) + _dt.timedelta(
            seconds=s
        )

    def row(i, text, t, src="a"):
        return {"doc_id": i, "lang": "en", "source": src, "text": text,
                "arrival_ts": ts(t)}

    uniq = [
        row(1, "one clean document body here", 990),
        row(2, "two clean document body here", 990, "b"),
        row(3, "three clean document body here", 990),
        row(4, "four clean document body here", 990, "b"),
        row(5, "five clean document body here", 990),
        row(6, "six clean document body here", 990, "b"),
        # 17 = benchmark member (doc_id % 10 == 7): contaminated in
        # BOTH runs -> tombstoned in both, keeps the bloom build
        # non-empty without breaking parity
        row(17, "benchmark held out sentence", 990),
    ]
    epochs = [
        # e0: base corpus + first sighting of dup key A
        uniq + [row(100, "dup alpha text", 1000)],
        # e1: in-watermark duplicate of A (delay 10 s) -> state-dropped;
        # plus first sighting of key B
        [row(101, "DUP Alpha   TEXT!!", 1005),
         row(9, "nine clean document body here", 1005)],
        # e2, e3: watermark pushers (eviction runs at batch commit with
        # the PREVIOUS batch's max event time)
        [row(10, "ten clean document body here", 1500, "b")],
        [row(11, "eleven clean document body here", 1600)],
        # e4: late duplicates of A and B, after eviction — both pass
        # ingest; the batch tail's lowest-doc_id re-key cleans them
        [row(102, "dup alpha text", 2000),
         row(103, "Nine CLEAN document body here", 2000)],
    ]

    def stage(rows_per_file, d):
        _os.makedirs(d)
        for i, rows in enumerate(rows_per_file):
            t = pa.table({
                "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
                "lang": pa.array([r["lang"] for r in rows], pa.string()),
                "source": pa.array([r["source"] for r in rows], pa.string()),
                "text": pa.array([r["text"] for r in rows], pa.string()),
                "arrival_ts": pa.array(
                    [r["arrival_ts"] for r in rows],
                    pa.timestamp("us", tz="UTC"),
                ),
            })
            p = f"{d}/e{i}.parquet"
            pq.write_table(t, p)
            _os.utime(p, (1_700_000_000 + 600 * i,) * 2)

    dup_dir = str(tmp_path / "dup_src")
    stage(epochs, dup_dir)
    clean_dir = str(tmp_path / "clean_src")
    clean = [
        [r for r in ep if r["doc_id"] not in (101, 102, 103)]
        for ep in epochs
    ]
    stage([ep for ep in clean if ep], clean_dir)

    prog: list = []
    got = _streaming_curation_result(
        spark, "unused-sf", bounded_delay="10 seconds",
        arrival_src=(dup_dir, 1), progress_sink=prog,
    )
    expect = _streaming_curation_result(
        spark, "unused-sf", bounded_delay="10 seconds",
        arrival_src=(clean_dir, 10),
    )

    # (a) state eviction actually happened
    removed = sum(
        int(so.get("numRowsRemoved", 0))
        for p in prog
        for so in (p.get("stateOperators") or [])
    )
    assert removed >= 1, prog
    # (b) the in-watermark dup was dropped AT INGEST (batch e1: 2 in,
    # 1 state-deduped) while both late dups PASSED ingest (batch e4:
    # 2 in, 0 deduped — the batch-tail safety net had to catch them).
    # foreachBatch sinks report numOutputRows=-1, so the signal is the
    # state operator's numDroppedDuplicateRows custom metric.
    batches = [
        (
            int(p["numInputRows"]),
            int(
                p["stateOperators"][0]["customMetrics"][
                    "numDroppedDuplicateRows"
                ]
            ),
        )
        for p in prog
        if int(p.get("numInputRows", 0)) > 0 and p.get("stateOperators")
    ]
    assert (2, 1) in batches, batches
    assert batches[-1] == (2, 0), batches
    # (c) final frame: identical to the duplicate-free run except the
    # raw arrival counts (+2 dups in source a, +1 in source a... doc
    # 101/102 source a, 103 source a) — all on source a
    g = {r["source"]: r.asDict() for r in got.collect()}
    e = {r["source"]: r.asDict() for r in expect.collect()}
    assert set(g) == set(e)
    for src in e:
        for k in e[src]:
            if k == "n_raw":
                continue
            assert g[src][k] == e[src][k], (src, k, g[src][k], e[src][k])
    assert g["a"]["n_raw"] == e["a"]["n_raw"] + 3
    assert g["b"]["n_raw"] == e["b"]["n_raw"]


def test_bounded_state_oracle_precondition_no_normalized_dups(spark):
    """streaming_curation_bounded_state's oracle binds only when the
    corpus holds NO normalized duplicate content keys (the bounded
    dedup's survivor is an arbitrary first arrival whose doc_id feeds
    every downstream tie-break).  The driver corpus satisfies this;
    assert it LOUDLY so a testdata regeneration with duplicates turns
    into a clear suite failure instead of a nondeterministic driver
    row.  (The min_by capstone carries no such precondition.)"""
    from bigdata_20251_steam_spark.functions.hashing import md5_long, md5_long_lo
    from bigdata_20251_steam_spark.operators import dedup as dd

    from .conftest import SF_CORRECT, SF_SMOKE

    for sf in (SF_SMOKE, SF_CORRECT):
        docs = load_table(spark, sf, "documents").filter(
            F.col("text").isNotNull()
        )
        norm = dd.normalized_text(F.col("text"))
        keyed = docs.select(
            md5_long(norm).alias("h1"), md5_long_lo(norm).alias("h2")
        )
        n_rows = keyed.count()
        n_keys = keyed.distinct().count()
        assert n_rows == n_keys, (
            f"{sf}: corpus now holds {n_rows - n_keys} normalized "
            "duplicate documents — streaming_curation_bounded_state's "
            "oracle no longer binds; switch its driver row to the "
            "min_by capstone or regenerate without duplicates"
        )


def test_silver_dir_evicts_only_stale_copies_of_its_own_sf(
    spark, tmp_path, monkeypatch
):
    """A streaming query's staged silver result is kept per SF tag:
    staging it for a second SF keeps the first SF's copy readable (a
    frame returned earlier still reads it), and a new content key
    evicts only the stale copy of the same SF.  ``sf0.1`` and
    ``sf0.1_x10`` are separate tags although one name is a prefix of
    the other.  A copy of the same kind in the older flat layout is
    evicted; another kind's is not.  A staged stream source keeps the
    same rule: staging events for ``sf0.1`` keeps ``sf0.1_x10``'s copy."""
    import tempfile

    from bigdata_20251_steam_spark.plans.streaming_queries import (
        _staged_dir,
        _staged_events_dir,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    flat = tmp_path / "idx_lifecycle_silver_data_sf0.1_fp0"
    other_kind = tmp_path / "dedup_maint_silver_data_sf0.1_fp0"
    flat.mkdir()
    other_kind.mkdir()
    first = _staged_dir("idx_lifecycle_silver", "/data/sf0.1", "fp1")
    assert not flat.exists() and other_kind.is_dir()
    spark.range(3).write.parquet(first)
    earlier = spark.read.parquet(first)
    for sf in ("/data/sf0.01", "/data/sf0.1_x10"):
        other = _staged_dir("idx_lifecycle_silver", sf, "fp2")
        spark.range(5).write.mode("overwrite").parquet(other)
    assert earlier.count() == 3
    assert os.path.isdir(first)

    again = _staged_dir("idx_lifecycle_silver", "/data/sf0.1", "fp1")
    assert again == first and os.path.isdir(first)
    newer = _staged_dir("idx_lifecycle_silver", "/data/sf0.1", "fp3")
    assert not os.path.exists(first) and newer != first
    for sf in ("/data/sf0.01", "/data/sf0.1_x10"):
        assert os.path.isdir(_staged_dir("idx_lifecycle_silver", sf, "fp2"))

    data = tmp_path / "data"
    data.mkdir()
    for name in ("sf0.1_x10", "sf0.1"):
        (data / name).symlink_to(SF_SMOKE)
    x10 = _staged_events_dir(spark, str(data / "sf0.1_x10"))
    staged = spark.read.parquet(x10)
    one = _staged_events_dir(spark, str(data / "sf0.1"))
    assert one != x10 and os.path.isdir(one)
    assert os.path.isdir(x10) and staged.count() > 0
