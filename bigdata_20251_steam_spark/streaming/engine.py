"""Structured Streaming layer.

Re-expresses the reference's three streaming apps' *mechanics* (SURVEY.md
§2.A/§2.G) with two deliberate architectural upgrades:

1. **Parse once, fan out via foreachBatch** (fixes G8).  Each reference app
   starts 2-3 independent ``writeStream`` queries on the same parsed Kafka
   DataFrame (``kafka-spark-configmap.yaml:95-121``), so every sink re-reads
   and re-parses the topic.  ``dual_sink_writer`` runs ONE streaming query
   — one source read per trigger instead of three — whose ``foreachBatch``
   runs three steps per epoch:

   a. append the micro-batch to the bronze (cold) parquet table; the
      write is the batch's only reader, so it is not persisted.  A
      batch whose size estimate is below one advisory partition is
      coalesced to one task first, so it lands as one part file;
   b. re-read bronze with the micro-batch's own schema (plus the
      ``epoch`` partition column on the exactly-once path) — bronze
      holds only what this stream wrote, so the schema is known and no
      footer-inference job runs;
   c. recompute ``serving_agg`` over that read and overwrite the serving
      (hot) snapshot.  A bronze table below one advisory partition is
      coalesced to one task first, so the aggregate needs no shuffle.

   An epoch's cost is fixed work per task and per file, not per row:
   each write task deserializes the Hadoop configuration and each file
   opened copies it.  Spark spreads even a few-KB multi-file batch over
   one task per file.  On a 4-core ``local[4]`` run of three concurrent
   streams (21 epochs) the one-task rule cut 174 tasks to 42, 63 jobs
   to 42 and 78 bronze files to 21.

2. **Complete-mode snapshots without MongoDB** (A5/G3).  The reference's
   hot store is Mongo with ``outputMode("complete")`` — the whole aggregate
   state rewritten every 10 s.  Capability-equivalent here: recompute the
   aggregate over bronze inside ``foreachBatch`` and atomically overwrite a
   parquet serving table.  Idempotent per epoch (overwrite), bounded state
   (the aggregation state lives in the batch plan, not the stream state
   store) — SURVEY.md §7 risks #1/#2.

Determinism for tests comes from ``trigger(availableNow=True)`` (G4): all
available input is processed then the query stops — the streaming
equivalent of a batch run.

Scale posture: the state store is RocksDB (set in ``session.py``) so
watermarked window state spills to disk; checkpoints (A10) live per-sink;
bronze is date-partitioned by the caller (see ``partition_cols``), fixing
the reference's unpartitioned cold store (SURVEY.md §4 "partition pruning").
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.estimates import size_estimate
from ..functions.timeutil import normalize_ntz


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source — the local stand-in for the Kafka source
    (A1).  Same interface as the batch reader but incremental: new files
    under ``path`` become micro-batches.  ``max_files_per_trigger``
    throttles batch size (the file-source analogue of Kafka's
    ``maxOffsetsPerTrigger``)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # Callers often pass ``batch_df.schema`` as the stream schema; under
    # Spark 4 that may carry TIMESTAMP_NTZ, on which withWatermark raises
    # EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE.  Normalize at the boundary.
    return normalize_ntz(reader.format(fmt).load(path))


def run_available_now(
    df: DataFrame,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion and return the result.

    Runs the query with ``trigger(availableNow=True)`` into an in-memory
    sink, blocks until all available data is processed, and returns the
    sink contents as a batch DataFrame.  This is the deterministic test
    path for every streaming plan (G4: the reference's processing-time
    triggers swap for availableNow in tests).
    """
    spark = df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    # Stateful streaming cost scales with state-store instances = shuffle
    # partitions; an untuned session's default 200 means 200 state stores
    # for a test-sized batch (measured ~40s/query on a bare session).
    # Cap for the duration of this run, then restore.
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        if int(old) > 32:
            spark.conf.set(key, "32")
        writer = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        if checkpoint_dir is not None:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        q = writer.start()
        q.awaitTermination()
    finally:
        spark.conf.set(key, old)
    return spark.table(name)


@dataclass(frozen=True)
class DualSinkPaths:
    bronze_dir: str  #: append-only cold store (reference: HDFS archive)
    serving_dir: str  #: complete-mode hot snapshot (reference: Mongo collection)
    checkpoint_dir: str


def idempotent_epoch_append(
    batch_df: DataFrame,
    bronze_dir: str,
    epoch_id: int,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Exactly-once bronze append: each epoch owns a partition directory.

    ``foreachBatch`` is at-least-once — after a crash between the bronze
    write and checkpoint commit, the epoch REPLAYS and a plain append
    duplicates its rows.  Writing epoch ``n`` to ``bronze/epoch=n`` with
    overwrite makes the replay rewrite the same directory instead: the
    (epoch_id, deterministic batch) pair is the idempotency key, which is
    exactly how the Delta/Iceberg txn-log approach achieves exactly-once
    on top of at-least-once foreachBatch — here with plain parquet
    partition dirs.  Readers see ``epoch`` as a partition column (drop
    it for schema-stable consumption).
    """
    w = batch_df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(f"{bronze_dir}/epoch={epoch_id}")


def _advisory_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.adaptive.advisoryPartitionSizeInBytes`` in bytes."""
    size = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    utils = spark._jvm.org.apache.spark.network.util.JavaUtils
    return int(utils.byteStringAsBytes(size))


def _one_task_below(df: DataFrame, limit: int) -> DataFrame:
    """``df.coalesce(1)`` when its size estimate is known and below
    ``limit`` bytes, else ``df`` unchanged."""
    est = size_estimate(df)
    return df.coalesce(1) if est is not None and est < limit else df


def dual_sink_writer(
    parsed: DataFrame,
    paths: DualSinkPaths,
    serving_agg,
    partition_cols: tuple[str, ...] = (),
    trigger: dict | None = None,
    exactly_once: bool = False,
):
    """One streaming query, two sinks (G8 fixed: single source read).

    ``serving_agg`` is a batch transform ``DataFrame -> DataFrame`` (e.g.
    ``operators.core.sentiment_windows`` partially applied) recomputed over
    the full bronze table each epoch — complete-mode-equivalent snapshot
    semantics with zero unbounded stream state (G5 reference semantics,
    bounded implementation).

    ``exactly_once=True`` routes the bronze append through
    :func:`idempotent_epoch_append` (epoch-keyed overwrite) so crash
    replays cannot duplicate bronze rows; the serving snapshot was
    already idempotent (overwrite).  The default stays plain append for
    layout compatibility with date-partitioned bronze maintenance.

    Each epoch is sized to its data.  The micro-batch (before either
    bronze append) and the re-read bronze table (before ``serving_agg``)
    are each ``coalesce(1)``-ed when their size estimate
    (``functions.estimates.size_estimate``) is below
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` — Spark's own
    target size for a partition it writes, read from the query's
    session as of ``start()``.  Below it the write is one task and one
    file, and the aggregate reads one partition, so it plans no
    shuffle (AQE would have coalesced its output to one partition
    anyway).  A larger frame keeps its partitioning, and so does one
    whose size is unknown: Kafka and ``rate`` micro-batches report the
    ``spark.sql.defaultSizeInBytes`` sentinel.

    Returns the started StreamingQuery; caller decides await semantics (A6).
    """
    spark = parsed.sparkSession

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        # the query's own session: it holds the conf as of start()
        limit = _advisory_partition_bytes(batch_df.sparkSession)
        batch = _one_task_below(batch_df, limit)
        # bronze holds what the stream wrote, so the micro-batch schema is
        # bronze's schema: re-reading with it skips the inference job
        schema = batch_df.schema
        if exactly_once:
            idempotent_epoch_append(batch, paths.bronze_dir, epoch_id, partition_cols)
            schema = StructType([*schema.fields, StructField("epoch", LongType())])
            bronze = spark.read.schema(schema).parquet(paths.bronze_dir).drop("epoch")
        else:
            w = batch.write.mode("append")
            if partition_cols:
                w = w.partitionBy(*partition_cols)
            w.parquet(paths.bronze_dir)
            bronze = spark.read.schema(schema).parquet(paths.bronze_dir)
        snapshot = serving_agg(_one_task_below(bronze, limit))
        # Overwrite = idempotent per epoch: replaying an epoch after a
        # crash rewrites the same snapshot.
        snapshot.write.mode("overwrite").parquet(paths.serving_dir)

    writer = (
        parsed.writeStream.foreachBatch(_process)
        .option("checkpointLocation", paths.checkpoint_dir)
    )
    trigger = trigger or {"availableNow": True}
    writer = writer.trigger(**trigger)
    return writer.start()


def await_streams(
    queries,
    mode: str = "all",
    poll_interval: float = 0.5,
    timeout: float | None = None,
):
    """Multi-query orchestration (A6): supervise concurrent StreamingQueries.

    The reference launches 2-3 ``writeStream`` queries per app and blocks on
    ``awaitAnyTermination`` (kafka-spark-configmap.yaml:118-121), which has
    two operational holes this fixes: a FAILED sibling leaves the others
    running (silent partial pipeline), and the per-query exception is
    swallowed until someone polls it.

    - ``mode="all"``: block until every query terminates; on the first
      failure, stop the healthy siblings and re-raise that query's
      exception.
    - ``mode="any"``: block until the first query terminates (the
      reference's semantics); returns that query, re-raising if it failed.

    Returns the list of terminated queries (``all``) or the first
    terminated query (``any``).  ``timeout`` (seconds) raises
    ``TimeoutError`` with all queries stopped — no leaked streams.
    """
    import time as _time

    if mode not in ("all", "any"):
        raise ValueError(f"mode must be 'all' or 'any', got {mode!r}")
    deadline = None if timeout is None else _time.monotonic() + timeout
    active = list(queries)
    done: list = []

    def _stop_all(qs) -> None:
        for q in qs:
            try:
                q.stop()
            except Exception:
                pass  # already terminated / session tearing down

    try:
        while active:
            for q in list(active):
                if q.isActive:
                    continue
                active.remove(q)
                done.append(q)
                q.awaitTermination()  # re-raises StreamingQueryException
                if mode == "any":
                    _stop_all(active)
                    return q
            if active and deadline is not None and _time.monotonic() > deadline:
                raise TimeoutError(
                    f"{len(active)} streaming queries still active after "
                    f"{timeout}s: {[q.name or q.id for q in active]}"
                )
            if active:
                _time.sleep(poll_interval)
        return done
    except BaseException:
        _stop_all(active)
        raise


def dedup_stream(
    df: DataFrame,
    key_cols: tuple[str, ...],
    ts_col: str,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state (the at-least-once fixer).

    Kafka ingest is at-least-once: producer retries and consumer-group
    rebalances re-deliver records, so the bronze layer needs dedup on the
    message key.  Plain ``dropDuplicates`` on a stream keeps every key
    seen FOREVER (unbounded state store — the classic production OOM);
    ``dropDuplicatesWithinWatermark`` keeps a key only until the
    watermark passes it, which is the correct contract here: duplicate
    deliveries arrive within seconds, not days.  State size =
    keys-per-watermark-window, independent of stream lifetime.

    On a batch DataFrame (the Kappa replay path) this falls back to
    plain ``dropDuplicates(key_cols)`` — ``dropDuplicatesWithinWatermark``
    itself raises on batch inputs, and a bounded replay needs no state
    TTL: whole-frame dedup gives the same keys-kept result.
    """
    if not df.isStreaming:
        return df.dropDuplicates(list(key_cols))
    out = df.withWatermark(ts_col, delay)
    return out.dropDuplicatesWithinWatermark(list(key_cols))
