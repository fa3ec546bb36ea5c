"""Batch source adapters.

The reference's sources are Kafka topics (streaming) and captured CSV
fixtures (``inputs/*.csv``).  For the batch engine the canonical cold store
is parquet — same as the reference's HDFS archive
(``kafka-spark-configmap.yaml:95-101``) — and CSV/JSON are ingest formats.

Design notes for scale:

- ``load_table`` reads with an explicit schema.  Inferring a parquet
  schema is a Spark job (a footer read) that costs more than building the
  query that follows, so the first load of a table version infers it and
  the session memoizes the result.  The memo key is the path plus the
  size and modification time of every file under it: a table rewritten at
  the same path is inferred again.  Paths that are not on the local file
  system are inferred on every load.  No data is cached: Catalyst still
  sees the bare scan, so column pruning and predicate pushdown reach the
  parquet reader (verify with ``df.explain``: ``ReadSchema`` /
  ``PushedFilters``).
- JSON parsing uses ``from_json`` with an explicit schema (never
  ``spark.read.json`` inference) so a 100 TB scan never pays a
  schema-inference pre-pass and malformed rows degrade to nulls
  (PERMISSIVE), matching the reference's parse behavior
  (``kafka-spark-configmap.yaml:58-65``).
"""

from __future__ import annotations

import os
import threading
import weakref
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType, TimestampType

from ..schemas import REVIEW_CSV_SCHEMA, TESTDATA_TABLES

#: Testdata timestamp columns are written as parquet TIMESTAMP(NANOS), which
#: Spark's vectorized reader rejects outright ([PARQUET_TYPE_ILLEGAL]).  We
#: read them as raw nanosecond longs (legacy.parquet.nanosAsLong) and convert
#: with *integer* division to microseconds — ``ts div 1000`` — which matches
#: DuckDB's nanos->micros truncation bit-for-bit.  (A double division here
#: would silently lose precision: 2024-epoch nanos ~1.7e18 > 2^53.)
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


#: Per-session memo of inferred parquet schemas: session -> {path:
#: (file version, schema)}.  Weak on the session, so a stopped session's
#: memo goes with it; one entry per path, so rewrites replace, not grow.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def _file_version(path: str) -> tuple | None:
    """``(relative path, size, mtime_ns)`` of every file under a local
    ``path``, or None when it is not local or cannot be listed (the read
    then infers, and raises Spark's own error for a missing path)."""
    parts = urlsplit(path)
    if parts.scheme not in ("", "file"):
        return None
    local = parts.path if parts.scheme else path
    try:
        if not os.path.isdir(local):
            st = os.stat(local)
            return ((".", st.st_size, st.st_mtime_ns),)
        out = []
        for root, dirs, files in os.walk(local):
            dirs.sort()
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                out.append((os.path.relpath(os.path.join(root, f), local),
                            st.st_size, st.st_mtime_ns))
        return tuple(out)
    except OSError:
        return None


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, memoized per session
    and file version (see the module docstring)."""
    version = _file_version(path)
    if version is not None:
        with _SCHEMAS_LOCK:
            hit = _SCHEMAS.get(spark, {}).get(path)
        if hit is not None and hit[0] == version:
            return hit[1]
    schema = spark.read.parquet(path).schema
    if version is not None:
        with _SCHEMAS_LOCK:
            _SCHEMAS.setdefault(spark, {})[path] = (version, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (``{sf_dir}/{name}.parquet``)."""
    path = f"{sf_dir}/{name}.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Parquet timestamps written without the UTC-adjusted flag must read as
    # zoned TIMESTAMP, not TIMESTAMP_NTZ — set here (not only session.py)
    # so a driver-supplied session gets the same behavior.  The session TZ
    # is pinned UTC, so the wall-clock interpretation matches DuckDB.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    schema = _parquet_schema(spark, path)
    nanos = _NANOS_TS_COLS.get(name, ())
    fixes = {}
    for f in schema.fields:
        if f.name in nanos and isinstance(f.dataType, LongType):
            fixes[f.name] = F.expr(f"timestamp_micros({f.name} div 1000)")
        elif isinstance(f.dataType, TimestampNTZType):
            # Belt and braces: if NTZ slipped through anyway (conf ignored
            # by a foreign session build), normalize at the boundary.
            fixes[f.name] = F.col(f.name).cast(TimestampType())
    df = spark.read.schema(schema).parquet(path)
    return df.withColumns(fixes) if fixes else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every testdata table and register each as a temp view.

    Registering views lets queries be written in pure SQL
    (``spark.sql(...)``) against the same names the DuckDB oracle uses.
    """
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_review_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read the reference's review CSV fixtures.

    The fixtures (``inputs/reviews/steam_reviews_730.csv``) contain quoted
    multiline review text with embedded newlines and Unicode — requires
    ``multiLine`` + ``escape`` (SURVEY.md §7 risk #4).
    """
    return (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .schema(REVIEW_CSV_SCHEMA)
        .csv(path)
    )


def parse_json_records(
    raw: DataFrame, schema: StructType, value_col: str = "value"
) -> DataFrame:
    """Kafka-shaped binary/string JSON -> typed columns.

    Re-expresses the reference's parse stage (A2+A3):
    ``col("value").cast("string")`` then ``from_json(..., schema)`` then
    field extraction (``kafka-spark-configmap.yaml:58-65``).  Works
    identically on batch and streaming DataFrames.
    """
    return (
        raw.select(
            F.from_json(F.col(value_col).cast("string"), schema).alias("data")
        ).select("data.*")
    )


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Schema-first JSONL (one JSON object per line) reader.

    The interchange format LLM training corpora actually ship in.  The
    explicit schema keeps the 100 TB discipline: no inference pre-pass,
    malformed lines degrade to null fields (PERMISSIVE) instead of
    failing the job.
    """
    return spark.read.schema(schema).json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = (),
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> None:
    """Sharded (optionally partitioned + gzipped) JSONL export.

    One file per partition — shard count is controlled upstream with
    ``repartition``/``repartitionByRange``, which is how a delivery job
    sizes shards (e.g. ~250MB compressed) independent of cluster width.
    Partitioning by a ``split`` column yields the
    ``split=train/part-*.json.gz`` layout consumers expect.
    """
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if compression:
        w = w.option("compression", compression)
    w.json(path)
