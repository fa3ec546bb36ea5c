"""What the audit and measurement tools share: the session, the
full-column fold, the min-of-N timer and the N-x replica builder.

Run every tool as ``python -m tools.<name>`` from the repo root.  ``-m``
puts the cwd first on ``sys.path``, and the Python UDF workers import
the package from the same cwd: run from elsewhere, a query with a
Python UDF fails in the worker with ``ModuleNotFoundError``.
"""

from __future__ import annotations

import math
import os
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_20251_steam_spark.schemas import TESTDATA_TABLES


def cpus(default: str = "32") -> str:
    """``$SPARK_GRAFT_CPUS``, the local thread count of a tool's session."""
    return os.environ.get("SPARK_GRAFT_CPUS", default)


def session(
    app: str,
    threads: str | int,
    partitions: str | int | None = None,
    *,
    bare: bool = False,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """A ``local[threads]`` session with ``partitions`` shuffle partitions
    (default: one per thread) and Spark's log level at ERROR.

    ``bare`` builds the session the driver harness supplies: UTC and the
    UI off, none of the engine's tuning.  Otherwise it is
    :func:`get_spark`'s tuned session.  ``conf`` adds settings to either."""
    conf = {
        "spark.sql.shuffle.partitions": str(partitions or threads),
        **(conf or {}),
    }
    if bare:
        spark = (
            SparkSession.builder.master(f"local[{threads}]")
            .appName(app)
            .config(map={
                "spark.sql.session.timeZone": "UTC",
                "spark.ui.enabled": "false",
                **conf,
            })
            .getOrCreate()
        )
    else:
        from bigdata_20251_steam_spark.session import get_spark

        spark = get_spark(
            app_name=app, master=f"local[{threads}]", extra_conf=conf
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def hashfold(df: DataFrame) -> tuple[int | None, int]:
    """``(bit_xor of the rows' full-column xxhash64, row count)``.

    This is how a tool makes a query compute, not ``count()``: count
    lets the optimizer prune every computed column of a narrow-map
    query, so a projection-only operator would be timed as its file scan
    (measured at sf0.1: intra_doc_dedup 0.27 s pruned vs 5.9 s computed,
    bpe_token_counts 0.10 s vs 3.2 s).  The fold costs one hash per
    output row."""
    row = (
        df.select(F.xxhash64(*df.columns).alias("_h"))
        .agg(F.bit_xor("_h"), F.count(F.lit(1)))
        .collect()[0]
    )
    return row[0], row[1]


def best_of(n: int, fn) -> float:
    """Least wall seconds over ``n`` calls of ``fn``.  A plan's first run
    pays whole-stage codegen and JIT, and the VM shows rare multi-second
    stalls; the minimum is the engine's own time."""
    best = math.inf
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


#: Key columns each replica shifts, by key family.  A family takes one
#: offset (its largest key + 1) on every table that carries it, so keys
#: stay unique and a join on a family key matches inside each replica
#: exactly as in the base data.
KEY_FAMILIES = {
    "orderkey": {"orders": "o_orderkey", "lineitem": "l_orderkey"},
    "custkey": {"customer": "c_custkey", "orders": "o_custkey"},
    "doc_id": {"documents": "doc_id"},
    "vec_id": {"embeddings": "vec_id"},
    "event_id": {"events": "event_id"},
    "user_id": {"events": "user_id"},
}

#: Tables copied unchanged: facts grow, dimensions do not.
DIMENSIONS = tuple(
    t for t in TESTDATA_TABLES
    if not any(t in family for family in KEY_FAMILIES.values())
)


def _replica(
    df: DataFrame, table: str, i: int, shifts: dict[str, int]
) -> DataFrame:
    if i == 0:
        return df
    df = df.withColumns({c: F.col(c) + i * off for c, off in shifts.items()})
    if table == "documents":
        # Suffix EVERY token with r{i}, so a replica shares no word
        # shingle and no hashed word feature with another and duplicate
        # density stays that of the base data.  Appending one " r{i}"
        # token left replicas near-duplicates of each other: LSH
        # candidate pairs grew x4.4 per doubling (SCALING.md, round 10).
        df = df.withColumn(
            "text",
            F.when(
                F.col("text").isNotNull(),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.split(F.col("text"), r"\s+"),
                        lambda x: F.concat(x, F.lit(f"r{i}")),
                    ),
                ),
            ),
        )
    return df


def replicate(
    spark: SparkSession,
    src: str,
    out_dir: str,
    mult: int,
    tables=TESTDATA_TABLES,
) -> None:
    """Write ``tables`` of the SF dir ``src`` into ``out_dir``: each fact
    table as the union of ``mult`` key-shifted replicas, each dimension
    table unchanged."""
    from bigdata_20251_steam_spark.sources.batch import load_table

    shifts: dict[str, dict[str, int]] = {}
    for family in KEY_FAMILIES.values():
        if not set(family) & set(tables):
            continue
        top = max(
            load_table(spark, src, t).agg(F.max(c)).first()[0]
            for t, c in family.items()
        )
        for t, c in family.items():
            shifts.setdefault(t, {})[c] = top + 1
    for t in tables:
        df = load_table(spark, src, t)
        if t in shifts:
            df = reduce(
                DataFrame.unionByName,
                (_replica(df, t, i, shifts[t]) for i in range(mult)),
            )
        df.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
