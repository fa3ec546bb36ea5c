"""Optimizer size estimates for adaptive branches.

Operators that pick a route by how big a frame is (``pin_frame``'s pin
route, the dual sink's one-task epochs) read the same number: the
optimized plan's ``stats().sizeInBytes``.  Spark reports
``spark.sql.defaultSizeInBytes`` (``Long.MaxValue`` by default) when it
cannot size a plan — an RDD-backed lineage such as
``createDataFrame(rdd)``, a Kafka or ``rate`` micro-batch — and inflates
it further across joins, so an estimate at or above it is not a size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def size_estimate(df: DataFrame) -> int | None:
    """The optimizer's estimated size of ``df`` in bytes, or ``None`` when
    the estimate is the unknown sentinel or cannot be read."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        est = int(str(stats.sizeInBytes()))
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        unknown = int(conf.defaultSizeInBytes())
    except Exception:
        return None
    return est if est < unknown else None
