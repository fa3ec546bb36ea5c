"""Reference-parity query inventory (SURVEY.md §2), bound to the driver
testdata tables.

Mapping of the Steam domain onto the testdata (FIXTURES.md §5):

- ``events`` plays the role of the review / player-count streams:
  ``user_id`` ~ app id, ``value`` ~ quality score / player count,
  ``event_type <> 'error'`` ~ the ``voted_up`` boolean.
- ``documents.text`` split on spaces plays the role of the ``genres``
  array (exercises explode, F1).
- ``orders x customer x nation x region`` exercises the dim joins the
  reference conspicuously lacks (SURVEY.md §2.D).

Every query aliases computed columns identically in the Spark plan and the
DuckDB oracle, and rounds floating aggregates to 6 decimals on both sides
so value-hash comparison is stable.

Scale notes are in each docstring; the common posture: single-shuffle
aggregations, broadcast dimension joins, filters expressed on the scan so
Catalyst pushes them into parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.core import (
    activity_windows,
    explode_counts,
    review_bomb,
    sentiment_windows,
)
from ..functions.timeutil import epoch_seconds
from ..schemas import EVENT_PROPS_SCHEMA
from ..sources.batch import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Streaming-app analytics, batch form (C1-C6, B4-B5, F1, G2)
# ---------------------------------------------------------------------------


@register(
    "sentiment_hourly",
    oracle="""
    SELECT date_trunc('hour', ts)                          AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR        AS window_end,
           (event_type <> 'error')                         AS recommended,
           count(*)                                        AS total_reviews,
           round(avg(value), 6)                            AS avg_quality
    FROM events
    GROUP BY 1, 2, 3
    """,
    headline=True,
    doc="Hourly tumbling-window sentiment agg (kafka-spark-configmap.yaml:68-74).",
)
def q_sentiment_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return sentiment_windows(
        events,
        ts_col="ts",
        flag_col=F.col("event_type") != "error",
        quality_col="value",
        window_duration="1 hour",
    )


@register(
    "review_bomb",
    oracle="""
    WITH agg AS (
      SELECT user_id                                             AS app_id,
             count(*)                                            AS total_reviews,
             CAST(sum(CASE WHEN event_type = 'error'  THEN 1 ELSE 0 END) AS BIGINT) AS negative_count,
             CAST(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS positive_count,
             avg(value)                                          AS avg_quality_raw
      FROM events GROUP BY user_id
    )
    SELECT app_id, total_reviews, negative_count, positive_count,
           round(avg_quality_raw, 6)                             AS avg_quality,
           round(negative_count / total_reviews, 6)              AS negative_ratio,
           round(positive_count / total_reviews, 6)              AS positive_ratio,
           (negative_count / total_reviews > 0.25 AND total_reviews > 10)
                                                                 AS is_review_bomb
    FROM agg
    """,
    doc="Per-key unbounded review-bomb detection (kafka-spark-configmap.yaml:79-92; "
    "threshold parameterized, reference default 0.8/10).",
)
def q_review_bomb(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return review_bomb(
        events,
        key_col="user_id",
        negative_col=F.col("event_type") == "error",
        quality_col="value",
        ratio_threshold=0.25,  # testdata error-rate ~20%; exercises both branches
        min_reviews=10,
    )


@register(
    "genre_distribution",
    oracle="""
    SELECT genre, count(*) AS total
    FROM (SELECT unnest(string_split(text, ' ')) AS genre FROM documents)
    GROUP BY genre
    """,
    headline=True,
    doc="explode + grouped count — the reference's flagship array op "
    "(kafka-spark-configmap.yaml:179-185); token array stands in for genres.",
)
def q_genre_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return explode_counts(docs, F.split(F.col("text"), " "), "genre")


@register(
    "top_genres",
    oracle="""
    SELECT genre, count(*) AS total
    FROM (SELECT unnest(string_split(text, ' ')) AS genre FROM documents)
    GROUP BY genre
    ORDER BY total DESC, genre ASC
    LIMIT 10
    """,
    doc="Top-10 genres by count (demo-queries.js:37-38; E1 sort-desc+limit). "
    "Deterministic tie-break on the group key.",
)
def q_top_genres(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = explode_counts(docs, F.split(F.col("text"), " "), "genre")
    return counts.orderBy(F.col("total").desc(), F.col("genre").asc()).limit(10)


@register(
    "player_windows",
    oracle="""
    SELECT time_bucket(INTERVAL 10 MINUTE, ts)                    AS window_start,
           time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE AS window_end,
           user_id,
           round(max(value), 6)                                   AS max_value,
           round(avg(value), 6)                                   AS avg_value,
           count(*)                                               AS n_samples
    FROM events
    GROUP BY 1, 2, 3
    """,
    headline=True,
    doc="10-minute tumbling windows per key with max/avg "
    "(kafka-spark-configmap.yaml:259-265).",
)
def q_player_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return activity_windows(
        events, ts_col="ts", key_col="user_id", value_col="value",
        window_duration="10 minutes",
    )


# ---------------------------------------------------------------------------
# Serving-layer queries (the Mongo aggregations, re-expressed: C7-C11, E1-E3,
# B6-B13)
# ---------------------------------------------------------------------------


@register(
    "peak_activity",
    oracle="""
    WITH w AS (
      SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS window_start,
             time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE AS window_end,
             user_id,
             max(value) AS max_value,
             round(avg(value), 6) AS avg_value
      FROM events GROUP BY 1, 2, 3
    )
    SELECT user_id,
           round(max(max_value), 6)   AS peak,
           round(CAST(sum(CAST(round(avg_value * 1000000) AS BIGINT)) AS BIGINT)
                 / count(*) / 1000000.0, 6) AS avg_active,
           count(*)                   AS total_windows,
           max(window_end)            AS latest
    FROM w GROUP BY user_id
    """,
    doc="Re-aggregation of the windowed table by key (demo-queries.js:98-110, C7): "
    "peak/avg/window-count/latest per key.  avg_active is computed as an "
    "EXACT integer sum of micro-unit inner averages (inner avg rounded to "
    "6dp, scaled to int64, summed, divided once): a float avg-of-avgs is "
    "summation-order-dependent — Spark itself returned different 6th "
    "decimals run-to-run at a half-boundary row, let alone vs DuckDB.  "
    "Integer summation is order-independent; the single final division is "
    "the same double op in both engines.",
)
def q_peak_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        events.groupBy(F.window("ts", "10 minutes").alias("w"), "user_id")
        .agg(
            F.max("value").alias("max_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    ).withColumn(
        "avg_micro", F.round(F.col("avg_value") * 1000000).cast("long")
    )
    return (
        w.groupBy("user_id")
        .agg(
            F.round(F.max("max_value"), 6).alias("peak"),
            F.round(
                F.sum("avg_micro") / F.count("*") / F.lit(1000000.0), 6
            ).alias("avg_active"),
            F.count("*").alias("total_windows"),
            F.max(F.col("w.end")).alias("latest"),
        )
    )


@register(
    "global_stats",
    oracle="""
    SELECT count(*)                        AS total_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users,
           round(sum(value), 6)            AS sum_value,
           round(avg(value), 6)            AS avg_value,
           round(max(value), 6)            AS max_value,
           min(ts)                         AS min_ts,
           max(ts)                         AS max_ts
    FROM events
    """,
    doc="Global scalar aggregates (demo-queries.js:197-207, C8/C10): "
    "_id:null style single-row rollup.",
)
def q_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.agg(
        F.count("*").alias("total_events"),
        F.countDistinct("user_id").alias("distinct_users"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


@register(
    "sentiment_summary",
    oracle="""
    SELECT CASE WHEN event_type <> 'error' THEN 'Positive' ELSE 'Negative' END
                                            AS sentiment,
           count(*)                         AS total_events,
           round(avg(value), 6)             AS avg_quality
    FROM events
    GROUP BY 1
    """,
    doc="Group-by-boolean sentiment rollup with CASE label "
    "(demo-queries.js:141-151 + :32; C9/B6).",
)
def q_sentiment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn(
            "sentiment",
            F.when(F.col("event_type") != "error", F.lit("Positive")).otherwise(
                F.lit("Negative")
            ),
        )
        .groupBy("sentiment")
        .agg(
            F.count("*").alias("total_events"),
            F.round(F.avg("value"), 6).alias("avg_quality"),
        )
    )


@register(
    "event_share",
    oracle="""
    WITH g AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
    SELECT event_type, n,
           round(100.0 * n / sum(n) OVER (), 6) AS pct
    FROM g
    """,
    doc="Percentage-of-total across groups (demo-queries.js:157-161, C11) via "
    "an unpartitioned window sum — replaces the reference's JS post-processing.",
)
def q_event_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    g = events.groupBy("event_type").agg(F.count("*").alias("n"))
    return g.select(
        "event_type",
        "n",
        F.round(F.lit(100.0) * F.col("n") / F.sum("n").over(Window.partitionBy()), 6).alias(
            "pct"
        ),
    )


@register(
    "recent_windows",
    oracle="""
    WITH w AS (
      SELECT date_trunc('hour', ts) AS window_start,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
             count(*) AS total_reviews
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M') || ' -> ' ||
           strftime(window_end,   '%Y-%m-%d %H:%M')  AS label,
           total_reviews
    FROM w
    ORDER BY window_start DESC
    LIMIT 10
    """,
    doc="Latest-10 windows with formatted label (demo-queries.js:22-39; "
    "E1/B9/B10: dateToString + concat + sort desc + limit).",
)
def q_recent_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("total_reviews"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "total_reviews",
        )
    )
    return (
        w.orderBy(F.col("window_start").desc())
        .limit(10)
        .select(
            F.concat(
                F.date_format("window_start", "yyyy-MM-dd HH:mm"),
                F.lit(" -> "),
                F.date_format("window_end", "yyyy-MM-dd HH:mm"),
            ).alias("label"),
            "total_reviews",
        )
    )


@register(
    "latest_event",
    oracle="""
    SELECT event_id, ts, user_id, event_type, round(value, 6) AS value
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 1
    """,
    doc="First/latest row (demo-queries.js:193-194, E3: findOne sorted desc). "
    "event_id tiebreak makes the single row deterministic.",
)
def q_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(1)
        .select("event_id", "ts", "user_id", "event_type",
                F.round("value", 6).alias("value"))
    )


@register(
    "props_json",
    oracle="""
    SELECT event_type,
           CAST(count(json_extract(props, '$.k')) AS BIGINT) AS n_with_k,
           CAST(min(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
           CAST(max(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k,
           round(avg(CAST(json_extract(props, '$.k') AS INTEGER)), 6) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    doc="JSON parse with explicit schema (A3/B16: from_json + StructType, "
    "kafka-spark-configmap.yaml:58-65) then aggregate on the extracted field.",
)
def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn("p", F.from_json("props", EVENT_PROPS_SCHEMA))
    return parsed.groupBy("event_type").agg(
        F.count("p.k").alias("n_with_k"),
        F.min("p.k").alias("min_k"),
        F.max("p.k").alias("max_k"),
        F.round(F.avg("p.k"), 6).alias("avg_k"),
    )


@register(
    "epoch_casts",
    oracle="""
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT)                 AS epoch_s,
           to_timestamp(CAST(floor(epoch(ts)) AS BIGINT))::TIMESTAMP AS ts_s,
           CAST(user_id AS VARCHAR)                         AS user_label
    FROM events
    """,
    doc="Timestamp casts both ways + int->string cast (B2/B3/B11: epoch-seconds "
    "<-> timestamp, kafka-spark-configmap.yaml:64,175; $toString appid).",
)
def q_epoch_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        epoch_seconds("ts").alias("epoch_s"),
        epoch_seconds("ts").cast("timestamp").alias("ts_s"),
        F.col("user_id").cast("string").alias("user_label"),
    )


# ---------------------------------------------------------------------------
# Joins the reference lacks (SURVEY.md §2.D) + TPC-H-ish benchmark classics
# ---------------------------------------------------------------------------


@register(
    "dim_join",
    oracle="""
    SELECT c.c_mktsegment                        AS segment,
           count(*)                              AS n_orders,
           round(sum(o.o_totalprice), 6)         AS revenue,
           round(avg(o.o_totalprice), 6)         AS avg_order
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    headline=True,
    doc="Equi-join of facts against a dimension — the appid->name "
    "join the reference works around (mongodb_dashboard.json:661,928; §2.D). "
    "No forced broadcast: customer grows with scale factor, so an explicit "
    "hint would override Spark's size check and OOM at 100x; AQE converts "
    "to broadcast at runtime whenever the dim side is actually small.",
)
def q_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 6).alias("revenue"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_order"),
        )
    )


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 6)                      AS sum_qty,
           round(sum(l_extendedprice), 6)                 AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
           round(avg(l_quantity), 6)                      AS avg_qty,
           round(avg(l_extendedprice), 6)                 AS avg_price,
           round(avg(l_discount), 6)                      AS avg_disc,
           count(*)                                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
    doc="TPC-H Q1-style pricing summary: the scan+partial-agg throughput "
    "benchmark. Filter pushed to parquet scan; single shuffle to 6 groups.",
)
def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            F.round(F.sum(disc_price), 6).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_top_revenue",
    oracle="""
    SELECT l.l_orderkey                                      AS orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
           o.o_orderdate                                     AS orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
      AND l.l_shipdate  > TIMESTAMP '1999-01-01'
    GROUP BY 1, 3
    ORDER BY revenue DESC, orderkey ASC
    LIMIT 10
    """,
    headline=True,
    doc="TPC-H Q3-style shipping priority: selective filters on both fact "
    "sides + top-k. Exercises join order & pushdown. The filtered customer "
    "side carries no broadcast hint — customer is unbounded in SF, so AQE's "
    "runtime size check decides (it picks broadcast at test scale; at 100x "
    "a forced hint would be the OOM).",
)
def q_q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("orderkey").asc())
        .limit(10)
        .select("orderkey", "revenue", "orderdate")
    )


@register(
    "q5_region_revenue",
    oracle="""
    SELECT n.n_name                                          AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey  = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
    GROUP BY 1
    """,
    headline=True,
    doc="TPC-H Q5-style multi-join rollup: 4 joins, 2 genuinely bounded dims "
    "(nation=25, region=5 rows — broadcast-hinted), one fact-fact shuffle "
    "join. The customer-derived side is NOT hinted: it scales with SF, so "
    "AQE decides broadcast vs shuffle from runtime stats.",
)
def q_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(dim, o.o_custkey == dim.c_custkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
    )


@register(
    "top_spenders",
    oracle="""
    SELECT c.c_custkey                      AS custkey,
           c.c_name                         AS name,
           count(*)                         AS n_orders,
           round(sum(o.o_totalprice), 6)    AS spend
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    ORDER BY spend DESC, custkey ASC
    LIMIT 10
    """,
    doc="Top-k after join+agg (E1 over the implied dim join): top-10 "
    "customers by total spend, deterministic tie-break. customer is "
    "unhinted (unbounded in SF) — AQE picks the join strategy.",
)
def q_top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 6).alias("spend"),
        )
        .orderBy(F.col("spend").desc(), F.col("custkey").asc())
        .limit(10)
    )


@register(
    "q14_promo_share",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                        THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1999-01-01'
      AND l.l_shipdate <  TIMESTAMP '1999-03-01'
    """,
    doc="TPC-H Q14-style promo revenue share: fact x part dimension with a "
    "conditional-sum ratio (B4/C4 over a join). part broadcasts; the "
    "lineitem date filter pushes to the scan.",
)
def q_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-03-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 6).alias("promo_pct")
        )
    )


@register(
    "supplier_nation_stats",
    oracle="""
    SELECT n.n_name AS nation,
           count(*) AS n_suppliers,
           round(avg(s.s_acctbal), 6) AS avg_balance,
           round(max(s.s_acctbal), 6) AS max_balance
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1
    """,
    doc="Supplier dimension rollup by nation (completes table coverage: "
    "every testdata table is now exercised by at least one oracle-backed "
    "query).",
)
def q_supplier_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.avg("s_acctbal"), 6).alias("avg_balance"),
            F.round(F.max("s_acctbal"), 6).alias("max_balance"),
        )
    )


@register(
    "q6_revenue_delta",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue_delta,
           count(*)                                    AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-01-01'
      AND l_shipdate <  TIMESTAMP '2000-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    headline=True,
    doc="TPC-H Q6-style selective scan+agg: every predicate pushes to the "
    "parquet reader, zero joins, one scalar row — pure scan throughput.",
)
def q_q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 6).alias(
                "revenue_delta"
            ),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "semi_join_orders",
    oracle="""
    SELECT o.o_orderpriority AS priority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY 1
    """,
    doc="LEFT SEMI join (EXISTS decorrelation, TPC-H Q4 shape) — a join "
    "type absent from the reference (§2.D): orders with at least one "
    "late-shipping line item, counted by priority.",
)
def q_semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    matched = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return matched.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").alias("n_orders")
    )


@register(
    "anti_join_customers",
    oracle="""
    SELECT c.c_mktsegment AS segment, count(*) AS n_no_big_order
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    GROUP BY 1
    """,
    doc="LEFT ANTI join (NOT EXISTS) — customers with no order above "
    "400k per segment; the inactive/absent-entity query shape every "
    "serving layer needs and the reference cannot express. (Every "
    "testdata customer has >=1 order, so the anti-join is against the "
    "filtered fact side to keep the check non-trivial.)",
)
def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    inactive = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return inactive.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_no_big_order")
    )


# ---------------------------------------------------------------------------
# Beyond-reference analytics (SURVEY.md §2.C note): window functions,
# grouping sets, exact percentiles — free capability from Spark, with oracles.
# ---------------------------------------------------------------------------


@register(
    "daily_user_rank",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, user_id,
             round(sum(value), 6) AS day_value
      FROM events GROUP BY 1, 2
    )
    SELECT day, user_id, day_value,
           CAST(row_number() OVER (PARTITION BY day ORDER BY day_value DESC, user_id ASC)
                AS INTEGER)        AS rnk
    FROM d
    QUALIFY rnk <= 3
    """,
    doc="Analytic window function (row_number per partition) — top-3 users "
    "per day. Beyond-reference: Mongo layer had no rank capability.",
)
def q_daily_user_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    d = (
        events.groupBy(F.date_trunc("day", "ts").alias("day"), "user_id")
        .agg(F.round(F.sum("value"), 6).alias("day_value"))
    )
    win = Window.partitionBy("day").orderBy(
        F.col("day_value").desc(), F.col("user_id").asc()
    )
    return (
        d.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "rollup_orders",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')    AS status,
           coalesce(o_orderpriority, 'ALL')  AS priority,
           count(*)                          AS n,
           round(sum(o_totalprice), 6)       AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP grouping-sets aggregate — beyond-reference (SURVEY §2.C "
    "notes cube/rollup absent from reference).",
)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 6).alias("revenue"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "revenue",
        )
    )


@register(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           round(CAST(percentile_cont(0.5)  WITHIN GROUP (ORDER BY value) AS DOUBLE), 6) AS p50,
           round(CAST(percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS DOUBLE), 6) AS p95
    FROM events
    GROUP BY event_type
    """,
    doc="Exact percentiles per group — beyond-reference. (At 100TB you'd "
    "switch to percentile_approx; exact version is oracle-comparable.)",
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
    )
