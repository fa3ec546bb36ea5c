"""Plan-shape and robustness assertions beyond value correctness.

Covers the round-1 verdict items: no forced broadcast of unbounded
relations (AQE must still pick broadcast at test scale), the Kafka
reader's full option surface (testable without a broker), and the
fingerprint aggregate staying bounded on pathologically long documents.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from bigdata_20251_steam_spark.functions.hashing import HASH_PRIME
from bigdata_20251_steam_spark.operators.text_analysis import fingerprints
from bigdata_20251_steam_spark.plans import QUERIES
from bigdata_20251_steam_spark.sources.kafka import kafka_options

from .conftest import SF_SMOKE

# ---------------------------------------------------------------------------
# Broadcast-hint hygiene (VERDICT r1 "What's wrong" #3)
# ---------------------------------------------------------------------------

# query -> number of ResolvedHints its plan is ALLOWED to carry (hints only
# on genuinely bounded dims: nation=25 rows, region=5 rows).  customer /
# customer-derived sides must carry none — they grow with scale factor, and
# a forced hint overrides Spark's size check (OOM at 100x).
_HINT_BUDGET = {
    "dim_join": 0,
    "q3_top_revenue": 0,
    "q5_region_revenue": 2,  # nation + region only
    "top_spenders": 0,
}


def _analyzed_plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_forced_broadcast_of_unbounded_relations(spark):
    for name, budget in _HINT_BUDGET.items():
        df = QUERIES[name].fn(spark, SF_SMOKE)
        n_hints = _analyzed_plan(df).count("ResolvedHint")
        assert n_hints == budget, (
            f"{name}: expected {budget} broadcast hints (bounded dims only), "
            f"found {n_hints} — unbounded relations must not be force-broadcast"
        )


def test_aqe_still_broadcasts_small_sides_at_test_scale(spark):
    # with the hints gone, AQE's runtime size check should still convert the
    # (tiny at sf0.001) customer sides to broadcast joins
    for name in _HINT_BUDGET:
        df = QUERIES[name].fn(spark, SF_SMOKE)
        df.collect()  # drive AQE to its final plan
        final = _final_plan(df)
        assert "BroadcastHashJoin" in final, (
            f"{name}: AQE did not pick a broadcast join at test scale:\n{final[:2000]}"
        )


# ---------------------------------------------------------------------------
# Kafka option surface (VERDICT r1 "Next round" #5)
# ---------------------------------------------------------------------------


def test_kafka_options_plain():
    opts = kafka_options("b1:9092,b2:9092", "steam-reviews")
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "steam-reviews",
        "startingOffsets": "earliest",
    }


def test_kafka_options_ssl_and_extras():
    # the reference's SSL truststore shape (kafka-spark-configmap.yaml:46-53)
    # plus a throughput cap, exactly as a real deployment would set them
    opts = kafka_options(
        "broker:9093",
        "steam-players",
        starting_offsets="latest",
        ssl_truststore="/etc/kafka/truststore.jks",
        ssl_password="secret",
        extra_options={"maxOffsetsPerTrigger": "10000", "minPartitions": "64"},
    )
    assert opts["kafka.security.protocol"] == "SSL"
    assert opts["kafka.ssl.truststore.location"] == "/etc/kafka/truststore.jks"
    assert opts["kafka.ssl.truststore.password"] == "secret"
    assert opts["startingOffsets"] == "latest"
    assert opts["maxOffsetsPerTrigger"] == "10000"
    assert opts["minPartitions"] == "64"


def test_kafka_options_extra_overrides_default():
    opts = kafka_options(
        "b:9092", "t", extra_options={"startingOffsets": "latest"}
    )
    assert opts["startingOffsets"] == "latest"


# ---------------------------------------------------------------------------
# Fingerprint overflow guard (ADVICE r1: >65k-token documents)
# ---------------------------------------------------------------------------


def _md5_long_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_fingerprint_long_document_no_overflow(spark):
    # 70k tokens: a raw running sum of i*(H mod P) terms would exceed int64
    # (~2^63) around 65k tokens; the mod-inside-merge form must not wrap.
    n = 70_000
    tokens = [f"w{i % 97}" for i in range(n)]
    doc = spark.createDataFrame(
        [(1, " ".join(tokens))], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["fingerprint"] for r in fingerprints(doc).collect()}
    expect = (
        sum((i + 1) * (_md5_long_py(w) % HASH_PRIME) for i, w in enumerate(tokens))
        % HASH_PRIME
    )
    assert got[1] == expect
    assert 0 <= got[1] < HASH_PRIME


def test_fingerprint_short_document_parity(spark):
    doc = spark.createDataFrame(
        [(7, "alpha beta gamma")], "doc_id long, text string"
    )
    got = fingerprints(doc).collect()[0]["fingerprint"]
    expect = (
        sum(
            (i + 1) * (_md5_long_py(w) % HASH_PRIME)
            for i, w in enumerate(["alpha", "beta", "gamma"])
        )
        % HASH_PRIME
    )
    assert got == expect


# ---------------------------------------------------------------------------
# Plan shapes of the round-2 relational extensions
# ---------------------------------------------------------------------------


def test_range_join_plans_as_equi_join(spark):
    """The binned formulation must NOT fall back to a nested-loop join."""
    df = QUERIES["interval_event_counts"].fn(spark, SF_SMOKE)
    df.collect()
    final = _final_plan(df)
    assert "NestedLoop" not in final and "CartesianProduct" not in final, (
        f"range join degenerated to a nested loop:\n{final[:2000]}"
    )
    assert "HashJoin" in final  # equi-join on the bucket id


def test_asof_join_single_window_exchange(spark):
    """asof = one window over the union — no join operator, no explosion."""
    df = QUERIES["asof_join_last_good"].fn(spark, SF_SMOKE)
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in final
    # the only join-free formulation: no Join node anywhere in the plan
    assert "Join" not in final, f"asof should be join-free:\n{final[:2000]}"


# ---------------------------------------------------------------------------
# Plan shapes of the round-4 additions
# ---------------------------------------------------------------------------


def test_asof_nearest_single_sort(spark):
    """nearest computes BOTH window frames over one sort: a second sort
    (Exchange+Sort pair per direction) would double the shuffle cost."""
    df = QUERIES["asof_join_nearest"].fn(spark, SF_SMOKE)
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in final  # still the join-free union formulation
    # both frames share the window spec ordering => exactly one Sort
    # above the union's exchange feeds both Window operators
    n_sorts = final.count("Sort [")
    assert n_sorts <= 2, f"nearest re-sorts per frame:\n{final[:2000]}"


def test_scd_asof_enrich_plans_as_hash_join(spark):
    """key equality must be extracted as the join key (hash join) with
    the interval bounds as residual — not a nested loop over intervals."""
    from bigdata_20251_steam_spark.operators.relational_ext import (
        scd_asof_enrich,
    )
    from bigdata_20251_steam_spark.sources.batch import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    good = (
        ev.filter(F.col("event_type") != "error")
        .groupBy("user_id", F.col("ts").alias("valid_from"))
        .agg(F.max("value").alias("value"))
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    df = scd_asof_enrich(
        err, good, key="user_id", fact_ts="ts",
        valid_from="valid_from", value_cols=("value",),
    )
    df.collect()
    final = _final_plan(df)
    assert "NestedLoop" not in final and "CartesianProduct" not in final
    assert "HashJoin" in final or "SortMergeJoin" in final


def test_contamination_train_side_not_broadcast(spark):
    """The train gram set grows with the corpus — it must never carry a
    broadcast HINT (AQE may still choose broadcast at toy scale; the
    assertion is on the logical plan's hints, like the dim-join tests)."""
    df = QUERIES["cross_split_contamination"].fn(spark, SF_SMOKE)
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "hints=[broadcast" not in logical


# ---------------------------------------------------------------------------
# Round-5 training-prep operators: plan shapes
# ---------------------------------------------------------------------------


def test_chunk_documents_plans_shuffle_free(spark):
    # tokenize -> sequence -> explode -> slice must fuse into the scan: the
    # only allowed Exchange is spread_partitions' explicit
    # REPARTITION_BY_NUM (a local-test parallelism floor, no-op at scale) —
    # never a key shuffle introduced by the operator itself
    df = QUERIES["doc_chunks"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    import re

    exchanges = re.findall(r"Exchange [^\n]*", plan)
    assert all("REPARTITION_BY_NUM" in e for e in exchanges), (
        f"doc_chunks plans a key shuffle:\n{plan}"
    )


def test_chunk_documents_giant_doc_bounded_amplification(spark):
    # one 50k-token doc: explode amplification must be n_tokens/stride,
    # and every token lands in ceil(chunk/stride) chunks
    from bigdata_20251_steam_spark.operators.text_analysis import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(50_000)))],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_size=64, stride=48)
    agg = out.groupBy().agg(
        F.count("*").alias("n_chunks"), F.sum("n_tokens").alias("tok_slots")
    ).collect()[0]
    import math

    assert agg["n_chunks"] == math.ceil(50_000 / 48)
    # every chunk except the short tail carries exactly chunk_size tokens
    assert agg["tok_slots"] == (agg["n_chunks"] - 1) * 64 + (50_000 - (agg["n_chunks"] - 1) * 48)


def test_epoch_shuffle_sharded_plans_range_partitioning(spark):
    from bigdata_20251_steam_spark.operators.sampling import epoch_shuffle

    docs = spark.range(1000).select(F.col("id").alias("doc_id"))
    plan = _final_plan(epoch_shuffle(docs, "doc_id", epoch=0, n_shards=4))
    assert "rangepartitioning" in plan.lower(), plan
    assert plan.lower().count("exchange") == 1, (
        f"sharded epoch_shuffle should cost exactly one range exchange:\n{plan}"
    )


def test_hll_rollup_partial_aggregation(spark):
    # the sketch agg must run map-side partials (the whole point of a
    # mergeable sketch: executors sketch locally, the shuffle carries
    # fixed-size sketch buffers, the reduce side merges)
    from bigdata_20251_steam_spark.operators.sketches import hll_sketches

    ev = QUERIES["hll_user_rollup"].fn.__globals__["load_table"](
        spark, SF_SMOKE, "events"
    )
    plan = _final_plan(hll_sketches(ev, "event_type", "user_id"))
    # two HashAggregate/ObjectHashAggregate nodes (partial + final) around
    # exactly one exchange on the group key
    n_agg = plan.count("HashAggregate")
    assert n_agg >= 2, f"expected partial+final aggregate pair:\n{plan}"
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_segment_dedup_two_key_exchanges(spark):
    """dedupe_segments (r6) must plan exactly its two designed shuffles —
    the content-key window partition and the doc-id reassembly/join — and
    the window keys must be the compact hash pair, never segment text."""
    df = QUERIES["segment_dedup"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    import re

    exchanges = [e for e in re.findall(r"Exchange [^\n]*", plan)
                 if "REPARTITION_BY_NUM" not in e]
    # hashpartitioning on (_h1, _h2) for the window + doc_id exchanges for
    # count/rebuild/join; no broadcast of the corpus, no text-keyed shuffle
    assert any("_h1" in e and "_h2" in e for e in exchanges), plan
    assert not any("seg#" in e for e in exchanges), (
        f"segment text used as a shuffle key:\n{exchanges}"
    )


def test_two_phase_sampler_guard_sides_broadcast(spark):
    """The hot-group prefilter's guard joins must broadcast only the tiny
    short-group list, never the corpus side."""
    from bigdata_20251_steam_spark.operators.sampling import sample_n_per_group

    docs = QUERIES["source_capped_sample"].fn  # registered fn uses guard
    df = docs(spark, SF_SMOKE)
    plan = _analyzed_plan(df)
    # the only explicit hints are the two F.broadcast(short) guard sides
    assert plan.count("UnresolvedHint BROADCAST") <= 2 or (
        plan.count("ResolvedHint") <= 2
    ), plan


def _logical_leaves(df) -> dict:
    """Leaf node-name counts of the OPTIMIZED logical plan.

    Cache-substituted subtrees appear as single ``InMemoryRelation``
    leaves here, whereas the executed-plan string re-prints the whole
    cached lineage inside every ``InMemoryTableScan`` — counting
    ``FileScan`` in that string overstates the plan's real reads.
    """
    from collections import Counter

    lv = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return dict(Counter(lv.apply(i).nodeName() for i in range(lv.size())))


def test_quality_window_queries_cold_single_scan(spark):
    """COLD contract (hot_threshold=None, the default single-window
    plan): quality_quantile_filter / curriculum_order compute the
    quality score INLINE — one corpus scan, one group-key exchange; a
    self-join back onto the quality projection (2 scans + a doc_id
    exchange) is the r6 regression this pins against.  Nothing may be
    left persisted (the cold path must not pay the hot path's cache)."""
    import re

    from bigdata_20251_steam_spark.operators.sampling import curriculum_order
    from bigdata_20251_steam_spark.operators.text_analysis import (
        quality_quantile_filter,
    )
    from bigdata_20251_steam_spark.sources.batch import load_table

    # hot-path tests legitimately leave the narrow rank input cached;
    # CacheManager matches by analyzed plan, so the cold plan would
    # pick that cache up and fail the no-cache assertion purely from
    # test ordering — clear first (caches rebuild on demand)
    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMOKE, "documents")
    for df in (
        quality_quantile_filter(docs, keep_fraction=0.5),
        curriculum_order(docs, n_bins=10, epoch=0),
    ):
        plan = _final_plan(df)
        assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
        assert len(re.findall(r"Exchange", plan)) == 1, plan
        assert "InMemoryTableScan" not in plan, plan


def test_quality_window_queries_hot_banded_cached_input(spark):
    """HOT contract (the registered queries pass hot_threshold=10,
    engaging the r7 banded rank splitter): the RETURNED plan's only
    leaves are InMemoryRelation references to the persisted narrow rank
    input — the corpus parquet was read exactly once, by the eager
    hot-detection / pool-materialization job that doubled as cache
    population.  Re-expanding the score lineage per banded pass (the
    40-FileScan plan the r7 two-phase filter compiled to) is the
    regression this pins against."""
    for name in (
        "quality_quantile_filter",
        "curriculum_order",
        "quality_threshold_filter",
    ):
        df = QUERIES[name].fn(spark, SF_SMOKE)
        leaves = _logical_leaves(df)
        assert set(leaves) == {"InMemoryRelation"}, (name, leaves)
        # 3 banded passes + the offsets subtree — bounded, not lineage-
        # exploded (the broken shape had dozens of relation leaves)
        assert leaves["InMemoryRelation"] <= 6, (name, leaves)


def test_lm_scorer_pass2_shuffle_free(spark):
    """unigram_lm_scores' scoring pass (r6): the vocabulary rides the plan
    as a map literal, so the returned frame must be a single-scan, zero-
    exchange narrow projection (pass 1's vocab jobs already ran eagerly at
    construction time)."""
    import re

    df = QUERIES["unigram_lm_scores"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    assert "Exchange" not in plan, f"LM scoring pass shuffles:\n{plan}"


def test_bloom_inline_probe_no_probe_side_shuffle(spark):
    """bloom_might_contain(inline=True) (r6): membership is a literal-map
    lookup, so the probe corpus must not shuffle and must not join — the
    only exchanges allowed in the registered query's plan belong to the
    final per-source aggregate and the tiny members broadcast."""
    import re

    from bigdata_20251_steam_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
    )
    from bigdata_20251_steam_spark.sources.batch import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 7).select("text").distinct()
    filt = bloom_build(bench, "text", m_bits=8192, k=3)
    probed = bloom_might_contain(filt, docs, "text", m_bits=8192, k=3,
                                 inline=True)
    plan = _final_plan(probed)
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    assert "Exchange" not in plan and "Join" not in plan, (
        f"inline bloom probe is not a narrow projection:\n{plan}"
    )


def test_cms_build_bounded_aggregate_shape(spark):
    """cms_build (r6): partial+final aggregate pair around exactly one
    exchange on (d, col) — the map-side combine that bounds the shuffle by
    the sketch size, the same contract as the HLL rollup."""
    from bigdata_20251_steam_spark.operators.sketches import cms_build
    from bigdata_20251_steam_spark.sources.batch import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    occ = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w")
    )
    plan = _final_plan(cms_build(occ, "w", width=64, depth=3))
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_temperature_resample_corpus_never_shuffles(spark):
    """temperature_resample (r6): the corpus side must reach the output
    through a broadcast join + filter only — every hashpartitioning
    exchange in the plan must sit on the tiny counts/rates subtree (keyed
    by the group column), never on corpus rows."""
    import re

    from bigdata_20251_steam_spark.operators.sampling import (
        temperature_resample,
    )
    from bigdata_20251_steam_spark.sources.batch import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    kept = temperature_resample(docs, "source", "doc_id", target_rows=100)
    plan = _final_plan(kept)
    assert "BroadcastHashJoin" in plan, plan
    shuffles = [e for e in re.findall(r"Exchange hashpartitioning[^\n]*", plan)]
    assert all("source" in e for e in shuffles), (
        f"corpus-keyed shuffle in temperature_resample:\n{shuffles}"
    )


def test_winnow_fingerprints_shuffle_free(spark):
    # shingle-hash + window-min selection are per-doc array lambdas: the
    # only allowed Exchange is spread_partitions' parallelism floor
    import re

    df = QUERIES["winnow_fingerprints"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    exchanges = re.findall(r"Exchange [^\n]*", plan)
    assert all("REPARTITION_BY_NUM" in e for e in exchanges), (
        f"winnow_fingerprints plans a key shuffle:\n{plan}"
    )


def test_normalize_text_narrow_map(spark):
    # NFC pandas_udf + JVM lower/trim/collapse must stay one narrow map
    # stage: Arrow eval node present, no key shuffle
    import re

    df = QUERIES["normalize_text"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan, plan
    exchanges = re.findall(r"Exchange [^\n]*", plan)
    assert all("REPARTITION_BY_NUM" in e for e in exchanges), (
        f"normalize_text plans a key shuffle:\n{plan}"
    )


def test_cross_doc_span_dedup_shuffles_hashes_not_gram_text(spark):
    """cross_doc_span_dedup (r9 hot-gram-guarded shape): the global gram
    comparison must travel as the 128-bit xxhash64 pair — every hash
    exchange in the plan is keyed by (_h1, _h2) or doc_id, never by the
    gram text.  The corpus is scanned at most three times: the occurrence
    pass feeds BOTH the per-gram min_by aggregate and the join probe as
    separate subtrees — deliberate, because the natural
    ENSURE_REQUIREMENTS shuffles keep the join eligible for AQE's
    OptimizeSkewedJoin (a pre-repartition-for-exchange-reuse shape would
    pin REPARTITION origin and forfeit skew splitting) — plus the
    rebuild join scan.  No lineage re-expansion beyond that, and no
    window over the gram key (the r8 single-task hot-gram sort)."""
    import re

    df = QUERIES["cross_doc_span_dedup"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    exchanges = [
        e
        for e in re.findall(r"Exchange hashpartitioning[^\n]*", plan)
    ]
    assert any("_h1" in e and "_h2" in e for e in exchanges), plan
    for e in exchanges:
        assert "_h1" in e or "doc_id" in e, (
            f"unexpected exchange key (gram text?):\n{e}"
        )
    assert len(re.findall(r"FileScan parquet", plan)) <= 3, plan
    # the hot-gram guard: first-occurrence flagging must be an
    # aggregate (map-side partial collapse), never a window sort over
    # the gram hash key
    assert not re.search(r"Window \[[^\n]*_h1", plan), (
        f"per-gram window reintroduced (hot-gram skew hazard):\n{plan}"
    )


def test_nb_classifier_scoring_shuffle_free(spark):
    """nb_classifier_scores (r8): the pinned weights ride as a map
    literal, so the scoring pass must be a single-scan, zero-exchange
    narrow projection — the unigram-LM pass-2 contract."""
    import re

    df = QUERIES["nb_classifier_scores"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    assert "Exchange" not in plan, f"NB scoring pass shuffles:\n{plan}"


def test_bm25_scoring_shuffle_free(spark):
    """bm25_scores (r9): the pinned statistics ride as literals, so the
    scoring pass must be a single-scan, zero-exchange narrow projection
    — the NB-scoring / unigram-LM pass-2 contract."""
    import re

    df = QUERIES["bm25_scores"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    assert "Exchange" not in plan, f"BM25 scoring pass shuffles:\n{plan}"


def test_leakage_safe_split_no_nested_loop(spark):
    """leakage_safe_split (r9) composes minhash -> LSH pairs -> closure
    -> rep hash split; the composition must not introduce a cartesian
    or nested-loop join (the all-pairs shape the banded machinery
    exists to avoid), and the split projection itself adds no new
    corpus scan beyond the audited dedup subtrees."""
    df = QUERIES["leakage_safe_split"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_curation_v2_single_lineage_expansion(spark):
    """curation_v2_end_to_end (r8; bound updated for the r9 hot-gram
    guard): the dataset-card tail must be ONE aggregation chain over
    the survivor subtree — the two-branch card formulation re-expanded
    the whole span-dedup pipeline per branch (6 scans); this pins the
    single-expansion shape (<= 4 scans: the span occurrence pass feeds
    the per-gram min_by aggregate AND the join probe as separate
    subtrees — the deliberate price of keeping both shuffles
    ENSURE_REQUIREMENTS-origin so AQE can skew-split a hot gram — plus
    the rebuild join and the source/lang join) and the card's
    zero-join tail."""
    import re

    df = QUERIES["curation_v2_end_to_end"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert len(re.findall(r"FileScan parquet", plan)) <= 4, plan
    # exactly one (source, lang) pre-aggregate exchange feeds the card
    assert len(re.findall(r"Exchange hashpartitioning\(source#\d+, lang#", plan)) == 1, plan


def test_pagerank_lineage_cut_and_natural_shuffles(spark):
    """dedup_graph_pagerank (r10): two pins.

    (1) LINEAGE CUT: without per-round checkpointing the 3-iteration
    plan re-inlined the LSH pair pipeline per iteration — measured 56
    parquet scans (the r7 banded-rank 40-scan incident, reproduced).
    With the connected_components-style cut, the final plan reads
    checkpointed blocks: ZERO parquet scans may remain.

    (2) NATURAL SHUFFLES in the iteration step: the contrib join +
    partial-sum aggregate (built here pre-cut on an in-memory graph)
    must contain no REPARTITION-origin exchange, cartesian, or
    nested-loop fallback, so AQE can skew-split a hot hub key."""
    import re

    from bigdata_20251_steam_spark.operators.dedup import pagerank

    df = QUERIES["dedup_graph_pagerank"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert len(re.findall(r"FileScan parquet", plan)) == 0, plan
    assert "CartesianProduct" not in plan, plan

    # isolate ONE un-cut iteration step: edges/deg/rank as in-memory
    # frames, the same join + aggregate expressions the loop builds
    verts = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    from pyspark.sql import functions as F2

    edges = pairs.select(
        F2.col("doc_a").alias("src"), F2.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F2.col("doc_b").alias("src"), F2.col("doc_a").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F2.count(F2.lit(1)).alias("deg"))
    e = edges.join(deg, "src")
    pr = verts.select("doc_id", F2.lit(100000).cast("long").alias("pr"))
    step = (
        e.join(pr, e.src == pr.doc_id)
        .select(F2.col("dst"), F2.expr("pr DIV deg").alias("c"))
        .groupBy("dst")
        .agg(F2.sum("c").alias("contrib"))
    )
    step_plan = _final_plan(step)
    assert "REPARTITION" not in step_plan, step_plan
    assert "CartesianProduct" not in step_plan, step_plan
    assert "BroadcastNestedLoopJoin" not in step_plan, step_plan


def test_dsir_weight_scoring_shuffle_free(spark):
    """dsir importance weighting (r10): the pinned lambda table rides
    as a map literal, so the weighting pass must be a single-scan,
    zero-exchange narrow projection — the NB-scoring / BM25 contract."""
    import re

    from bigdata_20251_steam_spark.operators.selection import (
        dsir_importance_weights,
    )
    from bigdata_20251_steam_spark.plans.extension_queries import (
        _DSIR_BUCKETS,
        _DSIR_MODEL,
    )
    from bigdata_20251_steam_spark.sources.batch import load_table

    df = dsir_importance_weights(
        load_table(spark, SF_SMOKE, "documents"), _DSIR_MODEL, _DSIR_BUCKETS
    )
    plan = _final_plan(df)
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    assert "Exchange" not in plan, f"DSIR weighting pass shuffles:\n{plan}"


def test_dsir_selection_banded_not_global(spark):
    """dsir_selection (r10): the budget cut must go through the banded
    global rank — every window partitioned by the band (no
    partition-less corpus-wide sort task), no cartesian/nested-loop,
    and the three-scan banded_percent_rank contract (edges / band
    counts / rank) over the narrow score projection."""
    import re

    df = QUERIES["dsir_selection"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan, plan
    # the constant-group banded rank folds its literal join keys, so
    # the edges/offsets joins degrade to nested loops over broadcast
    # sides of <= n_bands+1 rows (the user_value_quartiles shape,
    # whitelisted with that reason in tools/plan_audit.py) — bounded count,
    # never against the corpus side
    assert len(re.findall(r"BroadcastNestedLoopJoin", plan)) <= 2, plan
    for line in plan.splitlines():
        if re.search(r"\bWindow \[", line):
            assert "_band" in line, (
                f"partition-less window in the selection cut:\n{line}\n{plan}"
            )
    # edges aggregate + the banded frame re-inlined in the band-count
    # and ranking passes = 4 scans of the narrow (doc_id, text)
    # projection — the documented banded_percent_rank multi-scan
    # contract over a persist-free bare-scan lineage (scan-bound; the
    # audit's lineage-re-expansion bound is 8)
    assert len(re.findall(r"FileScan parquet", plan)) <= 4, plan


def test_pq_encode_shuffle_free(spark):
    """pq_encode (r10): the codebooks ride as literals, so encoding is
    a single-scan narrow projection — the NB/BM25/DSIR scoring
    contract (this is the pass that runs over the whole 100 TB corpus
    at write time).  r17: the only allowed Exchange is
    spread_partitions' parallelism-floor round-robin (fires only when
    the scan is narrower than the session's cores; a no-op at real
    scale) — no hash exchange, no key shuffle."""
    import re

    from bigdata_20251_steam_spark.operators.similarity import pq_encode
    from bigdata_20251_steam_spark.plans.extension_queries import (
        _PQ_CODEBOOKS,
    )
    from bigdata_20251_steam_spark.sources.batch import load_table

    df = pq_encode(load_table(spark, SF_SMOKE, "embeddings"), _PQ_CODEBOOKS)
    plan = _final_plan(df)
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    exchanges = re.findall(r"Exchange [^\n]*", plan)
    assert all("REPARTITION_BY_NUM" in e for e in exchanges), (
        f"PQ encode shuffles beyond the parallelism floor:\n{plan}"
    )


def test_pq_search_corpus_never_shuffles(spark):
    """pq_search_rerank (r10): in both stages the corpus side must
    stay broadcast-joined (queries onto the ADC scan; shortlist +
    queries onto the re-rank scan) — every Exchange in the plan is a
    window/rank exchange over already-pruned rows, never a
    hashpartitioning of the corpus relation itself, and all joins
    build on the broadcast (bounded) side."""
    import re

    df = QUERIES["pq_search_rerank"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan, plan
    # the non-equi query broadcast (vec_id <> query_id) is the
    # embed_topk BNLJ shape, whitelisted in tools/plan_audit.py
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            raise AssertionError(
                f"corpus-side shuffle join in PQ search:\n{line}\n{plan}"
            )
    # every hash exchange must be a rank-stage exchange (query_id /
    # salt keys), never the corpus relation's own columns
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "query_id" in line, (
                f"non-rank corpus exchange in PQ search:\n{line}\n{plan}"
            )


def test_hard_negative_pairs_plan(spark):
    """hard_negative_pairs (r10): the corpus scoring pass must join the
    query frame by BROADCAST (the non-equi BNLJ is whitelisted in
    tools/plan_audit.py), never a cartesian; the closure subtrees are
    lineage-cut (checkpointed), so the executed plan's real scan count
    stays inside the audit bound."""
    df = QUERIES["hard_negative_pairs"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan, plan
    import re

    assert len(re.findall(r"BroadcastNestedLoopJoin", plan)) <= 1, plan


def test_logreg_scoring_shuffle_free(spark):
    """logreg scoring (r10): fixed weights ride as a map literal +
    sigmoid array literal, so the pass must be a single-scan,
    zero-exchange narrow projection — the NB/BM25/DSIR contract."""
    import re

    from bigdata_20251_steam_spark.operators.classifier import logreg_scores
    from bigdata_20251_steam_spark.sources.batch import load_table

    df = logreg_scores(
        load_table(spark, SF_SMOKE, "documents"),
        {3: 120000, 17: -90000},
        -1500,
        n_buckets=64,
    )
    plan = _final_plan(df)
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    assert "Exchange" not in plan, f"logreg scoring pass shuffles:\n{plan}"


def test_dedup_quality_report_plan(spark):
    """dedup_quality_report (r10): the only nested loops are the
    single-row aggregate crossJoins (whitelisted _ONE_ROW shape); no
    cartesian over corpus-sized relations; and the cand/truth
    localCheckpoint cuts hold — the audit's first live catch was this
    operator's uncut form re-inlining the minhash/postings pipelines
    to 14 real scans, so the final plan must read checkpointed blocks
    plus exactly the two narrow shingle-projection scans."""
    import re

    df = QUERIES["dedup_quality_report"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"BroadcastNestedLoopJoin", plan)) <= 2, plan
    assert len(re.findall(r"FileScan parquet", plan)) <= 2, plan


def test_count_real_scans_sees_subquery_scans(spark, tmp_path):
    """r11 (ADVICE): the lineage-re-expansion counter recurses into
    subquery expressions — a scalar subquery executes its own subtree,
    so a re-inlined lineage hiding inside one must count toward
    SCAN_BOUND.  Clone references to the SAME subquery (Catalyst
    pushes the filter copy into the scan) dedupe by semanticHash: the
    subquery executes once, so it counts once."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo")
    from tools.plan_audit import count_real_scans

    p = str(tmp_path / "t")
    spark.range(10).toDF("x").write.parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("_crs_probe")
    q = spark.sql(
        "select x from _crs_probe "
        "where x > (select avg(x) from _crs_probe)"
    )
    jp = q._jdf.queryExecution().executedPlan()
    # 1 main scan + the subquery's scan (counted ONCE though the
    # expression is referenced at both the Filter and the pushed scan)
    assert count_real_scans(jp) == 2
    plain = spark.read.parquet(p)._jdf.queryExecution().executedPlan()
    assert count_real_scans(plain) == 1


def test_ivfadc_corpus_never_shuffles(spark):
    """ivfadc_search (r11): same contract as pq_search_rerank — the
    corpus side stays broadcast-joined in every stage (query+probe
    frame onto the cell-filtered ADC scan; shortlist + queries onto
    the re-rank scan); every hash exchange is a rank-stage exchange
    over already-pruned rows, never a hashpartitioning of the corpus
    relation itself.  The assign/encode/decode pass must stay
    scan-fused (no exchange before the ADC join)."""
    df = QUERIES["ivfadc_search"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            raise AssertionError(
                f"corpus-side shuffle join in IVFADC search:\n{line}\n{plan}"
            )
        if "Exchange hashpartitioning" in line:
            assert "query_id" in line, (
                f"non-rank corpus exchange in IVFADC search:\n{line}\n{plan}"
            )


def test_mmr_greedy_single_bounded_aggregation(spark):
    """mmr_diverse_topk (r12): the MMR greedy must run INSIDE one
    bounded groupBy(query_id) aggregation — the only exchanges are the
    shortlist's salted rank stages and the final query_id
    hashpartitioning of |queries| x shortlist rows; the k unrolled
    selection steps add NO join, NO extra shuffle and NO lineage
    re-expansion (CollapseProject must keep the multiply-referenced
    _sel alias un-inlined, so the corpus is scanned once)."""
    import re

    df = QUERIES["mmr_diverse_topk"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan, plan
    # one corpus scan only: the greedy steps must not re-expand lineage
    assert len(re.findall(r"FileScan parquet", plan)) <= 2, plan
    # no join after the aggregation that collects the shortlist: every
    # join line in the plan belongs to the shortlist scoring stage
    # (BroadcastNestedLoopJoin of the 10-row query frame, whitelisted)
    joins = [
        line for line in plan.splitlines()
        if "Join" in line and "BroadcastNestedLoopJoin" not in line
    ]
    assert not joins, "\n".join(joins)


def test_ivfadc_topk_frame_equi_only(spark):
    """ivfadc_topk_frame (r12, the streaming adjudication tier): the
    query set is an UNBOUNDED frame (flag volume scales with ingest),
    so nothing about it may broadcast or nest-loop — probe routing
    must EXPLODE each query's nprobe cells and equi-join the decoded
    snapshot on cell == cluster, and the re-rank joins must be plain
    equi joins.  No BroadcastNestedLoopJoin, no CartesianProduct, and
    no broadcast whose build side is the query/shortlist lineage."""
    from bigdata_20251_steam_spark.operators import similarity as sim
    from bigdata_20251_steam_spark.plans.extension_queries import (
        _IVFADC_CENTS,
        _IVFADC_CODEBOOKS,
    )
    from bigdata_20251_steam_spark.sources.batch import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ids = emb.select("vec_id").filter("vec_id % 50 = 0")
    df = sim.ivfadc_topk_frame(
        emb, _IVFADC_CENTS, _IVFADC_CODEBOOKS, ids, k=3, nprobe=4,
        shortlist=10,
    )
    plan = _final_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_derived_cluster_join_no_inferred_heavy_filter(spark):
    """Optimization r17 (section 11): a join keyed on a DERIVED
    ``cluster`` column makes Catalyst infer ``IsNotNull(cluster)``
    and push the substituted coarse-assignment expression below the
    parallelism-floor repartition — re-running the heaviest per-row
    arithmetic serially in the scan stage AND again post-exchange.
    ``_nn_join_cluster`` (coalesce to -1) makes the key non-nullable
    so the inferred predicate constant-folds away.  Pin the shape: on
    the CORPUS side (any Filter without the query frame's bounded
    ``vec_id IN (...)`` pushdown), no Filter may contain the
    assignment chain (an ``array_min(transform`` /
    ``array_sort(transform`` over the centroid subquery).  The
    query-frame scan keeps its chain legally: its ``IN`` conjunct
    evaluates first, so the arithmetic touches |queries| rows."""
    for name in ("ivfadc_search", "ivfadc_nprobe_sweep",
                 "ivf_recall_vs_exact"):
        plan = _final_plan(QUERIES[name].fn(spark, SF_SMOKE))
        for line in plan.splitlines():
            if "Filter" not in line or " IN (" in line:
                continue
            assert "array_min(transform" not in line and (
                "array_sort(transform" not in line
            ), (
                f"{name}: heavy assignment re-evaluated inside a "
                f"corpus-side Filter:\n{line[:300]}"
            )


def test_edit_verify_levenshtein_exchange_pinned(spark):
    """dedup_edit_verify (r12 pin for the r11 snapshot fix,
    operators/dedup.py): the Levenshtein pass costs O(max_chars^2) CPU
    per row while its input is tiny ON THE WIRE, so AQE's byte-based
    coalescing would serialize the whole quadratic projection into ONE
    task (measured 32.4 s single-task vs 3.0 s spread at 16x sf0.1 —
    anchored in SCALING.md r12).  The operator pins an explicit-width
    repartition(defaultParallelism, doc_a, doc_b) in front of it; in
    the FINAL adaptive plan that strict numPartitions requirement must
    survive: the exchange feeding the levenshtein projection keeps the
    explicit width and no coalesced shuffle read sits between them."""
    df = QUERIES["dedup_edit_verify"].fn(spark, SF_SMOKE)
    df.collect()  # AQE: only the executed plan shows the real reads
    plan = _final_plan(df)
    assert "isFinalPlan=true" in plan, plan[:200]
    lines = plan.splitlines()
    lev = next(
        i for i, line in enumerate(lines) if "levenshtein(" in line
    )
    below = lines[lev:]
    exch_i = next(
        i for i, line in enumerate(below)
        if "Exchange hashpartitioning" in line
    )
    exch = below[exch_i]
    n = spark.sparkContext.defaultParallelism
    assert "doc_a" in exch and "doc_b" in exch and f", {n})" in exch, (
        f"levenshtein input exchange lost the explicit width:\n{exch}\n{plan}"
    )
    # r13: the exchange must carry the non-elidable REPARTITION origin.
    # The r12 form repartitioned on the RAW (doc_a, doc_b) keys; when
    # AQE planned both join-backs as broadcasts (reproduced at 16x
    # sf0.1), the join output already satisfied that distribution,
    # Catalyst elided the repartition, and the surviving
    # ENSURE_REQUIREMENTS exchange coalesced — the quadratic stage ran
    # ~single-task (38.8 s vs 8.7 s fixed).  The seeded-hash partition
    # key is never distribution-compatible with the join output, so
    # this origin survives at every scale.
    assert "REPARTITION_BY_NUM" in exch, (
        f"levenshtein input exchange was elided/demoted:\n{exch}\n{plan}"
    )
    assert not any("coalesced" in line for line in below[:exch_i]), (
        "AQE coalesced the pinned Levenshtein exchange:\n"
        + "\n".join(below[:exch_i])
    )


def test_qbc_disagreement_plan(spark):
    """qbc_disagreement (r11): both member scores fuse into one
    scan-projection; the only joins are the banded-rank
    constant-group broadcasts (the user_value_quartiles/dsir shape,
    whitelisted in tools/plan_audit.py); scans stay inside the
    banded_percent_rank multi-scan contract."""
    import re

    df = QUERIES["qbc_disagreement"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"FileScan parquet", plan)) <= 4, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            raise AssertionError(f"corpus shuffle join:\n{line}\n{plan}")


def test_hamming_topk_corpus_never_shuffles(spark):
    """hamming_topk (r12): the stage-0 scan reads two packed longs
    per corpus row against the broadcast query frame — no corpus-side
    shuffle join, no cartesian; every hash exchange is a rank-stage
    exchange over already-pruned rows (the pq/ivfadc contract)."""
    df = QUERIES["hamming_topk"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            raise AssertionError(f"corpus shuffle join:\n{line}\n{plan}")
        if "Exchange hashpartitioning" in line:
            assert "query_id" in line, (
                f"non-rank corpus exchange:\n{line}\n{plan}"
            )


def test_ivfadc_distortion_report_scan_fused(spark):
    """ivfadc_distortion_report (r12): assign+encode+decode+error must
    fuse into ONE scan projection — no join anywhere, exactly one
    parquet scan, and the only exchanges are the K-key aggregate's and
    (r17) spread_partitions' parallelism-floor round-robin (fires only
    when the scan is narrower than the session's cores; no-op at real
    scale)."""
    import re

    df = QUERIES["ivfadc_distortion_report"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert "Join" not in plan, plan
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    exchanges = re.findall(r"Exchange [^\n]*", plan)
    assert all(
        "hashpartitioning(cluster" in e or "REPARTITION_BY_NUM" in e
        for e in exchanges
    ), plan


def test_ann_filtered_search_filter_pushed_to_scan(spark):
    """ann_filtered_search (r13): the lang predicate must reach the
    index scan as a DATA FILTER (PushedFilters) composing with the
    probe's PartitionFilters — never a post-scan corpus join.  That is
    the whole point of writing metadata next to the codes: at 100 TB
    the filter prices as a scan predicate, not an exchange."""
    df = QUERIES["ann_filtered_search"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    idx_scans = [
        line for line in plan.splitlines()
        if "FileScan parquet" in line and "codes" in line
    ]
    assert idx_scans, plan
    for line in idx_scans:
        tail = line.split("PushedFilters", 1)
        assert len(tail) == 2 and "lang" in tail[1], (
            f"lang filter not pushed into the index scan:\n{line}"
        )
        assert "PartitionFilters" in line and "cluster" in line.split(
            "PartitionFilters", 1
        )[1], line
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        plan
    )


def test_value_quantile_sketch_no_global_sort(spark):
    """The prune-and-pick exact-quantile plan NEVER range-partitions:
    no global sort of the corpus anywhere — that is the operator's
    point (sorts happen only inside bucket-bounded window partitions
    and the bounded cum-bucket frame)."""
    from bigdata_20251_steam_spark.plans.registry import QUERIES

    df = QUERIES["value_quantile_sketch"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    assert "rangepartitioning" not in plan.lower(), plan


def test_scd2_single_corpus_exchange(spark):
    """ONE hashpartitioning exchange of the event log serves the
    change-flag lag window, the island running sum AND the island
    groupBy (hashpartitioning(user_id) satisfies the (user_id, island)
    clustering), and the collapsed-runs lead window reuses it too —
    the docstring's single-exchange claim, plan-pinned."""
    import re

    from bigdata_20251_steam_spark.plans.registry import QUERIES

    df = QUERIES["scd2_event_history"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    exchanges = re.findall(r"Exchange hashpartitioning[^\n]*", plan)
    assert len(exchanges) == 1, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_hybrid_lexical_tier_single_documents_scan(spark):
    """ALL query bags score in ONE documents scan (the exploded struct
    array), and the corpus reaches the fused rank only through the
    per-tier top-N prunes — no per-bag re-scan."""
    import re

    from bigdata_20251_steam_spark.plans.registry import QUERIES

    df = QUERIES["hybrid_rrf_search"].fn(spark, SF_SMOKE)
    plan = _final_plan(df)
    doc_scans = re.findall(r"FileScan parquet[^\n]*documents", plan)
    assert len(doc_scans) == 1, plan


def _serving_queries():
    return [
        q for q in QUERIES.values()
        if q.fn.__module__.endswith(".reference_queries") and q.oracle
    ]


def test_reference_queries_construct_without_jobs(spark, jobs_fired):
    """ROADMAP aim 3 on the serving surface: once each table has been
    loaded, building any oracle-backed reference query starts no Spark
    job — no schema inference, pins or driver collects at construction."""
    from bigdata_20251_steam_spark.schemas import TESTDATA_TABLES
    from bigdata_20251_steam_spark.sources.batch import load_table

    for t in TESTDATA_TABLES:
        load_table(spark, SF_SMOKE, t)
    serving = _serving_queries()
    assert serving
    fired = {}
    for q in serving:
        with jobs_fired() as ids:
            q.fn(spark, SF_SMOKE)
        if ids:
            fired[q.name] = ids
    assert fired == {}


def test_serving_queries_warm_pass_compiles_nothing(spark):
    """The codegen cache holds the serving surface: after one pass over
    every oracle-backed reference query, a second pass compiles no
    generated class.  At Spark's default of 100 entries the ~150-220
    classes of a pass evict each other and every warm pass recompiles
    nearly all of them.

    AQE re-plans from stage statistics in the order stages finish, so a
    multi-join query (q5_region_revenue) can end in a final plan that
    pass 1 did not produce; its new classes are legitimate compiles.  A
    query is excused only when its final plan is one pass 1 never saw."""
    import re

    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled() -> int:
        return cm.METRIC_COMPILATION_TIME().getCount()

    def run(q) -> tuple[int, str]:
        df = q.fn(spark, SF_SMOKE)
        before = compiled()
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return compiled() - before, re.sub(r"#\d+L?", "", plan)

    serving = _serving_queries()
    assert serving
    first = {q.name: run(q) for q in serving}
    recompiled = {}
    for q in serving:
        n, plan = run(q)
        if n and plan == first[q.name][1]:
            recompiled[q.name] = n
    assert recompiled == {}


def test_get_spark_sizes_codegen_cache(spark, monkeypatch):
    """``get_spark`` sets the codegen cache size by default and an
    ``extra_conf`` value overrides it."""
    import types

    from bigdata_20251_steam_spark import session

    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == session._DEFAULTS[key] == "4096"

    class _Builder:
        def __init__(self):
            self.conf = {}

        def appName(self, _name):
            return self

        def master(self, _master):
            return self

        def config(self, k, v):
            self.conf[k] = v
            return self

        def getOrCreate(self):
            return self.conf

    def built(**kw):
        monkeypatch.setattr(
            session, "SparkSession", types.SimpleNamespace(builder=_Builder())
        )
        return session.get_spark(**kw)

    assert built()[key] == "4096"
    assert built(extra_conf={key: "64"})[key] == "64"
