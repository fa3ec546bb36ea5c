"""Scale-up probe: measure headline-query scaling at 1x / 4x / 16x data.

The correctness gate runs at sf0.01 and the bench at sf0.1; this script
answers the next question — *how do the plans scale* — by materializing
id-shifted unions of the sf0.1 tables (4x and 16x rows) and timing a
representative query slice at each multiple.  A healthy plan scales
~linearly in input rows (scan/agg/window) or better (selective filters);
anything super-linear is a candidate quadratic (join explosion,
unblocked self-join) that 100 TB would amplify.

Fact tables are multiplied with ``tools.harness.replicate``; only the
ones the chosen probes read (``PROBE_TABLES``) are written.

Usage:  python -m tools.scaling_probe [multiples...]   (default: 1 4 16)
Prints one JSON line per multiple plus a final summary with the
observed log-slope per query (1.0 = linear).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile

from tools.harness import DIMENSIONS, best_of, cpus, hashfold, replicate, session

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: (query name, tables it reads) — a slice covering scan+agg, multi-join,
#: window re-agg, text hashing, as-of window, and ANN scoring.
PROBES = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "sentiment_hourly",
    "peak_activity",
    "minhash_signatures",
    "asof_join_last_good",
    "embed_topk_bruteforce",
    "dedup_exact",
    # round-4 additions: iterative closure, full dedup pipeline, corpus
    # self-comparison, regex scan — the shapes most likely to hide a
    # super-linear term
    "dedup_components",
    "dedup_pipeline_end_to_end",
    "cross_split_contamination",
    "pii_redaction",
    # round-5 additions: explode amplification, window top-k over a
    # doubled corpus, fixed-size sketch aggregation
    "doc_chunks",
    "epoch_shuffle_order",
    "hll_user_rollup",
    "source_capped_sample",
    "token_budget_sample",
    # round-6 additions: corpus-wide segment window + per-source quantile
    "segment_dedup",
    "quality_quantile_filter",
    # round-6 continuation 4: two-pass LM scoring, rate-threshold mix,
    # sketch build+probe shapes (bounded-shuffle aggregates)
    "unigram_lm_scores",
    "temperature_mix_sample",
    "bloom_decontaminate",
    "cms_word_frequencies",
    # round-6 continuation 5: zero-shuffle window-min selection with
    # ~2/(w+1) explode amplification; melt-aggregate census whose first
    # shuffle is bounded by distinct (column, value) pairs
    "winnow_fingerprints",
    "profile_documents",
    # round-7 additions: banded hot-group rank decomposition (every-row
    # and filter-only forms), sorted-adjacent intra-doc span removal,
    # Arrow-batched BPE encoding, bins-bounded histogram
    "quality_threshold_filter",
    "curriculum_order",
    "intra_doc_dedup",
    "bpe_token_counts",
    "histogram_event_values",
    # round-8 addition: the r1-anchored headliner whose old anchor was
    # measured under the prunable count() probe (r7 harness fix)
    "repetition_metrics",
    # round-8 additions: corpus-wide span dedup (the gram-hash token
    # exchange is the shape most worth watching at scale) and the
    # zero-shuffle NB classifier scoring pass
    "cross_doc_span_dedup",
    "nb_classifier_scores",
    # round-8 continuation: bounded-table bigram LM and the v2 capstone
    "bigram_lm_scores",
    "curation_v2_end_to_end",
    # round-9 additions: pinned-idf lexical scoring (zero-shuffle scan)
    # and the cluster-representative split (minhash+closure composite)
    "bm25_scores",
    "leakage_safe_split",
    # round-9: integer-exact Lloyd's (per-iteration bounded aggregate)
    "kmeans_clusters",
    # round-9 de-hazarding: ntile re-derived through the banded rank
    "user_value_quartiles",
    # round-10: iterative integer PageRank over the LSH pair graph
    # (per-iteration join+sum shuffles — the shape worth watching)
    "dedup_graph_pagerank",
    # round-10: pairs -> closure + PR -> per-cluster argmax composite
    "dedup_canonical_by_pagerank",
    # round-10: zero-shuffle hashed-feature weighting + banded-rank
    # budget cut (the Gumbel-top-k resample)
    "dsir_selection",
    # round-10: code-scan ADC + broadcast-bounded exact re-rank
    "pq_search_rerank",
    # round-10: dedup-closure rep join + broadcast cosine scoring
    "hard_negative_pairs",
    # round-10: in-query GD training (2 scans + bounded agg per
    # iteration at plan-build) + zero-shuffle scoring
    "logreg_quality_scores",
    # round-10: bounded per-user agg + two Arrow mapInPandas passes
    "multimodal_video_meta_roundtrip",
    # round-10: LSH candidates + exact-verify joins + blocked truth
    "dedup_quality_report",
    # round-11: coarse routing + residual ADC over probed cells +
    # exact re-rank (the cell filter is the scale story)
    "ivfadc_search",
    # round-11: LSH candidates + prefix-capped Levenshtein verify
    "dedup_edit_verify",
    # round-11: two pinned-literal scores in one scan + banded cut
    "qbc_disagreement",
    # round-11: pinned-centroid assignment + banded per-cluster rank
    "selfsup_prune",
    # round-11: per-user container encode + stbl sample-table parse
    "multimodal_frames",
    # round-12: the STORED cluster-partitioned index probe (partition
    # pruning + bounded query broadcast; the data term to watch is the
    # probed cells' read volume).  streaming_pq_adjudicate is excluded
    # like every streaming query; its batch tier (ivfadc_topk_frame)
    # additionally has a fixture hazard here: replica embeddings are
    # IDENTICAL vectors, so the flagged-query count grows with mult and
    # the flagged x cell-size product measures workload explosion, not
    # plan scaling.
    "ivfadc_pruned_search",
    # round-12: the 8-bytes-per-vector Hamming stage-0 prefilter —
    # the scan tier whose linearity IS the claim (16 bytes read per
    # corpus row until the shortlist)
    "hamming_topk",
    # round-12: bounded-fold MMR over a fixed shortlist (data term =
    # the brute scoring scan), the banded-ntile calibration table, and
    # the zero-shuffle + K-key-agg distortion report
    "mmr_diverse_topk",
    "nb_calibration_report",
    "ivfadc_distortion_report",
    # round-13: metadata-filtered probe (scan-level predicate over the
    # staged metadata-bearing store) and the tiered tuning sweep
    # (tiers explode over one decoded-snapshot scan)
    "ann_filtered_search",
    "ivfadc_nprobe_sweep",
    # round-14: the sketch-aggregate + prune-and-pick quantile pair
    # (data term = two scans + a bounded-bucket re-rank), the one-scan
    # multi-bag lexical tier + broadcast dense tier + bounded fusion,
    # and the single-exchange gaps-and-islands interval collapse
    "value_quantile_sketch",
    "hybrid_rrf_search",
    "scd2_event_history",
    # round-14 third batch: grouped prune-and-pick + mergeable-state
    # rollup (both bounded-frame joins; data term = the scans)
    "doclen_quantiles_by_source",
    "incremental_rollup_merge",
    # round-15: incremental closure (delta-bounded super-graph merge),
    # token-weighted prune-and-pick, and the streaming SCD2 merge's
    # batch twin is scd2_event_history (streaming queries stay
    # excluded; the merge itself is delta-bounded by construction)
    "incremental_dedup_components",
    "doclen_quantiles_weighted",
    # round-16: the DELETE side of the IVM pair — touched-component
    # re-closure bounded by the takedown batch's component members
    # (data terms = the base-state build; the retraction itself is
    # delta-bounded)
    "dedup_retraction",
    # round-16: the index DELETE lifecycle — encode+write store, marker
    # delete, tombstone-filtered probe, purge compaction, bare probe
    # (data terms = the store build + the touched-cell rewrites; the
    # probes stay partition-pruned and query-bounded)
    "index_tombstone_delete",
    # round-16: the rollup delete side — exact sketch subtraction +
    # bounded touched-group min/max re-derive (data terms = the
    # full-state scans that are persisted artifacts in a deployment)
    "rollup_retraction",
    # round-16: the bucketed band-state probe (state-side
    # exchange-free; data terms = the base banding + bucketed write,
    # which are the persisted state in a deployment)
    "incremental_dedup_bucketed",
    # round-17: the takedown capstone — one erasure batch through all
    # four state families' delete primitives (data terms = the four
    # state builds; every per-family maintenance term is the
    # delta-bounded shape its standalone sibling anchors)
    "takedown_end_to_end",
    # round-17 additions: the compressed-audio / video-frame decode
    # roundtrips — per-user bounded Arrow encode+decode passes; the
    # anchor question is whether the Python codec tier stays linear
    # and shuffle-free as users multiply
    "multimodal_g711_roundtrip",
    "multimodal_adpcm_roundtrip",
    "multimodal_flac_roundtrip",
    "video_frame_decode",
    "multimodal_gif_roundtrip",
    "multimodal_resize_roundtrip",
    "multimodal_resample_roundtrip",
]

#: tables each probe reads — lets a filtered probe run (SCALING_PROBES)
#: skip materializing fact tables it never touches (a 64x lineitem build
#: for a documents-only probe would dominate the wall clock).
PROBE_TABLES = {
    "q1_pricing_summary": {"lineitem"},
    "q5_region_revenue": {"customer", "orders", "lineitem"},
    "sentiment_hourly": {"events"},
    "peak_activity": {"events"},
    "minhash_signatures": {"documents"},
    "asof_join_last_good": {"events"},
    "embed_topk_bruteforce": {"embeddings"},
    "dedup_exact": {"documents"},
    "segment_dedup": {"documents"},
    "quality_quantile_filter": {"documents"},
    "dedup_components": {"documents"},
    "dedup_pipeline_end_to_end": {"documents"},
    "cross_split_contamination": {"documents"},
    "pii_redaction": {"documents"},
    "doc_chunks": {"documents"},
    "source_capped_sample": {"documents"},
    "token_budget_sample": {"documents"},
    "epoch_shuffle_order": {"documents"},
    "hll_user_rollup": {"events"},
    "unigram_lm_scores": {"documents"},
    "temperature_mix_sample": {"documents"},
    "bloom_decontaminate": {"documents"},
    "cms_word_frequencies": {"documents"},
    "winnow_fingerprints": {"documents"},
    "profile_documents": {"documents"},
    "histogram_event_values": {"events"},
    "intra_doc_dedup": {"documents"},
    "bpe_token_counts": {"documents"},
    "quality_threshold_filter": {"documents"},
    "curriculum_order": {"documents"},
    "repetition_metrics": {"documents"},
    "cross_doc_span_dedup": {"documents"},
    "nb_classifier_scores": {"documents"},
    "bigram_lm_scores": {"documents"},
    "curation_v2_end_to_end": {"documents"},
    "bm25_scores": {"documents"},
    "leakage_safe_split": {"documents"},
    "kmeans_clusters": {"embeddings"},
    "dedup_graph_pagerank": {"documents"},
    "dedup_canonical_by_pagerank": {"documents"},
    "dsir_selection": {"documents"},
    "pq_search_rerank": {"embeddings"},
    "hard_negative_pairs": {"documents", "embeddings"},
    "logreg_quality_scores": {"documents"},
    "multimodal_video_meta_roundtrip": {"events"},
    "dedup_quality_report": {"documents"},
    "user_value_quartiles": {"events"},
    "ivfadc_search": {"embeddings"},
    "dedup_edit_verify": {"documents"},
    "qbc_disagreement": {"documents"},
    "selfsup_prune": {"embeddings"},
    "multimodal_frames": {"events"},
    "ivfadc_pruned_search": {"embeddings"},
    "hamming_topk": {"embeddings"},
    "mmr_diverse_topk": {"embeddings"},
    "nb_calibration_report": {"documents"},
    "ivfadc_distortion_report": {"embeddings"},
    "ann_filtered_search": {"embeddings", "documents"},
    "ivfadc_nprobe_sweep": {"embeddings"},
    "value_quantile_sketch": {"events"},
    "hybrid_rrf_search": {"documents", "embeddings"},
    "scd2_event_history": {"events"},
    "doclen_quantiles_by_source": {"documents"},
    "incremental_rollup_merge": {"events"},
    "incremental_dedup_components": {"documents"},
    "doclen_quantiles_weighted": {"documents"},
    "dedup_retraction": {"documents"},
    "index_tombstone_delete": {"embeddings"},
    "rollup_retraction": {"events"},
    "incremental_dedup_bucketed": {"documents"},
    "takedown_end_to_end": {"documents", "embeddings", "events"},
    "multimodal_g711_roundtrip": {"events"},
    "multimodal_adpcm_roundtrip": {"events"},
    "multimodal_flac_roundtrip": {"events"},
    "video_frame_decode": {"events"},
    "multimodal_gif_roundtrip": {"events"},
    "multimodal_resize_roundtrip": {"events"},
    "multimodal_resample_roundtrip": {"events"},
}


def main() -> None:
    mults = [int(a) for a in sys.argv[1:]] or [1, 4, 16]
    # SCALING_PROBES=name,name limits the probe slice (e.g. the 64x
    # iterative-closure anchor, r4 verdict #8)
    probes = PROBES
    env_sel = os.environ.get("SCALING_PROBES")
    if env_sel:
        sel = [p.strip() for p in env_sel.split(",") if p.strip()]
        unknown = [p for p in sel if p not in PROBES]
        if unknown:
            raise SystemExit(f"unknown probes: {unknown}")
        probes = sel
    needed = set().union(*(PROBE_TABLES[q] for q in probes))
    from bigdata_20251_steam_spark.plans import QUERIES

    spark = session("scaling_probe", cpus("*"), 32)
    results: dict[str, dict[int, float]] = {q: {} for q in probes}
    for mult in mults:
        d = os.path.join(tempfile.gettempdir(), f"scaleprobe_x{mult}")
        replicate(spark, BASE_SF, d, mult, tables=DIMENSIONS + tuple(needed))
        for q in probes:
            best = best_of(2, lambda: hashfold(QUERIES[q].fn(spark, d)))
            results[q][mult] = round(best, 3)
        print(json.dumps({"mult": mult, "times": {q: results[q][mult] for q in probes}}), flush=True)
        if mult != 1:
            shutil.rmtree(d, ignore_errors=True)
    slopes = {}
    lo, hi = min(mults), max(mults)
    for q in probes:
        if results[q][lo] > 0 and hi > lo:
            slopes[q] = round(
                math.log(results[q][hi] / results[q][lo]) / math.log(hi / lo), 2
            )
    print(json.dumps({"metric": "scaling_log_slope", "slopes": slopes,
                      "note": "1.0 = linear in rows; <1 = fixed-cost dominated"}))
    spark.stop()


if __name__ == "__main__":
    main()
