"""Query registry: named (Spark builder, DuckDB oracle) pairs.

This is the driver-contract surface (`__spark_entry__.queries()` /
``oracle_sql()``): one entry per implemented operator from SURVEY.md §2,
each Spark builder paired with ANSI SQL that DuckDB runs on the same
parquet tables. Column names and value arithmetic are kept exactly
parallel (see oracle_sql.py docstring for the float-determinism rules).

Queries whose semantics are not SQL-expressible (the O34/O35
recurrences, approximate LSH variants) register ``oracle=None`` and are
covered by FIXTURES.md goldens instead.
"""

from __future__ import annotations

import os  # the rotation tail's TM_ROTATION_DEFER escape hatch

# Core surface (QueryDef/register/QUERIES/shared caches) — split
# out in round 14; every name is re-exported here so existing
# `from trendmachine_spark.registry import X` call sites and the
# rotation tooling keep working unchanged.
from trendmachine_spark.registry_core import (  # noqa: F401
    QueryDef,
    QUERIES,
    register,
    _CACHE,
    _shared,
    _TABLE_CACHE,
    _table,
    clear_cache,
    _daily,
    _docs,
    _embeddings,
)

# Query registration: importing each chunk executes its
# @register calls; the import ORDER below is the registration
# order (= queries() order = the driver's 50-entry window input)
# and must never be reordered. Explicit name lists re-export
# every chunk-level helper (oracle CTE builders etc.) from this
# module, underscore names included.
from trendmachine_spark.registry_queries.captures import (  # noqa: F401
    q_capture_normalize,
    q_daily_rollup,
    q_daily_moving_avg,
    q_status_month_cube,
    q_daily_chaos,
    q_periodic_samples,
    _dense,
    q_date_spine,
    _mk_gap_fill,
    q_chaos_ffill,
    q_transition_matrix,
    q_transition_matrix_filled,
    q_monthly_rollup,
    q_status_totals,
    _summary_sql,
    q_summary_stats,
    q_content_value_counts,
    q_specimen_breakdown,
    q_first_last_capture,
    q_urim_projection,
    q_headline_metrics,
)
from trendmachine_spark.registry_queries.dedup_text import (  # noqa: F401
    MAX_LSH_BUCKET,
    MAX_SHINGLE_FREQ,
    exact_dedup,
    minhash_near_dup,
    ngram_jaccard,
    simhash,
    media_metadata,
    ann_topk,
    brute_force_topk,
    fingerprints,
    lang_id,
    quality_flags,
    text_profile,
    load_table,
    _SHINGLES_SQL,
    q_dedup_exact,
    q_dedup_exact_norm,
    _minhash_ctes,
    q_dedup_minhash_lsh,
    q_lsh_bucket_health,
    q_minhash_accuracy,
    _band_ctes,
    _INCR_U,
    q_dedup_incremental,
    q_dedup_clusters,
    q_training_corpus,
    q_dedup_ngram_jaccard,
    q_dedup_containment,
    q_dedup_simhash,
    q_dedup_simhash_near_dup,
    q_similarity_topk,
    _ann_lsh_oracle,
    q_similarity_ann_lsh,
    _TOKEN_RE_SQL,
    q_text_profile,
    q_text_quality_flags,
    q_text_lang_id,
    q_text_fingerprints,
    q_multimodal_metadata,
    q_training_corpus_safe,
    q_text_pii_stats,
    q_text_repetition_stats,
    q_corpus_decontaminate,
    q_corpus_sample_stratified,
    q_training_splits,
    q_split_leakage_report,
    q_multimodal_resize,
    q_multimodal_frame_sample,
    _cross_corpus_oracle,
    q_dedup_cross_corpus,
    _cross_corpus_health_oracle,
    q_cross_corpus_bucket_health,
    q_corpus_merge_report,
)
from trendmachine_spark.registry_queries.relational_events import (  # noqa: F401
    q_pricing_summary,
    q_shipping_priority,
    q_event_session_windows,
    q_top_revenue_customers,
    q_region_revenue,
    q_event_sessionization,
    q_event_asof_join,
    q_event_range_join,
    q_session_stats,
    q_event_props_stats,
    q_event_funnel,
    q_event_retention,
    q_event_attribution,
    q_resilience_daily_series,
    q_chaos_melt,
    q_sigmoid_preview,
    q_dedup_embedding_cosine,
    _srp_neardup_oracle,
    q_dedup_embedding_cosine_bucketed,
    q_embedding_outliers,
    q_text_term_stats,
    _QUALITY_SQL,
    q_quality_score,
    q_top_quality_docs,
    q_corpus_card,
    q_bpe_pair_stats,
    _redact_pii_sql,
    q_redact_pii,
    q_redact_pii_planted,
    q_training_shards,
    q_lm_familiarity,
)
from trendmachine_spark.registry_queries.ml_ann import (  # noqa: F401
    _bpe_train_ctes,
    _bpe_merges_oracle,
    _bpe_vocab_oracle,
    q_bpe_train_merges,
    q_bpe_segmented_vocab,
    _bpe_encode_oracle,
    q_bpe_encode,
    q_vocab_coverage,
    q_salted_term_counts,
    q_multi_param_scoring,
    q_dedup_minhash_ml,
    q_tfidf_ml,
    _ivf_refined_ctes,
    _ivf_topk_oracle,
    q_similarity_ivf_topk,
    _pq_ctes,
    _pq_adc_ctes,
    _pq_topk_oracle,
    _pq_rerank_oracle,
    _pq_rerank_auto_oracle,
    _ivfpq_topk_oracle,
    _ivfpq_residual_topk_oracle,
    _sq8_ctes,
    _sq8_topk_oracle,
    _sq8_rerank_oracle,
    q_similarity_sq8_topk,
    q_similarity_sq8_rerank,
    _sq8_filtered_oracle,
    _sq8_filtered_post_oracle,
    q_similarity_sq8_filtered,
    q_similarity_sq8_filtered_post,
    _sq8_rerank_auto_oracle,
    q_similarity_sq8_rerank_auto,
    _ivfsq8_topk_oracle,
    q_similarity_ivfsq8_topk,
    q_similarity_ivfpq_topk,
    q_similarity_ivfpq_residual_topk,
    _ivfpq_rerank_auto_oracle,
    q_similarity_ivfpq_rerank_auto,
    _PQ_INDEX_CACHE,
    q_similarity_ivfpq_index,
    _ivfpq_append_oracle,
    q_similarity_ivfpq_append,
    q_ann_serve_streaming,
    q_similarity_pq_rerank,
    q_similarity_pq_rerank_auto,
    q_similarity_pq_topk,
    q_similarity_pq256_topk,
    q_pq_distortion,
    q_pq_encode_streaming,
    q_sq8_encode_streaming,
    q_session_windows_streaming,
    q_funnel_streaming,
    q_resilience_streaming,
    q_scored_daily_streaming,
    q_dedup_streaming,
    q_neardup_streaming,
    q_corpus_mix_temperature,
)
from trendmachine_spark.registry_queries.sampling_semantic import (  # noqa: F401
    _pack_sequences_oracle,
    q_pack_sequences,
    q_packed_text,
    q_dedup_segments,
    _semantic_dedup_oracle,
    _semantic_cell_bounds,
    _semantic_cte,
    _semantic_cells,
    q_dedup_semantic,
    q_chunk_documents,
    q_corpus_stats,
    _semantic_keepers_oracle,
    q_dedup_semantic_keepers,
    _split_semantic_leakage_oracle,
    q_split_semantic_leakage,
    q_dedup_multi_signal,
    q_dedup_clusters_ensemble,
    q_training_corpus_segmented,
    q_multimodal_decode_real,
    q_multimodal_resize_real,
    q_multimodal_decode_png,
    q_multimodal_decode_jpeg,
)
from trendmachine_spark.registry_queries.multimodal_substring import (  # noqa: F401
    _phash_cte,
    _bmp_assets,
    q_multimodal_image_hash,
    q_dedup_image_phash,
    q_dedup_image_phash_near,
    q_multimodal_audio_features,
    synthetic_media_assets_audio,
    q_dedup_audio_fingerprint,
    q_multimodal_video_decode,
    q_dedup_video_frames,
    q_dedup_video_near,
    q_video_dedup_streaming,
    q_quality_score_trained,
    q_ingest_dedup_streaming,
    _window_occ_sql,
    _WINDOW_OCC_SQL,
    _substring_report_oracle,
    q_substring_dup_report,
    q_substring_dup_report_fine,
    _suffix_match_sql,
    q_dup_span_profile,
    q_dup_span_histogram,
    q_suffix_group_stats,
    q_substring_dedup,
    q_training_corpus_clean,
)



# ---------------------------------------------------------------------------
# Driver correctness-window ordering.
#
# The driver's per-round correctness run verifies only the FIRST 50
# entries of queries() in dict order, and the registry has grown past
# that (86 oracled + 11 rows-only = 97 as of end of round 4).  Re-key
# QUERIES so
# the window holds (a) every query that is NEW or whose implementation
# CHANGED this round (_WINDOW_PINNED — these need a fresh driver check
# at sf0.01), then (b) a ROTATING half of the long-stable oracled pool.
#
# Rotation mechanism (round 5 on): every oracled name carries an
# EXPLICIT frozen demotion CLASS in _DEMOTE_ODD / _DEMOTE_EVEN /
# _DEMOTE_THIRD / _DEMOTE_FOURTH — it is driver-checked in rounds
# where _ROUND % _PARITY_PERIOD == its class and demoted otherwise.
# Because the assignment is per-name and frozen, registering new
# queries can never shift anyone else's schedule (the failure mode of
# the round-4 index-parity rotation, where a pool insertion shifted
# alphabetical indices). Any _PARITY_PERIOD consecutive rounds'
# windows cover the whole pool, so every oracled query gets a driver
# sf0.01 check at least once every 4 rounds (the literal here must
# equal _PARITY_PERIOD — tests/test_oracle_parity.py derives and
# enforces it). Demoted names are still exactly-checked EVERY CI run
# at sf0.001 by tests/test_oracle_parity.py, which also pins the
# rotation invariants — so only a scale-DEPENDENT regression can wait
# for its class's turn; a value regression cannot hide at all.
# Rows-only/streaming entries sit behind everything (their driver check
# is a rows>=0 smoke regardless of position).
#
# Round bookkeeping: bump _ROUND once per driver round (cascades the
# _PREV_DEMOTED history chain), refresh _WINDOW_PINNED to the queries
# added/changed that round (and give any NEW query a class via
# `rotate_window.py assign`, balancing window sizes). Capacity grows
# by adding classes: period 2 (100 oracled = 50+50) outgrown in round
# 8 -> period 3 (150) from round 9 -> period 4 (200) from round 13,
# each flipped with `rotate_window.py set-period N` at a round start
# followed by a cover-invariant-checked `rebalance` (machinery +
# invariants in tests/test_rotate_window.py).
# ---------------------------------------------------------------------------

_ROUND = 14

#: rotation cycle length: a name of class c is driver-checked when
#: _ROUND % _PARITY_PERIOD == c. 2 = the historical every-other-round
#: guarantee (capacity 100 oracled under the driver's 50-entry
#: window); 3 adds _DEMOTE_THIRD (150, from r9); 4 adds
#: _DEMOTE_FOURTH (200, from r13) — flip via `rotate_window.py
#: set-period N`, which stamps _PERIOD_FLIPPED_AT; each bump cascades
#: the _PREV_DEMOTED history chain deepest-first. The historical set
#: names stop describing round parity — they are class labels
#: (_DEMOTE_ODD is class 0, _DEMOTE_EVEN class 1, then THIRD/FOURTH).
#: Transition note: switching periods can leave a name unchecked for
#: up to period+1 rounds across the flip (its old and new checked
#: rounds need not be adjacent); flip at a round start, before pins,
#: then `rebalance` (the flip round gets a one-round balance grace).
_PARITY_PERIOD = 4

#: the round the period last changed (maintained by `rotate_window.py
#: set-period`). In the flip round itself the outgoing classes are
#: necessarily over the new balanced size — the cover invariant (no
#: name's between-checks gap may exceed the period) blocks most moves
#: until each class is next checked — so the class-balance guard in
#: tests/test_rotate_window.py grants exactly that one round of grace
#: and then forces a finishing `rebalance` at the next bump.
_PERIOD_FLIPPED_AT = 13

#: new or implementation-changed this round -> must see the driver's
#: sf0.01 oracle now, so they never enter the rotation pool this round
_WINDOW_PINNED: list[str] = [
    "dedup_semantic",  # r14: pin-guard moved to always-evaluated UNION ALL branch
    "dedup_semantic_keepers",  # r14: pin-guard UNION ALL branch
    "split_semantic_leakage",  # r14: pin-guard UNION ALL branch
    "training_corpus_segmented",  # r14: pin-guard UNION ALL branch (composed _semantic_cte)
    "similarity_pq_rerank_auto",  # r14 new query: density-adaptive rerank
    "similarity_sq8_rerank_auto",  # r14 new query: density-adaptive SQ8 rerank
    "similarity_ivfpq_rerank_auto",  # r14 new query: density-adaptive IVFPQ rerank
    "similarity_ivfpq_append",  # r14 new query: incremental index append
    "ann_serve_streaming",  # r14 new query: streaming serve from at-rest index
    "dedup_cross_corpus",  # r14 new query: cross-corpus near-dup
    "cross_corpus_bucket_health",  # r14 new query: merge-shape no-silent-caps metric
    "similarity_sq8_filtered",  # r14 new query: filtered ANN selector path
    "similarity_sq8_filtered_post",  # r14 new query: filtered ANN post-filter trade
    "corpus_merge_report",  # r14 new query: symmetric merge decision report
    "substring_dup_report",
    "substring_dup_report_fine",
    "dedup_segments",
    "dup_span_profile",
    "dup_span_histogram",
    "dedup_video_frames",
]

#: frozen per-name demotion CLASS (period 3 since r9 — the 101st
#: oracled query, multimodal_decode_jpeg, outgrew the 50+50 period-2
#: capacity). A name is driver-checked in rounds where
#: _ROUND % 3 == its class and demoted otherwise: _DEMOTE_ODD is
#: class 0 (checked r9, r12...), _DEMOTE_EVEN class 1 (r10, r13...),
#: _DEMOTE_THIRD class 2 (r11, r14...). The set names are historical
#: labels from the period-2 era; at the flip the two literals swapped
#: CONTENTS so the incumbent schedule survived (see the in-set
#: comments). Every oracled query must appear in exactly one set —
#: _demoted_for_round asserts it, CI enforces the cycle-cover
#: invariants. _WINDOW_PINNED overrides the class for the round a
#: query changes (pinned names never demote).
_DEMOTE_EVEN = frozenset({
    # class 1 — driver-checked in rounds where _ROUND % 4 == 1;
    # membership last rebalanced r14 by rotate_window.py rebalance
    "event_attribution", "lm_familiarity", "multimodal_audio_features",
    "multimodal_decode_jpeg", "multimodal_decode_real",
    "multimodal_frame_sample", "multimodal_image_hash",
    "multimodal_resize", "multimodal_resize_real", "packed_text",
    "pricing_summary", "quality_score_trained", "redact_pii",
    "redact_pii_planted", "session_stats", "split_leakage_report",
    "status_month_cube", "substring_dup_report_fine", "suffix_group_stats",
    "summary_stats", "text_lang_id", "text_profile",
    "text_repetition_stats", "top_quality_docs", "training_corpus",
    "training_corpus_safe", "training_corpus_segmented", "training_shards",
    "training_splits", "transition_matrix_filled", "vocab_coverage",
    "similarity_pq_rerank_auto",  # assigned by rotate_window.py
    "similarity_ivfpq_rerank_auto",  # assigned by rotate_window.py
    "cross_corpus_bucket_health",  # assigned by rotate_window.py
})
_DEMOTE_ODD = frozenset({
    # class 0 — driver-checked in rounds where _ROUND % 4 == 0;
    # membership last rebalanced r14 by rotate_window.py rebalance
    "bpe_encode", "gap_fill_backward", "gap_fill_forward",
    "headline_metrics", "lsh_bucket_health", "monthly_rollup",
    "multimodal_metadata", "multimodal_video_decode", "pack_sequences",
    "periodic_samples", "quality_score", "salted_term_counts",
    "shipping_priority", "similarity_ann_lsh", "similarity_ivf_topk",
    "similarity_ivfpq_index", "similarity_ivfsq8_topk",
    "similarity_pq_topk", "similarity_topk", "specimen_breakdown",
    "status_totals", "substring_dedup", "substring_dup_report",
    "text_fingerprints", "text_pii_stats", "text_quality_flags",
    "text_term_stats", "top_revenue_customers", "training_corpus_clean",
    "transition_matrix", "urim_projection",
    "similarity_sq8_rerank_auto",  # assigned by rotate_window.py
    "similarity_ivfpq_append",  # assigned by rotate_window.py
    "similarity_sq8_filtered",  # assigned by rotate_window.py
})


#: third rotation class — EMPTY (and unused) while _PARITY_PERIOD == 2.
#: Under period 3 these names are driver-checked when _ROUND % 3 == 2.
_DEMOTE_THIRD: frozenset = frozenset({
    # class 2 — driver-checked in rounds where _ROUND % 4 == 2;
    # membership last rebalanced r14 by rotate_window.py rebalance
    "bpe_segmented_vocab", "bpe_train_merges", "corpus_decontaminate",
    "corpus_mix_temperature", "corpus_sample_stratified", "corpus_stats",
    "daily_chaos", "daily_moving_avg", "daily_rollup", "date_spine",
    "dedup_clusters", "dedup_clusters_ensemble", "dedup_containment",
    "dedup_embedding_cosine", "dedup_embedding_cosine_bucketed",
    "dedup_exact", "dedup_incremental", "dedup_multi_signal",
    "dedup_segments", "dedup_video_frames", "embedding_outliers",
    "event_funnel", "event_range_join", "event_session_windows",
    "first_last_capture", "gap_fill_closest", "gap_fill_identical",
    "minhash_accuracy", "multimodal_decode_png", "pq_distortion",
    "region_revenue", "similarity_ivfpq_topk",
    "ann_serve_streaming",  # assigned by rotate_window.py
    "similarity_sq8_filtered_post",  # assigned by rotate_window.py
})

#: fourth rotation class — EMPTY (and unused) while _PARITY_PERIOD <= 3.
#: Under period 4 these names are driver-checked when _ROUND % 4 == 3.
#: Machinery built r13, BEFORE the pool outgrew period 3's capacity
#: (the r12 verdict's one-round-of-slack warning): flip via
#: `rotate_window.py set-period 4` (capacity 200 under the driver's
#: 50-entry window; the between-checks guarantee relaxes to every
#: fourth round, with CI still exact-checking every oracled name at
#: sf0.001 every run).
_DEMOTE_FOURTH: frozenset = frozenset({
    # class 3 — driver-checked in rounds where _ROUND % 4 == 3;
    # membership last rebalanced r14 by rotate_window.py rebalance
    "bpe_pair_stats", "capture_normalize", "chaos_ffill", "chaos_melt",
    "chunk_documents", "content_value_counts", "corpus_card",
    "dedup_audio_fingerprint", "dedup_exact_norm", "dedup_image_phash",
    "dedup_image_phash_near", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_semantic", "dedup_semantic_keepers", "dedup_simhash",
    "dedup_simhash_near_dup", "dedup_video_near", "dup_span_histogram",
    "dup_span_profile", "event_asof_join", "event_props_stats",
    "event_retention", "event_sessionization", "pq_encode_streaming",
    "similarity_ivfpq_residual_topk", "similarity_pq256_topk",
    "similarity_pq_rerank", "similarity_sq8_rerank", "similarity_sq8_topk",
    "split_semantic_leakage", "sq8_encode_streaming",
    "dedup_cross_corpus",  # assigned by rotate_window.py
    "corpus_merge_report",  # assigned by rotate_window.py
})

#: demoted list from TWO rounds ago — cascaded at each bump only under
#: period 3 (period 2's disjointness makes it redundant); feeds the
#: "no name demoted a full cycle" invariant in tests/test_oracle_parity.
_PREV_DEMOTED_2: list[str] = [
    "bpe_encode", "bpe_pair_stats", "bpe_segmented_vocab",
    "bpe_train_merges", "capture_normalize", "chaos_ffill", "chaos_melt",
    "chunk_documents", "content_value_counts", "corpus_card",
    "corpus_decontaminate", "corpus_mix_temperature",
    "corpus_sample_stratified", "corpus_stats", "daily_chaos",
    "daily_moving_avg", "daily_rollup", "date_spine", "dedup_clusters",
    "dedup_clusters_ensemble", "dedup_containment",
    "dedup_embedding_cosine", "dedup_embedding_cosine_bucketed",
    "dedup_exact", "dedup_image_phash", "dedup_image_phash_near",
    "dedup_incremental", "dedup_minhash_lsh", "dedup_multi_signal",
    "dedup_segments", "dedup_simhash", "dedup_video_frames",
    "embedding_outliers", "event_attribution", "event_funnel",
    "event_range_join", "event_session_windows", "first_last_capture",
    "gap_fill_closest", "gap_fill_identical", "lm_familiarity",
    "minhash_accuracy", "multimodal_audio_features",
    "multimodal_decode_jpeg", "multimodal_decode_png",
    "multimodal_decode_real", "multimodal_frame_sample",
    "multimodal_image_hash", "multimodal_resize", "multimodal_resize_real",
    "packed_text", "pq_distortion", "pq_encode_streaming",
    "pricing_summary", "quality_score_trained", "redact_pii",
    "redact_pii_planted", "region_revenue", "session_stats",
    "similarity_ivfpq_topk", "similarity_pq_rerank",
    "split_leakage_report", "status_month_cube",
    "substring_dup_report_fine", "suffix_group_stats", "summary_stats",
    "text_lang_id", "text_profile", "text_repetition_stats",
    "top_quality_docs", "training_corpus", "training_corpus_safe",
    "training_corpus_segmented", "training_shards", "training_splits",
    "transition_matrix_filled", "vocab_coverage",
]

#: demoted list from THREE rounds ago — cascaded at each bump
#: (_PREV_DEMOTED_3 <- _PREV_DEMOTED_2, deepest first) whenever the
#: literal exists; consulted by the full-cycle invariant and by
#: rotate_window's cover-invariant gap derivation only under period 4.
_PREV_DEMOTED_3: list[str] = [
    "bpe_encode", "bpe_segmented_vocab", "bpe_train_merges",
    "dedup_audio_fingerprint", "dedup_image_phash",
    "dedup_image_phash_near", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_semantic", "dedup_simhash", "dedup_simhash_near_dup",
    "dup_span_histogram", "dup_span_profile", "event_asof_join",
    "event_attribution", "event_props_stats", "event_retention",
    "event_sessionization", "gap_fill_backward", "gap_fill_forward",
    "headline_metrics", "lm_familiarity", "lsh_bucket_health",
    "monthly_rollup", "multimodal_audio_features",
    "multimodal_decode_jpeg", "multimodal_decode_real",
    "multimodal_frame_sample", "multimodal_image_hash",
    "multimodal_metadata", "multimodal_resize", "multimodal_resize_real",
    "pack_sequences", "packed_text", "periodic_samples", "pricing_summary",
    "quality_score", "quality_score_trained", "redact_pii",
    "redact_pii_planted", "salted_term_counts", "session_stats",
    "shipping_priority", "similarity_ann_lsh", "similarity_ivf_topk",
    "similarity_topk", "specimen_breakdown", "split_leakage_report",
    "status_month_cube", "status_totals", "substring_dedup",
    "substring_dup_report", "substring_dup_report_fine",
    "suffix_group_stats", "summary_stats", "text_fingerprints",
    "text_lang_id", "text_pii_stats", "text_profile", "text_quality_flags",
    "text_repetition_stats", "text_term_stats", "top_quality_docs",
    "top_revenue_customers", "training_corpus", "training_corpus_clean",
    "training_corpus_safe", "training_corpus_segmented", "training_shards",
    "training_splits", "transition_matrix", "transition_matrix_filled",
    "urim_projection", "vocab_coverage",
]


def _parity_classes() -> dict[int, frozenset]:
    """checked-round class -> frozen name set. A name of class c is
    driver-checked in rounds where round % _PARITY_PERIOD == c and
    demoted otherwise. Period 2 maps the historical sets (_DEMOTE_ODD =
    demoted on odd rounds = checked on even = class 0; _DEMOTE_EVEN =
    class 1); period 3 adds _DEMOTE_THIRD as class 2; period 4 adds
    _DEMOTE_FOURTH as class 3."""
    classes = {0: _DEMOTE_ODD, 1: _DEMOTE_EVEN}
    if _PARITY_PERIOD >= 3:
        classes[2] = _DEMOTE_THIRD
    if _PARITY_PERIOD >= 4:
        classes[3] = _DEMOTE_FOURTH
    return classes


def _rotation_pool() -> list[str]:
    """Long-stable oracled queries eligible for demotion, alphabetical."""
    return sorted(
        n for n, d in QUERIES.items()
        if d.oracle is not None and n not in _WINDOW_PINNED
    )


def _demoted_for_round(round_no: int) -> list[str]:
    """Pool names whose frozen class misses the round's checked slot.
    Per-name classes make any _PARITY_PERIOD consecutive rounds' windows
    cover the whole pool, regardless of registry growth."""
    pool = _rotation_pool()
    classes = _parity_classes()
    assigned: dict[str, int] = {}
    dupes: list[str] = []
    for c, names in classes.items():
        for n in names:
            if n in assigned:
                dupes.append(n)
            assigned[n] = c
    assert not dupes, (
        f"names in more than one demotion class: {sorted(set(dupes))}"
    )
    unassigned = [n for n in pool if n not in assigned]
    # TM_ROTATION_DEFER lets tools/rotate_window.py `assign` import a
    # registry that ALREADY contains the new @register it is about to
    # classify (r12 papercut: the assert fired inside the tool that
    # exists to fix it). Deferred names are treated as checked (never
    # demoted) until assigned, so the contract only loosens for the
    # one tool invocation that sets the variable.
    if unassigned and os.environ.get("TM_ROTATION_DEFER"):
        for n in unassigned:
            assigned[n] = round_no % _PARITY_PERIOD
        unassigned = []
    assert not unassigned, (
        f"oracled queries with no demotion class: {unassigned} — add each "
        "to _DEMOTE_ODD/_DEMOTE_EVEN"
        + ("/_DEMOTE_THIRD" if _PARITY_PERIOD >= 3 else "")
        + ("/_DEMOTE_FOURTH" if _PARITY_PERIOD >= 4 else "")
        + " (balance the window sizes)"
    )
    checked = round_no % _PARITY_PERIOD
    return [n for n in pool if assigned[n] != checked]


#: the PREVIOUS round's demoted set (refreshed at each round bump to
#: the literal value _DEMOTED had last round). Two jobs: (a) this
#: round's demoted list is ordered with any name demoted LAST round too
#: at the FRONT — when the 50-entry window has slack past the
#: rotated-in half, it reaches into the head of the demoted list, so
#: any straggler gets driver-checked first; (b) the cross-round test in
#: tests/test_oracle_parity.py requires _DEMOTED ∩ _PREV_DEMOTED = ∅
#: from round 5 on, catching any future edit that breaks alternation.
_PREV_DEMOTED = [
    "bpe_pair_stats", "capture_normalize", "chaos_ffill", "chaos_melt",
    "chunk_documents", "content_value_counts", "corpus_card",
    "corpus_decontaminate", "corpus_mix_temperature",
    "corpus_sample_stratified", "corpus_stats", "daily_chaos",
    "daily_moving_avg", "daily_rollup", "date_spine",
    "dedup_audio_fingerprint", "dedup_clusters", "dedup_clusters_ensemble",
    "dedup_containment", "dedup_embedding_cosine",
    "dedup_embedding_cosine_bucketed", "dedup_exact", "dedup_exact_norm",
    "dedup_incremental", "dedup_multi_signal", "dedup_ngram_jaccard",
    "dedup_segments", "dedup_simhash_near_dup", "dedup_video_frames",
    "dedup_video_near", "dup_span_histogram", "dup_span_profile",
    "embedding_outliers", "event_asof_join", "event_funnel",
    "event_props_stats", "event_range_join", "event_retention",
    "event_session_windows", "event_sessionization", "first_last_capture",
    "gap_fill_backward", "gap_fill_closest", "gap_fill_forward",
    "gap_fill_identical", "headline_metrics", "lsh_bucket_health",
    "minhash_accuracy", "monthly_rollup", "multimodal_decode_png",
    "multimodal_metadata", "multimodal_video_decode", "pack_sequences",
    "periodic_samples", "pq_distortion", "pq_encode_streaming",
    "quality_score", "region_revenue", "salted_term_counts",
    "shipping_priority", "similarity_ann_lsh", "similarity_ivf_topk",
    "similarity_topk", "specimen_breakdown", "sq8_encode_streaming",
    "status_totals", "substring_dedup", "substring_dup_report",
    "text_fingerprints", "text_pii_stats", "text_quality_flags",
    "text_term_stats", "top_revenue_customers", "training_corpus_clean",
    "transition_matrix", "urim_projection",
]

_DEMOTED = sorted(
    _demoted_for_round(_ROUND), key=lambda n: (n not in _PREV_DEMOTED, n)
)


def _driver_window_order() -> None:
    oracled = [n for n, d in QUERIES.items()
               if d.oracle is not None and n not in _DEMOTED]
    demoted = [n for n in _DEMOTED if n in QUERIES]
    rows_only = [n for n, d in QUERIES.items() if d.oracle is None]
    assert len(oracled) <= 50, (
        f"driver window oversubscribed: {len(oracled)} oracled entries "
        "outside _DEMOTED; shrink _WINDOW_PINNED or grow the pool"
    )
    # Also bound EVERY FUTURE round's window at import time: pins expire
    # at the bump, so a future round's size is |oracled| − |names NOT in
    # that round's checked class| with NO pin carve-out
    # (_demoted_for_round excludes pins from its pool, which models THIS
    # round; for the look-ahead that would overcount the window by one
    # per current pin sharing the future round's class). Round 7 shipped
    # with a 51-entry round-8 window because only a test (not this
    # assert) looked ahead — hand-added parities must fail HERE. One
    # iteration per class covers the full cycle (period 2: next round;
    # period 3: the next two).
    n_oracled = sum(1 for d in QUERIES.values() if d.oracle is not None)
    classes = _parity_classes()
    for ahead in range(1, _PARITY_PERIOD):
        checked_class = classes[(_ROUND + ahead) % _PARITY_PERIOD]
        future_window = sum(
            1 for n, d in QUERIES.items()
            if d.oracle is not None and n in checked_class
        )
        assert future_window <= 50, (
            f"round-{_ROUND + ahead} window would hold {future_window} "
            "oracled entries (> 50): rebalance the demotion classes"
        )
    reordered = {n: QUERIES[n] for n in (*oracled, *demoted, *rows_only)}
    assert len(reordered) == len(QUERIES)
    QUERIES.clear()
    QUERIES.update(reordered)


_driver_window_order()
