"""Physical-plan shape guards for the scale-critical queries.

PLANS.md documents the intended plan for each flagship query; these
tests pin the properties that make those plans survive a 100 TB /
1000-executor scale-up, so a future edit cannot silently regress them:

* no BroadcastNestedLoopJoin / CartesianProduct on any corpus-sized
  path (the one allowed BNLJ is ``corpus_mix_temperature``'s 1-row
  min(count) crossed against the tiny per-source count table;
  ``similarity_topk`` lost its query-set BNLJ in round 3 when scoring
  moved into a MapInPandas matmul);
* distributed top-k (``TakeOrderedAndProject``), never a global
  single-partition window over all customers;
* shuffle budgets: upper bounds on ``Exchange hashpartitioning``
  counts (AQE's initial plan — deterministic at analysis time).

Counts are UPPER bounds: fewer exchanges (e.g. a reused exchange) is
progress, more is a regression.
"""

from __future__ import annotations

import pytest

from trendmachine_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return QUERIES[name].builder(spark, SF)._jdf.queryExecution().executedPlan().toString()


# name -> (max hash exchanges, forbid nested-loop/cartesian)
SHUFFLE_BUDGETS = {
    # 2 = the (group, partition_id) partial exchange + the final group
    # exchange — BOTH post-aggregation (~|groups| x |partitions| rows);
    # the 6M-row map-side combine happens before the first one
    "pricing_summary": (2, True),
    "daily_rollup": (2, True),
    # r4 bucket-cap guard: the (band, bucket) window feeds THREE
    # consumers (chain-lag branch + both small-join sides), and the
    # static initial plan repeats the sig+bucket subtree per consumer
    # (3 x 2 exchanges) + the final distinct. At RUNTIME AQE's stage
    # cache reuses the duplicated shuffles (verified: final adaptive
    # plan shows ReusedExchange, 6 materialized stages not 13); the
    # budget pins the static shape only.
    # r6: sharded chain + localCheckpoint lineage truncation — the
    # signature subtree is materialized once (4 = sizes agg + two
    # self-join sides + intra-chain window; bounds ride the broadcast)
    "dedup_minhash_lsh": (4, True),
    # one bucket shuffle: MapInPandas bucket bits (literal hyperplane
    # matmul) -> grouped gram-matmul pair scorer; no join operator
    "dedup_embedding_cosine_bucketed": (1, True),
    # 2 upstream (capture normalize + rollup; persisted/reused in bench)
    # + 1 for the matrix itself — the operator adds ONE exchange.
    "transition_matrix": (3, True),
    "event_asof_join": (1, True),
    "event_range_join": (2, True),
    # repartition(id) satisfies distinct + id-window (subset
    # partitioning). r5 guard = two-phase bucketed doc-freq count
    # (_candidate_rows: 8-byte phase-A exchange, exact string phase B)
    # + broadcast anti-join + one explicit shingle repartition. r14:
    # the localCheckpoint moved BEFORE the guard (the r6 after-guard
    # checkpoint ran the explode+dedup+window pipeline 3x inside the
    # checkpoint job — probe branch + both guard phases); the guard and
    # the shingle repartition now stay lazy into the self-join, so the
    # static plan carries them per join side (7 = 2x(guard _hh agg +
    # guard _df agg + shingle repartition) + final pair agg). At
    # RUNTIME the two sides canonicalize to the SAME shingle exchange
    # and AQE materializes it once (ReusedExchange — pinned below in
    # test_ngram_selfjoin_reuses_one_exchange); budget pins the static
    # shape only.
    "dedup_ngram_jaccard": (7, True),
    "dedup_containment": (7, True),  # same inverted-index core as jaccard
    # per-source counts agg + the docs-side broadcast join; the one
    # BNLJ is the 1-row min(count) crossed against the tiny counts
    # table, so nested-loop is NOT forbidden here (corpus side is a
    # BroadcastHashJoin — asserted separately below)
    "corpus_mix_temperature": (2, False),
    # one bucket shuffle into the grouped packing scan
    "pack_sequences": (1, True),
    # pack scan (1 bucket exchange) + doc_id join (2) + pack_id concat
    # agg (1); text moves exactly once, in the join
    "packed_text": (4, True),
    # corpus scores via MapInPandas without shuffling; one exchange
    # for the per-query top-k window
    "similarity_topk": (1, True),
    # PQ/ADC (r11): encode + LUT scoring are chained MapInPandas with
    # zero exchanges (codebooks/queries ride as literals); the only
    # exchange is the per-query top-k window over task-pruned rows
    "similarity_pq_topk": (1, True),
    # equal-byte-budget PQ at K=256 (r13): same plan skeleton as
    # similarity_pq_topk — the bigger codebooks are still driver-side
    # literals, so the code budget must never change the exchange
    # count
    "similarity_pq256_topk": (1, True),
    # bounded (subspace, code) partials -> two tiny aggregations; the
    # corpus itself never shuffles
    "pq_distortion": (2, True),
    # IVF+PQ (r11): fused cell+code encode is zero-shuffle, the probe
    # table joins as a BROADCAST on cell (no corpus exchange), scoring
    # is a LUT-gather map; the one exchange is the rank window. The
    # cell join must never become a shuffle join (forbid NLJ too)
    "similarity_ivfpq_topk": (1, True),
    # two-stage (r11): stage-1 PQ window + stage-2 rank window; the
    # candidate table re-joins the corpus as a BROADCAST (no corpus
    # exchange in the exact stage)
    "similarity_pq_rerank": (2, True),
    # density-adaptive two-stage (r14): the plateau-band window
    # partitions by query_id exactly like stage-1's rank window, so it
    # REUSES that exchange — same budget as the fixed-expand form
    # (stage-1 window + stage-2 rank window), candidate broadcast,
    # corpus never shuffles
    "similarity_pq_rerank_auto": (2, True),
    # two-stage over SQ8 candidates (r13): same shared exact stage —
    # stage-1 SQ8 window + stage-2 rank window, candidate broadcast,
    # corpus scanned twice and shuffled never
    "similarity_sq8_rerank": (2, True),
    # density-adaptive SQ8 two-stage (r14): band window rides stage-1's
    # query_id partitioning — same budget as the fixed form
    "similarity_sq8_rerank_auto": (2, True),
    # filtered ANN, selector path (r14): the predicate pushes into the
    # fused compressed scan — sq8_topk's exact shape, ONE rank window
    "similarity_sq8_filtered": (1, True),
    # filtered ANN, post-filter (r14): full-corpus stage-1 (1 rank
    # window) + broadcast of the tiny stage-1 onto the label scan +
    # the re-rank window — 2 exchanges, corpus never shuffles
    "similarity_sq8_filtered_post": (2, True),
    # density-adaptive IVF+PQ two-stage (r14): cell-pruned compressed
    # stage-1 (broadcast probe join + rank window) + band + exact rank
    # window — the FAISS-standard serving stack, still two exchanges
    "similarity_ivfpq_rerank_auto": (2, True),
    # residual IVFPQ (r12): identical skeleton to ivfpq_topk — fused
    # zero-shuffle encode, broadcast probe join, LUT+centroid-dot map,
    # ONE rank-window exchange
    "similarity_ivfpq_residual_topk": (1, True),
    # SQ8 (r12): literal scale vector, fused encode+score+top-k map —
    # the brute_force_topk shape, ONE rank-window exchange
    "similarity_sq8_topk": (1, True),
    # IVF+SQ8 (r12): fused cell+code encode, broadcast probe join,
    # exact-int scoring map, ONE rank-window exchange
    "similarity_ivfsq8_topk": (1, True),
    # at-rest serve (r11): pruned file scan + broadcast probe join +
    # LUT scoring map; the one exchange is the rank window (partition
    # pruning asserted separately below)
    "similarity_ivfpq_index": (1, True),
    # cross-corpus near-dup (r14, sided rewrite in the optimization
    # round): the ONE sided band table + candidate pairs are
    # checkpoint-truncated, so the static plan holds the conditional-sum
    # bucket agg, the (band, bucket) candidate join, and the hashed
    # verify joins — ≤4 exchanges, no NLJ/cartesian anywhere
    "dedup_cross_corpus": (4, True),
    # symmetric merge decision report (r14): co-partitioned md5
    # equi-join (2) + within-B hash keeper window (1) + the near-dup
    # leg's checkpointed chain (4) + the final doc_id reassembly — no
    # broadcast assumption on either corpus, no NLJ/cartesian
    "corpus_merge_report": (8, True),
    # merge-shape health metric (r14, sided rewrite in the optimization
    # round): ONE sided signature pipeline feeding one conditional-sum
    # (band, bucket) agg + one band-sized final agg — ≤5 exchanges
    # (now well under budget), nothing doc- or pair-sized crosses the
    # wire
    "cross_corpus_bucket_health": (5, True),
    # incremental append (r14): the SERVE plan is the at-rest reader
    # verbatim — pruned file scan over base+appended files, broadcast
    # probe join, LUT map, ONE rank-window exchange (the build+append
    # ran at construction time, memoized per process)
    "similarity_ivfpq_append": (1, True),
    # canonicalization rides the scan; the count(DISTINCT raw_md5)
    # plans as Spark's two-phase distinct aggregate — exchange on
    # (norm_md5, raw_md5) then on norm_md5, both moving 32-char
    # digests with map-side partial dedup, never the text
    "dedup_exact_norm": (2, True),
    # pure per-row projection — no exchange at all
    "text_profile": (0, True),
    # explode + element_at chunker: pure map stage, zero exchanges
    "chunk_documents": (0, True),
    # r10 histogram shape: docs cross the wire ONCE as map-combined
    # (grp, chars) counts, then a second tiny exchange on grp for the
    # running-count window (reused by the final agg). Two exchanges,
    # but the second moves distinct lengths, not documents — the old
    # 1-exchange row_number sort serialized on the group count
    "corpus_stats": (2, True),
    # union of three branches: minhash (now 5 static with the r4
    # bucket-cap window, AQE-reused at runtime) + simhash (2 + its
    # distinct) + embedding bucket shuffle (1); union adds no exchange
    "dedup_multi_signal": (9, True),
    # seg doc-freq agg (1) + probe-side seg exchange if the hot set
    # outgrows broadcast (at sf it's a BroadcastHashJoin, 0) + final
    # doc_id reassembly (1); +1 slack for a non-broadcast hot join
    "dedup_segments": (3, True),
    # suffix-array pass (r7): phase-A hashed bucket count + exact _g
    # recount of the candidate subset + ONE _g exchange for the
    # lag/lead LCP window (+ doc_id agg/join for the profile)
    "dup_span_profile": (4, True),
    "dup_span_histogram": (4, True),
    "suffix_group_stats": (2, True),
    # ivf_assign is a zero-shuffle MapInPandas matmul (literal centroid
    # matrix, brute_force_topk idiom); the pair stage is ONE cell
    # shuffle into a blocked per-cell gram matmul (applyInPandas)
    "dedup_semantic": (1, True),
    # semantic pairs (1 exchange) + the two split joins as BROADCASTS
    # of the tiny pair side against the zero-shuffle md5 split
    # projection (one broadcast-exchange each); never sort-merge — a
    # shuffle join here would move the documents scan on pair keys
    "split_semantic_leakage": (3, True),
    # two map-combined hash aggs: corpus -> word counts, distinct
    # words -> pair counts; no joins, no windows
    "bpe_pair_stats": (2, True),
    # word-count agg (x2 branches: top-k + corpus total; identical
    # subtrees may reuse); the 1-row total rides a broadcast cross join
    # (BNLJ allowed, same pattern as corpus_mix_temperature) and the
    # rank window only ever sees the top_k rows
    "vocab_coverage": (2, False),
    # every exchange is delta- or candidate-bounded: delta signatures /
    # hash-window / shingle-set aggs + the candidate verify joins. The
    # corpus side stays exchange-free (narrow-fold signatures probing
    # broadcast delta tables; asserted directly by
    # test_minhash_narrow_matches_explode's zero-exchange check)
    "dedup_incremental": (11, True),
    # ONE user exchange: the three stacked conditional step-minima
    # windows and the final groupBy all reuse it
    "event_funnel": (1, True),
    # repartition(user) serves the (user, day) dedup + first-day window
    # (subset partitioning); + the (cohort, offset) distinct-count agg
    "event_retention": (2, True),
    # 2 upstream (normalize + rollup, shared/persisted in bench) + the
    # url window clustering; the moving-average frame adds NO exchange
    # of its own beyond the url partitioning
    "daily_moving_avg": (3, True),
    # typed from_json is a pure projection; one map-combined type agg.
    # test_event_props_scan_pruned asserts the 3-column ReadSchema
    "event_props_stats": (1, True),
    # ONE user exchange shared by gap-flag window, running session-id
    # window, and the (user, sid) groupBy (subset clustering) + the
    # map-combined bucket agg — the histogram shape is exactly what
    # avoids a global quantile sort
    "session_stats": (2, True),
    # candidate-bounded signature joins + the unguarded exact-jaccard
    # pair table (diagnostic, not a production path); +4 static copies
    # from the r4 bucket-cap window (AQE-reused at runtime)
    "minhash_accuracy": (12, True),
    # centroid-sum agg (labels x dims, broadcast back) + per-vector
    # dot/norm agg; no corpus self-join
    "embedding_outliers": (3, True),
    # broadcast segment-customer + broadcast filtered orders into the
    # lineitem stream; ONE order-key agg exchange; distributed top-10
    # asserted below
    "shipping_priority": (1, True),
    # native session_window: one user-keyed session-merge aggregation
    "event_session_windows": (1, True),
    # single Expand (4 grouping sets) + one hash agg exchange on the
    # expanded keys + the upstream normalize exchange
    "status_month_cube": (2, True),
    # the whole card is one scan -> one group exchange (quality rides
    # as a Column expression, no join; count-distinct reuses the keys)
    "corpus_card": (1, True),
    # linear model scoring is a pure projection
    "quality_score": (0, True),
    # one group exchange; the WindowGroupLimit map-side group-limit is
    # asserted separately below
    "top_quality_docs": (1, True),
    # exact-substring dedup: windows are COUNTED, never paired, so
    # there is no self-join to guard; r5 replaced the gram count-window
    # with the map-combined agg + semi-join, and r6's auto-salt
    # resolution materializes the dup-gram agg behind an eager
    # checkpoint, leaving one doc-id exchange (islands + final agg
    # ride it) in the static plan
    "substring_dup_report": (1, True),
    # + the token/covered anti-join's exchange
    "substring_dedup": (3, True),
    # r7 additions. BPE training: every iteration materializes behind
    # an eager checkpoint, so the visible static plan is checkpoint
    # scans + unions/top-k — ZERO exchanges here pins exactly that
    # (the per-iteration work is vocabulary-sized by construction)
    "bpe_train_merges": (0, True),
    "bpe_segmented_vocab": (0, True),
    # r8 corpus encode: the checkpointed vocab segment table rides a
    # size-picked BroadcastHashJoin onto exploded corpus words (at web
    # scale a too-big vocab degrades to a word-key SMJ — one more
    # exchange there would still be the intended plan); the only
    # pinned exchange is the per-doc map-combined count/sum agg
    "bpe_encode": (1, True),
    # the train-side gram-count agg materializes behind an eager
    # checkpoint (r8: it feeds THREE consumers — score join, context
    # rollup, vocab scalar — and would re-execute the corpus explode
    # per consumer otherwise), so the static plan shows checkpoint
    # scans + the ctx rollup, the V distinct agg and the held-side
    # per-doc agg; the score/ctx joins ride broadcast at sf and
    # degrade to key-partitioned SMJs at scale. The 1-row V scalar
    # rides the corpus_mix_temperature BNLJ pattern (allowed)
    "lm_familiarity": (3, False),
    # pure per-row regex projection
    "redact_pii": (0, True),
    # planting + redaction compose into one zero-exchange projection
    "redact_pii_planted": (0, True),
    # one map-combined agg on n_shards keys
    "training_shards": (1, True),
    # r10 perceptual-hash family: the hash table is a zero-exchange
    # mapInPandas chain (the synth rebalance is round-robin, uncounted)
    "multimodal_image_hash": (0, True),
    # one hash exchange for the (ahash_hi, ahash_lo) family window
    "dedup_image_phash": (1, True),
    # distinct-hash collapse (r9 simhash shape applied up front): the
    # hash distinct + the qualifying-pair distinct; member expansion
    # rides broadcast at sf, +1 slack for the within-family join
    # degrading to SMJ at scale
    "dedup_image_phash_near": (3, True),
    # pure per-asset mapInPandas feature pass
    "multimodal_audio_features": (0, True),
    # zero-exchange fingerprint pass + ONE signature-window exchange
    "dedup_audio_fingerprint": (1, True),
    # r11: signatures hash DECODED pixels and the chain md5 is computed
    # IN-WORKER (video_clip_signature) — the doc_id agg exchange is
    # gone; only the family-window exchange remains
    "dedup_video_frames": (1, True),
    # r11 real video decode: per-clip mapInPandas chain, zero exchanges
    # (the synth rebalance is round-robin, uncounted)
    "multimodal_video_decode": (0, True),
    # r11 frame-containment pairs; r12 adds the max_frame_freq guard
    # with TWO materialization points (raw fingerprints + guarded
    # postings — the hot-set countDistinct would otherwise instantiate
    # per self-join side, measured 7 exchanges). Executed plan: 3
    # (self-join key + pair agg + counts agg); +1 slack for a count
    # join degrading from broadcast to SMJ at scale
    "dedup_video_near": (4, True),
}

# Queries whose round-2..4 form used a count/row_number window
# partitioned by the corpus-wide gram/shingle key — the one skew shape
# AQE cannot split (a boilerplate gram's 10^8 occurrences sort+buffer
# in ONE task before the frequency filter discards them). Round 5
# replaced each with a map-combined aggregation + (broadcast) join;
# this guard pins the replacement: no window operator may ever
# partition by the hot-key column again. Per-doc windows (doc_id) stay
# legal — their partitions are bounded by document length.
HOT_KEY_WINDOW_FORBIDDEN = {
    "dedup_ngram_jaccard": ("shingle",),
    "dedup_containment": ("shingle",),
    "substring_dup_report": ("gram",),
    "substring_dedup": ("gram",),
    "training_corpus_clean": ("gram",),
}


@pytest.mark.parametrize("name", sorted(HOT_KEY_WINDOW_FORBIDDEN))
def test_no_hot_key_window_partitions(spark, name):
    plan = _plan(spark, name)
    for col in HOT_KEY_WINDOW_FORBIDDEN[name]:
        assert f"windowspecdefinition({col}#" not in plan, (
            f"{name}: window partitioned by corpus-wide key '{col}' — "
            "single-task skew on hot grams; use groupBy+join instead"
        )


# Queries whose plan touches the LSH (band, bucket) key: since round 6
# every window over it must ALSO carry the _shard column (either as a
# partition key — the intra-shard chain — or as the order key of the
# shards-sized bounds window), so no window task ever materializes a
# hot bucket's full member list. This closes the last corpus-key
# window that sat on a default path (the pre-r6 count+lag chain).
LSH_WINDOW_SHARDED = (
    "dedup_minhash_lsh", "minhash_accuracy", "dedup_multi_signal",
    "dedup_clusters", "dedup_clusters_ensemble",
)


@pytest.mark.parametrize("name", LSH_WINDOW_SHARDED)
def test_lsh_bucket_windows_are_sharded(spark, name):
    import re

    plan = _plan(spark, name)
    specs = re.findall(r"windowspecdefinition\([^)]*", plan)
    for spec in specs:
        if re.search(r"\bbucket#", spec):
            assert "_shard#" in spec, (
                f"{name}: window over the LSH bucket key without _shard — "
                f"hot-bucket single-task regression: {spec[:160]}"
            )


@pytest.mark.parametrize(
    "name", ("dup_span_profile", "dup_span_histogram"))
def test_suffix_window_guarded_by_hot_anti_join(spark, name):
    """The suffix pass MAY window-partition by the gram key only
    because the hot set is anti-joined out first (groups bounded at
    max_group) — the guard must stay in the plan, and the exclusion
    must ride a broadcast (the hot set is tiny by construction)."""
    plan = _plan(spark, name)
    assert "windowspecdefinition(_g#" in plan
    assert "LeftAnti, BuildRight" in plan, (
        f"{name}: hot-gram anti-join guard missing upstream of the "
        "suffix window")


@pytest.mark.parametrize("name", ("dedup_ngram_jaccard", "dedup_containment"))
def test_ngram_selfjoin_reuses_one_exchange(spark, name):
    """r14 checkpoint-before-guard shape: the posting self-join's two
    sides must canonicalize to ONE materialized shingle exchange
    (ReusedExchange in the adaptive final plan), the pair join must be
    a shuffled-hash join (never a driver broadcast of the full posting
    table), and the hot-shingle guard must stay a broadcast anti-join."""
    df = QUERIES[name].builder(spark, SF)
    qe = df._jdf.queryExecution()
    static = qe.executedPlan().toString()
    assert "LeftAnti, BuildRight" in static, (
        f"{name}: hot-shingle guard lost its broadcast anti-join")
    df.collect()
    final = qe.executedPlan().toString()
    assert "ReusedExchange" in final, (
        f"{name}: self-join sides no longer share the shingle exchange")
    assert "ShuffledHashJoin [shingle" in final, (
        f"{name}: pair self-join is not a shuffled-hash join on shingle")


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGETS))
def test_shuffle_budget(spark, name):
    budget, forbid_nlj = SHUFFLE_BUDGETS[name]
    plan = _plan(spark, name)
    n = plan.count("Exchange hashpartitioning")
    assert n <= budget, f"{name}: {n} hash exchanges > budget {budget}"
    if forbid_nlj:
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"


def test_top_revenue_is_distributed_topk(spark):
    plan = _plan(spark, "top_revenue_customers")
    # the round-1 regression: a global no-partition window over every
    # customer aggregate; the fix is orderBy+limit -> TakeOrderedAndProject
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_event_props_scan_pruned(spark):
    # the JSON parse must not widen the scan: only the three consumed
    # columns may reach the parquet reader
    plan = _plan(spark, "event_props_stats")
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = sorted(f.split(":")[0] for f in m.group(1).split(",") if f)
    assert cols == ["event_type", "props", "value"], cols


def test_top_quality_docs_group_limit_pushed(spark):
    # rank-filter must trigger Catalyst's WindowGroupLimit rewrite:
    # per-partition group heaps BEFORE the shuffle, so the exchange
    # carries <= k rows per (group, input partition), not the corpus
    plan = _plan(spark, "top_quality_docs")
    assert "WindowGroupLimit" in plan


def test_shipping_priority_topk_is_distributed(spark):
    plan = _plan(spark, "shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_vocab_coverage_topk_is_distributed(spark):
    # the vocab cut must be per-partition heaps + merge, never a global
    # sort of the whole vocabulary
    plan = _plan(spark, "vocab_coverage")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_asof_join_has_no_join_operator(spark):
    # the union+window as-of join must not plan any join at all
    plan = _plan(spark, "event_asof_join")
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, f"asof join planned a {op}"


def test_pricing_summary_pushes_filters_to_scan(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan

def test_corpus_mix_docs_side_is_broadcast_join(spark):
    # the corpus must join the tiny rate table via broadcast hash join —
    # never shuffle on source (a skewed key at corpus scale)
    plan = _plan(spark, "corpus_mix_temperature")
    assert "BroadcastHashJoin" in plan


def test_similarity_topk_scores_without_corpus_shuffle(spark):
    # scoring happens in MapInPandas directly over the scan; the join-
    # based formulation (broadcast queries x candidates) would plan a
    # BNLJ and an interpreted higher-order dot product
    plan = _plan(spark, "similarity_topk")
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_segment_dedup_hot_set_is_broadcast_join(spark):
    # the corpus-sized segment table joins the (df > cap)-filtered
    # boilerplate set — at test sf that set broadcasts; the full
    # segment-frequency table must never be the join's build side
    plan = _plan(spark, "dedup_segments")
    assert "BroadcastHashJoin" in plan


def test_semantic_dedup_pair_stage_is_grouped_matmul(spark):
    # cell assignment is a MapInPandas matmul (zero corpus shuffles);
    # the pair stage is a grouped-map over cells (blocked gram matmul)
    # — no join operator of any kind, and especially no corpus x corpus
    # nested loop; the interpreted-HOF equi-join formulation measured
    # 81.8 s vs 1.9 s on the x10 corpus
    plan = _plan(spark, "dedup_semantic")
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" in plan
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, f"dedup_semantic planned a {op}"


def test_ivfpq_index_scan_is_partition_pruned(spark):
    """The at-rest IVFPQ serve must read ONLY the probed cells: the
    file scan plans with PartitionFilters on the raw cell column and
    its INSET holds fewer cells than the index has (a cast before the
    filter — or filtering after the join — would forfeit this and
    read the whole index)."""
    import re

    plan = _plan(spark, "similarity_ivfpq_index")
    m = re.search(r"PartitionFilters: \[cell[^\]]*INSET ([^\]]*)", plan)
    assert m, f"no cell INSET PartitionFilters in plan:\n{plan[:2000]}"
    n_cells_read = len([t for t in m.group(1).split(",")
                        if t.strip().rstrip(")").strip().isdigit()])
    assert 0 < n_cells_read < 16, m.group(1)


def _stage_nodes(final_plan: str, anchor: str) -> list[str]:
    """Node lines of the query stage that holds the first ``anchor`` node
    of an adaptive final plan: the anchor's subtree, cut below each child
    query stage (a stage boundary)."""
    lines = final_plan.split("== Initial Plan ==")[0].splitlines()
    depth = lambda line: len(line) - len(line.lstrip(" :+-"))  # noqa: E731
    start = next(i for i, line in enumerate(lines) if anchor in line)
    nodes, cut = [], None
    for line in lines[start + 1:]:
        d = depth(line)
        if d <= depth(lines[start]):
            break
        if cut is not None and d > cut:
            continue
        cut = d if "QueryStage" in line else None
        nodes.append(line.strip(" :+-"))
    return nodes


def test_dense_stage_runs_on_partition_count_tasks(spark):
    """The dense stage (spine window -> recurrence map) must run on
    ``_partition_count`` tasks at every shuffle parallelism. The
    pipeline scores the dense frame without a url repartition of its
    own, so the stage keeps whatever url exchange it inherits; an
    ENSURE_REQUIREMENTS one is coalesced by AQE to ONE task on
    report-sized inputs."""
    from pyspark.sql import functions as F

    from trendmachine_spark.pipeline import daily_series
    from trendmachine_spark.sources.captures import events_as_captures

    base = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        report = daily_series(events_as_captures(spark, SF), fill=2, policy="closest")
        parts = report.select(F.spark_partition_id().alias("p")).distinct().count()
        assert parts > 1, "the dense stage ran as one task"
        report.collect()
        final = report._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)
    stage = _stage_nodes(final, "MapInPandas")
    assert any(n.startswith("Window [last(chaos") for n in stage), stage
    coalesced = [n for n in stage if n.startswith("AQEShuffleRead coalesced")]
    assert not coalesced, f"AQE coalesced the dense stage's input: {stage}"


def test_url_exchange_skipped_for_few_literal_urls(spark):
    """The capture -> report stage takes its explicit-count url exchange
    only when the captures may hold at least that many urls: a build
    filtered to fewer url literals (a one-URL dashboard) would leave
    the surplus tasks empty, each still starting a Python worker."""
    from pyspark.sql import functions as F

    from trendmachine_spark.pipeline import _url_literal_count, daily_series
    from trendmachine_spark.sources.captures import events_as_captures

    caps = events_as_captures(spark, SF)
    urls = [r["url"] for r in caps.select("url").distinct().limit(3).collect()]
    one = caps.filter(F.col("url") == urls[0])
    assert _url_literal_count(caps) is None
    assert _url_literal_count(one) == 1
    assert _url_literal_count(caps.filter(F.col("url").isin(urls))) == 3
    assert _url_literal_count(caps.filter(F.col("status") == "200")) is None

    def forced(df):
        plan = daily_series(df)._jdf.queryExecution().executedPlan()
        return "REPARTITION_BY_NUM" in plan.toString()

    assert forced(caps)
    assert not forced(one)


@pytest.mark.parametrize("pane", ("monthly_rollup", "totals", "summary_stats",
                                  "content_value_counts", "specimen_breakdown",
                                  "first_last_capture", "headline_metrics"))
def test_dashboard_pane_reads_report_once(spark, pane):
    """A dashboard pane reads its report once: over a report that is not
    persisted, the final plan holds exactly one recurrence MapInPandas
    (a union or self-join of the report would run it once per branch),
    and no pane sorts globally (no range-partitioning exchange)."""
    from trendmachine_spark.operators import dashboard
    from trendmachine_spark.pipeline import daily_series
    from trendmachine_spark.sources.captures import events_as_captures

    report = daily_series(events_as_captures(spark, SF), fill=2, policy="closest")
    df = getattr(dashboard, pane)(report)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final
    assert "rangepartitioning" not in final, final


def test_url_exchange_runs_on_task_slots(spark):
    """At shuffle.partitions = 8, more than the session's task slots,
    the capture -> report url exchange runs on one task per slot: the
    full report has that one explicit-count exchange and no other, and
    a one-URL build, which skips it, has none. The scorer adds no
    exchange of its own, so the registry's recurrence queries, over
    densify's url-clustered output, shuffle the dense rows no second
    time (a repartition to the slot count would not match the spine
    window's 8-way exchange)."""
    import re

    from pyspark.sql import functions as F

    from trendmachine_spark.operators.recurrence import _partition_count
    from trendmachine_spark.pipeline import daily_series
    from trendmachine_spark.registry import QUERIES, clear_cache
    from trendmachine_spark.sources.captures import events_as_captures

    def by_num(plan: str) -> dict[str, int]:
        # plan_id -> count of each REPARTITION_BY_NUM exchange (a reused
        # exchange repeats its plan_id)
        return {pid: int(n) for n, pid in re.findall(
            r"Exchange hashpartitioning\(url#\d+, (\d+)\), REPARTITION_BY_NUM, \[plan_id=(\d+)\]",
            plan)}

    def plan_of(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    base = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    clear_cache()  # cached frames remember their shuffle
    try:
        caps = events_as_captures(spark, SF)
        n = _partition_count(caps)
        assert n == min(8, spark.sparkContext.defaultParallelism)

        report = daily_series(caps, fill=2, policy="closest")
        report.collect()
        final = plan_of(report).split("== Initial Plan ==")[0]
        assert list(by_num(final).values()) == [n], final

        url = caps.select("url").first()["url"]
        one = daily_series(caps.filter(F.col("url") == url), fill=2, policy="closest")
        assert "REPARTITION_BY_NUM" not in plan_of(one), plan_of(one)

        for name in ("resilience_daily_series", "multi_param_scoring"):
            plan = plan_of(QUERIES[name].builder(spark, SF))
            assert "REPARTITION_BY_NUM" not in plan, (name, plan)
    finally:
        clear_cache()
        spark.conf.set("spark.sql.shuffle.partitions", base)


def test_store_refresh_dedups_on_the_url_exchange(spark, tmp_path, monkeypatch):
    """A report-store refresh rebuilds its touched buckets from their
    re-read captures, deduplicated on (url, seq, ts). The dedup rides
    the rebuild's url exchange, which hash(url) already clusters: the
    final plan of a two-bucket rebuild has no (url, seq, ts) exchange,
    and one explicit-count url exchange, not one per repartition."""
    import re

    from pyspark.sql import functions as F

    from trendmachine_spark import sinks
    from trendmachine_spark.sources.captures import events_as_captures

    caps = events_as_captures(spark, SF)
    store, as_of, cut = str(tmp_path / "store"), "2024-01-30", "20240125000000"
    sinks.init_report_store(caps.filter(F.col("ts") < cut), store, as_of)
    delta = caps.filter(F.col("ts") >= cut).withColumn("_b", sinks._url_bucket())
    two = sorted(r[0] for r in delta.select("_b").distinct().limit(2).collect())
    delta = delta.filter(F.col("_b").isin(two)).drop("_b")

    built = []
    write = sinks.write_daily_report

    def capture(report, path, mode="overwrite"):
        built.append(report)
        write(report, path, mode)

    monkeypatch.setattr(sinks, "write_daily_report", capture)
    assert sinks.refresh_report_store(spark, store, delta, as_of) == two
    (report,) = built
    report.collect()
    final = report._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert not re.search(r"hashpartitioning\(url#\d+, seq#\d+L?, ts#\d+", final), final
    # a reused exchange repeats its plan_id
    by_num = set(re.findall(r"REPARTITION_BY_NUM, \[plan_id=(\d+)\]", final))
    assert len(by_num) == 1, final
