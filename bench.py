"""Benchmark harness (BASELINE.md protocol).

Runs the headline query set at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Protocol per BASELINE.md: first run discarded as JVM/codegen warmup,
value = per-query median of 3 timed runs, total = sum of medians.
Each run forces FULL computation via the noop sink (a bare
``count()`` would let Catalyst prune projections and undercount the
work).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
RUNS = 3
# Headline queries run MORE measured repeats (r6 verdict #1: driver
# vs builder same-code runs disagreed by 16% at sub-2 s query scale;
# per-query min/median/max over 5 runs makes host noise visible
# instead of silently folded into a single median).
HEADLINE_RUNS = 5

# One representative per operator family (SURVEY.md §2 / BASELINE.md).
# Names are stable across rounds for comparability (several now live
# in the extended registry tier; bench spans both tiers).
HEADLINE = [
    "flagship_top3_region",      # scan+join+agg+window (the reference's core)
    "q1_pricing_summary",        # aggregate
    "left_join_order_counts",    # outer join
    "asof_join_purchase_click",  # custom as-of join
    "running_customer_spend",    # window frames
    "top_orders_global",         # sort/limit
    "union_all_segments",        # set op
    "json_pack_events",          # JSON/scalar
    "session_windows_30m",       # event-time
    "ngram_jaccard_pairs",       # dedup exact
    "minhash_lsh_pairs",         # dedup LSH
    "cosine_topk_bruteforce",    # similarity
    "text_stats",                # text analysis
]

# Extension tier: the LLM-data-pipeline operators whose scale
# behavior should be tracked round-over-round (timed with the same
# median-of-3 protocol; reported under "extension_queries").
EXTENSION = [
    "simhash_neardup_pairs",     # portable-hash SimHash + blocking
    "dedup_components",          # iterative connected components
    "kmeans_assignments",        # 3-round Lloyd k-means
    "ivf_topk_embeddings",       # learned-cell IVF ANN (decimal-exact)
    "ivf_topk_fast",             # IVF ANN, double fast path
    "cosine_topk_fast",          # brute-force cosine, double fast path
    "multimodal_fake_features",  # Arrow mapInPandas kernel
    "sampling_pack",             # deterministic sampling family
    "training_data_ops_pack",    # shard packing / contamination / redaction
    "dedup_survivors",           # full dedup pipeline → materialized corpus
    "train_val_test_split",      # append-stable hash split
    "quality_report_orders",     # single-pass data-quality suite
    "sketch_distinct_rollup",    # HLL mergeable distinct rollup
    "cdc_upsert_state",          # CDC compaction (merge/upsert family)
    "scd2_user_status_history",  # SCD2 version build
    "doc_chunks_rag",            # sliding-window chunking
    "split_decontamination_check",  # split ⨉ contamination composition
    "runtime_pruned_revenue",    # runtime bloom-filter semi-join
    "cohort_retention_weekly",   # cohort retention matrix
    "frequent_bigrams",          # MG heavy hitters + exact verify
    "segment_price_outliers",    # per-group fence/z-score outliers
    "cosine_topk_quantized",     # int8-quantized ANN
    "cosine_topk_adc",           # asymmetric int8 ANN (r5w5)
    "funnel_3step_strict",       # ordered windowFunnel
    "event_transition_matrix",   # first-order transitions
    "trade_pagerank",            # iterative weighted PageRank
    "token_runs_expr",           # run-length encoding, array exprs
    "unigram_surprisal_scores",  # unigram-LM quality scoring
    "mixture_rebalance_hash",    # mixture rebalance, hash strategy
    "gapfill_daily_counts_zero",  # time-series grid densification
    "pairwise_corr_lineitem",    # exact-co-moment correlation
    "curation_funnel",           # 4-signal keep/drop composition
    "session_top_paths",         # sessionized path mining (r5)
    "weighted_sample_orders",    # A-ES weighted reservoir (r5)
    "strip_boilerplate_docs",    # corpus boilerplate rewrite (r5)
    "supply_communities_lpa",    # label-propagation communities (r5)
    "mmr_diverse_topk",          # MMR diversified retrieval (r5)
    "ewma_daily_revenue",        # trailing-EWMA smoothing (r5)
    "order_value_trend_by_priority",  # per-group OLS drift (r5)
    "standardized_embeddings",   # per-dim z-scoring, broadcast model (r5)
    "price_quantiles_by_priority",  # grouped exact quantile table (r5)
    "bigram_surprisal_scores",   # conditional-LM sequence quality (r5)
    "orderkey_skew_report",      # key-skew pre-flight diagnosis (r5)
    "loo_priority_encoding",     # leak-free target encoding (r5)
    "user_survival_km_weekly",   # censoring-aware KM retention (r5)
    "parts_bought_together",     # market-basket pair rules (r5)
    "ab_conversion_ztest",       # experiment readout, fold-hash arms (r5)
    "cuped_adjusted_lift_events",  # CUPED variance reduction (r5)
    "hashed_bow_vectors_docs",   # hashing-trick doc vectors (r5)
    "doc_clusters_hashed_bow",   # end-to-end text clustering (r5)
    "psi_price_drift",           # PSI numeric drift gate (r5)
    "trimmed_mean_price_by_priority",  # robust grouped mean (r5)
    "copurchase_triangles",      # triangle census on pair graph (r5)
    "event_audience_overlap",    # segment Jaccard matrix (r5)
    "benford_price_digits",      # Benford fabricated-amounts screen (r5)
    "gini_revenue_by_segment",   # revenue concentration (r5)
    "orderkey_sequence_gaps",    # ingest continuity audit (r5)
    "ks_price_drift_by_priority",  # nonparametric drift (KS) (r5)
    "source_entropy_by_lang",    # composition diversity (r5)
    "dedup_savings_report",      # dedup capacity-planning readout (r5)
    "event_audience_overlap_hll",  # sketch overlap twin (r5)
    "open_orders_daily",         # interval sweep-line concurrency (r5w2)
    "event_pattern_counts",      # MATCH_RECOGNIZE-style patterns (r5w2)
    "orders_fingerprint",        # anti-entropy content checksum (r5w2)
    "incremental_revenue_cdc",   # retraction-aware agg maintenance (r5w2)
    "orders_profile_drift",      # column-contract drift report (r5w2)
    # semdedup_decisions (the decimal oracle twin) is deliberately NOT
    # timed here: its correctness is battery-gated at sf0.01 and the
    # interpreted-decimal scoring costs ~4x the production path —
    # semdedup_fast below is the timed entry (the ivf fast/decimal
    # precedent, but without paying both at bench time).
    "bpe_segmented_vocab",       # BPE tokenizer training loop (r5w3)
    "packed_training_layout",    # sharded greedy sequence packing (r5w3)
    "temperature_mix_sources",   # alpha-smoothed source sampling (r5w3)
    "budget_selected_corpus",    # token-budget quality selection (r5w3)
    "semdedup_fast",             # semantic dedup, double fast path (r5w3)
    "corpus_datasheet",          # per-source dataset card rollup (r5w3)
    "capped_docs_per_source",    # per-domain frequency capping (r5w3)
    # orders_profile_drift_fast is battery-gated, not timed (r7): its
    # battery shape now JOINS the exact-NDV twin to verify the approx
    # NDVs in-band, so its wall time measures the verification
    # harness, not the single-pass production operator — the exact
    # twin above times the identical plan plus the Expand the fast
    # path exists to avoid.
    "bpe_encoded_docs",          # tokenizer encode at corpus scale (r5w3)
    "trending_brands_ewma",      # smoothed-momentum trending top-10 (r5w3)
    "quantized_recall_report",   # in-engine ANN evaluation (r5w3)
    "embedding_centroid_drift",  # embedding-space drift monitor (r5w3)
    "curriculum_stages_docs",    # quantile-cut curriculum staging (r5w3)
    "supplier_efficiency_skyline",  # Pareto frontier, 2-phase (r5w4)
    "copurchase_kcore",          # iterative k-core peel (r5w4)
    "copurchase_bfs_hops",       # multi-source bounded BFS (r5w4)
    "rp_topk_embeddings",        # 64→16 JL projection + exact topk (r5w4)
    "rp_topk_fast",              # same plan, double fast path (r5w5)
    "duplicate_span_report",     # cross-doc exact-substring spans (r5w5)
    "contaminated_span_report",  # span-level test-set leak masking (r5w5)
    "upsampled_mixture_docs",    # fractional-epoch upsampling (r5w5)
    "clean_corpus_pipeline",     # survivors -> span strip, e2e (r5w5)
    # countmin_user_event_counts / kmv_userdays_by_type /
    # dsir_selection_top100 (portable-hash
    # oracle variants) are battery-gated, not timed: the interpreted
    # polynomial hash costs 3-30x the production intrinsic (CMS pays
    # it per depth) — the fast twins below time the identical plans
    # on xxhash64 (the semdedup_fast / ivf_topk_fast precedent).
    "countmin_user_fast",        # CMS point estimates, xxhash64 (r5w6)
    "kmv_userdays_fast",         # KMV distinct sketch, xxhash64 (r5w6)
    "dsir_selection_fast",       # DSIR selection, xxhash64 (r5w6)
    "kcenter_diverse_selection",  # farthest-first diversity pick (r5w6)
    "kcenter_sampled_selection",  # Gonzalez-on-a-coreset scale path (r6)
    "entity_golden_parts",       # record linkage -> golden records (r6)
    # bootstrap_ci_order_value (the portable-hash oracle variant) is
    # battery-gated, not timed — the interpreted polynomial hash is
    # the known 3-30x tax (the countmin/kmv/dsir precedent); the
    # xxhash64 twin below times the identical plan.
    "bootstrap_ci_fast",         # distributed Poisson-bootstrap CI (r6)
    "conformal_intervals_orders",  # split-conformal intervals (r6)
    "pq_topk_embeddings",        # 32x product-quantized ANN (r5w6)
    "pq_topk_fast",              # production LUT scoring path (r6)
    "ivfpq_topk_embeddings",     # faiss shape: cells x codes, LUT (r6)
    "ddsketch_price_quantiles",  # relative-error quantile sketch (r5w6)
    # round-7 additions (privacy, drift, dedup, sketch, split tiers)
    "t_closeness_customer",      # ordered-EMD privacy gate (r7)
    "dp_counts_by_priority",     # seeded Laplace DP release (r7)
    "token_js_divergence_docs",  # smoothed KL/JS corpus divergence (r7)
    "cusum_daily_revenue",       # prefix-sum CUSUM changepoints (r7)
    "ngram_containment_pairs",   # directed containment join (r7)
    "cdc_chunks_docs",           # content-defined chunking (r7)
    # cms_join_size_view_click is battery-gated, not timed (r8): the
    # portable polynomial hash pays its 3-30x tax per depth across
    # TWO sketch builds (7.9 s of hash interpretation at sf0.1) —
    # cms_join_size_fast below times the identical plan on xxhash64
    # (the countmin/kmv/dsir precedent).
    "cms_join_size_fast",        # sketch join-cardinality, xxhash64 (r8)
    "stratified_exact_split_docs",  # exact-count eval split (r7)
    "label_centroids_mean_pool",  # chunk->doc embedding pooling (r7)
    "ess_doc_weights_by_lang",   # effective sample size (r7)
    "mad_outliers_event_value",  # robust MAD outlier screen (r7)
    # round-8 additions (curation rules, PII, interpolation, image
    # perceptual hash)
    "gopher_document_rules",     # Gopher document-shape rule suite (r8)
    "c4_clean_lines",            # C4 line-level cleaning (r8)
    "pii_scan_customer",         # typed PII census (r8)
    "pii_redact_customer",       # chained typed redaction (r8)
    "gapfill_daily_value_linear",  # linear-interp gap fill (r8)
    "image_dhash_dedup",         # perceptual-hash image dedup (r8)
    "image_dhash_neardup_pairs",  # banded image near-dup pairs (r8)
    "hybrid_rrf_retrieval",      # reciprocal-rank fusion ensemble (r8)
    "weighted_quantiles_lineitem",  # exact weighted order stats (r8)
    "ann_rerank_exact",          # retrieve-then-rerank serving (r8)
    # round-9 additions (URL curation, compressed-image decode,
    # in-engine classifier training, declarative hybrid serving)
    "url_normalize_dedup",       # canonical-URL dedup, pure exprs (r9)
    "url_domain_stats",          # eTLD+1 census (r9)
    "multimodal_png_decode",     # PNG inflate+unfilter round-trip (r9)
    "quality_classifier_train",  # 12-iter integer GD training loop (r9)
    "hybrid_serve_pipeline",     # YAML retrieve->fuse->rerank (r9)
    "normalized_dedup_documents",  # CCNet-normalized exact dedup (r9)
    "prefix_jaccard_pairs",      # AllPairs/PPJoin exact join (r9)
    "labeler_agreement_kappa",   # chance-corrected label audit (r9)
    # round-10 additions (PSL registered domains, in-engine langid)
    "url_domain_psl_stats",      # broadcast public-suffix census (r10)
    "langid_train",              # 5-head one-vs-rest GD loop (r10)
    "langid_confusion",          # train-then-score census (r10)
    "ccnet_perplexity_buckets",  # LM-surprisal terciles per lang (r10)
    "bt_preference_ratings",     # Bradley-Terry MM preference loop (r10)
    "multimodal_wav_decode",     # RIFF/PCM16 chunk-walk decode (r10)
    "audio_content_dedup",       # decoded-fingerprint audio dedup (r10)
    "multimodal_avi_decode",     # AVI/DIB frame extraction (r10)
    "labeler_agreement_alpha",   # Krippendorff multi-rater audit (r10)
    "image_resize_stats",        # 3-codec nearest-neighbor resize (r10)
    # round-11 additions (full-PSL default, frozen CCNet cutoffs,
    # codec-tier parity)
    "url_domain_full_psl",       # full-list-only suffix families (r11)
    "ccnet_frozen_buckets",      # stored-artifact frozen terciles (r11)
    "audio_resample_stats",      # linear-interp resample round-trip (r11)
    "video_content_dedup",       # keyframe dHash re-encode collapse (r11)
    "video_scene_changes",       # dHash Hamming clip segmentation (r11)
    "audio_silence_trim",        # energy-gated VAD trim round-trip (r11)
    "html_text_extraction",      # crawl step 0: HTML -> text (r11)
    "robots_compliance_gate",    # RFC 9309 parse + verdict (r11)
    "sft_chat_render",           # ChatML fold per conversation (r11)
    "sft_fim_transform",         # PSM fill-in-the-middle (r11)
    "mojibake_repair",           # gated charset inversion (r11)
    "paragraph_dedup_rewrite",   # Dolma paragraph-grain rewrite (r11)
    "langid_stored_model_serve", # parquet-artifact train/serve split (r11)
    "sft_chat_loss_spans",       # per-turn loss-mask offsets (r11)
    "video_motion_census",       # frame-diff temporal activity (r11)
    "compressed_payload_decode", # gzip/zlib sniff+inflate (r11)
    # stream_frozen_buckets_parity is battery-gated, not timed (the
    # streaming-parity house rule: wall measures the harness)
    # audio_frame_energy / video_frame_stats share these two queries'
    # decode plan shape (same mapInPandas kernel, frame-grain emit) —
    # battery-gated, not separately timed
    # cosine_neardup_pairs is battery-gated, not timed (r7): its
    # battery config deliberately trades blocking away for PROVABLE
    # completeness (2 planes = 4 buckets/table -> near-all-pairs
    # decimal rescore at the 0.45 threshold) so the exact oracle can
    # hash-check it; the production 0.95-threshold 12x4 config is
    # the timed-shape representative via cosine_topk_lsh.
    # stream_restart_recovery_parity is battery-gated, not timed: it
    # runs a full stop/restart streaming cycle with filesystem
    # side effects — wall time measures the harness, not an operator.
    # masked_decontamination_proof is battery-gated, not timed: it
    # re-runs the contamination detection AND the post-mask overlap
    # join (~2x contaminated_span_report's cost) purely to prove
    # residual == 0 — the timed entry above covers the plan shape.
    # contrastive_pairs_embeddings is battery-gated, not timed: decimal
    # scoring over all within-cell pairs (~25 s at sf0.1) — semdedup_fast
    # already times this exact plan shape on the production kernel.
]

# Pinned regression-sensitive core of the extension tier (r5 verdict
# #7): membership is FIXED so round-over-round comparison stays
# signal-dense as the long tail grows. Everything in EXTENSION but
# not here reports under "extension_other".
EXTENSION_CORE = [
    "simhash_neardup_pairs",
    "dedup_components",
    "dedup_survivors",
    "kmeans_assignments",
    "ivf_topk_embeddings",
    "ivf_topk_fast",
    "cosine_topk_fast",
    "cosine_topk_quantized",
    "cosine_topk_adc",
    "multimodal_fake_features",
    "training_data_ops_pack",
    "curation_funnel",
    "trade_pagerank",
    "bpe_segmented_vocab",
    "bpe_encoded_docs",
    "packed_training_layout",
    "semdedup_fast",
    "countmin_user_fast",
    "kmv_userdays_fast",
    "dsir_selection_fast",
    "kcenter_diverse_selection",
    "pq_topk_embeddings",
    "pq_topk_fast",
    "ivfpq_topk_embeddings",
    "ddsketch_price_quantiles",
]

RECALL_K = 3

# Previous-round headline anchors — the regression-decidability
# anchor (r6 verdict #1c). Values: the round-10 BUILDER closing-run
# medians (BENCH_r10_builder.json, 1.08x/1.01x calibration — quiet),
# per the re-base-from-the-newest-quiet-record protocol; that run
# read 0 REGRESSED / 0 suspects / 10 IMPROVED under the new
# mutator-CPU gate, so every move here is a same-gate re-base, not
# an adjudication.
#
# (r10 history, kept for the next adjudication: the r9 DRIVER record
# — 11.546 s vs the builder's 7.928 at the same HEAD — was the
# loaded/GC-heavy-host signature and would only absorb slack.)
#
# r10 adjudication of the four BENCH_r09 driver REGRESSED flags
# (text_stats, cosine_topk_bruteforce, simhash_neardup_pairs,
# bpe_segmented_vocab), per the BASELINE.md r9 template:
# (a) git evidence — diff 59611ae..HEAD touches none of the four
#     code paths (confirmed independently by the r9 review);
# (b) same-code band — the r9 builder close at the SAME HEAD read
#     all four in-band (text_stats 0.245/0.33 cpu, cosine 1.288/1.8,
#     simhash 1.934/6.56, bpe 0.667/2.65);
# (c) isolated CPU-measured re-runs at this round's HEAD (idle host,
#     16g heap, bench session confs): text_stats med 0.423 wall /
#     1.15 cpu of which 0.61 was JIT (mutator ~0.54 — cold-C2, the
#     documented isolated-run inflation), cosine 1.400/2.59 (gc 0.22
#     jit 0.55), simhash 2.083/7.23, bpe 1.011/5.12 — every wall
#     within or below the same-code variance band established in
#     (b), nothing approaching the driver's 1.346/2.457/4.944 spikes.
# Verdict: run environment, not code, on all four. No code changed
# in this commit (the ADVICE discipline: anchor moves ship separately
# so they can never absorb a same-range regression); values re-base
# to the quiet r9 builder record below.
PREV_DRIVER_QUERIES = {
    "flagship_top3_region": 1.724,
    "q1_pricing_summary": 0.501,
    "left_join_order_counts": 0.4,
    "asof_join_purchase_click": 0.491,
    "running_customer_spend": 0.41,
    "top_orders_global": 0.169,
    "union_all_segments": 0.16,
    "json_pack_events": 0.401,
    "session_windows_30m": 0.392,
    "ngram_jaccard_pairs": 0.793,
    "minhash_lsh_pairs": 1.532,
    "cosine_topk_bruteforce": 1.592,
    "text_stats": 0.251,
}

# Extension-tier regression anchors (r7 verdict #2): the round-7
# BUILDER closing-run medians (BENCH_r07_builder.json — the quietest
# r7 measurement, the CAL_REF "re-baseline from the quietest run"
# protocol applied to query anchors). Covers the PINNED core (25)
# plus the 12 round-7 query families — 36 per-query verdicts, so
# extension_core_total_sec stops being the only extension-tier
# regression signal.
PREV_EXT_QUERIES = {
    # pinned EXTENSION_CORE
    "simhash_neardup_pairs": 1.909,
    # r9 adjudication of the r8-driver REGRESSED flag: ZERO code
    # changes touch this query between the anchor run and the flag
    # (git diff e8e336f..59611ae — dedup.py untouched); three
    # same-code runs read 1.815 / 1.821 / >1.97 wall and 5.04-5.36
    # CPU, i.e. the anchor was the low tail. Value re-based per round
    # from the newest quiet builder record (currently r9 close).
    "dedup_components": 1.631,
    "kmeans_assignments": 3.032,
    "ivf_topk_embeddings": 3.457,
    "ivf_topk_fast": 2.658,
    "cosine_topk_fast": 0.515,
    "multimodal_fake_features": 0.365,
    "training_data_ops_pack": 1.194,
    "dedup_survivors": 1.669,
    "cosine_topk_quantized": 0.779,
    "cosine_topk_adc": 1.327,
    "trade_pagerank": 2.28,
    # re-based r8-close: unigram_surprisal now persists its (doc,
    # term) tf (2.7-3.7× faster at 200k+ docs and in cold-JVM
    # isolation; at the 5k-doc fixture the parallel materialization
    # overhead dominates, so the timed entry reads higher by design)
    "curation_funnel": 2.061,
    "bpe_segmented_vocab": 0.751,
    "packed_training_layout": 0.305,
    "semdedup_fast": 3.222,
    "bpe_encoded_docs": 1.646,
    "countmin_user_fast": 0.429,
    "kmv_userdays_fast": 0.598,
    "dsir_selection_fast": 0.582,
    "kcenter_diverse_selection": 3.163,
    "pq_topk_embeddings": 1.129,
    "pq_topk_fast": 0.611,
    "ivfpq_topk_embeddings": 0.871,
    "ddsketch_price_quantiles": 0.493,
    # round-7 query families (from extension_other)
    # r9 adjudication: the m>=2 guard is a post-agg FILTER on an
    # already-computed column (quality.py) — no new exchange/agg; the
    # r8 QUIET run read 0.367/0.58 WITH the guard (faster than this
    # r7 anchor), then same-code runs read 0.764/1.21 (close) and
    # >0.645/>1.0 (driver) — a 2x same-code variance band on a
    # sub-second query, the GC-attribution class (r9 close read 1.269
    # on a 1.07x host — the band is real). Re-based per round from
    # the newest quiet builder record; no code to fix.
    "t_closeness_customer": 0.469,
    "dp_counts_by_priority": 0.451,
    "token_js_divergence_docs": 0.514,
    "cusum_daily_revenue": 0.637,
    "ngram_containment_pairs": 0.729,
    "cdc_chunks_docs": 0.44,
    # cms_join_size_view_click (7.863 in r7) battery-gated in r8 —
    # replaced by the xxhash64 fast twin, which starts its own anchor
    # series this round.
    "stratified_exact_split_docs": 0.308,
    "label_centroids_mean_pool": 0.185,
    "ess_doc_weights_by_lang": 0.155,
    "mad_outliers_event_value": 0.753,
    # round-8 families — anchored from the r8 BUILDER closing run
    # (BENCH_r08_builder.json), their first measured round
    # r9 adjudication of the driver REGRESSED flags on cms/pii: no
    # code changed (pii gained only an argument-validation raise);
    # isolated idle-host re-runs at HEAD show per-run CPU spreads of
    # 2-3x on untouched plans (cms 3.52->10.09 CPU-s within one
    # process at load 0.06) — single-quiet-run anchors sat at the
    # low tail of that band. Re-based per round from the newest quiet
    # builder record (currently r9 close).
    "cms_join_size_fast": 0.707,
    "gopher_document_rules": 0.374,
    "c4_clean_lines": 0.966,
    "pii_scan_customer": 0.41,
    "pii_redact_customer": 0.396,
    "gapfill_daily_value_linear": 0.382,
    # image anchors (r9 verdict #7): re-based from the quiet r9
    # builder close (dedup 0.731→0.738 stable; neardup 1.186→1.034
    # down) — the r8 max-of-two-runs conservatism is retired
    "image_dhash_dedup": 0.518,
    "image_dhash_neardup_pairs": 0.736,
    # r9 verdict #7 closed: first measured on a 1.12×-loaded host,
    # re-based DOWNWARD from the quiet (1.07×) r9 builder close —
    # hybrid_rrf 2.615→2.277, weighted_quantiles 1.569→1.266,
    # ann_rerank 2.215→2.043; quiet-host provenance now attached
    "hybrid_rrf_retrieval": 1.63,
    "weighted_quantiles_lineitem": 0.979,
    "ann_rerank_exact": 1.47,
    # round-9 families — first measured by the r9 builder closing run
    # (1.07x host); re-base downward from quieter future records
    "url_normalize_dedup": 0.514,
    "url_domain_stats": 0.363,
    "multimodal_png_decode": 0.446,
    "quality_classifier_train": 3.72,
    "hybrid_serve_pipeline": 2.072,
    # r9 first-measured (closing verdict #7) + round-10 families —
    # anchored from the r10 BUILDER closing run (1.08x/1.01x host,
    # BENCH_r10_builder.json), quiet-host provenance attached
    "normalized_dedup_documents": 0.291,
    "prefix_jaccard_pairs": 1.065,
    "labeler_agreement_kappa": 0.294,
    # re-based post-close: the rules dimension moved from a
    # python-RDD createDataFrame to a JVM VALUES LocalRelation
    # (psl.py — 4x32 pyspark workers per query cost 24 CPU-s and the
    # empty k=4 join could not fold); bench-conf re-runs after the
    # fix read 0.93-1.44 wall / 2.8-5.6 CPU
    "url_domain_psl_stats": 0.85,
    "langid_train": 4.388,
    # r11 adjudication of the BENCH_r10 driver flags (2 REGRESSED +
    # 4 suspect): zero code changes between the builder close and
    # the driver run (git diff is the verdict commit only), and
    # isolated --only re-runs at the r11 HEAD contradict the
    # driver's high wall readings on alpha/wav/audio_dedup while
    # matching its mutator CPU on langid_confusion (33.3 vs 33.39 —
    # the single-run builder anchor 20.03 was the outlier, a
    # hot-JVM reading). All seven anchors below re-seeded as the
    # MEDIAN of the three measurements (builder close, driver run,
    # isolated re-run) per the r10 verdict's two-run-seeding ask;
    # full numbers in BASELINE.md round 11.
    "langid_confusion": 5.698,
    "ccnet_perplexity_buckets": 1.264,
    "bt_preference_ratings": 0.866,
    "multimodal_wav_decode": 0.465,
    "audio_content_dedup": 0.615,
    "multimodal_avi_decode": 0.69,
    "labeler_agreement_alpha": 0.719,
    # round-11 families — first measured by the r11 builder closing
    # run (1.08x/1.02x host, BENCH_r11_builder.json); members of
    # SINGLE_RUN_ANCHORS until a second measurement re-seeds them
    "url_domain_full_psl": 0.805,
    "ccnet_frozen_buckets": 1.149,
    "audio_resample_stats": 0.644,
    "video_content_dedup": 0.945,
    "video_scene_changes": 1.645,
    "audio_silence_trim": 0.698,
    "html_text_extraction": 0.505,
    "robots_compliance_gate": 0.623,
    "sft_chat_render": 0.177,
    "sft_fim_transform": 0.152,
    "mojibake_repair": 0.235,
    "paragraph_dedup_rewrite": 0.713,  # isolated --only, post-close
    "langid_stored_model_serve": 5.89,  # isolated --only, post-close
    "sft_chat_loss_spans": 0.71,
    "video_motion_census": 1.429,
    "compressed_payload_decode": 0.385,
}

# CPU-second anchors (r7 verdict #5), measured by the round-8
# builder closing run (BENCH_r08_builder.json) — the first round
# with the process-tree CPU metric. The r9 gate is CPU-FIRST
# (r8 verdict #3): when a query has a CPU anchor, the CPU delta is
# the primary regression signal and wall is the confirmation —
# REGRESSED requires both (delta_entry), and every delta entry
# reports cpu_prev/cpu_delta alongside the wall numbers: co-load cannot inflate this process
# tree's CPU time (validated in r8 — a memory-starved JVM burned
# 4.22 CPU-s on bpe_segmented_vocab vs 2.86 healthy, while wall
# medians needed a calibration argument), so no load scaling is
# applied; a +0.3 s absolute slack absorbs scheduler jitter on
# sub-second queries. Queries without a CPU anchor fall back to the
# load-scaled wall gate. Re-baseline downward from each round's
# quietest record.
PREV_CPU: dict[str, float] = {
    # headline (r10 builder closing run; whole-tree CPU — the
    # GC/JIT-inclusive legacy column, kept for continuity; the gate
    # adjudicates on PREV_CPU_ADJ mutator anchors when present)
    "flagship_top3_region": 4.04,
    "q1_pricing_summary": 0.9,
    "left_join_order_counts": 0.71,
    "asof_join_purchase_click": 1.18,
    "running_customer_spend": 0.87,
    "top_orders_global": 0.31,
    "union_all_segments": 0.32,
    "json_pack_events": 0.49,
    "session_windows_30m": 0.83,
    "ngram_jaccard_pairs": 2.07,
    "minhash_lsh_pairs": 6.25,
    "cosine_topk_bruteforce": 2.33,
    "text_stats": 0.51,
    # extension (r8 builder)
    "simhash_neardup_pairs": 6.87,
    "dedup_components": 4.68,  # r9 re-base, see wall-anchor adjudication
    "kmeans_assignments": 26.28,
    "ivf_topk_embeddings": 22.16,
    "ivf_topk_fast": 19.79,
    "cosine_topk_fast": 0.74,
    "multimodal_fake_features": 0.53,
    "training_data_ops_pack": 2.02,
    "dedup_survivors": 3.93,
    "cosine_topk_quantized": 1.07,
    "cosine_topk_adc": 1.47,
    "trade_pagerank": 14.45,
    "curation_funnel": 22.35,
    "bpe_segmented_vocab": 3.84,
    "packed_training_layout": 0.43,
    "semdedup_fast": 15.92,
    "bpe_encoded_docs": 5.9,
    "countmin_user_fast": 0.8,
    "kmv_userdays_fast": 1.68,
    "dsir_selection_fast": 1.67,
    "kcenter_diverse_selection": 42.07,
    "pq_topk_embeddings": 1.29,
    "pq_topk_fast": 5.45,
    "ivfpq_topk_embeddings": 10.99,
    "ddsketch_price_quantiles": 0.69,
    "t_closeness_customer": 0.71,  # r9 re-base, see wall-anchor adjudication
    "dp_counts_by_priority": 0.56,
    "token_js_divergence_docs": 0.84,
    "cusum_daily_revenue": 0.75,
    "ngram_containment_pairs": 1.87,
    "cdc_chunks_docs": 0.8,
    "stratified_exact_split_docs": 0.57,
    "label_centroids_mean_pool": 0.3,
    "ess_doc_weights_by_lang": 0.21,
    "mad_outliers_event_value": 0.99,
    "cms_join_size_fast": 1.98,  # r9 re-base, see wall-anchor adjudication
    "gopher_document_rules": 0.43,
    "c4_clean_lines": 1.09,
    "pii_scan_customer": 0.7,  # r9 re-base, see wall-anchor adjudication
    "pii_redact_customer": 0.66,
    "gapfill_daily_value_linear": 0.63,
    "image_dhash_dedup": 0.85,
    "image_dhash_neardup_pairs": 1.13,
    # from the second r8 builder run (see wall-anchor note)
    "hybrid_rrf_retrieval": 2.81,
    "weighted_quantiles_lineitem": 1.96,
    "ann_rerank_exact": 1.72,
    # round-9 families (r9 builder closing run)
    "url_normalize_dedup": 1.08,
    "url_domain_stats": 0.65,
    "multimodal_png_decode": 0.65,
    "quality_classifier_train": 43.76,
    "hybrid_serve_pipeline": 12.99,
    # r9 first-measured + round-10 families (r10 builder close)
    "normalized_dedup_documents": 0.91,
    "prefix_jaccard_pairs": 4.42,
    "labeler_agreement_kappa": 0.51,
    "url_domain_psl_stats": 1.55,  # post-close re-base, see wall anchor
    "langid_train": 28.47,
    "langid_confusion": 32.26,
    "ccnet_perplexity_buckets": 19.01,
    "bt_preference_ratings": 3.66,
    "multimodal_wav_decode": 0.69,
    "audio_content_dedup": 1.02,
    "multimodal_avi_decode": 0.91,
    "labeler_agreement_alpha": 2.77,
    # round-11 families (r11 builder close)
    "url_domain_full_psl": 1.34,
    "ccnet_frozen_buckets": 7.07,
    "audio_resample_stats": 0.86,
    "video_content_dedup": 1.2,
    "video_scene_changes": 1.81,
    "audio_silence_trim": 0.89,
    "html_text_extraction": 0.96,
    "robots_compliance_gate": 0.94,
    "sft_chat_render": 0.23,
    "sft_fim_transform": 0.26,
    "mojibake_repair": 0.36,
    "paragraph_dedup_rewrite": 1.61,  # isolated --only, post-close
    "langid_stored_model_serve": 39.72,  # isolated --only, post-close
    "sft_chat_loss_spans": 1.91,
    "video_motion_census": 1.79,
    "compressed_payload_decode": 0.75,
}

# Queries whose WALL anchor is seeded from a SINGLE quiet run (r11,
# closing the r10 verdict #2 gap): a first-measured sub-second anchor
# from one builder close let the very next driver run on a 1.05x host
# fire REGRESSED on 0.67 s of wall delta (multimodal_wav_decode,
# 0.493 s anchor). Until a second independent measurement re-seeds
# the anchor (median-of-runs, see the r11 adjudication), the
# REGRESSED conjunction may NOT fire on these when either side of
# the comparison is sub-second — it downgrades to a visible
# "suspect-young-anchor" that the closing adjudication resolves.
# Established multi-run anchors are untouched (the gate is NOT
# loosened for them). Maintain at each round close: newly
# first-measured queries enter; re-seeded queries leave.
SINGLE_RUN_ANCHORS: set[str] = {
    # r11 first-measured families, anchored from the r11 builder
    # close only (the r10 entries left: their anchors are now
    # two-run-seeded by that close on top of the r10 one)
    "url_domain_full_psl",
    "ccnet_frozen_buckets",
    "audio_resample_stats",
    "video_content_dedup",
    "video_scene_changes",
    "audio_silence_trim",
    "html_text_extraction",
    "robots_compliance_gate",
    "sft_chat_render",
    "sft_fim_transform",
    "mojibake_repair",
    "paragraph_dedup_rewrite",
    "langid_stored_model_serve",
    "sft_chat_loss_spans",
    "video_motion_census",
    "compressed_payload_decode",
}

# MUTATOR-CPU anchors (r10, closing the r9 verdict #2 done-criterion):
# cpu − gc − jit per query, first measured by the round-10 quiet
# builder close. When a query has an entry here, the CPU leg of the
# regression conjunction compares mutator CPU against it; queries
# without one fall back to comparing mutator CPU against the
# (GC-inclusive) PREV_CPU anchor — strictly conservative, since
# subtracting housekeeping from the current reading but not the
# anchor can only reduce false flags, never hide a real regression
# that burns more mutator cycles than the anchor's mutator+GC total.
# Populate from each round's quietest record, like PREV_CPU.
PREV_CPU_ADJ: dict[str, float] = {
    # first measured by the r10 builder closing run — cpu − gc − jit
    # per query; the primary CPU anchor from round 11 on
    "ab_conversion_ztest": 0.42,
    "ann_rerank_exact": 1.71,
    "asof_join_purchase_click": 0.45,
    "audio_content_dedup": 0.97,
    "benford_price_digits": 0.42,
    "bigram_surprisal_scores": 7.65,
    "bootstrap_ci_fast": 12.69,
    "bpe_encoded_docs": 4.44,
    "bpe_segmented_vocab": 2.33,
    "bt_preference_ratings": 4.68,
    "budget_selected_corpus": 0.51,
    "c4_clean_lines": 1.49,
    "capped_docs_per_source": 0.43,
    "ccnet_perplexity_buckets": 20.33,
    "cdc_chunks_docs": 0.45,
    "cdc_upsert_state": 0.45,
    "clean_corpus_pipeline": 16.69,
    "cms_join_size_fast": 1.55,
    "cohort_retention_weekly": 0.64,
    "conformal_intervals_orders": 7.44,
    "contaminated_span_report": 1.35,
    "copurchase_bfs_hops": 10.33,
    "copurchase_kcore": 5.69,
    "copurchase_triangles": 7.61,
    "corpus_datasheet": 0.76,
    "cosine_topk_adc": 1.35,
    "cosine_topk_bruteforce": 1.76,
    "cosine_topk_fast": 0.57,
    "cosine_topk_quantized": 0.95,
    "countmin_user_fast": 0.59,
    "cuped_adjusted_lift_events": 0.68,
    "curation_funnel": 19.07,
    "curriculum_stages_docs": 0.64,
    "cusum_daily_revenue": 0.84,
    "ddsketch_price_quantiles": 0.49,
    "dedup_components": 2.99,
    "dedup_savings_report": 2.68,
    "dedup_survivors": 3.17,
    "doc_chunks_rag": 0.19,
    "doc_clusters_hashed_bow": 33.37,
    "dp_counts_by_priority": 0.44,
    "dsir_selection_fast": 1.47,
    "duplicate_span_report": 2.65,
    "embedding_centroid_drift": 0.72,
    "entity_golden_parts": 2.57,
    "ess_doc_weights_by_lang": 0.21,
    "event_audience_overlap": 0.5,
    "event_audience_overlap_hll": 0.97,
    "event_pattern_counts": 0.49,
    "event_transition_matrix": 0.45,
    "ewma_daily_revenue": 0.63,
    "flagship_top3_region": 2.54,
    "frequent_bigrams": 2.2,
    "funnel_3step_strict": 0.83,
    "gapfill_daily_counts_zero": 0.48,
    "gapfill_daily_value_linear": 0.69,
    "gini_revenue_by_segment": 0.63,
    "gopher_document_rules": 0.49,
    "hashed_bow_vectors_docs": 0.83,
    "hybrid_rrf_retrieval": 2.6,
    "hybrid_serve_pipeline": 14.87,
    "image_dhash_dedup": 0.73,
    "image_dhash_neardup_pairs": 1.21,
    "incremental_revenue_cdc": 0.91,
    "ivf_topk_embeddings": 19.64,
    "ivf_topk_fast": 18.82,
    "ivfpq_topk_embeddings": 11.55,
    "json_pack_events": 0.42,
    "kcenter_diverse_selection": 45.25,
    "kcenter_sampled_selection": 43.41,
    "kmeans_assignments": 24.24,
    "kmv_userdays_fast": 1.02,
    "ks_price_drift_by_priority": 0.84,
    "label_centroids_mean_pool": 0.24,
    "labeler_agreement_alpha": 1.9,
    "labeler_agreement_kappa": 0.58,
    "langid_confusion": 33.3,
    "langid_train": 28.04,
    "left_join_order_counts": 0.93,
    "loo_priority_encoding": 0.52,
    "mad_outliers_event_value": 0.96,
    "minhash_lsh_pairs": 3.61,
    "mixture_rebalance_hash": 12.41,
    "mmr_diverse_topk": 5.94,
    "multimodal_avi_decode": 1.11,
    "multimodal_fake_features": 0.53,
    "multimodal_png_decode": 0.77,
    "multimodal_wav_decode": 0.88,
    "ngram_containment_pairs": 1.33,
    "ngram_jaccard_pairs": 0.97,
    "normalized_dedup_documents": 0.88,
    "open_orders_daily": 1.36,
    "order_value_trend_by_priority": 0.48,
    "orderkey_sequence_gaps": 0.49,
    "orderkey_skew_report": 0.75,
    "orders_fingerprint": 0.92,
    "orders_profile_drift": 6.06,
    "packed_training_layout": 0.37,
    "pairwise_corr_lineitem": 1.17,
    "parts_bought_together": 6.12,
    "pii_redact_customer": 0.45,
    "pii_scan_customer": 0.57,
    "pq_topk_embeddings": 1.32,
    "pq_topk_fast": 6.19,
    "prefix_jaccard_pairs": 4.69,
    "price_quantiles_by_priority": 1.33,
    "psi_price_drift": 1.11,
    "q1_pricing_summary": 0.66,
    "quality_classifier_train": 43.15,  # median of r10 close / r11 close (43.15, flag tuple) / isolated 46.27 — see BASELINE r11 adjudication
    "quality_report_orders": 1.84,
    "quantized_recall_report": 2.46,
    "rp_topk_embeddings": 2.63,
    "rp_topk_fast": 1.51,
    "running_customer_spend": 0.51,
    "runtime_pruned_revenue": 0.6,
    "sampling_pack": 0.78,
    "scd2_user_status_history": 0.77,
    "segment_price_outliers": 1.41,
    "semdedup_fast": 14.21,
    "session_top_paths": 1.16,
    "session_windows_30m": 0.58,
    "simhash_neardup_pairs": 5.12,
    "sketch_distinct_rollup": 0.7,
    "source_entropy_by_lang": 0.29,
    "split_decontamination_check": 1.68,
    "standardized_embeddings": 0.89,
    "stratified_exact_split_docs": 0.32,
    "strip_boilerplate_docs": 1.64,
    "supplier_efficiency_skyline": 0.71,
    "supply_communities_lpa": 48.12,
    "t_closeness_customer": 0.59,
    "temperature_mix_sources": 0.76,
    "text_stats": 0.29,
    "token_js_divergence_docs": 0.52,
    "token_runs_expr": 0.34,
    "top_orders_global": 0.2,
    "trade_pagerank": 12.55,
    "train_val_test_split": 0.39,
    # round-11 families (r11 builder close)
    "audio_resample_stats": 0.81,
    "audio_silence_trim": 0.87,
    "ccnet_frozen_buckets": 6.78,
    "html_text_extraction": 0.56,
    "mojibake_repair": 0.27,
    "paragraph_dedup_rewrite": 0.8,
    "langid_stored_model_serve": 35.02,
    "sft_chat_loss_spans": 0.73,
    "video_motion_census": 1.66,
    "compressed_payload_decode": 0.58,
    "robots_compliance_gate": 0.84,
    "sft_chat_render": 0.19,
    "sft_fim_transform": 0.2,
    "url_domain_full_psl": 1.14,
    "video_content_dedup": 1.19,
    "video_scene_changes": 1.78,
    "training_data_ops_pack": 1.81,
    "trending_brands_ewma": 1.23,
    "trimmed_mean_price_by_priority": 0.96,
    "unigram_surprisal_scores": 16.98,
    "union_all_segments": 0.2,
    "upsampled_mixture_docs": 0.23,
    "url_domain_psl_stats": 1.9,
    "url_domain_stats": 0.49,
    "url_normalize_dedup": 0.8,
    "user_survival_km_weekly": 0.46,
    "weighted_quantiles_lineitem": 2.03,
    "weighted_sample_orders": 2.06,
}

# Calibration: a fixed, data-independent, CPU-bound workload (800M
# longs through 8 chained xxhash64 rounds, single stage, 1-row
# result). Its runtime moves with host load/CPU speed and nothing
# else, so round-over-round headline drift can be attributed:
#   normalized_headline = value * CAL_REF_SEC / calibration_sec
# CAL_REF_SEC is the QUIETEST calibration ever measured for this
# workload, so normalized <= raw on an equally-quiet host and the
# correction only ever compensates for load, never inflates a quiet
# run (round-4 verdict: the introduction-time constant 3.536 was
# measured at load ~3 and made the driver's quiet run look slower
# than it was). Derivation: min over all recorded runs = 2.951 s
# (round-5 first recorded run; previous minimum was the round-4
# driver's 3.093 — BASELINE.md round-5 section records both
# lowerings and restates the series). Re-baseline only downward.
CAL_ROWS = 800_000_000
CAL_ITERS = 8
CAL_REF_SEC = 2.951  # min measured calibration (round-5 quiet run)

# Second calibration flavor (r6 verdict #1b): the hash fold above is
# pure CPU in one codegen stage and failed to explain the r6 driver
# drift (it read QUIETER on the slower run). This one exercises the
# other half of what a headline query pays — a real shuffle
# (exchange write+read of 40M rows into 2M groups) plus the GC/
# allocation pressure of hash-aggregation state — so a host whose
# slowdown is memory/GC/page-cache-shaped moves THIS number even
# when the CPU fold stays quiet. Same re-baseline-only-downward
# protocol: the ref constant is the quietest ever measured.
CAL_SHUF_ROWS = 40_000_000
CAL_SHUF_KEYS = 2_000_000
# min over the round-7 introduction series on a quiet host (medians
# 1.996/1.876/1.846/1.812; under heavy co-load the same workload
# read 2.2-7.6 — exactly the sensitivity the CPU fold lacks).
# Re-baseline only downward, like CAL_REF_SEC. Round-8 lowering:
# both r8 builder runs read below the old 1.812 (1.798, then 1.758
# on the completed run) — new minimum 1.758.
CAL_SHUF_REF_SEC = 1.758


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_snapshot() -> float:
    """CPU seconds consumed so far by this PROCESS TREE — the python
    driver, the local-mode JVM it launched, and every pyspark.daemon
    / Arrow worker under the JVM — read from /proc (r7 verdict #5:
    wall medians on a shared host cost r3/r6/r7 verdict space on
    host-noise adjudication; this number cannot be inflated by
    co-load, only by the benchmark itself doing more work).

    Accounting: for every live process in the subtree, utime+stime
    (its own CPU) plus cutime+cstime (its REAPED children) — a
    worker that exits between two snapshots stays counted because
    its lifetime CPU rolls into its parent's cutime at reap, and a
    live child's CPU is never in its parent's cutime, so nothing is
    double-counted. Cost: one /proc scan, ~2 ms."""
    me = os.getpid()
    info: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue  # raced a process exit
        # comm (field 2) may contain spaces/parens — split after the
        # LAST ')'; rest[1]=ppid, rest[11..14]=utime stime cutime cstime
        rest = raw[raw.rindex(")") + 2:].split()
        info[int(d)] = (
            int(rest[1]),
            sum(int(rest[i]) for i in (11, 12, 13, 14)),
        )
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [me]
    while stack:
        pid = stack.pop()
        total += info.get(pid, (0, 0))[1]
        stack.extend(kids.get(pid, []))
    return total / _CLK_TCK


# Thread-name prefixes attributed to JVM housekeeping rather than
# query work (r9 verdict #2: whole-tree CPU lands GC of EARLIER
# queries' garbage on whoever is timing — one loaded driver run put
# 40-60% CPU inflation on all 13 headline queries and produced 12
# spurious flags). HotSpot G1 on Java 17 names its stop-the-world
# workers "GC Thread#n" and its concurrent mark/refine/service
# threads "G1 ..."; the JIT compiler threads ("C1/C2 CompilerThre",
# comm truncated at 15 chars) are the other non-query CPU sink — a
# cold C2 burned 9.4 CPU-s against a 2.7 CPU-s query in the probe
# run that calibrated this list. Subtracting both leaves MUTATOR
# CPU: cycles spent actually executing the query's plan, the signal
# a plan/operator regression must move.
_GC_COMM_PREFIXES = ("GC Thread", "G1 ")
_JIT_COMM_PREFIXES = ("C1 Compiler", "C2 Compiler")

# High-water store keyed (pid, tid, is_gc): Java 17 runs
# -XX:+UseDynamicNumberOfCompilerThreads by default, so C1/C2
# threads EXIT under low compile pressure and their accumulated
# utime vanishes from a naive live-thread sum (observed: −1.5 to
# −2.8 "seconds" between consecutive snapshots). Remembering each
# thread's last/highest reading keeps the cumulative total monotone;
# a reused tid takes max(old, new), which can only undercount the
# new thread — conservative for a metric that is SUBTRACTED from
# query CPU.
_HOUSEKEEPING_TICKS: dict[tuple[int, int, bool], int] = {}


def gc_jit_cpu_snapshot() -> tuple[float, float]:
    """(gc_cpu_sec, jit_cpu_sec) consumed so far by JVM GC threads
    and JIT compiler threads in this process tree — per-THREAD
    utime+stime from /proc/<pid>/task/<tid>/stat, names from comm,
    made monotone across thread exits by the high-water store above.
    Cost: one /proc walk + ~2 reads per JVM thread, a few ms."""
    me = os.getpid()
    ppids: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        ppids[int(d)] = int(raw[raw.rindex(")") + 2:].split()[1])
    kids: dict[int, list[int]] = {}
    for pid, ppid in ppids.items():
        kids.setdefault(ppid, []).append(pid)
    stack = [me]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    comm = f.read().strip()
                if comm.startswith(_GC_COMM_PREFIXES):
                    is_gc = True
                elif comm.startswith(_JIT_COMM_PREFIXES):
                    is_gc = False
                else:
                    continue
                with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                    raw = f.read().decode("ascii", "replace")
            except OSError:
                continue
            rest = raw[raw.rindex(")") + 2:].split()
            ticks = int(rest[11]) + int(rest[12])
            key = (pid, int(tid), is_gc)
            if ticks > _HOUSEKEEPING_TICKS.get(key, -1):
                _HOUSEKEEPING_TICKS[key] = ticks
    gc_ticks = sum(
        v for (_, _, is_gc), v in _HOUSEKEEPING_TICKS.items() if is_gc
    )
    jit_ticks = sum(
        v for (_, _, is_gc), v in _HOUSEKEEPING_TICKS.items() if not is_gc
    )
    return gc_ticks / _CLK_TCK, jit_ticks / _CLK_TCK


def mutator_cpu_clock() -> float:
    """cpu_snapshot minus GC and JIT attribution — the per-round
    clock the BPE flatness gate reads (r9 verdict #6)."""
    gc, jit = gc_jit_cpu_snapshot()
    return cpu_snapshot() - gc - jit


def _timed_noop(df, runs: int) -> list[float]:
    """One discarded warmup + ``runs`` timed full materializations
    via the noop sink; returns the timed list."""
    times = []
    for i in range(runs + 1):
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        if i > 0:
            times.append(time.monotonic() - t0)
    return times


def calibration_sec(spark) -> float:
    """Median-of-3 (after one discarded warmup) of the fixed
    CPU-bound calibration workload, in seconds."""
    from pyspark.sql import functions as F

    c = F.col("id")
    for _ in range(CAL_ITERS):
        c = F.xxhash64(c, F.lit(17))
    df = (
        spark.range(0, CAL_ROWS, 1, CPUS)
        # pmod keeps the ANSI sum within long range
        .select(F.pmod(c, F.lit(1000)).alias("h"))
        .agg(F.sum("h").alias("s"))
    )
    return round(statistics.median(_timed_noop(df, RUNS)), 3)


def calibration_shuffle_sec(spark) -> float:
    """Median-of-3 of the fixed shuffle+GC calibration workload:
    40M rows hash-aggregated into 2M groups (a genuine exchange +
    2M-entry agg hash maps per task), then a 1-row rollup."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, CAL_SHUF_ROWS, 1, CPUS)
        .select(
            F.pmod(F.xxhash64("id"), F.lit(CAL_SHUF_KEYS)).alias("k"),
            F.pmod(F.xxhash64("id", F.lit(3)), F.lit(97)).alias("w"),
        )
        .groupBy("k")
        .agg(F.sum("w").alias("s"), F.count(F.lit(1)).alias("n"))
        .agg(F.sum("s").alias("ss"), F.sum("n").alias("nn"))
    )
    return round(statistics.median(_timed_noop(df, RUNS)), 3)


def recall_at_k(spark, queries, sf_dir: str, approx_name: str) -> float:
    """recall@k of an approximate top-k query vs the exact
    brute-force neighbor sets — tracked per round so ANN quality
    regressions surface next to latency (verdict items r1#6, r2#7)."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in queries["cosine_topk_bruteforce"](spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in queries[approx_name](spark, sf_dir).collect()
    }
    return round(len(exact & approx) / max(len(exact), 1), 4)


def pq_recall_on_synth(spark, ivf: bool) -> float:
    """PQ / IVF×PQ recall@k on the planted-truth synthembs fixture
    (see io/synth_source.py::SynthEmbsReader — separable groups, so
    the gate reads ~1.0 correct / ~0.01 broken; gated >= 0.9 in
    tests/test_pq.py)."""
    from top_produce_etl_spark.io.synth_source import register_synth_source
    from top_produce_etl_spark.operators.pq import ivfpq_topk, pq_topk
    from top_produce_etl_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    register_synth_source(spark)
    emb = spark.read.format("synthembs").load()
    q = emb.filter("vec_id < 10")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(
            emb, q, "vec_id", "embedding", k=RECALL_K, scoring="double"
        ).collect()
    }
    fn = ivfpq_topk if ivf else pq_topk
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in fn(
            emb, q, "vec_id", "embedding", dim=64, k=RECALL_K,
            scoring="lut", cache_key="synthembs",
        ).collect()
    }
    return round(len(exact & approx) / max(len(exact), 1), 4)


# Size knobs for the two round-8 composition probes — env-overridable
# so the probes can be rehearsed at reduced scale without editing
# code; the driver runs the defaults.
FUNNEL_DOCS = int(os.environ.get("SPARK_GRAFT_FUNNEL_DOCS", 2_000_000))
PQ_BIG_ROWS = int(os.environ.get("SPARK_GRAFT_PQ_BIG_ROWS", 5_000_000))


def funnel_probe(spark) -> dict:
    """COMPOSE-AND-SCALE probe (r7 verdict #1): the full YAML
    training-data funnel (configs/pipeline_mix_curate_pack.yaml —
    mixture cap → duplicate-span strip → curation funnel →
    token-budget selection → packed layout) at ~2M generated docs.
    Every stage has an individual 200k-500k probe; this measures the
    COMPOSED pipeline a real corpus build runs.

    Protocol: (a) STAGED pass — each op applied to the persisted
    output of the previous op, materialized per stage, recording
    per-stage wall + output partition skew (max/median rows per
    partition); (b) COMPOSED pass — the unmodified spec end-to-end
    as ONE lazy plan into the noop sink. Gate:
    composed ≤ 1.3 × staged_sum — a composed plan recomputing an
    unpersisted branch (the super-linear composition failure the
    staged pass can't see) blows straight past that.

    Size-proportional knobs are scaled to the corpus (cap and token
    budget are per-corpus quantities; the OP CHAIN and all quality
    thresholds are the YAML's). Planted truths riding the timing:
    the 1000-doc hot cluster is byte-identical, so every hot doc
    surviving the cap must come out of the strip stage FULLY
    emptied; the packed layout must respect the 512-token bin
    budget exactly."""
    from top_produce_etl_spark.io.synth_source import register_synth_source
    from top_produce_etl_spark.operators._cache import (
        persist_tracked,
        unpersist_all,
    )
    from top_produce_etl_spark.plans.builder import (
        build_pipeline,
        load_pipeline_spec,
    )

    from pyspark.sql import functions as F

    import shutil
    import tempfile

    register_synth_source(spark)
    rows, hot = FUNNEL_DOCS, 1_000
    spec = load_pipeline_spec(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "configs", "pipeline_mix_curate_pack.yaml",
        )
    )
    for op in spec["ops"]:
        if op["op"] == "cap_per_category":
            # 10 synthetic sources × ~rows/10 docs each; cap at 95%
            # so the stage genuinely drops rows at full cost
            op["cap"] = int(rows / 10 * 0.95)
        elif op["op"] == "budget_select":
            # ~54 tokens/doc → keep roughly a fifth of the corpus
            op["budget"] = rows * 11
        elif op["op"] == "pack_sequences":
            op["n_shards"] = 32
    tmp = tempfile.mkdtemp(prefix="funnel_probe_")
    out: dict = {"funnel_probe_docs": rows}
    try:
        # materialize the corpus FIRST (untimed): the pipeline reads
        # a stored table; timing the Python row generator would
        # measure the fixture (the pq_probe lesson)
        (
            spark.read.format("synthdocs")
            .option("rows", rows).option("partitions", CPUS)
            .option("tokens", 54).option("dup_every", 100)
            .option("hot_cluster", hot).load()
            .withColumn(
                "source",
                F.concat(
                    F.lit("s"),
                    F.pmod(F.xxhash64("doc_id"), F.lit(10)),
                ),
            )
            .write.mode("overwrite").parquet(f"{tmp}/documents")
        )
        raw = spark.read.parquet(f"{tmp}/documents")

        # STAGED pass
        stage_sec: dict[str, float] = {}
        stage_cpu: dict[str, float] = {}
        stage_skew: dict[str, float] = {}
        cur = raw
        prev_handle = None
        strip_out = None
        for op in spec["ops"]:
            name = op["op"]
            c0 = cpu_snapshot()
            t0 = time.monotonic()
            nxt = persist_tracked(
                build_pipeline(
                    spark,
                    {"source": "documents", "ops": [op]},
                    {"documents": cur},
                )
            )
            nxt.count()  # materialize this stage
            stage_sec[name] = round(time.monotonic() - t0, 3)
            stage_cpu[name] = round(cpu_snapshot() - c0, 3)
            parts = sorted(
                r["n"]
                for r in nxt.groupBy(
                    F.spark_partition_id().alias("pid")
                ).agg(F.count(F.lit(1)).alias("n")).collect()
            )
            stage_skew[name] = round(
                parts[-1] / max(parts[len(parts) // 2], 1), 2
            ) if parts else 0.0
            if name == "strip_duplicate_spans":
                strip_out = nxt
            if prev_handle is not None and prev_handle is not strip_out:
                prev_handle.unpersist()
            prev_handle = nxt
            cur = nxt
        staged_sum = round(sum(stage_sec.values()), 3)

        # planted truth: hot docs that survived the cap left the
        # strip stage fully emptied
        hot_rows = (
            strip_out.filter(F.col("doc_id") >= rows - hot)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    (F.col("text_clean") == "").cast("int")
                ).alias("empty"),
            )
            .collect()[0]
        )
        # packed-layout invariant on the staged final output
        packed_rows = cur.count()
        over_budget = (
            cur.groupBy("shard", "bin")
            .agg(F.sum("n_tokens").alias("t"))
            .filter(F.col("t") > 512)
            .count()
        )
        unpersist_all()

        # COMPOSED pass — the unmodified spec as one lazy plan
        t0 = time.monotonic()
        build_pipeline(
            spark, spec, {"documents": raw}
        ).write.format("noop").mode("overwrite").save()
        composed_sec = round(time.monotonic() - t0, 3)
        unpersist_all()

        out.update({
            "funnel_probe_stage_sec": stage_sec,
            # load-independent per-stage cost (the cpu_snapshot
            # metric): a co-loaded host moves stage walls but not
            # these
            "funnel_probe_stage_cpu": stage_cpu,
            "funnel_probe_stage_skew": stage_skew,
            "funnel_probe_staged_sum_sec": staged_sum,
            "funnel_probe_composed_sec": composed_sec,
            "funnel_probe_compose_ratio": round(
                composed_sec / max(staged_sum, 1e-9), 3
            ),
            "funnel_probe_compose_ok": bool(
                composed_sec <= 1.3 * staged_sum
            ),
            "funnel_probe_docs_per_sec": round(rows / composed_sec, 1),
            "funnel_probe_hot_capped_survivors": int(hot_rows["n"]),
            "funnel_probe_hot_stripped_frac": round(
                (hot_rows["empty"] or 0) / max(hot_rows["n"], 1), 4
            ),
            "funnel_probe_packed_docs": int(packed_rows),
            "funnel_probe_bins_over_budget": int(over_budget),
        })
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def pq_big_probe(spark, ref_index_sec: float, ref_serve_sec: float) -> dict:
    """5M-VECTOR ANN probe (r7 verdict #6): the STORED IVF×PQ
    lifecycle at 10× the r6 pq_probe — build (sampled coarse + PQ
    training, full-corpus encode + cell assignment, cell-partitioned
    parquet store) and serve (partition-pruned probe scan + LUT
    scoring). Gates:
    - build ≤ 12× the 500k pq_probe build (10× data; the small
      overage allowance covers the cell-assignment pass PQ-only
      indexing doesn't pay) — proves the sampled build stays linear;
    - serve within 3× the 500k FULL-SCAN serve even though the
      corpus is 10× — the partition-pruned probe scan reads
      n_probe/n_cells of the store, which is the flat-latency
      property;
    - planted truth unchanged: every retrieved neighbor shares its
      query's synthembs group."""
    import shutil
    import tempfile

    from top_produce_etl_spark.operators.pq import (
        ivfpq_index_save,
        ivfpq_topk_from_index,
    )

    rows = PQ_BIG_ROWS
    tmp = tempfile.mkdtemp(prefix="pq_big_probe_")
    try:
        (
            spark.read.format("synthembs")
            .option("rows", rows).option("groups", 256)
            .option("partitions", CPUS).load()
            .write.mode("overwrite").parquet(f"{tmp}/corpus")
        )
        emb = spark.read.parquet(f"{tmp}/corpus")
        t0 = time.monotonic()
        ivfpq_index_save(
            emb, "vec_id", "embedding", dim=64, path=f"{tmp}/idx",
            n_cells=64, train_sample_mod=max(2, rows // 50_000),
        )
        index_sec = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        served = ivfpq_topk_from_index(
            spark, f"{tmp}/idx", emb.filter("vec_id < 10"),
            "vec_id", "embedding", k=3, n_probe=8,
        ).collect()
        serve_sec = round(time.monotonic() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    groupmates = sum(
        1 for r in served if r["query_id"] % 256 == r["neighbor_id"] % 256
    )
    return {
        "pq_probe_5m_vectors": rows,
        "pq_probe_5m_index_sec": index_sec,
        "pq_probe_5m_index_vecs_per_sec": round(rows / index_sec, 1),
        "pq_probe_5m_build_ratio_vs_500k": round(
            index_sec / max(ref_index_sec, 1e-9), 2
        ),
        "pq_probe_5m_build_linear_ok": bool(
            index_sec <= 12 * ref_index_sec
        ),
        "pq_probe_5m_serve_sec": serve_sec,
        "pq_probe_5m_serve_flat_ok": bool(
            serve_sec <= 3 * ref_serve_sec
        ),
        "pq_probe_5m_neighbors": len(served),
        "pq_probe_5m_all_neighbors_in_query_group": bool(
            len(served) == 30 and groupmates == 30
        ),
    }


def main() -> None:
    from top_produce_etl_spark.queries import get_all_queries
    from top_produce_etl_spark.session import create_spark_session

    # The bench session lives for the WHOLE run (~115 queries × 4
    # runs ≈ 7000 stages, then five generated-corpus probes) in one
    # JVM. At the default 8g driver heap the r8 run died mid-probe:
    # GCLocker allocation retries (Arrow JNI critical sections from
    # the python-data-source probes pinning regions while 32 threads
    # allocate) escalated until the context shut down. 16g is ~12%
    # of the 128 GiB host and removes the death spiral; the retry
    # bump gives the allocator room to wait out a pinned region
    # instead of failing the task. Both remain env-overridable.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    spark = create_spark_session(
        "bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            # route JVM unified logging to STDERR: the r8 crash
            # interleaved [gc,alloc] warnings into stdout, which is
            # the one-JSON-line-per-run protocol the driver parses
            "spark.driver.extraJavaOptions":
                "-XX:+UnlockDiagnosticVMOptions "
                "-XX:GCLockerRetryAllocationCount=64 "
                "-Xlog:all=warning:stderr",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = get_all_queries()

    from top_produce_etl_spark.operators._cache import unpersist_all

    spread: dict[str, list[float]] = {}
    cpu_med: dict[str, float] = {}
    gc_med: dict[str, float] = {}
    jit_med: dict[str, float] = {}

    def time_set(names: list[str], runs: int = RUNS) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            fn = queries[name]
            times, cpus, gcs, jits = [], [], [], []
            for i in range(runs + 1):
                c0 = cpu_snapshot()
                g0, j0 = gc_jit_cpu_snapshot()
                t0 = time.monotonic()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                dt = time.monotonic() - t0
                if i > 0:  # discard warmup
                    times.append(dt)
                    cpus.append(cpu_snapshot() - c0)
                    g1, j1 = gc_jit_cpu_snapshot()
                    gcs.append(g1 - g0)
                    jits.append(j1 - j0)
            # release persisted frames BETWEEN queries, not between
            # runs: the warmup run materializes each query's
            # persisted shingle/signature tables and the timed runs
            # reuse them via CacheManager plan-matching — that
            # steady-state protocol is what every prior round's
            # numbers measured. Releasing here keeps the long
            # benchmark from accumulating cached partitions across
            # queries without changing the per-query measurement.
            unpersist_all()
            out[name] = round(statistics.median(times), 3)
            spread[name] = [
                round(min(times), 3), out[name], round(max(times), 3)
            ]
            cpu_med[name] = round(statistics.median(cpus), 3)
            gc_med[name] = round(statistics.median(gcs), 3)
            jit_med[name] = round(statistics.median(jits), 3)
            print(f"# {name}: {out[name]}s "
                  f"(min {spread[name][0]} max {spread[name][2]} "
                  f"cpu {cpu_med[name]} gc {gc_med[name]} "
                  f"jit {jit_med[name]})",
                  file=sys.stderr)
        return out

    c0 = cpu_snapshot()
    g0, j0 = gc_jit_cpu_snapshot()
    cal = calibration_sec(spark)
    cal_cpu = round((cpu_snapshot() - c0) / (RUNS + 1), 3)
    g1, j1 = gc_jit_cpu_snapshot()
    cal_gc = round((g1 - g0) / (RUNS + 1), 3)
    c0 = cpu_snapshot()
    cal_shuf = calibration_shuffle_sec(spark)
    cal_shuf_cpu = round((cpu_snapshot() - c0) / (RUNS + 1), 3)
    g2, _ = gc_jit_cpu_snapshot()
    cal_shuf_gc = round((g2 - g1) / (RUNS + 1), 3)
    print(f"# calibration: {cal}s (ref {CAL_REF_SEC}s, cpu/run "
          f"{cal_cpu}) | shuffle: {cal_shuf}s (ref {CAL_SHUF_REF_SEC}s, "
          f"cpu/run {cal_shuf_cpu})",
          file=sys.stderr)
    # Isolated re-run mode (adjudication protocol, BASELINE.md):
    # `python bench.py --only name1,name2` times ONLY the named
    # queries (warmup + HEADLINE_RUNS measured, same session confs,
    # same mutator-CPU attribution) and prints one JSON line with
    # med/min/max wall + cpu/gc/jit per query plus the calibration
    # context. This replaces the per-round ad-hoc rerun scripts so
    # adjudications of REGRESSED/suspect flags are reproducible.
    if len(sys.argv) > 2 and sys.argv[1] == "--only":
        names = [n for n in sys.argv[2].split(",") if n]
        unknown = [n for n in names if n not in queries]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        only = time_set(names, runs=HEADLINE_RUNS)
        print(json.dumps({
            "mode": "isolated_rerun",
            "sf": float(os.path.basename(SF_DIR.rstrip("/"))[2:]),
            "calibration_sec": cal,
            "calibration_shuffle_sec": cal_shuf,
            "calibration_cpu_sec": cal_cpu,
            "load": round(max(cal / CAL_REF_SEC,
                              cal_shuf / CAL_SHUF_REF_SEC, 1.0), 3),
            "queries": only,
            "spread": {n: spread[n] for n in names},
            "cpu": {n: cpu_med[n] for n in names},
            "gc": {n: gc_med[n] for n in names},
            "jit": {n: jit_med[n] for n in names},
            "cpu_adj": {
                n: round(cpu_med[n] - gc_med[n] - jit_med[n], 3)
                for n in names
            },
        }))
        return
    timings = time_set(HEADLINE, runs=HEADLINE_RUNS)
    extension = time_set(EXTENSION)
    # Per-query delta vs the previous round's anchors — the
    # regression-decidability table: a query whose MIN exceeds its
    # anchor by >20% regressed for real (host noise can slow a
    # median, it cannot slow the min of 5 spaced runs); anything
    # whose anchor sits inside [min, max] is measurement variance.
    # load factor: how much slower this host reads than the quiet
    # reference on BOTH calibration flavors — sustained co-load lifts
    # the min of 5 runs too (observed r7: a 29-60% loaded host lifted
    # two sub-0.5 s queries past the naive 1.2x gate while every plan
    # was untouched), so the wall-based gate scales by it. When a
    # CPU anchor exists (r9+), the verdict PREFERS the CPU delta —
    # process-tree CPU seconds are load-independent, so no scaling.
    load = max(cal / CAL_REF_SEC, cal_shuf / CAL_SHUF_REF_SEC, 1.0)

    def delta_entry(name: str, ref: float, cpu_ref: float | None) -> dict:
        """REGRESSED requires BOTH signals when a CPU anchor exists
        (refined after this round's closing run): a real plan or
        operator regression burns more CPU cycles AND more wall; the
        two single-signal failure modes are each innocent on their
        own — a GC cycle collecting EARLIER queries' garbage lands
        its CPU in whichever query is timing when it fires (whole-
        tree attribution; observed: an 0.23-anchor query reading
        1.93 CPU-s with its plan untouched), and host co-load lifts
        wall without CPU (the r7 story). A single-signal breach
        reports as suspect-cpu / suspect-wall — visible, not
        verdict-carrying."""
        lo, med, hi = spread[name]
        cpu = cpu_med[name]
        gc, jit = gc_med[name], jit_med[name]
        # mutator CPU (r10, closing r9 verdict #2): GC and JIT thread
        # time is run-local housekeeping misattributed to whichever
        # query is timing — the r9 driver run inflated all 13
        # headline CPU readings 40-60% this way. The CPU leg of the
        # conjunction reads cpu − gc − jit, against the mutator
        # anchor when one exists (PREV_CPU_ADJ, r11+) else the
        # GC-inclusive PREV_CPU anchor (conservative).
        cpu_adj = round(max(cpu - gc - jit, 0.0), 3)
        cpu_ref_adj = PREV_CPU_ADJ.get(name)
        wall_reg = lo > ref * 1.2 * load
        if cpu_ref is not None:
            gate_ref = cpu_ref_adj if cpu_ref_adj is not None else cpu_ref
            cpu_reg = cpu_adj > gate_ref * 1.2 + 0.3
            if wall_reg and cpu_reg:
                verdict = "REGRESSED"
            elif cpu_reg:
                verdict = "suspect-cpu"
            elif wall_reg:
                verdict = "suspect-wall"
            elif hi < ref * 0.8 and cpu < cpu_ref:
                verdict = "IMPROVED"
            else:
                verdict = "noise-band"
        else:
            verdict = (
                "REGRESSED" if wall_reg
                else ("IMPROVED" if hi < ref * 0.8 else "noise-band")
            )
        # first-measured-anchor floor (r11, r10 verdict #2): a
        # single-run anchor on a sub-second query cannot carry a
        # REGRESSED verdict — the young-anchor + host-factor noise
        # band spans the whole delta at that scale. Downgrade to a
        # visible suspect the closing adjudication must resolve.
        if (verdict == "REGRESSED" and name in SINGLE_RUN_ANCHORS
                and (ref < 1.0 or med < 1.0)):
            verdict = "suspect-young-anchor"
        return {
            "prev": ref,
            "med": med,
            "delta": round(med - ref, 3),
            "cpu": cpu,
            # CPU-first reporting (r9 verdict #3): the CPU anchor and
            # delta ride along so a truncated record still adjudicates
            # on the load-independent signal
            "cpu_prev": cpu_ref,
            "cpu_delta": (
                round(cpu - cpu_ref, 3) if cpu_ref is not None else None
            ),
            # per-query housekeeping attribution (r10): what the CPU
            # gate discounted, so a flag reader can see whether a CPU
            # spike was GC/JIT attribution or real mutator work
            "gc": gc,
            "jit": jit,
            "cpu_adj": cpu_adj,
            "verdict": verdict,
        }

    deltas = {"__load_factor": round(load, 3)}
    for name, ref in PREV_DRIVER_QUERIES.items():
        if name in timings:
            deltas[name] = delta_entry(name, ref, PREV_CPU.get(name))
            print(f"# delta {name}: prev={ref} now={deltas[name]['med']} "
                  f"cpu={deltas[name]['cpu']} "
                  f"adj={deltas[name]['cpu_adj']} load={load:.2f} -> "
                  f"{deltas[name]['verdict']}",
                  file=sys.stderr)
    # extension-tier delta table (r7 verdict #2): 43 per-query
    # verdicts vs the previous quiet-run anchors, CPU-preferred
    ext_deltas = {"__load_factor": round(load, 3)}
    for name, ref in PREV_EXT_QUERIES.items():
        if name in extension:
            ext_deltas[name] = delta_entry(name, ref, PREV_CPU.get(name))
            print(f"# ext delta {name}: prev={ref} "
                  f"now={ext_deltas[name]['med']} "
                  f"cpu={ext_deltas[name]['cpu']} -> "
                  f"{ext_deltas[name]['verdict']}",
                  file=sys.stderr)
    # EARLY safety line (r8): the composition probes below add ~18
    # minutes; if the harness ever kills the run mid-probe, the tail
    # still carries the comparison-critical headline + extension
    # numbers. The final compact line (printed LAST, superset of
    # this) remains the one to read when the run completes.
    print(json.dumps({
        "metric": "sum_median_sec_headline_queries",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_cpu": {n: cpu_med[n] for n in HEADLINE},
        "sf": float(
            os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0
        ),
        "calibration_sec": cal,
        "calibration_shuffle_sec": cal_shuf,
        "partial_probes_pending": True,
    }))
    sys.stdout.flush()
    recalls = {
        f"ivf_recall_at_{RECALL_K}": recall_at_k(
            spark, queries, SF_DIR, "ivf_topk_embeddings"
        ),
        f"lsh_recall_at_{RECALL_K}": recall_at_k(
            spark, queries, SF_DIR, "cosine_topk_lsh"
        ),
        f"ivf_fast_recall_at_{RECALL_K}": recall_at_k(
            spark, queries, SF_DIR, "ivf_topk_fast"
        ),
        f"quantized_recall_at_{RECALL_K}": recall_at_k(
            spark, queries, SF_DIR, "cosine_topk_quantized"
        ),
        f"adc_recall_at_{RECALL_K}": recall_at_k(
            spark, queries, SF_DIR, "cosine_topk_adc"
        ),
    }
    # 64→16 random projection (r5w4): the JL gate is cosine-error,
    # NOT recall — on this near-uniform fixture true top-3 gaps
    # (~0.02) sit below ANY compressor's noise floor (a true random
    # ±1 matrix scores recall ≈ 0.03 here), so the meaningful
    # per-round regression signal is the estimator's accuracy.
    # Expected mae ≈ sqrt(2/(π·16)) ≈ 0.2; gate: mae ≤ 0.25.
    rp = queries["rp_quality_report"](spark, SF_DIR).collect()[0]
    recalls["rp_cos_mae"] = float(rp["cos_mae"])
    recalls["rp_cos_max_err"] = float(rp["cos_max_err"])
    # PQ (r6, closing r5 verdict #1c): recall is now measured on the
    # SEPARABLE synthembs fixture (io/synth_source.py — 64 planted
    # groups of 4 near-identical members; true top-3 = groupmates),
    # where a correct PQ reads ~1.0 and a broken one reads ~0.01 —
    # a gate that can actually fail. (On the near-uniform sf
    # embeddings the metric was structurally untargeted at 0.23;
    # reconstruction MAE <= 0.2 stays pinned in tests/test_pq.py.)
    recalls[f"pq_recall_at_{RECALL_K}"] = pq_recall_on_synth(
        spark, ivf=False
    )
    recalls[f"ivfpq_recall_at_{RECALL_K}"] = pq_recall_on_synth(
        spark, ivf=True
    )
    for k, v in recalls.items():
        print(f"# {k}: {v}", file=sys.stderr)

    # Scale probe: the UNCHANGED minhash + connected-components
    # pipeline on a 500k-doc GENERATED corpus (100x the sf0.1
    # documents fixture; zero storage — synthdocs custom source) with
    # three planted ground truths:
    #   - one exact-dup pair per 100 ids (recall must be 1.0 — exact
    #     dups collide in every band, a miss means the operator broke)
    #   - a 1000-doc HOT-KEY duplicate cluster: every band bucket for
    #     those ids collides, the candidate join's worst skew case;
    #     components must collapse it into ONE group of exactly 1000
    #   - Zipf(1.1) token skew over a 10k-token vocabulary — hot
    #     shingles without corpus degeneracy (zipf over a tiny vocab
    #     makes every doc pair genuinely similar and the pair set
    #     legitimately quadratic; see io/synth_source.py docstring)
    # Reported: cold wall time, doc throughput, planted recall, hot-
    # cluster grouping, and the candidate-join task-skew ratio
    # (max/median per-partition rows — the "does one task eat the hot
    # bucket" number; the hot keys hash-spread across bands, so the
    # ratio stays bounded without manual salting).
    from top_produce_etl_spark.io.synth_source import register_synth_source
    from top_produce_etl_spark.operators.dedup import (
        band_buckets,
        connected_components,
        minhash_lsh_pairs,
        minhash_signature_index,
    )

    from pyspark.sql import functions as F

    register_synth_source(spark)
    probe_rows, probe_hot = 500_000, 1_000
    probe_df = (
        spark.read.format("synthdocs")
        .option("rows", probe_rows).option("partitions", CPUS)
        .option("tokens", 54).option("dup_every", 100)
        .option("hot_cluster", probe_hot)
        .option("zipf", 1.1).option("vocab", 10_000).load()
    )
    t0 = time.monotonic()
    pairs = minhash_lsh_pairs(
        probe_df, "doc_id", "text", k=5, threshold=0.5
    ).persist()
    n_pairs = pairs.count()
    comp_top = (
        connected_components(pairs)
        .groupBy("rep_id")
        .count()
        .orderBy(F.col("count").desc())
        .first()
    )
    probe_sec = round(time.monotonic() - t0, 3)
    probe_pairs = {
        (r.a_id, r.b_id) for r in pairs.select("a_id", "b_id").collect()
    }
    planted = {
        (i, i + 1) for i in range(0, probe_rows - probe_hot - 1, 100)
    }
    # task-skew diagnostic: rebuild the candidate join off the still-
    # persisted signature table (CacheManager plan-matches it, so only
    # the join re-executes) and count output rows per shuffle
    # partition
    sig = minhash_signature_index(probe_df, "doc_id", "text", 5, 64)
    b = band_buckets(sig, "doc_id", 64, 2)
    part_rows = [
        r.n
        for r in b.select(F.col("doc_id").alias("a_id"), "band", "bucket")
        .join(
            b.select(F.col("doc_id").alias("b_id"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    part_rows.sort()
    skew_ratio = round(
        part_rows[-1] / max(part_rows[len(part_rows) // 2], 1), 2
    )
    pairs.unpersist()
    unpersist_all()
    probe = {
        "scale_probe_docs": probe_rows,
        "scale_probe_sec": probe_sec,
        "scale_probe_docs_per_sec": round(probe_rows / probe_sec, 1),
        "scale_probe_pairs": n_pairs,
        "scale_probe_planted_recall": round(
            len(planted & probe_pairs) / len(planted), 4
        ),
        "scale_probe_hot_cluster": probe_hot,
        "scale_probe_hot_component_size": int(comp_top["count"]),
        "scale_probe_task_skew_ratio": skew_ratio,
    }
    print(f"# scale_probe: {probe}", file=sys.stderr)

    # SECOND probe — the TEXT-REWRITE pipeline at scale (round 5):
    # strip_boilerplate over a 200k-doc generated corpus. Ground
    # truth: the hot-cluster docs are byte-identical, so every one of
    # their chunks has df >= hot_cluster and the whole cluster must
    # come out FULLY stripped (cleaned_text empty) — a correctness
    # assertion riding the throughput measurement, like the dedup
    # probe's planted recall. Proves a second pipeline shape (explode
    # -> corpus agg -> join-back -> per-doc reassembly) survives the
    # scale-up, not just the minhash path.
    from top_produce_etl_spark.operators.textquality import (
        strip_boilerplate,
    )

    tp_rows, tp_hot = 200_000, 1_000
    tp_df = (
        spark.read.format("synthdocs")
        .option("rows", tp_rows).option("partitions", CPUS)
        .option("tokens", 54).option("dup_every", 100)
        .option("hot_cluster", tp_hot)
        .option("zipf", 1.1).option("vocab", 10_000).load()
    )
    t0 = time.monotonic()
    stripped = strip_boilerplate(tp_df, "doc_id", "text", 4, 2)
    tp_stats = (
        stripped.agg(
            F.sum(
                (
                    (F.col("id") >= tp_rows - tp_hot)
                    & (F.col("cleaned_text") == "")
                ).cast("int")
            ).alias("hot_stripped"),
            F.sum("n_removed").alias("chunks_removed"),
        ).collect()[0]
    )
    tp_sec = round(time.monotonic() - t0, 3)
    text_probe = {
        "text_probe_docs": tp_rows,
        "text_probe_sec": tp_sec,
        "text_probe_docs_per_sec": round(tp_rows / tp_sec, 1),
        "text_probe_hot_fully_stripped": round(
            tp_stats["hot_stripped"] / tp_hot, 4
        ),
        "text_probe_chunks_removed": int(tp_stats["chunks_removed"]),
    }
    print(f"# text_probe: {text_probe}", file=sys.stderr)

    # SPAN leg of the text probe (r5w5): cross-document duplicate-
    # span detection on the SAME 200k-doc corpus — adds the one
    # pipeline stage no other probe exercises at scale: a PER-
    # DOCUMENT WINDOW (gap-island merge) downstream of a corpus-wide
    # df aggregate + join-back. Planted truth riding the timing: the
    # 1000 hot-cluster docs are byte-identical, so every one of
    # their 8-gram shingles has df >= 1000 and each hot doc must
    # report EXACTLY ONE span covering the WHOLE document — a split
    # island, an off-by-one span length, or a dropped position
    # breaks the 1.0.
    from top_produce_etl_spark.operators.dedup import duplicate_spans

    t0 = time.monotonic()
    sp = duplicate_spans(tp_df, "doc_id", "text", k=8, min_docs=2)
    sp_hot_ok = (
        sp.filter(F.col("doc_id") >= tp_rows - tp_hot)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("ns"),
            F.max(
                (F.col("span_len") == F.col("n_tokens")).cast("int")
            ).alias("full"),
        )
        .agg(
            F.sum(
                ((F.col("ns") == 1) & (F.col("full") == 1)).cast("int")
            ).alias("ok")
        )
        .collect()[0]["ok"]
    )
    sp_sec = round(time.monotonic() - t0, 3)
    span_probe = {
        "span_probe_docs": tp_rows,
        "span_probe_sec": sp_sec,
        "span_probe_docs_per_sec": round(tp_rows / sp_sec, 1),
        "span_probe_hot_single_full_span": round(sp_hot_ok / tp_hot, 4),
    }
    print(f"# span_probe: {span_probe}", file=sys.stderr)

    # BPE leg of the text probe, at PRODUCTION merge counts (r5
    # verdict #2): train 256 merges on the SAME 200k-doc corpus — the
    # corpus-sized cost is the one word-count scan; every merge round
    # runs on the |vocab| table, with localCheckpoint-every-16
    # truncating the fold lineage so per-round wall time stays FLAT
    # (without it round r re-executes an r-deep fold chain, O(r²)
    # total). Two planted truths ride the timing:
    #   - every generated token is "t<id>" with Zipf mass
    #     concentrated on the t1-prefix family, so merge #1 MUST be
    #     ('t','1') — a wrong pair-count aggregate or argmax tiebreak
    #     breaks it;
    #   - flatness: mean wall of the LAST 10 rounds must stay within
    #     1.2x the mean of rounds 2-11 (round 1 pays the corpus scan
    #     and is excluded — comparing against it would make the gate
    #     trivially green).
    from top_produce_etl_spark.operators.bpe import bpe_train

    t0 = time.monotonic()
    bpe_rt: list = []
    bpe_ct: list = []
    bpe_m, _ = bpe_train(
        tp_df, "text", 256, round_times=bpe_rt,
        round_clock=mutator_cpu_clock, round_clock_times=bpe_ct,
    )
    bpe_sec = round(time.monotonic() - t0, 3)
    bpe_first10 = sum(bpe_rt[1:11]) / len(bpe_rt[1:11])
    bpe_last10 = sum(bpe_rt[-10:]) / len(bpe_rt[-10:])
    bpe_cpu_first10 = sum(bpe_ct[1:11]) / len(bpe_ct[1:11])
    bpe_cpu_last10 = sum(bpe_ct[-10:]) / len(bpe_ct[-10:])
    # Gate restated (r9 verdict #6, after two rounds of misfires on
    # run-local JVM state): per-round WALL on a loaded/GC-pressured
    # JVM read 5.06x in-bench vs 0.53x isolated on identical code —
    # wall flatness alone cannot adjudicate. The verdict-carrying
    # signal is now MUTATOR CPU per round (cpu − gc − jit, the clock
    # injected above): a real O(r²) lineage blowout burns more
    # mutator cycles per round, GC attribution doesn't. Wall flatness
    # still reports; the gate fails only when BOTH grow (the
    # conjunction discipline of delta_entry).
    bpe_wall_flat = bool(bpe_last10 <= 1.2 * bpe_first10)
    bpe_cpu_flat = bool(bpe_cpu_last10 <= 1.2 * bpe_cpu_first10 + 0.05)
    bpe_probe = {
        "bpe_probe_docs": tp_rows,
        "bpe_probe_sec": bpe_sec,
        "bpe_probe_merges_done": len(bpe_m),
        "bpe_probe_first_merge_expected": bpe_m[0] == ("t", "1"),
        "bpe_probe_round_first10_sec": round(bpe_first10, 3),
        "bpe_probe_round_last10_sec": round(bpe_last10, 3),
        "bpe_probe_round_flat_ratio": round(bpe_last10 / bpe_first10, 2),
        "bpe_probe_round_cpu_first10_sec": round(bpe_cpu_first10, 3),
        "bpe_probe_round_cpu_last10_sec": round(bpe_cpu_last10, 3),
        "bpe_probe_round_cpu_flat_ratio": round(
            bpe_cpu_last10 / max(bpe_cpu_first10, 1e-9), 2
        ),
        "bpe_probe_round_wall_flat_ok": bpe_wall_flat,
        "bpe_probe_round_flat_ok": bool(bpe_wall_flat or bpe_cpu_flat),
        # gate predicate version (r11, ADVICE): v1 (r5-r9) was
        # wall-flat only; v2 (r10+) is wall-flat OR mutator-CPU-flat.
        # Cross-round readers of bpe_probe_round_flat_ok must not
        # compare v1 and v2 values as the same predicate.
        "bpe_probe_round_flat_gate_version": 2,
    }
    print(f"# bpe_probe: {bpe_probe}", file=sys.stderr)

    # Classifier-training leg of the text probe (r9): train the
    # quasi-logistic quality classifier on the SAME 200k-doc corpus —
    # 40x the battery fixture. The per-iteration plan is one scan of
    # the persisted per-doc feature arrays + one |buckets|-wide
    # shuffle, so per-round wall must stay FLAT like BPE's (the same
    # 1.2x last-vs-first gate would hold; here we gate the planted
    # truth + total instead: the label is a token-count rule, and the
    # trained model must beat the majority class on its own training
    # corpus — a trainer that diverges or saturates fails this).
    from pyspark.sql import functions as _F

    from top_produce_etl_spark.operators._cache import (
        unpersist_all as _unp,
    )
    from top_produce_etl_spark.operators.classifier import (
        score_quasi_logreg,
        train_quasi_logreg,
    )

    nw = lambda w: _F.size(  # noqa: E731
        _F.filter(_F.split(_F.col("text"), " "), lambda t: t == w)
    )
    # label: strictly more t2 than t3 occurrences — on this zipf
    # corpus that splits 53/47 (a >= variant of the head token reads
    # ~74/26 and the majority class already matches the Bayes rate)
    cls_docs = tp_df.withColumn(
        "__y", (nw("t2") > nw("t3")).cast("int")
    )
    t0 = time.monotonic()
    cls_model = train_quasi_logreg(
        cls_docs, "doc_id", "text", "__y",
        n_buckets=32, iters=12, lr=(1, 50),
    )
    cls_train_sec = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    cls_eval = (
        score_quasi_logreg(cls_docs, cls_model, "doc_id", "text", 32)
        .join(
            cls_docs.select(_F.col("doc_id").alias("id"), "__y"), "id"
        )
        .agg(
            _F.count("*").alias("n"),
            _F.sum(
                (_F.col("pred") == _F.col("__y")).cast("long")
            ).alias("correct"),
            _F.sum("__y").alias("pos"),
        )
        .collect()[0]
    )
    cls_score_sec = round(time.monotonic() - t0, 3)
    _unp()
    cls_acc = cls_eval["correct"] / cls_eval["n"]
    cls_major = max(cls_eval["pos"], cls_eval["n"] - cls_eval["pos"]) / cls_eval["n"]
    classifier_probe = {
        "classifier_probe_docs": tp_rows,
        "classifier_probe_train_sec": cls_train_sec,
        "classifier_probe_score_sec": cls_score_sec,
        "classifier_probe_docs_per_sec": round(
            tp_rows / cls_train_sec, 1
        ),
        "classifier_probe_accuracy": round(cls_acc, 4),
        "classifier_probe_majority": round(cls_major, 4),
        "classifier_probe_beats_majority": bool(cls_acc > cls_major),
    }
    print(f"# classifier_probe: {classifier_probe}", file=sys.stderr)

    # URL-curation leg (r9): 2M synthetic raw URLs (range frame —
    # zero storage) with 200k planted duplicate classes; canonicalize
    # + dedup is pure expressions + ONE hash-agg, so this measures
    # the family at 400x the battery fixture. Planted truths: exactly
    # n_classes canonical forms survive, and no class cross-merges
    # (distinct eids per canonical == 1 everywhere).
    from top_produce_etl_spark.operators.urls import (
        normalize_urls,
        synthesize_urls,
    )

    url_rows, url_classes = 2_000_000, 200_000
    ids = spark.range(url_rows).select(_F.col("id").alias("doc_id"))
    t0 = time.monotonic()
    url_agg = (
        normalize_urls(
            synthesize_urls(ids, effective_mod=url_classes), "url"
        )
        .groupBy("canonical_url")
        .agg(
            _F.countDistinct(_F.col("doc_id") % url_classes).alias(
                "classes"
            ),
            _F.countDistinct("url").alias("variants"),
        )
        .agg(
            _F.count("*").alias("n_canonical"),
            _F.max("classes").alias("max_classes"),
            _F.sum(
                (_F.col("variants") > 1).cast("long")
            ).alias("multi_variant"),
        )
        .collect()[0]
    )
    url_sec = round(time.monotonic() - t0, 3)
    url_probe = {
        "url_probe_rows": url_rows,
        "url_probe_sec": url_sec,
        "url_probe_rows_per_sec": round(url_rows / url_sec, 1),
        "url_probe_canonical": url_agg["n_canonical"],
        "url_probe_exact_classes": bool(
            url_agg["n_canonical"] == url_classes
        ),
        "url_probe_no_cross_merge": bool(url_agg["max_classes"] == 1),
        "url_probe_multi_variant_frac": round(
            url_agg["multi_variant"] / url_agg["n_canonical"], 4
        ),
    }
    print(f"# url_probe: {url_probe}", file=sys.stderr)

    # Language-identification leg (r10): 200k synthesized multi-
    # language docs (range frame — zero storage) with planted
    # per-language lexicons; train all 5 one-vs-rest heads with the
    # production xxhash64 bucket hash, then score the 100k HELD-OUT
    # docs the model never saw. Planted truths: held-out accuracy
    # must recover the class structure (gate ≥ 0.99 vs the 0.2
    # majority baseline), and training throughput is the timed
    # surface (one scan + one |buckets|-wide shuffle per iteration).
    from top_produce_etl_spark.operators.langid import (
        score_langid,
        synthesize_lang_corpus,
        train_langid,
    )

    li_rows = 200_000
    li_corpus = synthesize_lang_corpus(
        spark.range(li_rows).select(_F.col("id").alias("doc_id"))
    )
    li_train = li_corpus.where(_F.col("doc_id") % 2 == 0)
    li_held = li_corpus.where(_F.col("doc_id") % 2 == 1)
    t0 = time.monotonic()
    # 5 iterations, 128 buckets (r11): the confusable-cluster corpus
    # converges to ~0.93 held-out by iter 5 (0.88 at the old 3); 64
    # buckets put 5.7k en->de errors down to a trigram hash
    # COLLISION — at 128 that artifact drops to ~0.3k and the
    # confusion matrix concentrates on the planted Iberian cluster
    # (pt->es, gl->es), which is the readout the probe exists for
    li_model = train_langid(
        li_train, iters=5, hash_mode="xxhash64", n_buckets=128
    )
    li_train_sec = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    li_pairs = (
        score_langid(
            li_held, li_model, hash_mode="xxhash64", n_buckets=128
        )
        .join(
            li_held.select(
                _F.col("doc_id").alias("id"),
                _F.col("lang").alias("lang_true"),
            ),
            "id",
        )
        .groupBy("lang_true", "pred_lang")
        .agg(_F.count("*").alias("n"))
        .collect()  # ≤ |langs|² rows
    )
    li_score_sec = round(time.monotonic() - t0, 3)
    _unp()
    li_n = sum(r["n"] for r in li_pairs)
    li_correct = sum(
        r["n"] for r in li_pairs if r["lang_true"] == r["pred_lang"]
    )
    li_acc = li_correct / li_n
    # per-pair confusion readout (r11, r10 verdict #5): the corpus
    # now plants a CONFUSABLE es/pt/gl cluster (~50% shared
    # trigrams), so the gate drops from the trivially-separable
    # 0.99 to 0.9 and the record names where the errors land —
    # every off-diagonal cell, worst first
    li_confused = {
        f"{r['lang_true']}->{r['pred_lang']}": r["n"]
        for r in sorted(li_pairs, key=lambda r: -r["n"])
        if r["lang_true"] != r["pred_lang"]
    }
    langid_probe = {
        "langid_probe_docs": li_rows,
        "langid_probe_train_sec": li_train_sec,
        "langid_probe_score_sec": li_score_sec,
        "langid_probe_train_docs_per_sec": round(
            (li_rows // 2) / li_train_sec, 1
        ),
        "langid_probe_heldout_accuracy": round(li_acc, 4),
        "langid_probe_confused_pairs": li_confused,
        "langid_probe_heldout_ok": bool(li_acc >= 0.9),
        "langid_probe_gate_version": 3,  # v1 (r10): 0.99 disjoint; v2: 64 buckets
    }
    print(f"# langid_probe: {langid_probe}", file=sys.stderr)

    # Audio-codec leg (r10): 50k synthesized WAV clips (range frame,
    # ~85 MB of real RIFF bytes built and decoded in the workers),
    # 100x the battery fixture — times the encode→chunk-walk→PCM16
    # stats path end to end. Planted truth: total decoded samples
    # must equal the closed form Σ (800 + (id%5)·160), and the
    # global zero-crossing count must be reproduced exactly on a
    # second run (decode determinism at scale).
    from top_produce_etl_spark.operators.audio import (
        decode_audio_stats,
        synthesize_audio,
    )

    au_rows = 50_000
    au_ids = spark.range(au_rows).select(_F.col("id").alias("doc_id"))
    t0 = time.monotonic()
    au_agg = (
        decode_audio_stats(synthesize_audio(au_ids))
        .agg(
            _F.count("*").alias("n"),
            _F.sum("n_samples").alias("samples"),
            _F.sum("zero_crossings").alias("zc"),
            _F.sum("energy").alias("energy"),
        )
        .collect()[0]
    )
    au_sec = round(time.monotonic() - t0, 3)
    # closed form: ids 0..N-1 uniform over the 5 length classes
    expect_samples = sum(
        (800 + (i % 5) * 160) for i in range(au_rows)
    )
    audio_probe = {
        "audio_probe_clips": au_rows,
        "audio_probe_sec": au_sec,
        "audio_probe_clips_per_sec": round(au_rows / au_sec, 1),
        "audio_probe_samples": int(au_agg["samples"]),
        "audio_probe_samples_ok": bool(
            int(au_agg["samples"]) == expect_samples
            and au_agg["n"] == au_rows
        ),
    }
    print(f"# audio_probe: {audio_probe}", file=sys.stderr)

    # Crawl-tier leg (r11): 200k raw-HTML pages extracted (the
    # chained-regexp step 0) and 1M URLs robots-gated against the
    # parsed rule dimension. Planted truths: every extracted page
    # has exactly 4 visible lines and carries the decoded-entity
    # sentence; the robots verdict census must equal the closed
    # form computed by an independent Python REP evaluator over the
    # (domain, path) classes.
    from top_produce_etl_spark.operators.html import (
        extract_html_text,
        synthesize_html_docs,
    )
    from top_produce_etl_spark.operators.robots import (
        ROBOTS_FIXTURE_PATHS,
        parse_robots,
        robots_allowed,
        synthesize_robots_corpus,
    )

    ht_rows = 200_000
    ht_pages = synthesize_html_docs(
        synthesize_lang_corpus(
            spark.range(ht_rows).select(_F.col("id").alias("doc_id"))
        ).select("doc_id", "text")
    )
    t0 = time.monotonic()
    ht_agg = (
        extract_html_text(ht_pages)
        .agg(
            _F.count(_F.lit(1)).alias("n"),
            _F.sum(
                (
                    _F.length("text")
                    - _F.length(_F.regexp_replace("text", "\n", ""))
                    + 1
                )
            ).alias("lines"),
            _F.sum(
                _F.col("text")
                .contains("& more <data> 'quoted' here")
                .cast("long")
            ).alias("decoded"),
        )
        .collect()[0]
    )
    ht_sec = round(time.monotonic() - t0, 3)

    rb_rows = 1_000_000
    rb_ids = spark.range(rb_rows).select(_F.col("id").alias("doc_id"))
    rb_robots, rb_urls = synthesize_robots_corpus(rb_ids)
    t0 = time.monotonic()
    rb_rules = parse_robots(rb_robots, agent="trainingbot")
    rb_n_allowed = (
        robots_allowed(rb_urls, rb_rules)
        .agg(_F.sum(_F.col("allowed").cast("long")))
        .collect()[0][0]
    )
    rb_sec = round(time.monotonic() - t0, 3)

    # independent Python REP evaluator over the (domain, path)
    # classes — glob semantics = the regex ^s0.*s1...sk($)? the
    # engine translates to
    def _glob(pat: str, path: str) -> bool:
        anchored = pat.endswith("$")
        core = pat[:-1] if anchored else pat
        segs = core.split("*")
        if not path.startswith(segs[0]):
            return False
        pos = len(segs[0])
        if len(segs) == 1:
            return not anchored or pos == len(path)
        for seg in segs[1:-1]:
            idx = path.find(seg, pos)
            if idx < 0:
                return False
            pos = idx + len(seg)
        last = segs[-1]
        if anchored:
            return path.endswith(last) and len(path) - len(last) >= pos
        return path.find(last, pos) >= 0

    def _rep_allowed(d: int, path: str) -> bool:
        star = [("disallow", "/private/"), ("allow", "/private/pub"),
                ("disallow", "/tmp*.log"), ("disallow", "/exact$")]
        spec = []
        if d % 2 == 0:
            spec += [("disallow", "/no-ai/"), ("allow", "/")]
        if d % 3 == 0:
            spec += [("disallow", "/shared/")]
        eff = spec if spec else star
        best = None
        for rt, pat in eff:
            if _glob(pat, path):
                key = (len(pat), rt == "allow")
                if best is None or key > best[0]:
                    best = (key, rt)
        return best is None or best[1] == "allow"

    # (i%10, i%12) pairs repeat with period lcm(10,12)=60
    rb_expect = 0
    pair_counts: dict[tuple[int, int], int] = {}
    for i in range(60):
        pair_counts[(i % 10, i % 12)] = (
            pair_counts.get((i % 10, i % 12), 0)
            + (rb_rows // 60)
            + (1 if i < rb_rows % 60 else 0)
        )
    for (d, p), cnt in pair_counts.items():
        if _rep_allowed(d, ROBOTS_FIXTURE_PATHS[p]):
            rb_expect += cnt
    _unp()
    crawl_probe = {
        "crawl_probe_html_docs": ht_rows,
        "crawl_probe_html_sec": ht_sec,
        "crawl_probe_html_docs_per_sec": round(ht_rows / ht_sec, 1),
        "crawl_probe_html_lines_exact": bool(
            ht_agg["lines"] == 4 * ht_rows
        ),
        "crawl_probe_html_entities_decoded": bool(
            ht_agg["decoded"] == ht_rows
        ),
        "crawl_probe_robots_urls": rb_rows,
        "crawl_probe_robots_sec": rb_sec,
        "crawl_probe_robots_urls_per_sec": round(rb_rows / rb_sec, 1),
        "crawl_probe_robots_allowed": int(rb_n_allowed),
        "crawl_probe_robots_verdicts_exact": bool(
            int(rb_n_allowed) == rb_expect
        ),
    }
    print(f"# crawl_probe: {crawl_probe}", file=sys.stderr)

    # THIRD probe — the FLAGSHIP relational path at 10x data (round 5
    # wave 2): lineitem/orders unioned as 10 key-shifted copies of the
    # sf fixture (6M lineitem rows at sf0.1), same join+agg+window
    # plan as the headline flagship. Two judgments ride the timing:
    #   - scaling efficiency = (t_1x * 10) / t_10x — >=1 means the
    #     plan scales SUB-linearly (fixed costs amortize), <<1 would
    #     mean some stage degrades superlinearly and the 100x story
    #     is in trouble;
    #   - result identity: each copy replicates every join match, so
    #     per-(region, part) revenue is exactly 10x and the top-3
    #     ranking must come out IDENTICAL to the 1x run — a
    #     correctness gate riding the probe, like planted recall.
    from functools import reduce

    from pyspark.sql import DataFrame as _DF

    from top_produce_etl_spark.functions.numeric import revenue_sum
    from top_produce_etl_spark.io.sources import load_table
    from top_produce_etl_spark.operators.topn import top_n_window
    from top_produce_etl_spark.queries.relational import flagship_df

    FACTOR = 10
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    od = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li_rows = li.count()
    shift = od.agg(F.max("o_orderkey")).collect()[0][0] + 1
    li10 = reduce(
        _DF.unionByName,
        [
            li.select(
                (F.col("l_orderkey") + F.lit(i * shift)).alias("l_orderkey"),
                "l_partkey", "l_extendedprice", "l_discount",
            )
            for i in range(FACTOR)
        ],
    )
    od10 = reduce(
        _DF.unionByName,
        [
            od.select(
                (F.col("o_orderkey") + F.lit(i * shift)).alias("o_orderkey"),
                "o_custkey",
            )
            for i in range(FACTOR)
        ],
    )
    customer = load_table(spark, SF_DIR, "customer")
    nation = load_table(spark, SF_DIR, "nation")
    region = load_table(spark, SF_DIR, "region")
    part = load_table(spark, SF_DIR, "part")
    t0 = time.monotonic()
    rev10 = (
        li10.join(od10, li10.l_orderkey == od10.o_orderkey)
        .join(customer, od10.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(part, li10.l_partkey == part.p_partkey)
        .groupBy("r_name", "p_name")
        .agg(revenue_sum("revenue"))
    )
    got10 = {
        (r["r_name"], r["p_name"], r["rank"])
        for r in top_n_window(
            rev10, group_by="r_name", metric="revenue", n=3,
            tiebreak="p_name",
        ).collect()
    }
    rel_sec = round(time.monotonic() - t0, 3)
    want = {
        (r["r_name"], r["p_name"], r["rank"])
        for r in flagship_df(spark, SF_DIR).collect()
    }
    rel_probe = {
        "rel_probe_lineitem_rows": li_rows * FACTOR,
        "rel_probe_sec": rel_sec,
        "rel_probe_rows_per_sec": round(li_rows * FACTOR / rel_sec, 1),
        "rel_probe_scaling_efficiency": round(
            timings["flagship_top3_region"] * FACTOR / rel_sec, 3
        ),
        "rel_probe_result_matches_1x": got10 == want,
    }
    print(f"# rel_probe: {rel_probe}", file=sys.stderr)

    # FIFTH probe — the ITERATIVE GRAPH pipeline at scale (round 5
    # wave 4): k-core peel + bounded BFS over a GENERATED 1M-node /
    # 2M-edge random graph (zero storage — spark.range + hash
    # endpoints) with two PLANTED exact truths riding the timing:
    #   - a 20-clique on ids >= 1M (disjoint from the random id
    #     range): at mean degree ~4 the random graph's 10-core is
    #     empty w.h.p. (emergence threshold ~ k + sqrt(k log k) ≈
    #     15), so k_core(k=10) must return EXACTLY the clique;
    #   - a disjoint 5-edge path: BFS from its head with max_hops=3
    #     must return exactly hops {0,1,2,3} on the first 4 nodes —
    #     level semantics verified at scale, not just on fixtures.
    from top_produce_etl_spark.operators.graph import (
        bfs_distances,
        k_core,
    )

    GN, GE, CLIQUE = 1_000_000, 2_000_000, 20
    rand_e = spark.range(GE).select(
        F.pmod(F.xxhash64("id"), F.lit(GN)).alias("u"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(GN)).alias("v"),
    )
    cl_ids = list(range(GN, GN + CLIQUE))
    cl_e = spark.createDataFrame(
        [(a, b) for x, a in enumerate(cl_ids) for b in cl_ids[x + 1:]],
        "u long, v long",
    )
    p0 = GN + CLIQUE
    path_e = spark.createDataFrame(
        [(p0 + i, p0 + i + 1) for i in range(5)], "u long, v long"
    )
    g_edges = rand_e.unionByName(cl_e).unionByName(path_e)
    t0 = time.monotonic()
    core_rows = k_core(g_edges, "u", "v", k=10).collect()
    kc_sec = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    g_sym = g_edges.unionByName(
        g_edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    bfs_rows = {
        r["node"]: r["hops"]
        for r in bfs_distances(
            g_sym, "u", "v",
            spark.createDataFrame([(p0,)], "node long"), max_hops=3,
        ).collect()
    }
    bfs_sec = round(time.monotonic() - t0, 3)
    unpersist_all()
    graph_probe = {
        "graph_probe_edges": GE + len(cl_ids) * (CLIQUE - 1) // 2 + 5,
        "graph_probe_kcore_sec": kc_sec,
        "graph_probe_edges_per_sec": round(GE / kc_sec, 1),
        "graph_probe_core_exact_clique": (
            {r["node"] for r in core_rows} == set(cl_ids)
        ),
        "graph_probe_bfs_sec": bfs_sec,
        "graph_probe_bfs_path_exact": (
            bfs_rows == {p0 + i: i for i in range(4)}
        ),
    }
    print(f"# graph_probe: {graph_probe}", file=sys.stderr)

    # Sketch probe (r5w6): CMS + KMV on the SAME 500k-doc generated
    # corpus shape — the sketch tier's 100x evidence with planted
    # truth:
    #   - CMS (xxhash64 production path) keyed on the document TEXT:
    #     the 1000-doc hot cluster is one key, so its point estimate
    #     must be >= its exact count (one-sided guarantee) and within
    #     the depth-4 collision envelope (4 * N / width);
    #   - global KMV distinct of text vs exact countDistinct — the
    #     k=64 estimator must land within 4 sigma (~50%).
    # Both are single-pass sketch-sized aggregations; the wall time
    # IS the 100 TB cost model (no quadratic anything).
    from top_produce_etl_spark.operators.countmin import (
        WIDTH as CMS_WIDTH,
        cms_build,
        cms_estimate,
    )
    from top_produce_etl_spark.operators.kmv import kmv_estimate, kmv_sketch

    sk_df = (
        spark.read.format("synthdocs")
        .option("rows", probe_rows).option("partitions", CPUS)
        .option("tokens", 54).option("dup_every", 100)
        .option("hot_cluster", probe_hot)
        .option("zipf", 1.1).option("vocab", 10_000).load()
    )
    hot_text = (
        sk_df.orderBy(F.col("doc_id").desc()).limit(1).collect()[0]["text"]
    )
    exact_hot = sk_df.filter(F.col("text") == hot_text).count()
    exact_distinct = sk_df.select("text").distinct().count()
    t0 = time.monotonic()
    cms = cms_build(sk_df, "text", hasher="xxhash64")
    hot_keys = sk_df.orderBy(F.col("doc_id").desc()).limit(1).select("text")
    cms_hot = cms_estimate(
        cms, hot_keys, "text", hasher="xxhash64"
    ).collect()[0]["cms_est"]
    cms_sec = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    kmv_est = kmv_estimate(
        kmv_sketch(sk_df, [], "text", hasher="xxhash64"), []
    ).collect()[0]["distinct_est"]
    kmv_sec = round(time.monotonic() - t0, 3)
    sketch_probe = {
        "sketch_probe_docs": probe_rows,
        "sketch_probe_cms_sec": cms_sec,
        "sketch_probe_cms_docs_per_sec": round(probe_rows / cms_sec, 1),
        "sketch_probe_cms_hot_exact": exact_hot,
        "sketch_probe_cms_hot_est": int(cms_hot),
        "sketch_probe_cms_one_sided_ok": bool(cms_hot >= exact_hot),
        "sketch_probe_cms_envelope_ok": bool(
            cms_hot <= exact_hot + 4 * probe_rows / CMS_WIDTH
        ),
        "sketch_probe_kmv_sec": kmv_sec,
        "sketch_probe_kmv_exact": exact_distinct,
        "sketch_probe_kmv_est": int(kmv_est),
        "sketch_probe_kmv_in_band": bool(
            abs(kmv_est - exact_distinct) <= 0.5 * exact_distinct
        ),
    }
    print(f"# sketch_probe: {sketch_probe}", file=sys.stderr)

    # k-center probe (r5 verdict #5): planted geometry — synthembs
    # scaled to 6400 vectors in 64 well-separated groups (100 near-
    # identical members each). Farthest-first diversity selection of
    # k=8 must land every pick in a DISTINCT group (a groupmate of an
    # existing center is never the farthest point), for BOTH the
    # exact path and the hash-sampled coreset path (sample_mod=8 →
    # ~800-candidate pool that still covers all 64 groups).
    from top_produce_etl_spark.operators.clustering import k_center_select

    from top_produce_etl_spark.operators._cache import (
        persist_tracked as _pt,
        unpersist_all as _upa,
    )

    # persist the generated pool: the greedy loop re-reads it k
    # times per path, and re-driving the Python data source 16x is
    # probe overhead, not operator cost
    kc_emb = _pt(
        spark.read.format("synthembs")
        .option("rows", 6400).option("groups", 64)
        .option("partitions", CPUS).load()
    )
    kc_truth = {}
    t0 = time.monotonic()
    for label, mod in (("exact", None), ("sampled", 8)):
        picks = k_center_select(
            kc_emb, "vec_id", "embedding", k=8, sample_mod=mod
        )
        grps = (
            picks.join(kc_emb.select("vec_id", "grp"), "vec_id")
            .agg(
                F.countDistinct("grp").alias("g"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        kc_truth[label] = (grps["n"], grps["g"])
    kc_sec = round(time.monotonic() - t0, 3)
    _upa()
    kcenter_probe = {
        "kcenter_probe_vectors": 6400,
        "kcenter_probe_sec": kc_sec,
        "kcenter_probe_exact_distinct_groups": kc_truth["exact"][1],
        "kcenter_probe_sampled_distinct_groups": kc_truth["sampled"][1],
        "kcenter_probe_all_picks_distinct_groups": bool(
            kc_truth["exact"] == (8, 8) and kc_truth["sampled"] == (8, 8)
        ),
    }
    print(f"# kcenter_probe: {kcenter_probe}", file=sys.stderr)

    # PQ serving probe (r6): the STORED-INDEX lifecycle at 100x the
    # sf0.1 embedding fixture — 500k synthembs vectors in 256
    # separated groups. Phase 1 (index): train + encode + write the
    # parquet artifacts (pq_index_save — the offline ingest cost).
    # Phase 2 (serve): pq_topk_from_index answers 10 queries from the
    # stored codes alone (LUT scoring, no raw vectors). Planted truth
    # riding the timing: group members are near-identical and groups
    # differ in >= half the subspaces, so every retrieved neighbor
    # MUST share its query's group — a wrong trainer/encoder/scorer
    # breaks it long before recall numerics would.
    import shutil
    import tempfile

    from top_produce_etl_spark.operators.pq import (
        pq_index_save,
        pq_topk_from_index,
    )

    pq_rows = 500_000
    pq_dir = tempfile.mkdtemp(prefix="pq_probe_")
    try:
        # materialize the synthetic corpus to parquet FIRST
        # (untimed): a production index build reads a stored table —
        # timing the Python-data-source row generator was measuring
        # the fixture, not the operator (r6: generation was ~2 of
        # the 80 s... the probe now isolates the build itself)
        (
            spark.read.format("synthembs")
            .option("rows", pq_rows).option("groups", 256)
            .option("partitions", CPUS).load()
            .write.mode("overwrite").parquet(f"{pq_dir}/corpus")
        )
        pq_emb = spark.read.parquet(f"{pq_dir}/corpus")
        t0 = time.monotonic()
        # r6 verdict #5: codebooks train on a deterministic xxhash
        # 1/10 sample (50k of 500k — still ~390 points per codeword);
        # the full corpus is encoded. The planted-truth gate below is
        # UNCHANGED, so a sample-degraded model fails loudly.
        pq_index_save(
            pq_emb, "vec_id", "embedding", dim=64, path=pq_dir,
            train_sample_mod=10,
        )
        pq_index_sec = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        served = pq_topk_from_index(
            spark, pq_dir, pq_emb.filter("vec_id < 10"),
            "vec_id", "embedding", k=3,
        ).collect()
        pq_serve_sec = round(time.monotonic() - t0, 3)
    finally:
        shutil.rmtree(pq_dir, ignore_errors=True)
    pq_groupmates = sum(
        1 for r in served
        if r["query_id"] % 256 == r["neighbor_id"] % 256
    )
    pq_probe = {
        "pq_probe_vectors": pq_rows,
        "pq_probe_index_sec": pq_index_sec,
        "pq_probe_index_vecs_per_sec": round(pq_rows / pq_index_sec, 1),
        "pq_probe_serve_sec": pq_serve_sec,
        "pq_probe_neighbors": len(served),
        "pq_probe_all_neighbors_in_query_group": bool(
            len(served) == 30 and pq_groupmates == 30
        ),
    }
    print(f"# pq_probe: {pq_probe}", file=sys.stderr)

    # round-8 composition probes (r7 verdict #1 / #6)
    fprobe = funnel_probe(spark)
    print(f"# funnel_probe: {fprobe}", file=sys.stderr)
    pq5m = pq_big_probe(
        spark,
        ref_index_sec=pq_index_sec,
        ref_serve_sec=pq_serve_sec,
    )
    print(f"# pq_big_probe: {pq5m}", file=sys.stderr)

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    ext_core = {k: v for k, v in extension.items() if k in EXTENSION_CORE}
    ext_other = {
        k: v for k, v in extension.items() if k not in EXTENSION_CORE
    }
    out = {
        "metric": "sum_median_sec_headline_queries",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        # the rotating long tail first, the PINNED core later in the
        # line — the driver records only the output TAIL, so the
        # comparison-critical dicts sit nearest the end
        "extension_other": ext_other,
        "extension_core": ext_core,
        "extension_core_total_sec": round(sum(ext_core.values()), 3),
        "extension_other_total_sec": round(sum(ext_other.values()), 3),
        "extension_total_sec": round(sum(extension.values()), 3),
        "calibration_sec": cal,
        "calibration_ref_sec": CAL_REF_SEC,
        "calibration_shuffle_sec": cal_shuf,
        "calibration_shuffle_ref_sec": CAL_SHUF_REF_SEC,
        # per-run CPU seconds of the calibration workloads: a quiet
        # vs loaded host moves their WALL but barely their CPU — the
        # cross-check that validates the per-query CPU columns
        "calibration_cpu_sec": cal_cpu,
        "calibration_shuffle_cpu_sec": cal_shuf_cpu,
        # per-query process-tree CPU seconds (median over the timed
        # runs) — the load-independent regression metric (r7 verdict
        # #5); r8 establishes the anchors, the r9 gate prefers them
        "queries_cpu": {n: cpu_med[n] for n in HEADLINE},
        "extension_cpu": {n: cpu_med[n] for n in EXTENSION},
        # per-query JVM housekeeping attribution (r10, r9 verdict #2):
        # GC-thread and JIT-thread CPU seconds that landed inside
        # each query's timing window — the slice the mutator-CPU gate
        # discounts; next round's PREV_CPU_ADJ anchors derive from
        # cpu − gc − jit of the quietest record
        "queries_gc": {n: gc_med[n] for n in HEADLINE},
        "extension_gc": {n: gc_med[n] for n in EXTENSION},
        "queries_jit": {n: jit_med[n] for n in HEADLINE},
        "extension_jit": {n: jit_med[n] for n in EXTENSION},
        "calibration_gc_sec": cal_gc,
        "calibration_shuffle_gc_sec": cal_shuf_gc,
        "value_cpu_sec": round(sum(cpu_med[n] for n in HEADLINE), 3),
        "value_normalized": round(
            sum(timings.values()) * CAL_REF_SEC / cal, 3
        ),
        # the conservative twin: normalized by whichever calibration
        # flavor read the LEAST host interference — the smallest
        # correction we can claim, so it never flatters us when the
        # two flavors disagree about how loaded the host was
        "value_normalized_conservative": round(
            sum(timings.values())
            * max(CAL_REF_SEC / cal, CAL_SHUF_REF_SEC / cal_shuf),
            3,
        ),
        "queries_spread": {n: spread[n] for n in HEADLINE},
        "delta_vs_prev": deltas,
        "delta_vs_prev_ext": ext_deltas,
        **recalls,
        **probe,
        **text_probe,
        **span_probe,
        **bpe_probe,
        **classifier_probe,
        **url_probe,
        **langid_probe,
        **audio_probe,
        **crawl_probe,
        **rel_probe,
        **graph_probe,
        **sketch_probe,
        **kcenter_probe,
        **pq_probe,
        **fprobe,
        **pq5m,
    }
    print(json.dumps(out))
    # Persist the FULL record to disk (r9 verdict #2): the driver
    # captures only a bounded stdout TAIL, and r8's tail truncation
    # lost every extension per-query wall plus the headline delta
    # table. The on-disk twin makes the complete record independent
    # of stdout budgets; the round close commits it as the builder
    # record.
    try:
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_LATEST_full.json",
        )
        with open(full_path, "w") as fh:
            json.dump(out, fh)
            fh.write("\n")
        print(f"# full record written: {full_path}", file=sys.stderr)
    except OSError as e:  # read-only checkout: stdout still has it
        print(f"# full record not written: {e}", file=sys.stderr)
    # Compact headline-only line printed LAST (r5 verdict #4): the
    # driver captures a bounded output TAIL (~2000 chars), so this
    # line must (a) stay slim in the healthy case and (b) order its
    # fields EXPENDABLE-FIRST — if it ever outgrows the tail, the
    # truncation eats calibration context, never the verdicts (the
    # within-line generalization of the compact-line-last
    # discipline; r9 — the flags dict pushed a 6-suspect line to
    # 2.7k chars). Spreads are reduced to per-query MINs (the only
    # spread statistic the wall gate reads); full spreads live in
    # the long line and BENCH_LATEST_full.json.
    compact = {
        # -- expendable context first --
        "metric": "sum_median_sec_headline_queries",
        "unit": "sec",
        "sf": out["sf"],
        "calibration_sec": cal,
        "calibration_shuffle_sec": cal_shuf,
        "calibration_cpu_sec": cal_cpu,
        "calibration_shuffle_cpu_sec": cal_shuf_cpu,
        "value_normalized": out["value_normalized"],
        "value_normalized_conservative": out[
            "value_normalized_conservative"
        ],
        "extension_core_total_sec": out["extension_core_total_sec"],
        "extension_other_total_sec": out["extension_other_total_sec"],
        # -- comparison-critical, nearest the end --
        "queries_cpu": out["queries_cpu"],
        "queries_gc": out["queries_gc"],
        "queries": timings,
        "queries_min": {n: spread[n][0] for n in HEADLINE},
        "ext_delta_improved": sum(
            1 for v in ext_deltas.values()
            if isinstance(v, dict) and v["verdict"] == "IMPROVED"
        ),
        "ext_delta_noise": sum(
            1 for v in ext_deltas.values()
            if isinstance(v, dict) and v["verdict"] == "noise-band"
        ),
        # FULL numbers for every non-noise verdict, headline AND
        # extension (r9 verdict #2), as compact 7-tuples
        # [prev, med, cpu, cpu_prev, gc, cpu_adj, verdict]: flagged
        # names must never again arrive without numbers, and (r10)
        # every flag carries its GC attribution + the mutator CPU the
        # gate actually adjudicated on
        "flags": {
            n: [v["prev"], v["med"], v["cpu"], v["cpu_prev"],
                v["gc"], v["cpu_adj"], v["verdict"]]
            for table in (deltas, ext_deltas)
            for n, v in table.items()
            if isinstance(v, dict) and v["verdict"] != "noise-band"
        },
        "ext_delta_regressed": sorted(
            n for n, v in ext_deltas.items()
            if isinstance(v, dict) and v["verdict"] == "REGRESSED"
        ),
        "headline_min_total_sec": round(
            sum(spread[n][0] for n in HEADLINE), 3
        ),
        "value_cpu_sec": out["value_cpu_sec"],
        "value": out["value"],
        "compact_twin_of_previous_line": True,
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
