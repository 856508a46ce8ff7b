"""Dump formatted physical plans for headline queries into EXPLAIN.md.

The plans are the scale argument made concrete: what pushes down, what
broadcasts, what shuffles, where codegen spans run. Regenerate after plan
changes:  python scripts/explain_plans.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod  # noqa: E402
from bigdata_group4_app_spark.session import get_spark  # noqa: E402
from profiler import formatted, plan_counters  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

# query -> what to look for in its plan
HEADLINERS = {
    "churn_stats": "single-pass fused aggregate; PushedFilters + ReadSchema "
    "pruning at the parquet scan",
    "local_supplier_volume": "6-table star join: bounded dims (nation/"
    "region) hint-broadcast, SF-linear dims size-driven (AQE broadcasts "
    "them at this SF), one fact-fact shuffle, date filter pushed to scan",
    "shipping_priority": "TPC-H Q3 shape: size-driven dim join (auto-"
    "broadcast at this SF), shuffled fact join, TakeOrderedAndProject "
    "top-k (no global sort)",
    "attribution_window_join": "bucketed-band interval join: equi-join on "
    "(user_id, bucket), no nested-loop",
    "minhash_lsh_pairs": "LSH band self-join: signature agg, bucket-keyed "
    "shuffle, Jaccard verify on candidates only",
    "top_event_per_user": "entity-partitioned window: one shuffle on "
    "user_id, in-partition sort",
    "events_hourly": "time-bucketed aggregation: partial+final hash agg",
    "corpus_clean_summary": "composed funnel (dedup ∘ quality ∘ budget) in "
    "one Catalyst plan",
    "ngram_jaccard_pairs": "exact Jaccard in one pass: 60-bit hashed "
    "shingle self-join, pair-grouped intersection counts, broadcast sizes. "
    "The InMemoryTableScan leaf IS the shingle relation, persist()-ed "
    "once for its three consumers (construction-lazy, round 10) — the "
    "map-side hash+array_distinct pipeline behind it is visible in "
    "minhash_lsh_pairs' plan",
    "above_nation_avg_customers": "correlated scalar subqueries "
    "decorrelated to aggregates + joins (no per-row re-execution)",
    "cohort_retention": "two entity-keyed aggs + broadcast cohort sizes; "
    "integer week arithmetic",
    "heavy_hitters": "TakeOrderedAndProject top-K with 1-row broadcast "
    "total",
    "scd2_priority_history": "SCD2 build: one repartition on custkey "
    "serves the daily-grain agg AND the lag/row_number/lead window chain "
    "(subset clustering — no second exchange)",
    "pit_priority_lookup": "point-in-time lookup as union-marker as-of "
    "merge: version rows + probes union, one shuffle on custkey, running "
    "last(ignorenulls) — no range join, no per-row probe",
    "cdc_apply": "MERGE INTO shape: one scan filter-split into snapshot/"
    "batch branches, each collapsed per key, full-outer join + CASE "
    "classification",
    "ohlc_hourly_bars": "OHLC bars: ONE partial-aggregating hash agg — "
    "open/close are min/max(struct) argmin/argmax, no window, no second "
    "pass",
    "peak_concurrent_sessions": "distributed sweep line: session_window "
    "agg, day-partitioned running-sum window, |days|-row carry window "
    "(the only unpartitioned exchange is 1 row per day)",
    "trade_network_pagerank": "iterative PageRank round: transitions ⋈ "
    "ranks (broadcast — ranks are |nodes| rows), dst re-agg, 1-row "
    "dangling-mass broadcast; Scan ExistingRDD leaves are the "
    "localCheckpoint-truncated loop state",
    "jaccard_prefix_filter_pairs": "PPJoin: df-count agg, per-doc "
    "rarest-first rank window, prefix-only self-join, exact verify join "
    "— compare candidate width vs ngram_jaccard_pairs' full self-join",
    "zorder_tile_stats": "Z-order audit: pure map-side bit interleave "
    "(whole-stage codegen single span) + 64-group hash agg",
    "twap_user_value": "TWAP: lead window then groupBy on the SAME "
    "user_id clustering — one Exchange serves both",
    "revenue_compound_projection": "Spark 4 recursive CTE: UnionLoop "
    "iterates the projection step inside ONE plan — no driver-side "
    "collect/resubmit loop",
    "layout_skipping_compare": "zone-map simulation: three rank windows "
    "over one localCheckpoint-free dims subtree, 64-row envelope aggs "
    "broadcast against 16 probes",
    "dq_rule_violations": "DQ suite: ONE fused conditional aggregate per "
    "table scan + one shared lineitem⟕orders join; explode-unpivot emits "
    "per-rule rows from single branches",
    "levenshtein_dup_pairs": "two-key pigeonhole blocking: banded path "
    "for short docs UNION chunk/substring equi-join for long docs — "
    "candidate ids distinct'd BEFORE probes re-attach, bounded "
    "levenshtein only on survivors",
    "embedding_dup_pairs": "chunked block-grid: ONE map-only stage "
    "(scan → MapInPandas), corpus chunks re-read executor-side — no "
    "Exchange, no broadcast, no driver materialization",
    "churn_score_booster": "400-tree booster scoring: codegen feature "
    "assembly → one ArrowEvalPython (pandas_udf margin) → in-engine "
    "sigmoid/round — map-only, no shuffle",
    "duplicate_passage_spans": "substring dedup: codegen "
    "transform+slice window explosion, partial-agg collapses repeats "
    "map-side, TakeOrderedAndProject top-50 (no global sort)",
    "mv_delta_maintenance": "incremental MV maintenance: conditional "
    "CASE-split aggregates in ONE fact pass, broadcast dims, 1-row "
    "cutoff broadcast; drift check in-query",
    "sorted_neighborhood_pairs": "linear SNM candidates: partitioned "
    "lead() window (never a single-reducer global sort), exploded pairs "
    "into the exact-Jaccard verify joins",
    "bpe_merge_candidates": "one corpus-sized word-count agg; pair "
    "explode on the distinct vocabulary only; TakeOrderedAndProject "
    "top-20 (no global sort)",
    "jl_projection_audit": "16 literal-matrix fused folds, map-only "
    "scan → one label-cardinality hash agg; no shuffle of vectors",
    "lateral_region_top_customers": "correlated LATERAL-with-LIMIT "
    "decorrelated to WindowGroupLimit per-group heaps + broadcast "
    "equi-join — no nested loop",
    "near_dup_survivors": "tiny cluster labels broadcast into the "
    "corpus quality scan; max(struct) argmax agg, window-free",
    "kmeans_fit_centroids": "distributed Lloyd: broadcast centroid "
    "joins + map-side distance folds, posexplode partial-agg updates, "
    "localCheckpoint-truncated loop lineage",
    "kfold_churn_auc": "AUC without a global sort: (fold, score) hash "
    "agg, rank window over the distinct-score relation only",
    "poisson_bootstrap_ci": "single-pass bootstrap: explode ×B with "
    "md5-Poisson weights, partial-agg replica means, exact percentile "
    "over the B-row tail",
    "copurchase_triangles": "degree-ordered wedge self-join (out-degree "
    "O(√m) under hub skew) + closing-edge equi-join; map-side basket "
    "pair explosion feeds the edge agg",
    "knn_jl_projected": "two-stage ANN: map-only projected folds, "
    "broadcast query set, per-query window shortlist, exact rerank on "
    "pool rows only",
    "winnowing_fingerprints": "winnowing (MOSS): map-side k-gram "
    "explode, packed-BIGINT trailing-window min computed ONCE "
    "(persist()-cached, construction-lazy; the InMemoryTableScan leaves are its consumers), "
    "fused n_kgrams+count(DISTINCT sel) agg on the same doc_id "
    "clustering, |fingerprints|-bounded df agg broadcast back",
    "gopher_quality_flags": "rule ledger: every signal a map-side HOF "
    "in one codegen span, single |langs|-row hash agg — no joins, no "
    "vocabulary relation",
    "watermark_dedup_stats": "keep-first-within-horizon chain: ONE "
    "shuffle to 32 coarse buckets, FlatMapGroupsInPandas state fold "
    "(keys looped inside the closure), per-type count aggs",
    "mmr_diverse_topk": "two-stage MMR: corpus-stream relevance top-N "
    "(broadcast 1-row query), then k-1 greedy rounds over the "
    "localCheckpoint-pinned 12-row candidate pool — candidate-sized "
    "work regardless of corpus",
    "bloom_filter_fpr_audit": "bloom build: explode k bit positions "
    "map-side, m-BOUNDED distinct bit relation broadcast to the probe "
    "stream; probe verdicts one bucket-key hash agg",
    "mann_whitney_value_test": "rank-sum: groupBy(value) collapses to "
    "distinct values BEFORE the single prefix-sum window; O(1) "
    "closed-form algebra on a 1-row fold",
    "theil_sen_daily_trend": "robust trend: raw events collapse to "
    "(type, day) FIRST; pairwise slopes on the calendar-bounded series "
    "via broadcast self-join; exact percentile per type",
    "grouping_sets_revenue": "explicit GROUPING SETS: ONE Expand node "
    "replicates rows per set map-side — single scan + single "
    "partial-aggregating shuffle for the 4-level lattice",
    "dbscan_density_census": "grid-blocked ε-join: 9-cell probe explode "
    "→ cell-EQUI join (density-bounded candidates, never n²), ε-pair "
    "relation localCheckpointed for the count agg AND the border "
    "semi-join",
    "pareto_frontier_customers": "2-D skyline in one window pass: "
    "per-level pre-agg, running-max lag over the |distinct revenue| "
    "level relation, equi-join back — no dominance self-join",
    "minhash_accuracy_audit": "sketch-error ledger: same signature-agg + "
    "band-join frames as minhash_lsh_pairs, candidate-bounded signature "
    "re-join, K+1-row output",
    "histogram_quantile_audit": "mergeable-histogram quantiles: bounds "
    "agg → map-side bucketing → 64-row hist agg; inverse-CDF walk and "
    "exact-percentile comparison on broadcast-tiny relations",
    "cusum_changepoint": "CUSUM scan: daily collapse (the only data "
    "pass), type-partitioned ordered cumulative sum + argmax window "
    "over calendar-bounded rows",
    "cuped_adjusted_ab": "CUPED: per-user pre/post collapse, 1-row "
    "theta broadcast back, one more sufficient-stats fold — two "
    "aggregate passes total",
    "bm25_search": "BM25: postings filtered to the query vocabulary "
    "BEFORE the (doc, term) shuffle, broadcast df + 1-row avgdl stats, "
    "TakeOrderedAndProject top-k — no global sort",
    "ngram_novelty_curve": "novelty decay: distinct (doc, 60-bit gram) "
    "relation, gram-keyed min(doc_id) partial agg, doc-keyed novelty "
    "agg; ntile split on the per-doc relation",
    "kaplan_meier_churn": "product-limit curve: one customer collapse "
    "to the tenure event table, risk-set + exp(sum(ln)) windows over "
    "vocabulary-bounded rows, 1-row total broadcast",
    "semantic_dedup_pairs": "SemDeDup: Lloyd loop (map-side argmin vs "
    "broadcast 1-row centroid array, one materialization per round), "
    "2-probe cell expansion map-side, per-cell FlatMapGroupsInPandas "
    "BLAS pair matmul — no all-pairs relation anywhere",
    "bpe_encode_stats": "sequential BPE: one corpus word-count shuffle, "
    "then per-round vocab-sized pair agg + fit-scalar argmax + JVM fold "
    "merge application, localCheckpoint per round",
    "rrf_hybrid_search": "hybrid fusion: BM25 postings filtered to query "
    "vocab pre-shuffle, dense broadcast-query map scan, both top-k'd "
    "before a ≤20-row union/agg/rank fusion",
    "image_phash_pairs": "perceptual-hash dedup: map-only O(n) char-fold "
    "hashing (localCheckpoint'd 9-int relation), band-keyed equi-join, "
    "bit_count verify on candidates only",
    "textrank_keywords": "integer fixed-point PageRank: one corpus "
    "bigram shuffle, then vocab-sized edge relation per round — "
    "order-free BIGINT sums, no float recipe at all",
    "cluster_balanced_sample": "per-cell bottom-k by md5 priority over "
    "the shared Lloyd assignment — rank window = per-key TakeOrdered "
    "at scale",
    "pq_codebook_audit": "product quantization: per-subspace Lloyd vs "
    "ONE broadcast row of all m×k codewords, map-side argmin, "
    "integer-scaled MSE sums",
    "isotonic_calibration": "PAV via set-based minimax identity: "
    "constant B^3 work over the 10-row bin relation; only the decile "
    "pass scales with the corpus",
    "sprt_ab_monitor": "sequential test as a relation: calendar-bounded "
    "daily agg + integer LLR prefix-sum window",
    "bpe_fertility_hist": "tokens-per-word histogram over the final "
    "BPE state — vocab-sized hash agg after the shared training loop",
    "conformal_churn_sets": "split-conformal sets: distributed two-pass "
    "bucketed rank picks the exact order statistic on the calibration "
    "half (no global sort), 1-row threshold broadcast onto the eval "
    "stream, set-census hash agg with an in-plan 1-row total",
    "negative_sampling_table": "unigram^0.75 sampler: one word-count "
    "shuffle, vocab-sized cumulative window, broadcast table × constant "
    "dart relation — sqrt∘sqrt keeps weights bit-exact without pow()",
    "knn_ivfpq": "IVF-PQ ADC search: map-side encode vs two broadcast "
    "1-row tables (centroids + codebooks), broadcast probe/LUT relation, "
    "integer ADC sums; the ONLY shuffle is the per-query shortlist/"
    "rerank window",
    "semantic_dedup_survivors": "semantic funnel stage: broadcast "
    "cluster labels into the quality scan, max(struct) argmax survivor "
    "pick — no corpus window",
    "pack_shards": "two-pass distributed prefix sum: bucket-partitioned "
    "local windows + |buckets|-row carry; the single-partition exchange "
    "feeds ONLY the bucket aggregate",
    "pack_shards_bpe": "BPE-priced packing: broadcast vocab-fertility "
    "join, doc_id agg, same two-pass prefix sum",
    "dsir_importance_select": "DSIR fit/score: two map-side corpus "
    "scans, 256-row bucket stats broadcast back onto the token stream, "
    "doc_id agg, TakeOrderedAndProject top-k",
    "contamination_ngram_overlap": "decontamination join: broadcast "
    "~1e4-doc eval shingles into the train stream on 8-byte hashes, "
    "pair agg + max(struct) worst-offender argmax — no corpus shuffle",
    "knn_graph_nndescent": "NN-Descent round: capped-reverse window, "
    "adjacency self-join on the introducing node, pool distinct, "
    "broadcast per-node norms into the cosine join, per-node top-k "
    "window — all relations O(k^2 N)",
    "logreg_churn_gd": "logistic GD epoch: ONE partial-aggregating "
    "scan of the checkpointed training matrix, 7 fit scalars to the "
    "driver, no other traffic",
    "cart_churn_tree": "CART level: groupBy(node, feature, value) "
    "histogram pass, tiny cumulative window + argmax, 1-row split "
    "broadcast back onto the scan (intentional BNLJ)",
    "hll_ngram_cardinality": "HLL registers: shingle explode -> "
    "groupBy(source, bucket).max partial agg (256 rows/scope), ALL row "
    "max-merged from per-source registers",
    "kneser_ney_perplexity": "KN LM: one bigram-occurrence shuffle, "
    "vocab-bounded count relations, 1-row type total broadcast, "
    "shuffle-join scoring (distinct-bigram table not broadcast)",
    "ams_f2_sketch": "AMS F2: 64 sign-sums partially aggregated "
    "map-side, median-of-means on an 8-row relation, exact-F2 audit "
    "agg beside it",
    "pca_power_iteration": "power-iteration matvec: d^2-row matrix "
    "join x d-row vector at narrow width, 1-row norm broadcast, "
    "per-round checkpoint — corpus touched once (covariance pass)",
    "oof_target_encoding": "OOF target encoding: one "
    "groupBy(category, fold) pass, global terms re-aggregated from the "
    "tiny per-fold relation — leakage-safe without k anti-join passes",
    "did_estimate": "difference-in-differences: per-user period means "
    "(one partial agg), then ONE conditional aggregate builds all four "
    "(group, period) cells — no second data pass",
    "holt_winters_daily": "HW triple smoothing: one day-grain "
    "aggregate, then the recurrence as an ordered struct-accumulator "
    "fold over the 30-value series — state bounded by series grain, "
    "not corpus",
    "bh_fdr_user_deviations": "BH step-up FDR: one per-user suff-stat "
    "pass, windows over the screened-user relation only; p-values from "
    "the shared in-query A&S polynomial (no scipy on executors)",
    "nb_lang_confusion": "Naive Bayes train+score: vocab-bounded "
    "model broadcast onto exploded holdout tokens, one score shuffle; "
    "log-likelihoods as 1e6-scaled ints (order-free exact)",
    "segmented_trend_fit": "two-piece OLS around the CUSUM break: "
    "breakpoint broadcast onto daily rows, both sides from ONE "
    "conditional suff-stat aggregate, exact-integer algebra",
    "ewma_control_chart": "EWMA chart: one day-grain aggregate, then "
    "the recurrence as a 1e4-scaled-BIGINT ordered fold — state bounded "
    "by series grain; limits via exact integer baseline variance",
    "shapley_channel_attribution": "exact Shapley: one journey "
    "collapse pass, v-table is 2^k=16 rows, attribution is integer "
    "algebra over 4x8 joined rows — only the collapse touches volume",
    "fs_linkage_scores": "Fellegi-Sunter: u-weights from tiny "
    "frequency aggregates (1-row broadcast), nation-blocked pair join, "
    "integer log2-weight sums, total-order top-50",
    "cmh_stratified_test": "CMH: one conditional 2x2xK aggregate, "
    "cross-stratum sums as ordered plain-double folds over the K-row "
    "collect — only the cell pass touches volume",
    "js_divergence_lang_mix": "JS drift: one tokenize pass to counts, "
    "terms on the vocab x langs broadcast grid as 1e8-scaled ints, "
    "order-free exact sums",
    "bandit_replay_eval": "bandit replay OPE: one policy argmax pass, "
    "one replay join; md5 stateless exploration draw; two-valued IPS "
    "weights decomposed into exact integer sums",
    "jackknife_ratio_se": "delete-one-day jackknife: one day-grain "
    "suff-stat pass, leave-one-out via window totals on the D-row "
    "relation — no D replays",
    # round-7 headliners
    "waiting_suppliers": "Q21 multi-exists collapsed to ONE fact "
    "shuffle: explicit repartition(okey) serves the (okey, skey) dedup "
    "agg AND both per-order windows — exactly 2 hash exchanges (fact + "
    "25-row final agg)",
    "bloom_prefiltered_revenue": "runtime-filter join materialized: "
    "1-row bit-array broadcast, fact probed map-side (zero probe "
    "shuffle), exact join on survivors only",
    "mips_norm_pruning_audit": "MIPS audit: rank AND k-th-best "
    "threshold via two windows on the SAME query_id partitioning — one "
    "shuffle, no pair-relation re-scan",
    "bfs_distance_histogram": "frontier BFS: per-round join touches "
    "only the new layer (ExistingRDD leaves = localCheckpoint loop "
    "state), anti-join against reached, early exit on empty frontier",
    "gmm2_value_em": "EM allreduce shape: one map-side partial agg per "
    "round over the checkpointed 1-column matrix; 5 fit scalars of "
    "driver traffic per round",
    "ndcg_retrieval_eval": "nDCG: two broadcast-query candidate scans, "
    "exact-BIGINT gain folds (fixed integer discounts — no libm), "
    "|queries|-row epilogue joins",
    "knn_ivf": "round-8 rewrite: in-engine fixed-point sample-fit Lloyd "
    "(broadcast 1-row centroid table per round, no collect), map-side cell "
    "assignment, broadcast probe join, per-query rerank window",
    "incremental_minhash_lsh": "new-batch band table BROADCAST onto the "
    "corpus band side (never old x old); one jaccard-verify join chain on "
    "candidates only",
    "binary_asset_profile": "true BinaryType parquet scan, map-only hex/md5 "
    "features, broadcast join to the documents dim",
    "dominant_part_suppliers": "Q20 shape: ONE explicit l_partkey shuffle "
    "serves the (part,supplier) agg AND the per-part window; dims broadcast",
    "dormant_rich_customers": "Q22 shape: 1-row global (sum,count) BNLJ "
    "broadcast, cutoff-filtered broadcast anti-join, nation broadcast",
    "concentrated_part_values": "Q11 shape: partial-agg scan, 1-row global "
    "total BNLJ broadcast, integer cross-multiplied threshold filter",
    "cheapest_supplier_per_part": "Q2 shape: one p_partkey repartition "
    "serves agg + rank window; broadcast part/supplier/nation dims",
    "minhash_band_tuning": "one candidate-verify pass, both signatures "
    "broadcast back, 4 band configs folded in ONE 1-row aggregate + stack",
    "nearest_click_alignment": "bidirectional as-of via two RANGE-frame "
    "windows over ONE (user, ts) partitioning; no self-join",
    "ra_link_prediction": "wedge self-join on the center key, exact "
    "integer RA terms, broadcast anti-join against the edge set, "
    "TakeOrdered top-k",
    "semantic_threshold_sweep": "ONE SemDeDup mining pass; the sweep is "
    "two 1-row conditional-sum relations cross-joined and unpivoted",
    "spend_equidepth_bins_dist": "distributed exact ntile: bucket-keyed "
    "repartition serves pass-1 counts AND pass-2 partitioned row_number; "
    "the only no-partition window runs over the ≤21-row bucket relation; "
    "closed-form all-BIGINT bin arithmetic",
    "range_partition_balance_audit": "deterministic md5 sample → "
    "dist_ntile boundaries (shared two-pass rank, no one-reducer sort) "
    "→ 1-row boundary array BNLJ broadcast → map-side size(filter()) "
    "range assignment; P-group agg",
    "epoch_shuffle_manifest": "md5-range bucketed two-pass rank: one "
    "(epoch, bucket) repartition, broadcast offsets, packed-BIGINT "
    "argmin/argmax head/tail docs — no corpus-wide window",
    "multimodal_dup_clusters": "both banded miners reused (no new "
    "mining), localCheckpointed edge union, min-label propagation CC "
    "(path halving), channel fold joined to cluster sizes",
    "ra_link_prediction_scaled": "same wedge plan as the fixed entry; "
    "support derived IN-PLAN (1-row greatest(count distinct) aggregate "
    "broadcast into edge admission — zero jobs at construction), "
    "mirroring the oracle's scalar subquery",
    "rfm_segments": "three dist_ntile passes (shared two-pass bucketed "
    "rank), each level's repartitioned base lazily persisted so the "
    "chained offset/rank joins share ONE orders aggregation",
    "corpus_snapshot_diff": "two map-side (bucket, count, commutative "
    "md5 checksum) folds, 64-row summary join → dirty-bucket list; the "
    "row-level full-outer diff is semi-join pruned to dirty buckets "
    "only (blast-radius-bounded)",
    "corpus_snapshot_diff_versions": "same two-level diff core, but "
    "each side scans the SEGMENT FILES one committed catalog manifest "
    "lists (multi-file parquet scan per snapshot — partition-pruned "
    "I/O on a real store); zero jobs at construction once the fixture "
    "catalog exists",
    "catalog_incremental_diff": "manifest set-difference (driver-side, "
    "O(segments)) prunes BOTH scans to only the rewritten bucket "
    "partitions — clean COW-shared segments are provably identical "
    "without reading a byte; same two-level diff core downstream",
    "catalog_zonemap_prune": "manifest zone-map pruning: the committed "
    "(min, max) bounds shrink the file list BEFORE any footer is "
    "opened (2 of 4 segments at sf0.01); residual BETWEEN in-scan, "
    "1-row map-side aggregate",
    "snapshot_catalog_read": "four manifest-pinned segment scans (2 "
    "snapshots x 2 tables), each folding map-side to a 1-row "
    "(count, md5-int checksum) aggregate; union of 4 one-row relations "
    "— consistency shown by the embeddings checksums matching across "
    "snapshots (same COW segment file)",
    "minhash_lsh_pairs_scaled": "same signature agg as the r=1 miner; "
    "the band self-join keys on (band, mh_a, mh_b) PAIRS so a "
    "candidate needs two matching components — candidate volume "
    "collapses before the Jaccard verify, shuffle keys stay 8-byte",
    "simhash_hamming_pairs": "60-bit signature in ONE codegen'd "
    "hash-agg (explode + 60 partial sums), 4x15-bit block equi-join "
    "candidates (pigeonhole-complete for Hamming<=3); the block "
    "long-form CARRIES the signature so bit_count(xor) filters "
    "MAP-SIDE on the raw collisions and the one distinct shuffle "
    "sees only verified pairs — no all-pairs anywhere",
    "simhash_wide_pairs": "two-lane 120-bit form: packed ones-counter "
    "agg (60 BIGINT sums carrying both lanes — stays under the "
    "codegen maxFields cliff), 6x20-bit blocks across the lanes "
    "(complete for Hamming<=5), two-lane popcount verify map-side "
    "before the distinct, same shape as the 60-bit plan",
    "catalog_bloom_point_lookup": "probe keys fetched through "
    "manifest BLOOM pruning (driver-side md5 bitset membership, "
    "zero file IO before the decision): a pruned handful-of-paths "
    "scan + isin filter + 1-row count+checksum fold",
    "catalog_bloom_sidecar_lookup": "same pruning decision resolved "
    "through stats-file SIDECAR refs (manifest carries O(path), "
    "bitsets opened lazily) + the MOR delete anti-join (broadcast) "
    "on the fetched rows",
    "catalog_mor_delete_read": "merge-on-read scan: manifest segment "
    "list (unchanged from the pre-delete snapshot) anti-joined "
    "against the broadcast O(keys) delete file; accounting columns "
    "are manifest-derived literals",
    "catalog_position_delete_read": "position-scoped MOR: the scan "
    "materializes _metadata (file name + row ordinal) and "
    "anti-joins the broadcast (file, ordinal) delete file — the "
    "physical-row delete the equality form cannot express; sorted "
    "single-file segment makes ordinal == rank for the oracle",
    "catalog_time_travel_read": "AS-OF-timestamp resolution is pure "
    "manifest IO (no plan node at all); the read is the resolved "
    "snapshot's ordinary pinned scan + 1-row fold",
    "catalog_wap_publish_read": "main resolved through the branch "
    "ref (driver-side); the plan is the published 2-segment scan + "
    "1-row count+checksum fold — publish itself was an O(ref) CAS, "
    "invisible to the read plan",
    "catalog_schema_evolution_read": "mixed-schema segment scan "
    "projected THROUGH the manifest-committed DDL (old segments "
    "NULL-backfill `tier` with zero extra footer IO), then one "
    "hash-agg per tier value; zero jobs at construction once the "
    "fixture catalog exists (plus Spark's one parallel file-listing "
    "job over the 64-path manifest)",
    "catalog_takedown_read": "post-delete manifest read: untouched "
    "segments by reference + the one rewritten survivor segment; "
    "1-row count+checksum fold, blast-radius accounting from the "
    "manifests (driver-side, O(segments))",
}


def main() -> None:
    spark = get_spark(app_name="explain-plans", cpus=8, shuffle_partitions=8)
    queries = entry_mod.queries()
    out = [
        "# EXPLAIN — physical plans of headline queries (sf0.01, local[8])",
        "",
        "Generated by `scripts/explain_plans.py`; regenerate after plan",
        "changes. Annotations state what each plan is supposed to show.",
        "",
    ]
    for name, note in HEADLINERS.items():
        if name not in queries:  # registry._GATED: its artifact is absent here
            print(f"skipped {name}: not registered")
            continue
        plan = formatted(queries[name](spark, SF_DIR)).rstrip()
        out += [f"## {name}", "", f"*{note}*", "", "```", plan, "```", ""]

    # Appendix: one plan-card row per registered query — the at-a-glance
    # audit of data motion and the Python boundary across the whole engine.
    out += [
        "## Appendix — plan inventory, every registered query",
        "",
        "Counts over each formatted pre-AQE physical plan, from",
        "`scripts/profiler.py::plan_counters` (the counters of its",
        "`plan_counters.tsv`). Exchanges = shuffle exchanges (hash, range",
        "and single-partition, including the final presentation sort);",
        "broadcasts show as bcast joins. Python = Arrow-batched boundaries",
        "(mapInPandas / grouped map / cogroup / pandas_udf); row-at-a-time",
        "BatchEvalPython is banned by test.",
        "",
        "| query | exchanges | bcast join | SMJ | BNLJ | windows | python |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    for name in sorted(queries):
        c = plan_counters(formatted(queries[name](spark, SF_DIR)))
        exchanges = c["exch_hash"] + c["exch_range"] + c["exch_single"]
        out.append(
            f"| {name} | {exchanges} | {c['bhj']} | {c['smj']} | {c['bnlj']} "
            f"| {c['window']} | {c['python']} |"
        )
    out.append("")
    Path(__file__).resolve().parent.parent.joinpath("EXPLAIN.md").write_text(
        "\n".join(out)
    )
    print(
        f"wrote EXPLAIN.md with {len(HEADLINERS.keys() & queries.keys())} plans"
        f" + {len(queries)}-row inventory"
    )
    spark.stop()


if __name__ == "__main__":
    main()
