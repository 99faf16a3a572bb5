"""Physical-plan shape guards: the scale claims in PLANS.md as
assertions, so a refactor that silently adds a shuffle, degrades a
broadcast join to sort-merge, or widens a pruned scan fails pytest
instead of surviving until a bench regression.

Bounds are ceilings observed at sf0.001-0.1 (plan shapes are
SF-independent for these queries: AQE runtime re-plans don't appear in
the initial plan the audit walks). tools/gen_plans.audit counts each
distinct physical operator once, so a persisted frame read by several
consumers contributes its build plan once."""

import pytest

from tools.gen_plans import audit

from flink_kafka_spark.queries import all_queries

# query -> (max exchanges, max sort-merge joins)
#
# Every DRIVER_WINDOW query (plus the bench-only dedup_minhash_lsh) is
# pinned at the ceiling observed at sf0.001-0.1: a MinHash rework once
# changed plan shape and the only detector was the bench number after
# the fact. SMJ ceilings > 0 are deliberate and commented;
# everywhere else a sort-merge join means a broadcast degraded.
PLAN_BOUNDS = {
    # NOTE on "+spread" annotations below: tables.spread_scan (the
    # guide-§2.5 unsplittable-input remedy, centralized from the
    # _lsh_bands gate) adds ONE round-robin exchange per corpus
    # tokenize/fingerprint pass when — and only when — the input
    # arrives in fewer file splits than cores, which is always true of
    # the single-file test fixtures this audit runs on and never true
    # of a many-file 100 TB corpus. Each affected pin below rises by
    # exactly its number of spread-gated passes; the underlying
    # shuffle structure is unchanged.
    # single groupBy: scan + one shuffle
    "tpch_q1": (1, 0),
    "tpch_q6": (1, 0),  # partial agg -> 1-row single-partition exchange -> final
    # dimension joins must all broadcast
    "tpch_q2": (3, 0),  # derived-ps agg + persisted eligible reused by the min-cost branch
    "tpch_q3": (2, 0),
    "tpch_q4": (1, 0),  # semi-join broadcasts, one agg shuffle
    "tpch_q5": (2, 0),
    "tpch_q7": (1, 0),  # all 5 dims broadcast onto the lineitem scan
    "tpch_q8": (1, 0),
    "tpch_q9": (2, 0),  # derived-ps agg + orderkey join; every dim broadcast
    "tpch_q10": (2, 0),
    "tpch_q11": (5, 0),  # ps agg + per-part agg (persisted) + 1-row total broadcast
    "tpch_q20": (3, 0),  # pair agg + distinct suppkeys + ordered output
    "tpch_q12": (1, 0),  # orders broadcast-joins the pushed lineitem scan
    "tpch_q13": (2, 0),  # right-outer count + distribution agg
    "tpch_q14": (1, 0),
    "tpch_q15": (3, 0),  # revenue view reused across max-subquery + join
    "tpch_q16": (2, 0),
    "tpch_q17": (2, 0),  # per-part avg subquery + main scan
    "tpch_q18": (3, 0),
    "tpch_q19": (1, 0),
    "tpch_q21": (3, 0),  # exists/not-exists as semi/anti over lineitem
    "tpch_q22": (2, 0),
    "orders_rollup": (1, 0),
    "orders_cube": (1, 0),  # one Expand + one agg exchange, like rollup
    # 4 FK edges x (distinct-key agg + 1-row audit agg); parents broadcast
    "fk_coverage_audit": (8, 0),
    # built-in session_window: one user_id shuffle + in-partition merge
    "session_windows_native": (1, 0),
    # incremental view maintenance: the fingerprint full-outer diff is
    # SMJ-bound like media_features_check (both sides corpus-sized);
    # the edit-sized probe joins AQE-broadcast at runtime. The static
    # count includes the persisted changelog's build plan, once.
    # (+2 exchanges: the changed-id set is distinct before the minus
    # join; +1: the plus side
    # resolves the changelog to one winning op per id through an
    # edit-sized window — multi-op changelogs apply one final state)
    "agg_incremental_update": (10, 2),
    "customer_running_totals": (1, 0),  # per-key window, one shuffle
    # grid resample: obs agg (persisted, single scan) + distinct keys
    # + per-key ffill window; bounds ride a 1-row broadcast
    "events_gapfill": (3, 0),
    # same machinery; the backward+forward frames share one sort
    "events_gapfill_interp": (3, 0),
    # daily partial agg + priority RANGE-frame window over the day frame
    "orders_moving_revenue": (2, 0),
    # packed-min first-arrival dedup: one groupBy, map-side combined
    "events_dedup_late": (1, 0),
    # key-count shuffle + 1-row stats agg over the counts frame
    "events_key_skew": (2, 0),
    # vocab count + pair count; top-k is TakeOrderedAndProject
    "bpe_merge_candidates": (2, 0),
    # iterative trainer: the returned merge table is a LocalRelation —
    # the per-round work (vocab-frame pair count + 1-row argmax) runs
    # while the plan is BUILT, like dedup_canonicalize's CC loop
    "bpe_train_merges": (0, 0),
    # apply half: trainer runs while the plan is built (merge table is
    # a driver constant); the fold runs on the distinct-vocab frame
    # (one w-shuffle), broadcast-joins n_toks back to the unshuffled
    # occurrence stream, then the per-doc groupBy
    "bpe_tokenize_stats": (2, 0),  # +spread x1 (apply words pass); the
    # tokenizer reuses the trainer's final vocab state, so the apply-side
    # distinct-vocab exchange and its spread are gone from the plan
    # corpus histogram shuffle + single-partition window over the
    # <=10001-row score frame (the no-global-sort quantile design)
    "quality_curriculum": (2, 0),
    # token fan-out -> one <=d*w-key shuffle; top-20 exact baseline +
    # broadcast sketch probe
    "cms_topk_estimates": (3, 0),
    # corpus shuffles: ev distinct + exact self-join baseline; the
    # other exchanges are on <= k x |types| sketch frames, every join
    # a broadcast. One-pass kmv_minima: no HLL-threshold sizing pass
    # (its groupBy + the distinct-vs-window re-exchange) —
    # one mapInPandas partial-top-k + one k-bounded groupBy remain
    "kmv_set_cardinality": (13, 0),
    # sketch-only pair algebra: ONE corpus pass (one-pass
    # kmv_minima — partial-top-k mapInPandas inside the scan stage,
    # then a single k-bounded groupBy whose (s) partitioning the pair
    # rollup REUSES); everything after runs on the |sets|-row
    # sorted-hash-ARRAY frame via array set-ops inside the broadcast
    # pair projection. 2 = spread + the minima groupBy — the second
    # shingle pass, the HLL sizing agg and its spread are gone
    "kmv_pair_intersections": (2, 0),  # +spread x1 (single shingle pass)
    # (set, sub) HLL cell shuffle + sketch-bytes rollup shuffle
    "uv_hll_rollup": (2, 0),
    # (set, sub) KLL cell shuffle + sketch-bytes merge shuffle — the
    # hll_rollup twin; value stream crosses the wire once
    "kll_quantile_rollup": (2, 0),
    # ONE scan computes every declared metric; the 2 exchanges are the
    # exact-distinct two-phase behind the uniqueness check (the stack
    # pivot runs on the 1-row aggregate, adding zero passes)
    "dq_expectations": (2, 0),
    # posexplode scan -> (label, dim) sum shuffle; the corpus centroid
    # re-aggregates the SAME frame (AQE ReusedExchange at runtime —
    # pinned by test_centroid_drift_scan_reuse) and broadcasts 1 row
    "embedding_drift": (6, 0),
    # one quasi-key shuffle carries all three windows (class count,
    # dense_rank, max-rank) — the k_anonymity shape plus diversity
    "l_diversity_audit": (1, 0),
    # one corpus cell shuffle (map-side combined), then sketch-sized
    # frames only: class agg + value agg + the 1-row global histogram's
    # single-partition fold; the per-class cum window reuses the class
    # agg's (quasi) partitioning — no fifth exchange
    "t_closeness_audit": (4, 0),
    # 1-row bounds agg (2 exch: partial->single) broadcast onto the
    # scan + the bucket agg; zkey is a pure codegen expression
    "zorder_layout": (3, 0),
    # one scan: md5 groupBy (corpus shuffle) -> (class, band) cell agg
    # (persisted; replaces the old count_distinct expand) -> class agg
    # + the weighted t-closeness machinery's four sketch-sized
    # exchanges (operator cell re-agg, class_size, value histogram,
    # 1-row global fold; the per-class cum window and the keep join
    # reuse existing partitioning/broadcasts) -> 1-row funnel agg.
    # LEAK-GATE stage: ONE persisted fingerprint pass over the
    # corpus serves both decontamination sides (the eval split is a
    # subset of the same corpus — winnow_decontaminate's defining
    # equality join minus its evidence rollups), and the group gate
    # tests the REPRESENTATIVE id against the broadcast leak-sized
    # contam set, so the funnel reads documents exactly TWICE (canon
    # + fingerprints). Static counts still multiply the persisted
    # cells subtree across its 3 consumers pre-materialization; the
    # LIVE post-AQE plan is 5 exchanges / 0 SMJ / 2 broadcasts
    "release_gate_snapshot": (11, 0),  # +spread (winnow fingerprint pass)
    # one corpus shuffle (map-side-combined cell count) + the seasonal
    # window's regroup on the tiny cells frame
    "seasonal_anomalies": (2, 0),
    # percentile agg + broadcast bounds join + final per-type agg
    "events_value_winsorize": (2, 0),
    # iterative driver loop (CC-style eager checkpoints): the returned
    # frame is the final round's checkpoint scan; the per-round work
    # (overlap-matrix edges once, then node-sized rank joins) runs
    # while the plan is BUILT
    "source_pagerank": (0, 0),
    "quantity_percentiles": (1, 0),
    "quantity_percentiles_approx": (1, 0),
    # windowed streaming analogs: one shuffle on (window, key) + topn
    "hot_items_topn": (2, 0),
    "hot_items_report": (2, 0),
    "hot_items_sql": (2, 0),
    "page_views": (1, 0),
    "unique_visitors": (2, 0),  # (window) shuffle + distinct
    "uv_approx": (1, 0),
    # distinct (window,user) pre-shuffle (map-side combined) bounds the
    # serial per-window bloom insert at O(UV), + the window regroup
    "uv_bloom": (2, 0),
    "channel_stats": (1, 0),
    "global_stats": (1, 0),
    "global_stats_fine": (2, 0),  # fine-slide rollup: slice agg + window agg
    "orders_daily_by_priority": (1, 0),
    "hot_sources_topn": (2, 0),
    "high_value_purchases": (0, 0),  # pure filter+project, no shuffle
    "login_fail_detect": (1, 0),
    "order_timeout": (1, 0),
    "click_blacklist": (1, 0),
    "sessionize": (1, 0),
    "funnel_conversions": (1, 0),  # step frames broadcast, one final agg
    "order_ship_interval_join": (0, 0),  # broadcast interval join
    "order_ship_interval_join_binned": (0, 0),
    # full-outer reconciliation: SMJ IS the intended plan (both sides
    # same size, no broadcastable build) — 2 exchanges co-partition it
    "order_line_reconciliation": (2, 1),
    "event_asof_order": (1, 0),
    "quantity_percentiles_approx_check": (3, 0),
    # cohort matrix: (user,week) distinct + user window + cohort count
    # + the tiny counts-frame window for the retained denominator
    "retention_cohorts": (4, 0),
    # per-source KL: one (source,token) count shuffle (persisted once,
    # feeding three broadcast-side branches) + final |sources| rollup;
    # the corpus-dist/total joins must stay broadcast
    "source_divergence": (6, 0),
    # Markov transitions: user-key lag window + pair count + the tiny
    # per-prev denominator window
    "event_transitions": (3, 0),
    # (key,hour) count + per-key stats window over the hourly frame
    "traffic_anomalies": (2, 0),
    # k-anonymity: one quasi-key window, count-only (skew-harmless)
    "k_anonymity_audit": (1, 0),
    # SCD2: lag + running-sum + run rollup + lead, ALL on the user key
    # — one shuffle carries four window passes
    "scd2_history": (1, 0),
    # last-touch attribution: conditional last_value IGNORE NULLS,
    # one user-key shuffle (the as-of join collapsed into a window)
    "purchase_attribution": (1, 0),
    # RFM: custkey agg + 1-row percentile cuts broadcast back (the agg
    # exchange appears twice pre-AQE; ReuseExchange collapses) — no
    # global ntile sort anywhere
    "rfm_segments": (3, 0),
    # basket lift: order-key self-join (fan-out bounded by items per
    # order) + pair/item counts; the distinct-baskets exchange feeds
    # three branches pre-AQE, item/total joins broadcast
    "basket_lift": (9, 0),
    # pivot with explicit domain: single conditional-agg shuffle (+1
    # pre-AQE partial split); an inferred domain would add a distinct
    # job and a data-dependent schema
    "orders_status_pivot": (2, 0),
    # unpivot closure: the pivot's shuffle + a narrow Expand melt
    "orders_status_unpivot": (2, 0),
    # MG sketch: k x P partials shuffle + single-partition compress
    # window; exactly ONE corpus scan (summed partials persisted)
    "heavy_hitters": (2, 0),
    # sketch + exact-count baseline + bound joins (check scale only);
    # everything joinable must broadcast
    "heavy_hitters_check": (9, 0),
    # pair-count shuffle + vocab-bounded broadcast joins + global rank
    # window over the pair frame. The doc-frequency frame is
    # persisted, so its explode + groupBy subtree appears once instead
    # of once per broadcast rename (5 -> 4; one corpus token pass
    # instead of two at any scale)
    "word_pmi": (4, 0),  # +spread (distinct-word array pass)
    # extensions: narrow projections must stay shuffle-free
    "text_stats": (0, 0),
    "dataset_split": (0, 0),
    "doc_chunk": (0, 0),
    "embedding_quantize": (0, 0),
    "pii_redact": (0, 0),
    "pii_scan": (0, 0),
    "repetition_stats": (0, 0),
    "lang_id": (0, 0),
    "text_quality": (0, 0),
    # pass-rate curve: histogram shuffle (≤ steps+1 groups, map-side
    # combined) + the SinglePartition window over the 11-row grid
    "filter_threshold_sweep": (2, 0),
    "bpe_token_count": (0, 0),
    "doc_fingerprint": (0, 0),
    "media_features": (0, 0),
    "stratified_cap": (1, 0),  # one shuffle on the stratum key
    # retrieval: bounded shuffles on natural keys
    "inverted_index": (2, 0),  # narrow postings: per-row array_distinct; +spread
    "bm25_search": (3, 0),  # +spread x2 (both narrow passes inline the gated scan pre-AQE)
    # stride interleave: per-source rn shuffle + export_shards'
    # two-pass range machinery (the persisted range repartition + the
    # per-partition row_number regroup); offsets broadcast
    "source_interleave": (3, 0),
    # hybrid fusion: the two rankers' exchanges (BM25 stats fold +
    # top-k, dense per-query rank regroup) + ONE candidate-sized
    # fusion groupBy — the fused frames never exceed 2 x RRF_DEPTH
    # rows, so fusion adds no corpus-scale shuffle
    "hybrid_rrf_search": (5, 0),  # +spread x2 (bm25 passes; cosine side unchanged)
    "tfidf_top_terms": (4, 0),
    "corpus_prep": (2, 0),
    # audit twin: the dedup groupBy becomes a content-hash window —
    # one shuffle, every rule a JVM expression over the same scan
    "filter_audit": (1, 0),
    # the full assembly compose: dup window + (id, shingle) shuffles +
    # survivor-manifest persist feeding the mixture totals; benchmark
    # shingles and per-source thresholds must stay broadcast — three
    # narrow corpus scans total (gates, shingle branch, bench branch)
    "training_mix_snapshot": (9, 0),  # +spread x2 (decontaminate shingle passes)
    "encoding_audit": (0, 0),  # pure regexp projection
    "markup_strip": (0, 0),  # chained-regexp projection
    # composed: query construction (doc_filter pushdown inside
    # tfidf_top_terms: 5-doc tf groupBy + cand-terms distinct +
    # candidate-pruned array_distinct df groupBy + per-doc rank
    # window = 4, all but the df explode bounded by the query docs)
    # + index(2) + score groupBy + topk window + the persisted query
    # frame's barrier; queries/dfreq must stay broadcast (smj would
    # mean a build side grew corpus-sized)
    "multi_query_search": (10, 0),  # +spread (restricted postings pass)
    # dedup family: candidate generation must stay bucketed —
    # exchange growth here means a corpus-sized shuffle crept in
    "dedup_exact": (1, 0),
    "dedup_ngram_jaccard": (5, 0),  # narrow shingles + bucket pairing; +spread
    # containment twin: identical bucket-pairing plan (shared shingle
    # scan, stop-shingle pruning before fan-out), different score
    "dedup_containment": (5, 0),  # +spread
    "dedup_prune_stats": (3, 0),  # +spread
    # bench headline (not in DRIVER_WINDOW itself): fan-out repartition
    # + band-bucket groupBy + candidate distinct; everything else
    # broadcasts. This pin catches the MinHash plan-shape regression.
    "dedup_minhash_lsh": (3, 0),  # +spread x1 (banding pass; no
    # post-semi verify-pass spread — candidate-bounded, see normalized_tokens)
    "dedup_simhash_check": (5, 0),  # +spread x2 (query + exact-baseline passes)
    # CC runs to convergence while the plan is BUILT (iterative
    # localCheckpoint loop); the residual plan joins the BROADCAST
    # label set (near-dup-graph-sized) against the corpus — zero
    # shuffles, zero SMJ (tightened from (2,2)/uncovered when the
    # union-then-rank plan went)
    "dedup_clusters": (0, 0),
    # residual plan: broadcast label join + rank window over graph
    # members only (1 exchange on cluster_id, tiny) + broadcast
    # anti-join for keep=1 singletons
    "dedup_canonicalize": (1, 0),
    # skew-safe twin: the rank window becomes a min_by agg (same one
    # cluster_id exchange, map-side combined) + broadcast winner join
    "dedup_canonicalize_skew": (1, 0),
    "dedup_embedding_cosine": (0, 0),  # block-key broadcast equi-join
    # span stats: md5-span occ groupBy + span_h window + doc rollup —
    # three narrow (hash, id, count) shuffles, final join broadcasts
    "dedup_span_stats": (5, 0),  # +spread x2 (n_spans + explode passes)
    # span trim: one span_h window shuffle + one doc collect_list
    # shuffle; the token rebuild joins per-doc position arrays back
    # via broadcast — span/token text never shuffles
    "dedup_span_trim": (4, 0),  # +spread x2 (same two passes)
    # incremental: the band equi-join between the two corpora's
    # (band, band_hash, id) frames is big-big BY DESIGN (SMJ is the
    # intended plan — neither snapshot broadcasts at 100 TB); the
    # second SMJ is the doc-level rollup left join, which AQE
    # broadcast-swaps at runtime when matches are small. 2 of the 5
    # exchanges are the small-scan fan-out gate (skips at scale).
    "dedup_incremental": (5, 1),  # +spread x2 (batch + reference banding;
    # no spread on the two verify passes — candidate-bounded)
    # check sweep composes matches (executed ONCE, persisted for its
    # three consumers) + exact twin + rollup (same class as
    # dedup_minhash_lsh_check: stats-less derived-frame SMJs are
    # expected inside *_check verification queries)
    "dedup_incremental_check": (24, 2),  # +spread x3 (banding passes
    # only; the sweep's exact twin keeps its own corpus spreads)
    # ANN family: exact baselines are one top-k shuffle; the *_check
    # sweeps compare approx vs exact so they carry both plans' shuffles
    # (SMJ between two derived frames without stats is expected there)
    "ann_cosine_topk": (1, 0),
    "ann_cosine_topk_int8": (1, 0),
    "ann_cosine_topk_lsh": (1, 0),
    "ann_cosine_topk_ivf": (1, 0),
    "ann_cosine_topk_pq": (1, 0),
    "dedup_simhash": (3, 0),  # +spread x2 (token pass per consumer)
    # SemDeDup: the cell self-join and the id-key prune join are both
    # corpus×corpus BY DESIGN (neither side broadcasts at 100 TB; with
    # one cell-key regroup feeding the per-cell BLAS applyInPandas —
    # no pair join, no flag join
    "semantic_dedup": (1, 0),
    # MMR: brute-force candidates + one corpus scan for vectors; the
    # candidate-candidate pair join and the cogroup run on query_id —
    # SMJ is the INTENDED plan there (both sides are Q x C candidate
    # frames that scale with the query batch; broadcasting them would
    # cap Q)
    "mmr_rerank": (4, 1),
    "mmr_rerank_check": (6, 1),
    # A-Res weighted sample: narrow key projection + one stratum window
    "weighted_sample": (1, 0),
    # two-level epoch shuffle: ONE block hash-partition exchange + a
    # per-partition sort — the whole point vs corpus_shuffle's 2
    "block_shuffle": (1, 0),
    # fingerprint full-outer on id: SMJ is the intended plan — both
    # snapshot sides are corpus-sized, nothing is broadcastable
    "snapshot_diff": (2, 1),
    # roundtrip compose: the diff's full-outer + the changelog payload
    # join + the apply anti-join, each an SMJ between derived
    # corpus-sized frames pre-AQE (runtime broadcast-swaps the
    # edit-volume sides); exchanges are their co-partitionings
    "changelog_roundtrip": (8, 4),
    # check: operator + independent recheck + all-pairs exact baseline
    # (labeled, check scale only) — derived-frame SMJs expected
    "semantic_dedup_check": (7, 1),
    "ann_lsh_check": (12, 2),
    "ann_ivf_check": (12, 2),
    "ann_pq_check": (12, 2),
    "dedup_minhash_lsh_check": (18, 1),  # +spread x3 (no spread on the
    # query's verify pass — candidate-bounded)
    "uv_approx_check": (6, 1),
    # text/decontam: broadcast benchmark shingles + one (id,1) shuffle
    "decontaminate": (4, 0),  # +spread x2 (train + eval shingle passes)
    # leakage-safe split: CC runs while the plan is BUILT; the residual
    # plan is broadcast label join + broadcast anti-join + bucket
    # projection — same zero-shuffle class as dedup_clusters
    "leakage_safe_split": (0, 0),
    # scorecard: every signal a JVM expression over one scan, map-side
    # combined into a single |sources|-row shuffle
    "source_scorecard": (1, 0),
    # unigram-LM scoring: token-count groupBy + 1-row total + per-doc
    # rollup (the LM branch's shuffle appears twice pre-AQE because the
    # count frame feeds both the total and the join; ReuseExchange
    # collapses it at runtime). LM join must stay broadcast.
    "doc_logprob": (4, 0),
    # bigram-LM scoring: bigram-count groupBy (appears twice pre-AQE —
    # model join + context window branch), w1 context window, unigram
    # groupBy ×2 (total + backoff join), per-doc rollup; every join
    # must stay broadcast (the bigram model join is unhinted — AQE may
    # downgrade it at pathological vocab, which would fail this pin
    # loudly rather than silently regress)
    "doc_bigram_logprob": (6, 0),
    # hashed classifier: hash + integer weight inside the scan
    # projection, ONE map-side-combined (id, n, Σw) shuffle — no join,
    # no model shipping
    "clf_quality_score": (1, 0),
    # vocab audit: token-count groupBy feeding a TakeOrdered top-k (no
    # global sort exchange) + per-doc rollup; vocab join must broadcast
    "vocab_oov_rate": (2, 0),
    # feature-hashing embedder: (id, bucket) count BEFORE the dim
    # fan-out + (id, dim) rollup — integer triples only, no join
    "doc_embedding_hash": (3, 0),  # +spread (token/bucket pass)
    # winnowing fingerprints: tokenize/shingle/hash/window-min all in
    # per-row array expressions over one pushed scan — ZERO shuffle
    "doc_winnow_fingerprint": (1, 0),  # zero-shuffle pipeline +spread
    # overlap pairs on the winnowed sub-sample: fp distinct + per-doc
    # sizes + hash-bucket groupBy + pair groupBy (the containment_pairs
    # shape over ~2/(w+1) of the items); size joins must broadcast —
    # an SMJ here means a corpus-sized build side crept in
    "winnow_overlap_pairs": (6, 0),  # +spread (fingerprint pass)
    # composed semantic pairs: the embedder's two shuffles (duplicated
    # pre-AQE across the pair join's sides, ReuseExchange collapses) +
    # vec assembly + block equi-join; block/pair joins broadcast at
    # test SF
    "doc_semantic_pairs": (6, 0),
    # blocked fuzzy linkage: block-key equi-join broadcasts at test SF
    # (a degrade to SMJ — the intended plan when neither catalog side
    # broadcasts at 100 TB — would fail this pin loudly, which is the
    # point: it means stats changed underneath the query)
    # +2 narrow exchanges: the armed max_block hot-block cap
    # adds a block-count aggregation (broadcast back as the hot set)
    # +spread: the catalog scan is spread before the candidate
    # join (the probe side was ONE task on single-file input, with the
    # whole Levenshtein verify serialized on it); the spread subtree
    # appears under the hot agg and both join sides pre-AQE (4 static
    # occurrences, ReuseExchange collapses at runtime)
    "fuzzy_part_matches": (6, 0),
    # PSI drift: one conditional-agg (type, bucket) corpus shuffle
    # (appears twice pre-AQE — grid branch + join branch, ReuseExchange
    # collapses it) + tiny distinct/window/final aggs; grid join must
    # stay broadcast
    "value_drift_psi": (4, 0),
    # overlap matrix: spread + per-shingle collect_set groupBy + ONE
    # combined pair/size count, all inside the frame the operator
    # persists and materializes; size joins must stay broadcast
    "source_overlap": (3, 0),
    # sampling / release family
    "export_shards": (2, 0),  # two-pass range partition
    "corpus_shuffle": (2, 0),  # same two-pass machinery over the md5 key
    "profile_documents": (2, 0),
    "sequence_packing": (1, 0),
    "mixture_resample": (3, 0),
    # multimodal family: narrow mapInPandas, zero shuffle
    "media_decode_meta": (0, 0),
    "media_frame_sample": (0, 0),
    # long-form full-outer self-compare (numpy path vs JVM recompute):
    # both sides are docs×8 and full_outer can't broadcast, so the SMJ
    # co-partition IS the intended plan; check-only, never in bench
    "media_features_check": (3, 1),
    "media_phash": (0, 0),  # narrow mapInPandas over a pushed 2-col scan
    # persisted signature table read by both self-join sides (one
    # payload-hash pass); 1 exchange = the pair-distinct
    "media_phash_dedup": (1, 0),
    # the registered query parity-splits the corpus, so its "batch" is
    # NOT small: no broadcast hints (a corpus-sized batch must degrade
    # to a shuffle, not die on the broadcast ceiling — the pagerank
    # rank-join precedent); post-persist stats are unknown, so
    # the STATIC plan shows SMJs that AQE broadcasts at runtime when a
    # side is genuinely small (the media_features_check convention)
    "media_phash_incremental": (3, 1),
    # winnow decontamination: both sides' fingerprint distincts + the
    # fp_hash join + two id-level rollups over the persisted hit frame
    # + the final id join. Post-persist stats are unknown, so the
    # STATIC plan shows 2 SMJs that AQE broadcasts at runtime when the
    # eval index / rollup side is genuinely small (the
    # media_phash_incremental convention). Every joined frame is
    # 40-bit-hash tuples from the ~2/(w+1) winnowed sub-sample — never
    # text, never the corpus.
    "winnow_decontaminate": (8, 1),  # +spread x2 (train + eval fingerprint passes)
    # the multi-benchmark generalization: same shape + the second
    # benchmark's fingerprint branch in the unioned index; post-join
    # frames hit-sized, keyed (doc, bench)
    "winnow_decontaminate_multi": (10, 1),  # +spread x3 (train + 2 benchmark splits)
    # spans consumer: train fingerprints -> hash semi-join against the
    # eval index (broadcasts; the distinct eval hash frame is
    # benchmark-sized) -> matched-position distinct -> islands window.
    # Every post-fingerprint frame is contamination-sized.
    "winnow_contaminated_spans": (5, 0),  # +spread
    # excision: the spans pipeline + per-doc span-list rollup, then
    # the corpus joins the contamination-sized span lists broadcast
    # (2 BHJ at test SF) and trims in a per-row HOF — the corpus
    # itself crosses no exchange
    "winnow_decontaminate_trim": (5, 0),  # +spread
}


def test_every_registered_query_is_pinned():
    """The WHOLE registry, not just DRIVER_WINDOW: every registered
    query needs a plan pin so a shape change (new shuffle, degraded
    broadcast) fails pytest before the bench measures it. Registering
    a query without a PLAN_BOUNDS entry fails here."""
    unpinned = [n for n in all_queries() if n not in PLAN_BOUNDS]
    assert not unpinned, f"registered queries without a plan pin: {unpinned}"


@pytest.fixture(scope="module")
def plan_sweep(spark, sf_dir):
    """ONE registry sweep shared by the shape pins and the nested-loop
    guard (two independent sweeps would each rebuild every query's
    plan, which for the driver-loop queries —
    bpe_train_merges, bpe_tokenize_stats, source_pagerank, the CC
    family — means fully EXECUTING the iterative computation twice
    per pytest run for identical plan text)."""
    return {name: audit(q.fn(spark, sf_dir)) for name, q in all_queries().items()}


def test_plan_shapes(plan_sweep):
    problems = []
    for name, (max_ex, max_smj) in PLAN_BOUNDS.items():
        a = plan_sweep[name]
        if a["exchanges"] > max_ex:
            problems.append(f"{name}: {a['exchanges']} exchanges > {max_ex}")
        if a["smj"] > max_smj:
            problems.append(f"{name}: {a['smj']} sort-merge joins > {max_smj}")
    assert not problems, "; ".join(problems)


# Per-query BroadcastNestedLoopJoin ceilings (the
# old 4-query sample let a broadcast-HASH join degrade to a
# nested-loop join in the other 144 queries without failing pytest —
# BNLJ adds neither an exchange nor an SMJ, so PLAN_BOUNDS can't see
# it). Every entry is one of exactly two legitimate classes:
#   (s) 1-row scalar broadcast — crossJoin(broadcast(<1-row agg>)):
#       corpus totals, grid bounds, quantile rows, normalizers. The
#       build side is a single row at ANY scale factor.
#   (c) check-scale exact baseline — the *_check property oracles and
#       the labeled brute-force ANN/MMR rows recompute an exact
#       all-pairs answer over a broadcast-sized query/sample set;
#       never in bench, meta-guarded to check scale.
# Queries not listed must have ZERO BNLJ and ZERO CartesianProduct —
# a new nested-loop join anywhere else is a degraded broadcast-hash
# join until proven otherwise.
BNLJ_BOUNDS = {
    # (s) scalar-broadcast class
    "basket_lift": 1, "bm25_search": 1, "doc_bigram_logprob": 1,
    # (s) hybrid fusion inherits BOTH scalar-broadcast crosses: the
    # BM25 1-row stats fold and the dense side's broadcast query
    # cross (one join each -> 2)
    "hybrid_rrf_search": 2,
    "doc_logprob": 1, "events_gapfill": 1, "events_gapfill_interp": 1,
    "heavy_hitters": 1, "mixture_resample": 1, "multi_query_search": 1,
    "rfm_segments": 1, "source_divergence": 1, "tfidf_top_terms": 1,
    "tpch_q11": 1, "tpch_q22": 1, "training_mix_snapshot": 1,
    "word_pmi": 1, "value_drift_psi": 2,
    # (c) exact-baseline / property-check class
    "ann_cosine_topk": 1, "ann_cosine_topk_int8": 1,
    "ann_cosine_topk_pq": 1, "mmr_rerank": 1,
    "ann_lsh_check": 5, "ann_ivf_check": 5, "ann_pq_check": 7,
    "mmr_rerank_check": 1, "semantic_dedup_check": 3,
    "dedup_minhash_lsh_check": 2, "dedup_simhash_check": 2,
    "dedup_incremental_check": 4, "heavy_hitters_check": 5,
    # (s)-adjacent: non-equi t1 < t2 pair enumeration over the distinct
    # event-type frame (a handful of rows at any scale — event types
    # are a semantic dimension, not data-sized) + the pair joins that
    # carry it; every build side is k x |types| at most
    "kmv_set_cardinality": 3,
    # (s)-adjacent like kmv_set_cardinality: the non-equi set_a <
    # set_b pair enumeration over the per-SOURCE stats frame (20 rows
    # at any SF — sources are a semantic dimension) plus the joins
    # carrying the pair frame; every build side is |sets| or
    # k x |sets| rows
    "kmv_pair_intersections": 3,
    # (s) scalar-broadcast class: the corpus-centroid frame is ONE row
    # (a 64-element array) broadcast onto the |labels|-row side — one join
    "embedding_drift": 1,
    # (s) scalar-broadcast class: the 1-row global-bounds frame onto
    # the orders scan (one join)
    "zorder_layout": 1,
    # (s) scalar-broadcast class: the 1-row global sensitive-value
    # histogram (ordered (value,count) list + total + m) crossed onto
    # the |classes|-row frame (one join)
    "t_closeness_audit": 1,
    # (s) same 1-row histogram cross, inside the funnel's embedded
    # weighted t-closeness stage
    "release_gate_snapshot": 1,
}


def test_no_cartesian_or_unpinned_nested_loop_join(plan_sweep):
    """Sweep of EVERY registered query's physical plan: no
    CartesianProduct anywhere, and BroadcastNestedLoopJoin only in the
    allowlisted scalar-broadcast / check-baseline plans, within each
    plan's pinned ceiling."""
    problems = []
    for name, a in plan_sweep.items():
        if a["cartesian"]:
            problems.append(f"{name}: {a['cartesian']} CartesianProduct")
        if a["bnlj"] > BNLJ_BOUNDS.get(name, 0):
            problems.append(
                f"{name}: {a['bnlj']} BroadcastNestedLoopJoin > "
                f"{BNLJ_BOUNDS.get(name, 0)} allowed"
            )
    assert not problems, "; ".join(problems)


def test_no_operator_takes_a_join_strategy_option():
    """The join-strategy rule: an operator hints a broadcast only where
    the side is bounded by construction and otherwise leaves the choice
    to AQE, so no operator function takes a ``broadcast_*`` parameter
    that selects a plan. Signatures only; no Spark session."""
    import importlib
    import inspect
    import pkgutil

    import flink_kafka_spark.operators as ops

    found = []
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if fn.__module__ == mod.__name__:
                found += [
                    f"{mod.__name__}.{name}({p})"
                    for p in inspect.signature(fn).parameters
                    if p.startswith("broadcast_")
                ]
    assert not found, found


# operator -> the non-test caller that sets its column-name options to
# another name than the default
COLUMN_OPTION_CALLERS = {
    "flink_kafka_spark.operators.graph.pagerank": (
        "queries.dedup.source_pagerank (id_col='source')"
    ),
    "flink_kafka_spark.operators.dedup.embedding_cosine_pairs": (
        "queries.textops.doc_semantic_pairs (id_col='doc_id'), "
        "tools/stress.py row embedding_cosine_pairs (vec_col='v')"
    ),
}


def test_operators_take_their_columns_from_their_input():
    """Operators use the table's column names, and monitors read column
    types from the stream's schema: no public function in
    ``flink_kafka_spark.operators`` or ``flink_kafka_spark.streaming``
    takes a ``*_type``/``*_types`` parameter, and only the operators in
    COLUMN_OPTION_CALLERS take a defaulted ``id_col``/``text_col``/
    ``vec_col``. Signatures only; no Spark session."""
    import importlib
    import inspect
    import pkgutil

    import flink_kafka_spark.operators as ops
    import flink_kafka_spark.streaming as streaming

    types, columns = [], set()
    for pkg in (ops, streaming):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if fn.__module__ != mod.__name__ or name.startswith("_"):
                    continue
                for p in inspect.signature(fn).parameters.values():
                    if p.name.endswith(("_type", "_types")):
                        types.append(f"{mod.__name__}.{name}({p.name})")
                    if p.name in ("id_col", "text_col", "vec_col") and p.default is not p.empty:
                        columns.add(f"{mod.__name__}.{name}")
    assert not types, types
    assert columns <= set(COLUMN_OPTION_CALLERS), sorted(columns - set(COLUMN_OPTION_CALLERS))


def test_iterative_loop_body_shapes(spark):
    """The iterative operators (PageRank, the CC hash-to-min loop)
    return localCheckpoint frames whose lineage is cut, so the registry
    sweep above sees only their residual plans. This test runs the real
    operators on a 16-node chain and pins the executed plan of every
    loop-round execution (the AQE final plan, live part only: the
    persisted edge frame's build plan is below its cache scan).

    Auto-broadcast is off for the pinned runs, so any BroadcastHashJoin
    comes from a forced hint. The scale contract pinned here: the
    rank/label side of a round's join is never hint-broadcast (a
    billion-node rank frame must shuffle, not collect through the
    driver). A canary run of the same PageRank under the session's own
    broadcast threshold shows that the count sees broadcasts at all:
    there AQE broadcasts the tiny rank frame in every round."""
    from pyspark.sql import functions as F

    from flink_kafka_spark import observe
    from flink_kafka_spark.operators.dedup import connected_components
    from flink_kafka_spark.operators.graph import pagerank
    from flink_kafka_spark.queries import Query
    from tools.gen_plans import loop_rounds

    def chain(spark):  # (edges, nodes): i -> i+1 over 16 nodes
        nodes = spark.range(16).select(F.col("id"))
        edges = nodes.filter("id < 15").select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst"),
            F.lit(1).cast("long").alias("w"),
        )
        return edges, nodes

    def pr(spark, _):
        return pagerank(*chain(spark), iterations=6)

    def cc(spark, _):
        edges, nodes = chain(spark)
        pairs = edges.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
        return connected_components(pairs, nodes.withColumnRenamed("id", "doc_id"))

    def run(fn):
        return loop_rounds(observe.read(
            spark, observe.run(spark, Query(fn.__name__, fn), ""), sql=True
        )["executions"])

    auto = run(pr)
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        pr, cc = run(pr), run(cc)
    finally:
        # restore the SESSION'S configured value, not Spark's default:
        # conf.unset would fall back to the 10 MB ConfigEntry default
        # instead of session.py's 64 MB, leaking a 6x-smaller broadcast
        # threshold into every later test (session-scoped fixture)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)

    def joins(execs):  # (live broadcast joins, live SMJ) per execution
        return [(e["live_broadcasts"], e["live_smj"]) for e in execs]

    # 6 PageRank rounds run as 2 executions of CHK_EVERY = 3 rounds.
    # Default: one shuffle join per round, and no broadcast anywhere,
    # the cached setup join included.
    assert joins(pr) == [(0, 3)] * 2
    assert all(e["broadcasts"] == 0 and e["live_exchanges"] <= 4 for e in pr)
    # the canary that the (0, 3) pin is not vacuous: with the session's
    # threshold, AQE broadcasts the tiny rank frame in every round, so
    # each execution's three rank joins are live broadcasts
    assert joins(auto) == [(3, 0)] * 2
    # CC: 2 plain rounds (the msgs join + the min-groupBy), then
    # jumping rounds until convergence, which add the pointer-jumping
    # self-join (its two sides share the min-groupBy's exchange)
    assert len(cc) > 2
    assert joins(cc) == [(0, 1)] * 2 + [(0, 3)] * (len(cc) - 2)
    assert all(e["live_exchanges"] <= (2 if i < 2 else 4) for i, e in enumerate(cc))


def test_kept_broadcast_hints_plan_broadcast_joins(spark, sf_dir):
    """The operators hint a broadcast only where a side is bounded by
    construction, and each kept hint must still plan a broadcast join
    when the size estimate alone would not. PLAN_BOUNDS cannot see a
    deleted hint at test scale, where auto-broadcast picks the same
    join, so auto-broadcast is off here and every broadcast join comes
    from a hint:

    - the gap-fill grid's left join onto the observed buckets
      (``timeseries._densify``), beside its 1-row bounds cross;
    - the filtered tf-idf branch's candidate-term semi filter and its
      dfreq join (``text.tfidf_top_terms`` with ``doc_filter``);
    - ``text.inverted_index``'s query-term semi filter;
    - the TPC-H dimension tables: q5's nation and region, q7's two
      filtered nation sides;
    - q22's 1-row scalar average, crossed onto customer.

    Their caller is multi_query_search for the tf-idf and index hints;
    events_gapfill and the streaming gap-fill emitter for the grid."""
    from pyspark.sql import functions as F

    from flink_kafka_spark.caching import release_all
    from flink_kafka_spark.queries.tpch import tpch_q5, tpch_q7, tpch_q22
    from flink_kafka_spark.operators.text import inverted_index, tfidf_top_terms
    from flink_kafka_spark.operators.timeseries import resample_ffill
    from flink_kafka_spark.tables import load

    def joins(df):  # (broadcast hash, broadcast nested-loop, sort-merge)
        a = audit(df)
        return a["broadcasts"], a["bnlj"], a["smj"]

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        docs = load(spark, sf_dir, "documents")
        gapfill = joins(resample_ffill(load(spark, sf_dir, "events"), "event_type", "ts", "value", 300))
        ranked = joins(tfidf_top_terms(docs, doc_filter=F.col("doc_id") < 5))
        index = joins(inverted_index(docs, terms=spark.createDataFrame([("the",)], "term string")))
        q5, q7, q22 = (joins(q(spark, sf_dir)) for q in (tpch_q5, tpch_q7, tpch_q22))
    finally:
        release_all()
        # the session's value, not Spark's 10 MB default (see above)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    # the nested-loop join is the 1-row bucket bounds' hinted cross
    assert gapfill == (1, 1, 0)
    # the nested-loop join is the 1-row document count's hinted cross
    assert ranked == (2, 1, 0)
    assert index == (1, 0, 0)
    # the fact-table joins shuffle; each hinted dimension broadcasts
    assert q5 == (2, 0, 2)
    assert q7 == (2, 0, 3)
    # the nested-loop join is the hinted 1-row average's non-equi cross
    assert q22 == (0, 1, 1)


def test_audit_is_stable_across_cache_materialization(spark):
    """Auditing the same frame before and after its persisted input is
    materialized gives the same counts: the walk reads AQE's initial
    plan, which does not change once the cache has run (the cached
    plan's final plan would add its exchanges a second time)."""
    from pyspark.sql import functions as F

    agg = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count().persist()
    try:
        df = agg.groupBy("count").agg(F.sum("k"))
        before = audit(df)
        agg.count()
        after = audit(df)
    finally:
        agg.unpersist()
    keys = ("exchanges", "broadcasts", "smj")
    assert [after[k] for k in keys] == [before[k] for k in keys]
    assert before["exchanges"] == 2


def test_executed_live_counts_stop_at_the_cache(spark):
    """The executed-plan twin of the test above: a run over a persisted
    frame whose build has a shuffle shows that shuffle in the plan
    graph's ``exchanges`` but not in ``live_exchanges``, because the
    build ran once at materialization."""
    from pyspark.sql import functions as F

    from flink_kafka_spark import observe
    from flink_kafka_spark.queries import Query

    def build(spark, _):
        agg = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count().persist()
        return agg.groupBy("count").agg(F.sum("k"))

    rec = observe.run(spark, Query("cached_agg", build), "")
    [e] = observe.read(spark, rec, sql=True)["executions"]
    assert (e["exchanges"], e["live_exchanges"]) == (2, 1)


def test_small_shuffle_keeps_every_core(spark):
    """AQE coalesces a shuffle's partitions up to at least
    ``coalescePartitions.minPartitionSize``. At Spark's 1 MB default a
    shuffle of a few hundred KB ran its post-shuffle stage as one task;
    the session's 64 KB floor lets a shuffle of parallelism x 64 KB or
    more keep a task per core (capped by the shuffle's partitions; with
    more partitions than cores, AQE packs them into about one target
    size per core, and uneven ones pack into a few more)."""
    from pyspark.sql import functions as F

    from flink_kafka_spark import observe
    from flink_kafka_spark.queries import Query

    par = spark.sparkContext.defaultParallelism

    def build(spark, _):  # ~150 KB of shuffle per core: a distinct hash per row
        key = F.sha2(F.col("id").cast("string"), 256)
        return spark.range(par * 2500).groupBy(key.alias("k")).count()

    r = observe.read(spark, observe.run(spark, Query("small_shuffle", build), ""))
    [post] = [s for s in r["stage_rows"] if s["shuffle_read_bytes"]]
    assert r["shuffle_write_bytes"] >= par * 64 * 1024
    assert post["tasks"] >= min(par, int(spark.conf.get("spark.sql.shuffle.partitions")))
