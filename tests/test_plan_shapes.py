"""Plan-shape regression tests: the shuffle structure of the headline
queries is a deliberate design property (SCALE.md documents why each
plan has the exchanges it has). A code change that silently adds a
shuffle — or worse, a cartesian product — to one of these plans is a
scale regression even when results stay correct, so pin the physical
plan here the way goldens pin values.

Counts are ceilings measured on the conftest session (local[4],
sf0.001): AQE may coalesce below them, but exceeding one means a new
exchange appeared and must be justified (then update the ceiling with
a SCALE.md note).
"""

from __future__ import annotations

import os

import pytest

from cybersecurity_miw_spark.catalog import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TESTS", "/root/testdata/sf0.001")

# query -> max allowed Exchange nodes in the executed plan
MAX_EXCHANGES = {
    # r18: the events_lines parse family carries +1 — the forced
    # widening repartition (ensure_parallelism) that parallelizes the
    # tokenize→project parse chain over an under-split scan; measured
    # A/B in OPTIMIZATION_r18.md (flagship 1.39 → 1.02 normalized)
    "miw_events_summary": 2,       # widen + one groupBy on the composite key
    "tokenize_typed_projection": 1,
    "date_buckets": 1,
    "match_substring_or": 1,
    "agg_union_count_histogram": 2,  # pre-agg + rollup (bounded-memory A9)
    "tpch_q1_pricing_summary": 1,
    "wc_wordcount": 1,
    "text_profile": 1,             # forced widening repartition
    "dedup_exact_groups": 1,
    "minhash_signatures": 1,       # forced widening repartition
    # r18: the band self-join became ONE groupBy over the uniform
    # (band, band_hash) key collecting each bucket's roster + in-bucket
    # pair expansion (dedup.pairs_from_bands) — widen + roster agg +
    # final distinct; the old self-join form paid 4-6 depending on the
    # join strategy the planner picked
    "minhash_lsh_candidates": 3,   # widen + bucket-roster agg + distinct
    "simhash_fingerprints": 1,
    "cosine_brute_topk": 0,        # TakeOrdered, no global sort
    "ann_lsh_topk": 0,             # bucket filter + TakeOrdered
    "embedding_near_dup_lsh": 6,
    "session_summary_30min": 1,    # one hash partition on user_id, window + agg reuse it
    "topn_events_per_user": 1,
    "tfidf_top_terms": 5,          # df + tf + join + window rank
    "app_matrix_mult_blocked": 4,  # two block packs + bk join + (i,j) agg
    "pairwise_topk_lsh": 2,        # bucket join + per-query window
    "ann_pq_adc_topk": 0,          # narrow encode + LUT adds + TakeOrdered
    "split_train_val_test": 0,     # pure narrow projection (md5 bucket)
    "stratified_sample_by_source": 1,   # both windows share one hash part.
    "weighted_interleave_prefix": 1,    # rank window; prefix is TakeOrdered
    "pack_sequences_bins": 1,      # one shuffle to the P packers
    # cross-set LSH + fingerprint + two anti-joins: 4 hash exchanges,
    # the rest of the count is BroadcastExchange/Reused mentions (the
    # eval side broadcasts everywhere, by design)
    "decontaminate_train_vs_eval": 16,
    # corpus filters: narrow metrics widen-repartition only; the
    # top-bigram path is explode → gram count → per-doc max(struct),
    # two real shuffles; gopher adds the metrics⋈top doc_id join
    "remove_repeated_lines": 1,
    "pii_redact_counts": 1,
    "top_bigram_profile": 3,
    "gopher_quality_flags": 5,
    "chunk_fixed_windows": 1,      # widen only; chunking is narrow
    "quality_weighted_sample": 1,  # widen only; md5-bucket filter is narrow
    "corpus_report_by_source": 9,  # gopher(5) + fp join + distinct expand
    "approx_distinct_users_per_type": 1,  # single-pass HLL, one agg
    "approx_value_percentiles": 1,        # single-pass sketch, one agg
    "asof_join_latest_snapshot": 1,  # union + ONE key exchange (no range join)
    "bpe_top_pairs": 2,  # widen + pair count agg; top-N is TakeOrdered
    # model build (c1+c2 aggs) + doc-bigram joins + per-doc mean; the
    # model side is corpus-vocab-sized — AQE broadcasts it when small
    "lm_bigram_quality_scores": 12,
    # line-df count + anti-join + ordered reassembly + doc left join;
    # +1 exchange vs the first cut: the doc roster is a distinct over
    # the SAME persisted explode instead of a second full scan of the
    # text column — one small doc_id-keyed exchange bought removing a
    # 100 TB re-read (SCALE.md). 9 on a fresh session; once the
    # persisted explode has cache statistics the anti-join flips from
    # broadcast to shuffle (the minhash_lsh_candidates class above)
    # -> 12; both forms key on uniform hashes
    "remove_boilerplate_lines": 12,
    # shingle explode/dedup both sides + overlap join + per-doc count
    "eval_ngram_overlap_flags": 8,
    # widen + (doc,bucket) count + per-doc pivot agg
    "hashed_text_embedding": 3,
    "json_props_extract": 1,  # one groupBy; JSON path is per-row JVM
    # word explode + per-word conditional-sum agg + global int sum
    "split_word_divergence": 3,
    "uniform_sample_50": 0,  # TakeOrdered, no global sort
    # round-6 analytics family (measured on the conftest session;
    # +1-2 headroom over fresh-session counts for AQE/broadcast-flip
    # text variation)
    "ohlc_hourly_value": 2,        # one algebraic agg
    "time_weighted_avg_hourly": 3,  # lead window + agg share the key exchange
    "gapfill_hourly_avg_value": 5,  # bounds agg + grid join + fill window
    "star_pattern_signup_clicks_purchase": 5,
    "zscore_value_outliers": 3,    # stats agg + broadcast back
    "moving_avg_7d_event_counts": 3,
    "cohort_retention_matrix": 5,
    "hourly_count_correlations": 6,
    "seasonal_volume_anomalies": 6,
    "snapshot_diff_events": 4,     # full outer on the key
    "tpch_q10_returned_items": 6,
    "tpch_q14_promo_effect": 3,
    "tpch_q4_order_priority": 4,
    "window_count_after_signup": 5,
    "activity_gap_detection": 2,
    "user_event_entropy": 3,       # second agg reuses the key exchange
    "sample_20_per_event_type": 2,
    "cidr_filter_derived_ips": 0,  # pure narrow scan filter
    "first_seen_users_per_day": 3,
    "day_over_day_event_counts": 3,
    "unpivot_day_measures": 2,
    "event_type_transitions": 4,
    "top_event_trigrams": 3,
    "dq_profile_events": 4,        # expand-for-distinct tiers
    "funnel_conversion_summary": 24,  # funnel subtree text + depth agg
    # deep join chains: dims broadcast, fact-fact joins shuffle; the
    # ceilings admit the shuffle-join forms the planner picks once
    # the filtered orders side outgrows the broadcast threshold
    "tpch_q5_local_supplier_volume": 8,
    "tpch_q18_large_volume_customer": 8,
    # one WindowExec hash exchange (the same shape as sessionize);
    # +1 admits an AQE coalesce wrapper
    "sequence_match_view_click": 2,
    # funnel: 1 real repartition on the key (persisted) + per-stage
    # agg exchanges + broadcast joins; the cached subtree's
    # FileScan+Exchange prints inside every InMemoryRelation mention,
    # so the textual count inflates well past the executed shuffles
    "funnel_signup_click_purchase": 30,
    # bloom prune is a narrow pre-shuffle Filter (0 exchanges, pinned
    # in test_bloomjoin.py); the remaining exchanges are the exact
    # confirm join's dim distinct + broadcast, +1 headroom for the
    # shuffle-join form the planner picks at scale
    "bloom_semi_join_error_users": 5,
    # bucketed range join: hash equi-join on (key, bucket). 1 on a
    # fresh session (broadcast build); admit the shuffle-join form
    # (both sides exchange) the join planner picks at scale
    "range_join_event_windows": 2,
    # 3 real exchanges (minute agg + hour re-agg + day re-agg). The
    # minute partials are persist()ed and REUSED by both coarser
    # levels: fresh session, the reused exchange's plan_id prints 3x
    # (textual count 5); once an earlier run in the same session has
    # materialized the cache, each InMemoryRelation mention prints the
    # cached subtree including its exchange (textual count 8). Both
    # forms execute the same 3 shuffles
    "time_rollup_multires": 8,
    # incremental ingest vs a persisted store: store build agg +
    # anti-join + batch min-agg + semi-join, all on the uniform
    # fingerprint/id key (4 fresh; +2 admits the shuffle-join forms
    # once the store side outgrows broadcast)
    "incremental_exact_ingest": 6,
    # batch bands × stored bands equi-join on (band, band_hash) +
    # distinct; same headroom rationale
    "incremental_lsh_vs_store": 6,
    # round-7 TPC-H additions (+1-2 headroom over fresh-session counts
    # for AQE/broadcast-flip variation, same policy as q5/q18)
    "tpch_q6_forecast_revenue": 1,   # scan -> partial agg -> final
    "tpch_q7_volume_shipping": 8,    # dims broadcast, 1 fact-fact join
    "tpch_q8_market_share": 10,      # 7-table join, dims broadcast
    "tpch_q15_top_supplier": 4,      # fact agg + window over suppliers
    # one window pass + one agg, sessionization shape
    "merge_user_activity_intervals": 2,
    # distinct + user-keyed self-join + pair agg + broadcast totals
    "audience_overlap_jaccard": 12,
    "cube_event_counts": 1,          # grouping-set expand, one exchange
    "ntile_value_quartiles": 2,      # one WindowExec exchange + agg
    # two day-sliced distincts -> left-anti; +2 for shuffle-join form
    "churned_purchasers_day_over_day": 5,
    "frame_feature_ann_topk": 0,     # decode + cosine + TakeOrdered
    # token count + tiny bucket agg + the r18 doc_share denominator
    # window (an unpartitioned WindowExec over the ~log2(max_len)-row
    # grouped result — bounded rows, replaced a full-scan count()
    # action; see OPTIMIZATION_r18.md)
    "doc_token_length_histogram": 3,
    "alert_dedup_first_per_hour": 1,  # one composite-key WindowExec
    # user count agg + global rank over the tiny aggregate
    "top_users_by_events_with_ties": 3,
    "dedup_groups_canonical": 1,      # uniform md5 groupBy
    # session window + per-session max + per-user rollup all share
    # the ONE user-key hash partition
    "session_conversion_rate": 2,
    # round-8 TPC-H extensions (+2 headroom over fresh-session counts,
    # same policy as q5/q18). q22 is pinned separately below: its
    # 1-row stats broadcast cross is a deliberate BNLJ.
    "tpch_q2_min_cost_supplier": 8,    # region-supplier pruned pair agg + per-part window
    "tpch_q13_order_count_distribution": 5,  # orders agg first, then customer join
    "tpch_q16_supplier_part_counts": 7,      # distinct pair agg + anti-join + count-distinct
    "tpch_q17_small_quantity_revenue": 6,    # part broadcast prune + per-part stats join
    "tpch_q19_discounted_revenue": 3,        # part broadcast + global agg
    "tpch_q20_excess_shippers": 5,           # HAVING agg + semi-join
    "tpch_q21_sole_return_supplier": 8,      # one orderkey agg reused by later joins
    # distinct (user,day) + bounded x7 explode-distinct + day-roster
    # semi-join + final day agg — all uniform keys (+1 headroom)
    "rolling_7d_active_users": 5,
    # dau agg + mau (rolling fan-out) + day join, all on day_s (+2)
    "stickiness_dau_mau": 9,
    # round-8 TPC-H completions (+2 headroom, q5/q18 policy). q11 is
    # pinned separately below: its 1-row total broadcast cross is a
    # deliberate BNLJ (the q22 pattern).
    "tpch_q9_product_type_profit": 7,   # part+suppnation broadcast, 1 fact-fact join
    "tpch_q12_late_shipments": 4,       # date-pruned fact join + 1 tiny agg
    # prefix-filter set-similarity join: token-freq agg + canonical
    # order rebuild + prefix equi-join + pair distinct + verify joins,
    # all uniform keys (9 fresh, +2 headroom)
    "setsim_exact_pairs": 11,
    # token-budget selection: 11 fresh (2 branch scans × tiny
    # agg+window + boundary window + union); once the <=1001-row
    # offsets cache is materialized by an earlier query in the same
    # session, each InMemoryRelation mention re-prints its child plan
    # (textual 35, same real shuffles — the time_rollup_multires
    # precedent)
    "budget_select_docs": 36,
    # R-S prefix-filter join: same shape as the self-join minus the
    # id< dedup (9 fresh, +2 headroom)
    "setsim_cross_decontaminate": 11,
    # substring dedup: gram groupBy + occurrence join + doc window +
    # span agg reusing the window partitioning (4 fresh, +1 headroom)
    "duplicated_ngram_spans": 5,
    # leakage-safe split: clusters arrive via localCheckpointed
    # lineage (no exchanges re-printed), one doc-id join + the
    # shuffle-free hash projection (2 fresh, +1 headroom)
    "leakage_safe_splits": 3,
    # span removal: the span plan's 4 shuffles + span-table groupBy +
    # doc-key left join; the slice is one array lambda, no extra
    # exchange (5 fresh, +1 headroom)
    "span_removed_documents": 6,
    # incremental setsim: the catalog fixture builds freq + prefix
    # store INLINE (production reads them from parquet), so the
    # history shingle pipeline re-prints under every consumer — 47
    # textual for ~8 real shuffles (+3 headroom). The real-store plan
    # is pinned by the golden tests' two-batch append run.
    "incremental_setsim_vs_store": 50,
    # SemDeDup: bucket+norm projection staged (persist), bucket-key
    # self-join, pair distinct, removed-id distinct, anti-join back
    # to the corpus — uniform keys throughout (17 textual fresh with
    # the staged subtree re-printed, +2 headroom)
    "semantic_dedup_survivors": 19,
    # r12 store-backed incremental containment: the catalog fixture
    # builds freq + the full-token store INLINE (production reads
    # parquet), so the container shingle pipeline re-prints under
    # every consumer — 26 textual for ~8 real shuffles (+4 headroom);
    # the real-store plan is pinned by the two-batch append golden
    "incremental_containment_vs_store": 30,
    # r12 cluster-atomic SemDeDup: the CC rounds run behind eager
    # localCheckpoints, so the printed plan is only the final
    # anti-join lineage (3 fresh, +2 headroom)
    "semantic_dedup_clusters": 5,
    # --- r15 additions (textual counts from a clean cache; staged
    #     subtrees re-print per reference as usual) ---
    # one window exchange (rank + running token sum co-partitioned)
    "mix_to_budget_epochs": 3,
    # the mix window + the card's source agg (share window rides the
    # sources-bounded aggregate)
    "mix_report_by_source": 4,
    # clusters (behind localCheckpoints) + leakage join + mix window
    # + chunk join (8 textual, +2 headroom)
    "assemble_manifest": 10,
    # two gram-profile aggs + llr broadcast + per-doc sum + output
    # join + TakeOrdered; r16 stages the profile + rb/tb bucket
    # totals (ADVICE r15 — one gram scan per corpus), whose
    # InMemoryRelation subtrees re-print per reference (16 textual
    # for the same ~9 real shuffles), +2 headroom
    "dsir_select_topk": 18,
    # dsir_select_budget is EXCLUDED: the staged weight chain's
    # InMemoryRelation re-prints under budget_select's many
    # references (~99 textual for ~10 real shuffles) — its plan is
    # pinned by the oracle + the measured 10x point instead
    # (quality_clf_select_budget r16: same exclusion, same reason —
    # the staged score frame re-prints ~73 textual)
    # 9-way gram explode agg + occurrence join + islands windows +
    # pivot + final join over the persisted base; r16 adds the
    # deliberate doc-key pre-partition ahead of the explode (SCALE.md
    # "Round-16: gopher battery" — one compact-doc exchange that the
    # count agg, occurrence join, and island windows all reuse;
    # −23% wall at sf0.1). 18 textual via persisted-subtree
    # re-prints, +2 headroom
    "gopher_repetition_battery": 20,
    # pure narrow per-row expressions; the 1 is the catalog fixture's
    # widening repartition (load_table widen=True)
    "c4_page_rules": 1,
    # per-n gram union + (source, n) count/distinct agg (5 textual)
    "ngram_diversity_by_source": 7,
    # --- r16 additions ---
    # md5-fingerprint groupBy + semi-join back (2 textual)
    "url_canonical_dedup": 3,
    # candidate explode agg + rule broadcast + left join back +
    # domain count (4 textual; the rules side is BroadcastExchange)
    "registrable_domain_counts": 5,
    # feature explode -> (id, bucket) count + n_words agg + weight
    # broadcast + margin agg + left join back (6 textual, +1)
    "quality_clf_score": 7,
    # pure narrow per-row expressions over the synthesized URLs
    "url_quality_flags": 0,
    # one real doc-key exchange shared by the prefix window and the
    # (id, chunk) group concat
    "chunk_sentence_budget": 2,
    # --- r17 additions ---
    # gram (id,lang) agg + per-doc map agg + the doc-key join's two
    # sides (4 textual, +2 headroom). Cartesian/BNLJ asserts also
    # guard the scoring tail: the r17 rewrite replaced a
    # crossJoin-shaped expansion with a map transform
    "lang_id_assign": 6,
    # pure row-expression strip chain — zero exchanges
    "html_extract_text": 0,
    # two aligned regexp passes + one zip explode — zero exchanges
    "html_outlinks_edges": 0,
    # bounded line explode, still zero exchanges
    "html_line_density": 1,
    # frozen scoring chain (margin agg + join back) + per-grade agg
    # + the bounded-table window + decile agg (8 textual, +2)
    "quality_clf_report_deciles": 10,
    # two scoring chains + union + per-grade agg + bounded window +
    # one-row final agg (14 textual, +2)
    "quality_clf_separation": 16,
    # the langid chain + the profile-columns join (8 textual, +2)
    "text_profile": 10,
    # --- r17 second-rotation additions (crawl stack) ---
    # one staged token explode feeding two word-key count aggs + the
    # two vocab joins of the bigram conditionals (9 textual, +2)
    "ngram_lm_train": 11,
    # the train plan + pair explode + two model left joins + one
    # per-doc long-sum + the join back (13 textual, +2)
    "ngram_lm_score": 15,
    # the scoring plan + one uniform 3-key bucket agg (14, +2)
    "ngram_lm_ppl_buckets": 16,
    # (dst,text) count agg + dst window + k-bounded re-agg + degree
    # join (5 textual, +1)
    "link_anchor_index": 6,
    # TWO unrolled synchronous iterations over the staged edge list:
    # per iteration one src-key join + one dst-key sum + the node
    # left join; the textual plan re-prints the shared prefix per
    # iteration (23 textual, +2). Production runs localCheckpoint
    # per iteration, which truncates this lineage.
    "link_pagerank": 25,
    # host-pair agg + PSL resolution over the DISTINCT host
    # vocabulary (candidate explode + broadcast rule join + per-host
    # max + join back, textually re-printed for the two host-side
    # joins) + the final domain-pair agg (19 textual, +2)
    "domain_link_graph_counts": 21,
    # one dst-key degree agg + one anti-join (4 textual, +1)
    "crawl_frontier_rank": 5,
    # robots parse (line explode + host window + rule×agent join) +
    # the gate (host join + per-url max + join back); +1 since the
    # r18 build session routed the gate's URL normalization through
    # the percent-encoding pass (one more distinct-host shuffle,
    # committed in ee90590 without raising this pin — caught by the
    # r18 optimization round's green-tree check)
    "robots_allow_gate": 16,
    # pure codegen translate/replace/regexp chain — zero exchanges
    "clean_text_normalization": 0,
    # ONE feature explode + broadcast (K·dim) weight join + one
    # (doc, topic) sum + argmax + join back (8 textual, +2)
    "topic_classify_argmax": 10,
    # staged posexplode + md5-key min agg + hash join back + per-doc
    # re-assembly + the two doc-key joins back (6 textual, +2)
    "paragraph_dedup_first": 8,
    # --- r18 additions ---
    # pct-normalize + canonicalize fused into one row-expression
    # projection; exchanges = url_exact_dedup's md5 groupBy +
    # semi-join, same as url_canonical_dedup
    "url_pct_normalize_dedup": 3,
}


def _plan(spark, name: str) -> str:
    # plan-shape assertions are calibrated on FRESH plans: a cached
    # intermediate left behind by an earlier test in the shared
    # session grafts an InMemoryRelation into the plan text (whose
    # printed cached subtree double-counts exchanges through a
    # self-join), so drop all cached state before building
    from cybersecurity_miw_spark.cache import release_intermediates

    release_intermediates()
    spark.catalog.clearCache()
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(MAX_EXCHANGES))
def test_no_cartesian_or_nested_loop(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


@pytest.mark.parametrize("name", sorted(MAX_EXCHANGES))
def test_exchange_count_ceiling(spark, name):
    plan = _plan(spark, name)
    n = plan.count("Exchange")
    assert n <= MAX_EXCHANGES[name], (
        f"{name}: {n} exchanges (ceiling {MAX_EXCHANGES[name]}) — a new "
        "shuffle appeared; justify it in SCALE.md before raising this"
    )


def test_fuzzy_join_bnlj_is_only_the_guarded_short_cross(spark):
    """fuzzy_source_name_pairs is EXEMPT from the generic no-BNLJ
    assert: its one BroadcastNestedLoopJoin is the deliberate,
    MAX_SHORT-capped broadcast cross of the two short-string
    minorities (operators/fuzzy.py) — bounded by construction, while
    the main q-gram candidate path stays a hash equi-join."""
    plan = _plan(spark, "fuzzy_source_name_pairs")
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    # the gram path is present as a real equi-join
    assert "Join" in plan


def test_tpch_q22_bnlj_is_only_the_one_row_stats_cross(spark):
    """tpch_q22_dormant_customers is EXEMPT from the generic no-BNLJ
    assert: its one BroadcastNestedLoopJoin is the crossJoin of the
    1-row (sum, count) stats aggregate — bounded by construction.
    Everything else stays hash joins; the anti-join runs on the
    distinct custkey projection."""
    plan = _plan(spark, "tpch_q22_dormant_customers")
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 7


def test_tpch_q11_bnlj_is_only_the_one_row_total_cross(spark):
    """tpch_q11_important_parts is EXEMPT from the generic no-BNLJ
    assert for the same reason as q22: the crossJoin of the 1-row
    nation-total aggregate (the cross-multiplied HAVING threshold) is
    a bounded broadcast. The membership prune and the per-part agg
    stay hash joins on uniform keys."""
    plan = _plan(spark, "tpch_q11_important_parts")
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 10


def test_hybrid_rrf_bnlj_is_only_the_one_row_stats_cross(spark):
    """hybrid_rrf_topk_docs is EXEMPT from the generic no-BNLJ assert
    for the BM25 branch's 1-row (n_docs, avgdl) stats crossJoin — the
    q22 pattern, bounded by construction. The fusion's FULL OUTER
    join runs on the two pool-bounded (≤50-row) rank lists, and no
    corpus-sized window appears: both row_number windows read
    TakeOrdered output."""
    plan = _plan(spark, "hybrid_rrf_topk_docs")
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # lex stats cross (AQE may print both forms)
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 16


@pytest.mark.parametrize(
    "name,max_exch",
    [
        # r12 retrieval family: each carries exactly the ONE 1-row
        # stats-cross BNLJ of its BM25 branch (the q22 pattern) —
        # ann dense branch 7 exch, batched bm25 14, batched hybrid 20
        # measured fresh, +3 headroom each
        ("hybrid_rrf_ann_topk_docs", 10),
        ("bm25_topk_batch_docs", 17),
        ("hybrid_rrf_batch_docs", 23),
    ],
)
def test_r12_retrieval_bnlj_is_only_the_stats_cross(spark, name, max_exch):
    plan = _plan(spark, name)
    assert plan.count("BroadcastNestedLoopJoin") <= 2, name
    assert "CartesianProduct" not in plan, name
    assert plan.count("Exchange") <= max_exch, name


def test_frame_ann_single_decode_subtree(spark):
    """VERDICT r7 #5: the probe-vector head job decodes ONLY the probe
    document (filter pushed below the Arrow decode to the scan), and
    the MAIN plan contains exactly one mapInPandas decode subtree —
    the media corpus is decoded once."""
    plan = _plan(spark, "frame_feature_ann_topk")
    assert plan.count("MapInPandas") == 1


def test_minhash_signatures_one_arrow_kernel(spark):
    """The permutation minima run as ONE Arrow map (the numpy kernel
    of dedup.with_signature) above the widening repartition — no
    second Python boundary; the exchange ceiling above still holds
    the plan to its one widening exchange."""
    plan = _plan(spark, "minhash_signatures")
    assert plan.count("MapInArrow") == 1


def test_tpch_customer_join_demotes_without_hint(spark):
    """VERDICT r7 #2, proven both ways: with the broadcast threshold
    forced off, the formerly-hinted customer joins in q5/q7/q8/q10/q18
    plan as shuffle joins (an explicit F.broadcast hint would never
    demote — its absence is what this asserts); the true small dims
    stay hinted and broadcast. With the default threshold the planner
    still picks broadcast at bench scale (the ceiling pins cover that
    form)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in (
            "tpch_q5_local_supplier_volume",
            "tpch_q10_returned_items",
            "tpch_q18_large_volume_customer",
            "tpch_q7_volume_shipping",
            "tpch_q8_market_share",
        ):
            plan = _plan(spark, name)
            assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), (
                f"{name}: no shuffle join appeared with broadcast disabled — "
                "a forced broadcast hint is back on the customer join"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_last_sf_scaled_hints_demote(spark):
    """VERDICT r9 'What's wrong' #1/#2: tpch_q18's HAVING pre-aggregate
    (filter-derived FROM the fact table) and cohort_retention's
    per-user first-seen table (#users, sf-scaled) must carry NO
    explicit broadcast hint. Proven the strong way: with the broadcast
    threshold forced off, their plans contain NO BroadcastHashJoin at
    all — an explicit hint would survive the -1 threshold, so zero
    broadcast joins proves zero hints on sf-scaled relations (neither
    query touches nation/region, the only legitimately-hinted dims)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in (
            "tpch_q18_large_volume_customer",
            "cohort_retention_matrix",
        ):
            plan = _plan(spark, name)
            assert "BroadcastHashJoin" not in plan, (
                f"{name}: a BroadcastHashJoin survived "
                "autoBroadcastJoinThreshold=-1 — an explicit hint is "
                "back on an sf-scaled relation"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_broadcast_sites_annotated():
    """r10 audit convention (catalog.py broadcast-hint policy): every
    raw F.broadcast / broadcast call site in the package must carry a
    `bcast-bound:` comment within the 4 preceding lines stating its
    sf-independent row bound. maybe_broadcast() is the sanctioned
    un-annotated path (its bound is the bounded_rows argument). A new
    un-annotated site fails here until its bound is stated — this
    keeps the 100 TB broadcast audit mechanical."""
    import re

    pkg = os.path.join(os.path.dirname(__file__), "..",
                       "cybersecurity_miw_spark")
    call = re.compile(r"(?<![\w.])(?:F\.)?broadcast\(")
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            lines = open(path).read().splitlines()
            for i, line in enumerate(lines):
                if "maybe_broadcast" in line or line.lstrip().startswith("#"):
                    continue
                if "import" in line and "broadcast" in line:
                    continue
                if call.search(line):
                    ctx = "\n".join(lines[max(0, i - 4): i])
                    if "bcast-bound:" not in ctx:
                        offenders.append(f"{path}:{i + 1}: {line.strip()}")
    assert not offenders, (
        "raw broadcast call(s) without a bcast-bound annotation:\n"
        + "\n".join(offenders)
    )


SCAN_SCHEMAS = {
    # a scan that reads every column for a 2-column computation is
    # wrong at 100 TB: pin the pruned ReadSchema of representative
    # heavy scans (documents has 5 columns, lineitem 11)
    "minhash_signatures": "struct<doc_id:bigint,text:string>",
    "text_profile": "struct<doc_id:bigint,text:string>",
    "doc_token_length_histogram": "struct<text:string>",
    "dedup_exact_groups": "struct<doc_id:bigint,text:string>",
    "tpch_q6_forecast_revenue": (
        "struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp_ntz>"
    ),
}


@pytest.mark.parametrize("name", sorted(SCAN_SCHEMAS))
def test_scan_column_pruning(spark, name):
    plan = _plan(spark, name)
    assert f"ReadSchema: {SCAN_SCHEMAS[name]}" in plan, (
        f"{name}: the parquet scan no longer prunes to "
        f"{SCAN_SCHEMAS[name]} — a column crept into the read path"
    )


def test_predicate_pushdown_reaches_parquet_scan(spark):
    """The date/number slices reach the parquet reader as
    PushedFilters (row-group statistics pruning at 100 TB), and the
    q20 LIKE-prefix pushes as StringStartsWith."""
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    plan20 = _plan(spark, "tpch_q20_excess_shippers")
    assert "StringStartsWith(p_name,small)" in plan20
    assert "GreaterThanOrEqual(l_shipdate" in plan20


# proxy summary with a union_count histogram beside plain aggregates
_PROXY_HIST_FORMAT = {
    "format_name": "proxy_hist",
    "delims": " ",
    "quotechar": '"',
    "commentchar": "#",
    "fields": [
        {"name": "time", "pos": 1, "type": "time", "key": True,
         "processing": "hour"},
        {"name": "cs-host", "pos": 10, "type": "string",
         "aggregation": "union_count"},
        {"name": "cs-username", "pos": 14, "type": "string", "key": True},
        {"name": "sc-bytes", "pos": 6, "type": "int", "aggregation": "sum"},
        {"name": "cs-categories", "pos": 21, "type": "string",
         "aggregation": "union"},
    ],
}


@pytest.mark.parametrize("store_content", [False, True])
def test_union_count_job_scans_its_input_once(spark, store_content):
    """A union_count summary reads and tokenizes its input once: the
    histograms, the plain aggregates and the stored lines all come out
    of one tagged two-level aggregation, with no join back on the keys
    (operators/aggregate.py:_tagged_aggregate)."""
    from cybersecurity_miw_spark.job import MiwJob

    path = os.path.join(os.path.dirname(__file__), "fixtures", "web_proxy.log")
    df = MiwJob(
        _PROXY_HIST_FORMAT, files=[path], store_content=store_content
    ).result(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert plan.count("regexp_extract_all") == 1
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan
    assert plan.count("Exchange") <= 2


@pytest.mark.parametrize("with_histogram", [False, True])
def test_moment_merge_partials_pruned_from_batch_plan(spark, with_histogram):
    """A mean or variance summary carries hidden merge partials
    (``_n_<f>``, ``_mean_<f>``) for the streaming merge; the batch
    result drops them, and the optimizer must prune their aggregates,
    so the batch plan is the one it was before they existed."""
    from cybersecurity_miw_spark.job import MiwJob

    fields = [
        f for f in _PROXY_HIST_FORMAT["fields"]
        if with_histogram or f.get("aggregation") != "union_count"
    ] + [
        {"name": "bytes_mean", "pos": 6, "type": "int", "aggregation": "mean"},
        {"name": "bytes_var", "pos": 6, "type": "int",
         "aggregation": "variance"},
    ]
    path = os.path.join(os.path.dirname(__file__), "fixtures", "web_proxy.log")
    df = MiwJob({**_PROXY_HIST_FORMAT, "fields": fields}, files=[path]).result(
        spark
    )
    assert {"bytes_mean", "bytes_var"} <= set(df.columns)
    qe = df._jdf.queryExecution()
    assert "_n_bytes_var" in qe.analyzed().toString()
    plan = qe.optimizedPlan().toString()
    assert "_n_" not in plan
    assert "_mean_" not in plan
