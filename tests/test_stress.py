"""The scale-probe table in tools/stress.py."""

import pytest

from tools import stress

# every probe the two hand-timed scripts ran (tools/stress.py main()
# and tools/stream_bench.py), size suffixes dropped; login_fail_stream
# and blacklist_stream ran in both
PROBES = (
    "hot_items_topn", "uv_approx", "minhash_lsh", "connected_components",
    "canonicalize", "cc_single_chain", "span_dup_stats", "span_trim",
    "incremental_dedup", "containment", "threshold_sweep", "semantic_dedup",
    "doc_logprob", "source_overlap", "leakage_safe_split", "inverted_index",
    "bm25_search", "fuzzy_hot_block_uncapped", "fuzzy_hot_block_capped",
    "aqe_skew_join", "misra_gries", "count_min", "kmv", "kmv_pair_intersections",
    "pagerank", "mmr_rerank", "bigram_logprob", "classifier_score",
    "vocab_coverage", "fuzzy_link", "hashed_embed_dedup", "value_drift_psi",
    "login_fail_stream", "blacklist_stream", "sequence_match_stream",
    "resample_ffill", "zorder_locality", "t_closeness_skew", "media_phash_dedup",
    "order_timeout_stream", "order_timeout_steady_stream", "tx_match_stream",
    "dedup_stream", "session_stats_stream", "heavy_hitters_stream", "cms_stream",
    "reservoir_stream", "kmv_stream", "kll_stream", "centroid_drift_stream",
    "dq_monitor_stream", "t_closeness_stream", "media_phash_stream",
    "winnow_decontaminate_stream",
)


def test_every_probe_is_one_row():
    assert len(PROBES) == len(set(PROBES)) == 54
    assert sorted(stress.ROWS) == sorted(PROBES)


def test_a_duplicate_row_name_is_refused():
    with pytest.raises(ValueError, match="duplicate row kmv"):
        stress.row(lambda spark, s, tmp: None, "kmv")


@pytest.mark.slow
@pytest.mark.parametrize("name", list(stress.ROWS))
def test_row_checks_pass_at_reduced_scale(spark, name):
    rec = stress.run_row(spark, name, 0.01)
    assert rec["row"] == name and rec["leaked_rdds"] == 0
