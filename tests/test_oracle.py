"""Every registered query with an oracle must match DuckDB at sf0.001
(the driver runs the same comparison at sf0.01). Oracle-less queries
get a runs-and-returns-rows smoke check."""

import pytest

from flink_kafka_spark.queries import all_queries

from .oracle_util import compare_spark_duckdb

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    q = QUERIES[name]
    df = q.fn(spark, sf_dir)
    if q.oracle is None:
        rows = df.collect()
        assert rows is not None  # runs; emptiness checked per-op elsewhere
    else:
        compare_spark_duckdb(df, q.oracle, sf_dir)


@pytest.mark.parametrize(
    "spark_sql,oracle_sql",
    [
        # int64 vs DuckDB HUGEINT->float64 (sessionize/tpch_q12 class)
        ("SELECT CAST(5 AS BIGINT) AS x", "SELECT sum(x) AS x FROM (SELECT 5 AS x)"),
        # Spark Decimal object vs float64, trailing zero (tpch_q1 class)
        ("SELECT CAST(1.40 AS DECIMAL(18,2)) AS x", "SELECT 1.4::DOUBLE AS x"),
        # plain value mismatch must still fail
        ("SELECT 1 AS x", "SELECT 2 AS x"),
    ],
)
def test_harness_rejects_dtype_drift(spark, sf_dir, spark_sql, oracle_sql):
    """The dtype-drift bug class (rows+schema match, hash fails) must
    be locally reproducible: a deliberately mis-typed pair fails."""
    with pytest.raises(AssertionError):
        compare_spark_duckdb(spark.sql(spark_sql), oracle_sql, sf_dir)


def test_driver_window_covers_every_family():
    """The driver hashes exactly the first 50 registry entries; pin the
    curated window so a careless registration can't silently push a
    family back out of driver verification."""
    from flink_kafka_spark.queries import DRIVER_WINDOW

    names = list(QUERIES)
    assert len(DRIVER_WINDOW) == 50
    assert names[:50] == list(DRIVER_WINDOW)

    # every *_check property oracle is driver-verified, with a real oracle
    checks = [n for n in names if n.endswith("_check")]
    for c in checks:
        assert c in DRIVER_WINDOW, f"{c} outside driver window"
        assert QUERIES[c].oracle is not None

    # at least one FULL-oracle row per component family inside the window
    # (member lists enumerate the family's registered queries — extend
    # them when registering, so a window edit can't empty a family)
    families = {
        "dedup": ["dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh_check",
                  "dedup_simhash_check", "dedup_clusters", "dedup_embedding_cosine",
                  "dedup_canonicalize", "dedup_canonicalize_skew",
                  "dedup_span_stats", "dedup_span_trim", "dedup_incremental_check",
                  "dedup_containment", "semantic_dedup_check"],
        "ann": ["ann_cosine_topk", "ann_lsh_check", "ann_ivf_check",
                "embedding_quantize", "ann_cosine_topk_int8", "ann_pq_check",
                "mmr_rerank_check"],
        "text": ["text_stats", "corpus_prep", "decontaminate", "lang_id",
                 "doc_chunk", "pii_scan", "pii_redact", "repetition_stats",
                 "text_quality", "doc_fingerprint", "bpe_token_count",
                 "filter_threshold_sweep", "word_pmi", "heavy_hitters_check",
                 "doc_logprob", "doc_bigram_logprob", "clf_quality_score",
                 "vocab_oov_rate", "source_scorecard",
                 "kmv_pair_intersections", "doc_winnow_fingerprint",
                 "winnow_overlap_pairs", "winnow_decontaminate",
                 "winnow_contaminated_spans", "winnow_decontaminate_trim",
                 "winnow_decontaminate_multi"],
        "retrieval": ["inverted_index", "tfidf_top_terms", "bm25_search",
                      "multi_query_search", "hybrid_rrf_search"],
        "sampling": ["export_shards", "profile_documents", "sequence_packing",
                     "mixture_resample", "dataset_split", "stratified_cap",
                     "weighted_sample", "snapshot_diff",
                     "corpus_shuffle", "block_shuffle",
                     "source_interleave"],
        "multimodal": ["media_decode_meta", "media_frame_sample", "media_features_check",
                       "media_phash", "media_phash_dedup", "media_phash_incremental"],
    }
    for fam, members in families.items():
        in_window = [m for m in members if m in DRIVER_WINDOW and QUERIES[m].oracle]
        assert in_window, f"family {fam} has no full-oracle query in the driver window"


def _assert_flat_schemas(spark, sf_dir, items):
    from pyspark.sql.types import ArrayType, MapType, StructType

    for name, q in items:
        schema = q.fn(spark, sf_dir).schema
        nested = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        assert not nested, f"{name} emits nested columns {nested}"


def test_no_registered_query_emits_nested_columns(spark, sf_dir):
    """The driver's pandas canonicalizer sorts and hashes every cell,
    so array/map/struct output columns raise `unhashable type: 'list'`
    and burn a window slot as a red row (media_features once did).
    Flat long form is the registry contract. Schema resolution is lazy
    for MOST queries; the driver-loop operators (connected-components
    canonicalize, pagerank, the BPE trainer) genuinely execute while
    their plan is BUILT, so this sweep runs those pipelines at
    sf0.001 — inherent to asking for their schema, not an accident.

    Default tier: only the rows WITHOUT a DuckDB oracle — for every
    full-oracle row the default-tier oracle sweep's pandas
    canonicalization would itself die on a nested cell, so this check
    is redundant there; the ~15 rows-only queries are this test's
    unique coverage. The slow-tier twin below still sweeps
    everything."""
    _assert_flat_schemas(
        spark, sf_dir, [(n, q) for n, q in QUERIES.items() if not q.oracle]
    )


@pytest.mark.slow  # slow tier: the full-registry sweep; the
# default tier covers the rows the oracle sweep's canonicalizer
# wouldn't already catch
def test_no_registered_query_emits_nested_columns_full(spark, sf_dir):
    _assert_flat_schemas(spark, sf_dir, list(QUERIES.items()))

