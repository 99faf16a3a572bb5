"""Named-query registry: the engine's public correctness surface.

Each :class:`Query` pairs a Spark callable ``(spark, sf_dir) ->
DataFrame`` with (where SQL-expressible) an ANSI-SQL oracle string that
DuckDB runs on the same parquet tables. The driver's harness compares
both at sf=0.01 (row-count + schema + order-insensitive value hash), so
column names/aliases MUST match between the two sides.

Conventions that keep the comparison stable:
- window bounds, event times → epoch-second **longs**, never raw
  timestamps (timezone/precision-proof);
- every computed column explicitly aliased identically on both sides;
- floating-point outputs rounded (4-6 dp) on both sides;
- deterministic tie-breaks on every rank.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    """One registered query/operator exposed to the driver harness."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # DuckDB SQL; None → rows-only check
    survey: str = ""  # SURVEY.md §2 operator ids this covers
    tags: tuple[str, ...] = field(default_factory=tuple)


# The driver's correctness harness hashes exactly the FIRST 50 entries
# of ``queries()`` in registry order; ``DRIVER_WINDOW`` lists them. The
# window holds every ``*_check`` property oracle (the hash-dependent
# approx paths have no other driver verification) and at least one
# full-oracle row from every component family: reference §2 surface,
# dedup, similarity, retrieval, sampling/release, multimodal and
# relational (test_driver_window_covers_every_family). Queries past the
# window are still compared against DuckDB by tests/test_oracle.py.
DRIVER_WINDOW: tuple[str, ...] = (
    # pinned property checks (the approx paths' only driver verification)
    "uv_approx_check",
    "quantity_percentiles_approx_check",
    "dedup_minhash_lsh_check",
    "dedup_simhash_check",
    "dedup_incremental_check",
    "ann_lsh_check",
    "ann_ivf_check",
    "ann_pq_check",
    "mmr_rerank_check",
    "semantic_dedup_check",
    "heavy_hitters_check",
    "media_features_check",
    # full-oracle rows
    "winnow_contaminated_spans",
    "winnow_decontaminate_trim",
    "release_gate_snapshot",
    "hybrid_rrf_search",
    "source_interleave",
    "winnow_decontaminate_multi",
    "click_blacklist",
    "dataset_split",
    "decontaminate",
    "dedup_canonicalize",
    "dedup_embedding_cosine",
    "dedup_ngram_jaccard",
    "doc_chunk",
    "global_stats",
    "hot_items_topn",
    "hot_sources_topn",
    "lang_id",
    "order_line_reconciliation",
    "order_ship_interval_join",
    "pii_redact",
    "pii_scan",
    "profile_documents",
    "repetition_stats",
    "stratified_cap",
    "tfidf_top_terms",
    "tpch_q1",
    "tpch_q10",
    "tpch_q12",
    "tpch_q18",
    "tpch_q4",
    "tpch_q5",
    "tpch_q7",
    "bm25_search",
    "kmv_pair_intersections",
    "dq_expectations",
    "doc_fingerprint",
    "events_dedup_late",
    "orders_rollup",
)


def all_queries() -> dict[str, Query]:
    """Collect every registered query, keyed by name.

    Order: :data:`DRIVER_WINDOW` first (the driver-verified set), then
    every remaining query in module registration order.
    """
    from . import (
        analytics,
        dedup,
        joins,
        multimodal,
        patterns,
        similarity,
        streamlike,
        textops,
        tpch,
    )

    collected: dict[str, Query] = {}
    for mod in (streamlike, patterns, joins, tpch, analytics, dedup, similarity, textops, multimodal):
        for q in mod.QUERIES:
            if q.name in collected:
                raise ValueError(f"duplicate query name {q.name}")
            collected[q.name] = q

    missing = [n for n in DRIVER_WINDOW if n not in collected]
    if missing:
        raise ValueError(f"DRIVER_WINDOW names not registered: {missing}")
    out = {n: _released(collected[n]) for n in DRIVER_WINDOW}
    out.update((n, _released(q)) for n, q in collected.items() if n not in out)
    return out


def _released(q: Query) -> Query:
    """Wrap a query so invoking it first releases the PREVIOUS query's
    operator-internal persists (see flink_kafka_spark.caching): in a
    sequential sweep — the driver's 50-query correctness pass, pytest,
    bench — the prior result has been materialized by the time the next
    query is built, so its cached subtrees are dead weight in the block
    store. Releasing at the next-query boundary keeps at most one
    query's working set cached."""
    import functools

    from ..caching import release_all

    @functools.wraps(q.fn)
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_all()
        return q.fn(spark, sf_dir)

    return Query(q.name, fn, q.oracle, q.survey, q.tags)
