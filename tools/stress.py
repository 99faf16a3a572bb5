#!/usr/bin/env python3
"""Scale probes: one table of rows, each run through ``observe.run``.

A row is a generator function registered with :func:`row`. Its body
up to the one ``yield`` builds the row's synthetic input (generated
distributed via ``spark.range`` or replay files, sized by ``scale``;
untimed). It yields the timed build and action, a callable run as a
``Query`` by :func:`observe.run`: a returned DataFrame is written to
the ``noop`` sink as the run's action; any other value is the result
of an action the callable ran itself (the run's action then writes an
empty frame) and is sent back into the generator. The body after
the ``yield`` checks the probe's invariants (exact-count reference
jobs run there, outside the window) and may return extra JSON fields.
Every row gets a job group, the release of tracked persists and the
catalog cache after it, and its ``leaked_rdds`` count; a leak fails the
run as a broken invariant does. Rows share no frames: the release
after a row destroys checkpoint-backed frames it made (caching.py).

At scale 1 the event probes run 10M events (100x the sf0.1 events
table), the document probes 50k docs (10x sf0.1) and the stream
replays 100k rows (sf0.1 volume).

Usage:
  python tools/stress.py [scale]          one JSON line per row, then a summary line
  python tools/stress.py --curve [replicas]
"""

from __future__ import annotations

import functools
import json
import os
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from flink_kafka_spark import observe  # noqa: E402
from flink_kafka_spark.operators import (  # noqa: E402
    dedup,
    graph,
    joins,
    layout,
    multimodal,
    sampling,
    similarity,
    sketches,
    text,
    timeseries,
    topn,
    windows,
)
from flink_kafka_spark.queries import Query  # noqa: E402
from flink_kafka_spark.queries.analytics import value_drift_psi as psi_query  # noqa: E402
from flink_kafka_spark.schemas import AD_CLICK, LOGIN_EVENT, ORDER_EVENT, RECEIPT_EVENT  # noqa: E402
from flink_kafka_spark.session import get_spark  # noqa: E402
from flink_kafka_spark.streaming import jobs, stateful  # noqa: E402
from flink_kafka_spark.streaming.sources import csv_replay_source  # noqa: E402

EVENTS, DOCS, STREAM = 10_000_000, 50_000, 100_000
BASE_TS = 1_700_000_000

ROWS: dict = {}


def row(fn, name: str | None = None):
    """Register a probe generator ``fn(spark, scale, tmp)`` under its
    function name (or ``name``); ``tmp`` is the row's own directory."""
    name = name or fn.__name__
    if name in ROWS:
        raise ValueError(f"duplicate row {name}")
    ROWS[name] = fn
    return fn


def size(scale: float, base: int, floor: int = 0, step: int = 10) -> int:
    """``base * scale`` rounded down to a multiple of ``step`` (the planted
    structures come in whole groups of ``step``), at least ``floor``
    and one group."""
    return max(floor, step, int(base * scale) // step * step)


def measure(spark, query, sf_dir: str) -> dict:
    """``observe.run``, failing on persistent RDDs left after the run."""
    rec = observe.run(spark, query, sf_dir)
    assert rec["leaked_rdds"] == 0, (query.name, rec["leaked_rdds"])
    return rec


def run_row(spark, name: str, scale: float) -> dict:
    """Build row ``name``'s input, time its build and action through
    :func:`measure`, check it, and return its JSON record."""
    with tempfile.TemporaryDirectory() as tmp:
        probe = ROWS[name](spark, scale, tmp)
        try:
            timed = next(probe)
            result = []

            def build(spark, sf_dir):
                result.append(timed())
                return result[0] if isinstance(result[0], DataFrame) else spark.range(0)

            rec = measure(spark, Query(name, build), tmp)
            try:
                probe.send(result[0])
                raise RuntimeError(f"row {name} yields more than once")
            except StopIteration as done:
                extra = done.value or {}
        finally:
            probe.close()  # restores what the row pinned, also on failure
    out = {"row": name, "scale": scale, "leaked_rdds": rec["leaked_rdds"]}
    out.update((k, round(rec[k], 2)) for k in ("wall_s", "build_s", "action_s"))
    return {**out, **extra}


# --- input generators -------------------------------------------------------


def synth_events(spark, n: int):
    """Deterministic synthetic event stream: ~1 week of data, zipf-ish
    hot users (hash-squared skew), 5 event types."""
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(BASE_TS) + F.pmod(F.xxhash64("id"), F.lit(604_800))
        ).alias("ts"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10_000)).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("view", "click", "purchase", "error", "scroll")]),
            (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(5)) + 1).cast("int"),
        ).alias("event_type"),
    )


def synth_docs(spark, n: int):
    """Synthetic documents: ~40-token bodies from a deterministic
    vocabulary, with every 10th doc a near-duplicate of its neighbor
    (doc 10k+9 is a verbatim copy of doc 10k+1)."""
    words = F.expr(
        "transform(sequence(0, 39), i -> concat('w', pmod(xxhash64(id - pmod(id, 10) "
        "+ CASE WHEN pmod(id, 10) = 9 THEN 1 ELSE pmod(id, 10) END, i), 500)))"
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
    )


def chain_graph(spark, n: int):
    """Chains of length 10 (every doc i linked to i+1 except at decade
    borders): exactly n/10 components of diameter 9."""
    edges = (
        spark.range(n)
        .filter("pmod(id, 10) < 9")
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    return edges, spark.range(n).select(F.col("id").alias("doc_id"))


MEGA = ["mega_a", "mega_b", "mega_c"]


def mega_tokens(spark, n: int):
    """~1M distinct tail keys plus 3 planted mega-keys (30% of tokens)."""
    return spark.range(n).select(
        F.when(F.pmod(F.xxhash64("id"), F.lit(10)) < 3,
               F.element_at(F.array(*[F.lit(m) for m in MEGA]),
                            (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(3)) + 1).cast("int")))
        .otherwise(F.concat(F.lit("tail_"),
                            F.pmod(F.xxhash64("id", F.lit(3)), F.lit(1_000_000)).cast("string")))
        .alias("tok")
    )


def exact_mega(toks) -> dict:
    return {
        r["tok"]: r["c"]
        for r in toks.filter(F.col("tok").isin(MEGA)).groupBy("tok").agg(
            F.count(F.lit(1)).alias("c")).collect()
    }


def hot_block_catalog(spark, n: int):
    """A persisted catalog where 20% of rows share one first token, with
    the hot rows' lengths stepping by 4 over ~40 band buckets."""
    catalog = spark.range(n).select(
        F.col("id"),
        F.when(
            F.pmod("id", F.lit(5)) == 0,
            F.concat(
                F.lit("hot "),
                F.repeat(
                    F.lit("abcd"),
                    (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(40)) + 1).cast("int"),
                ),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("tok"),
                F.pmod(F.xxhash64("id", F.lit(5)), F.lit(2000)).cast("string"),
                F.lit(" part_"),
                F.pmod(F.xxhash64("id"), F.lit(4000)).cast("string"),
            )
        )
        .alias("name"),
    ).persist()
    catalog.count()
    return catalog


def lm_docs(spark, n: int):
    """Fluent docs walk a fixed 500-token cycle; every 10th doc takes a
    perfect-shuffle permutation of the SAME 40 offsets (evens take
    0..19, odds take 20..39): identical token bag, every transition a
    ±20-ish jump the fluent corpus never makes."""
    fluent = F.expr("transform(sequence(0, 39), i -> concat('w', pmod(id + i, 500)))")
    scrambled = F.expr(
        "transform(sequence(0, 39), i -> concat('w', pmod(id + "
        "CASE WHEN pmod(i, 2) = 0 THEN CAST(floor(i / 2) AS INT) "
        "ELSE 20 + CAST(floor((i - 1) / 2) AS INT) END, 500)))"
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.when(F.pmod("id", F.lit(10)) == 9, scrambled).otherwise(fluent)
        ).alias("text"),
    )


def write_lines(df, path: str) -> str:
    """Write a one-column ``value`` frame as 4 text files to replay."""
    df.repartition(4).write.mode("overwrite").text(path)
    return path


def csv_lines(*cols):
    return F.concat_ws(",", *[c.cast("string") for c in cols]).alias("value")


# --- batch rows -------------------------------------------------------------


@row
def hot_items_topn(spark, s, tmp):
    ev = synth_events(spark, size(s, EVENTS))
    yield lambda: topn.topn_counts_per_window(
        windows.windowed_count(ev, "ts", "1 hour", "15 minutes", keys=["user_id"]),
        "user_id", 5,
    )


@row
def uv_approx(spark, s, tmp):
    ev = synth_events(spark, size(s, EVENTS))
    yield lambda: windows.windowed_distinct(ev, "ts", "1 day", "user_id", approximate=True)


@row
def minhash_lsh(spark, s, tmp):
    docs = synth_docs(spark, size(s, DOCS))
    n_pairs = yield lambda: dedup.minhash_lsh_pairs(docs, threshold=0.5).count()
    return {"near_dup_pairs": n_pairs}


@row
def connected_components(spark, s, tmp):
    # diameter 9 forces multiple rounds
    n = size(s, DOCS)
    edges, nodes = chain_graph(spark, n)
    n_components = yield lambda: dedup.connected_components(edges, nodes).select(
        "cluster_id"
    ).distinct().count()
    assert n_components == n // 10, n_components


@row
def canonicalize(spark, s, tmp):
    # keep-best on planted clusters: the chain graph's n/10 clusters of
    # 10, and the quality column plants ONE known winner per cluster
    # (the member whose within-cluster offset equals cluster_index mod
    # 10), so the row checks EXACT keep-set recovery — winner identity,
    # not just row counts — of the labels->broadcast-join->rank pipeline
    n = size(s, DOCS)
    edges, nodes = chain_graph(spark, n)
    winner = F.pmod(F.col("doc_id"), F.lit(10)) == F.pmod(
        F.floor(F.col("doc_id") / 10), F.lit(10)
    )
    planted = F.when(winner, F.lit(1.0)).otherwise(F.lit(0.1))
    stats = yield lambda: dedup.canonicalize_clusters(
        nodes, edges, quality=planted
    ).filter("keep = 1").agg(
        F.count("*").alias("n"),
        F.sum((~winner).cast("int")).alias("wrong_winner"),
    ).collect()[0]
    assert stats.n == n // 10 and stats.wrong_winner == 0, tuple(stats)


@row
def cc_single_chain(spark, s, tmp):
    # pointer-jumping adversarial probe: ONE chain of 100k nodes —
    # diameter 10^5, the worst case for hash-to-min label propagation,
    # whose plain loop needs O(diameter) rounds and would hit ANY
    # practical round cap. Pointer jumping (L(v) <- L(L(v)) from round
    # 3 on) doubles label reach per round, so the loop must converge in
    # ~log2(10^5) ~ 17 jumping rounds; max_iter 25 makes the check
    # mechanical — without the shortcut join this raises the
    # non-convergence RuntimeError instead of passing slowly.
    n_chain = size(s, 100_000)
    chain_edges = spark.range(n_chain - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    chain_nodes = spark.range(n_chain).select(F.col("id").alias("doc_id"))
    n_comp = yield lambda: dedup.connected_components(
        chain_edges, chain_nodes, max_iter=25
    ).select("cluster_id").distinct().count()
    assert n_comp == 1, n_comp


@row
def span_dup_stats(spark, s, tmp):
    # ~2 docs per decade share most 10-token spans, so n_dup_spans must
    # be nonzero for at least the planted fraction; the explode volume
    # (~31 spans/doc) is the probe's real subject: the plan must stay
    # (hash, id, count) shuffles with no corpus-text movement
    n = size(s, DOCS)
    docs = synth_docs(spark, n)
    n_dup_docs = yield lambda: dedup.span_dup_stats(docs, n=10).filter(
        "n_dup_spans > 0"
    ).count()
    assert n_dup_docs >= n // 10, n_dup_docs  # every planted pair flagged


@row
def span_trim(spark, s, tmp):
    # the non-owner copy (doc 10k+9) must trim to NOTHING (all its spans
    # are owned by the lower id) while the owner keeps every token
    n = size(s, DOCS)
    docs = synth_docs(spark, n)
    n_emptied = yield lambda: dedup.trim_duplicated_spans(docs, n=10).filter(
        "pmod(doc_id, 10) = 9 AND n_removed_tokens = n_tokens"
    ).count()
    assert n_emptied == n // 10, n_emptied


@row
def incremental_dedup(spark, s, tmp):
    # the copies (pmod 9) as tonight's batch against everything else as
    # the reference puts every planted pair ACROSS the split: all n/10
    # batch docs must come back non-novel (identical docs collide in
    # every band — recall 1 at jaccard 1.0)
    n = size(s, DOCS)
    docs = synth_docs(spark, n)
    n_flagged = yield lambda: dedup.incremental_dedup(
        docs.filter("pmod(doc_id, 10) = 9"),
        docs.filter("pmod(doc_id, 10) != 9"),
        threshold=0.5,
    ).filter("is_novel = 0").count()
    assert n_flagged == n // 10, n_flagged


@row
def containment(spark, s, tmp):
    # every planted verbatim pair must surface with containment exactly
    # 1.0 — the Jaccard probe's bucket-pairing shape, so the timing
    # difference isolates the score change
    n = size(s, DOCS)
    docs = synth_docs(spark, n)
    n_full = yield lambda: dedup.containment_pairs(docs, threshold=0.6).filter(
        "pmod(id_a, 10) = 1 AND id_b = id_a + 8 AND containment = 1.0"
    ).count()
    assert n_full == n // 10, n_full


@row
def threshold_sweep(spark, s, tmp):
    # 11 grid rows, the t=0 row must account for every doc, and pass
    # counts must be monotone non-increasing in t (the suffix-sum
    # correctness at a scale where a bucket-boundary bug would show)
    n_docs = size(s, DOCS)
    docs = synth_docs(spark, n_docs)
    sweep = yield lambda: sorted(
        text.quality_threshold_sweep(docs, steps=10).collect(), key=lambda r: r.threshold
    )
    assert len(sweep) == 11 and sweep[0].n_docs_pass == n_docs
    assert all(
        a.n_docs_pass >= b.n_docs_pass and a.n_tokens_pass >= b.n_tokens_pass
        for a, b in zip(sweep, sweep[1:])
    )


@row
def semantic_dedup(spark, s, tmp):
    # SemDeDup with planted ground truth: groups of 10, each a
    # deterministic ±1/√64 base direction with member j flipping
    # component j — cos(member j>0, member 0) = 62/64 ≥ τ=0.9 (and
    # cross-member 60/64 also prunes, which is fine: members only ever
    # prune members) while cross-group cos needs 61-of-64 sign agreement
    # between independent ±1 directions (P ≈ 2.4e-15/pair — unreachable
    # at ~20M within-cell pairs; a dim-32 construction admitted genuine
    # 31/32 collisions at P ≈ 7.7e-9, which DID fire at 100k). So the
    # min-id survivor rule must NEVER prune a group head, and must prune
    # ~90% of the corpus — up to k-means cell straddle (a group split
    # across cells can't see all its prunes; measured straddle loss ≈ a
    # few %, the bound leaves margin).
    n_vecs = size(s, 100_000)
    emb = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), c -> "
            " CAST(pmod(xxhash64(floor(id / 10), c), 2) * 2 - 1 AS DOUBLE)"
            " * (CASE WHEN pmod(id, 10) > 0 AND c = pmod(id, 10) THEN -1.0 ELSE 1.0 END))"
        ).alias("embedding"),
    )
    sd_stats = yield lambda: similarity.semantic_dedup(emb, n_cells=256, threshold=0.9).agg(
        F.count("*").alias("n"),
        F.sum(((F.col("keep") == 0) & (F.pmod("vec_id", F.lit(10)) == 0)).cast("int")).alias(
            "pruned_heads"
        ),
        F.sum((F.col("keep") == 0).cast("int")).alias("pruned"),
    ).collect()[0]
    assert sd_stats.n == n_vecs and sd_stats.pruned_heads == 0, tuple(sd_stats)
    assert sd_stats.pruned >= 0.75 * (n_vecs * 9 // 10), sd_stats.pruned


@row
def doc_logprob(spark, s, tmp):
    # the synthetic vocab is 500 near-uniformly-used words, so every
    # doc's average negative log-prob must sit near ln(500) ~ 6.21. The
    # subject is the two-shuffle shape: one token groupBy for the LM,
    # one per-doc rollup, LM broadcast between them.
    n_docs = size(s, DOCS)
    docs = synth_docs(spark, n_docs)
    lp_stats = yield lambda: text.unigram_logprob(docs).agg(
        F.count("*").alias("n"), F.avg("avg_neg_logprob").alias("m")
    ).collect()[0]
    assert lp_stats.n == n_docs and 5.5 < lp_stats.m < 7.0, tuple(lp_stats)


@row
def source_overlap(spark, s, tmp):
    # 20 planted sources over ONE shared vocabulary: all 190 unordered
    # pairs must appear with nonzero jaccard. Times the per-shingle
    # collect_set + pair-explode shape; per-shingle state is bounded by
    # the source count. Full 190-pair saturation is a DENSITY property:
    # it holds from 50k docs (13 pairs were observed at 2,000), hence
    # the floor.
    sourced = synth_docs(spark, size(s, DOCS, floor=50_000)).withColumn(
        "source", F.concat(F.lit("src"), F.pmod(F.col("doc_id"), F.lit(20)))
    )
    ov = yield lambda: dedup.source_overlap_matrix(sourced).collect()
    assert all(r.jaccard > 0 for r in ov), "zero-jaccard pair emitted"
    assert len(ov) == 190, len(ov)


@row
def leakage_safe_split(spark, s, tmp):
    # every decade chain is one cluster, so all 10 members must
    # co-assign — zero pairs may straddle a split boundary — and the
    # three splits must all be non-empty. The labels are the row's
    # input; the split and its checks are timed.
    edges, nodes = chain_graph(spark, size(s, DOCS))
    cc = dedup.connected_components(edges, nodes)

    def split():
        sp = sampling.grouped_split(cc, "cluster_id")
        ed_a = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
        ed_b = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
        crossed = edges.join(ed_a, "id_a").join(ed_b, "id_b").filter("sa <> sb").count()
        return crossed, sp.select("split").distinct().count()

    crossed, n_splits = yield split
    assert crossed == 0 and n_splits == 3, (crossed, n_splits)


@row
def inverted_index(spark, s, tmp):
    # the explode-heavy retrieval shape (vocab 500, ~40 tokens/doc);
    # must stay explode/scan-bound, no driver collects
    n_docs = size(s, DOCS)
    docs = synth_docs(spark, n_docs)
    n_postings = yield lambda: text.inverted_index(docs, min_df=2).count()
    assert n_postings > n_docs, n_postings  # every doc posts >=1 shared term


@row
def bm25_search(spark, s, tmp):
    # two narrow passes + a broadcast stats row
    docs = synth_docs(spark, size(s, DOCS))
    hits = yield lambda: text.bm25_search(docs, ["w1", "w2", "w3"], k=10).collect()
    assert len(hits) == 10 and all(r.score > 0 for r in hits), hits


# Fuzzy-linkage hot-block probe: 20% of the catalog shares one first
# token — the block-quadratic shape the operator docstring warns about
# (H = n/5 rows -> ~H² = 100M raw candidates at 50k). Two regimes:
# - OUT-OF-BAND candidate mass (join output discarded by the
#   length-band filter): max_block folds the band into the join key,
#   removing it losslessly — the catalog plants lengths in steps of 4
#   (> max_dist), so nearly all candidates are out-of-band and the
#   cap's saving is the observable (the ratio grows with H, since
#   uncapped mass is H² vs capped H²/buckets). The cap is scaled with
#   the catalog so it arms at every scale.
# - IN-BAND verify mass (pairs the band admits): irreducible under ANY
#   lossless refinement; the blocking key's selectivity is the only
#   lever (which is why fuzzy_part_matches uses a composite key AND
#   arms max_block).
# The capped row checks the capped pair set is IDENTICAL in size (the
# lossless claim of test_fuzzy_match_pairs_hot_block_cap_is_lossless,
# at scale). The wall ratio is reported in the summary line, not
# asserted: wall ratios flap with ambient load.


@row
def fuzzy_hot_block_uncapped(spark, s, tmp):
    catalog = hot_block_catalog(spark, size(s, 50_000))
    yield lambda: joins.fuzzy_match_pairs(catalog, "id", "name").count()


@row
def fuzzy_hot_block_capped(spark, s, tmp):
    catalog = hot_block_catalog(spark, size(s, 50_000))
    n_capped = yield lambda: joins.fuzzy_match_pairs(
        catalog, "id", "name", max_block=size(s, 1000)
    ).count()
    n_uncapped = joins.fuzzy_match_pairs(catalog, "id", "name").count()
    assert n_capped == n_uncapped, (n_capped, n_uncapped)


@row
def aqe_skew_join(spark, s, tmp):
    # README's "residual join skew by AQE skew-join" claim, demonstrated
    # rather than asserted. A planted 30%-hot key forces one reduce
    # partition to dwarf the rest in a fact-fact SMJ (broadcast
    # disabled); the FINAL adaptive plan must carry the skew=true split
    # marker. The partition count is pinned: with 4-8 partitions the hot
    # partition is only ~2.7x the median, under AQE's factor of 5. Skew
    # thresholds scale with the row's size. The tiny post-join filter
    # keeps the collect driver-safe while executing through the SAME
    # QueryExecution — a noop write would finalize a different one and
    # never show the adaptive plan. Its modulus m (a multiple of 10,
    # coprime to 3) is a fifth of the rows, so exactly 5 ids (id ≡
    # 7/3 mod m, none hot) pass.
    m = size(s, 1_000_000)
    m += 10 * (m % 3 == 0)
    threshold = (1 << 20) * m // 1_000_000
    pinned = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(threshold),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(threshold // 2),
    }
    saved = {k: spark.conf.get(k, None) for k in pinned}
    try:
        for k, v in pinned.items():
            spark.conf.set(k, v)
        sa = spark.range(5 * m).select(
            F.when(F.pmod("id", F.lit(10)) < 3, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("va"),
        )
        sb = spark.range(5 * m).select(F.col("id").alias("k"), (F.col("id") * 2).alias("vb"))
        sj = sa.join(sb, "k").filter((F.col("va") + F.col("vb")) % m == 7)
        skew_rows = yield sj.collect
        skew_plan = sj._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in skew_plan
        assert "skew=true" in skew_plan, "AQE skew split did not engage"
        assert len(skew_rows) == 5, len(skew_rows)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@row
def misra_gries(spark, s, tmp):
    # Misra-Gries at cardinality the exact groupBy would choke on: the
    # PODS'12 guarantees at scale — the mega-keys (each > n/(k+1)) all
    # survive and no estimate violates the n/(k+1) undercount bound
    n_events = size(s, EVENTS)
    toks = mega_tokens(spark, n_events)
    rows = yield lambda: sketches.misra_gries(toks, "tok", k=16).collect()
    sketch = {r["item"]: r["est"] for r in rows}
    exact = exact_mega(toks)
    for m in MEGA:
        assert m in sketch, (m, sorted(sketch))
        assert sketch[m] <= exact[m]
        assert (exact[m] - sketch[m]) * 17 <= n_events, (m, sketch[m], exact[m])


@row
def count_min(spark, s, tmp):
    # the whole shuffle is the <= d*w counter frame (32k keys at
    # 4x8192) regardless of the 1M-key space. Checks the one-sided
    # guarantee (never undercounts) and a 4N/w overcount ceiling on the
    # mega-keys — each of the 4 rows exceeds 4x its mean collision mass
    # with prob ~1/4, all four simultaneously ~(1/4)^4.
    n_events = size(s, EVENTS)
    toks = mega_tokens(spark, n_events)
    cms_w, cms_d = 8192, 4

    def estimate():
        cms = sketches.count_min_sketch(toks, "tok", cms_w, cms_d)
        mega_df = spark.createDataFrame([(m,) for m in MEGA], "tok string")
        return sketches.cms_estimate(cms, mega_df, "tok", cms_w, cms_d).collect()

    ests = {r["tok"]: r["est_c"] for r in (yield estimate)}
    exact = exact_mega(toks)
    for m in MEGA:
        assert ests[m] >= exact[m], (m, ests[m], exact[m])
        assert ests[m] - exact[m] <= 4 * n_events // cms_w, (m, ests[m], exact[m])


@row
def kmv(spark, s, tmp):
    # the threshold prefilter must leave only O(k) survivors per set for
    # the window sort (the scale path), the estimate must land within
    # 5.6 sigma (~50%) of the exact countDistinct, and a below-k set
    # stays EXACT
    kmv_k = 128
    sets = spark.range(size(s, EVENTS)).select(
        F.when(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(100)) < 1, F.lit("small"))
        .otherwise(F.lit("big"))
        .alias("s"),
        F.when(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(100)) < 1,
               F.pmod(F.xxhash64("id", F.lit(8)), F.lit(50)))
        .otherwise(F.pmod(F.xxhash64("id", F.lit(9)), F.lit(1_000_000)))
        .cast("string")
        .alias("v"),
    )
    rows = yield lambda: sketches.kmv_estimate(
        sketches.kmv_minima(sets, "s", "v", kmv_k), kmv_k
    ).collect()
    kmv_est = {r["s"]: r["est"] for r in rows}
    exact_kmv = {
        r["s"]: r["c"]
        for r in sets.groupBy("s").agg(F.countDistinct("v").alias("c")).collect()
    }
    assert kmv_est["small"] == exact_kmv["small"], (kmv_est, exact_kmv)
    rel = abs(kmv_est["big"] - exact_kmv["big"]) / exact_kmv["big"]
    assert rel < 0.5, (kmv_est["big"], exact_kmv["big"], rel)


@row
def kmv_pair_intersections(spark, s, tmp):
    # planted overlap: a = [0, 0.6n), b = [0.4n, n) -> |a∩b| = 0.2n,
    # |a∪b| = n (Jaccard 0.2), plus two below-k sets overlapping on 15
    # values (exact path). The pair computation consumes ONLY the k-row
    # sketches, which are materialized as the row's input: timing
    # kmv_minima would charge the corpus scan to the pair algebra.
    kmv_k, n = 128, size(s, 1_000_000)
    lo, hi = n * 4 // 10, n * 6 // 10
    ab = spark.range(n).select(
        F.when(F.col("id") < hi, F.lit("a")).otherwise(F.lit("b")).alias("s"),
        F.col("id").cast("string").alias("v"),
    ).unionByName(
        spark.range(lo, hi).select(F.lit("b").alias("s"), F.col("id").cast("string").alias("v"))
    ).unionByName(
        spark.range(40).select(F.lit("c").alias("s"), F.col("id").cast("string").alias("v"))
    ).unionByName(
        spark.range(25, 65).select(F.lit("d").alias("s"), F.col("id").cast("string").alias("v"))
    )
    pair_minima = sketches.kmv_minima(ab, "s", "v", kmv_k).persist()
    pair_minima.count()
    rows = yield lambda: sketches.kmv_pair_intersections(pair_minima, kmv_k).collect()
    got_pairs = {(r["set_a"], r["set_b"]): r for r in rows}
    exact_small = got_pairs[("c", "d")]
    assert (exact_small["est_union"], exact_small["est_intersection"]) == (65, 15), (
        tuple(exact_small)
    )
    # exact differences: c = 0..39, d = 25..64 -> 25 on each side
    assert (exact_small["est_a_minus_b"], exact_small["est_b_minus_a"]) == (25, 25), (
        tuple(exact_small)
    )
    big = got_pairs[("a", "b")]
    assert abs(big["est_union"] - n) / n < 0.5, tuple(big)
    assert abs(big["est_intersection"] - (hi - lo)) / (hi - lo) < 0.6, tuple(big)
    # planted differences: a\b = [0, 0.4n), b\a = [0.6n, n)
    assert abs(big["est_a_minus_b"] - lo) / lo < 0.6, tuple(big)
    assert abs(big["est_b_minus_a"] - (n - hi)) / (n - hi) < 0.6, tuple(big)


@row
def pagerank(spark, s, tmp):
    # hub graph: hubs every 100 ids, each the center of a 99-leaf star
    # (leaves point only at their hub, hubs chain hub -> next hub so
    # mass circulates among hubs and never returns to a leaf). Ground
    # truth is a total order: every leaf's rank is EXACTLY the teleport
    # floor (no in-edges), every hub collects 99 leaf contributions and
    # must out-rank every leaf; floor-division-only arithmetic can lose
    # mass, never mint it.
    n_nodes = size(s, 100_000, step=100)
    pr_unit = 1_000_000_000
    teleport_floor = 15 * (pr_unit // n_nodes) // 100
    hubs = spark.range(n_nodes).filter(F.pmod("id", F.lit(100)) == 0)
    leaves = spark.range(n_nodes).filter(F.pmod("id", F.lit(100)) != 0)
    hub_of = (F.col("id") - F.pmod("id", F.lit(100))).alias("hub")
    pr_edges = leaves.select(
        F.col("id").alias("src"), hub_of.alias("dst"), F.lit(1).alias("w")
    ).unionByName(
        hubs.select(
            F.col("id").alias("src"),
            F.pmod(F.col("id") + 100, F.lit(n_nodes)).alias("dst"),
            F.lit(1).alias("w"),
        )
    )
    pr_nodes = spark.range(n_nodes).select(F.col("id"))
    is_hub = F.pmod("node", F.lit(100)) == 0
    stats = yield lambda: graph.pagerank(pr_edges, pr_nodes, "id", iterations=12).select(
        F.min(F.when(is_hub, F.col("rank_e9"))).alias("hub_min"),
        F.max(F.when(~is_hub, F.col("rank_e9"))).alias("leaf_max"),
        F.min(F.when(~is_hub, F.col("rank_e9"))).alias("leaf_min"),
        F.sum("rank_e9").alias("mass"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert stats.n == n_nodes
    assert stats.leaf_min == stats.leaf_max == teleport_floor, tuple(stats)
    assert stats.hub_min > stats.leaf_max, (stats.hub_min, stats.leaf_max)
    assert stats.mass <= pr_unit, stats.mass


@row
def mmr_rerank(spark, s, tmp):
    # a 200-query batch against a corpus of fresh pseudo-random
    # directions: the greedy is per-query-parallel, so wall time should
    # track the brute-force candidate stage, not k x Q
    # at least the 200 query ids, with room for 40 candidates each
    vecs = spark.range(size(s, 100_000, floor=1000)).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), j -> CAST(pmod(xxhash64(concat(CAST(id AS STRING), "
            "'|', CAST(j AS STRING))), 1000) AS FLOAT) / 1000.0 - 0.5)"
        ).alias("embedding"),
    )
    mmr_rows = yield lambda: similarity.mmr_rerank(
        vecs.filter(F.col("vec_id") < 200), vecs, k=8, n_candidates=40
    ).count()
    assert mmr_rows == 200 * 8, mmr_rows


@row
def bigram_logprob(spark, s, tmp):
    # PERFECT SEPARATION — every scrambled doc scores above every fluent
    # doc — which is exactly the signal the unigram operator cannot
    # produce (identical bags score identically there)
    docs = lm_docs(spark, 2 * size(s, DOCS))
    sep = yield lambda: text.bigram_logprob(docs).select(
        F.min(
            F.when(F.pmod("doc_id", F.lit(10)) == 9, F.col("avg_neg_logprob"))
        ).alias("min_scrambled"),
        F.max(
            F.when(F.pmod("doc_id", F.lit(10)) != 9, F.col("avg_neg_logprob"))
        ).alias("max_fluent"),
    ).collect()[0]
    assert sep.min_scrambled > sep.max_fluent, tuple(sep)


@row
def classifier_score(spark, s, tmp):
    # the integer-exact contract holds at scale: scores in (0,1), every
    # doc scored
    n_lm = 2 * size(s, DOCS)
    docs = lm_docs(spark, n_lm)
    clf = yield lambda: text.classifier_score(docs).agg(
        F.count("*").alias("n"),
        F.min("clf_score").alias("lo"),
        F.max("clf_score").alias("hi"),
    ).collect()[0]
    assert clf.n == n_lm and 0.0 < clf.lo <= clf.hi < 1.0, tuple(clf)


@row
def vocab_coverage(spark, s, tmp):
    # the synthetic vocabulary is exactly w0..w499, so against
    # vocab_size=500 every 7th doc's planted unique token is the ONLY
    # out-of-vocabulary occurrence in the corpus
    n_lm = 2 * size(s, DOCS)
    oov_docs = lm_docs(spark, n_lm).select(
        "doc_id",
        F.when(
            F.pmod("doc_id", F.lit(7)) == 0,
            F.concat("text", F.lit(" zqx"), F.col("doc_id").cast("string")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    oov = yield lambda: text.vocab_coverage(oov_docs, vocab_size=500).agg(
        F.sum("n_oov").alias("total_oov"),
        F.sum((F.col("n_oov") > 0).cast("int")).alias("docs_with_oov"),
    ).collect()[0]
    n_planted = (n_lm + 6) // 7
    assert (oov.total_oov, oov.docs_with_oov) == (n_planted, n_planted), tuple(oov)


@row
def fuzzy_link(spark, s, tmp):
    # blocked fuzzy linkage, n/2 blocks: each block holds exactly one
    # planted pair one edit apart ('mk one' vs 'mk ones'), so the exact
    # pair set is known — n/2 pairs, every distance 1, zero cross-block
    # leakage
    n_link = size(s, 200_000)
    catalog = spark.range(n_link).select(
        F.col("id").alias("rec_id"),
        F.concat(
            F.lit("prod"),
            F.floor(F.col("id") / 2).cast("string"),
            F.when(F.pmod("id", F.lit(2)) == 0, F.lit(" mk one")).otherwise(
                F.lit(" mk ones")
            ),
        ).alias("name"),
    )
    linked = yield lambda: joins.fuzzy_match_pairs(catalog, "rec_id", "name", max_dist=2).agg(
        F.count("*").alias("n"), F.max("lev_dist").alias("dmax")
    ).collect()[0]
    assert (linked.n, linked.dmax) == (n_link // 2, 1), tuple(linked)


@row
def hashed_embed_dedup(spark, s, tmp):
    # the no-model compose path: text -> hashed embeddings -> SRP
    # blocking -> blocked cosine pairs. The planted near-dup pairs have
    # IDENTICAL token bags, so their hashed embeddings are bit-identical
    # (integer sums), land in the same SRP bucket by construction, and
    # must come back at cosine 1.0 — while two random 40-token draws
    # from a 500-token vocabulary share far too little to cross 0.95.
    n_docs = size(s, DOCS)
    docs = synth_docs(spark, n_docs)

    def pairs():
        hashed = text.hashed_doc_embedding_vec(docs, dim=64)
        # persisted (the doc_semantic_pairs production pattern): the pair
        # join consumes it on both sides. 12 planes (4096 buckets), not
        # the query's 8: bucket granularity is THE quadratic-term lever —
        # 256 buckets over 100k docs means ~390-doc blocks and ~20M
        # cosine pairs, 4096 buckets ~24-doc blocks and ~1M pairs.
        # Identical-embedding pairs collide at any plane count.
        blocked = similarity.srp_bucket(hashed, "doc_id", "embedding", n_planes=12).persist()
        return dedup.embedding_cosine_pairs(
            blocked, "doc_id", "v", block_col="bucket", threshold=0.95
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    (F.pmod("id_a", F.lit(10)) == 1)
                    & (F.col("id_b") == F.col("id_a") + 8)
                    & (F.col("cosine") == 1.0)
                ).cast("int")
            ).alias("n_planted"),
        ).collect()[0]

    pair_stats = yield pairs
    assert pair_stats.n == pair_stats.n_planted == n_docs // 10, tuple(pair_stats)


@row
def value_drift_psi(spark, s, tmp):
    # one event type's value distribution jumps between stream halves
    # (planted), the rest are stationary by construction — the planted
    # type must clear the 0.25 alarm line and every stationary type must
    # sit under 0.01. The events table is the row's input directory.
    synth_events(spark, size(s, EVENTS)).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.when(
            (F.col("event_type") == "error")
            & (F.unix_timestamp("ts") >= F.lit(BASE_TS + 302_400)),
            F.lit(450.0) + F.pmod(F.xxhash64("event_id"), F.lit(50)).cast("double"),
        )
        .otherwise(F.pmod(F.xxhash64("event_id", F.lit(3)), F.lit(100)).cast("double"))
        .alias("value"),
        F.lit("").alias("props"),
    ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
    rows = yield lambda: psi_query(spark, tmp).collect()
    psi_rows = {r.event_type: r.psi for r in rows}
    assert psi_rows["error"] > 0.25, psi_rows
    assert all(v < 0.01 for t, v in psi_rows.items() if t != "error"), psi_rows


@row
def resample_ffill(spark, s, tmp):
    # the grid is resolution-bounded, not corpus-bounded: events collapse
    # onto 1000 keys x 1-min buckets over the week (~10.08M grid rows —
    # at 10M events the same order as the input, the worst honest ratio
    # for this operator). Key 0 is removed and replanted as a SINGLE
    # observation (value 42) at the stream's first instant — its entire
    # remaining grid must come back 0-count with 42.0 carried forward
    # and a gap that grows to the full week (~10k buckets), probing the
    # ffill window across a maximal gap.
    planted = spark.range(1).select(
        F.lit(0).cast("long").alias("gkey"),
        F.timestamp_seconds(F.lit(BASE_TS)).alias("ts"),
        F.lit(42.0).alias("gv"),
    )
    # all 1000 hash keys materialize from 100k events on (~100 a key)
    tev = synth_events(spark, size(s, EVENTS, floor=100_000)).select(
        F.pmod(F.xxhash64("event_id", F.lit(7)), F.lit(1000)).alias("gkey"),
        "ts",
        (F.pmod(F.xxhash64("event_id", F.lit(8)), F.lit(1000)) / 100.0).alias("gv"),
    ).filter(F.col("gkey") != 0).unionByName(planted)
    agg = yield lambda: timeseries.resample_ffill(tev, "gkey", "ts", "gv", 60).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("gkey") == 0, 1).otherwise(0)).alias("k0_rows"),
        F.sum(F.when((F.col("gkey") == 0) & (F.col("cnt") == 0), 1).otherwise(0)).alias("k0_empty"),
        F.max(F.when(F.col("gkey") == 0, F.col("gap_buckets"))).alias("k0_gap"),
        F.min(F.when((F.col("gkey") == 0) & (F.col("cnt") == 0), F.col("filled_avg"))).alias("k0_fill_min"),
        F.max(F.when((F.col("gkey") == 0) & (F.col("cnt") == 0), F.col("filled_avg"))).alias("k0_fill_max"),
    ).collect()[0]
    # the planted observation sits in the global FIRST bucket, so key
    # 0's grid = 1 observed + (n_buckets - 1) empty, gap peaking at
    # n_buckets - 1, and the carried mean is exactly 42.0 throughout.
    # Bucket count comes from key 0's own rows; rows = keys x buckets.
    n_buckets = agg["k0_rows"]
    assert n_buckets > 0 and agg["rows"] % n_buckets == 0, (agg["rows"], n_buckets)
    assert agg["rows"] == n_buckets * 1000, agg["rows"]
    assert agg["k0_empty"] == n_buckets - 1
    assert agg["k0_gap"] == n_buckets - 1, agg["k0_gap"]
    assert agg["k0_fill_min"] == agg["k0_fill_max"] == 42.0


@row
def zorder_locality(spark, s, tmp):
    # a known 4096 x 2048 grid: the key is a pure codegen expression
    # against broadcast bounds, so wall time must track the scan, and
    # the geometry is exact — 64 buckets over 12+11 interleaved bits
    # carve tiles bounded by 512 x 512 (z-curve runs, not perfect
    # squares, but each bucket's extent is <= 2 tiles per dim); the 1-D
    # baseline's second dim would span the full 2048
    n_events = size(s, EVENTS)
    zdf = spark.range(n_events).select(
        F.pmod(F.xxhash64("id", F.lit(11)), F.lit(4096)).alias("zx"),
        F.pmod(F.xxhash64("id", F.lit(12)), F.lit(2048)).alias("zy"),
    )
    zrows = yield lambda: layout.zorder_locality(zdf, ["zx", "zy"], bits=12, n_buckets=64).collect()
    assert sum(r["n_rows"] for r in zrows) == n_events
    for r in zrows:
        assert r["max_zx"] - r["min_zx"] <= 1024, dict(r.asDict())
        assert r["max_zy"] - r["min_zy"] <= 1024, dict(r.asDict())


@row
def t_closeness_skew(spark, s, tmp):
    # one quasi class carries 90% of the audit (the boilerplate-source
    # shape the docstring's skew claim is about: nothing after the
    # (class, value) cell agg is row-bounded — cells are <= 101 classes
    # x 32 values, so the wall must track the one scan+shuffle). Ids
    # arrive in blocks of 32 consecutive values, every block
    # contributing one full uniform pass over the value domain to its
    # class, so EVERY class's distribution equals the global uniform and
    # both distances are exactly 0.0 for all classes — keep-all,
    # bit-exact. A multiple of 320 rows makes the blocks divide by 10.
    n_tc = size(s, EVENTS, step=320)
    blk = F.floor(F.col("id") / 32)
    tdf = spark.range(n_tc).select(
        F.when(F.pmod(blk, 10) < 9, F.lit("mega"))
        .otherwise(F.concat(F.lit("c"), F.pmod(F.floor(blk / 10), 100).cast("string")))
        .alias("q"),
        F.pmod("id", F.lit(32)).alias("v"),
    )
    trows = yield lambda: sampling.t_closeness(tdf, ["q"], "v", t=0.2).collect()
    # mega + min(blocks/10, 100) tail classes: 101 at 10M rows
    n_classes = 1 + min(n_tc // 32 // 10, 100)
    assert len(trows) == n_classes, (len(trows), n_classes)
    assert sum(r["class_size"] for r in trows) == n_tc
    mega = next(r for r in trows if r["q"] == "mega")
    assert mega["class_size"] == n_tc * 9 // 10, mega["class_size"]
    assert all(
        r["t_tvd"] == 0.0 and r["t_emd"] == 0.0 and r["keep"] == 1
        for r in trows
    ), [r for r in trows if r["keep"] != 1][:3]


@row
def media_phash_dedup(spark, s, tmp):
    # 128-byte pseudo-random payloads, doc 10k+9 a VERBATIM byte copy of
    # doc 10k+1 — so exactly n/10 Hamming-0 pairs are planted, and a
    # random cross-pair needs a 64-bit hash within Hamming 3 of another
    # (P ~ 2.4e-15/pair: unreachable at ~1e9 pairs). The EXACT pair set
    # exercises both pigeonhole completeness (no planted pair missed)
    # and bucket precision (no phantom pair); the timing's subject is
    # the single payload-hash pass + chunk-bucket join.
    n_docs = size(s, DOCS)
    media = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.encode(
            F.expr(
                "concat_ws('', transform(sequence(0, 127), c -> "
                "char(32 + pmod(xxhash64(id - CASE WHEN pmod(id, 10) = 9 "
                "THEN 8 ELSE 0 END, c), 95))))"
            ),
            "UTF-8",
        ).alias("payload"),
    )
    # one execution for both numbers: only the signature table is
    # persisted inside phash_pairs, so a second action would re-run the
    # chunk-bucket join
    ph_stats = yield lambda: multimodal.phash_pairs(media, max_hamming=3).agg(
        F.count("*").alias("n_pairs"),
        F.sum(
            (
                ~F.expr("pmod(id_a, 10) = 1 AND id_b = id_a + 8 AND hamming = 0")
            ).cast("int")
        ).alias("bad"),
    ).collect()[0]
    assert (ph_stats.bad or 0) == 0 and ph_stats.n_pairs == n_docs // 10, tuple(ph_stats)


# --- stream rows --------------------------------------------------------------


class PeakState(StreamingQueryListener):
    """State-store peaks (rows and bytes, over every state operator) of
    one query, from its per-trigger progress records. Scanning
    ``q.recentProgress`` after termination would be lossy: Spark keeps
    only spark.sql.streaming.numRecentProgressUpdates (~100) entries,
    fewer than a long availableNow replay's triggers."""

    def __init__(self) -> None:
        self.peak = {"peak_state_rows": 0, "peak_state_bytes": 0}
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        for so in json.loads(event.progress.json).get("stateOperators", []):
            self.peak["peak_state_rows"] = max(self.peak["peak_state_rows"], so.get("numRowsTotal", 0))
            self.peak["peak_state_bytes"] = max(
                self.peak["peak_state_bytes"], so.get("memoryUsedBytes", 0)
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.set()


def replay(spark, stream, tmp: str) -> dict:
    """Run ``stream`` (a streaming DataFrame, into the noop sink, or a
    configured writer) to completion under availableNow on the
    checkpoint ``tmp``/ckpt and return its state-store peaks. A query
    still running after 600 s is stopped and fails the row: it must
    neither record 600 s as a datapoint nor run on under later rows."""
    if isinstance(stream, DataFrame):
        stream = stream.writeStream.outputMode("append").format("noop")
    listener = PeakState()
    spark.streams.addListener(listener)
    try:
        q = (
            stream.option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(f"stream on {tmp} still running after 600 s")
        # progress events arrive on the listener's thread; the terminated
        # event is the last, so every progress update has been folded in
        listener.terminated.wait(30)
    finally:
        spark.streams.removeListener(listener)
    return listener.peak


def manifest_sink(peak: dict):
    """foreachBatch sink recording the largest emitted frame: a
    monitor's whole driver-side state. Sink failures are kept in
    ``peak["err"]`` for the row's check."""

    def sink(df, epoch_id: int) -> None:
        try:
            peak["manifest_rows"] = max(peak.get("manifest_rows", 0), df.count())
        except Exception as exc:
            peak["err"] = repr(exc)

    return sink


@row
def login_fail_stream(spark, s, tmp):
    # 200 users, ~75% fails, 200 events/s -> long fail chains
    src = write_lines(spark.range(size(s, STREAM)).select(csv_lines(
        F.pmod("id", F.lit(200)),
        F.lit("ip"),
        F.when(F.pmod(F.xxhash64("id"), F.lit(4)) == 0, "success").otherwise("fail"),
        F.lit(BASE_TS) + (F.col("id") / 200).cast("long"),
    )), os.path.join(tmp, "login"))
    stream = csv_replay_source(spark, src, LOGIN_EVENT).withWatermark("ts", "1 second")
    return (yield lambda: replay(spark, stateful.login_fail_stream(stream, max_gap_s=2), tmp))


def order_lines(spark, n: int):
    """n/2 order ids: even ids create+pay, odd ids create only (they time
    out when the watermark passes create_ts + 900)."""
    ids = spark.range(n)
    creates = ids.filter(F.pmod("id", F.lit(2)) == 0).select(csv_lines(
        (F.col("id") / 2).cast("long"),
        F.lit("create"),
        F.lit(""),
        F.lit(BASE_TS) + (F.col("id") / 100).cast("long"),
    ))
    pays = ids.filter(F.pmod("id", F.lit(4)) == 1).select(csv_lines(
        ((F.col("id") - 1) / 2).cast("long"),
        F.lit("pay"),
        F.concat(F.lit("tx"), F.col("id").cast("string")),
        F.lit(BASE_TS) + (F.col("id") / 100).cast("long") + 30,
    ))
    return creates.union(pays)


@row
def order_timeout_stream(spark, s, tmp):
    src = write_lines(order_lines(spark, size(s, STREAM)), os.path.join(tmp, "orders"))
    stream = csv_replay_source(spark, src, ORDER_EVENT).withWatermark("ts", "1 second")
    return (yield lambda: replay(spark, stateful.order_timeout_stream(stream, timeout_s=900), tmp))


@row
def order_timeout_steady_stream(spark, s, tmp):
    # steady state: n/2 orders within one 900 s timeout, three quarters
    # never paid (~3n/8 pending at once), replayed as the row's input;
    # then 20 micro-batches of 200 orders (one file per trigger) on the
    # same checkpoint. Only those 20 are timed: each carries the whole
    # pending set while touching few of its keys.
    n = size(s, STREAM)
    src = os.path.join(tmp, "steady")
    os.makedirs(src)
    rate = n / 2 / 900  # creates per event-second

    def steady_file(name: str, ids: range, mtime: int) -> None:
        path = os.path.join(src, name)
        with open(path, "w") as f:
            for i in ids:
                ts = BASE_TS + int(i / rate)
                f.write(f"{i},create,,{ts}\n")
                if i % 4 == 1:  # a quarter pay 30 s later
                    f.write(f"{i},pay,tx{i},{ts + 30}\n")
        os.utime(path, (mtime, mtime))

    steady_file("backlog.csv", range(n // 2), 1)
    stream = csv_replay_source(
        spark, src, ORDER_EVENT, max_files_per_trigger=1
    ).withWatermark("ts", "1 second")
    steady = stateful.order_timeout_stream(stream, timeout_s=900)
    replay(spark, steady, tmp)
    for b in range(20):
        lo = n // 2 + 200 * b
        steady_file(f"b{b:02d}.csv", range(lo, lo + 200), 2 + b)
    return (yield lambda: replay(spark, steady, tmp))


@row
def tx_match_stream(spark, s, tmp):
    # half the txs get a receipt 5 s later
    n = size(s, STREAM)
    txo = write_lines(spark.range(n // 2).select(csv_lines(
        F.col("id"),
        F.lit("pay"),
        F.concat(F.lit("tx"), F.col("id").cast("string")),
        F.lit(BASE_TS) + (F.col("id") / 100).cast("long"),
    )), os.path.join(tmp, "txo"))
    txr = write_lines(spark.range(n // 2).filter(F.pmod("id", F.lit(2)) == 0).select(csv_lines(
        F.concat(F.lit("tx"), F.col("id").cast("string")),
        F.lit("wechat"),
        F.lit(BASE_TS) + (F.col("id") / 100).cast("long") + 5,
    )), os.path.join(tmp, "txr"))
    orders = csv_replay_source(spark, txo, ORDER_EVENT).withWatermark("ts", "1 second")
    receipts = csv_replay_source(spark, txr, RECEIPT_EVENT).withWatermark("ts", "1 second")
    return (yield lambda: replay(spark, stateful.tx_match_stream(orders, receipts), tmp))


@row
def blacklist_stream(spark, s, tmp):
    # 100 users x 10 ads = 1000 keys, ~100 clicks per (user, ad) ->
    # threshold=100 exercises the warn-once transition. ad must be an
    # INDEPENDENT residue: id % 10 is fully determined by id % 100,
    # which would collapse the keyspace to 100 keys at 10x the density.
    src = write_lines(spark.range(size(s, STREAM)).select(csv_lines(
        F.pmod("id", F.lit(100)),
        F.pmod(F.xxhash64("id"), F.lit(10)),
        F.lit("p"),
        F.lit("c"),
        F.lit(BASE_TS) + (F.col("id") / 1000).cast("long"),
    )), os.path.join(tmp, "clicks"))
    clicks = csv_replay_source(spark, src, AD_CLICK).withWatermark("ts", "1 second")
    return (yield lambda: replay(spark, stateful.blacklist_stream(clicks, threshold=100), tmp))


@row
def dedup_stream(spark, s, tmp):
    # exact streaming dedup (dropDuplicatesWithinWatermark): every key
    # delivered twice 1 s apart -> n/2 survivors; state = the
    # per-key-hash dedup store the watermark evicts
    n = size(s, STREAM)
    src = write_lines(spark.range(n).select(csv_lines(
        F.pmod("id", F.lit(n // 2)),
        F.lit("ip"),
        F.lit("fail"),
        F.lit(BASE_TS)
        + (F.pmod("id", F.lit(n // 2)) / 200).cast("long")
        + F.when(F.col("id") >= n // 2, 1).otherwise(0),
    )), os.path.join(tmp, "dedup"))
    stream = csv_replay_source(spark, src, LOGIN_EVENT)
    return (yield lambda: replay(
        spark, jobs.dedup_stream(stream, ["user_id"], delay="10 seconds"), tmp
    ))


@row
def session_stats_stream(spark, s, tmp):
    # native session windows (session_window merge state): 2000 users,
    # 5-event sessions at 60 s spacing separated by 1 h gaps; the
    # watermark closes sessions as the replay advances, so peak state =
    # concurrently-open sessions, not total sessions
    seq = (F.col("id") / 2000).cast("long")
    src = write_lines(spark.range(size(s, STREAM)).select(csv_lines(
        F.pmod("id", F.lit(2000)),
        F.lit("ip"),
        F.lit("fail"),
        F.lit(BASE_TS) + (seq / 5).cast("long") * 3600 + F.pmod(seq, F.lit(5)) * 60,
    )), os.path.join(tmp, "sessions"))
    stream = csv_replay_source(spark, src, LOGIN_EVENT)
    return (yield lambda: replay(
        spark, jobs.session_stats_stream(stream, gap="10 minutes", delay="1 second"), tmp
    ))


# foreachBatch monitors: state lives driver-side as a sketch, so the
# metric is the PEAK EMITTED MANIFEST (rows = the whole driver state),
# not stateOperators. The input is 4 files replayed one per trigger ->
# 4 micro-batches, so the driver-side merge path runs. Skewed keys in
# the ip column: 20 hot keys carry ~30% of the stream, the tail spreads
# over ~50k keys — the regime where exact per-key counting state would
# be 50k rows but the MG/CM sketches stay at k / depth*width entries.
MONITORS = {
    "heavy_hitters_stream": lambda s, sink: jobs.heavy_hitters_stream(s, sink, col="ip", k=16),
    "cms_stream": lambda s, sink: jobs.cms_stream(
        s, sink, col="ip", watch=[f"k{i}" for i in range(20)], width=512, depth=4,
    ),
    "reservoir_stream": lambda s, sink: jobs.reservoir_stream(
        s, sink, id_col="user_id",
        weight_sql="CAST(pmod(user_id, 97) + 1 AS DOUBLE)",
        stratum_col="login_state", m=64,
    ),
    "kmv_stream": lambda s, sink: jobs.kmv_stream(
        s, sink, set_col="login_state", val_sql="CAST(user_id AS STRING)", k=128,
    ),
    # quantiles of a numeric stream per set: user_id mod 997 as the
    # value domain (the ~uniform shape the batch rollup's rank-bound
    # pytest plants)
    "kll_stream": lambda s, sink: jobs.kll_stream(
        s.withColumn("v", F.pmod("user_id", F.lit(997)).cast("double")),
        sink, set_col="login_state", val_col="v", k=200,
    ),
    # an 8-dim vector synthesized from the user id, so the explode+sum
    # path runs at stream volume; state = 2 strata x 8 dims of long pairs
    "centroid_drift_stream": lambda s, sink: jobs.centroid_drift_stream(
        s.withColumn(
            "embedding",
            F.expr(
                "transform(sequence(0, 7), j -> CAST(pmod(xxhash64("
                "user_id, j), 200) AS FLOAT) / 100.0 - 1.0)"
            ),
        ),
        sink, group_col="login_state",
    ),
    # the ingest-contract monitor: one distributed agg per micro-batch,
    # driver state = one number per counter
    "dq_monitor_stream": lambda s, sink: jobs.dq_monitor_stream(
        s, sink,
        spec=(
            ("completeness", "user_id"),
            ("completeness", "login_state"),
            ("min", "user_id", 0.0),
            ("max", "user_id", 1e12),
            ("accepted", "login_state", ("fail", "success")),
        ),
    ),
    # the privacy-gate monitor: user_id mod 20 as the band domain,
    # driver state = 2 classes x 20 bands of longs
    "t_closeness_stream": lambda s, sink: jobs.t_closeness_stream(
        s.withColumn("band", F.pmod("user_id", F.lit(20)).cast("long")),
        sink, quasi_cols=["login_state"], sensitive_col="band",
    ),
}


def monitor_row(build, spark, s, tmp):
    key = F.when(
        F.pmod(F.xxhash64("id"), F.lit(10)) < 3, F.pmod("id", F.lit(20))
    ).otherwise(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(50_000)) + 1000)
    src = write_lines(spark.range(size(s, STREAM)).select(csv_lines(
        F.col("id"),  # unique user_id (reservoir contract)
        F.concat(F.lit("k"), key.cast("string")),  # sketch key in ip
        F.when(F.pmod("id", F.lit(2)) == 0, "fail").otherwise("success"),
        F.lit(BASE_TS) + (F.col("id") / 200).cast("long"),
    )), os.path.join(tmp, "monitor"))
    stream = csv_replay_source(spark, src, LOGIN_EVENT, max_files_per_trigger=1)
    peak: dict = {}
    yield lambda: replay(spark, build(stream, manifest_sink(peak)), tmp)
    assert not peak.get("err"), peak["err"]
    return {"driver_manifest_rows": peak.get("manifest_rows", 0)}


for _name, _build in MONITORS.items():
    row(functools.partial(monitor_row, _build), _name)


def json_stream(spark, path: str):
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(path)
    )


@row
def media_phash_stream(spark, s, tmp):
    # the media twin of incremental dedup: ~n/50 payloads (~180 B each)
    # replayed in 4 micro-batches against a 1000-payload reference whose
    # signature index is hashed ONCE before the stream starts (the
    # stored-index pattern); half of each batch byte-collides with a
    # reference payload (is_novel=0), half is fresh
    def payload(key):
        # deterministic ~180-byte payload, distinct per key value,
        # >= PHASH_MIN_BYTES so every row is hashable
        return F.concat_ws(
            "-",
            F.lit("payload"),
            key.cast("string"),
            F.repeat(F.concat(F.lit("x"), F.md5(key.cast("string"))), 5),
        )

    mkey = F.pmod(F.xxhash64("id"), F.lit(2000))
    src = write_lines(spark.range(max(size(s, STREAM) // 50, 2_000)).select(
        F.to_json(F.struct(F.col("id").alias("doc_id"), payload(mkey).alias("text"))).alias("value")
    ), os.path.join(tmp, "media"))
    ref = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.encode(payload(F.col("id")), "UTF-8").alias("payload"),
    )
    media = json_stream(spark, src).select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    peak: dict = {}
    yield lambda: replay(spark, jobs.media_phash_stream(media, ref, manifest_sink(peak)), tmp)
    assert not peak.get("err"), peak["err"]
    return {"peak_batch_verdicts": peak.get("manifest_rows", 0)}


@row
def winnow_decontaminate_stream(spark, s, tmp):
    # document feed vs a stored eval fingerprint index (the text twin of
    # the media filter). Half of each batch embeds a verbatim 19-token
    # run lifted from one of 500 eval docs (>= w + k - 1, so the
    # guarantee fires); the other half is clean disjoint vocabulary.
    def run(tag, key):
        # 19 shard-tagged tokens — the verbatim run documents share
        return F.concat_ws(
            " ", *[F.concat(F.lit(f"{tag}t{i}e"), key.cast("string")) for i in range(19)]
        )

    eval_docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("evalhead"), run("ev", F.col("id")), F.lit("evaltail")).alias("text"),
    )
    leaky = F.concat_ws(" ", F.lit("pre"), run("ev", F.pmod(F.xxhash64("id"), F.lit(500))), F.lit("post"))
    src = write_lines(spark.range(max(size(s, STREAM) // 50, 2_000)).select(
        F.to_json(
            F.struct(
                F.col("id").alias("doc_id"),
                F.when(F.pmod("id", F.lit(2)) == 0, leaky).otherwise(run("cl", F.col("id"))).alias("text"),
            )
        ).alias("value")
    ), os.path.join(tmp, "decon_docs"))
    # stored-index production shape: fingerprint the eval set once
    idx = text.winnow_eval_index(eval_docs).persist()
    idx.count()
    peak: dict = {}
    yield lambda: replay(spark, jobs.winnow_decontaminate_stream(
        json_stream(spark, src), None, manifest_sink(peak), eval_index=idx
    ), tmp)
    assert not peak.get("err"), peak["err"]
    return {"peak_batch_flagged": peak.get("manifest_rows", 0)}


@row
def sequence_match_stream(spark, s, tmp):
    # timer arming: n_seq keys each hold ONE live chain while ~40
    # filler-only micro-batches advance the watermark. Timers armed at
    # the earliest actionable instant mean those batches fire NO keys
    # (nothing is actionable until the success events land); arming at
    # watermark+1s re-fired every live key every batch — O(keys x
    # batches) state-function invocations. The wall time is the
    # observable.
    n_seq = size(s, 10_000, step=1)
    src = os.path.join(tmp, "seq")
    os.makedirs(src)

    def write_file(name: str, lines: list[str], order: int) -> None:
        p = os.path.join(src, name)
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(p, (1_000_000 + order, 1_000_000 + order))  # replay order

    write_file("b000.csv", [f"{u},ip,fail,{BASE_TS}" for u in range(n_seq)], 0)
    for i in range(40):  # one sentinel line per file -> one batch each
        write_file(f"b{i + 1:03d}.csv", [f"999999,ip,success,{BASE_TS + 100 + i * 10}"], i + 1)
    write_file("b998.csv", [f"{u},ip,success,{BASE_TS + 600}" for u in range(n_seq)], 98)
    # trailing sentinel: watermark past the successes
    write_file("b999.csv", [f"999999,ip,success,{BASE_TS + 5000}"], 99)

    def matches():
        stream = csv_replay_source(
            spark, src, LOGIN_EVENT, max_files_per_trigger=1
        ).withWatermark("ts", "1 second")
        found = stateful.sequence_match_stream(
            stream, "user_id", "ts",
            [("fail", "login_state = 'fail'"), ("ok", "login_state = 'success'")],
            within_s=3600,
        )
        return replay(spark, found.writeStream.outputMode("append").format("memory")
                      .queryName("seq_stress"), tmp)

    yield matches
    n_matches = spark.sql("SELECT count(*) c FROM seq_stress").collect()[0].c
    spark.catalog.dropTempView("seq_stress")
    assert n_matches == n_seq, n_matches


def main() -> None:
    scale = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    spark = get_spark(app_name="stress")
    spark.sparkContext.setLogLevel("ERROR")
    timings = {}
    for name in ROWS:
        rec = run_row(spark, name, scale)
        print(json.dumps(rec), flush=True)
        timings[name] = rec["wall_s"]
    print(json.dumps({
        "metric": "stress timings", "unit": "sec", "scale": scale, "timings": timings,
        "fuzzy_hot_block_cap_ratio": round(
            timings["fuzzy_hot_block_uncapped"] / timings["fuzzy_hot_block_capped"], 2
        ),
    }))


def _build_scaled_dir(spark, src_dir: str, out_dir: str, replicas: int) -> None:
    """Materialize a ~``replicas``x scale factor from ``src_dir`` as
    REPLICA SHARDS: every replica (including the first) gets disjoint
    ids and a disjoint token space, so within-shard structure (dup
    rate, block sizes, bucket fan-out) is identical to the source and
    CROSS-shard candidates are zero — the honest scaling model for a
    corpus that grew 3x, as opposed to self-union (which triples every
    LSH bucket in place and makes ANY pair generator look quadratic).
    Only the tables the curve queries read are replicated; the rest
    copy through once."""
    from flink_kafka_spark.tables import TABLES, load

    def replicate(name, transform):
        parts = [
            transform(load(spark, src_dir, name), rep, F.lit(rep * 100_000_000).cast("long"))
            for rep in range(replicas)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))

    # every token SUFFIXED with the shard tag: token counts, lengths,
    # within-shard dup structure AND first-character distributions
    # preserved (a prefix would collapse every blocking key built on a
    # token's initial — the first curve run did exactly that to
    # fuzzy_part_matches' second-initial component and manufactured a
    # quadratic the real operator doesn't have); vocabularies disjoint
    def docs_t(df, rep, off):
        text = F.concat_ws(
            " ",
            F.transform(
                F.split("text", " "), lambda t: F.concat(t, F.lit(f"s{rep}"))
            ),
        )
        return df.select(
            (F.col("doc_id") + off).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).alias("n_chars"),
        )

    def part_t(df, rep, off):
        name = F.concat_ws(
            " ",
            F.transform(
                F.split("p_name", " "), lambda t: F.concat(t, F.lit(f"s{rep}"))
            ),
        )
        return df.select(
            (F.col("p_partkey") + off).alias("p_partkey"),
            name.alias("p_name"),
            "p_brand", "p_type", "p_size", "p_retailprice",
        )

    def events_t(df, rep, off):
        return df.select(
            (F.col("event_id") + off).alias("event_id"),
            "ts",
            (F.col("user_id") + off).alias("user_id"),
            "event_type", "value", "props",
        )

    # keys offset, quasi/sensitive columns untouched: class sizes and
    # the global histogram scale together, so t-closeness DISTANCES are
    # replica-invariant while the audited row volume grows honestly
    def customer_t(df, rep, off):
        return df.withColumn("c_custkey", (F.col("c_custkey") + off).cast("long"))

    replicate("documents", docs_t)
    replicate("part", part_t)
    replicate("events", events_t)
    replicate("customer", customer_t)
    for name in TABLES:
        if name in ("documents", "part", "events", "customer"):
            continue
        load(spark, src_dir, name).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )


CURVE_QUERIES = (
    "multi_query_search",
    "dedup_canonicalize",
    "fuzzy_part_matches",
    "training_mix_snapshot",
    "events_gapfill",
    # the biggest walls among the iterative (trainer argmax /
    # fixed-point rounds) and threshold-prefiltered operators whose
    # linearity was argued from plans, now measured
    "bpe_tokenize_stats",
    "source_pagerank",
    "kmv_set_cardinality",
    # the KMV pair algebra and the KLL rollup — pair cost must
    # stay sketch-sized (flat in corpus growth) and the KLL rollup is
    # two map-side-combined sketch shuffles (linear scan term only)
    "kmv_pair_intersections",
    "kll_quantile_rollup",
    # the t-closeness distance machinery (and its
    # embedded reuse inside the release funnel) must stay cell-framed —
    # everything past the one corpus shuffle is |classes|x|values|
    # rows, so walls should be flat in corpus growth
    "t_closeness_audit",
    "release_gate_snapshot",
    # the media perceptual-hash family — one
    # payload-hash pass + chunk-bucket pair join (and, incremental,
    # the cross-corpus bucket join against the half-corpus reference)
    # must scale with the corpus scan, never with candidate pairs
    "media_phash_dedup",
    "media_phash_incremental",
    # winnowing is a zero-shuffle per-row array
    # pipeline (wall must track the scan, alpha ~1) and the overlap
    # detector's bucket fan-out is stop_df-bounded, so pair cost must
    # not go quadratic as replicas multiply within-bucket doc counts
    "doc_winnow_fingerprint",
    "winnow_overlap_pairs",
    # decontamination fingerprints both sides and
    # joins on the hash — the train side must track the scan and the
    # join stay eval-index-bounded (replica shards keep the eval
    # subset proportional, so matched pairs grow linearly, never
    # cross-shard)
    "winnow_decontaminate",
    # curved before their first driver hash (the winnowing HOF
    # quadratic was invisible until the curve ran): span
    # localization's islands window partitions over
    # MATCHED positions only (contamination-sized, proportional under
    # replica shards) and the trim's token filter is a per-row HOF —
    # both must track the corpus scan
    "winnow_contaminated_spans",
    "winnow_decontaminate_trim",
    # curved before their first driver hash too: fusion frames are candidate-bounded (wall
    # should be scan-flat), the stride interleave is one rn shuffle +
    # the range-partition rank (log-factor at worst), and the
    # multi-benchmark detector must track the single detector's
    # train-side scan with the index contribution flat
    "hybrid_rrf_search",
    "source_interleave",
    "winnow_decontaminate_multi",
)
# wall(3x) / wall(1x) <= 3^ALPHA_MAX: linear is alpha=1; the margin
# absorbs shuffle/sort log factors and timing noise, while a quadratic
# stage (alpha=2 -> ratio 9) fails decisively.
ALPHA_MAX = 1.6


def curve_main() -> None:
    """Scaling-curve probe: run the curated CURVE_QUERIES wall set (top
    walls + plan-argued operators) at sf0.01, sf0.1 and a materialized
    ~sf0.3 (3 disjoint replica shards of sf0.1), and assert the
    sf0.1 -> sf0.3 wall-time exponent stays ~linear — the ground-truth
    check for hidden quadratics that plan audits cannot see.

    What the disjoint-shard model measures: ENGINE scaling at fixed
    workload density (same block sizes, bucket fan-outs and dup rates
    per shard). It deliberately does NOT model a catalog whose
    vocabulary stays fixed while rows triple — there a blocked
    self-join's candidates grow quadratically BY DESIGN, which is the
    operator's documented intrinsic cost (measured by main()'s
    hot-block probe), not a hidden defect this probe should page on.

    Each wall is ``observe.run``'s ``wall_s``: the DataFrame build plus
    the noop action, the same window bench.py times. The release of
    tracked persists and the catalog-cache clear that follow each run
    are outside the wall.

    Usage: python tools/stress.py --curve [replicas]
    """
    import math

    from flink_kafka_spark.queries import all_queries

    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name="stress_curve")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    def timed(name, sf_dir):
        return round(measure(spark, qs[name], sf_dir)["wall_s"], 2)

    results: dict[str, dict] = {}
    with tempfile.TemporaryDirectory() as td:
        scaled = os.path.join(td, f"sf0.1x{replicas}")
        t0 = time.perf_counter()
        _build_scaled_dir(spark, "/root/testdata/sf0.1", scaled, replicas)
        build_s = round(time.perf_counter() - t0, 2)
        # warm each query shape once (codegen/reader init):
        # never time a session's first execution of a plan
        observe.warm(spark, [qs[name] for name in CURVE_QUERIES])
        failures = []
        for name in CURVE_QUERIES:
            t001 = timed(name, "/root/testdata/sf0.01")
            t01 = timed(name, "/root/testdata/sf0.1")
            t03 = timed(name, scaled)
            # noise floor: exponents on sub-second walls are meaningless
            alpha = math.log(t03 / max(t01, 0.5)) / math.log(replicas)
            results[name] = {
                "sf0.01": t001, "sf0.1": t01, f"sf0.1x{replicas}": t03,
                "alpha": round(alpha, 2),
            }
            if alpha > ALPHA_MAX:
                failures.append(f"{name}: alpha={alpha:.2f} (>{ALPHA_MAX})")
    print(
        json.dumps(
            {
                "metric": "scaling-curve exponents",
                "replicas": replicas,
                "build_s": build_s,
                "alpha_max": ALPHA_MAX,
                "queries": results,
            }
        )
    )
    assert not failures, "superlinear scaling: " + "; ".join(failures)


if __name__ == "__main__":
    if "--curve" in sys.argv:
        curve_main()
    else:
        main()
