"""Property-based semantics checks (hypothesis): the pattern/join
operators must agree with straight-line pure-Python reference
implementations on arbitrary event sequences — catching edge cases the
fixed fixtures can't (ties, duplicates, boundary gaps, empty keys).

Examples are kept small and few (each runs a Spark job); the Python
oracles are deliberately naive O(n²) code."""

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from flink_kafka_spark.operators.dedup import ngram_jaccard_pairs, shingle_prune_stats, shingle_sets
from flink_kafka_spark.operators.joins import fuzzy_match_pairs, interval_join, interval_join_binned
from flink_kafka_spark.operators.patterns import consecutive_event_alert, create_pay_timeout
from flink_kafka_spark.tables import load

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

events_strategy = st.lists(
    st.tuples(
        st.integers(1, 3),            # user
        st.integers(0, 30),           # ts offset (collisions likely)
        st.sampled_from(["fail", "success"]),
    ),
    min_size=0,
    max_size=25,
)


@given(events=events_strategy)
@settings(**SETTINGS)
@pytest.mark.slow  # slow tier: login_fail_detect's full DuckDB oracle runs in the default sweep
def test_consecutive_alert_matches_python(spark, events):
    base = 1_700_000_000
    rows = [
        (user, f"seq{i}", state, base + off) for i, (user, off, state) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "user_id long, ip string, login_state string, ts_l long")
    df = df.withColumn("ts", F.timestamp_seconds("ts_l")).drop("ts_l")
    got = sorted(
        (r.user_id, r.first_fail_ts_s, r.second_fail_ts_s)
        for r in consecutive_event_alert(df, "user_id", "ts", "login_state", "fail", 2, "ip").collect()
    )
    # python oracle: per user, sort by (ts, ip); adjacent fail pairs within 2s
    want = []
    for user in {r[0] for r in rows}:
        seq = sorted((ts, ip, state) for (u, ip, state, ts) in rows if u == user)
        for (t1, _, s1), (t2, _, s2) in zip(seq, seq[1:]):
            if s1 == s2 == "fail" and t2 - t1 <= 2:
                want.append((user, t1, t2))
    assert got == sorted(want)


order_strategy = st.lists(
    st.tuples(
        st.integers(1, 4),                      # order id
        st.integers(0, 40),                     # ts offset
        st.sampled_from(["create", "pay"]),
    ),
    min_size=0,
    max_size=25,
)


@given(events=order_strategy)
@settings(**SETTINGS)
@pytest.mark.slow  # slow tier: order_timeout's full DuckDB oracle runs in the default sweep
def test_create_pay_timeout_matches_python(spark, events):
    base = 1_700_000_000
    rows = [
        (oid, typ, f"tx{i}", base + off) for i, (oid, off, typ) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "order_id long, event_type string, tx_id string, ts_l long")
    df = df.withColumn("ts", F.timestamp_seconds("ts_l")).drop("ts_l")
    got = sorted(
        tuple(r)
        for r in create_pay_timeout(
            df, "order_id", "ts", "event_type", "create", "pay", 10, "tx_id"
        ).collect()
    )
    # python oracle: per create (in (ts, tx) order), earliest pay at-or-
    # after it in the key's sequence; 'payed' iff within 10s
    want = []
    for oid in {r[0] for r in rows}:
        seq = sorted((ts, tx, typ) for (o, typ, tx, ts) in rows if o == oid)
        for i, (t, _, typ) in enumerate(seq):
            if typ != "create":
                continue
            pays = [pt for (pt, _, pty) in seq[i:] if pty == "pay"]
            nxt = min(pays) if pays else None
            state = "payed" if nxt is not None and nxt - t <= 10 else "timeout"
            want.append((oid, t, nxt, state))
    assert got == sorted(want)


pair_strategy = st.tuples(
    st.lists(st.tuples(st.integers(1, 3), st.integers(0, 20)), max_size=12),
    st.lists(st.tuples(st.integers(1, 3), st.integers(0, 20)), max_size=12),
)


@given(data=pair_strategy)
@settings(**SETTINGS)
@pytest.mark.slow  # slow tier: order_ship_interval_join's full DuckDB oracle runs in the default sweep
def test_interval_join_matches_python(spark, data):
    lefts, rights = data
    base = 1_700_000_000
    lrows = [(k, i, base + off) for i, (k, off) in enumerate(lefts)]
    rrows = [(k, i, base + off) for i, (k, off) in enumerate(rights)]
    ldf = spark.createDataFrame(lrows, "lk long, lid long, lts_l long").withColumn(
        "lts", F.timestamp_seconds("lts_l")
    )
    rdf = spark.createDataFrame(rrows, "rk long, rid long, rts_l long").withColumn(
        "rts", F.timestamp_seconds("rts_l")
    )
    got = sorted(
        (r.lid, r.rid)
        for r in interval_join(
            ldf, rdf, F.col("lk") == F.col("rk"), F.col("lts"), F.col("rts"), -3, 5
        ).collect()
    )
    want = sorted(
        (lid, rid)
        for (lk, lid, lt) in lrows
        for (rk, rid, rt) in rrows
        if lk == rk and lt - 3 <= rt <= lt + 5
    )
    assert got == want
    # the big-big scale path (time-bin equi-join + residual) must be
    # row-identical to the broadcast/residual formulation — bin
    # boundaries are the bug surface, so the hypothesis sweep matters
    binned = sorted(
        (r.lid, r.rid)
        for r in interval_join_binned(
            ldf, rdf, ("lk", "rk"), ("lts", "rts"), -3, 5
        ).collect()
    )
    assert binned == want


def test_ngram_jaccard_stop_shingle_miss_is_documented(spark):
    """The known recall gap of stop-shingle pruning, pinned as a test:
    a duplicate pair witnessed ONLY by frequent shingles (df > stop_df)
    is silently missed at the default pruning, found when stop_df is
    raised, and visible in shingle_prune_stats. The reported jaccard is
    a lower bound — emitted pairs are never false positives."""
    # 5 docs sharing one identical text → every shingle has df = 5
    text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(i, text) for i in range(5)], "doc_id long, text string"
    )
    missed = ngram_jaccard_pairs(docs, threshold=0.5, stop_df=2)
    assert missed.count() == 0  # true jaccard of every pair is 1.0
    found = ngram_jaccard_pairs(docs, threshold=0.5, stop_df=10)
    rows = {(r.id_a, r.id_b): r.jaccard for r in found.collect()}
    assert len(rows) == 10 and all(j == 1.0 for j in rows.values())
    stats = shingle_prune_stats(docs, stop_df=2).collect()[0]
    assert stats.n_stop_shingles == stats.n_shingles  # everything pruned
    assert stats.occurrence_pruned_frac == 1.0


def test_canonicalize_keeps_best_quality_not_min_id(spark):
    """The KEEP policy: within a near-dup cluster the highest-quality
    member wins even when it has the highest id (keep-min-id would pick
    doc 0 here); singletons keep themselves; exactly one keeper per
    cluster."""
    from flink_kafka_spark.operators.dedup import (
        canonicalize_clusters,
        ngram_jaccard_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (0, base),                       # cluster {0,1,2}: near-identical
            (1, base),
            (2, base + " lambda mu nu xi"),  # longer + more distinct -> best
            (3, "totally different words entirely here"),  # singleton
        ],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    out = {r.doc_id: r for r in canonicalize_clusters(docs, pairs).collect()}
    assert {i: out[i].cluster_id for i in range(4)} == {0: 0, 1: 0, 2: 0, 3: 3}
    assert [out[i].keep for i in range(4)] == [0, 0, 1, 1]  # 2 beats 0/1
    assert out[2].quality_score > out[0].quality_score
    per_cluster = {}
    for r in out.values():
        per_cluster[r.cluster_id] = per_cluster.get(r.cluster_id, 0) + r.keep
    assert all(v == 1 for v in per_cluster.values())


@pytest.mark.slow  # slow tier: both canonicalize rows' full DuckDB oracles run in the default sweep
def test_canonicalize_skew_safe_path_is_row_identical(spark):
    """The skew_safe=True plan (min_by partial aggregation + broadcast
    winner join, for boilerplate mega-clusters that would skew the rank
    window's cluster_id partition) must emit EXACTLY the rows of the
    default window plan — including a planted 300-member mega-cluster
    where the winner has the highest id (so a wrong tie-break or a
    dropped partial shows up as a different keeper), a small cluster
    with quality ties (lowest id must win), singletons, and NULL- and
    NaN-quality members: both must LOSE to any real
    quality in BOTH plans (min_by's struct ordering sorts NULL first
    ascending and NaN last, the window's desc ordering did the exact
    opposite — the shared rank key makes divergence impossible), and an
    all-degenerate cluster must break the tie to the lowest id."""
    import math

    from pyspark.sql import functions as F

    from flink_kafka_spark.operators.dedup import canonicalize_clusters

    # synthetic graph, synthetic quality: mega-cluster = ids 0..299
    # (chain edges), winner planted at id 299; cluster {1000, 1001}
    # tied on quality -> 1000 wins; 2000/2001 singletons;
    # {3000 NULL, 3001 real} -> 3001; {4000 NaN, 4001 real} -> 4001;
    # {5000 NULL, 5001 NaN} all-degenerate -> lowest id 5000.
    n_mega = 300
    rows = [(i,) for i in range(n_mega)] + [
        (1000,), (1001,), (2000,), (2001,),
        (3000,), (3001,), (4000,), (4001,), (5000,), (5001,),
    ]
    docs = spark.createDataFrame(rows, "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n_mega - 1)]
        + [(1000, 1001), (3000, 3001), (4000, 4001), (5000, 5001)],
        "id_a long, id_b long",
    )
    quality = (
        F.when(F.col("doc_id") == 299, F.lit(9.0))
        .when(F.col("doc_id") < n_mega, F.lit(1.0))
        .when(F.col("doc_id").isin(3000, 5000), F.lit(None).cast("double"))
        .when(F.col("doc_id") == 3001, F.lit(0.5))
        .when(F.col("doc_id").isin(4000, 5001), F.lit(float("nan")))
        .when(F.col("doc_id") == 4001, F.lit(2.0))
        .otherwise(F.lit(5.0))
    )

    def _key(r):
        # NaN != NaN would defeat tuple equality; normalize for compare
        q = r[2]
        return (r[0], r[1], "nan" if q is not None and math.isnan(q) else q, r[3])

    kw = dict(quality=quality)
    default = sorted(
        _key(r) for r in canonicalize_clusters(docs, edges, **kw).collect()
    )
    skew_safe = sorted(
        _key(r)
        for r in canonicalize_clusters(docs, edges, skew_safe=True, **kw).collect()
    )
    assert default == skew_safe
    keepers = {r[0] for r in default if r[3] == 1}
    assert keepers == {299, 1000, 2000, 2001, 3001, 4001, 5000}

    # undefined quality (NULL / NaN) ranks WORST in BOTH arms: a
    # cluster of {real, NULL, NaN} must keep the real-quality doc on
    # each path (pre-fix the rank window's DESC put NaN first while
    # min_by's struct put the NULL field smallest — different keepers)
    nd = spark.createDataFrame(
        [(1, 0.5), (2, None), (3, float("nan"))], "doc_id long, q double"
    )
    ne = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    for arm in (False, True):
        out = canonicalize_clusters(nd, ne, quality=F.col("q"), skew_safe=arm)
        assert [r["doc_id"] for r in out.filter("keep = 1").collect()] == [1]


def test_corpus_shuffle_is_a_partitioning_invariant_permutation(spark):
    """The training-order shuffle must be a function of (seed, id)
    only: identical output no matter how the input is partitioned
    (1 vs 8 partitions — range-boundary sampling must not leak into
    results), positions an exact 0..n-1 permutation, shards fixed-size
    except the last, and a different seed a different permutation."""
    from flink_kafka_spark.operators.sampling import shuffle_corpus

    ids = [i * 7 for i in range(257)]  # non-contiguous, not a power of 2
    rows = [(i,) for i in ids]
    out = {}
    for parts in (1, 8):
        df = spark.createDataFrame(rows, "doc_id long").repartition(parts)
        out[parts] = sorted(
            tuple(r) for r in shuffle_corpus(df, seed=7, shard_size=50).collect()
        )
    assert out[1] == out[8]
    positions = sorted(r[1] for r in out[1])
    assert positions == list(range(len(ids)))
    from collections import Counter

    shard_sizes = Counter(r[2] for r in out[1])
    assert all(n == 50 for s, n in shard_sizes.items() if s < max(shard_sizes))
    assert shard_sizes[max(shard_sizes)] == len(ids) % 50
    df = spark.createDataFrame(rows, "doc_id long")
    other = sorted(
        tuple(r) for r in shuffle_corpus(df, seed=8, shard_size=50).collect()
    )
    assert other != out[1]  # seed changes the permutation


def test_cc_checkpoints_release_at_query_boundary(spark):
    """A mechanical guard: the CC loop's
    localCheckpoint persists are invisible to DataFrame
    unpersist/clearCache, so the loop must hold at most the FINAL
    labels checkpoint after it returns (earlier rounds unpersisted as
    each new round materializes), and release_all() must drop that
    too — a refactor that re-strands round checkpoints fails here, not
    in the next bench's leak probe."""
    from pyspark.sql import functions as F

    from flink_kafka_spark.caching import release_all
    from flink_kafka_spark.operators.dedup import connected_components

    release_all()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    n = 1000  # diameter-9 chains: several loop rounds
    edges = (
        spark.range(n)
        .filter("pmod(id, 10) < 9")
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    assert connected_components(edges, nodes).count() == n
    resident = jsc.getPersistentRDDs().size() - base
    assert resident <= 1, f"{resident} persistent RDDs after CC (want <=1: final labels)"
    release_all()
    spark.catalog.clearCache()
    assert jsc.getPersistentRDDs().size() <= base


def test_span_dup_stats_counts_cross_doc_spans_only(spark):
    """Span-level dedup semantics: (a) a 10-token block shared verbatim
    by two docs marks those span positions duplicated in BOTH; (b) a
    doc repeating a span only WITHIN itself contributes nothing (cross-
    doc means >1 distinct doc); (c) docs shorter than 10 tokens have 0
    spans and dup_frac 0.0; (d) per-POSITION counting — a doc holding
    the shared block twice counts it twice."""
    from flink_kafka_spark.operators.dedup import span_dup_stats

    block = " ".join(f"b{i}" for i in range(10))  # the shared 10-token block
    uniq = lambda tag, k: " ".join(f"{tag}{i}" for i in range(k))  # noqa: E731
    docs = spark.createDataFrame(
        [
            (0, block),                                   # block alone: 1 span
            (1, uniq("x", 5) + " " + block),              # block after 5 unique
            (2, uniq("y", 15)),                           # fully unique, 6 spans
            (3, "too short"),                             # < 10 tokens
            (4, uniq("z", 5) + " " + uniq("z", 5)),       # self-repeat only
            (5, block + " " + block),                     # block twice
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in span_dup_stats(docs, n=10).collect()}
    assert len(out) == 6
    # doc 0: its only span IS the block, present in docs 1 and 5 too
    assert (out[0].n_spans, out[0].n_dup_spans, out[0].dup_frac) == (1, 1, 1.0)
    # doc 1: 6 spans (15 tokens), only the final (pure-block) span dups
    assert (out[1].n_spans, out[1].n_dup_spans) == (6, 1)
    # doc 2 unique, doc 3 too short, doc 4 self-repeat only
    assert (out[2].n_spans, out[2].n_dup_spans) == (6, 0)
    assert (out[3].n_spans, out[3].n_dup_spans, out[3].dup_frac) == (0, 0, 0.0)
    assert out[4].n_dup_spans == 0
    # doc 5: 11 spans; positions 1 and 11 are the pure block (both
    # count); the 9 straddling spans are unique to doc 5
    assert (out[5].n_spans, out[5].n_dup_spans) == (11, 2)


def test_trim_duplicated_spans_excises_non_owner_regions(spark):
    """Span trim policy: the OWNER (lowest doc_id containing a
    duplicated span) keeps its text untouched; every other doc loses
    the covered token regions — including overlapping/adjacent span
    positions merged into one island (a doc that is nothing but two
    copies of the owner's block trims to empty). Unique and too-short
    docs pass through as normalized text, and removal counts equal the
    merged island sizes."""
    from flink_kafka_spark.operators.dedup import trim_duplicated_spans

    block = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (0, "u0 u1 u2 " + block + " u3 u4"),        # owner
            (1, "v0 " + block + " v1 v2 v3"),           # trims the block
            (2, " ".join(f"w{i}" for i in range(11))),  # unique
            (3, "short doc"),                            # < 10 tokens
            (4, block + " " + block),                    # islands merge -> empty
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in trim_duplicated_spans(docs, n=10).collect()}
    assert out[0].n_removed_tokens == 0 and out[0].cleaned_text == "u0 u1 u2 " + block + " u3 u4"
    assert out[1].n_removed_tokens == 10 and out[1].cleaned_text == "v0 v1 v2 v3"
    assert out[2].n_removed_tokens == 0 and out[2].cleaned_text.startswith("w0 ")
    assert out[3] and (out[3].n_tokens, out[3].n_removed_tokens) == (2, 0)
    assert (out[4].n_tokens, out[4].n_removed_tokens, out[4].cleaned_text) == (20, 20, "")


@pytest.mark.slow  # slow tier: dedup_incremental_check's invariant oracle runs in the default sweep
def test_incremental_dedup_flags_cross_corpus_dups_only(spark):
    """Incremental dedup: a batch doc near-duplicating a REFERENCE doc
    is flagged with the right best match; a batch doc that only
    near-duplicates ANOTHER BATCH doc stays novel (within-side pairs
    must never leak into the cross-corpus join); rollup covers every
    batch doc exactly once."""
    from flink_kafka_spark.operators.dedup import incremental_dedup

    base = " ".join(f"w{i}" for i in range(20))
    twin = base + " extra"
    batch = spark.createDataFrame(
        [
            (1, base),                      # dup of reference doc 100
            (3, "p q r s t u v w x y z"),   # novel vs reference...
            (5, "p q r s t u v w x y zz"),  # ...but near-dups doc 3 (batch-side)
        ],
        "doc_id long, text string",
    )
    reference = spark.createDataFrame(
        [(100, twin), (102, "totally different reference content here")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in incremental_dedup(batch, reference, threshold=0.5).collect()}
    assert set(out) == {1, 3, 5}
    assert out[1].is_novel == 0 and out[1].n_ref_dups == 1
    assert out[1].best_ref_id == 100 and out[1].best_jaccard >= 0.5
    for i in (3, 5):  # batch-internal near-dup pair stays novel
        assert out[i].is_novel == 1 and out[i].n_ref_dups == 0
        assert out[i].best_ref_id is None and out[i].best_jaccard is None


span_corpus_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=12),
    min_size=2,
    max_size=5,
)


@given(corpus=span_corpus_strategy)
@settings(**SETTINGS)
@pytest.mark.slow  # slow tier: dedup_span_stats/_trim full DuckDB oracles run in the default sweep
def test_span_stats_and_trim_match_python(spark, corpus):
    """span_dup_stats and trim_duplicated_spans vs a naive Python
    oracle on arbitrary tiny-vocab corpora (4 tokens, so 3-token span
    collisions are plentiful): per-position dup counts, owner
    resolution, interval-union excision, and the rebuilt text must all
    agree exactly — the hypothesis sweep hits overlap/adjacency/
    within-doc-repeat shapes the planted fixtures don't."""
    from flink_kafka_spark.operators.dedup import span_dup_stats, trim_duplicated_spans

    n = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # python oracle
    spans = {
        i: [tuple(t[p : p + n]) for p in range(len(t) - n + 1)]
        for i, t in enumerate(corpus)
    }
    docs_of = {}
    for i, sp in spans.items():
        for s in sp:
            docs_of.setdefault(s, set()).add(i)
    want_stats, want_trim = {}, {}
    for i, t in enumerate(corpus):
        dup_pos = [
            p for p, s in enumerate(spans[i]) if len(docs_of[s]) > 1
        ]
        want_stats[i] = (len(t), len(spans[i]), len(dup_pos))
        trim_pos = [
            p
            for p, s in enumerate(spans[i])
            if len(docs_of[s]) > 1 and min(docs_of[s]) != i
        ]
        covered = sorted({j for p in trim_pos for j in range(p, p + n)})
        kept = [tok for j, tok in enumerate(t) if j not in covered]
        want_trim[i] = (len(t), len(covered), " ".join(kept))

    got_stats = {
        r.doc_id: (r.n_spans, r.n_dup_spans) for r in span_dup_stats(df, n=n).collect()
    }
    assert got_stats == {i: (v[1], v[2]) for i, v in want_stats.items()}
    got_trim = {
        r.doc_id: (r.n_tokens, r.n_removed_tokens, r.cleaned_text)
        for r in trim_duplicated_spans(df, n=n).collect()
    }
    assert got_trim == want_trim


@pytest.mark.slow  # slow tier: the bucketed-index plan pin in test_io stays default
def test_prebuilt_dedup_index_matches_inline_banding(spark, tmp_path):
    """The production incremental-dedup path: build_dedup_index written
    to parquet, reloaded, and passed via ref_index must yield EXACTLY
    the matches of the self-contained path that re-bands the reference
    inline — the stored index IS the reference banding, so any drift
    means the index format lost information."""
    from flink_kafka_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_matches,
    )
    from flink_kafka_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    batch = docs.filter("pmod(doc_id, 2) = 1")
    ref = docs.filter("pmod(doc_id, 2) = 0")
    inline = sorted(
        tuple(r) for r in incremental_dedup_matches(batch, ref, threshold=0.5).collect()
    )
    idx_path = str(tmp_path / "dedup_index")
    build_dedup_index(ref).write.mode("overwrite").parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    via_index = sorted(
        tuple(r)
        for r in incremental_dedup_matches(
            batch, ref, threshold=0.5, ref_index=stored
        ).collect()
    )
    assert inline == via_index and len(inline) > 0


def test_span_family_invariants_on_a_doubled_corpus(spark):
    """Duplicate every doc under a higher id and the three span/
    incremental operators must agree on what happened: every span is
    now cross-doc duplicated (dup_frac == 1.0 wherever spans exist),
    the trim empties exactly the copies while every original (= span
    owner) survives verbatim, and incremental dedup of the copies
    against the originals flags every copy. Uses the real sf0.001
    documents as the base corpus so token shapes are realistic."""
    from pyspark.sql import functions as F

    from flink_kafka_spark.operators.dedup import (
        incremental_dedup,
        span_dup_stats,
        trim_duplicated_spans,
    )
    from flink_kafka_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    # the corpus plants intra-base near-dups; restrict to docs with NO
    # duplicated span within the base so "owner" is unambiguous below
    clean_ids = {
        r.doc_id for r in span_dup_stats(docs, n=10).filter("n_dup_spans = 0").collect()
    }
    base = docs.filter(F.col("doc_id").isin(sorted(clean_ids)[:40]))
    offset = 1_000_000
    copies = base.select((F.col("doc_id") + offset).alias("doc_id"), "text")
    doubled = base.unionByName(copies)

    stats = span_dup_stats(doubled, n=10).collect()
    assert all(r.dup_frac == 1.0 for r in stats if r.n_spans > 0)

    trimmed = {r.doc_id: r for r in trim_duplicated_spans(doubled, n=10).collect()}
    originals = {r.doc_id: r.text for r in base.collect()}
    for did, text in originals.items():
        orig, copy = trimmed[did], trimmed[did + offset]
        if orig.n_tokens >= 10:
            # owner untouched (normalized), copy fully excised
            assert orig.n_removed_tokens == 0
            assert orig.cleaned_text == " ".join((text or "").lower().split())
            assert copy.n_removed_tokens == copy.n_tokens and copy.cleaned_text == ""
        else:
            assert orig.n_removed_tokens == 0 and copy.n_removed_tokens == 0

    inc = incremental_dedup(copies, base, threshold=0.5).collect()
    flagged = {r.doc_id for r in inc if r.is_novel == 0}
    with_shingles = {
        did + offset for did, t in originals.items() if len((t or "").split()) >= 3
    }
    assert flagged == with_shingles  # identical docs collide in every band


def test_cc_pointer_jumping_converges_on_a_pathological_chain(spark):
    """A single 1000-node chain has diameter 999: plain hash-to-min
    label propagation needs O(diameter) rounds and would raise the
    non-convergence RuntimeError at max_iter=25. Pointer jumping
    (L(v) <- L(L(v)) from round 3 on) doubles label reach per round, so
    the loop must converge in ~log2(1000) ~ 10 jumping rounds — this
    test failing means the shortcut join was dropped or de-gated. The
    100k-node twin lives in tools/stress.py."""
    from pyspark.sql import functions as F

    from flink_kafka_spark.operators.dedup import connected_components

    n = 1000
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    out = connected_components(edges, nodes, max_iter=25)
    labels = {r.cluster_id for r in out.collect()}
    assert labels == {0}  # one component, min-id label


def test_short_and_empty_docs_survive_every_shingle_path(spark):
    """Docs with fewer than n tokens (incl. empty and NULL text) have
    no shingles; they must yield empty shingle sets — not abort the job
    (unguarded `slice(tokens, 0, n)` raises INVALID_PARAMETER_VALUE) —
    and must never appear in any near-dup pair."""
    from flink_kafka_spark.operators.dedup import minhash_lsh_pairs, shingle_sets

    dup = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, dup),
            (2, dup),
            (3, "one"),          # 1 token < n=3
            (4, "two tokens"),   # 2 tokens < n=3
            (5, ""),             # empty text
            (6, None),           # null text
            (7, "an unrelated document with plenty of distinct words here"),
        ],
        "doc_id long, text string",
    )
    sets = {r.doc_id: r.shingle_arr for r in shingle_sets(docs, "doc_id").collect()}
    assert sets[3] == [] and sets[4] == [] and sets[5] == [] and sets[6] == []
    assert len(sets[1]) == 6  # 8 tokens → 6 trigrams
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert pairs == {(1, 2)}
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert exact == {(1, 2)}


def test_leakage_safe_split_coassigns_near_dup_pairs(spark, sf_dir):
    """The anti-leakage guarantee itself: for EVERY near-dup pair the
    two documents land in the same split (no train/eval contamination
    path), and singletons reduce to the plain id-hash split (the
    cluster split is a strict refinement of dataset_split)."""
    from flink_kafka_spark.operators.dedup import ngram_jaccard_pairs
    from flink_kafka_spark.queries.dedup import JACCARD_THRESHOLD, leakage_safe_split
    from flink_kafka_spark.tables import load

    split = leakage_safe_split(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD)
    assert pairs.count() > 0  # the corpus must actually exercise the guarantee
    a = split.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    b = split.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    leaked = pairs.join(a, "id_a").join(b, "id_b").filter("split_a <> split_b")
    assert leaked.count() == 0

    from flink_kafka_spark.operators.sampling import train_val_test_split

    plain = train_val_test_split(docs.select("doc_id"), "doc_id").withColumnRenamed(
        "split", "plain_split"
    )
    singles = split.filter("doc_id = cluster_id").join(plain, "doc_id")
    assert singles.filter("split <> plain_split").count() == 0


def test_containment_catches_quote_jaccard_misses(spark):
    """The reason containment exists: a short doc quoted verbatim
    inside a much longer one has containment 1.0 but Jaccard
    |short|/|long| → below any useful threshold. Also pins the
    direction metadata (sizes) and the floor-half-up rounding."""
    from flink_kafka_spark.operators.dedup import containment_pairs

    words = [f"w{i}" for i in range(60)]
    long_doc = " ".join(words)
    short_doc = " ".join(words[20:30])  # 10-token verbatim excerpt
    docs = spark.createDataFrame(
        [(0, long_doc), (1, short_doc), (2, "totally unrelated text here")],
        "doc_id long, text string",
    )
    from flink_kafka_spark.operators.dedup import ngram_jaccard_pairs

    assert ngram_jaccard_pairs(docs, threshold=0.5, stop_df=100).count() == 0
    rows = {(r.id_a, r.id_b): r for r in containment_pairs(docs, threshold=0.6, stop_df=100).collect()}
    assert set(rows) == {(0, 1)}
    r = rows[(0, 1)]
    # long doc: 58 3-gram shingles, excerpt: 8, all shared
    assert (r.size_a, r.size_b, r.n_inter) == (58, 8, 8)
    assert r.containment == 1.0


def test_fuzzy_match_pairs_vs_naive(spark):
    """Blocked fuzzy linkage against a from-scratch Python
    reimplementation (itertools + a DP edit distance): exact pair-set
    equality on a constructed dirty catalog, including the documented
    recall boundary — a near-match whose FIRST token differs lands in
    another block and is (by design) not emitted."""
    import itertools

    from flink_kafka_spark.operators.joins import fuzzy_match_pairs

    names = {
        1: "acme widget",
        2: "acme widget",   # exact dup -> dist 0
        3: "acme widgets",  # dist 1
        4: "acme wadget",   # dist 1
        5: "acme gizmo",    # same block, dist > 2 -> dropped
        6: "acne widget",   # dist 1 from #1 but different block -> hidden
        7: "zeta bolt",
    }
    df = spark.createDataFrame(list(names.items()), "id long, name string")
    got = {
        (r.a_key, r.b_key, r.lev_dist)
        for r in fuzzy_match_pairs(df, "id", "name", max_dist=2).collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (a, b, lev(names[a], names[b]))
        for a, b in itertools.combinations(sorted(names), 2)
        if names[a].split()[0] == names[b].split()[0]
        and abs(len(names[a]) - len(names[b])) <= 2
        and lev(names[a], names[b]) <= 2
    }
    assert got == want
    assert (1, 6, 1) not in got  # the blocking recall boundary, explicitly


def test_fuzzy_match_pairs_hot_block_cap_is_lossless(spark):
    """max_block folds the length-band residual into the join key for
    oversized blocks (±1-bucket replication). The band is already a
    hard filter, so the capped path must return the EXACT pair set of
    the uncapped path — on a catalog where one block is hot (planted
    ~50% share, the stress-probe shape), blocks sit exactly at the
    threshold boundary, and names inside the hot block straddle
    length-bucket boundaries (the replication's reason to exist)."""
    from flink_kafka_spark.operators.joins import fuzzy_match_pairs

    rows = []
    # hot block: 40 names, lengths straddling several width-3 buckets
    for i in range(40):
        rows.append((i, "hot " + "x" * (3 + i % 7) + ("y" if i % 2 else "")))
    # boundary block: exactly max_block rows (must stay cold)
    for i in range(5):
        rows.append((100 + i, "edge name" + "z" * (i % 3)))
    # cold blocks
    rows += [(200, "cold bolt"), (201, "cold bolts"), (202, "lone widget")]
    df = spark.createDataFrame(rows, "id long, name string")

    def pairs(**kw):
        return {
            (r.a_key, r.b_key, r.a_name, r.b_name, r.lev_dist)
            for r in fuzzy_match_pairs(df, "id", "name", max_dist=2, **kw).collect()
        }

    uncapped = pairs()
    assert uncapped  # the planted catalog must actually produce pairs
    assert pairs(max_block=5) == uncapped
    assert pairs(max_block=1) == uncapped  # every block refined
    assert pairs(max_block=10_000) == uncapped  # no block refined


@pytest.mark.slow  # slow tier: the cap is off in every registered row; dedup_minhash_lsh_check stays default
def test_minhash_lsh_mega_bucket_cap_bounds_pairs_keeps_connectivity(spark):
    """The LSH hardening: a planted 10k-id boilerplate
    bucket (identical text → identical band hash in EVERY band) must
    complete under a bounded pair budget when ``max_bucket`` is armed —
    uncapped it would emit C(10k,2) ≈ 5·10⁷ candidate pairs per band.
    At w=1 (the chain floor) the capped pair set over the bucket is
    exactly the sorted-id adjacency chain, which (a) proves the budget
    and (b) proves no member is dropped and the bucket stays connected
    for downstream CC canonicalization. A disjoint cold pair must be
    untouched, and on buckets at/under the cap the capped path must
    return the EXACT uncapped pair set (recall unchanged)."""
    from flink_kafka_spark.operators.dedup import minhash_lsh_pairs

    n_mega = 10_000
    boiler = "accept our cookie banner to continue reading this very page today"
    cold = "a completely different document about distributed shuffle planning"
    rows = [(i, boiler) for i in range(n_mega)]
    rows += [(20_000, cold), (20_001, cold)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    capped = minhash_lsh_pairs(docs, threshold=0.5, max_bucket=64).collect()
    got = {(r.id_a, r.id_b) for r in capped}
    # w = max(1, 64²/(2·10000)) = 1 → the adjacency chain, every band
    # emitting the same chain (distinct collapses them) + the cold pair
    chain = {(i, i + 1) for i in range(n_mega - 1)}
    assert got == chain | {(20_000, 20_001)}
    assert all(r.jaccard == 1.0 for r in capped)

    # moderate overflow: 32-id bucket at cap 16 → w = 16²/64 = 4;
    # every member pairs with its next 4 sorted neighbors
    mid = spark.createDataFrame(
        [(i, boiler) for i in range(32)], "doc_id long, text string"
    )
    got_mid = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(mid, threshold=0.5, max_bucket=16).collect()
    }
    assert got_mid == {(i, j) for i in range(32) for j in range(i + 1, min(i + 5, 32))}

    # recall unchanged when no bucket exceeds the cap
    small = spark.createDataFrame(
        [(i, boiler) for i in range(6)]
        + [(10 + i, cold) for i in range(4)]
        + [(99, "unique text with no duplicate partner in this fixture at all")],
        "doc_id long, text string",
    )
    uncapped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(small, threshold=0.5).collect()
    }
    assert uncapped  # fixture must produce pairs
    for cap in (6, 100):
        assert {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs(small, threshold=0.5, max_bucket=cap).collect()
        } == uncapped


@pytest.mark.slow  # slow tier: value_drift_psi's full DuckDB oracle runs in the default sweep
def test_value_drift_psi_detects_planted_shift(spark, tmp_path):
    """PSI on a constructed stream: a type whose value distribution
    jumps between halves scores far above the 0.25 'shifted' alarm
    line, a type with an identical distribution in both halves scores
    EXACTLY 0 (same counts -> p == q termwise), and psi >= 0 isn't
    asserted because PSI is a symmetrized KL — each term (p-q)ln(p/q)
    is individually nonnegative, so the total is too; assert that."""
    import datetime

    rows = []
    base = datetime.datetime(2024, 1, 1)
    for i in range(400):
        ts = base + datetime.timedelta(seconds=i)  # first half: i<200
        # 'stable': value pattern depends only on i%200 -> halves identical
        rows.append((i, ts, 1, "stable", float(i % 200), ""))
        # 'shifted': low values first half, high second half
        rows.append((1000 + i, ts, 2, "shifted", 10.0 if i < 200 else 400.0, ""))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = tmp_path / "events.parquet"
    df.coalesce(1).write.parquet(str(out.parent / "events.parquet"))

    from flink_kafka_spark.queries.analytics import value_drift_psi

    res = {r.event_type: r for r in value_drift_psi(spark, str(tmp_path)).collect()}
    assert res["stable"].n_first == res["stable"].n_second == 200
    assert res["stable"].psi == 0.0
    assert res["shifted"].psi > 0.25
    assert all(r.psi >= 0.0 for r in res.values())


# --- fuzzy linkage: random dirty catalogs vs a naive reimplementation ---

catalog_strategy = st.lists(
    st.tuples(
        st.sampled_from(["acme", "acne", "zeta"]),                 # first token
        st.sampled_from(["widget", "widgets", "wadget", "bolt"]),  # second token
    ),
    min_size=0,
    max_size=14,
)


@given(names=catalog_strategy)
@settings(**SETTINGS)
def test_fuzzy_match_pairs_matches_naive_on_random_catalogs(spark, names):
    """Exact pair-set equality (keys AND distances) between the
    blocked fuzzy join and an O(n²) pure-Python sweep with a DP edit
    distance, over random catalogs dense in near-misses, duplicate
    names, and cross-block decoys."""
    import itertools

    from flink_kafka_spark.operators.joins import fuzzy_match_pairs

    rows = [(i, f"{a} {b}") for i, (a, b) in enumerate(names)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r.a_key, r.b_key, r.lev_dist)
        for r in fuzzy_match_pairs(df, "id", "name", max_dist=2).collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    by_id = dict(rows)
    want = {
        (a, b, lev(by_id[a], by_id[b]))
        for a, b in itertools.combinations(sorted(by_id), 2)
        if by_id[a].split()[0] == by_id[b].split()[0]
        and abs(len(by_id[a]) - len(by_id[b])) <= 2
        and lev(by_id[a], by_id[b]) <= 2
    }
    assert got == want


# --- PSI: random two-sample histograms vs a pure-Python formula ---

psi_strategy = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2"]),
        st.integers(0, 1),       # half
        st.floats(0.0, 100.0, allow_nan=False),
    ),
    min_size=2,
    max_size=40,
)


@given(samples=psi_strategy)
@settings(**SETTINGS)
@pytest.mark.slow  # slow tier: value_drift_psi's full DuckDB oracle runs in the default sweep
def test_value_drift_psi_matches_naive(spark, samples, tmp_path_factory):
    """The registered PSI query against a from-scratch Python
    reimplementation (global equal-width buckets from the data's own
    bounds, integer-exact counts, add-one smoothing, floor-half-up
    rounding) on random two-half samples — pins the full numeric
    contract including empty-bucket smoothing and the clamped top
    edge."""
    import datetime
    import math

    from flink_kafka_spark.queries.analytics import value_drift_psi

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # ts encodes the half deterministically: halves split at the
    # midpoint of [0, 1000] seconds
    for i, (key, half, val) in enumerate(samples):
        ts = base + datetime.timedelta(seconds=(0 if half == 0 else 1000) + (i % 400))
        rows.append((i, ts, 1, key, float(val), ""))
    # anchor both extremes so the midpoint (and so the half split) is fixed
    rows.append((9000, base, 9, "k1", 50.0, ""))
    rows.append((9001, base + datetime.timedelta(seconds=2000), 9, "k1", 50.0, ""))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    td = tmp_path_factory.mktemp("psi")
    df.coalesce(1).write.mode("overwrite").parquet(str(td / "events.parquet"))
    got = {r.event_type: r for r in value_drift_psi(spark, str(td)).collect()}

    # naive reimplementation
    vals = [r[4] for r in rows]
    ts_e = [int(r[1].timestamp()) for r in rows]
    vmin, vmax, tmin, tmax = min(vals), max(vals), min(ts_e), max(ts_e)

    def bucket(v):
        if vmax == vmin:
            return 0
        return min(int(math.floor((v - vmin) / ((vmax - vmin) / 10.0))), 9)

    counts: dict = {}
    for r in rows:
        key, half = r[3], 0 if 2 * int(r[1].timestamp()) <= tmin + tmax else 1
        counts.setdefault(key, [[0] * 10, [0] * 10])[half][bucket(r[4])] += 1
    for key, (c0, c1) in counts.items():
        n0, n1 = sum(c0), sum(c1)
        psi = sum(
            ((a + 1.0) / (n0 + 10.0) - (b + 1.0) / (n1 + 10.0))
            * math.log(((a + 1.0) / (n0 + 10.0)) / ((b + 1.0) / (n1 + 10.0)))
            for a, b in zip(c0, c1)
        )
        want_psi = math.floor(psi * 1000000 + 0.5) / 1000000
        assert got[key].n_first == n0 and got[key].n_second == n1
        assert got[key].psi == want_psi, (key, got[key].psi, want_psi)


def test_k_anonymity_suppression(spark):
    """Constructed classes around the k boundary: classes of size
    k-1 suppress every member, classes of size k keep every member,
    and class_size is exact."""
    from flink_kafka_spark.operators.sampling import k_anonymity

    rows = []
    rid = 0
    for nation, seg, n in [(1, "A", 2), (1, "B", 3), (2, "A", 1), (2, "B", 3)]:
        for _ in range(n):
            rows.append((rid, nation, seg))
            rid += 1
    df = spark.createDataFrame(rows, "id long, nation int, seg string")
    out = {r.id: r for r in k_anonymity(df, "id", ["nation", "seg"], k=3).collect()}
    assert len(out) == len(rows)
    for rid, nation, seg in rows:
        want_size = {(1, "A"): 2, (1, "B"): 3, (2, "A"): 1, (2, "B"): 3}[(nation, seg)]
        assert out[rid].class_size == want_size
        assert out[rid].keep == (1 if want_size >= 3 else 0)


def test_fuzzy_multi_pass_recovers_cross_block_matches(spark):
    """The recall-recovery contract: a near-match whose FIRST token is
    the typo is invisible to first-token blocking but caught by the
    last-token pass; the union contains both pass types exactly once
    each, and equals the unblocked O(n²) truth for this catalog."""
    import itertools

    from flink_kafka_spark.operators.joins import (
        fuzzy_match_pairs,
        fuzzy_match_pairs_multi,
    )

    names = {
        1: "acme widget",
        2: "acne widget",   # first-token typo: cross-block for pass 1
        3: "acme widgets",  # same-first-token near-match
        4: "zeta bolt",
    }
    df = spark.createDataFrame(list(names.items()), "id long, name string")
    single = {
        (r.a_key, r.b_key) for r in fuzzy_match_pairs(df, "id", "name", 2).collect()
    }
    multi = {
        (r.a_key, r.b_key)
        for r in fuzzy_match_pairs_multi(df, "id", "name", 2).collect()
    }
    assert (1, 2) not in single and (1, 3) in single
    assert (1, 2) in multi and (1, 3) in multi

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    truth = {
        (a, b)
        for a, b in itertools.combinations(sorted(names), 2)
        if lev(names[a], names[b]) <= 2
    }
    # soundness: never a pair outside the unblocked truth; recall
    # composes but is still blocking-bounded — (2,3) differs in BOTH
    # tokens and in length, breaking every default key, and stays the
    # documented residual miss
    assert single < multi <= truth
    assert truth - multi == {(2, 3)}
    rows = fuzzy_match_pairs_multi(df, "id", "name", 2).collect()
    assert len(rows) == len({(r.a_key, r.b_key) for r in rows})  # deduped


def test_apply_changes_roundtrip_and_changelog_shape(spark):
    """MERGE closure on a constructed pair of snapshots: the changelog
    carries exactly the edited/added ids as upserts with NEW payloads
    and removed ids as null-payload deletes, and applying it to the
    old snapshot reproduces the new one row-for-row (including that a
    deleted id is really gone and an unchanged id keeps its payload)."""
    from flink_kafka_spark.operators.versioning import (
        apply_changes,
        changes_from_diff,
    )

    old = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three"), (4, "four")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "one"), (2, "two v2"), (4, "four"), (5, "five")], "doc_id long, text string"
    )
    changes = {r.doc_id: r for r in changes_from_diff(old, new).collect()}
    assert set(changes) == {2, 3, 5}
    assert changes[2].op == "upsert" and changes[2].text == "two v2"
    assert changes[5].op == "upsert" and changes[5].text == "five"
    assert changes[3].op == "delete" and changes[3].text is None

    applied = sorted(tuple(r) for r in apply_changes(old, changes_from_diff(old, new)).collect())
    assert applied == sorted(tuple(r) for r in new.collect())


@pytest.mark.slow  # slow tier: scd2_history's full DuckDB oracle runs in the default sweep
def test_scd2_history_constructed_runs(spark, tmp_path):
    """Constructed per-user sequences: runs open/close exactly at value
    changes, intervals tile the user's timeline ([from, to) chaining
    with the open current run's null end), and n_events counts each
    run's membership."""
    import datetime

    from flink_kafka_spark.queries.analytics import scd2_history

    base = datetime.datetime(2024, 1, 1)
    seq = ["a", "a", "b", "b", "b", "a", "c"]
    rows = [
        (i, base + datetime.timedelta(seconds=10 * i), 1, v, 0.0, "")
        for i, v in enumerate(seq)
    ]
    rows += [(100, base, 2, "solo", 0.0, "")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    out = sorted(
        (r.user_id, r.valid_from_s, r.valid_to_s, r.event_type, r.n_events)
        for r in scd2_history(spark, str(tmp_path)).collect()
    )
    e = int(base.timestamp())
    assert out == [
        (1, e, e + 20, "a", 2),
        (1, e + 20, e + 50, "b", 3),
        (1, e + 50, e + 60, "a", 1),
        (1, e + 60, None, "c", 1),
        (2, e, None, "solo", 1),
    ]


@pytest.mark.slow  # slow tier: purchase_attribution's full DuckDB oracle runs in the default sweep
def test_purchase_attribution_last_touch(spark, tmp_path):
    """Constructed timeline: a purchase credits the most recent
    STRICTLY-preceding click (same-instant click at the purchase row's
    position doesn't self-credit — the frame ends 1 PRECEDING), an
    earlier purchase with no prior click stays unattributed, and other
    users' clicks never leak."""
    import datetime

    from flink_kafka_spark.queries.analytics import purchase_attribution

    base = datetime.datetime(2024, 1, 1)

    def ev(eid, sec, uid, etype):
        return (eid, base + datetime.timedelta(seconds=sec), uid, etype, 0.0, "")

    rows = [
        ev(1, 0, 1, "purchase"),   # no prior click -> NULL
        ev(2, 10, 1, "click"),
        ev(3, 20, 1, "view"),
        ev(4, 30, 1, "purchase"),  # -> click 2, gap 20
        ev(5, 40, 1, "click"),
        ev(6, 50, 1, "purchase"),  # -> click 5, gap 10
        ev(7, 5, 2, "click"),      # other user: must not leak
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    out = {r.purchase_event_id: r for r in purchase_attribution(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 4, 6}
    assert out[1].attributed_click_id is None and out[1].gap_s is None
    assert (out[4].attributed_click_id, out[4].gap_s) == (2, 20)
    assert (out[6].attributed_click_id, out[6].gap_s) == (5, 10)


def test_basket_lift_matches_naive(spark, tmp_path):
    """Constructed baskets vs a pure-Python pair/lift sweep: pair
    counts, the support cutoff, and the lift formula (with repeated
    part lines in one order counted once)."""
    import itertools
    import math

    from flink_kafka_spark.queries.analytics import basket_lift

    baskets = {
        1: [10, 20, 30],
        2: [10, 20],
        3: [10, 20, 20],  # duplicate line: counts once
        4: [10, 30],
        5: [20, 30],
        6: [40],
    }
    rows = []
    for ok, parts in baskets.items():
        for i, p in enumerate(parts):
            rows.append((ok, p, i))
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long, l_linenumber int")
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    got = {(r.part_a, r.part_b): r for r in basket_lift(spark, str(tmp_path)).collect()}

    sets = {k: set(v) for k, v in baskets.items()}
    n_orders = len(sets)
    item = {}
    for s_ in sets.values():
        for p in s_:
            item[p] = item.get(p, 0) + 1
    want = {}
    for a, b in itertools.combinations(sorted(item), 2):
        n_both = sum(1 for s_ in sets.values() if a in s_ and b in s_)
        if n_both >= 3:
            lift = math.floor(n_both * n_orders / (item[a] * item[b]) * 10000 + 0.5) / 10000
            want[(a, b)] = (n_both, lift)
    assert {k: (v.n_both, v.lift) for k, v in got.items()} == want and want


# --- integer fixed-point PageRank ---


def _py_pagerank(edges, nodes, iterations=12, damping=85, unit=10**9):
    """Pure-Python replay of the integer iteration (the spec both the
    Spark operator and the DuckDB oracle must match exactly)."""
    n = len(nodes)
    base = unit // n
    teleport = (100 - damping) * base // 100
    wsum = {}
    for s, _, w in edges:
        wsum[s] = wsum.get(s, 0) + w
    r = {v: base for v in nodes}
    for _ in range(iterations):
        s = {v: 0 for v in nodes}
        for u, v, w in edges:
            s[v] += r[u] * w // wsum[u]
        r = {v: teleport + damping * s[v] // 100 for v in nodes}
    return r


@pytest.mark.slow  # slow tier: source_pagerank's full DuckDB oracle runs in the default sweep
def test_pagerank_matches_python_reference_exactly(spark):
    """Weighted graph with asymmetric weights, a dangling node (no
    out-edges) and a hub: the Spark ranks must equal the pure-Python
    integer replay EXACTLY (no tolerance — that is the determinism
    contract that makes the DuckDB oracle possible)."""
    from flink_kafka_spark.operators.graph import pagerank

    nodes = ["hub", "a", "b", "c", "dangling"]
    # hub <-> a/b/c with varied weights; everyone also feeds dangling
    edges = []
    for v, w in (("a", 5), ("b", 3), ("c", 1)):
        edges += [("hub", v, w), (v, "hub", w)]
    edges += [(v, "dangling", 2) for v in ("a", "b", "c")]
    ndf = spark.createDataFrame([(v,) for v in nodes], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {r["node"]: r["rank_e9"] for r in pagerank(edf, ndf, "id").collect()}
    want = _py_pagerank(edges, nodes)
    assert got == want
    # structural sanity: the hub out-ranks the leaves; the dangling
    # node holds rank it received (its mass leaks, documented)
    assert got["hub"] > max(got["a"], got["b"], got["c"])


@pytest.mark.slow  # slow tier: source_pagerank's full DuckDB oracle runs in the default sweep
def test_pagerank_star_center_dominates_and_mass_is_bounded(spark):
    from flink_kafka_spark.operators.graph import pagerank

    n_leaves = 20
    nodes = ["center"] + [f"leaf{i}" for i in range(n_leaves)]
    edges = [(f"leaf{i}", "center", 1) for i in range(n_leaves)]
    edges += [("center", f"leaf{i}", 1) for i in range(n_leaves)]
    ndf = spark.createDataFrame([(v,) for v in nodes], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {r["node"]: r["rank_e9"] for r in pagerank(edf, ndf, "id").collect()}
    assert got == _py_pagerank(edges, nodes)
    leaf_ranks = [got[f"leaf{i}"] for i in range(n_leaves)]
    assert got["center"] > 5 * max(leaf_ranks)  # hub concentration
    assert len(set(leaf_ranks)) == 1  # symmetry -> identical leaf ranks
    assert sum(got.values()) <= 10**9  # floor-division only loses mass


@pytest.mark.slow  # slow tier: the loop-body plan pin (broadcasts=0) covers the discipline in test_plans
def test_pagerank_plans_shuffle_rank_joins_without_broadcast(spark, monkeypatch):
    """The billion-node scale contract, executable: with the broadcast
    threshold disabled (simulating a rank frame too big to broadcast),
    pagerank must plan the per-round rank join as a shuffle join — NO
    planner-forced broadcast build of the rank frame — and stay
    bit-identical to the pure-Python integer replay. Round plans are
    captured at the operator's own checkpoint boundary (the returned
    frame is a checkpoint scan, so its plan no longer shows the
    join)."""
    # patch the CONCRETE class: pyspark.sql.DataFrame is the dispatch
    # base in PySpark 4 and instance lookup resolves on the subclass
    from pyspark.sql.classic.dataframe import DataFrame

    from flink_kafka_spark.operators.graph import pagerank

    captured: list[str] = []
    orig = DataFrame.localCheckpoint

    def capturing(self, eager=True):
        captured.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", capturing)

    nodes = ["hub", "a", "b", "c", "dangling"]
    edges = []
    for v, w in (("a", 5), ("b", 3), ("c", 1)):
        edges += [("hub", v, w), (v, "hub", w)]
    edges += [(v, "dangling", 2) for v in ("a", "b", "c")]
    ndf = spark.createDataFrame([(v,) for v in nodes], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string, w long")
    want = _py_pagerank(edges, nodes)

    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = {r["node"]: r["rank_e9"] for r in pagerank(edf, ndf, "id").collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)

    assert got == want
    assert captured
    # every round joins ranks by shuffle
    for p in captured:
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_hll_rollup_union_is_lossless_and_accurate(spark):
    """Two-level HLL rollup: (a) unioning per-sub sketches gives the
    SAME estimate as sketching the set directly (same-lgK HLL union
    merges registers exactly) — the property that makes stored
    per-(set, day) sketches answer set-level questions; (b) the
    estimate lands within the sketch's error band of the exact
    distinct; (c) a small set is near-exact."""
    from pyspark.sql import functions as F

    from flink_kafka_spark.operators.sketches import hll_rollup

    rows = [("big", i % 7, f"u{i % 5000}") for i in range(20000)]
    rows += [("small", 0, f"s{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "s string, sub int, v string")

    got = {r["s"]: r for r in hll_rollup(df, "s", "sub", "v", lgk=12).collect()}
    direct = {
        r["s"]: r["est"]
        for r in df.groupBy("s")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("v", F.lit(12))).alias("est"))
        .collect()
    }
    for s in ("big", "small"):
        assert got[s]["est_distinct"] == direct[s]  # lossless union
    assert got["big"]["n_subs"] == 7 and got["small"]["n_subs"] == 1
    assert abs(got["big"]["est_distinct"] - 5000) / 5000 < 0.05  # ~2% typical at lgK 12
    assert abs(got["small"]["est_distinct"] - 40) <= 1


def test_l_diversity_planted_classes(spark):
    """Planted quasi classes: a big-but-homogeneous class (k-anonymous,
    NOT l-diverse), a small diverse class, and an all-NULL-sensitive
    class (counts as ONE distinct value — not diverse)."""
    from flink_kafka_spark.operators.sampling import l_diversity

    rows = (
        # class A: 5 members, all sensitive=1 -> l_count 1, suppressed
        [(i, "A", 1) for i in range(5)]
        # class B: 3 members, sensitive 1/2/3 -> l_count 3, kept
        + [(10 + i, "B", i + 1) for i in range(3)]
        # class C: 4 members, all NULL sensitive -> l_count 1, suppressed
        + [(20 + i, "C", None) for i in range(4)]
        # class D: NULL + two distinct -> l_count 3, kept
        + [(30, "D", None), (31, "D", 7), (32, "D", 8)]
    )
    df = spark.createDataFrame(rows, "id int, q string, s int")
    out = {r["id"]: r for r in l_diversity(df, "id", ["q"], "s", l=3).collect()}
    for i in range(5):
        assert (out[i]["class_size"], out[i]["l_count"], out[i]["keep"]) == (5, 1, 0)
    for i in (10, 11, 12):
        assert (out[i]["class_size"], out[i]["l_count"], out[i]["keep"]) == (3, 3, 1)
    for i in (20, 21, 22, 23):
        assert (out[i]["l_count"], out[i]["keep"]) == (1, 0)
    for i in (30, 31, 32):
        assert (out[i]["l_count"], out[i]["keep"]) == (3, 1)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="l must be"):
        l_diversity(df, "id", ["q"], "s", l=0)
    with _pytest.raises(ValueError, match="quasi_cols"):
        l_diversity(df, "id", [], "s")


def test_t_closeness_hand_computed_distances(spark):
    """Planted two-class corpus with hand-derived ground truth for both
    distances (the ICDE 2007 definitions, exact-fraction arithmetic):

    class A = [1,1,2], class B = [2,3,3,3]; global = {1:2, 2:2, 3:3},
    N=7, m=3. A: diffs (cnt*N - gv*n_c) = (8, 1, -9) -> TVD 18/42,
    cums (8, 9, 0) -> EMD 17/42. B: diffs (-8, -1, 9) -> TVD 18/56,
    cums (-8, -9, 0) -> EMD 17/56. Both fail t=0.2; a corpus that IS
    one single class sits at distance exactly 0.0 and passes. The
    zero-count grid cells matter: class A never observes value 3, yet
    value 3 carries 9/21 of its TVD."""
    from flink_kafka_spark.operators.sampling import t_closeness

    rows = [(i, "A", v) for i, v in enumerate([1, 1, 2])] + [
        (10 + i, "B", v) for i, v in enumerate([2, 3, 3, 3])
    ]
    df = spark.createDataFrame(rows, "id int, q string, s int")
    out = {r["q"]: r for r in t_closeness(df, ["q"], "s", t=0.2).collect()}
    a, b = out["A"], out["B"]
    assert (a["class_size"], b["class_size"]) == (3, 4)
    assert a["t_tvd"] == round(18 / 42, 6) and a["t_emd"] == round(17 / 42, 6)
    assert b["t_tvd"] == round(18 / 56, 6) and b["t_emd"] == round(17 / 56, 6)
    assert a["keep"] == 0 and b["keep"] == 0

    # a class that IS the corpus: p == q termwise, both distances 0
    (only,) = t_closeness(
        df.withColumn("q", F.lit("all")), ["q"], "s", t=0.2
    ).collect()
    assert only["t_tvd"] == 0.0 and only["t_emd"] == 0.0 and only["keep"] == 1

    # m == 1 (single global value): greatest(m-1,1) guards the EMD
    # denominator; distances are 0 for every class
    one_val = spark.createDataFrame(
        [(1, "A", 5), (2, "A", 5), (3, "B", 5)], "id int, q string, s int"
    )
    for r in t_closeness(one_val, ["q"], "s").collect():
        assert r["t_tvd"] == 0.0 and r["t_emd"] == 0.0 and r["keep"] == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="quasi_cols"):
        t_closeness(df, [], "s")
    with _pytest.raises(ValueError, match="t must be"):
        t_closeness(df, ["q"], "s", t=-0.1)


def test_t_closeness_weighted_equals_row_level(spark):
    """weight_col contract: pre-aggregated (quasi, value, count) cells
    produce row-identical output to the raw row-level call — the
    100 TB shape where the corpus has already been reduced once — and
    zero- or NULL-weight cells behave as ABSENT (present-with-zero and
    absent are the same distribution, so a zero cell must not inflate
    the distinct-value count m in the EMD denominator)."""
    from flink_kafka_spark.operators.sampling import t_closeness

    rows = [(i, "A", v) for i, v in enumerate([1, 1, 2])] + [
        (10 + i, "B", v) for i, v in enumerate([2, 3, 3, 3])
    ]
    df = spark.createDataFrame(rows, "id int, q string, s int")
    cells = df.groupBy("q", "s").agg(F.count(F.lit(1)).alias("w"))
    raw = sorted(map(tuple, t_closeness(df, ["q"], "s", t=0.2).collect()))
    wtd = sorted(
        map(tuple, t_closeness(cells, ["q"], "s", t=0.2, weight_col="w").collect())
    )
    assert raw == wtd

    # planting a zero-weight phantom value and a NULL-weight cell must
    # change NOTHING — the pre-fix behavior let ('A', 99, 0) grow m
    # from 3 to 4 and silently deflate every class's t_emd
    noisy = cells.unionByName(
        spark.createDataFrame(
            [("A", 99, 0), ("B", 98, None)], "q string, s int, w long"
        )
    )
    wtd_noisy = sorted(
        map(tuple, t_closeness(noisy, ["q"], "s", t=0.2, weight_col="w").collect())
    )
    assert wtd_noisy == raw


def test_t_closeness_null_quasi_class(spark):
    """A NULL quasi value is a real class: the internal grid join is
    null-safe, so the NULL class's observed counts survive and its
    distances are computed, not zeroed. Planted: NULL class ==
    distribution of class A exactly, so their distances must match,
    and the global now counts both."""
    from flink_kafka_spark.operators.sampling import t_closeness

    rows = [(i, "A", v) for i, v in enumerate([1, 1, 2])] + [
        (10 + i, None, v) for i, v in enumerate([1, 1, 2])
    ]
    df = spark.createDataFrame(rows, "id int, q string, s int")
    out = {r["q"]: r for r in t_closeness(df, ["q"], "s", t=0.2).collect()}
    assert set(out) == {"A", None}
    a, n = out["A"], out[None]
    assert a["class_size"] == n["class_size"] == 3
    # identical distributions -> identical distances; both halves ARE
    # the global, so every distance is exactly 0 and both classes keep
    assert a["t_tvd"] == n["t_tvd"] == 0.0
    assert a["t_emd"] == n["t_emd"] == 0.0
    assert a["keep"] == n["keep"] == 1


@pytest.mark.slow  # slow tier: release_gate_snapshot's full DuckDB oracle runs in the default sweep
def test_release_gate_funnel_planted(spark, monkeypatch, tmp_path):
    """Planted funnel: duplicates collapse BEFORE class sizing (a
    class that is k-anonymous only thanks to copies must be
    suppressed), a big-but-homogeneous class passes k but fails l, a
    NULL-lang class survives the null-safe gate join into the totals,
    and the t-closeness gate is pinned in BOTH directions with
    hand-derived EMD: the surviving class en/s1 (12 uniform bands)
    sits at t_emd = 1188/3960 = 0.30 exactly against the band-0-heavy
    global, so it FAILS the default t=0.2 and PASSES t=0.35.
    Ground truth is exact."""
    from flink_kafka_spark.queries import analytics as A

    rows = []
    # class (en, s1): 12 distinct docs, bands spread -> passes k and l
    for i in range(12):
        rows.append((i, f"uniq text {i} " + "x" * (i * A._RG_BAND), "en", "s1"))
    # class (de, s2): 12 raw rows but only 4 distinct texts -> fails k
    for i in range(12):
        rows.append((100 + i, f"dup text {i % 4}", "de", "s2"))
    # class (fr, s3): 11 distinct docs, ALL in one band -> passes k, fails l
    for i in range(11):
        rows.append((200 + i, f"flat text {i}", "fr", "s3"))
    # class (NULL, s4): 3 distinct docs with a NULL lang — a real
    # class; the null-safe gate join must keep it in raw/dedup totals
    # (plain equality silently dropped it from EVERY stage)
    for i in range(3):
        rows.append((300 + i, f"nl text {i}", None, "s4"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    df = df.withColumn("n_chars", F.length("text"))
    pq = str(tmp_path / "documents.parquet")
    df.write.parquet(pq)

    # point the loader at the planted table
    import flink_kafka_spark.tables as T

    real_load = T.load

    def fake_load(spark_, sf_dir_, name):
        if name == "documents":
            return spark_.read.parquet(pq)
        return real_load(spark_, sf_dir_, name)

    monkeypatch.setattr(A, "load", fake_load)
    out = {r["stage"]: r["n_docs"] for r in A.release_gate_snapshot(spark, "ignored").collect()}
    assert out["raw"] == 38              # includes the 3 NULL-lang docs
    assert out["dedup_exact"] == 12 + 4 + 11 + 3
    assert out["k_anonymous"] == 12 + 11  # de/s2 -> 4 < k; NULL/s4 -> 3 < k
    assert out["l_diverse"] == 12        # fr/s3 is single-band
    # en/s1's band distribution (uniform over 12 bands) vs the global
    # (band 0 holds 19 of 30 canonical docs): diffs cnt·N − gv·n_c are
    # (−198, 18×11), |cum| sum = 18·(11+10+…+1) = 1188, denominator
    # (m−1)·n_c·N = 11·12·30 = 3960 → t_emd = 0.30 exactly > 0.2
    assert out["t_close"] == 0

    # loosening the ceiling past 1188/3960 admits en/s1
    monkeypatch.setattr(A, "_RG_T", 0.35)
    out3 = {r["stage"]: r["n_docs"] for r in A.release_gate_snapshot(spark, "ignored").collect()}
    assert out3["t_close"] == 12
    assert out3["l_diverse"] == 12  # upstream stages unchanged


@pytest.mark.slow  # slow tier: release_gate_snapshot's full DuckDB oracle runs in the default sweep
def test_release_gate_leak_stage_planted_and_excised(spark, monkeypatch, tmp_path):
    """The leak gate, end to end: a 20-token benchmark doc (id 97 —
    the every-97th eval split) is verbatim-embedded in 2 of the 14
    docs of an otherwise-releasable class. The funnel's new
    'decontaminated' stage must drop exactly those 2 (20 >= w+k-1=11,
    so the SIGMOD'03 guarantee applies); the eval doc's own class
    already died at k. Then the SAME planted leak is excised by
    winnow_decontaminate_trim: no run token survives in the
    contaminated docs' clean_text, and every clean doc passes through
    token-identical. Ground truth is exact."""
    from flink_kafka_spark.operators.text import winnow_decontaminate_trim
    from flink_kafka_spark.queries import analytics as A

    run = " ".join(f"e{j}" for j in range(20))  # the benchmark text
    rows = [(97, run, "ev", "se")]              # id % 97 == 0 -> eval
    for i in range(1, 15):
        ctx = [f"c{i}t{j}" for j in range(6)]
        pad = "z" * ((i % 4) * 100 + 20)        # >= 3 distinct bands
        if i <= 2:  # contaminated: the full run verbatim, mid-doc
            text = " ".join(ctx[:3]) + " " + run + " " + " ".join(ctx[3:])
        else:
            text = " ".join(ctx) + " " + pad
        rows.append((i, text, "en", "s1"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    df = df.withColumn("n_chars", F.length("text"))
    pq = str(tmp_path / "documents.parquet")
    df.write.parquet(pq)

    import flink_kafka_spark.tables as T

    real_load = T.load

    def fake_load(spark_, sf_dir_, name):
        if name == "documents":
            return spark_.read.parquet(pq)
        return real_load(spark_, sf_dir_, name)

    monkeypatch.setattr(A, "load", fake_load)
    monkeypatch.setattr(A, "_RG_T", 1.0)  # t-gate pinned by the test above
    out = {r["stage"]: r["n_docs"] for r in A.release_gate_snapshot(spark, "ignored").collect()}
    assert out["raw"] == out["dedup_exact"] == 15
    assert out["k_anonymous"] == 14      # ev/se is a 1-doc class
    assert out["l_diverse"] == 14
    assert out["t_close"] == 14
    assert out["decontaminated"] == 12   # exactly the 2 planted leaks

    # the same leak, EXCISED: trim the train side against the eval doc
    d = spark.read.parquet(pq)
    trimmed = {
        r["doc_id"]: r
        for r in winnow_decontaminate_trim(
            d.filter(F.col("doc_id") != 97), d.filter(F.col("doc_id") == 97)
        ).collect()
    }
    run_toks = set(run.split())
    originals = {r[0]: r[1] for r in rows}
    for i in range(1, 15):
        kept = trimmed[i]["clean_text"].split()
        if i <= 2:
            assert not run_toks & set(kept), f"doc {i}: run token survived"
            assert trimmed[i]["n_removed"] >= 20
        else:
            assert kept == originals[i].split(), f"doc {i}: clean doc altered"
            assert trimmed[i]["n_removed"] == 0


def test_release_gate_null_band_does_not_count_toward_l(spark, monkeypatch, tmp_path):
    """l_class counts NON-NULL bands only (the count_distinct
    semantics the pre-cell-frame funnel had): a class with two real
    bands plus NULL-n_chars docs is l=2, not l=3 — it must pass k and
    FAIL the _RG_L=3 gate. The cell-frame rewrite counted the NULL
    band cell as one more distinct band and released it."""
    from flink_kafka_spark.queries import analytics as A

    rows = []
    for i in range(5):
        rows.append((i, f"a text {i}", 10))                    # band 0
    for i in range(5):
        rows.append((10 + i, f"b text {i}", 100 + i))          # band 1
    rows.append((20, "null chars doc", None))                  # NULL band
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    df = df.select("doc_id", "text", F.lit("en").alias("lang"),
                   F.lit("s1").alias("source"), "n_chars")
    pq = str(tmp_path / "documents.parquet")
    df.write.parquet(pq)

    import flink_kafka_spark.tables as T

    real_load = T.load

    def fake_load(spark_, sf_dir_, name):
        if name == "documents":
            return spark_.read.parquet(pq)
        return real_load(spark_, sf_dir_, name)

    monkeypatch.setattr(A, "load", fake_load)
    out = {r["stage"]: r["n_docs"] for r in A.release_gate_snapshot(spark, "ignored").collect()}
    assert out["raw"] == out["dedup_exact"] == 11
    assert out["k_anonymous"] == 11   # one class of 11 >= k
    assert out["l_diverse"] == 0      # 2 real bands + NULL != 3
    assert out["t_close"] == 0


def test_seasonal_anomalies_planted_spike(spark, monkeypatch, tmp_path):
    """Planted seasonality: Mondays 9:00 always carry 100 events and
    other hours 10 — a flat-baseline z-score would flag every Monday
    9:00; the seasonal leave-one-out must flag NONE of them, and must
    flag the one week whose Monday 9:00 spikes to 400."""
    import datetime

    from flink_kafka_spark.queries import analytics as A

    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)  # a Monday
    rows = []
    eid = 0
    for week in range(5):
        for d in range(7):
            for h in (9, 15):
                day = base + datetime.timedelta(weeks=week, days=d, hours=h)
                is_monday_nine = d == 0 and h == 9
                n = 100 if is_monday_nine else 10
                if week == 3 and is_monday_nine:
                    n = 400  # the planted spike
                for _ in range(n):
                    rows.append((eid, day, "pv"))
                    eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    pq = str(tmp_path / "events.parquet")
    df.write.parquet(pq)

    import flink_kafka_spark.tables as T

    real_load = T.load

    def fake_load(spark_, sf_dir_, name):
        if name == "events":
            return spark_.read.parquet(pq)
        return real_load(spark_, sf_dir_, name)

    monkeypatch.setattr(A, "load", fake_load)
    out = A.seasonal_anomalies(spark, "ignored").collect()
    flagged = [(r["day"], r["hour"]) for r in out if r["is_anomaly"] == 1]
    spike_day = int((base + datetime.timedelta(weeks=3)).timestamp()) // 86400
    assert flagged == [(spike_day, 9)], flagged
    # every NON-spike Monday 9:00 passes despite being 10x the global mean
    # (epoch_day + 4) % 7 indexes 0=Sunday (1970-01-01 was a Thursday
    # = 4), so Monday is 1
    mondays = [r for r in out if r["hour"] == 9 and (r["day"] + 4) % 7 == 1]
    assert len(mondays) == 5
    assert sum(r["is_anomaly"] for r in mondays) == 1
    # baseline_n is the other-week count
    assert all(r["baseline_n"] == 4 for r in mondays)


tcl_strategy = st.lists(
    st.tuples(
        st.sampled_from(["A", "B", "C"]),  # quasi class
        st.integers(0, 5),                 # sensitive value (collisions likely)
    ),
    min_size=1,
    max_size=30,
)


@given(rows=tcl_strategy)
@settings(**SETTINGS)
@pytest.mark.slow  # slow tier: t_closeness_audit's full oracle + the hand-computed test stay default
def test_t_closeness_fuzz_vs_exact_fraction_reference(spark, rows):
    """Fuzz sweep vs an exact-Fraction Python reference (ICDE 2007
    definitions): for random small corpora, every class's emitted TVD
    and ordered EMD must sit within half an ulp of the 6-dp rounding
    of the exact rational — pinning the integer scaling, the zero-cell
    grid, the cumulative order, and the single terminal division — and
    ``keep`` must be exactly the emitted-value comparison."""
    from collections import Counter
    from fractions import Fraction

    from flink_kafka_spark.operators.sampling import t_closeness

    cells = Counter(rows)
    vals = sorted({v for _, v in rows})
    glob = {v: sum(n for (_, v2), n in cells.items() if v2 == v) for v in vals}
    big_n, m = sum(glob.values()), len(vals)
    expect = {}
    for q in {q for q, _ in rows}:
        nc = sum(n for (q2, _), n in cells.items() if q2 == q)
        diffs = [cells.get((q, v), 0) * big_n - glob[v] * nc for v in vals]
        cum, emd_num = 0, 0
        for d in diffs:
            cum += d
            emd_num += abs(cum)
        expect[q] = (
            nc,
            Fraction(sum(abs(d) for d in diffs), 2 * nc * big_n),
            Fraction(emd_num, max(m - 1, 1) * nc * big_n),
        )

    df = spark.createDataFrame(
        [(i, q, v) for i, (q, v) in enumerate(rows)], "id int, q string, s int"
    )
    out = {r["q"]: r for r in t_closeness(df, ["q"], "s", t=0.2).collect()}
    assert set(out) == set(expect)
    for q, (nc, tvd, emd) in expect.items():
        r = out[q]
        assert r["class_size"] == nc
        assert abs(r["t_tvd"] - float(tvd)) <= 5.001e-7, (q, r["t_tvd"], tvd)
        assert abs(r["t_emd"] - float(emd)) <= 5.001e-7, (q, r["t_emd"], emd)
        assert r["keep"] == int(r["t_emd"] <= 0.2)


def test_pagerank_rejects_undeclared_dst_nodes(spark):
    """An edge whose dst is absent from the node frame must fail at
    build time: the old left-join formulation silently dropped such
    contributions and the zeros-union one would emit phantom rank
    rows against the wrong N — neither is what the caller meant."""
    import pytest as _pytest

    from flink_kafka_spark.operators.graph import pagerank

    ndf = spark.createDataFrame([("a",), ("b",)], "id string")
    edf = spark.createDataFrame(
        [("a", "b", 1), ("b", "ghost", 2)], "src string, dst string, w long"
    )
    with _pytest.raises(ValueError, match="dst nodes absent"):
        pagerank(edf, ndf, "id")

    # unknown src endpoints stay allowed (dropped by the rank join,
    # identically in both formulations)
    ok = spark.createDataFrame(
        [("a", "b", 1), ("ghost", "a", 2)], "src string, dst string, w long"
    )
    ranks = pagerank(ok, ndf, "id").collect()
    assert {r["node"] for r in ranks} == {"a", "b"}


def test_pagerank_empty_input_gives_an_empty_ranking(spark):
    """No nodes and no edges rank nothing: an empty (node, rank_e9)
    frame, as connected_components gives 0 rows. Edges over an empty
    node frame still fail the undeclared-dst precondition."""
    import pytest as _pytest

    from flink_kafka_spark.operators.graph import pagerank

    ndf = spark.createDataFrame([], "id string")
    edf = spark.createDataFrame([], "src string, dst string, w long")
    ranks = pagerank(edf, ndf, "id")
    assert ranks.columns == ["node", "rank_e9"]
    assert ranks.collect() == []

    edf = spark.createDataFrame([("a", "b", 1)], "src string, dst string, w long")
    with _pytest.raises(ValueError, match="dst nodes absent"):
        pagerank(edf, ndf, "id")


def test_gapfill_interp_shares_ffill_grid_row_identically(spark, sf_dir):
    """resample_ffill and resample_interp are the same operator up to
    the fill rule — one grid densification, one (key, bucket) aggregate
    — so events_gapfill and events_gapfill_interp must agree
    ROW-IDENTICALLY on their shared columns ``(event_type, bucket_s,
    cnt)`` over the real events table. The ffill-specific columns
    (filled_avg, gap_buckets) stay under events_gapfill's own DuckDB
    oracle."""
    from flink_kafka_spark.queries.analytics import (
        events_gapfill,
        events_gapfill_interp,
    )

    base = {
        (r.event_type, r.bucket_s): r.cnt
        for r in events_gapfill(spark, sf_dir).select(
            "event_type", "bucket_s", "cnt"
        ).collect()
    }
    interp = {
        (r.event_type, r.bucket_s): r.cnt
        for r in events_gapfill_interp(spark, sf_dir).select(
            "event_type", "bucket_s", "cnt"
        ).collect()
    }
    assert base == interp, "ffill and interp grids diverge"
    assert base, "empty grid — fixture regression"


def test_unpivot_is_pivot_closure_row_identically(spark, sf_dir):
    """orders_status_unpivot is DEFINED as the closure pivot -> melt ==
    plain (month, status) GROUP BY; pin that closure as row identity on
    the real orders table. (The query's own DuckDB oracle — the plain
    GROUP BY — is compared separately.)"""
    from pyspark.sql import functions as F

    from flink_kafka_spark.queries.analytics import orders_status_unpivot
    from flink_kafka_spark.tables import load

    got = {
        (r.month, r.o_orderstatus): r.n_orders
        for r in orders_status_unpivot(spark, sf_dir).collect()
    }
    plain = {
        (r.month, r.o_orderstatus): r.n_orders
        for r in load(spark, sf_dir, "orders")
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "o_orderstatus",
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .collect()
    }
    assert got == plain, "pivot->melt closure broken"
    assert got, "empty pivot — fixture regression"


def test_uv_bloom_row_identical_to_unique_visitors(spark, sf_dir):
    """The Bloom-membership UV variant uv_bloom (the reference's
    UvWithBloomFilter.java semantics — bit-test + count++) shares its
    exact COUNT(DISTINCT) oracle with unique_visitors because at this
    corpus scale the 2^22-bit filter's fpp < 1e-9: false positives
    undercount with probability ~0 per window. Pin the two queries
    ROW-IDENTICAL on real data (the Bloom path also keeps its own
    oracle row)."""
    from flink_kafka_spark.queries.streamlike import unique_visitors, uv_bloom

    bloom = {tuple(r) for r in uv_bloom(spark, sf_dir).collect()}
    exact = {tuple(r) for r in unique_visitors(spark, sf_dir).collect()}
    assert bloom == exact, "Bloom UV diverged from exact distinct"
    assert bloom, "empty UV frame — fixture regression"


def test_source_interleave_stride_ratios_and_determinism(spark):
    """Stride-schedule invariants on planted data (weights a=3, b=2,
    c=d=1, 30 docs each): (1) exactly-once — the output is a
    permutation with contiguous 0-based positions; (2) the first
    virtual-time period (Σ min(w_s) slots = 7 positions) contains
    exactly 3 a's, 2 b's, 1 c and 1 d — the defining stride property
    (weighted round-robin, spread not clumped); (3) per-source order
    follows src_rn monotonically; (4) the schedule is identical on a
    different input partitioning (determinism contract)."""
    from flink_kafka_spark.operators.sampling import source_interleave

    rows = [(100 * si + j, s) for si, s in enumerate("abcd") for j in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = source_interleave(df, weights={"a": 3, "b": 2}, shard_size=10).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r[0] for r in rows)
    positions = sorted(r["position"] for r in out)
    assert positions == list(range(len(rows)))
    by_pos = sorted(out, key=lambda r: r["position"])
    assert [r["source"] for r in by_pos[:7]].count("a") == 3
    assert [r["source"] for r in by_pos[:7]].count("b") == 2
    assert [r["source"] for r in by_pos[:7]].count("c") == 1
    assert [r["source"] for r in by_pos[:7]].count("d") == 1
    for s in "abcd":
        seq = [r["src_rn"] for r in by_pos if r["source"] == s]
        assert seq == sorted(seq), f"source {s} out of stride order"
    out2 = source_interleave(
        df.repartition(7), weights={"a": 3, "b": 2}, shard_size=10
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


@given(
    sizes=st.lists(st.integers(min_value=0, max_value=12), min_size=2, max_size=5),
    weights=st.lists(st.integers(min_value=1, max_value=4), min_size=5, max_size=5),
)
@settings(**SETTINGS)
@pytest.mark.slow  # slow tier: source_interleave's full DuckDB oracle runs in the default sweep
def test_source_interleave_virtual_time_prefix_counts_exact(spark, sizes, weights):
    """Hypothesis pin of the stride guarantee: doc j of a weight-w
    source sits at vt = j*scale div w, so j <= m*w  <=>  vt <= m*scale
    (scale >= w makes the floored remainder positive for j = m*w + 1).
    Therefore the schedule prefix up to virtual time m*scale contains
    EXACTLY min(n_s, m*w_s) docs of every source, for every m — the
    proportional-progress property that distinguishes stride
    scheduling from an arbitrary deterministic interleave."""
    from flink_kafka_spark.operators.sampling import source_interleave

    scale = 1_000_000_000
    srcs = [f"s{i}" for i in range(len(sizes))]
    rows = [(1000 * i + j, s) for i, (s, n) in enumerate(zip(srcs, sizes)) for j in range(n)]
    if not rows:
        return
    wmap = {s: weights[i] for i, s in enumerate(srcs)}
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = source_interleave(df, weights=wmap, scale=scale).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r[0] for r in rows)
    # recompute each row's vt from its (source, src_rn) — the spec
    vt = {r["doc_id"]: r["src_rn"] * scale // wmap[r["source"]] for r in out}
    for m in (1, 2, 3, 7):
        prefix = [r for r in out if vt[r["doc_id"]] <= m * scale]
        for s, n in zip(srcs, sizes):
            got = sum(1 for r in prefix if r["source"] == s)
            assert got == min(n, m * wmap[s]), (s, m, got)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestBandedLevenshtein:
    """fuzzy_match_pairs' banded 3-arg kernel must be pair-for-pair and
    distance-for-distance identical to the unbounded kernel + <= filter
    it replaced (the -1 band is exactly the discarded set)."""

    @pytest.mark.parametrize("max_dist", [0, 1, 2, 3])
    def test_matches_unbounded_kernel(self, spark, max_dist):
        names = [
            (1, "alpha beta"), (2, "alpha bete"), (3, "alpha betXY"),
            (4, "alpha beta"), (5, "alphq betq"), (6, "gamma delta"),
            (7, "gamma delt"), (8, "gamma d"), (9, "alpha"),
        ]
        df = spark.createDataFrame(names, "k long, name string")
        got = _rows(fuzzy_match_pairs(df, "k", "name", max_dist=max_dist))
        # reference: same blocking, unbounded levenshtein, explicit filter
        blk = F.split(F.lower(F.col("name")), r"\s+").getItem(0)
        a = df.select(F.col("k").alias("a_key"), F.col("name").alias("a_name"), blk.alias("_b"))
        b = df.select(F.col("k").alias("b_key"), F.col("name").alias("b_name"), blk.alias("_b"))
        ref = (
            a.join(b, "_b")
            .filter(F.col("a_key") < F.col("b_key"))
            .filter(F.abs(F.length("a_name") - F.length("b_name")) <= max_dist)
            .withColumn("lev_dist", F.levenshtein("a_name", "b_name"))
            .filter(F.col("lev_dist") <= max_dist)
            .select("a_key", "b_key", "a_name", "b_name",
                    F.col("lev_dist").cast("int").alias("lev_dist"))
        )
        assert got == _rows(ref)


class TestUnspreadVerifyPass:
    """The LSH verification passes (candidate-bounded by the
    semi-filter) no longer take the layout spread — spread=False must
    be a pure plan change, row-identical to the spread path."""

    def test_shingle_sets_spread_flag_row_identity(self, spark, sf_dir):
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        assert _rows(shingle_sets(docs, "doc_id", spread=False)) == _rows(
            shingle_sets(docs, "doc_id", spread=True)
        )

    def test_unspread_plan_has_no_round_robin(self, spark, sf_dir):
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        plan = shingle_sets(docs, "doc_id", spread=False)._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" not in plan
        plan_spread = shingle_sets(docs, "doc_id", spread=True)._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" in plan_spread
